package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.vortex.{StatsManifest, VortexBulkCopy, VortexDataSource, VortexDelete,
  VortexFileReader, VortexFileWriter, VortexMaintenance, VortexMerge, VortexUpdate}
import graft.sources.vortex.StatsManifest.FileStats

/** A written file's manifest entry comes from its writer. On every
  * write path, each live file's entry must equal what the commit once
  * built by reading the file back: `StatsManifest.fromFooter` over the
  * listed length and the re-read footer, plus the sums, blooms and
  * sketches a fresh writer computes over the file's stored rows (for a
  * compacted file: the sums, OR-ed blooms and merged sketches it
  * inherits).
  * Footer I/O is pinned too: a write, a bulk copy and a MERGE insert
  * fetch no footer of a file they wrote, and compaction fetches only
  * its sources'. */
class WriterEntrySpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.hadoopConfiguration.set("fs.s3mock.impl", classOf[S3SemanticsFs].getName)
    s
  }

  private def conf = spark.sessionState.newHadoopConf()
  private def tmp(): String = Files.createTempDirectory("vortex_entry").toString

  /** an entry as comparable values: byte arrays as Seqs, the recorded
    * schema (a property of the manifest file) left out */
  private def norm(e: FileStats) = {
    def b(a: Option[Array[Byte]]) = a.map(_.toSeq)
    (e.relPath, e.len, e.rows,
      e.cols.map(c => (c.name, c.nulls, b(c.min), b(c.max), c.sum, b(c.bloom), b(c.sketch))),
      e.chunks.map(_.map(ch => (ch.rows, ch.bytes, ch.cols.map(c => (c.nulls, b(c.min), b(c.max)))))))
  }

  /** The entry for `rel` built the old way: the file's footer read back
    * and aggregated over its listed length, plus a fresh writer's sums,
    * blooms (of `blooms`) and sketches (of `sketches`) over every
    * stored row. */
  private def reference(root: Path, rel: String, blooms: Set[String],
                        sketches: Set[String]): FileStats = {
    val c = conf
    val p = new Path(root, rel)
    val footer = VortexFileReader.readFooter(p, c)
    val base = StatsManifest.fromFooter(rel, p.getFileSystem(c).getFileStatus(p).getLen, footer)
    val fields = footer.schema.fields
    val w = new VortexFileWriter(new Path(tmp(), "ref.vortex"), c, footer.schema,
      bloomCols = blooms, sketchCols = sketches)
    VortexFileReader.readChunks(p, c, footer, 0, footer.chunks.length, fields.indices.toArray)
      .foreach { case (n, vecs) =>
        (0 until n).foreach { i =>
          w.write(new GenericInternalRow(fields.indices.map(k =>
            VortexFileReader.value(vecs(k), i, fields(k).dataType)).toArray[Any]))
        }
      }
    w.close()
    base.copy(cols = base.cols.zipWithIndex.map { case (col, k) =>
      col.copy(sum = w.columnSums(k), bloom = w.columnBlooms(k), sketch = w.columnSketches(k))
    })
  }

  /** live files by dataset-relative path, with their listed lengths */
  private def live(dir: String): Seq[(String, Long)] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val rootQ = fs.makeQualified(root).toString
    VortexDataSource.listAll(Seq(dir), conf).map { case (st, _) =>
      fs.makeQualified(st.getPath).toString.stripPrefix(rootQ).stripPrefix("/") -> st.getLen
    }
  }

  /** Every live file's manifest entry has the listed length and equals
    * its reference; `adjust` turns a reference into what that file's
    * writer path records beyond the writer (compaction's inheritance).
    * Returns the number of files checked. */
  private def checkEntries(dir: String, blooms: Set[String] = Set.empty,
                           sketches: Set[String] = Set.empty)
                          (adjust: FileStats => FileStats = identity): Int = {
    val root = new Path(dir)
    val manifest = StatsManifest.read(root, conf)
    val files = live(dir)
    assert(files.nonEmpty, s"$dir: no live files")
    files.foreach { case (rel, len) =>
      val e = manifest.getOrElse(rel, fail(s"$dir: no manifest entry for $rel"))
      assert(e.len == len, s"$rel: entry length ${e.len}, listed $len")
      assert(norm(e) == norm(adjust(reference(root, rel, blooms, sketches))), s"$rel: entry differs")
    }
    files.length
  }

  /** footer fetches `body` makes from a cold footer cache */
  private def fetches(body: => Unit): Long = {
    VortexFileReader.clearFooterCache()
    val before = VortexFileReader.footerFetches.get()
    body
    VortexFileReader.footerFetches.get() - before
  }

  private def rows(n: Long): DataFrame =
    spark.range(0, n).selectExpr("id", "id % 7 AS g", "CAST(id AS STRING) AS s",
      "CAST(id AS DECIMAL(10,2)) AS d", "CAST(id AS DOUBLE) / 3 AS v")

  test("DSv2 plain write: writer-built entries, no footer fetched") {
    val dir = tmp()
    val n = fetches {
      rows(3000).repartition(3).write.format("vortex").option("chunkRows", "500")
        .mode("overwrite").save(dir)
    }
    assert(n == 0, s"the write fetched $n footers")
    assert(checkEntries(dir)() == 3)
  }

  test("DSv2 partitioned and bucketed write with blooms and sketches") {
    val dir = tmp()
    def write(lo: Long, mode: String): Long = fetches {
      spark.range(lo, lo + 2000).selectExpr("id AS k", "CONCAT('p', id % 3) AS p",
          "CONCAT('s', id) AS s", "CAST(id AS DOUBLE) / 7 AS v")
        .write.format("vortex").option("partitionBy", "p")
        .option("bucketBy", "k").option("buckets", "4")
        .option("bloomFilters", "k,s").option("distributionSketches", "v")
        .option("chunkRows", "300").mode(mode).save(dir)
    }
    assert(write(0, "overwrite") == 0)
    assert(write(2000, "append") == 0)
    // 3 partitions × 4 buckets × 2 writes, at least one file each
    assert(checkEntries(dir, Set("k", "s"), Set("v"))() >= 24)
  }

  test("bulk copy, columnar and empty input: writer-built entries, no footer fetched") {
    val src = tmp() + "/src.parquet"
    rows(5000).repartition(2).write.parquet(src)
    val df = spark.read.parquet(src)
    assert(VortexBulkCopy.isColumnar(df))
    val dir = tmp()
    assert(fetches(VortexBulkCopy.copy(df, dir, chunkRows = 1000, bloomCols = Set("id", "s"))) == 0)
    assert(checkEntries(dir, Set("id", "s"))() == 2)

    val empty = tmp() + "/empty.parquet"
    rows(10).filter(lit(false)).write.parquet(empty)
    val edf = spark.read.parquet(empty)
    assert(VortexBulkCopy.isColumnar(edf))
    val edir = tmp()
    assert(fetches(VortexBulkCopy.copy(edf, edir)) == 0)
    assert(checkEntries(edir)() == 1)
  }

  test("DELETE and UPDATE on the Splice and Row kernels keep writer-built entries") {
    val plain = tmp()
    rows(2000).coalesce(1).write.format("vortex").option("chunkRows", "400")
      .option("bloomFilters", "id,s").option("distributionSketches", "v")
      .mode("overwrite").save(plain)
    val d1 = VortexDelete.delete(spark, plain, col("id") % 10L === 0L)
    assert(d1.kernels == Map("Splice" -> 1))
    checkEntries(plain, Set("id", "s"), Set("v"))()
    val u1 = VortexUpdate.update(spark, plain, Map("g" -> lit(-1L)), col("id") < 500L)
    assert(u1.kernels == Map("Splice" -> 1))
    checkEntries(plain, Set("id", "s"), Set("v"))()

    val nested = tmp()
    spark.range(0, 2000).selectExpr("id", "id * 2 AS v", "named_struct('a', id) AS st")
      .coalesce(1).write.format("vortex").option("bloomFilters", "id")
      .mode("overwrite").save(nested)
    val d2 = VortexDelete.delete(spark, nested, col("id") % 10L === 0L)
    assert(d2.kernels == Map("Row" -> 1))
    checkEntries(nested, Set("id"))()
    VortexDelete.delete(spark, nested, col("id") === 3L, deletionVectors = true)
    val u2 = VortexUpdate.update(spark, nested, Map("v" -> lit(-1L)), col("id") < 500L)
    assert(u2.kernels == Map("Row" -> 1))
    checkEntries(nested, Set("id"))()
  }

  /** (k, p, v) rows `[lo, hi)`, with p = "p" + k % 2 */
  private def kpv(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi).selectExpr("id AS k", "CONCAT('p', id % 2) AS p", "id * 3 AS v")

  Seq("plain" -> Map.empty[String, String],
      "partitioned" -> Map("partitionBy" -> "p"),
      "bucketed" -> Map("bucketBy" -> "k", "buckets" -> "4")).foreach { case (layout, opts) =>
    test(s"MERGE inserts into a $layout dataset: writer-built entries, no footer fetched") {
      val dir = tmp()
      kpv(0, 1000).write.format("vortex").options(opts).option("bloomFilters", "v")
        .mode("overwrite").save(dir)
      // every source key lies above the dataset's: no target file is a
      // candidate, so the statement reads no footer at all
      var inserted = 0L
      val n = fetches {
        inserted = VortexMerge.merge(spark, dir, kpv(5000, 5040), Seq("k")).rowsInserted
      }
      assert(inserted == 40)
      assert(n == 0, s"a pure-insert MERGE fetched $n footers")
      checkEntries(dir, Set("v"))()
      // matches and inserts together: rewrites and inserts side by side
      val r = VortexMerge.merge(spark, dir,
        kpv(990, 1010).withColumn("v", col("v") + 1), Seq("k"))
      assert(r.rowsUpdated == 10 && r.rowsInserted == 10)
      checkEntries(dir, Set("v"))()
    }
  }

  test("compaction inherits sums and OR-ed blooms and fetches only its sources' footers") {
    val dir = tmp()
    // small files of ≤ 40 distinct keys: every bloom has one geometry
    (0 until 4).foreach { i =>
      spark.range(i * 80, (i + 1) * 80).selectExpr("xxhash64(id) % 1000000 AS k", "id AS v")
        .repartition(2).write.format("vortex").option("bloomFilters", "k")
        .option("distributionSketches", "v").mode("append").save(dir)
    }
    val pre = StatsManifest.read(new Path(dir), conf)
    val sources = live(dir).map(_._1)
    assert(sources.length == 8)
    val ored = {
      val bs = sources.map(s => pre(s).cols.find(_.name == "k").get.bloom.get)
      assert(bs.map(_.length).distinct.length == 1)
      bs.reduce((a, b) => a.zip(b).map { case (x, y) => (x | y).toByte })
    }
    var res: VortexMaintenance.CompactResult = null
    val n = fetches { res = VortexMaintenance.compact(spark, dir) }
    assert(res.filesAbsorbed == 8 && res.batches == 1)
    assert(n == 8, s"compaction fetched $n footers for 8 sources")
    val checked = checkEntries(dir, Set("k"), Set("v")) { ref =>
      ref.copy(cols = ref.cols.map(c =>
        c.copy(bloom = if (c.name == "k") Some(ored) else None)))
    }
    assert(checked == 1)
  }

  test("writer-built entries over an object-store scheme") {
    val dir = s"s3mock://bucket${tmp()}/t"
    spark.range(0, 3000).selectExpr("id AS k", "CONCAT('p', id % 3) AS p", "CONCAT('s', id) AS s")
      .write.format("vortex").option("partitionBy", "p").option("bloomFilters", "s")
      .option("chunkRows", "400").mode("overwrite").save(dir)
    assert(checkEntries(dir, Set("s"))() >= 3)
    VortexMerge.merge(spark, dir,
      spark.range(5000, 5010).selectExpr("id AS k", "CONCAT('p', id % 3) AS p",
        "CONCAT('s', id) AS s"), Seq("k"))
    checkEntries(dir, Set("s"))()
  }
}
