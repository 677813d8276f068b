package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.vortex.{RowLevelStatement, StatsManifest, VortexFileReader, VortexUpdate}

/** The splice kernel's patch-only rewrites (graft.sources.vortex.Splice):
  * an UPDATE that assigns a SUBSET of columns of a file that loses no
  * row re-encodes only those columns — every other column's encoded
  * pages pass through byte-for-byte — and the manifest keeps exact
  * stats on both sides of the split. */
class ColumnSpliceSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("vortex_splice").toString

  private def conf = spark.sessionState.newHadoopConf()

  private def dataFiles(dir: String): Seq[Path] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    fs.listStatus(root).toSeq.map(_.getPath)
      .filter(p => p.getName.endsWith(".vortex") && !p.getName.startsWith("."))
      .sortBy(_.getName)
  }

  test("splice: untouched columns' pages are byte-identical; assigned column re-encodes") {
    import spark.implicits._
    val dir = tmp()
    (0L until 20000L).map(i => (i, i * 3, s"name-$i", (i % 97).toDouble))
      .toDF("id", "v", "s", "score")
      .repartitionByRange(2, col("id")).sortWithinPartitions("id")
      .write.format("vortex").mode("overwrite").save(dir)
    val beforeFooters = dataFiles(dir).map(p =>
      p.getName -> VortexFileReader.readFooter(p, conf)).toMap

    val res = VortexUpdate.update(spark, dir,
      Map("score" -> lit(0.5)), col("id") % 10L === 3L)
    assert(res.rewrittenFiles == 2, res)

    // replacement files: compare per-chunk page metas against the
    // originals they replaced (deterministic names pair them)
    val afterFiles = dataFiles(dir)
    assert(afterFiles.forall(_.getName.startsWith("part-update-")))
    // columns id, v, s unchanged -> page lengths and encodings carry
    // over exactly; score re-encoded (values changed)
    val beforeByNew = beforeFooters.map { case (oldName, f) =>
      VortexUpdate.replacementName(oldName) -> f
    }
    afterFiles.foreach { p =>
      val nf = VortexFileReader.readFooter(p, conf)
      val of = beforeByNew(p.getName)
      assert(nf.chunks.length == of.chunks.length)
      nf.chunks.zip(of.chunks).foreach { case (nc, oc) =>
        assert(nc.rowCount == oc.rowCount)
        Seq(0, 1, 2).foreach { c => // id, v, s: pass-through
          assert(nc.columns(c).length == oc.columns(c).length &&
            nc.columns(c).encoding == oc.columns(c).encoding &&
            nc.columns(c).min.map(_.toSeq) == oc.columns(c).min.map(_.toSeq),
            s"column $c of ${p.getName} should pass through")
        }
      }
    }

    // values: the update applied exactly
    val df = spark.read.format("vortex").load(dir)
    assert(df.where(col("id") % 10L === 3L && col("score") =!= 0.5).count() == 0L)
    assert(df.where(col("id") % 10L =!= 3L && col("score") === 0.5).count() == 0L)
    assert(df.count() == 20000L)

    // manifest stats survive on BOTH sides of the split: exact sums
    // (restrict to LIVE files — the manifest log keeps superseded
    // entries; planning filters them the same way)
    val live = dataFiles(dir).map(_.getName).toSet
    val manifest = StatsManifest.read(new Path(dir), conf)
      .filter { case (rel, _) => live.contains(rel.split('/').last) }
    val vSum = manifest.values.flatMap(_.cols.find(_.name == "v").flatMap(_.sum)).sum
    assert(vSum == (0L until 20000L).map(_ * 3).sum, "pass-through column keeps its exact sum")
    val idSum = manifest.values.flatMap(_.cols.find(_.name == "id").flatMap(_.sum)).sum
    assert(idSum == (0L until 20000L).sum)
  }

  test("splice with blooms+sketches: assigned column rebuilds, untouched column inherits") {
    import spark.implicits._
    val dir = tmp()
    (0L until 10000L).map(i => (i, i % 1000, s"k-${i % 50}"))
      .toDF("id", "bucketv", "tag")
      .repartitionByRange(2, col("id")).sortWithinPartitions("id")
      .write.format("vortex").mode("overwrite")
      .option("bloomFilters", "id,tag").option("distributionSketches", "bucketv")
      .save(dir)
    VortexUpdate.update(spark, dir,
      Map("bucketv" -> (col("bucketv") + 1000000L)), col("id") < 100L)
    val manifest = StatsManifest.read(new Path(dir), conf)
    manifest.values.foreach { e =>
      assert(e.cols.find(_.name == "id").get.bloom.isDefined,
        "inherited bloom on the untouched column")
      assert(e.cols.find(_.name == "tag").get.bloom.isDefined)
      assert(e.cols.find(_.name == "bucketv").get.sketch.isDefined,
        "rebuilt sketch on the assigned column")
    }
    // bloom pruning on the untouched column still answers correctly
    val hit = spark.read.format("vortex").load(dir)
      .where(col("tag") === "k-7")
    assert(hit.count() == 200L)
    // the rebuilt values are correct
    val df = spark.read.format("vortex").load(dir)
    assert(df.where(col("id") < 100L && col("bucketv") < 1000000L).count() == 0L)
    assert(df.where(col("id") >= 100L && col("bucketv") >= 1000000L).count() == 0L)
  }

  test("chunk-level pass-through: chunks with no patched rows copy even the assigned column verbatim (r15)") {
    import spark.implicits._
    val dir = tmp()
    // one file, 4 chunks (200k rows / 65536) — a clustered update (the
    // 100 TB layout shape) touches only chunk 0
    (0L until 200000L).map(i => (i, i * 7, (i % 13).toDouble))
      .toDF("id", "v", "w")
      .coalesce(1).sortWithinPartitions("id")
      .write.format("vortex").mode("overwrite").save(dir)
    val before = dataFiles(dir).map(p =>
      p.getName -> VortexFileReader.readFooter(p, conf)).toMap
    assert(before.values.head.chunks.length == 4, "expected 4 chunks")

    VortexUpdate.update(spark, dir, Map("w" -> lit(99.5)), col("id") < 100L)
    val after = dataFiles(dir).head
    val nf = VortexFileReader.readFooter(after, conf)
    val of = before(before.keys.head)
    // chunk 0: the assigned column re-encoded; chunks 1-3: EVERY column
    // (w included) passes through with identical page metas
    (1 until 4).foreach { ci =>
      nf.chunks(ci).columns.zip(of.chunks(ci).columns).zipWithIndex.foreach {
        case ((nc, oc), c) =>
          assert(nc.length == oc.length && nc.encoding == oc.encoding,
            s"chunk $ci column $c should pass through verbatim")
      }
    }
    assert(nf.chunks(0).columns(2).length != of.chunks(0).columns(2).length ||
           nf.chunks(0).columns(2).min.map(_.toSeq) != of.chunks(0).columns(2).min.map(_.toSeq),
      "chunk 0's assigned column must differ (values changed)")
    // values exact
    val df = spark.read.format("vortex").load(dir)
    assert(df.where(col("id") < 100L && col("w") =!= 99.5).count() == 0L)
    assert(df.where(col("id") >= 100L && col("w") === 99.5).count() == 0L)
  }

  test("splice with a mask sidecar: masked rows fold away and stay deleted through an update") {
    import spark.implicits._
    val dir = tmp()
    (0L until 5000L).map(i => (i, s"g${i % 4}", 1.0))
      .toDF("id", "g", "w")
      .repartition(2).write.format("vortex").mode("overwrite").save(dir)
    graft.sources.vortex.VortexDelete.delete(spark, dir, col("g") === "g0",
      deletionVectors = true)
    VortexUpdate.update(spark, dir, Map("w" -> lit(2.0)), col("g") === "g1")
    assert(RowLevelStatement.lastOutcomes.map(_.kernel).toSet == Set(RowLevelStatement.Kernel.Splice))
    val root = new Path(dir)
    assert(!root.getFileSystem(conf).listStatus(root).exists(_.getPath.getName.contains(".dv-")),
      "the update folds the masks into its rewrite")
    val df = spark.read.format("vortex").load(dir)
    assert(df.count() == 3750L, "masked rows stay deleted")
    assert(df.where(col("g") === "g1" && col("w") =!= 2.0).count() == 0L)
    assert(df.where(col("g") =!= "g1" && col("w") === 2.0).count() == 0L)
  }
}
