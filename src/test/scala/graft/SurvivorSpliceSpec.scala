package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.vortex.{StatsManifest, VortexDelete, VortexFileReader, VortexMaintenance}

/** The splice kernel's survivor rewrites (graft.sources.vortex.Splice):
  * the rewrite-tier DELETE and foldMasks compact survivors
  * chunk-at-a-time on decoded vectors. These tests pin EQUIVALENCE with the row path's
  * observable contract — survivors, exact manifest stats, clustered
  * chunk pass-through, ts-unit round trip, and fold-after-mask. */
class SurvivorSpliceSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("vortex_surv").toString

  private def conf = spark.sessionState.newHadoopConf()

  private def dataFiles(dir: String): Seq[Path] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    fs.listStatus(root).toSeq.map(_.getPath)
      .filter(p => p.getName.endsWith(".vortex") && !p.getName.startsWith("."))
      .sortBy(_.getName)
  }

  test("scattered delete: survivors, counts, and exact manifest sums match the semantics") {
    import spark.implicits._
    val dir = tmp()
    (0L until 20000L).map(i =>
        (i, i * 3, s"name-$i", if (i % 7 == 0) null else s"t${i % 5}"))
      .toDF("id", "v", "s", "tag")
      .repartitionByRange(2, col("id")).sortWithinPartitions("id")
      .write.format("vortex").mode("overwrite").save(dir)

    val res = VortexDelete.delete(spark, dir, col("id") % 10L === 3L)
    assert(res.rewrittenFiles == 2 && res.rowsDeleted == 2000L, res)

    val df = spark.read.format("vortex").load(dir)
    assert(df.count() == 18000L)
    assert(df.where(col("id") % 10L === 3L).count() == 0L)
    // null column round-trips; values exact
    assert(df.where(col("tag").isNull).count() ===
      (0L until 20000L).count(i => i % 7 == 0 && i % 10 != 3).toLong)
    assert(df.agg(sum(col("v"))).head.getLong(0) ==
      (0L until 20000L).filter(_ % 10 != 3).map(_ * 3).sum)

    // manifest: every column's stats recomputed EXACTLY for the
    // replacement files (live entries only)
    val live = dataFiles(dir).map(_.getName).toSet
    val manifest = StatsManifest.read(new Path(dir), conf)
      .filter { case (rel, _) => live.contains(rel.split('/').last) }
    val vSum = manifest.values.flatMap(_.cols.find(_.name == "v").flatMap(_.sum)).sum
    assert(vSum == (0L until 20000L).filter(_ % 10 != 3).map(_ * 3).sum,
      "replacement manifest sums are exact over survivors")
  }

  test("clustered delete: untouched chunks pass through byte-identically") {
    import spark.implicits._
    val dir = tmp()
    // one file, 4 chunks (200k / 65536); the delete hits only chunk 0
    (0L until 200000L).map(i => (i, i * 7, s"s-${i % 11}"))
      .toDF("id", "v", "s")
      .coalesce(1).sortWithinPartitions("id")
      .write.format("vortex").mode("overwrite").save(dir)
    val of = {
      val p = dataFiles(dir).head
      VortexFileReader.readFooter(p, conf)
    }
    assert(of.chunks.length == 4, "expected 4 chunks")

    val res = VortexDelete.delete(spark, dir, col("id") < 1000L)
    assert(res.rewrittenFiles == 1 && res.rowsDeleted == 1000L, res)
    val p = dataFiles(dir).head
    val nf = VortexFileReader.readFooter(p, conf)
    assert(nf.chunks.length == 4)
    assert(nf.chunks(0).rowCount == of.chunks(0).rowCount - 1000)
    // chunks 1-3 lost no rows: every column's page is byte-identical
    (1 until 4).foreach { ci =>
      nf.chunks(ci).columns.zip(of.chunks(ci).columns).zipWithIndex.foreach {
        case ((nc, oc), c) =>
          assert(nc.length == oc.length && nc.encoding == oc.encoding &&
            nc.min.map(_.toSeq) == oc.min.map(_.toSeq),
            s"chunk $ci column $c should pass through verbatim")
      }
    }
    val df = spark.read.format("vortex").load(dir)
    assert(df.count() == 199000L && df.where(col("id") < 1000L).count() == 0L)
  }

  test("delete with a prior mask folds it in; counts exclude masked rows") {
    import spark.implicits._
    val dir = tmp()
    (0L until 10000L).map(i => (i, s"g${i % 4}"))
      .toDF("id", "g")
      .coalesce(1).write.format("vortex").mode("overwrite").save(dir)
    // mask g0 (2500 rows) via the DV tier, then rewrite-delete g1
    VortexDelete.delete(spark, dir, col("g") === "g0", deletionVectors = true)
    val res = VortexDelete.delete(spark, dir, col("g") === "g1")
    assert(res.rowsDeleted == 2500L, s"pred-only count, got $res")
    val df = spark.read.format("vortex").load(dir)
    assert(df.count() == 5000L)
    assert(df.where(col("g") === "g0" || col("g") === "g1").count() == 0L)
    // the replacement carries no mask sidecar — the fold is physical
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    assert(!fs.listStatus(root).exists(_.getPath.getName.contains(".dv-")),
      "masks folded into the rewrite")
  }

  test("foldMasks through the splice: rows, stats, and blooms survive") {
    import spark.implicits._
    val dir = tmp()
    (0L until 30000L).map(i => (i, i % 100, s"k-${i % 50}"))
      .toDF("id", "bucketv", "tag")
      .repartition(2).write.format("vortex").mode("overwrite")
      .option("bloomFilters", "tag").option("distributionSketches", "bucketv")
      .save(dir)
    VortexDelete.delete(spark, dir, col("id") % 3L === 0L, deletionVectors = true)
    val masked = spark.read.format("vortex").load(dir)
      .agg(count(lit(1)), sum(col("id")), sum(col("bucketv"))).head
    val r = VortexMaintenance.foldMasks(spark, dir)
    assert(r.foldedFiles == 2 && r.rowsDropped == 10000L, r)
    val folded = spark.read.format("vortex").load(dir)
      .agg(count(lit(1)), sum(col("id")), sum(col("bucketv"))).head
    assert(masked == folded, "masked and folded reads agree exactly")
    // manifest: exact sums + rebuilt bloom and sketch on the fold outputs
    val live = dataFiles(dir).map(_.getName).toSet
    assert(live.forall(_.startsWith("part-fold-")))
    val manifest = StatsManifest.read(new Path(dir), conf)
      .filter { case (rel, _) => live.contains(rel.split('/').last) }
    val idSum = manifest.values.flatMap(_.cols.find(_.name == "id").flatMap(_.sum)).sum
    assert(idSum == (0L until 30000L).filter(_ % 3 != 0).sum)
    manifest.values.foreach { e =>
      assert(e.cols.find(_.name == "tag").get.bloom.isDefined, "bloom rebuilt")
      assert(e.cols.find(_.name == "bucketv").get.sketch.isDefined, "sketch rebuilt")
    }
    // bloom pruning still answers correctly after the fold
    assert(spark.read.format("vortex").load(dir)
      .where(col("tag") === "k-7").count() ==
      (0L until 30000L).count(i => i % 50 == 7 && i % 3 != 0).toLong)
  }

  test("unit-scaled timestamps and decimals round-trip the splice exactly") {
    import spark.implicits._
    val dir = tmp()
    // TIMESTAMP_NTZ microseconds + a decimal column: the splice's
    // µs→stored-unit re-scale and unscaled-long copy must reproduce the
    // row path's values bit-for-bit
    val df0 = (0L until 8000L).map(i =>
        (i, new java.math.BigDecimal(s"${i % 977}.${(i % 89) + 10}"),
         java.time.LocalDateTime.of(2026, 1, 1, 0, 0, 0).plusSeconds(i)))
      .toDF("id", "d", "ts")
      .withColumn("d", col("d").cast("decimal(12,2)"))
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
    df0.coalesce(1).write.format("vortex").mode("overwrite").save(dir)
    val before = spark.read.format("vortex").load(dir)
      .where(col("id") % 5L =!= 2L).orderBy("id").collect()
    VortexDelete.delete(spark, dir, col("id") % 5L === 2L)
    val after = spark.read.format("vortex").load(dir).orderBy("id").collect()
    assert(after.toSeq == before.toSeq, "surviving rows byte-equal the pre-delete filter")
  }
}
