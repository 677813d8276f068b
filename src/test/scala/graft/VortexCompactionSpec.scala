package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.vortex.{QuantileSketch, SketchPercentile, StatsManifest, VortexMaintenance}

/** Small-file compaction: chunk byte-copy merge must preserve every
  * row/value (incl. across encodings) while collapsing file counts,
  * and must respect partition + bucket layout boundaries. */
class VortexCompactionSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()

  private def vortexFiles(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".vortex")) Seq(f) else Seq.empty
    walk(new java.io.File(dir))
  }

  private def fingerprint(dir: String): (Long, Long) = {
    val df = spark.read.format("vortex").load(dir)
    (df.count(), df.selectExpr("sum(hash(*))").head.getLong(0))
  }

  test("flat dataset: many small files collapse to few, data identical") {
    val dir = Files.createTempDirectory("vortex_compact_").toString
    spark.range(0, 40000).selectExpr("id AS k", "CAST(id AS DOUBLE) / 100 AS v",
        "repeat(uuid(), 2) AS s")
      .repartition(40)
      .write.format("vortex").mode("overwrite").save(dir)
    assert(vortexFiles(dir).size == 40)
    val before = fingerprint(dir)
    val res = VortexMaintenance.compact(spark, dir)
    assert(res.filesAbsorbed == 40 && res.batches >= 1)
    val after = vortexFiles(dir)
    assert(after.size == res.batches)
    assert(fingerprint(dir) == before)
    // compacted outputs stay plannable with zero footer I/O: the
    // compaction manifest carries the schema + per-chunk stats
    graft.sources.vortex.VortexFileReader.clearFooterCache()
    val fetches0 = graft.sources.vortex.VortexFileReader.footerFetches.get()
    val parts = spark.read.format("vortex").load(dir)
      .filter(org.apache.spark.sql.functions.col("k") < 1000).rdd.getNumPartitions
    assert(parts >= 1)
    assert(graft.sources.vortex.VortexFileReader.footerFetches.get() == fetches0,
      "planning after compaction must be manifest-only")
  }

  test("partitioned + bucketed layouts compact within their directories") {
    val dir = Files.createTempDirectory("vortex_compact_b_").toString
    // 8 buckets x several appends = many small files per bucket dir
    (0 until 4).foreach { i =>
      spark.range(i * 2000, (i + 1) * 2000).selectExpr("id AS k", "id * 3 AS v")
        .write.format("vortex")
        .option("bucketBy", "k").option("buckets", "8")
        .mode(if (i == 0) "overwrite" else "append").save(dir)
    }
    val before = fingerprint(dir)
    val perDirBefore = vortexFiles(dir).groupBy(_.getParentFile.getName)
    assert(perDirBefore.values.forall(_.size == 4))
    val res = VortexMaintenance.compact(spark, dir)
    assert(res.batches == 8 && res.filesAbsorbed == 32)
    val perDir = vortexFiles(dir).groupBy(_.getParentFile.getName)
    assert(perDir.size == 8 && perDir.values.forall(_.size == 1))
    assert(fingerprint(dir) == before)
    // bucket placement still correct after compaction
    val b5 = spark.read.format("vortex").load(s"$dir/__bucket=5")
    assert(b5.selectExpr("pmod(hash(k), 8) AS b").where("b <> 5").count() == 0)
  }


  test("crash between batch commits repairs at the next statement (r12 marker protocol)") {
    // a compact that dies after committing SOME batches must leave no
    // permanent duplication: un-renamed batches are rolled back
    // (tmps are vacuum litter), and a crash BETWEEN a batch's rename
    // and its source removals is completed by the marker repair at the
    // next statement. The seam throws after N per-batch commits.
    val dir = Files.createTempDirectory("vortex_compact_crash_").toString
    spark.range(0, 20000).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
      .repartition(12)
      .write.format("vortex").mode("overwrite").save(dir)
    val before = fingerprint(dir)
    // force >= 2 batches by capping batch size under the total
    val bytes = vortexFiles(dir).map(_.length).sum
    val target = bytes / 2
    val e = intercept[RuntimeException] {
      VortexMaintenance.compactImpl(spark, dir, target, 2, failAfterBatchCommits = 1)
    }
    assert(e.getMessage.contains("injected crash"), e.getMessage)
    // the dataset may hold a committed batch plus originals of the
    // uncommitted ones — but NEVER a duplicate: the marker of the
    // in-flight batch pairs its output with its absorbed sources
    VortexMaintenance.compact(spark, dir) // next statement repairs, then compacts
    assert(CrashJudgmentSpec.uncommitted(spark, dir).isEmpty, "uncommitted state left after the repair")
    assert(fingerprint(dir) == before, "no row lost or duplicated across the crash")

    // crash BEFORE any rename (failAfter=0): everything rolls back
    val dir2 = Files.createTempDirectory("vortex_compact_crash0_").toString
    spark.range(0, 8000).selectExpr("id AS k").repartition(8)
      .write.format("vortex").mode("overwrite").save(dir2)
    val before2 = fingerprint(dir2)
    intercept[RuntimeException] {
      VortexMaintenance.compactImpl(spark, dir2, 128L * 1024 * 1024, 2,
        failAfterBatchCommits = 0)
    }
    assert(fingerprint(dir2) == before2, "nothing committed before the first marker")
    assert(vortexFiles(dir2).size == 8, "no output renamed in")
    VortexMaintenance.compact(spark, dir2)
    assert(CrashJudgmentSpec.uncommitted(spark, dir2).isEmpty, "uncommitted state left after the repair")
    assert(fingerprint(dir2) == before2)
  }

  test("a marker whose output renamed in but sources survive repairs to the AFTER state") {
    // simulate the exact crash window: marker present, output present,
    // sources still live — repair must remove the sources, not the output
    val dir = Files.createTempDirectory("vortex_compact_marker_").toString
    spark.range(0, 6000).selectExpr("id AS k").repartition(4)
      .write.format("vortex").mode("overwrite").save(dir)
    val before = fingerprint(dir)
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // run a REAL compact to get a legitimate output file; then undo its
    // bookkeeping: restore two absorbed sources from a copy and rewrite
    // the marker as if the crash happened mid-removal
    val srcs = vortexFiles(dir).map(_.getName)
    val res = VortexMaintenance.compact(spark, dir)
    assert(res.batches == 1)
    val out = vortexFiles(dir).map(_.getName).filter(_.startsWith("part-compact-")).head
    // fabricate the crash window against a FRESH dataset: stage dir3
    // with sources + the compacted output + the marker
    val dir3 = Files.createTempDirectory("vortex_compact_marker3_").toString
    val root3 = new org.apache.hadoop.fs.Path(dir3)
    fs.mkdirs(root3)
    // copy output and one "absorbed source that was never removed"
    spark.range(0, 6000).selectExpr("id AS k").coalesce(1)
      .write.format("vortex").mode("overwrite").save(dir3)
    val liveSrc = vortexFiles(dir3).head.getName
    org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(dir, out),
      fs, new org.apache.hadoop.fs.Path(dir3, out), false, spark.sparkContext.hadoopConfiguration)
    graft.sources.vortex.MaintenanceCommit.writeCompactMarker(fs, root3, "t1",
      graft.sources.vortex.MaintenanceCommit.CompactCommit(out, Seq(liveSrc), ""))
    // repair: the duplicate source must go, the output must stay
    val (_, _, found) = graft.sources.vortex.VortexDataSource.walk(Seq(dir3),
      spark.sparkContext.hadoopConfiguration)
    assert(found.markers.length == 1)
    graft.sources.vortex.MaintenanceCommit.repair(fs, found)
    assert(CrashJudgmentSpec.uncommitted(spark, dir3).isEmpty, "uncommitted state left after the repair")
    val names = vortexFiles(dir3).map(_.getName)
    assert(names.contains(out) && !names.contains(liveSrc), names.toString)
    assert(spark.read.format("vortex").load(dir3).count() == 6000L)
  }

  test("a plain READ inside the crash window serves each row exactly once (r13)") {
    // same fabricated window as the repair test — marker present, output
    // present, an absorbed source never removed — but exercised through a
    // PLAIN READ with no maintenance statement: the consistent listing
    // must consult the marker non-destructively and exclude the absorbed
    // source (review-found r12: before this, readers served duplicated
    // rows until some later maintenance statement happened to run)
    val hconf = spark.sparkContext.hadoopConfiguration
    val dir = Files.createTempDirectory("vortex_compact_read_").toString
    spark.range(0, 6000).selectExpr("id AS k").repartition(4)
      .write.format("vortex").mode("overwrite").save(dir)
    val res = VortexMaintenance.compact(spark, dir)
    assert(res.batches == 1)
    val out = vortexFiles(dir).map(_.getName).filter(_.startsWith("part-compact-")).head
    val dir3 = Files.createTempDirectory("vortex_compact_read3_").toString
    val root3 = new org.apache.hadoop.fs.Path(dir3)
    val fs = root3.getFileSystem(hconf)
    spark.range(0, 6000).selectExpr("id AS k").coalesce(1)
      .write.format("vortex").mode("overwrite").save(dir3)
    val liveSrc = vortexFiles(dir3).head.getName
    org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(dir, out),
      fs, new org.apache.hadoop.fs.Path(dir3, out), false, hconf)
    graft.sources.vortex.MaintenanceCommit.writeCompactMarker(fs, root3, "t1",
      graft.sources.vortex.MaintenanceCommit.CompactCommit(out, Seq(liveSrc), ""))
    // plain read: output wins, absorbed source excluded, NOTHING deleted
    assert(spark.read.format("vortex").load(dir3).count() == 6000L)
    val names = vortexFiles(dir3).map(_.getName).toSet
    assert(names.contains(out) && names.contains(liveSrc),
      s"read must be non-destructive: $names")
    // the opposite half: marker present but output ABSENT (crash before
    // the rename) — sources are the truth and the read serves them
    fs.delete(new org.apache.hadoop.fs.Path(dir3, out), false)
    assert(spark.read.format("vortex").load(dir3).count() == 6000L)
  }

  test("files at or above target size are left alone") {
    val dir = Files.createTempDirectory("vortex_compact_t_").toString
    spark.range(0, 10000).selectExpr("id AS k").repartition(5)
      .write.format("vortex").mode("overwrite").save(dir)
    val names = vortexFiles(dir).map(_.getName).toSet
    val res = VortexMaintenance.compact(spark, dir, targetBytes = 1024)
    assert(res.batches == 0 && res.filesAbsorbed == 0)
    assert(vortexFiles(dir).map(_.getName).toSet == names)
  }

  test("timestamp-unit metadata survives the byte-copy merge") {
    val dir = Files.createTempDirectory("vortex_compact_ts_").toString
    spark.sql("SELECT TIMESTAMP_NTZ '2024-03-01 10:20:30.123456' + make_interval(0,0,0,0,0,0,id) AS ts FROM range(0, 1000)")
      .repartition(4)
      .write.format("vortex").option("timestampUnits", "ts=ns")
      .mode("overwrite").save(dir)
    val before = spark.read.format("vortex").load(dir)
      .selectExpr("sum(hash(ts))").head.getLong(0)
    val res = VortexMaintenance.compact(spark, dir)
    assert(res.filesAbsorbed == 4)
    val back = spark.read.format("vortex").load(dir)
    assert(back.selectExpr("sum(hash(ts))").head.getLong(0) == before)
    import graft.sources.vortex.{VortexFileReader, VortexFormat}
    val f = vortexFiles(dir).head
    val footer = VortexFileReader.readFooter(new org.apache.hadoop.fs.Path(f.toString),
      spark.sessionState.newHadoopConf())
    assert(VortexFormat.tsUnit(footer.schema("ts")) == "ns")
  }

  test("blooms and writer-exact sums survive compaction via manifest inheritance") {
    import org.apache.spark.sql.functions._
    import graft.sources.vortex.{StatsManifest, VortexFileReader}
    val dir = Files.createTempDirectory("vortex_compact_bloom_").toString
    // 3 equal-sized commits → equal bloom geometry → union applies
    (0 until 3).foreach { i =>
      spark.range(i * 2000, (i + 1) * 2000)
        .select(expr("xxhash64(id)").as("key"), col("id").as("v"))
        .coalesce(1)
        .write.format("vortex").option("bloomFilters", "key")
        .mode(if (i == 0) "overwrite" else "append").save(dir)
    }
    val res = VortexMaintenance.compact(spark, dir)
    assert(res.filesAbsorbed == 3 && res.batches == 1)
    // the compacted entry carries an inherited bloom + the exact sum
    val entries = StatsManifest.read(new org.apache.hadoop.fs.Path(dir),
      spark.sessionState.newHadoopConf())
    val live = vortexFiles(dir).map(_.getName).toSet
    val compacted = entries.values.filter(e => live.contains(
      e.relPath.split('/').last)).toSeq
    assert(compacted.nonEmpty)
    assert(compacted.forall(_.cols.find(_.name == "key").exists(_.bloom.isDefined)),
      "compacted entry must inherit the OR-union bloom")
    assert(compacted.forall(_.cols.find(_.name == "v").exists(
      _.sum.contains((0L until 6000L).sum))),
      "compacted entry must inherit the exact sum of source sums")
    // absent-key lookup still prunes at plan time, zero pages decoded
    val reads = spark.read.format("vortex").load(dir)
    val before = VortexFileReader.pageDecodes.get()
    assert(reads.filter(col("key") === 42L).count() == 0)
    assert(VortexFileReader.pageDecodes.get() == before,
      "bloom must keep pruning after compaction")
    // present keys from every source commit still resolve (hash the
    // same LONG domain the writer hashed — xxhash64 is type-sensitive)
    assert(reads.filter(col("key") === expr("xxhash64(cast(0 as bigint))")).count() == 1)
    assert(reads.filter(col("key") === expr("xxhash64(cast(5999 as bigint))")).count() == 1)
  }

  test("compaction keeps distribution sketches: merged, equal to a fresh write's") {
    val hconf = spark.sessionState.newHadoopConf()
    def entries(dir: String) = StatsManifest.read(new org.apache.hadoop.fs.Path(dir), hconf)
    def sketchOf(e: StatsManifest.FileStats) =
      e.cols.find(_.name == "v").flatMap(_.sketch).flatMap(QuantileSketch.fromBytes)
    val data = spark.range(0, 6000).selectExpr("id", "CAST(id % 997 AS DOUBLE) / 8 AS v")
    val dir = Files.createTempDirectory("vortex_compact_sketch_").toString
    data.where("id < 3000").repartition(2).write.format("vortex")
      .option("distributionSketches", "v").mode("overwrite").save(dir)
    data.where("id >= 3000").repartition(2).write.format("vortex")
      .option("distributionSketches", "v").mode("append").save(dir)
    val res = VortexMaintenance.compact(spark, dir)
    assert(res.filesAbsorbed == 4 && res.batches == 1)
    val live = vortexFiles(dir).map(_.getName)
    assert(live.length == 1)
    val compacted = entries(dir).values.find(_.relPath == live.head).get
    val fresh = Files.createTempDirectory("vortex_compact_sketch_fresh_").toString
    data.coalesce(1).write.format("vortex").option("distributionSketches", "v")
      .mode("overwrite").save(fresh)
    val want = sketchOf(entries(fresh).values.head).get
    val got = sketchOf(compacted).getOrElse(fail("the compacted entry has no sketch"))
    assert(got.toBytes.toSeq == want.toBytes.toSeq)
    // percentile routing answers from the manifest, without a scan
    assert(SketchPercentile.manifestSketch(spark, dir, "v").isDefined)
    val sorted = data.collect().map(_.getDouble(1)).sorted
    assert(SketchPercentile.exactRankValue(spark, dir, "v", 3001L) == sorted(3000))
  }
}
