package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.vortex.VortexFileReader

/** Scan-planning efficiency: at ~800k splits over an object store the
  * driver cannot afford per-file footer round-trips per planning round
  * — footers are fetched once per (path, len, mtime) into the per-JVM
  * cache, planning is memoized per filter set, and estimateStatistics
  * reuses the plan instead of re-planning.
  */
class VortexPlanningSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()

  test("footer fetched at most once per file across repeated scans + stats") {
    val dir = Files.createTempDirectory("vortex_plan_").toString
    spark.range(0, 4000).repartition(4).write.format("vortex").mode("append").save(dir)
    val nFiles = new java.io.File(dir).listFiles.count(_.getName.endsWith(".vortex"))
    assert(nFiles >= 2)
    val before = VortexFileReader.footerFetches.get()
    val df = spark.read.format("vortex").load(dir)
    // schema inference + two actions + a filtered action: planning,
    // statistics estimation, and executor-side reads all hit the cache
    assert(df.count() == 4000)
    assert(df.filter("id >= 2000").count() == 2000)
    assert(df.join(df.limit(5), "id").count() == 5)
    val delta = VortexFileReader.footerFetches.get() - before
    assert(delta <= nFiles, s"footers fetched $delta times for $nFiles files")
  }

  test("commit manifest prunes whole files before any footer fetch") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("vortex_manifest_").toString
    // 4 files with disjoint id ranges; the commit writes _manifests/
    spark.range(0, 40000).select(col("id"))
      .repartitionByRange(4, col("id"))
      .write.format("vortex").mode("append").save(dir)
    assert(new java.io.File(dir, "_manifests").listFiles.exists(_.getName.endsWith(".json")))
    VortexFileReader.clearFooterCache() // cold planning conditions
    val before = VortexFileReader.footerFetches.get()
    val cnt = spark.read.format("vortex").load(dir).filter(col("id") < 5000).count()
    assert(cnt == 5000)
    val delta = VortexFileReader.footerFetches.get() - before
    // schema inference reads one footer + the single surviving file;
    // the 3 range-excluded files must never be fetched
    assert(delta <= 2, s"manifest pruning should leave ≤2 footer fetches, got $delta")
    // staleness: overwrite flushes old manifests with the data
    spark.range(100, 200).select(col("id"))
      .write.format("vortex").mode("overwrite").save(dir)
    val back = spark.read.format("vortex").load(dir)
    assert(back.count() == 100)
    assert(back.filter(col("id") < 5000).count() == 100)
  }

  test("manifest-covered dataset: inference + planning + stats do ZERO footer I/O") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("vortex_manifest_only_").toString
    spark.range(0, 40000).select(col("id"), (col("id") * 2).as("v"))
      .repartitionByRange(4, col("id"))
      .write.format("vortex").mode("overwrite").save(dir)
    VortexFileReader.clearFooterCache() // cold-planning conditions
    val before = VortexFileReader.footerFetches.get()
    val df = spark.read.format("vortex").load(dir) // schema from manifest
    // physical planning (split assembly + chunk pruning + estimate)
    // without executing: partitions are computed, no task reads pages
    val parts = df.filter(col("id") < 5000).rdd.getNumPartitions
    assert(parts >= 1)
    assert(VortexFileReader.footerFetches.get() == before,
      "planning a manifest-covered dataset must read no footers")
    // the aggregate pushdown path is manifest-fed too
    val cnt = df.agg(org.apache.spark.sql.functions.count(
      org.apache.spark.sql.functions.lit(1))).collect()(0).getLong(0)
    assert(cnt == 40000)
    assert(VortexFileReader.footerFetches.get() == before,
      "stats aggregate over a manifest-covered dataset must read no footers")
    // execution (which legitimately reads footers executor-side) is
    // still correct through the manifest-planned splits
    assert(df.filter(col("id") < 5000).count() == 5000)
  }

  test("count/min/max answer from footer stats with ZERO page decodes") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = Files.createTempDirectory("vortex_statsagg_").toString
    val src = (1 to 10000).map(i =>
      (i.toLong, i * 1.5, s"s$i", if (i % 10 == 0) None else Some(i * 3L)))
      .toDF("id", "d", "s", "n")
    src.repartition(3).write.format("vortex").mode("overwrite").save(dir)
    val v = spark.read.format("vortex").load(dir)
    val before = VortexFileReader.pageDecodes.get()
    val r = v.agg(count(lit(1)).as("c"), count(col("n")).as("cn"),
      min(col("id")).as("mi"), max(col("id")).as("ma"),
      min(col("d")).as("md"), max(col("s")).as("ms")).collect()(0)
    assert(VortexFileReader.pageDecodes.get() == before,
      "stats-answered aggregate must not decode any page")
    assert(r.getLong(0) == 10000 && r.getLong(1) == 9000)
    assert(r.getLong(2) == 1L && r.getLong(3) == 10000L)
    assert(r.getDouble(4) == 1.5 && r.getString(5) == "s9999")
    // the plan itself names the stats scan
    val plan = v.agg(count(lit(1))).queryExecution.executedPlan.toString
    assert(plan.contains("VortexStatsScan"), plan)
    // filters force the normal scan path and stay correct
    assert(v.filter(col("id") > 5000).agg(count(lit(1))).collect()(0).getLong(0) == 5000)
    // group-by declines pushdown and stays correct
    assert(v.groupBy(col("id") % 2).count().collect().map(_.getLong(1)).sum == 10000)
  }

  test("SUM answers from writer-exact manifest sums with zero decodes (incl. glob paths)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = Files.createTempDirectory("vortex_sumagg_").toString
    val src = (1 to 20000).map(i => (i.toLong, i,
      if (i % 7 == 0) None else Some(i * 3L),
      BigDecimal(i).setScale(2) * 0.25))
      .toDF("l", "i", "n", "d")
      .select(col("l"), col("i"), col("n"), col("d").cast("decimal(12,2)"))
    src.repartition(3).write.format("vortex").mode("overwrite").save(dir)
    val v = spark.read.format("vortex").load(dir)
    val before = VortexFileReader.pageDecodes.get()
    val r = v.agg(sum(col("l")).as("sl"), sum(col("i")).as("si"),
      sum(col("n")).as("sn"), sum(col("d")).as("sd")).collect()(0)
    assert(VortexFileReader.pageDecodes.get() == before,
      "manifest-answered SUM must not decode any page")
    val n = 20000L
    assert(r.getLong(0) == n * (n + 1) / 2)
    assert(r.getLong(1) == n * (n + 1) / 2)
    val expectedN = (1L to n).filter(_ % 7 != 0).map(_ * 3L).sum
    assert(r.getLong(2) == expectedN)
    val expectedD = (1L to n).map(i => BigDecimal(i).setScale(2) * 0.25).sum.setScale(2)
    assert(r.getDecimal(3) == expectedD.bigDecimal)
    // glob path resolves the same manifest through the parent dir
    val g = spark.read.format("vortex").load(s"$dir/*.vortex")
      .agg(sum(col("l"))).collect()(0).getLong(0)
    assert(g == n * (n + 1) / 2)
    // double sums are NOT metadata-answered (order-dependent): plan is
    // a normal scan and the value comes from real pages
    val d2 = v.agg(sum(col("l").cast("double"))).queryExecution.executedPlan.toString
    assert(!d2.contains("VortexStatsScan"))
    // all-null column sums to NULL
    val dir2 = Files.createTempDirectory("vortex_sumnull_").toString
    Seq((1L, None: Option[Long]), (2L, None)).toDF("k", "x")
      .write.format("vortex").mode("overwrite").save(dir2)
    val rn = spark.read.format("vortex").load(dir2).agg(sum(col("x"))).collect()(0)
    assert(rn.isNullAt(0))
  }

  test("GROUP BY partition column aggregates from metadata (zero decodes)") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("vortex_groupagg_").toString
    spark.range(0, 12000)
      .selectExpr("id", "CAST(id % 3 AS LONG) AS g", "id * 2 AS v")
      .write.format("vortex").option("partitionBy", "g").mode("overwrite").save(dir)
    val v = spark.read.format("vortex").load(dir)
    val before = VortexFileReader.pageDecodes.get()
    val r = v.groupBy("g").agg(count(lit(1)).as("n"), min(col("id")).as("mn"),
        max(col("id")).as("mx"), sum(col("v")).as("sv"))
      .orderBy("g").collect()
    assert(VortexFileReader.pageDecodes.get() == before,
      "partition-grouped stats aggregate must not decode any page")
    assert(r.length == 3)
    (0 until 3).foreach { g =>
      val ids = (0L until 12000L).filter(_ % 3 == g)
      assert(r(g).getLong(0) == g)
      assert(r(g).getLong(1) == ids.length)
      assert(r(g).getLong(2) == ids.min && r(g).getLong(3) == ids.max)
      assert(r(g).getLong(4) == ids.map(_ * 2).sum)
    }
    // grouping by a DATA column declines pushdown and stays correct
    val r2 = v.groupBy(col("id") % 2).count().collect().map(_.getLong(1)).sum
    assert(r2 == 12000)
  }

  test("pushed limit plans a bounded chunk prefix, not the whole file") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("vortex_limit_").toString
    spark.range(0, 100000).repartition(1)
      .write.format("vortex").option("chunkRows", "1024").mode("overwrite").save(dir)
    val v = spark.read.format("vortex").load(dir)
    val before = VortexFileReader.pageDecodes.get()
    assert(v.limit(10).collect().length == 10)
    val delta = VortexFileReader.pageDecodes.get() - before
    // 10 rows fit one 1024-row chunk: one column decode (+0 slack)
    assert(delta <= 2, s"limit-10 scan decoded $delta pages of a ~98-chunk file")
    // limit larger than the dataset still returns everything
    assert(v.limit(200000).count() == 100000)
    // filter + limit declines the trim and stays exact
    assert(v.filter(col("id") >= 99000).limit(5).collect().length == 5)
  }

  test("schema drift across files fails planning with a named error") {
    import spark.implicits._
    val a = Files.createTempDirectory("vortex_drift_a_").toString
    val b = Files.createTempDirectory("vortex_drift_b_").toString
    val mixed = Files.createTempDirectory("vortex_drift_").toString
    Seq((1L, "x"), (2L, "y")).toDF("id", "s").coalesce(1)
      .write.format("vortex").mode("overwrite").save(a)
    Seq((3L, 1.5), (4L, 2.5)).toDF("id", "d").coalesce(1)
      .write.format("vortex").mode("overwrite").save(b)
    def dataFile(dir: String) =
      new java.io.File(dir).listFiles.filter(_.getName.endsWith(".vortex")).head
    java.nio.file.Files.copy(dataFile(a).toPath,
      java.nio.file.Paths.get(mixed, "part-0-aaa.vortex"))
    java.nio.file.Files.copy(dataFile(b).toPath,
      java.nio.file.Paths.get(mixed, "part-1-bbb.vortex"))
    val e = intercept[Exception] {
      spark.read.format("vortex").load(mixed).collect()
    }
    def root(t: Throwable): Throwable = if (t.getCause == null) t else root(t.getCause)
    assert(root(e).isInstanceOf[graft.sources.vortex.VortexSchemaDriftException],
      s"expected VortexSchemaDriftException, got $e")
    assert(root(e).getMessage.contains("schema drift"))
  }

  test("reader factories share one Hadoop-conf broadcast per session configuration") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import graft.sources.vortex.VortexReaderFactory
    val dir = Files.createTempDirectory("vortex_conf_bc_").toString
    spark.range(0, 1000).write.format("vortex").mode("overwrite").save(dir)
    def confBroadcastId(q: String): Long = {
      val df = spark.read.format("vortex").load(dir).where(q)
      assert(df.count() > 0)
      df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }
        .getOrElse(fail("no vortex scan")).readerFactory
        .asInstanceOf[VortexReaderFactory].conf.id
    }
    val first = confBroadcastId("id < 10")
    assert(confBroadcastId("id > 500") == first, "a second query must reuse the broadcast")
    spark.conf.set("fs.graft.spec.marker", "1")
    try assert(confBroadcastId("id < 10") != first, "a changed Hadoop setting needs its own")
    finally spark.conf.unset("fs.graft.spec.marker")
    assert(confBroadcastId("id < 10") == first)
  }

  test("planning an unchanged dataset a second time re-parses no manifest") {
    import org.apache.spark.sql.functions.col
    import graft.sources.vortex.StatsManifest
    val dir = Files.createTempDirectory("vortex_manifest_parse_").toString
    spark.range(0, 4000).repartitionByRange(4, col("id"))
      .write.format("vortex").mode("append").save(dir)
    spark.range(4000, 6000).write.format("vortex").mode("append").save(dir)
    val manifests = new java.io.File(dir, StatsManifest.DirName).listFiles
      .count(_.getName.endsWith(".json"))
    assert(manifests >= 2)
    def plan(): Int = spark.read.format("vortex").load(dir)
      .filter(col("id") < 100).rdd.getNumPartitions
    val p0 = StatsManifest.manifestParses.get()
    plan()
    assert(StatsManifest.manifestParses.get() - p0 <= manifests)
    val p1 = StatsManifest.manifestParses.get()
    plan()
    assert(StatsManifest.manifestParses.get() == p1, "the second planning parsed a manifest")
    // a new commit adds one manifest, and only that one is parsed
    spark.range(6000, 7000).write.format("vortex").mode("append").save(dir)
    val p2 = StatsManifest.manifestParses.get()
    assert(spark.read.format("vortex").load(dir).filter(col("id") >= 6500).count() == 500)
    assert(StatsManifest.manifestParses.get() - p2 == 1)
  }

  test("a manifest whose parse failed is parsed again on the next read") {
    import org.apache.hadoop.fs.Path
    import graft.sources.vortex.StatsManifest
    val dir = Files.createTempDirectory("vortex_manifest_torn_").toString
    spark.range(0, 100).write.format("vortex").mode("append").save(dir)
    val mdir = new java.io.File(dir, StatsManifest.DirName)
    val whole = Files.readAllBytes(mdir.listFiles.filter(_.getName.endsWith(".json")).head.toPath)
    Files.write(new java.io.File(mdir, "manifest-torn.json").toPath, whole.take(whole.length / 2))
    val root = new Path(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    assert(StatsManifest.read(root, conf).nonEmpty)
    val p0 = StatsManifest.manifestParses.get()
    StatsManifest.read(root, conf)
    StatsManifest.read(root, conf)
    // the whole manifest comes from the cache; the torn one is read each time
    assert(StatsManifest.manifestParses.get() - p0 == 2)
  }
}
