package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.vortex.{BucketSpecFile, StatsManifest, VortexDataSource, VortexFileReader,
  VortexInputPartition, VortexMerge, VortexUpdate}

/** ADVICE r11 (medium): DML must not move a row's BUCKETING key in
  * place — the row would stay in its old __bucket=k directory while
  * bucket pruning routes later equality/IN lookups to the bucket of
  * the new value, silently missing it. UPDATE rejects assignments to
  * the bucket key up front; both merge paths value-check it per
  * matched row. Plus the merge-insert manifest backfill (ADVICE low):
  * a crash between a directory's insert rename and the manifest write
  * must not leave the committed insert file permanently uncovered. */
class DmlBucketGuardSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("vortex_bguard").toString

  private def fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def stageBucketed(dir: String): Unit = {
    import spark.implicits._
    (0L until 400L).map(i => (i, i % 7, s"v$i")).toDF("k", "b", "v")
      .write.format("vortex").option("bucketBy", "b").option("buckets", "4")
      .mode("overwrite").save(dir)
  }

  private def deepMessage(e: Throwable): String = {
    var t = e; val sb = new StringBuilder
    while (t != null) { sb.append(Option(t.getMessage).getOrElse("")); t = t.getCause }
    sb.toString
  }

  test("UPDATE rejects SET of the bucketing key up front") {
    val dir = tmp(); stageBucketed(dir)
    val e = intercept[Exception] {
      VortexUpdate.update(spark, dir, Map("b" -> lit(99L)), col("k") < 10)
    }
    assert(deepMessage(e).contains("bucketing key"))
    // nothing was mutated
    assert(spark.read.format("vortex").load(dir).filter(col("b") === 99L).count() == 0L)
  }

  test("whole-row MERGE rejects a source row that changes the bucketing key") {
    import spark.implicits._
    val dir = tmp(); stageBucketed(dir)
    val src = Seq((5L, 999L, "changed")).toDF("k", "b", "v")
    val e = intercept[Exception] {
      VortexMerge.merge(spark, dir, src, Seq("k"))
    }
    assert(deepMessage(e).contains("bucket"))
    // a source that KEEPS the bucket key merges fine
    val ok = Seq((5L, 5L % 7, "changed")).toDF("k", "b", "v")
    val r = VortexMerge.merge(spark, dir, ok, Seq("k"))
    assert(r.rowsUpdated == 1L)
    assert(spark.read.format("vortex").load(dir)
      .filter(col("k") === 5L && col("v") === "changed").count() == 1L)
  }

  test("clause MERGE rejects an UPDATE clause that changes the bucketing key") {
    import spark.implicits._
    val dir = tmp(); stageBucketed(dir)
    spark.conf.set("spark.sql.catalog.vtx", "graft.sources.vortex.VortexCatalog")
    graft.plans.RewriteVortexDml.install(spark)
    Seq((5L, 888L)).toDF("k", "nb").createOrReplaceTempView("bguard_src")
    val e = intercept[Exception] {
      spark.sql(s"""MERGE INTO vtx.`$dir` t USING bguard_src s
                    ON t.k = s.k
                    WHEN MATCHED THEN UPDATE SET b = s.nb""")
    }
    assert(deepMessage(e).contains("bucketing key"))
  }

  test("merge-insert manifest backfill: a crash before the manifest write is repaired on re-run") {
    import spark.implicits._
    val dir = tmp()
    // partitioned dataset → the insert half renames into TWO directories
    // (p=p0 first in listing order). The p0 insert is a NULL-KEY row —
    // the shape the exactly-once marker exists for: on re-run it can
    // never match, so its committed file takes the SKIP branch (a
    // matched insert would instead be rewritten by the replace half,
    // which writes its own manifest entry). Crash after the first
    // rename, before any manifest write.
    (0L until 200L).map(i => (i, s"p${i % 2}", s"v$i")).toDF("k", "p", "v")
      // `when` makes k NULLABLE: the NULL-key insert below must land in
      // a nullable column (a non-nullable target now fails loudly — the
      // NOT NULL guard this spec's sibling test asserts)
      .select(when(col("k") >= 0, col("k")).as("k"), col("p"), col("v"))
      .write.format("vortex").option("partitionBy", "p").mode("overwrite").save(dir)
    val src = spark.sql(
      "SELECT CAST(null AS BIGINT) k, 'p0' p, 'n0' v " +
      "UNION ALL SELECT CAST(1001 AS BIGINT), 'p1', 'new1'")
    val ex = intercept[Exception] {
      VortexMerge.upsert(spark, dir, src, Seq("k"), failAfterInserts = 1)
    }
    assert(deepMessage(ex).contains("injected crash"), s"unexpected: $ex")
    // one directory's insert file committed, uncovered by any manifest
    val hconf = spark.sparkContext.hadoopConfiguration
    def insertFiles() = graft.sources.vortex.VortexDataSource
      .listAll(Seq(dir), hconf).map(_._1.getPath)
      .filter(_.getName.startsWith("part-merge-ins-"))
    assert(insertFiles().length == 1,
      s"expected exactly one committed insert file, got ${insertFiles()}")
    val rootQ = fs.makeQualified(new Path(dir)).toString
    def covered(): Boolean = {
      val m = StatsManifest.read(new Path(dir), hconf)
      insertFiles().forall { p =>
        val rel = fs.makeQualified(p).toString.stripPrefix(rootQ).stripPrefix("/")
        m.get(rel).exists(_.len == fs.getFileStatus(p).getLen)
      }
    }
    assert(!covered(), "precondition: the crash left the insert file uncovered")
    // re-run converges: the skip branch backfills the manifest entry
    VortexMerge.merge(spark, dir, src, Seq("k"))
    assert(insertFiles().length == 2)
    assert(covered(), "re-run must backfill the committed insert file's manifest entry")
    // both inserts landed exactly once (the NULL-key row was NOT re-appended)
    val out = spark.read.format("vortex").load(dir)
    assert(out.filter(col("k").isNull).count() == 1L)
    assert(out.filter(col("k") === 1001L).count() == 1L)
    assert(out.count() == 202L)
  }

  test("merge rejects NULL bound for a non-nullable target column (never zero-fills)") {
    import spark.implicits._
    val dir = tmp()
    // k and n are non-nullable by construction (Scala Long)
    (0L until 50L).map(i => (i, i * 10, s"v$i")).toDF("k", "n", "v")
      .write.format("vortex").mode("overwrite").save(dir)
    // insert half: a NULL-key row can only insert — must fail loudly
    val src = spark.sql("SELECT CAST(null AS BIGINT) k, CAST(1 AS BIGINT) n, 'n0' v")
    val e1 = intercept[Exception] { VortexMerge.merge(spark, dir, src, Seq("k")) }
    assert(deepMessage(e1).contains("non-nullable"))
    // replace half: NULL in a non-key, non-nullable column
    val src2 = spark.sql("SELECT CAST(5 AS BIGINT) k, CAST(null AS BIGINT) n, 'x' v")
    val e2 = intercept[Exception] { VortexMerge.merge(spark, dir, src2, Seq("k")) }
    assert(deepMessage(e2).contains("non-nullable"))
    // nothing mutated, no zero-filled ghost rows
    val out = spark.read.format("vortex").load(dir)
    assert(out.count() == 50L)
    assert(out.filter(col("v") === "n0" || col("v") === "x").count() == 0L)
  }

  Seq("bucketed" -> false, "partitioned and bucketed" -> true).foreach { case (layout, partitioned) =>
    test(s"MERGE inserts into a $layout dataset land in their key's bucket, exactly once") {
      import spark.implicits._
      val dir = tmp()
      val w = (0L until 400L).map(i => (i, s"p${i % 2}", s"v$i")).toDF("k", "p", "v")
        .write.format("vortex").option("bucketBy", "k").option("buckets", "4")
      (if (partitioned) w.option("partitionBy", "p") else w).mode("overwrite").save(dir)
      val newKeys = 1000L until 1012L
      val src = newKeys.map(i => (i, s"p${i % 2}", s"new$i")).toDF("k", "p", "v")
      assert(VortexMerge.merge(spark, dir, src, Seq("k")).rowsInserted == newKeys.length)
      val hconf = spark.sessionState.newHadoopConf()
      val inserts = VortexDataSource.listAll(Seq(dir), hconf).map(_._1)
        .filter(_.getPath.getName.startsWith("part-merge-ins-"))
      // each insert file sits in the bucket directory of every key it holds
      val stored = inserts.flatMap { st =>
        val bucket = st.getPath.getParent.getName.stripPrefix(s"${BucketSpecFile.BucketCol}=").toInt
        val footer = VortexFileReader.readFooter(st.getPath, hconf)
        val kc = footer.schema.fieldIndex("k")
        val ks = VortexFileReader.readChunks(st.getPath, hconf, footer, 0, footer.chunks.length,
          Array(kc)).flatMap { case (n, vecs) => (0 until n).map(i => vecs(0).longs(i)) }.toSeq
        ks.foreach(k => assert(BucketSpecFile.bucketOf(k, LongType, 4) == bucket,
          s"key $k in ${st.getPath}"))
        ks
      }
      assert(stored.sorted == newKeys)
      // the manifest covers every insert file
      val rootQ = fs.makeQualified(new Path(dir)).toString
      val m = StatsManifest.read(new Path(dir), hconf)
      inserts.foreach { st =>
        val rel = fs.makeQualified(st.getPath).toString.stripPrefix(rootQ).stripPrefix("/")
        assert(m.get(rel).exists(_.len == st.getLen), s"$rel is not covered")
      }
      // a point read plans only its key's bucket and finds the row
      val df = spark.read.format("vortex").load(dir)
      newKeys.foreach { k =>
        val q = df.filter(col("k") === k)
        val planned = q.queryExecution.sparkPlan.collect { case b: BatchScanExec => b }
          .flatMap(_.inputPartitions).collect { case v: VortexInputPartition => new Path(v.file) }
        assert(planned.nonEmpty && planned.forall(_.getParent.getName ==
          s"${BucketSpecFile.BucketCol}=${BucketSpecFile.bucketOf(k, LongType, 4)}"), s"key $k: $planned")
        assert(q.select("v").as[String].collect().toSeq == Seq(s"new$k"))
      }
      // a re-run inserts nothing twice
      assert(VortexMerge.merge(spark, dir, src, Seq("k")).rowsInserted == 0L)
      val after = spark.read.format("vortex").load(dir)
      assert(after.count() == 400L + newKeys.length)
      assert(after.filter(col("k") >= 1000L).count() == newKeys.length)
    }
  }
}
