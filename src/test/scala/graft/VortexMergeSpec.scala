package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.vortex.{VortexDelete, VortexMerge}

/** Whole-row upsert (MERGE) over vortex datasets: matched target rows
  * replaced by their source row, unmatched source rows appended;
  * untouched files stay byte-identical; bounded source contract. */
class VortexMergeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("vortex_merge").toString

  private def snapshot(dir: String): Map[String, (Long, Long)] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(p: Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).toSeq.flatMap(s => if (s.isDirectory) walk(s.getPath) else Seq(s))
    walk(root).map(s => s.getPath.toString -> (s.getLen, s.getModificationTime)).toMap
  }

  test("upsert: matched rows replaced, unmatched appended, untouched files intact") {
    import spark.implicits._
    val dir = tmp()
    (0L until 4000L).map(i => (i, s"old$i", 1.0)).toDF("id", "s", "q")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
      .write.format("vortex").mode("overwrite").save(dir)
    val before = snapshot(dir)

    // source: 3 updates localized in one file's range + 2 inserts
    val src = Seq(
      (1200L, "new1200", 0.5), (1201L, "new1201", 0.5), (1250L, "new1250", 0.5),
      (9001L, "ins9001", 0.9), (9002L, "ins9002", 0.9)
    ).toDF("id", "s", "q")
    val res = VortexMerge.merge(spark, dir, src, Seq("id"))
    assert(res.rowsUpdated == 3L && res.rowsInserted == 2L, res)
    assert(res.rewrittenFiles == 1, res) // key pushdown pruned to one file

    val after = spark.read.format("vortex").load(dir)
    assert(after.count() == 4002L)
    assert(after.where(col("id") === 1200L).head().getString(1) == "new1200")
    assert(after.where(col("id") === 1199L).head().getString(1) == "old1199")
    assert(after.where(col("id") === 9001L).count() == 1L)
    // untouched data files byte-identical
    snapshot(dir).foreach { case (p, st) =>
      if (p.endsWith(".vortex") && before.contains(p))
        assert(before(p) == st, s"file $p was touched")
    }
  }

  test("insert-only and update-only sources") {
    import spark.implicits._
    val dir = tmp()
    (0L until 100L).map(i => (i, i * 2)).toDF("id", "v").coalesce(1)
      .write.format("vortex").mode("overwrite").save(dir)
    val r1 = VortexMerge.merge(spark, dir,
      Seq((500L, 1L), (501L, 2L)).toDF("id", "v"), Seq("id"))
    assert(r1.rowsUpdated == 0L && r1.rowsInserted == 2L, r1)
    val r2 = VortexMerge.merge(spark, dir,
      Seq((500L, 10L), (0L, -1L)).toDF("id", "v"), Seq("id"))
    assert(r2.rowsUpdated == 2L && r2.rowsInserted == 0L, r2)
    val after = spark.read.format("vortex").load(dir)
    assert(after.count() == 102L)
    assert(after.where(col("id") === 500L).head().getLong(1) == 10L)
    assert(after.where(col("id") === 0L).head().getLong(1) == -1L)
  }

  test("composite keys and type alignment (source cast to target types)") {
    import spark.implicits._
    val dir = tmp()
    (0L until 60L).map(i => (s"g${i % 3}", i % 10, i)).toDF("g", "k", "v")
      .coalesce(1).write.format("vortex").mode("overwrite").save(dir)
    // source v is Int → cast to target's Long; composite key (g, k)
    val src = Seq(("g1", 4, 999), ("g9", 0, 111)).toDF("g", "k", "v")
    val res = VortexMerge.merge(spark, dir, src, Seq("g", "k"))
    // g1/k=4 matches ids {13,43} (i%3==1 && i%10==4) → both replaced
    assert(res.rowsUpdated == 2L && res.rowsInserted == 1L, res)
    val after = spark.read.format("vortex").load(dir)
    assert(after.where(col("g") === "g1" && col("k") === 4).count() == 2L)
    assert(after.where(col("g") === "g1" && col("k") === 4)
      .select("v").collect().forall(_.getLong(0) == 999L))
    assert(after.where(col("g") === "g9").count() == 1L)
  }

  test("merge folds deletion-vector masks; duplicate source keys rejected") {
    import spark.implicits._
    val dir = tmp()
    (0L until 1000L).map(i => (i, i)).toDF("id", "v").coalesce(1)
      .write.format("vortex").mode("overwrite").save(dir)
    VortexDelete.delete(spark, dir, col("id") < 50L, deletionVectors = true)
    val res = VortexMerge.merge(spark, dir,
      Seq((100L, -1L), (25L, -2L)).toDF("id", "v"), Seq("id"))
    // id=25 is DEAD (masked) → it is an INSERT, not an update
    assert(res.rowsUpdated == 1L && res.rowsInserted == 1L, res)
    val after = spark.read.format("vortex").load(dir)
    assert(after.count() == 951L) // 950 live + 1 insert
    assert(after.where(col("id") === 25L).head().getLong(1) == -2L)
    assert(after.where(col("id") === 100L).head().getLong(1) == -1L)
    assert(after.where(col("id") === 26L).count() == 0L) // still deleted

    val e = intercept[IllegalArgumentException] {
      VortexMerge.merge(spark, dir,
        Seq((1L, 1L), (1L, 2L)).toDF("id", "v"), Seq("id"))
    }
    assert(e.getMessage.contains("duplicate source key"))
  }

  test("timestamp keys merge correctly (pushdown skipped, not mis-typed)") {
    import spark.implicits._
    val dir = tmp()
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def ts(h: Int) = new java.sql.Timestamp(t0.getTime + h * 3600L * 1000)
    (0 until 50).map(i => (ts(i), i.toLong)).toDF("k", "v").coalesce(1)
      .write.format("vortex").mode("overwrite").save(dir)
    val res = VortexMerge.merge(spark, dir,
      Seq((ts(7), -7L), (ts(999), -999L)).toDF("k", "v"), Seq("k"))
    assert(res.rowsUpdated == 1L && res.rowsInserted == 1L, res)
    val after = spark.read.format("vortex").load(dir)
    assert(after.count() == 51L)
    assert(after.where(col("v") === -7L).count() == 1L)
  }

  test("binary keys use value equality; NULL keys never match (ANSI)") {
    import spark.implicits._
    val dir = tmp()
    (Seq((Array[Byte](1, 2, 3), 1L), (Array[Byte](4, 5), 2L)) :+
      ((null: Array[Byte], 3L)))
      .toDF("k", "v").coalesce(1)
      .write.format("vortex").mode("overwrite").save(dir)
    val src = Seq((Array[Byte](1, 2, 3), 10L), // matches by VALUE
                  (null: Array[Byte], 30L))    // NULL: never matches → insert
      .toDF("k", "v")
    val res = VortexMerge.merge(spark, dir, src, Seq("k"))
    assert(res.rowsUpdated == 1L && res.rowsInserted == 1L, res)
    val after = spark.read.format("vortex").load(dir)
    assert(after.count() == 4L)
    assert(after.where(col("v") === 10L).count() == 1L) // replaced
    assert(after.where(col("v") === 3L).count() == 1L)  // null-key target kept
    assert(after.where(col("v") === 30L).count() == 1L) // null-key source inserted
  }

  test("partitioned dataset: inserts route into partition dirs; partition-moving matches rejected") {
    import spark.implicits._
    val dir = tmp()
    // key v → partition p${v % 3}
    (0L until 90L).map(i => (s"p${i % 3}", i, 1.0)).toDF("p", "v", "q")
      .write.format("vortex").option("partitionBy", "p")
      .mode("overwrite").save(dir)
    // partition-preserving update (v=7 lives in p=p1) + one insert
    val src = Seq(("p1", 7L, 9.9), ("p2", 7777L, 1.5)).toDF("p", "v", "q")
    val res = VortexMerge.merge(spark, dir, src, Seq("v"))
    assert(res.rowsUpdated == 1L && res.rowsInserted == 1L, res)
    val after = spark.read.format("vortex").load(dir)
    assert(after.count() == 91L)
    assert(after.where(col("v") === 7L).select("q").head().getDouble(0) == 9.9)
    // the inserted row must land INSIDE the p=p2 directory (a flat
    // append would store p in the file and drift every later read)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(new Path(dir)).forall(s =>
      s.isDirectory || s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith(".")),
      "no flat data files at the dataset root")
    assert(after.where(col("v") === 7777L).select("p").head().getString(0) == "p2")

    // a source row that CHANGES a matched row's partition value cannot
    // be honored by the in-place rewrite — loud reject, not silent keep
    val bad = Seq(("p0", 8L, 1.0)).toDF("p", "v", "q") // v=8 lives in p=p2
    val e = intercept[Exception] {
      VortexMerge.merge(spark, dir, bad, Seq("v"))
    }
    def hasMsg(t: Throwable): Boolean =
      t != null && (Option(t.getMessage).exists(_.contains("partition column")) || hasMsg(t.getCause))
    assert(hasMsg(e), s"expected partition-column reject, got $e")
    // and the dataset is unchanged (tasks are non-destructive)
    val check = spark.read.format("vortex").load(dir)
    assert(check.count() == 91L)
    assert(check.where(col("v") === 8L).select("p").head().getString(0) == "p2")
  }

  test("MERGE into a partitioned dataset a DELETE emptied inserts under the partition directory") {
    import spark.implicits._
    graft.plans.RewriteVortexDml.install(spark)
    spark.conf.set("spark.sql.catalog.vtx", "graft.sources.vortex.VortexCatalog")
    val dir = tmp()
    Seq((1L, "a", "Brand1"), (2L, "b", "Brand2")).toDF("id", "s", "brand")
      .write.format("vortex").option("partitionBy", "brand").mode("overwrite").save(dir)
    VortexDelete.delete(spark, dir, col("brand").like("Bran%"), deletionVectors = true)
    assert(spark.read.format("vortex").load(dir).count() == 0L)
    Seq((3L, "c", "Brand3")).toDF("id", "s", "brand").createOrReplaceTempView("emptied_src")
    spark.sql(s"MERGE INTO vtx.`$dir` t USING emptied_src s ON t.id = s.id " +
      "WHEN NOT MATCHED THEN INSERT *")
    val got = spark.read.format("vortex").load(dir).select("id", "s", "brand").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(got == Seq((3L, "c", "Brand3")))
    val root = new java.io.File(dir)
    assert(!root.list().exists(_.startsWith("part-merge-ins-")), root.list().toSeq)
    assert(new java.io.File(root, "brand=Brand3").list().count(_.startsWith("part-merge-ins-")) == 1)
  }

  test("insert half is exactly-once under crash re-runs, including NULL-key inserts") {
    import spark.implicits._
    val dir = tmp()
    (0L until 90L).map(i => (s"p${i % 3}", Option(i), 1.0)).toDF("p", "v", "q")
      .write.format("vortex").option("partitionBy", "p")
      .mode("overwrite").save(dir)
    // insert-only source spanning all three partition dirs, plus a
    // NULL-key row (never self-matches — the hard exactly-once case)
    val src = Seq(("p0", Option(1000L), 2.0), ("p1", Option(1001L), 2.0),
                  ("p2", Option(1002L), 2.0), ("p0", None: Option[Long], 2.0))
      .toDF("p", "v", "q")
    // crash after ONE per-directory insert rename
    val crashed = intercept[Exception] {
      VortexMerge.upsert(spark, dir, src, Seq("v"), failAfterInserts = 1)
    }
    assert(crashed.getMessage.contains("injected crash"), crashed.getMessage)
    // re-running the same statement converges: every insert lands
    // exactly once — committed dirs are recognized by the statement's
    // deterministic insert-file name (or its replacement, since the
    // re-run's replace half rewrites committed inserts' matched rows)
    val res = VortexMerge.merge(spark, dir, src, Seq("v"))
    val after = spark.read.format("vortex").load(dir)
    assert(after.count() == 94L, s"res=$res")
    assert(CrashJudgmentSpec.uncommitted(spark, dir).isEmpty, "uncommitted state left after the repair")
    assert(after.where(col("v").isNull).count() == 1L, "NULL-key row exactly once")
    Seq(1000L, 1001L, 1002L).foreach(k =>
      assert(after.where(col("v") === k).count() == 1L, s"v=$k"))
    // a DELIBERATE re-execution of the completed statement is a NEW
    // statement: matched rows replace idempotently, and the NULL-key
    // row inserts AGAIN — ANSI MERGE semantics (NULL matches nothing,
    // so every execution inserts its NULL-key source rows). The
    // exactly-once contract is for crash+re-run cycles, not for
    // running the same MERGE twice on purpose.
    val res2 = VortexMerge.merge(spark, dir, src, Seq("v"))
    assert(res2.rowsUpdated == 3L && res2.rowsInserted == 1L, res2)
    val after2 = spark.read.format("vortex").load(dir)
    assert(after2.count() == 95L)
    assert(after2.where(col("v").isNull).count() == 2L)
    Seq(1000L, 1001L, 1002L).foreach(k =>
      assert(after2.where(col("v") === k).count() == 1L, s"v=$k"))
  }

  test("source cap is a loud contract") {
    import spark.implicits._
    val dir = tmp()
    (0L until 10L).map(i => (i, i)).toDF("id", "v").coalesce(1)
      .write.format("vortex").mode("overwrite").save(dir)
    val e = intercept[IllegalArgumentException] {
      VortexMerge.merge(spark, dir,
        (0L until 100L).map(i => (i, i)).toDF("id", "v"), Seq("id"),
        maxSourceRows = 50)
    }
    assert(e.getMessage.contains("maxSourceRows"))
  }
}
