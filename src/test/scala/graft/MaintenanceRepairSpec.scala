package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.vortex.{VortexDelete, VortexMaintenance}

/** Cross-statement stale-replacement repair, the corner cases of the
  * r10 ADVICE: (1) the partitioned writer reuses ONE basename across
  * every partition directory a task writes, so a crash can leave
  * stale source/replacement pairs in SEVERAL directories at once —
  * all of them must repair, not just one per name; (2) a foldMasks
  * crash between rename-in and delete-source leaves the masked source
  * and its part-fold- replacement coexisting — the fold prefix must
  * be in the repair set and foldMasks must repair before planning. */
class MaintenanceRepairSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("vortex_repair").toString

  private def fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def copy(src: Path, dst: Path): Unit = {
    val in = fs.open(src)
    val out = fs.create(dst, true)
    try {
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n >= 0) { if (n > 0) out.write(buf, 0, n); n = in.read(buf) }
    } finally { in.close(); out.close() }
  }

  test("stale pairs in MULTIPLE partition directories all repair (not one per basename)") {
    import spark.implicits._
    val dir = tmp()
    // one task writes both partition dirs → the SAME basename in each
    (0L until 200L).map(i => (s"p${i % 2}", i)).toDF("p", "v")
      .coalesce(1).write.format("vortex").option("partitionBy", "p")
      .mode("overwrite").save(dir)
    val dataFiles = Seq("p=p0", "p=p1").map { d =>
      fs.listStatus(new Path(dir, d)).map(_.getPath)
        .find(_.getName.endsWith(".vortex")).get
    }
    assert(dataFiles.map(_.getName).distinct.size == 1,
      s"precondition: partitioned writer reuses the basename, got $dataFiles")
    // stage the crash window in BOTH directories: replacement renamed
    // in (faked as a full copy → visible dup rows), source delete lost
    dataFiles.foreach { src =>
      copy(src, new Path(src.getParent, VortexDelete.replacementName(src.getName)))
    }
    // the read-side consistent view resolves each mid-commit pair to
    // its BEFORE state — readers never see the duplicates
    assert(spark.read.format("vortex").load(dir).count() == 200L)

    // a different statement triggers the repair; predicate matches nothing
    val res = VortexDelete.delete(spark, dir, col("v") < 0L)
    assert(res.rowsDeleted == 0L, res)
    assert(CrashJudgmentSpec.uncommitted(spark, dir).isEmpty, "uncommitted state left after the repair")
    val after = spark.read.format("vortex").load(dir)
    assert(after.count() == 200L, "both stale replacements must be dropped")
    assert(after.agg(sum("v")).head().getLong(0) == (0L until 200L).sum)
    Seq("p=p0", "p=p1").foreach { d =>
      val names = fs.listStatus(new Path(dir, d)).map(_.getPath.getName)
      assert(!names.exists(_.startsWith("part-delete-")), s"$d: ${names.toSeq}")
    }
  }

  test("foldMasks crash window (part-fold- replacement) repairs and re-fold converges") {
    import spark.implicits._
    val dir = tmp()
    (0L until 1000L).map(i => (i, i * 2)).toDF("id", "v").coalesce(1)
      .write.format("vortex").mode("overwrite").save(dir)
    VortexDelete.delete(spark, dir, col("id") < 100L, deletionVectors = true)
    val src = fs.listStatus(new Path(dir)).map(_.getPath)
      .find(p => p.getName.endsWith(".vortex") && !p.getName.startsWith("part-fold-")).get
    // stage the fold crash window: the part-fold- replacement renamed
    // in (faked as an unmasked full copy) while the masked source and
    // its sidecar survive — survivor rows would read twice forever,
    // and no DELETE/UPDATE/MERGE used to treat the pair as related
    val foldName = "part-fold-" +
      VortexDelete.replacementName(src.getName).stripPrefix("part-delete-")
    copy(src, new Path(src.getParent, foldName))
    // reads resolve the pair to the before state (consistent view):
    // 900 live rows of the masked source, the fold copy excluded
    assert(spark.read.format("vortex").load(dir).count() == 900L)

    val res = VortexMaintenance.foldMasks(spark, dir)
    assert(res.foldedFiles == 1 && res.rowsDropped == 100L, res)
    assert(CrashJudgmentSpec.uncommitted(spark, dir).isEmpty, "uncommitted state left after the repair")
    val after = spark.read.format("vortex").load(dir)
    assert(after.count() == 900L)
    assert(after.agg(sum("id")).head().getLong(0) == (100L until 1000L).sum)
    val names = fs.listStatus(new Path(dir)).map(_.getPath.getName)
    assert(!names.exists(_.contains(".dv-")), "masks must be gone after fold")
  }

  test("DV-update append-committed/mask-lost window is exactly repaired; committed pairs are not") {
    import spark.implicits._
    import graft.sources.vortex.VortexUpdate
    val dir = tmp()
    (0L until 1000L).map(i => (i, i)).toDF("id", "v").coalesce(1)
      .write.format("vortex").mode("overwrite").save(dir)
    // a real committed DV update first: its updv file pairs with mask seq 1
    val ok = VortexUpdate.update(spark, dir, Map("v" -> lit(-1L)),
      col("id") < 10L, deletionVectors = true)
    assert(ok.maskedFiles == 1, ok)
    val src = fs.listStatus(new Path(dir)).map(_.getPath)
      .find(p => p.getName.endsWith(".vortex") && !p.getName.startsWith("part-updv-")).get
    // stage the crash window of a SECOND update by hand: the append for
    // mask seq 2 committed, the seq-2 mask itself lost — ids 10..19
    // exist twice (old rows live + updated images appended)
    val stageDir = tmp()
    spark.read.format("vortex").load(dir).where(col("id") >= 10L && col("id") < 20L)
      .withColumn("v", lit(-2L)).select("id", "v")
      .coalesce(1).write.format("vortex").mode("overwrite").save(stageDir)
    val staged = fs.listStatus(new Path(stageDir)).map(_.getPath)
      .find(_.getName.endsWith(".vortex")).get
    fs.rename(staged, new Path(src.getParent, VortexUpdate.appendName(src.getName, 2)))
    // reads exclude the orphaned append (seq > newest mask seq)
    assert(spark.read.format("vortex").load(dir).count() == 1000L)
    // any maintenance statement repairs the orphan — and must NOT touch
    // the committed seq-1 pair
    val res = VortexUpdate.update(spark, dir, Map("v" -> lit(9L)),
      col("id") < 0L, deletionVectors = true)
    assert(res.rowsUpdated == 0L, res)
    assert(CrashJudgmentSpec.uncommitted(spark, dir).isEmpty, "uncommitted state left after the repair")
    val after = spark.read.format("vortex").load(dir)
    assert(after.count() == 1000L, "orphaned append must be dropped")
    assert(after.where(col("v") === -1L).count() == 10L, "committed pair intact")
    assert(after.where(col("v") === -2L).count() == 0L)
    assert(after.agg(sum("id")).head().getLong(0) == (0L until 1000L).sum)
  }

  test("a reader planning mid-DELETE sees only before-or-after per-file states") {
    import spark.implicits._
    val dir = tmp()
    (0L until 3000L).map(i => (i, i)).toDF("id", "v")
      .repartitionByRange(3, col("id")).sortWithinPartitions("id")
      .write.format("vortex").mode("overwrite").save(dir)
    // uniform predicate: every file holds exactly 100 matches
    val crashed = intercept[Exception] {
      VortexDelete.deleteImpl(spark, dir, col("id") % 10L === 0L,
        failAfterCommits = 1)
    }
    assert(crashed.getMessage.contains("injected crash"), crashed.getMessage)
    // exactly ONE file committed (its matches gone — ~100, the exact
    // count depends on sampled range boundaries); the other two files
    // are in their BEFORE state. Invariants of per-file
    // before-or-after consistency: no row served twice, only matching
    // rows missing, and only one file's worth of them.
    val frame = spark.read.format("vortex").load(dir)
    val n = frame.count()
    assert(frame.select("id").distinct().count() == n, "a survivor was served twice")
    val missing = spark.range(0, 3000).toDF("id")
      .join(frame, Seq("id"), "left_anti")
    assert(missing.where(col("id") % 10L =!= 0L).count() == 0L,
      "a non-matching row went missing (partial-file state)")
    assert(n < 3000L && n >= 2700L, s"got $n")
    // re-run converges to the full after state
    VortexDelete.delete(spark, dir, col("id") % 10L === 0L)
    assert(CrashJudgmentSpec.uncommitted(spark, dir).isEmpty, "uncommitted state left after the repair")
    assert(spark.read.format("vortex").load(dir).count() == 2700L)
  }

  test("a DELETE also repairs a stale part-fold- pair left by a crashed fold") {
    import spark.implicits._
    val dir = tmp()
    (0L until 500L).map(i => (i, i)).toDF("id", "v").coalesce(1)
      .write.format("vortex").mode("overwrite").save(dir)
    VortexDelete.delete(spark, dir, col("id") < 50L, deletionVectors = true)
    val src = fs.listStatus(new Path(dir)).map(_.getPath)
      .find(p => p.getName.endsWith(".vortex") && !p.getName.startsWith("part-fold-")).get
    val foldName = "part-fold-" +
      VortexDelete.replacementName(src.getName).stripPrefix("part-delete-")
    copy(src, new Path(src.getParent, foldName))
    // reads resolve the pair to the before state (consistent view):
    // 450 live rows (50 masked), the unmasked fold copy excluded
    assert(spark.read.format("vortex").load(dir).count() == 450L)
    // the delete's pre-planning repair must recognize the fold prefix
    val res = VortexDelete.delete(spark, dir, col("id") >= 450L)
    assert(res.rowsDeleted == 50L, res)
    assert(CrashJudgmentSpec.uncommitted(spark, dir).isEmpty, "uncommitted state left after the repair")
    val after = spark.read.format("vortex").load(dir)
    assert(after.count() == 400L) // 50..449 exactly once
    assert(after.agg(sum("id")).head().getLong(0) == (50L until 450L).sum)
  }
}
