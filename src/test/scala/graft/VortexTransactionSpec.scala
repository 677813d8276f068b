package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.vortex.{VortexCommitLog, VortexDelete, VortexMerge,
  VortexTransaction, VortexUpdate}

/** r13 atomic multi-statement groups (VERDICT r12 "What's missing" #2):
  * Engine.withTransaction holds the maintenance lease across N
  * statements, publishes ONE commit-log generation at close, and rolls
  * back to the pre-group snapshot on failure — soft (body throws) or
  * hard (process crash, repaired by the next writer's lock
  * acquisition). */
class VortexTransactionSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()
  lazy val engine: Engine = Engine(spark)

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("vortex_txn").toString

  private def fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def stage(n: Long, files: Int = 4): String = {
    import spark.implicits._
    val dir = tmp()
    (0L until n).map(i => (i, java.lang.Long.valueOf(i * 2), s"g${i % 4}"))
      .toDF("id", "v", "g")
      .repartition(files).write.format("vortex").mode("overwrite").save(dir)
    dir
  }

  private def fingerprint(dir: String): (Long, Long) = {
    val df = spark.read.format("vortex").load(dir)
    (df.count(), df.selectExpr("sum(hash(*))").head.getLong(0))
  }

  // the canonical two-statement group: DELETE some rows, then MERGE a
  // re-scored batch — statements chain (the merge sees the delete)
  private def runGroup(dir: String): Unit = engine.withTransaction(dir) {
    VortexDelete.delete(spark, dir, col("g") === "g0")
    import spark.implicits._
    val src = (0L until 20L).map(i => (i * 4 + 1,
      java.lang.Long.valueOf(-1L), "patched")).toDF("id", "v", "g")
    VortexMerge.merge(spark, dir, src, Seq("id"))
  }

  test("commit: one generation covers the whole group; statements chain") {
    val dir = stage(400)
    val before = fingerprint(dir)
    runGroup(dir)
    val after = spark.read.format("vortex").load(dir)
    assert(after.where(col("g") === "g0").count() == 0L)       // delete landed
    assert(after.where(col("g") === "patched").count() == 20L) // merge landed
    assert(after.count() == 300L)
    // exactly TWO generations: genesis (group open) + the group commit
    assert(VortexCommitLog.latestGen(fs, new Path(dir)).contains(1))
    // gen 0 = complete BEFORE across both statements
    val g0 = spark.read.format("vortex").option("versionAsOf", 0).load(dir)
    assert((g0.count(), g0.selectExpr("sum(hash(*))").head.getLong(0)) == before)
  }

  test("soft failure: body throws at every index -> full rollback each time") {
    val dir = stage(400)
    val before = fingerprint(dir)
    import spark.implicits._
    for (failAt <- 0 to 2) {
      val e = intercept[RuntimeException] {
        engine.withTransaction(dir) {
          if (failAt == 0) throw new RuntimeException("die@0")
          VortexDelete.delete(spark, dir, col("g") === "g0")
          if (failAt == 1) throw new RuntimeException("die@1")
          val src = (0L until 20L).map(i => (i * 4 + 1,
            java.lang.Long.valueOf(-1L), "patched")).toDF("id", "v", "g")
          VortexMerge.merge(spark, dir, src, Seq("id"))
          throw new RuntimeException("die@2")
        }
      }
      assert(e.getMessage.startsWith("die@"), e.getMessage)
      assert(fingerprint(dir) == before, s"rollback at index $failAt must restore BEFORE")
    }
    // and after all that carnage, the group still commits cleanly
    runGroup(dir)
    assert(spark.read.format("vortex").load(dir).count() == 300L)
  }

  test("hard crash before close: next writer rolls the whole group back") {
    val dir = stage(400)
    val before = fingerprint(dir)
    VortexTransaction.crashBeforeCloseForTest = true
    runGroup(dir) // "dies" after both statements, before the close
    // the dead group's intermediate state is on disk; marker present
    // next writer on the dataset triggers recovery FIRST
    VortexUpdate.update(spark, dir, Map("v" -> lit(0L)), col("id") === -1L) // no-op match
    assert(CrashJudgmentSpec.uncommitted(spark, dir).isEmpty, "uncommitted state left after the repair")
    assert(fingerprint(dir) == before,
      "recovery must restore the pre-group state across BOTH statements")
    // recovered dataset still works transactionally
    runGroup(dir)
    assert(spark.read.format("vortex").load(dir).count() == 300L)
  }

  test("rollback across a MID-STATEMENT crash: half-committed replacements and masks (r13)") {
    // statement 1 masks rows (DV tier), statement 2 crashes MID-COMMIT
    // (after one per-file rename, before the rest) — the group rollback
    // must restore the pre-group snapshot through the partially
    // committed wreckage: replaced sources return from retirement with
    // their masks, half-committed replacements delete
    val dir = stage(400)
    val before = fingerprint(dir)
    val e = intercept[RuntimeException] {
      engine.withTransaction(dir) {
        VortexDelete.delete(spark, dir, col("g") === "g0", deletionVectors = true)
        VortexDelete.deleteImpl(spark, dir, col("g") === "g1",
          deletionVectors = false, failAfterCommits = 1)
      }
    }
    assert(e.getMessage.contains("injected"), e.getMessage)
    assert(fingerprint(dir) == before, "pre-group state restored exactly")
    assert(CrashJudgmentSpec.uncommitted(spark, dir).isEmpty, "uncommitted state left after the repair")
    runGroup(dir)
    assert(spark.read.format("vortex").load(dir).count() == 300L)
  }

  test("a reader pinned to the pre-group generation sees BEFORE, mid-group") {
    val dir = stage(400)
    val before = fingerprint(dir)
    engine.withTransaction(dir) {
      VortexDelete.delete(spark, dir, col("g") === "g0")
      // mid-group: a pinned read of the pre-group generation is exact
      val g0 = spark.read.format("vortex").option("versionAsOf", 0).load(dir)
      assert((g0.count(), g0.selectExpr("sum(hash(*))").head.getLong(0)) == before)
      VortexDelete.delete(spark, dir, col("g") === "g1")
    }
    assert(spark.read.format("vortex").load(dir).count() == 200L)
  }

  test("two-dataset group: corpus DELETE + tombstone APPEND are atomic") {
    import spark.implicits._
    val corpus = stage(400)
    val tombs = tmp()
    Seq((-1L, "init")).toDF("id", "why")
      .write.format("vortex").mode("overwrite").save(tombs)
    val beforeC = fingerprint(corpus); val beforeT = fingerprint(tombs)
    // soft failure after both statements: BOTH datasets roll back
    intercept[RuntimeException] {
      engine.withTransaction(corpus, tombs) {
        VortexDelete.delete(spark, corpus, col("g") === "g2")
        spark.read.format("vortex").load(corpus).limit(0) // touch
        Seq((2L, "purged-g2")).toDF("id", "why")
          .write.format("vortex").mode("append").save(tombs)
        throw new RuntimeException("die")
      }
    }
    assert(fingerprint(corpus) == beforeC, "corpus rolls back")
    assert(fingerprint(tombs) == beforeT, "tombstone append rolls back too")
    // and the commit path lands both
    engine.withTransaction(corpus, tombs) {
      VortexDelete.delete(spark, corpus, col("g") === "g2")
      Seq((2L, "purged-g2")).toDF("id", "why")
        .write.format("vortex").mode("append").save(tombs)
    }
    assert(spark.read.format("vortex").load(corpus).count() == 300L)
    assert(spark.read.format("vortex").load(tombs).count() == 2L)
  }

  test("a second writer contends with the group for its whole lifetime") {
    val dir = stage(100)
    engine.withTransaction(dir) {
      VortexDelete.delete(spark, dir, col("g") === "g0")
      // another thread (not the group's) must NOT get the lease
      val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val t = new Thread(() => {
        try VortexDelete.delete(spark, dir, col("g") === "g1")
        catch { case e: Throwable => err.set(e) }
      })
      t.start(); t.join()
      assert(err.get() != null &&
        err.get().getMessage.contains("maintenance"), s"got ${err.get()}")
    }
    // after close the lease is free
    VortexDelete.delete(spark, dir, col("g") === "g1")
    assert(spark.read.format("vortex").load(dir).count() == 50L)
  }

  test("guards: no nesting; no expireVersions inside a group") {
    val dir = stage(40)
    engine.withTransaction(dir) {
      val e1 = intercept[IllegalArgumentException] {
        engine.withTransaction(dir) { () }
      }
      assert(e1.getMessage.contains("nest"))
      val e2 = intercept[IllegalArgumentException] {
        graft.sources.vortex.VortexMaintenance.expireVersions(spark, dir, 1)
      }
      assert(e2.getMessage.contains("transaction"))
      VortexDelete.delete(spark, dir, col("id") === 0L)
    }
    assert(spark.read.format("vortex").load(dir).count() == 39L)
  }

  test("crash AFTER the commit decision: recovery rolls BOTH datasets FORWARD (r14)") {
    import spark.implicits._
    // twin setup: commit the same group normally on a clone to get the
    // expected committed state (deterministic inputs -> same fingerprint)
    val corpusA = stage(400); val tombsA = tmp()
    val corpusB = stage(400); val tombsB = tmp()
    for (t <- Seq(tombsA, tombsB))
      Seq((-1L, "init")).toDF("id", "why")
        .write.format("vortex").mode("overwrite").save(t)
    def group(c: String, t: String): Unit = engine.withTransaction(c, t) {
      VortexDelete.delete(spark, c, col("g") === "g2")
      Seq((2L, "purged-g2")).toDF("id", "why")
        .write.format("vortex").mode("append").save(t)
    }
    group(corpusA, tombsA) // the expected COMMITTED state
    // clone dies right after the decision record, before ANY publish
    VortexTransaction.crashAfterDecisionForTest = true
    group(corpusB, tombsB)
    // markers + decision are on disk; generations unpublished
    // a writer on EACH dataset triggers recovery -> roll FORWARD
    VortexUpdate.update(spark, corpusB, Map("v" -> lit(0L)), col("id") === -1L)
    VortexDelete.delete(spark, tombsB, col("id") === -99L) // no-op writer
    assert(CrashJudgmentSpec.uncommitted(spark, corpusB).isEmpty, "uncommitted state left after the repair")
    assert(CrashJudgmentSpec.uncommitted(spark, tombsB).isEmpty, "uncommitted state left after the repair")
    assert(fingerprint(corpusB) == fingerprint(corpusA),
      "decided group must roll FORWARD, not back")
    assert(fingerprint(tombsB) == fingerprint(tombsA),
      "the second dataset of the decided group rolls forward too")
    // decision record swept once every covered marker is gone (the
    // coordinator's next recovery GCs it)
    VortexDelete.delete(spark, List(corpusB, tombsB).min,
      col("id") === -99L)
    val coordLog = VortexCommitLog.logDir(new Path(List(corpusB, tombsB).min))
    val leftovers = fs.listStatus(coordLog)
      .map(_.getPath.getName).filter(_.startsWith(".txngroup-"))
    assert(leftovers.isEmpty, s"decision record GC'd, got ${leftovers.toSeq}")
  }

  test("a torn decision TEMP never reads as a decision: crashed group rolls BACK; tmp swept (r15)") {
    // r14 review finding: the commit point is bare existence of the
    // FINAL decision path, so the write goes tmp -> atomic rename. A
    // crash mid-write leaves only the tmp — recovery must treat the
    // group as undecided (roll back) and sweep the dead tmp.
    val dir = stage(400)
    val before = fingerprint(dir)
    VortexTransaction.crashBeforeCloseForTest = true
    runGroup(dir) // dies after the body — NO decision was written
    // plant a torn decision TEMP for the dead group's id on the
    // coordinator (this dataset): half a JSON record, rename never ran
    val logDir = VortexCommitLog.logDir(new Path(dir))
    val markerName = fs.listStatus(logDir).map(_.getPath.getName)
      .find(_.startsWith(".txn-")).get
    val id = markerName.stripPrefix(".txn-").stripSuffix(".json")
    val tornTmp = new Path(logDir, s".tmp-txngroup-$id.json")
    val out = fs.create(tornTmp, true)
    out.write(s"""{"id":"$id","roo""".getBytes("UTF-8")); out.close()
    // next writer: recovery must roll BACK (tmp is not a decision)
    VortexUpdate.update(spark, dir, Map("v" -> lit(0L)), col("id") === -1L)
    assert(fingerprint(dir) == before,
      "a torn decision temp must not roll a crashed group forward")
    assert(CrashJudgmentSpec.uncommitted(spark, dir).isEmpty, "uncommitted state left after the repair")
    assert(!fs.exists(tornTmp), "dead decision temp swept by recovery")
  }

  test("close failure after one dataset closed: the rest FINALIZE, never roll back (r14)") {
    import spark.implicits._
    val corpusA = stage(400); val tombsA = tmp()
    val corpusB = stage(400); val tombsB = tmp()
    for (t <- Seq(tombsA, tombsB))
      Seq((-1L, "init")).toDF("id", "why")
        .write.format("vortex").mode("overwrite").save(t)
    def group(c: String, t: String): Unit = engine.withTransaction(c, t) {
      VortexDelete.delete(spark, c, col("g") === "g2")
      Seq((2L, "purged-g2")).toDF("id", "why")
        .write.format("vortex").mode("append").save(t)
    }
    group(corpusA, tombsA) // expected committed state
    // injected close failure after the FIRST dataset fully closed: the
    // decision record exists, so the abort pass must finalize the
    // second dataset forward — high-severity review finding r13 (the
    // old code rolled back the already-published first dataset AND
    // touched datasets whose lease it had released)
    VortexTransaction.failAfterClosedForTest = 1
    val e = intercept[java.io.IOException] { group(corpusB, tombsB) }
    assert(e.getMessage.contains("injected"), e.getMessage)
    assert(fingerprint(corpusB) == fingerprint(corpusA),
      "dataset 1 stays committed")
    assert(fingerprint(tombsB) == fingerprint(tombsA),
      "dataset 2 finalizes forward during abort")
    // both datasets remain fully operational
    group(corpusB, tombsB)
  }

  test("disjoint-dataset groups do not nest either (r14)") {
    val a = stage(40); val b = stage(40)
    engine.withTransaction(a) {
      val e = intercept[IllegalArgumentException] {
        engine.withTransaction(b) { () } // disjoint from a — still rejected
      }
      assert(e.getMessage.contains("nest"))
    }
    // sequential groups over disjoint sets are of course fine
    engine.withTransaction(b) {
      VortexDelete.delete(spark, b, col("id") === 0L)
    }
    assert(spark.read.format("vortex").load(b).count() == 39L)
  }

  test("SQL surface: BEGIN/COMMIT/ROLLBACK VORTEX TRANSACTION parse to the commands (r14)") {
    val p = new graft.plans.GraftSqlParser(spark.sessionState.sqlParser)
    assert(p.parsePlan("BEGIN VORTEX TRANSACTION ON '/a/b', '/c'") ==
      graft.plans.BeginVortexTransactionCommand(Seq("/a/b", "/c")))
    assert(p.parsePlan("begin vortex transaction on '/x';") ==
      graft.plans.BeginVortexTransactionCommand(Seq("/x")))
    assert(p.parsePlan("COMMIT VORTEX TRANSACTION") ==
      graft.plans.EndVortexTransactionCommand(doCommit = true))
    assert(p.parsePlan("rollback vortex") ==
      graft.plans.EndVortexTransactionCommand(doCommit = false))
    // everything else delegates verbatim
    assert(p.parsePlan("SELECT 1").isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan])
    intercept[Exception] { p.parsePlan("COMMIT") } // stock parser rejects
  }

  test("SQL surface semantics: statements between BEGIN and COMMIT form one group (r14)") {
    import graft.sources.vortex.{VortexTransaction => VT}
    val dir = stage(400)
    val before = fingerprint(dir)
    // the thread-local group spans statements exactly like spark.sql
    // BEGIN … COMMIT would (the commands call these same entry points)
    VT.sqlBegin(spark, Seq(dir))
    VortexDelete.delete(spark, dir, col("g") === "g0")
    import spark.implicits._
    val src = (0L until 20L).map(i => (i * 4 + 1,
      java.lang.Long.valueOf(-1L), "patched")).toDF("id", "v", "g")
    VortexMerge.merge(spark, dir, src, Seq("id"))
    VT.sqlEnd(doCommit = true)
    assert(spark.read.format("vortex").load(dir).count() == 300L)
    // exactly genesis + ONE group generation
    assert(VortexCommitLog.latestGen(fs, new Path(dir)).contains(1))
    // explicit ROLLBACK leaves no trace
    val before2 = fingerprint(dir)
    VT.sqlBegin(spark, Seq(dir))
    VortexDelete.delete(spark, dir, col("g") === "g1")
    VT.sqlEnd(doCommit = false)
    assert(fingerprint(dir) == before2, "ROLLBACK restores the pre-group state")
    // guards
    val e1 = intercept[IllegalStateException] { VT.sqlEnd(doCommit = true) }
    assert(e1.getMessage.contains("no open SQL transaction"))
    VT.sqlBegin(spark, Seq(dir))
    val e2 = intercept[IllegalArgumentException] { VT.sqlBegin(spark, Seq(dir)) }
    assert(e2.getMessage.contains("already open"))
    VT.sqlEnd(doCommit = false)
    assert(before._1 == 400L) // silence unused warning; staging sanity
  }

  test("out-of-band append during a group joins its fate (r14 contract pin)") {
    import spark.implicits._
    val dir = stage(100)
    val before = fingerprint(dir)
    // rollback removes the appended file (it is not in the pre-group snapshot)
    intercept[RuntimeException] {
      engine.withTransaction(dir) {
        Seq((9999L, java.lang.Long.valueOf(1L), "app")).toDF("id", "v", "g")
          .write.format("vortex").mode("append").save(dir)
        throw new RuntimeException("die")
      }
    }
    assert(fingerprint(dir) == before, "rolled-back group removes its append")
    // commit keeps it, under the group's single generation
    engine.withTransaction(dir) {
      VortexDelete.delete(spark, dir, col("g") === "g0")
      Seq((9999L, java.lang.Long.valueOf(1L), "app")).toDF("id", "v", "g")
        .write.format("vortex").mode("append").save(dir)
    }
    val after = spark.read.format("vortex").load(dir)
    assert(after.where(col("g") === "app").count() == 1L)
    assert(after.count() == 76L)
  }

  test("crash between generation publish and marker delete finalizes, not rolls back") {
    val dir = stage(100)
    // run a real group, then re-create its marker as if the close died
    // after the publish: recovery must finalize (keep the committed
    // state), never roll a visible commit back
    runGroup(dir)
    val committed = fingerprint(dir)
    val mdir = VortexCommitLog.logDir(new Path(dir))
    val mp = new Path(mdir, ".txn-deadbeef.json")
    val out = fs.create(mp, false)
    out.write("""{"id":"deadbeef","pregen":0,"gen":1}""".getBytes("UTF-8"))
    out.close()
    VortexDelete.delete(spark, dir, col("id") === -1L) // no-op writer → recovery
    assert(CrashJudgmentSpec.uncommitted(spark, dir).isEmpty, "uncommitted state left after the repair")
    assert(!fs.exists(mp), "marker finalized away")
    assert(fingerprint(dir) == committed, "committed state untouched")
  }
}
