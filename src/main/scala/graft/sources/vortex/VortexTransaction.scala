package graft.sources.vortex

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Atomic multi-statement groups (VERDICT r12 "What's missing" #2):
  * `Engine.withTransaction("dirA", …) { body }` runs N maintenance
  * statements (and plain appends) against the declared datasets as ONE
  * atomic unit — the corpus-hygiene shape `DELETE FROM corpus … ;
  * INSERT INTO tombstones …` either fully lands or fully disappears.
  * The reference inherits BEGIN/COMMIT from its host database's
  * transaction manager; a standalone directory format composes it from
  * the pieces this engine already has:
  *
  *  - **One lease per dataset, held across the whole group**
  *    ([[MaintenanceLock]]; roots acquired in sorted order so two
  *    groups can never deadlock). Statements inside the group detect
  *    the held lease through the thread-local registry and run under
  *    it instead of acquiring their own.
  *  - **One commit-log generation per dataset, published at group
  *    close** ([[VortexCommitLog]]; the group OPEN forces the log on —
  *    genesis/catch-up — and hands every inner statement a deferred
  *    [[VortexCommitLog.Ctx]]: same retirement machinery, all files
  *    retire under the GROUP's generation number, no per-statement
  *    publish). A reader pinned to the pre-group generation therefore
  *    sees the complete BEFORE state across every statement and every
  *    file, mid-group or after.
  *  - **Crash = rollback to the pre-group snapshot.** The open writes a
  *    dot-hidden marker (`.vortex-commits/.txn-<id>.json`, pre-group
  *    generation inside) per dataset. A soft failure (body throws)
  *    rolls back immediately; a hard crash leaves the marker, and the
  *    next writer on the dataset (lock acquisition,
  *    [[recoverIfCrashed]]) restores the snapshot: retired files move
  *    back, files absent from the snapshot (replacements, merge
  *    inserts, new masks, appends) delete. Restores are
  *    metadata-only renames — the inverse of retirement.
  *
  * Disclosed contract bounds (FORMAT.md §transactions):
  *  - PLAIN (unpinned) reads mid-group keep only the per-file
  *    before-or-after consistency of ordinary maintenance — pin the
  *    pre-group generation for a transactional read.
  *  - Out-of-band appends to a covered dataset DURING the group join
  *    the transaction's fate: a rollback removes them (they are not in
  *    the pre-group snapshot). Don't ingest into a dataset while a
  *    group that covers it is open.
  *  - The body runs statements from the opening thread (the registry
  *    is thread-local — driver-side statements are single-threaded
  *    anyway; the distributed work inside each statement is unaffected).
  */
object VortexTransaction {

  final class Txn private[VortexTransaction] (
      val rootQ: String, val fs: FileSystem, val root: Path,
      val lease: MaintenanceLock.Lease, val preGen: Int, val gen: Int,
      val marker: Path) {
    /** the deferred per-statement commit context: statements retire
      * under the group's generation; publish happens at group close */
    val ctx: VortexCommitLog.Ctx = VortexCommitLog.deferredCtx(fs, root, gen)
  }

  private val active = new ThreadLocal[Map[String, Txn]] {
    override def initialValue(): Map[String, Txn] = Map.empty
  }

  /** the open transaction covering this dataset on this thread, if any */
  def current(rootQ: String): Option[Txn] = active.get.get(rootQ)

  private val MarkerPrefix = ".txn-"
  private val DecisionPrefix = ".txngroup-"

  private def writeMarker(fs: FileSystem, root: Path, id: String,
                          preGen: Int, gen: Int, coord: String): Path = {
    val dir = VortexCommitLog.logDir(root)
    fs.mkdirs(dir)
    val p = new Path(dir, s"$MarkerPrefix$id.json")
    val out = fs.create(p, false) // the id is unique; never overwrite
    try out.write((s"""{"id":"$id","pregen":$preGen,"gen":$gen,""" +
      s""""coord":${quote(coord)}}""").getBytes("UTF-8"))
    finally out.close()
    p
  }

  private def quote(s: String): String =
    new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(s)

  /** THE atomic commit point of a group (2PC presumed-abort): one
    * no-overwrite create in the COORDINATOR dataset's log dir, written
    * after the body and before ANY per-dataset generation publish.
    * Recovery of any covered dataset rolls FORWARD once this file
    * exists (the group committed), BACK while it does not. Carries the
    * full root list so any dataset's recovery can garbage-collect it
    * once every covered marker is gone. */
  private[graft] def decisionPath(coordRoot: Path, id: String): Path =
    new Path(VortexCommitLog.logDir(coordRoot), s"$DecisionPrefix$id.json")

  /** temp name for the decision write — deliberately NOT matching
    * [[DecisionPrefix]] so a torn temp is never mistaken for a decision
    * and never keeps gcDecisions spinning on an unreadable record */
  private[graft] def decisionTmpPath(coordRoot: Path, id: String): Path =
    new Path(VortexCommitLog.logDir(coordRoot), s".tmp-txngroup-$id.json")

  /** Write-to-temp + atomic rename (review-found r14): the commit point
    * is bare EXISTENCE of the final path, so a create-then-write there
    * could leave a torn-but-existing file that recovery reads as
    * "decided" while abort (decision == None) rolls back — half
    * forward, half back. With the rename, existence == complete record. */
  private def writeDecision(fs: FileSystem, coordRoot: Path, id: String,
                            roots: Seq[String]): Path = {
    val p = decisionPath(coordRoot, id)
    val tmp = decisionTmpPath(coordRoot, id)
    try {
      val out = fs.create(tmp, true)
      try out.write((s"""{"id":"$id","roots":[""" +
        roots.map(quote).mkString(",") + "]}").getBytes("UTF-8"))
      finally out.close()
      if (!fs.rename(tmp, p))
        throw new java.io.IOException(
          s"vortex transaction: decision rename $tmp -> $p failed")
      p
    } catch { case t: Throwable =>
      try fs.delete(tmp, false) catch { case _: Exception => () }
      throw t
    }
  }

  /** Indeterminate coordinator reads RETHROW (review-found r14): a
    * transient failure here must not default to "no decision" — that
    * would roll a DECIDED group back on this dataset while siblings
    * finalized forward. Only a confirmed not-found means undecided;
    * anything else leaves the marker in place for a later retry. */
  private def decisionExists(conf: Configuration, coord: String,
                             id: String): Boolean =
    if (coord == null || coord.isEmpty) false
    else {
      val cr = new Path(coord)
      try cr.getFileSystem(conf).exists(decisionPath(cr, id))
      catch {
        case _: java.io.FileNotFoundException => false
        case e: Exception => throw new java.io.IOException(
          s"vortex transaction: cannot determine the commit decision of " +
          s"group $id at coordinator $coord — marker kept for retry", e)
      }
    }

  private def listMarkers(fs: FileSystem, root: Path): Seq[Path] =
    (try fs.listStatus(VortexCommitLog.logDir(root)).toSeq
     catch { case _: Exception => Seq.empty })
      .map(_.getPath).filter(_.getName.startsWith(MarkerPrefix))

  /** Crash recovery, called under the dataset lease BEFORE any repair
    * or planning (every writer path goes through
    * [[MaintenanceLock.withLock]], which calls this): a leftover
    * transaction marker means a group died before close — roll the
    * dataset back to its pre-group snapshot. Returns markers processed. */
  def recoverIfCrashed(fs: FileSystem, root: Path): Int = {
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    val markers = listMarkers(fs, root)
    markers.foreach { mp =>
      // marker unreadable/torn → it was being written at the group
      // open, BEFORE any statement ran — nothing to roll back
      val parsed: Option[(String, Int, Int, String)] =
        try {
          val in = fs.open(mp)
          val bytes = try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
                      finally in.close()
          val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(bytes)
          Some((n.get("id").asText(), n.get("pregen").asInt(),
            n.get("gen").asInt(),
            if (n.has("coord")) n.get("coord").asText() else null))
        } catch { case _: java.io.FileNotFoundException => None
                  case _: com.fasterxml.jackson.core.JacksonException => None }
      parsed.foreach { case (id, p, g, coord) =>
        // the group's generation already published → the group
        // COMMITTED and died between publish and marker delete:
        // finalize (drop the marker), never roll back a visible commit
        if (VortexCommitLog.latestGen(fs, root).exists(_ >= g))
          log.warn(
            s"vortex transaction: finalized committed group ${mp.getName} " +
            s"on $root (generation $g published; crash before marker delete)")
        else if (decisionExists(fs.getConf, coord, id)) {
          // the group DECIDED to commit (decision record on the
          // coordinator) and died before publishing THIS dataset's
          // generation — roll FORWARD: every statement's file effect is
          // already on disk (retirements are per-statement renames), so
          // publishing the current state IS the deferred group publish
          VortexCommitLog.deferredCtx(fs, root, g).publishNow()
          log.warn(
            s"vortex transaction: rolled FORWARD committed group " +
            s"${mp.getName} on $root (decision record present at $coord; " +
            s"crash before generation $g published)")
        } else {
          rollbackTo(fs, root, p)
          log.warn(
            s"vortex transaction: rolled back crashed group ${mp.getName} on " +
            s"$root to pre-group generation $p")
        }
      }
      fs.delete(mp, false)
    }
    gcDecisions(fs, root)
    markers.length
  }

  /** GC decision records whose group has no surviving marker on ANY
    * covered dataset (each dataset's recovery deletes its own marker;
    * the coordinator's next recovery sweeps the decision once all are
    * gone). Read-only checks on other roots — no lease needed. */
  private def gcDecisions(fs: FileSystem, root: Path): Unit = {
    val entries = (try fs.listStatus(VortexCommitLog.logDir(root)).toSeq
     catch { case _: Exception => Seq.empty }).map(_.getPath)
    // orphan decision TEMPS are dead garbage: writers serialize under the
    // dataset lease (gcDecisions runs inside recoverIfCrashed, under it),
    // so a surviving tmp belongs to a crashed write whose rename never
    // happened — it was never a decision and never will be
    entries.filter(_.getName.startsWith(".tmp-txngroup-"))
      .foreach(p => try fs.delete(p, false) catch { case _: Exception => () })
    entries.filter(_.getName.startsWith(DecisionPrefix))
      .foreach { dp =>
        val alive =
          try {
            val in = fs.open(dp)
            val bytes = try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
                        finally in.close()
            val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(bytes)
            val id = n.get("id").asText()
            val rs = n.get("roots")
            (0 until rs.size()).exists { i =>
              val r = new Path(rs.get(i).asText())
              val rfs = r.getFileSystem(fs.getConf)
              rfs.exists(new Path(VortexCommitLog.logDir(r),
                s"$MarkerPrefix$id.json"))
            }
          } catch { case _: Exception => true } // unreadable → keep
        if (!alive) fs.delete(dp, false)
      }
  }

  /** Restore the dataset's live state to generation `preGen`'s
    * snapshot: every snapshot entry missing from its original path
    * renames back from a later retired area; every live data file or
    * mask NOT in the snapshot deletes (it was created by the dead
    * group). Inverse-of-retirement — metadata-only renames. */
  private def rollbackTo(fs: FileSystem, root: Path, preGen: Int): Unit = {
    val conf = fs.getConf
    val rootQ = fs.makeQualified(root).toString
    val snap = VortexCommitLog.readSnapshot(fs, root, preGen)
    val wantFiles: Map[String, Long] = snap.files.map(e => e.relPath -> e.len).toMap
    val wantMasks: Map[String, Long] = snap.files.filter(_.maskRel != null)
      .map(e => e.maskRel -> e.maskLen).toMap
    val laterRetired: Seq[Int] =
      (try fs.listStatus(VortexCommitLog.retiredRoot(root)).toSeq
       catch { case _: Exception => Seq.empty })
        .flatMap(s => scala.util.Try(s.getPath.getName.toInt).toOption)
        .filter(_ > preGen).sorted
    def relOf(p: Path): String =
      fs.makeQualified(p).toString.stripPrefix(rootQ).stripPrefix("/")
    // current live state — the RAW walk, including UNBOUND mask
    // sidecars: a statement that crashed between its source removal
    // and its dropMasks leaves an ORPHAN mask at its original path
    // (bound to no live file); the bound-only view would miss it and
    // the restore below would wrongly hunt the retired areas for a
    // mask that never left (review-found r13)
    val (listed, rawMasks, markers) =
      PartitionedLayout.listWithPartitionsMasksAndMarkers(root, conf)
    val liveFiles: Map[String, Path] =
      listed.map(f => relOf(f._1.getPath) -> f._1.getPath).toMap
    val liveMasks: Map[String, Path] =
      rawMasks.map(p => relOf(p) -> p).toMap
    // 1. delete everything the dead group created
    (liveFiles -- wantFiles.keySet).values.foreach(p => fs.delete(p, false))
    (liveMasks -- wantMasks.keySet).values.foreach(p => fs.delete(p, false))
    // 2. restore everything the dead group retired
    def restore(rel: String, len: Long): Unit =
      if (!liveFiles.contains(rel) && !liveMasks.contains(rel)) {
        val dst = new Path(root, rel)
        val src = laterRetired.iterator
          .map(g => new Path(VortexCommitLog.retiredDir(root, g), rel))
          .find(p => try fs.getFileStatus(p).getLen == len
                     catch { case _: Exception => false })
          .getOrElse(throw new java.io.IOException(
            s"vortex transaction rollback: '$rel' (len $len) of generation " +
            s"$preGen is in no later retired area — cannot restore"))
        fs.mkdirs(dst.getParent)
        if (!fs.rename(src, dst))
          throw new java.io.IOException(
            s"vortex transaction rollback: rename $src -> $dst failed")
      }
    wantFiles.foreach { case (rel, len) => restore(rel, len) }
    wantMasks.foreach { case (rel, len) => restore(rel, len) }
    // 2b. purge the dead group's retired areas: what remains there
    //     after the restores are INTERMEDIATE corpses — files a later
    //     statement of the dead group retired that never existed at
    //     preGen (e.g. statement 1's part-delete replacement retired by
    //     statement 2's rewrite). Writers serialize, so every
    //     retired/<M> with M > preGen belongs to the dead group; left
    //     in place they collide with the next group's retire renames.
    laterRetired.foreach { g =>
      try fs.delete(VortexCommitLog.retiredDir(root, g), true)
      catch { case _: Exception => () }
    }
    // 3. the dead group's compact markers (if it crashed mid-compact)
    //    reference state this rollback just rewrote — drop them so the
    //    next statement's repair cannot re-apply the dead removals
    markers.foreach(p => fs.delete(p, false))
    // 4. this JVM may hold mask-cache entries for sidecars the rollback
    //    just deleted whose paths a later statement will REUSE at seq 1
    //    (the cache key also carries len+mtime — this clear makes
    //    same-process reuse exact even at coarse mtime granularity)
    DeletionVector.clearCache()
  }

  /** TEST SEAM: when set, run() "dies" after the body, before the
    * close — the hard-crash window recoverIfCrashed must repair. */
  private[graft] var crashBeforeCloseForTest: Boolean = false

  /** TEST SEAM: when set, run() "dies" right after the group
    * commit-decision record is written, before ANY per-dataset publish
    * — recovery must roll every covered dataset FORWARD. */
  private[graft] var crashAfterDecisionForTest: Boolean = false

  /** TEST SEAM: when >= 0, the commit pass throws after this many
    * datasets have fully closed — the abort pass must FINALIZE the
    * remainder (decision record exists), never roll back. */
  private[graft] var failAfterClosedForTest: Int = -1

  /** TEST SEAM: simulate a hard process crash mid-group — drop the
    * thread-local registry and release the in-memory leases (a real
    * crash kills the JVM gate and lets the file lease go TTL-stale;
    * tests cannot wait 15 min) while leaving markers, retired files and
    * intermediate state EXACTLY as a crash would. The next writer's
    * [[recoverIfCrashed]] must roll everything back. */
  private[graft] def simulateCrashForTest(): Unit = {
    active.get.values.foreach(_.lease.release())
    active.set(Map.empty)
  }

  /** An open group's handle: the still-open txns (lease held, marker
    * present) and, once [[commit]] writes it, the decision record.
    * Created by [[open]]; closed by [[commit]] or [[abort]]. The SQL
    * statement surface (`BEGIN/COMMIT/ROLLBACK VORTEX TRANSACTION`)
    * holds one of these thread-locally between statements. */
  final class Group private[VortexTransaction] (
      val id: String,
      private[VortexTransaction] var opened: List[Txn],
      private[VortexTransaction] val conf: Configuration) {
    private[VortexTransaction] var decision: Option[(FileSystem, Path)] = None
  }

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private def closeOne(t: Txn): Unit = {  // caller removes t from `opened`
    active.set(active.get - t.rootQ)
    t.lease.release()
  }

  /** publish t's generation (idempotent: skip if already published)
    * and drop its marker — the commit-side close of one dataset */
  private def finalizeForward(t: Txn): Unit = {
    if (!VortexCommitLog.latestGen(t.fs, t.root).exists(_ >= t.gen))
      t.ctx.publishNow()
    t.fs.delete(t.marker, false)
  }

  /** Open a group: one lease + marker + deferred commit context per
    * dataset, acquired in canonical-qualified-name order (two groups
    * over overlapping sets contend instead of deadlocking). Rejects
    * ANY open group on this thread, disjoint sets included
    * (review-found r13: the old per-root check allowed disjoint
    * nesting). On a partial-open failure the already-opened datasets
    * are rolled back (nothing ran yet — the rollback is a no-op
    * restore) and leases released. */
  def open(spark: SparkSession, roots: Seq[String]): Group = {
    require(roots.nonEmpty, "vortex transaction: no datasets declared")
    require(active.get.isEmpty,
      "vortex transaction: groups do not nest (a group is already open " +
      "on this thread)")
    val conf = spark.sessionState.newHadoopConf()
    val id = java.util.UUID.randomUUID().toString.take(12)
    val g = new Group(id, Nil, conf)
    // qualify up front: acquisition order AND the coordinator choice
    // key on the canonical qualified name, so two groups over
    // overlapping sets agree regardless of how callers spelled paths
    val qualified = roots.map { r =>
      val root = new Path(r)
      val fs = root.getFileSystem(conf)
      (fs.makeQualified(root).toString, root, fs)
    }.distinctBy(_._1).sortBy(_._1)
    val coordQ = qualified.head._1
    try {
      qualified.foreach { case (rootQ, root, fs) =>
        require(fs.exists(root),
          s"vortex transaction: dataset $root does not exist — create it first")
        val lease = MaintenanceLock.acquire(fs, root, "transaction")
        try {
          recoverIfCrashed(fs, root) // an earlier group's corpse
          // force the commit log on (genesis / catch-up): retirement is
          // what makes rollback and pinned BEFORE-reads possible
          val preGen = VortexCommitLog.ensureCurrent(spark, fs, root, conf)
          val marker = writeMarker(fs, root, id, preGen, preGen + 1, coordQ)
          val txn = new Txn(rootQ, fs, root, lease, preGen, preGen + 1, marker)
          active.set(active.get + (rootQ -> txn))
          g.opened = txn :: g.opened
        } catch { case t: Throwable =>
          lease.release(); throw t }
      }
      g
    } catch { case t: Throwable =>
      try abort(g, t) catch { case s: Throwable => t.addSuppressed(s) }
      throw t
    }
  }

  /** Commit protocol (2PC presumed-abort; review-found r13): ONE group
    * decision record is created atomically on the coordinator
    * (smallest qualified root) BEFORE any per-dataset generation
    * publish. That create is the commit point: from then on the group
    * is committed — a close error after it surfaces as an exception
    * but [[abort]] (and any later writer's [[recoverIfCrashed]])
    * FINALIZES the remaining datasets forward, never rolls a decided
    * group back. Callers must pair a thrown commit with [[abort]]
    * (run() and the SQL COMMIT command both do). */
  def commit(g: Group): Unit = {
    val crashAfterDecision = crashAfterDecisionForTest
    crashAfterDecisionForTest = false
    val failAfterClosed = failAfterClosedForTest
    failAfterClosedForTest = -1
    val coordTxn = g.opened.minBy(_.rootQ)
    g.decision = Some((coordTxn.fs,
      writeDecision(coordTxn.fs, coordTxn.root, g.id,
        g.opened.map(_.rootQ).sorted)))
    if (crashAfterDecision) { simulateCrashForTest(); return }
    var closed = 0
    while (g.opened.nonEmpty) {
      if (failAfterClosed >= 0 && closed == failAfterClosed)
        throw new java.io.IOException(
          s"injected close failure after $closed datasets (test seam)")
      val t = g.opened.head
      finalizeForward(t)
      closeOne(t)
      g.opened = g.opened.tail
      closed += 1
    }
    g.decision.foreach { case (dfs, dp) => dfs.delete(dp, false) }
    g.decision = None
  }

  /** Abort pass: only touches datasets whose lease is still held
    * (fully-closed ones left the open list as they closed). A group
    * that already DECIDED to commit (decision on disk, or a published
    * generation) finalizes FORWARD; an undecided group rolls back. A
    * dataset whose finalize/rollback itself fails keeps its marker for
    * the next writer's recovery rather than being half-processed. */
  def abort(g: Group, primary: Throwable): Unit = {
    while (g.opened.nonEmpty) {
      val t = g.opened.head
      try {
        val committed =
          g.decision.exists { case (dfs, dp) =>
            try dfs.exists(dp) catch { case _: Exception => true } } ||
          VortexCommitLog.latestGen(t.fs, t.root).exists(_ >= t.gen)
        if (committed) {
          finalizeForward(t)
          log.warn(s"vortex transaction: finalized decided group ${g.id} " +
            s"on ${t.root} during abort (close failed after the commit point)")
        } else {
          // best-effort clear any decision leftovers (tmp or final) on
          // the coordinator BEFORE this marker goes (open acquires in
          // sorted order, so minBy over the remaining prefix IS the
          // group coordinator): once no decision can materialize, a
          // later recovery of any sibling can only roll back too
          val coord = g.opened.minBy(_.rootQ)
          try coord.fs.delete(decisionTmpPath(coord.root, g.id), false)
          catch { case _: Exception => () }
          try coord.fs.delete(decisionPath(coord.root, g.id), false)
          catch { case _: Exception => () }
          rollbackTo(t.fs, t.root, t.preGen)
          t.fs.delete(t.marker, false)
          log.warn(s"vortex transaction: rolled back group ${g.id} on ${t.root}")
        }
      } catch { case s: Throwable =>
        primary.addSuppressed(s)
        log.error(s"vortex transaction: close of ${g.id} on ${t.root} failed; " +
          "marker left for next-writer recovery", s)
      } finally {
        closeOne(t)
        g.opened = g.opened.tail
      }
    }
    // GC the decision if every covered marker is gone (all datasets
    // finalized above); a kept decision is swept by a later recovery
    g.decision.foreach { case (dfs, dp) =>
      try {
        val n = {
          val in = dfs.open(dp)
          val bytes = try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
                      finally in.close()
          new com.fasterxml.jackson.databind.ObjectMapper().readTree(bytes)
        }
        val rs = n.get("roots")
        val anyMarker = (0 until rs.size()).exists { i =>
          val r = new Path(rs.get(i).asText())
          r.getFileSystem(g.conf).exists(
            new Path(VortexCommitLog.logDir(r), s"$MarkerPrefix${g.id}.json"))
        }
        if (!anyMarker) dfs.delete(dp, false)
      } catch { case _: Exception => () }
    }
  }

  /** the SQL statement surface's open group (BEGIN … COMMIT/ROLLBACK
    * span statements, so the handle lives between spark.sql calls on
    * the issuing thread) */
  private val sqlOpen = new ThreadLocal[Option[Group]] {
    override def initialValue(): Option[Group] = None
  }
  private[graft] def sqlBegin(spark: SparkSession, roots: Seq[String]): Unit = {
    require(sqlOpen.get.isEmpty,
      "vortex transaction: a SQL transaction is already open on this thread — " +
      "COMMIT or ROLLBACK it first")
    sqlOpen.set(Some(open(spark, roots)))
  }
  private[graft] def sqlEnd(doCommit: Boolean): Unit = {
    val g = sqlOpen.get.getOrElse(throw new IllegalStateException(
      "vortex transaction: no open SQL transaction on this thread — BEGIN first"))
    sqlOpen.set(None)
    if (doCommit) {
      try commit(g)
      catch { case t: Throwable =>
        try abort(g, t) catch { case s: Throwable => t.addSuppressed(s) }
        throw t
      }
    } else {
      abort(g, new RuntimeException("explicit ROLLBACK"))
    }
  }

  /** Run `body` as one atomic group over `roots`. See the class doc
    * and [[open]]/[[commit]]/[[abort]] for the protocol. */
  def run[T](spark: SparkSession, roots: Seq[String])(body: => T): T = {
    // consume the crash seam at ENTRY: a body that throws must not
    // leave a flag armed for an unrelated later group (the fuzz
    // harness runs thousands of cases in one JVM)
    val crashAfterBody = crashBeforeCloseForTest
    crashBeforeCloseForTest = false
    val g = open(spark, roots)
    try {
      val out = body
      if (crashAfterBody) {
        simulateCrashForTest()
        return out
      }
      commit(g)
      out
    } catch { case t: Throwable =>
      try abort(g, t)
      catch { case s: Throwable => t.addSuppressed(s) }
      throw t
    }
  }
}
