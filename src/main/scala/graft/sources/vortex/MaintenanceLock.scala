package graft.sources.vortex

import org.apache.hadoop.fs.{FileSystem, Path}

/** Two maintenance statements racing on one dataset can silently lose
  * updates (VERDICT r11 "What's wrong" #1). */
class ConcurrentMaintenanceException(msg: String)
    extends IllegalStateException(msg)

/** Writer-vs-writer mutual exclusion for the maintenance ops — THE
  * concurrency contract of this engine, in one place:
  *
  *  - **Readers never take a lock.** A reader planning during a
  *    maintenance commit gets per-file before-or-after consistency:
  *    every listing hides what the one crash judgment
  *    (MaintenanceCommit.uncommitted) finds uncommitted;
  *    a reader pinning a commit-log generation (VortexCommitLog,
  *    `versionAsOf`) gets statement-level snapshot isolation.
  *  - **Writers serialize through this lock.** Every maintenance
  *    statement (DELETE / UPDATE / MERGE / foldMasks / compact) holds
  *    the dataset's lock for its whole lifetime — pre-planning repair,
  *    candidate planning, the distributed classify/rewrite job, and
  *    the driver commit. Without it, two statements sharing a
  *    candidate file would compute the SAME deterministic replacement
  *    name (names derive from the source basename alone — that is what
  *    makes single-statement crash re-runs converge) and could
  *    interleave into a lost update: statement A's deletions silently
  *    resurrected by statement B's rename. A second writer arriving
  *    while the lock is held fails LOUDLY with
  *    [[ConcurrentMaintenanceException]] — callers retry after the
  *    holder finishes; nothing ever silently merges.
  *  - The reference engine inherits this from its host database's
  *    transaction manager (reference `.gitmodules:1-3` pins the host
  *    DB engine); a standalone directory format needs its own.
  *
  * Mechanism — a LEASE file at `<root>/.vortex-maint.lock` (dot-hidden:
  * invisible to every data listing):
  *
  *  1. Acquire = a JVM-wide tryLock on the qualified lease path FIRST
  *     (two statements in one driver — the common local-mode shape, and
  *     what the race fuzz exercises — serialize deterministically
  *     without touching the file), then one exclusive create of the
  *     lease holding a unique holder id. On the local (`file`) scheme
  *     the create is NIO's `CREATE_NEW` (O_EXCL): atomic across
  *     processes, so the create alone decides the race. Every other
  *     scheme goes through Hadoop's `create(overwrite = false)`, which
  *     is not atomic everywhere (S3aLiteFileSystem's is exists-check +
  *     PUT; RawLocalFileSystem's is exists-check + truncating create —
  *     fuzz-found r12), so there the winner reads its id back, waits a
  *     25 ms settle and reads it again: a racer whose create slipped
  *     through the exists-check overwrote the lease and the loser sees
  *     it. The settle re-verify also runs on the local scheme after the
  *     acquirer broke a stale lease, where the delete of the stale file
  *     can race another breaker's fresh create.
  *  2. The holder heartbeats (rewrites the lease every ttl/5 from a
  *     daemon thread), so a long-running rewrite job keeps its lease
  *     while a CRASHED writer's lease goes stale and is broken by the
  *     next acquirer after `ttlMs` (default 15 min) — crashed
  *     statements never wedge the dataset.
  *  3. Release deletes the lease iff the holder id still matches
  *     (a broken-and-reacquired lease is never deleted by the old
  *     holder).
  *
  * On the local scheme every lease read, rewrite and delete goes
  * through NIO too, never through Hadoop's checksummed LocalFileSystem:
  * a lease NIO wrote has no `.crc`, and a stale `.vortex-maint.lock.crc`
  * beside it would fail LocalFileSystem's checksum, so the holder check
  * would read nothing and release would leave the lease to its TTL.
  *
  * Granularity is the DATASET ROOT — coarse by design: maintenance
  * statements are rare, whole-dataset operations; per-file locking
  * would re-introduce the interleaving this exists to prevent.
  */
private[graft] object MaintenanceLock {

  val DefaultTtlMs: Long = 15L * 60 * 1000
  private val LockName = ".vortex-maint.lock"

  /** same-process serialization, keyed on the qualified lease path —
    * see the acquisition contract in the class scaladoc. A Semaphore
    * (not ReentrantLock) so a Lease may be released from a DIFFERENT
    * thread than acquired it (cleanup executors, shutdown hooks) —
    * a swallowed owner-mismatch unlock would wedge the dataset for
    * the process lifetime (review-found r12). Entries are REFCOUNTED
    * and evicted at zero so a long-lived driver touching many
    * datasets (the fuzz harness stages thousands of temp dirs in one
    * JVM) does not grow the map unboundedly; compute() is atomic per
    * key, so acquire-vs-evict never hands out a removed gate. */
  private final class Gate {
    val sem = new java.util.concurrent.Semaphore(1)
    var refs = 0 // guarded by the map's per-key compute lock
  }
  private val jvmLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Gate]()

  private def gateAcquire(key: String): Option[Gate] = {
    val g = jvmLocks.compute(key, (_, old) => {
      val gg = if (old == null) new Gate else old
      gg.refs += 1
      gg
    })
    if (g.sem.tryAcquire()) Some(g)
    else { gateRelease(key, g, held = false); None }
  }
  private def gateRelease(key: String, g: Gate, held: Boolean): Unit = {
    if (held) g.sem.release()
    jvmLocks.compute(key, (_, old) => {
      if (old == null) null
      else { old.refs -= 1; if (old.refs <= 0) null else old }
    })
    ()
  }

  final class Lease private[MaintenanceLock] (file: LeaseFile, val id: String, ttlMs: Long,
                                              gateKey: String, gate: Gate) {
    // CAS, not a volatile check-then-act: release() may legitimately be
    // called from a DIFFERENT thread than acquired the lease (cleanup
    // executors, shutdown hooks — the reason Gate is a Semaphore), so
    // two concurrent release() calls could both pass a plain flag guard
    // and release the semaphore twice, leaving permits=2 and silently
    // defeating same-process mutual exclusion thereafter (review-found
    // r12). compareAndSet makes the gate release exactly-once.
    private val releasedFlag = new java.util.concurrent.atomic.AtomicBoolean(false)
    private def released: Boolean = releasedFlag.get()
    @volatile private var lost = false
    private val beat = new Thread(() => {
      try while (!released && !lost) {
        Thread.sleep(math.max(ttlMs / 5, 1000L))
        // verify BEFORE re-asserting: a holder that stalled past the
        // TTL may have had its lease legitimately broken and taken by
        // another writer — blindly rewriting would clobber the new
        // holder's lease and put two writers in flight (review-found
        // r12). A lost lease stops the heartbeat (never re-asserts);
        // the loss is loudly logged for the operator, and release()
        // still frees the JVM gate.
        if (!released) {
          if (file.holder.contains(id)) file.rewrite(id)
          else {
            lost = true
            org.slf4j.LoggerFactory.getLogger(getClass).error(
              s"vortex maintenance: lease ${file.path} lost by holder $id " +
              "(stalled past TTL and broken by another writer) — " +
              "heartbeat stopped; results of this statement may interleave")
          }
        }
      } catch { case _: InterruptedException => () }
    }, s"vortex-maint-lease-$id")
    beat.setDaemon(true)
    beat.start()

    def release(): Unit = if (releasedFlag.compareAndSet(false, true)) {
      beat.interrupt()
      // a lost lease belongs to another writer now — never delete it
      try if (!lost && file.holder.contains(id)) file.delete()
      catch { case _: Exception => () } // breaker's TTL reclaims it
      gateRelease(gateKey, gate, held = true)
    }
  }

  /** The lease file's reads and writes. On the local scheme each goes
    * through NIO, so the create is one O_EXCL create and no call ever
    * meets a checksum file (see the mechanism above); on every other
    * scheme each goes through `fs`. */
  private[MaintenanceLock] final class LeaseFile(fs: FileSystem, val path: Path) {
    import java.nio.file.{Files, StandardOpenOption}
    private val local: java.nio.file.Path =
      if (fs.getUri.getScheme == "file") java.nio.file.Paths.get(fs.makeQualified(path).toUri)
      else null

    /** whether [[create]] alone decides a cross-process race */
    def atomicCreate: Boolean = local != null

    private def body(id: String): Array[Byte] =
      s"""{"id":"$id","ts":${System.currentTimeMillis()}}""".getBytes("UTF-8")

    /** create the lease holding `id`; throws an IOException when one exists */
    def create(id: String): Unit =
      if (local != null) Files.write(local, body(id), StandardOpenOption.CREATE_NEW,
        StandardOpenOption.WRITE)
      else write(fs.create(path, false), id)

    /** rewrite the lease with `id` (the heartbeat) */
    def rewrite(id: String): Unit =
      if (local != null) Files.write(local, body(id))
      else write(fs.create(path, true), id)

    private def write(out: java.io.OutputStream, id: String): Unit =
      try out.write(body(id)) finally out.close()

    /** the holder id the lease names, None when there is none */
    def holder: Option[String] =
      try {
        val bytes =
          if (local != null) Files.readAllBytes(local)
          else {
            val in = fs.open(path)
            try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in) finally in.close()
          }
        "\"id\"\\s*:\\s*\"([^\"]+)\"".r
          .findFirstMatchIn(new String(bytes, "UTF-8")).map(_.group(1))
      } catch { case _: Exception => None }

    /** the lease's modification time, None when there is none */
    def mtime: Option[Long] =
      try Some(
        if (local != null) Files.getLastModifiedTime(local).toMillis
        else fs.getFileStatus(path).getModificationTime)
      catch { case _: Exception => None }

    /** delete the lease — on the local scheme with any checksum file a
      * Hadoop-written lease left beside it */
    def delete(): Unit =
      if (local != null) {
        Files.deleteIfExists(local)
        Files.deleteIfExists(local.resolveSibling(s".${local.getFileName}.crc"))
      } else fs.delete(path, false)
  }

  /** Take the dataset's maintenance lock or throw
    * [[ConcurrentMaintenanceException]]. `op` names the statement in
    * the error message. */
  def acquire(fs: FileSystem, root: Path, op: String,
              ttlMs: Long = DefaultTtlMs): Lease = {
    val file = new LeaseFile(fs, new Path(root, LockName))
    val lock = file.path
    val id = java.util.UUID.randomUUID().toString
    // same-process gate first: two threads of one driver serialize here
    // without touching the file (the race fuzz's op=race kind found the
    // file protocol alone inexact in-process on RawLocalFileSystem, r12);
    // the file lease below is the cross-process protocol
    val gateKey = fs.makeQualified(lock).toString
    val gate = gateAcquire(gateKey).getOrElse(
      throw new ConcurrentMaintenanceException(
        s"vortex $op: another maintenance statement in this process holds " +
        s"$lock — maintenance writers are serialized per dataset; retry " +
        "after it finishes"))
    def lostRace() = new ConcurrentMaintenanceException(
      s"vortex $op: lost the maintenance-lock race on $lock — " +
      "another statement acquired it; retry after it finishes")
    try {
    var brokeStale = false
    while (true) {
      file.mtime match {
        case Some(mtime) =>
          val age = System.currentTimeMillis() - mtime
          if (age > ttlMs && !brokeStale) {
            // a crashed writer's lease: break it ONCE, then re-race —
            // but only the exact lease observed. Re-stat immediately
            // before the delete: if the mtime changed, a competitor
            // already broke it and created its own VALID lease, which
            // must not be deleted (review-found r12; the remaining
            // stat→delete window is what the settle re-verify below
            // closes for a breaker).
            brokeStale = true
            if (file.mtime.contains(mtime)) {
              try file.delete() catch { case _: Exception => () }
              org.slf4j.LoggerFactory.getLogger(getClass).warn(
                s"vortex $op: broke stale maintenance lease $lock " +
                s"(age ${age / 1000}s > ttl ${ttlMs / 1000}s — holder crashed)")
            }
          } else throw new ConcurrentMaintenanceException(
            s"vortex $op: another maintenance statement holds $lock " +
            s"(holder ${file.holder.getOrElse("?")}, " +
            s"age ${age / 1000}s) — maintenance writers are serialized " +
            "per dataset; retry after it finishes")
        case None =>
          try file.create(id)
          catch { case _: java.io.IOException => throw lostRace() }
          // read-back verify + settle re-verify where the create alone
          // does not decide the race (see the mechanism above): both
          // racers may reach here, and the double read catches the
          // loser even when its first read preceded the winner's write
          if (!file.atomicCreate || brokeStale) {
            def verify(): Unit = if (!file.holder.contains(id)) throw lostRace()
            verify()
            Thread.sleep(25)
            verify()
          }
          return new Lease(file, id, ttlMs, gateKey, gate)
      }
    }
    throw new IllegalStateException("unreachable")
    } catch { case t: Throwable => gateRelease(gateKey, gate, held = true); throw t }
  }

  /** Run `body` under the dataset lock (released in finally). A root
    * that does not exist yet skips locking — every op no-ops or fails
    * on the empty listing anyway, and creating lock files in
    * not-yet-created directories would leave litter.
    *
    * Re-entrant under a transaction group (r13): a statement running
    * inside `Engine.withTransaction` over this dataset already holds
    * the group's lease on this thread — run directly under it.
    * Otherwise, a freshly acquired lease first rolls back any CRASHED
    * group's leftovers (VortexTransaction.recoverIfCrashed) before the
    * statement's own repairs can see — and wrongly "complete" — the
    * dead group's intermediate state. */
  def withLock[T](fs: FileSystem, root: Path, op: String)(body: => T): T = {
    if (!fs.exists(root)) return body
    if (VortexTransaction.current(fs.makeQualified(root).toString).isDefined)
      return body
    val lease = acquire(fs, root, op)
    try { VortexTransaction.recoverIfCrashed(fs, root); body }
    finally lease.release()
  }
}
