package graft.sources.vortex

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.types.StructType

/** Commit-side helpers of the maintenance statements: the remover
  * that retires or deletes superseded files, the per-schema
  * stats-manifest write, the cross-statement crash repairs that keep
  * the deterministic-name crash contract safe across DIFFERENT
  * statements, and the compaction commit markers. The per-file commit
  * itself lives in RowLevelStatement. */
private[graft] object MaintenanceCommit {

  /** How a maintenance commit removes a COMMITTED file it supersedes
    * (a replaced source, a drop-whole file, a superseded mask): plain
    * deletion, or — when the dataset keeps a commit log
    * (VortexCommitLog) — retirement into the statement generation's
    * retired area, which is what keeps older generations readable.
    * Either way it is one metadata-only filesystem op. Uncommitted
    * litter (stale tmp/replacement halves of crashed statements) is
    * always plainly deleted — no generation references it. */
  trait Remover { def remove(fs: FileSystem, p: Path): Boolean }

  object PlainRemover extends Remover {
    override def remove(fs: FileSystem, p: Path): Boolean = fs.delete(p, false)
  }

  /** rename into `<retiredBase>/<path relative to rootQ>` */
  final class RetireRemover(rootQ: String, retiredBase: String) extends Remover {
    override def remove(fs: FileSystem, p: Path): Boolean = {
      val q = fs.makeQualified(p).toString
      require(q.startsWith(rootQ), s"vortex retire: $q is outside dataset $rootQ")
      val dst = new Path(retiredBase + "/" + q.stripPrefix(rootQ).stripPrefix("/"))
      fs.mkdirs(dst.getParent)
      fs.rename(p, dst)
    }
  }

  /** One stats-manifest write per replacement-file schema version (the
    * manifest envelope records a single schema). */
  def writeManifests(root: Path, conf: Configuration, opPrefix: String,
                     entries: Seq[(String, StatsManifest.FileStats)]): Unit = {
    val jobId = java.util.UUID.randomUUID().toString.take(8)
    entries.groupBy(_._1).toSeq.sortBy(_._1).zipWithIndex.foreach {
      case ((sj, group), i) =>
        val schema =
          try Some(org.apache.spark.sql.types.DataType.fromJson(sj)
            .asInstanceOf[StructType])
          catch { case _: Exception => None }
        StatsManifest.write(root, conf, s"$opPrefix-$jobId-$i",
          group.map(_._2).toIndexedSeq, schema)
    }
  }

  /** Crash repair across DIFFERENT statements: the deterministic
    * replacement names make a re-run of the SAME statement converge,
    * but a crash that left a source F and its committed replacement
    * (part-{delete|update|merge}-md5(F)) COEXISTING would let a later
    * statement with a different predicate interleave against the pair
    * and double-commit survivors. Every maintenance op calls this
    * before planning: a replacement whose SOURCE still exists is
    * provably the rename-in half of an uncommitted (failed) statement —
    * drop it, restoring the pre-crash source as the single truth (the
    * failed statement's contract is already "re-run to converge").
    * Returns the number of stale replacements removed. */
  def repairStaleReplacements(
      fs: FileSystem,
      listed: Seq[FileStatus]): Int = {
    // a Seq, NOT a basename-keyed Map: the partitioned writer reuses one
    // basename across every partition directory a task writes, so a
    // crash can leave stale pairs in SEVERAL directories at once — all
    // of them must repair, not just one per name
    val stalePaths: Seq[Path] =
      listed.map(_.getPath).groupBy(_.getParent.toString).toSeq
        .flatMap { case (_, ps) =>
          val present = ps.map(_.getName).toSet
          ps.flatMap { p =>
            val hash = VortexDelete.replacementName(p.getName)
              .stripPrefix("part-delete-")
            Seq("part-delete-", "part-update-", "part-merge-", "part-fold-")
              .collect { case pre if present.contains(pre + hash) =>
                new Path(p.getParent, pre + hash) }
          }
        }
    var dropped = 0
    stalePaths.foreach { stale =>
      if (try fs.delete(stale, false) catch { case _: Exception => false }) {
        dropped += 1
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"vortex maintenance: dropped stale replacement $stale " +
          "(its source file still exists — a prior statement crashed mid-commit)")
      }
    }
    dropped
  }

  private val UpdvName = "^part-updv-([0-9a-f]{16})-(\\d+)\\.vortex$".r

  /** Crash repair for the merge-on-read UPDATE tier: its per-file
    * commit is append-updated-rows THEN mask-old-rows, so a crash
    * between the two leaves the updated rows appended while the old
    * rows are still live — a duplicate that would otherwise survive
    * until the same statement re-runs. The append name carries the
    * mask seq it pairs with (`part-updv-<md5(src)>-<seq>.vortex`): an
    * updv file whose SOURCE still exists with newest mask seq < seq is
    * provably that orphaned append half — drop it, restoring the
    * pre-statement state (the failed statement's contract is re-run to
    * converge). A committed updv file (source's mask seq ≥ its seq, or
    * source gone — e.g. folded away) is live data and is never
    * touched. Returns the number of orphans removed. */
  def repairStaleUpdvAppends(
      fs: FileSystem,
      listed: Seq[FileStatus],
      maskBind: Map[String, (String, Seq[String])]): Int = {
    def newestSeq(file: Path): Int =
      maskBind.get(file.toString).map(_._2.flatMap(m =>
        DeletionVector.parseName(new Path(m).getName).map(_._2))
        .foldLeft(0)(math.max)).getOrElse(0)
    var dropped = 0
    listed.map(_.getPath).groupBy(_.getParent.toString).foreach { case (_, ps) =>
      val hashOf: Map[String, Path] = ps.map(p =>
        VortexDelete.replacementName(p.getName)
          .stripPrefix("part-delete-").stripSuffix(".vortex") -> p).toMap
      ps.foreach { p =>
        p.getName match {
          case UpdvName(h, s) =>
            hashOf.get(h).foreach { src =>
              if (s.toInt > newestSeq(src) &&
                  (try fs.delete(p, false) catch { case _: Exception => false })) {
                dropped += 1
                org.slf4j.LoggerFactory.getLogger(getClass).warn(
                  s"vortex maintenance: dropped orphaned update append $p " +
                  s"(source $src has no mask at seq ${s.toInt} — a prior " +
                  "UPDATE crashed between its append and mask commits)")
              }
            }
          case _ =>
        }
      }
    }
    dropped
  }

  // ---- compaction commit markers (r12 review-found crash window) ----
  //
  // Compaction outputs carry RANDOM `part-compact-<uuid>` names (their
  // identity is a batch of sources, not one source), so the
  // deterministic-name repair above cannot pair them: moving the
  // absorbed-source removal driver-side (for retirement) opened a
  // window where a crash between the output rename and the source
  // removals would leave BOTH live — permanent row duplication no
  // repair could see. The fix is a per-batch commit MARKER written
  // BEFORE the rename: `.compact-commit-<id>.json` at the dataset root
  // records the output's relative path, the absorbed sources, and the
  // statement's retire directory (empty = plain delete). Commit order:
  // marker → rename output in → remove sources → delete marker. Repair
  // (every maintenance statement start, under the lease):
  //   - marker + output PRESENT  → finish the removals, drop marker
  //   - marker + output ABSENT   → nothing renamed; drop marker
  //   - unreadable marker        → torn at write, which precedes the
  //                                rename; drop it
  // Markers are dot-hidden (invisible to data listings).

  private val CompactMarkerPrefix = ".compact-commit-"

  def isCompactMarker(name: String): Boolean = name.startsWith(CompactMarkerPrefix)

  final case class CompactCommit(outRel: String, srcRels: Seq[String],
                                 retireDirQ: String)

  /** Parse one marker. `None` = bytes do not parse → provably torn at
    * write, which precedes the rename (sources are the truth). Open /
    * read IO failures PROPAGATE — an intact marker on a flaky store
    * must never be mistaken for a torn one (review-found r12). */
  def readCompactMarker(fs: FileSystem, mp: Path): Option[CompactCommit] = {
    val in = fs.open(mp)
    val bytes = try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
                finally in.close()
    try {
      val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(bytes)
      val srcs = n.get("srcs")
      Some(CompactCommit(n.get("out").asText(),
        (0 until srcs.size()).map(srcs.get(_).asText()),
        Option(n.get("retire")).map(_.asText()).getOrElse("")))
    } catch { case _: Exception => None }
  }

  def writeCompactMarker(fs: FileSystem, root: Path, id: String,
                         c: CompactCommit): Path = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = m.createObjectNode()
    node.put("out", c.outRel)
    node.put("retire", c.retireDirQ)
    val arr = node.putArray("srcs")
    c.srcRels.foreach(arr.add)
    val p = new Path(root, s"$CompactMarkerPrefix$id.json")
    val out = fs.create(p, true)
    try out.write(m.writeValueAsBytes(node)) finally out.close()
    p
  }

  private def removeTo(fs: FileSystem, rootQ: String, retireDirQ: String,
                       p: Path): Boolean =
    if (retireDirQ.isEmpty) fs.delete(p, false)
    else {
      val q = fs.makeQualified(p).toString
      val dst = new Path(retireDirQ + "/" + q.stripPrefix(rootQ).stripPrefix("/"))
      fs.mkdirs(dst.getParent)
      fs.rename(p, dst)
    }

  /** Complete (or roll back) the batches of a crashed compact — see the
    * marker contract above. Caller holds the maintenance lease. Returns
    * the number of markers processed. */
  def repairStaleCompactions(fs: FileSystem, root: Path): Int = {
    val markers =
      (try fs.listStatus(root).toSeq catch { case _: Exception => Seq.empty })
        .map(_.getPath).filter(_.getName.startsWith(CompactMarkerPrefix))
    if (markers.isEmpty) return 0
    val rootQ = fs.makeQualified(root).toString
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    var processed = 0
    markers.foreach { mp =>
      // Open/read failures PROPAGATE (readCompactMarker): a transient
      // IO error on an INTACT marker (flaky object store) must fail the
      // statement loudly, not silently delete the marker while
      // output+sources both live — that would reinstate exactly the
      // permanent-duplication window the marker protocol exists to
      // close (review-found r12). Only a marker whose BYTES do not
      // parse is provably torn at write (which precedes the rename)
      // and safe to drop.
      val parsed: Option[CompactCommit] = readCompactMarker(fs, mp)
      parsed match {
        case Some(c) if fs.exists(new Path(root, c.outRel)) =>
          // output committed: finish the source removals
          c.srcRels.foreach { rel =>
            val p = new Path(root, rel)
            if (fs.exists(p) && !removeTo(fs, rootQ, c.retireDirQ, p))
              throw new java.io.IOException(
                s"vortex compact repair: failed to remove absorbed $p")
          }
          log.warn(s"vortex maintenance: completed crashed compact batch " +
            s"${c.outRel} (${c.srcRels.length} sources; marker ${mp.getName})")
        case Some(c) =>
          log.warn(s"vortex maintenance: rolled back uncommitted compact " +
            s"batch ${c.outRel} (marker ${mp.getName})")
        case None =>
          log.warn(s"vortex maintenance: dropped torn compact marker ${mp.getName}")
      }
      fs.delete(mp, false)
      processed += 1
    }
    processed
  }
}
