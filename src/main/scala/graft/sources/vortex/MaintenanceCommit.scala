package graft.sources.vortex

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.types.StructType

/** Commit-side helpers of the maintenance statements: the remover
  * that retires or deletes superseded files, the per-schema
  * stats-manifest write, the deterministic replacement names, the
  * compaction commit markers, and the one crash judgment
  * ([[uncommitted]]) every read hides and every statement prologue
  * repairs ([[repair]]). The per-file commit itself lives in
  * RowLevelStatement. */
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

  // ---- deterministic names ----
  //
  // A row-level statement names each file it writes after its SOURCE
  // basename (`md5(src)`, 16 hex chars), so a re-run of the same
  // statement after a crash overwrites its own stale halves instead of
  // duplicating them, and a file's uncommitted state is decidable from
  // the listing alone ([[uncommitted]]).

  /** the replacement kinds: `part-<kind>-<md5(src)>.vortex` replaces
    * its source, so it is committed only once the source is gone */
  private val ReplacementKinds = Seq("delete", "update", "merge", "fold")
  private val ReplacementName =
    s"^part-(?:${ReplacementKinds.mkString("|")})-([0-9a-f]{16})\\.vortex$$".r
  /** `part-updv-<md5(src)>-<seq>.vortex`: a merge-on-read UPDATE's
    * appended rows, committed once the source's mask `seq` is */
  private val UpdvName = "^part-updv-([0-9a-f]{16})-(\\d+)\\.vortex$".r

  private def nameHash(srcName: String): String =
    java.util.HexFormat.of().formatHex(java.security.MessageDigest.getInstance("MD5")
      .digest(srcName.getBytes("UTF-8"))).take(16)

  /** the `kind` statement's replacement of the file named `srcName` */
  def replacementName(kind: String, srcName: String): String = {
    require(ReplacementKinds.contains(kind), s"vortex: no replacement kind $kind")
    s"part-$kind-${nameHash(srcName)}.vortex"
  }

  /** the merge-on-read UPDATE append that pairs with mask `maskSeq` of
    * the file named `srcName` */
  def appendName(srcName: String, maskSeq: Int): String =
    s"part-updv-${nameHash(srcName)}-$maskSeq.vortex"

  // ---- the crash judgment ----

  /** What a walk of a dataset holds that belongs to no committed state:
    * `stale` replacements, `orphans` (merge-on-read appends whose mask
    * never committed) and the compact `markers` with what each hides. */
  final case class Uncommitted(stale: Seq[Path], orphans: Seq[Path], markers: Seq[Marker]) {
    /** the data files no reader and no planner may see */
    lazy val hidden: Set[String] =
      (stale ++ orphans ++ markers.flatMap(_.absorbed)).map(_.toString).toSet
    def isEmpty: Boolean = stale.isEmpty && orphans.isEmpty && markers.isEmpty
  }

  /** One compact marker under `root`: its commit (None: torn bytes) and
    * the absorbed sources it hides — the listed ones when its output is
    * listed, none otherwise. */
  final case class Marker(path: Path, root: Path, commit: Option[CompactCommit],
                          absorbed: Seq[Path])

  /** THE crash judgment, shared by every read's listing and every
    * maintenance statement's repair, over one walk: `files` (the data
    * files), `maskBind` (their masks, [[DeletionVector.bind]]) and the
    * compact `markers`. Per directory:
    *  - a replacement (`part-{delete,update,merge,fold}-<h>`) whose
    *    source (the file whose name hashes to `h`) is listed is stale:
    *    the source's removal never committed, the source is the truth;
    *  - an updv append `part-updv-<h>-<s>` whose listed source's newest
    *    mask seq is below `s` is an orphan: its mask never committed
    *    (a committed one, or one whose source is gone, is live data);
    *  - then, over what remains, a marker whose output is listed hides
    *    its listed absorbed sources (the removals never finished); a
    *    marker whose output is not listed, or whose bytes are torn,
    *    hides nothing. A marker that cannot be read throws: an intact
    *    marker on a flaky store must never pass for a torn one. */
  def uncommitted(files: Seq[FileStatus], maskBind: Map[String, (String, Seq[String])],
                  markers: Seq[Path], conf: Configuration): Uncommitted = {
    // (file, stale replacement?) for every uncommitted data file
    val found = files.map(_.getPath).groupBy(_.getParent.toString).values.toSeq.flatMap { ps =>
      lazy val sources = ps.map(p => nameHash(p.getName) -> p).toMap
      ps.flatMap(p => p.getName match {
        case ReplacementName(h) if sources.get(h).exists(_ != p) => Some(p -> true)
        case UpdvName(h, seq) if sources.get(h).exists(src =>
            seq.toInt > DeletionVector.newestSeq(maskBind, src.toString)) => Some(p -> false)
        case _ => None
      })
    }.sortBy(_._1.toString)
    lazy val remaining: Map[String, Path] = {
      val gone = found.map(_._1).toSet
      files.map(_.getPath).filterNot(gone).map(p => p.toString -> p).toMap
    }
    val judged = markers.map { mp =>
      val fs = mp.getFileSystem(conf)
      val root = mp.getParent
      def listed(rel: String) = remaining.get(fs.makeQualified(new Path(root, rel)).toString)
      val commit = readCompactMarker(fs, mp)
      Marker(mp, root, commit, commit.toSeq.flatMap(c =>
        if (listed(c.outRel).isEmpty) Nil else c.srcRels.flatMap(listed)))
    }
    Uncommitted(found.collect { case (p, true) => p }, found.collect { case (p, false) => p }, judged)
  }

  /** Make `u` true on disk (the caller holds the maintenance lease):
    * delete the stale replacements and orphans — uncommitted litter no
    * generation references — finish each committed compaction's
    * source removals through the remover its marker names, then drop
    * every marker. A litter delete that fails throws before the caller
    * plans anything: once a statement replaced or re-masked the
    * litter's source, the judgment would take the litter for committed
    * data. The dataset then stays as the crash left it, reads still
    * hide the litter, and a re-run repairs again. */
  def repair(fs: FileSystem, u: Uncommitted): Unit = {
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    (u.stale ++ u.orphans).foreach { p =>
      if (!fs.delete(p, false))
        throw new java.io.IOException(s"vortex maintenance: cannot delete uncommitted $p")
      log.warn(s"vortex maintenance: dropped uncommitted $p (a prior statement crashed mid-commit)")
    }
    u.markers.foreach { m =>
      m.commit.foreach { c =>
        val rm = if (c.retireDirQ.isEmpty) PlainRemover
          else new RetireRemover(fs.makeQualified(m.root).toString, c.retireDirQ)
        m.absorbed.foreach { p =>
          if (!rm.remove(fs, p))
            throw new java.io.IOException(s"vortex compact repair: failed to remove absorbed $p")
        }
      }
      log.warn(s"vortex maintenance: settled compact marker ${m.path.getName} " +
        s"(${m.absorbed.length} absorbed sources removed)")
      fs.delete(m.path, false)
    }
  }

  // ---- compaction commit markers (r12 review-found crash window) ----
  //
  // Compaction outputs carry RANDOM `part-compact-<uuid>` names (their
  // identity is a batch of sources, not one source), so the
  // deterministic-name judgment above cannot pair them: moving the
  // absorbed-source removal driver-side (for retirement) opened a
  // window where a crash between the output rename and the source
  // removals would leave BOTH live — permanent row duplication no
  // repair could see. The fix is a per-batch commit MARKER written
  // BEFORE the rename: `.compact-commit-<id>.json` at the dataset root
  // records the output's relative path, the absorbed sources, and the
  // statement's retire directory (empty = plain delete). Commit order:
  // marker → rename output in → remove sources → delete marker.
  // [[uncommitted]] judges each marker (reads hide what it decides,
  // every statement start repairs it under the lease):
  //   - marker + output PRESENT  → the sources are hidden; repair
  //                                finishes the removals, drops marker
  //   - marker + output ABSENT   → nothing renamed; drop marker
  //   - torn marker bytes        → torn at write, which precedes the
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
}
