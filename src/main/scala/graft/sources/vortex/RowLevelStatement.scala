package graft.sources.vortex

import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{AttributeSeq, BindReferences, Expression}
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.util.SerializableConfiguration

/** The one pipeline every row-level maintenance statement runs through
  * — DELETE, UPDATE, MERGE (whole-row and clause), foldMasks and the
  * commit of compact. In the Delta Lake design DELETE and UPDATE are
  * special cases of MERGE; here they share everything but their
  * per-file kernel:
  *
  *  1. PROLOGUE ([[run]]): the dataset's maintenance lease, the
  *     crashed-compaction repair, ONE raw listing with the mask
  *     binding, the two cross-statement crash repairs (stale
  *     replacements, orphaned merge-on-read appends — the dataset is
  *     re-listed only when they dropped something), then, once the
  *     statement knows it has work ([[Statement.begin]]), the commit
  *     log's pre-statement generation and the remover that retires
  *     superseded files into it.
  *  2. PLAN ([[Statement.candidates]]): the candidate files are exactly
  *     the files the pushed-down scan of a filtered DataFrame would
  *     read — partition, manifest min/max, bloom and chunk pruning all
  *     apply; a file no input partition mentions is never opened.
  *  3. FILE TASKS ([[Statement.perFile]]): one task per candidate. A
  *     task never mutates the dataset: it writes only attempt-unique
  *     dot-hidden tmps ([[withTmp]] deletes them when the task fails)
  *     and returns a [[FileOutcome]] whose manifest entries were built
  *     executor-side, where the new footer is local.
  *  4. COMMIT ([[Statement.commit]]): metadata-only renames and removals
  *     per touched file, in parallel, then one stats-manifest write per
  *     schema version. The post-statement generation is published when
  *     the statement body returns normally.
  *
  * Crash contract: per-file commit order is rename-in THEN remove
  * source, so no committed state ever loses a row; replacement names
  * are deterministic in the source name, so re-running the same
  * statement after a crash overwrites its own stale halves, and the
  * prologue's repairs drop the halves a crashed statement left for a
  * DIFFERENT statement to find.
  */
private[graft] object RowLevelStatement {

  type Listing = Seq[(FileStatus, Seq[(String, String)])]
  type MaskBind = Map[String, (String, Seq[String])]

  /** Take the dataset's maintenance lease, then [[runLocked]]. */
  def run[R](spark: SparkSession, dir: String, op: String)(body: Statement => R): R = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    MaintenanceLock.withLock(fs, root, op)(runLocked(spark, dir, op)(body))
  }

  /** The prologue without the lease — the caller MUST hold it (compact
    * runs foldMasks and its own commit under one lease). */
  def runLocked[R](spark: SparkSession, dir: String, op: String)(body: Statement => R): R = {
    val hconf = spark.sessionState.newHadoopConf()
    val root = new Path(dir)
    val fs = root.getFileSystem(hconf)
    // crashed compact batches first: their markers pair random
    // part-compact names with their absorbed sources
    MaintenanceCommit.repairStaleCompactions(fs, root)
    def list() = VortexDataSource.listAllWithMasks(Seq(dir), hconf, consistent = false)
    val (listed0, maskBind0) = list()
    val repaired = MaintenanceCommit.repairStaleReplacements(fs, listed0.map(_._1)) +
      MaintenanceCommit.repairStaleUpdvAppends(fs, listed0.map(_._1), maskBind0)
    // planning must never see a replacement the repair just dropped
    val (listed, maskBind) = if (repaired == 0) (listed0, maskBind0) else list()
    val st = new Statement(spark, op, root, fs, hconf, listed, maskBind)
    val result = body(st)
    st.finish()
    result
  }

  /** One candidate file of a statement. `plannedChunks` are the chunks
    * the pushed scan kept (pruned chunks cannot match); `stats` are the
    * file's pre-statement manifest column stats — the bloom/sketch
    * opt-ins a rewrite keeps, and what the column-splice rewrite's
    * pass-through columns inherit. */
  final case class Candidate(file: String, partCols: Array[String],
                             partValues: Array[String], plannedChunks: Array[Int],
                             maskFile: String, nextMaskSeq: Int,
                             dstName: String, relDir: String,
                             stats: Map[String, StatsManifest.ColStats]) {
    def path: Path = new Path(file)
    /** dataset-relative path of a file named `name` beside this one */
    def rel(name: String): String = if (relDir.isEmpty) name else s"$relDir/$name"
    def bloomCols: Set[String] = stats.values.filter(_.bloom.isDefined).map(_.name).toSet
    def sketchCols: Set[String] = stats.values.filter(_.sketch.isDefined).map(_.name).toSet
  }

  /** A file a task wrote to `tmp`, renamed to `dstName` beside its
    * source at commit. Data files carry their manifest entry (relPath
    * already final) and schema; mask sidecars carry neither. */
  final case class Staged(tmp: String, dstName: String,
                          entry: Option[StatsManifest.FileStats] = None,
                          schemaJson: String = null)

  /** What the commit does with one candidate file. */
  sealed trait Change
  /** no row changed: nothing to commit */
  case object Keep extends Change
  /** every live row is gone: remove the file and its masks */
  case object Drop extends Change
  /** rename `data` in, then remove the source and its masks */
  final case class Replace(data: Staged) extends Change
  /** rename the union `mask` in, then drop the older masks */
  final case class Mask(mask: Staged) extends Change
  /** merge-on-read UPDATE: rename the appended `data` in, then the
    * `mask` that hides the old rows, then drop the older masks (the
    * append name carries the mask seq — see repairStaleUpdvAppends) */
  final case class AppendMask(data: Staged, mask: Staged) extends Change

  /** One file task's result. `matched` (MERGE only) lists the source
    * ordinals whose key this file holds. */
  final case class FileOutcome(file: String, change: Change,
                               rowsUpdated: Long = 0L, rowsDeleted: Long = 0L,
                               matched: Array[Int] = Array.emptyIntArray)

  /** A statement's state after the prologue. */
  final class Statement private[RowLevelStatement] (
      val spark: SparkSession, val op: String, val root: Path, val fs: FileSystem,
      val hconf: Configuration, val listed: Listing, val maskBind: MaskBind) {
    private var log: Option[VortexCommitLog.Ctx] = None
    private var begun = false
    private lazy val rootQ = fs.makeQualified(root).toString
    private lazy val manifest = StatsManifest.read(root, hconf)

    /** Open the statement in the commit log (a no-op without one):
      * the log's latest generation becomes the pre-statement state,
      * reusing the prologue's post-repair listing. Called once the
      * statement knows it has work, before it commits anything. */
    def begin(): Unit = if (!begun) {
      log = VortexCommitLog.begin(spark, fs, root, hconf, op, Some((listed, maskBind)))
      begun = true
    }

    /** the statement's commit-log generation (after [[begin]]) */
    def generation: Option[Int] = log.map(_.gen)

    /** removes committed files this statement supersedes: retirement
      * into the statement's generation, or plain deletion */
    def remover: MaintenanceCommit.Remover = {
      require(begun, s"vortex $op: commit before begin")
      log.map(_.remover).getOrElse(MaintenanceCommit.PlainRemover)
    }

    private[RowLevelStatement] def finish(): Unit = log.foreach(_.finish())

    def relOf(p: Path): String = fs.makeQualified(p).toString.stripPrefix(rootQ).stripPrefix("/")

    /** one candidate; `plannedChunks` null = every chunk */
    def candidate(file: String, dstName: String, partCols: Array[String] = Array.empty,
                  partValues: Array[String] = Array.empty,
                  plannedChunks: Array[Int] = null, maskFile: String = null): Candidate = {
      val rel = relOf(new Path(file))
      val relDir = rel.lastIndexOf('/') match {
        case -1 => ""
        case i => rel.substring(0, i)
      }
      val nextSeq = maskBind.get(file).map(_._2.flatMap(m =>
        DeletionVector.parseName(new Path(m).getName).map(_._2)).max + 1).getOrElse(1)
      Candidate(file, partCols, partValues, plannedChunks, maskFile, nextSeq, dstName,
        relDir, manifest.get(rel).map(_.cols.map(c => c.name -> c).toMap).getOrElse(Map.empty))
    }

    /** the files the pushed-down scan of `filtered` reads, in path
      * order; `dstName` names each file's replacement */
    def candidates(filtered: DataFrame, dstName: String => String): Seq[Candidate] =
      filtered.queryExecution.sparkPlan.collect { case b: BatchScanExec => b }
        .flatMap(_.inputPartitions).collect { case v: VortexInputPartition => v }
        .groupBy(_.file).toSeq.sortBy(_._1).map { case (file, ps) =>
          candidate(file, dstName(new Path(file).getName), ps.head.partCols,
            ps.head.partValues, ps.flatMap(_.chunkIdxs).distinct.sorted.toArray,
            ps.head.maskFile)
        }

    /** one distributed job, one task per candidate */
    def perFile(cands: Seq[Candidate])(task: (Candidate, Configuration) => FileOutcome)
        : Seq[FileOutcome] =
      if (cands.isEmpty) Seq.empty
      else {
        val sconf = new SerializableConfiguration(hconf)
        spark.sparkContext.parallelize(cands, cands.length)
          .map(c => task(c, sconf.value)).collect().toSeq
      }

    /** Commit every outcome (in parallel when more than one), then
      * write the new files' manifest entries. `failAfterCommits` is a
      * TEST SEAM: ≥0 commits sequentially and throws after that many
      * per-file commits, simulating a crash mid-commit. */
    def commit(outcomes: Seq[FileOutcome], failAfterCommits: Int = -1): Unit = {
      val rm = remover
      val changed = outcomes.filter(_.change != Keep)
      val committed = new AtomicInteger(0)
      def one(o: FileOutcome): Unit = {
        if (failAfterCommits >= 0 && committed.get() >= failAfterCommits)
          throw new RuntimeException(
            s"vortex $op: injected crash after $failAfterCommits commits (test seam)")
        commitOne(o, rm)
        committed.incrementAndGet()
      }
      if (failAfterCommits >= 0 || changed.length <= 1) changed.foreach(one)
      else java.util.Arrays.stream(changed.toArray).parallel().forEach(o => one(o))
      MaintenanceCommit.writeManifests(root, hconf, op, outcomes.flatMap(_.change match {
        case Replace(d) => d.entry.map((d.schemaJson, _))
        case AppendMask(d, _) => d.entry.map((d.schemaJson, _))
        case _ => None
      }))
    }

    private def commitOne(o: FileOutcome, rm: MaintenanceCommit.Remover): Unit = {
      val src = new Path(o.file)
      def removeSource(): Unit =
        if (!rm.remove(fs, src))
          throw new java.io.IOException(s"vortex $op: failed to remove ${o.file}")
      o.change match {
        case Keep => return
        case Drop => removeSource()
        case Replace(d) => renameIn(src, d); removeSource()
        case Mask(m) => renameIn(src, m)
        case AppendMask(d, m) => renameIn(src, d); renameIn(src, m)
      }
      // only PRE-statement masks are bound — never one renamed in above
      maskBind.get(o.file).foreach(_._2.foreach(m =>
        try rm.remove(fs, new Path(m)) catch { case _: Exception => () }))
    }

    private def renameIn(src: Path, s: Staged): Unit = {
      val dst = new Path(src.getParent, s.dstName)
      // a stale half from a crashed run of this same statement: its
      // content is identical by construction, and no generation
      // references it — plain delete
      if (fs.exists(dst) && !fs.delete(dst, false))
        throw new java.io.IOException(s"vortex $op: cannot replace stale $dst")
      if (!fs.rename(new Path(s.tmp), dst))
        throw new java.io.IOException(s"vortex $op: rename failed for $dst")
    }
  }

  /** Run `body` on an attempt-unique dot-hidden tmp beside the
    * candidate, named after its destination (speculative attempts
    * never share a write target). The tmp is deleted when `body` throws
    * anything — a failed task leaves no litter. */
  def withTmp[T](c: Candidate, dstName: String, conf: Configuration)(body: Path => T): T = {
    val tmp = new Path(c.path.getParent,
      s".$dstName.${java.util.UUID.randomUUID().toString.take(8)}.inprogress")
    try body(tmp)
    catch { case e: Throwable =>
      try tmp.getFileSystem(conf).delete(tmp, false) catch { case _: Exception => () }
      throw e
    }
  }

  /** Write a data file named `dstName` beside the candidate through the
    * row writer (`schema` = the file's own stored schema), and build
    * its manifest entry from the new footer plus the writer's exact
    * sums, blooms and sketches. Returns the staged file and `fill`'s
    * result. */
  def write[T](c: Candidate, dstName: String, schema: StructType, conf: Configuration)
              (fill: VortexFileWriter => T): (Staged, T) =
    withTmp(c, dstName, conf) { tmp =>
      val writer = new VortexFileWriter(tmp, conf, schema,
        bloomCols = c.bloomCols, sketchCols = c.sketchCols)
      val t = fill(writer)
      writer.close()
      val footer = VortexFileReader.readFooter(tmp, conf)
      def named[V](xs: IndexedSeq[Option[V]]): Map[String, V] =
        schema.fieldNames.zip(xs).collect { case (n, Some(v)) => n -> v }.toMap
      val sums = named(writer.columnSums)
      val blooms = named(writer.columnBlooms)
      val sketches = named(writer.columnSketches)
      val base = StatsManifest.fromFooter(c.rel(dstName),
        tmp.getFileSystem(conf).getFileStatus(tmp).getLen, footer)
      val entry = base.copy(cols = base.cols.map(col => col.copy(
        sum = sums.get(col.name), bloom = blooms.get(col.name),
        sketch = sketches.get(col.name))))
      (Staged(tmp.toString, dstName, Some(entry), footer.schema.json), t)
    }

  /** Stage the candidate's next mask sidecar (`seq` = nextMaskSeq). */
  def writeMask(c: Candidate, mask: DeletionVector.Mask, conf: Configuration): Staged = {
    val dstName = DeletionVector.maskName(c.path.getName, c.nextMaskSeq)
    withTmp(c, dstName, conf) { tmp =>
      DeletionVector.write(tmp.getFileSystem(conf), tmp, mask)
      Staged(tmp.toString, dstName)
    }
  }

  /** delete a staged tmp the task decided not to commit */
  def discard(s: Staged, conf: Configuration): Unit = {
    val p = new Path(s.tmp)
    p.getFileSystem(conf).delete(p, false)
  }

  /** A DELETE/UPDATE predicate resolved against the table and bound to
    * ordinals, twice: over the full table row (`bound`, for rewrites)
    * and over the predicate's own columns only (`narrow`, for the
    * classification pass — on a wide table that is the difference
    * between decoding one column and every page of every candidate). */
  final case class BoundPredicate(tableSchema: StructType, bound: Expression,
                                  narrowSchema: StructType, narrow: Expression)

  def bindPredicate(filtered: DataFrame, op: String): BoundPredicate = {
    val (cond0, output) = filtered.queryExecution.analyzed.collectFirst {
      case f: logical.Filter => (f.condition, f.child.output)
    }.getOrElse(throw new IllegalArgumentException(
      s"vortex $op: cannot resolve the predicate"))
    // the ANALYZED condition can hold RuntimeReplaceable nodes (BETWEEN,
    // nvl, ilike, …) whose eval() asserts — see VortexDelete.replaceRuntime
    val cond = VortexDelete.replaceRuntime(cond0)
    require(cond.deterministic, s"vortex $op: predicate must be deterministic")
    def schemaOf(as: Seq[org.apache.spark.sql.catalyst.expressions.Attribute]) =
      StructType(as.map(a => StructField(a.name, a.dataType, a.nullable, a.metadata)))
    val refNames = cond.references.map(_.name).toSet
    val narrowOutput = output.filter(a => refNames.contains(a.name))
    BoundPredicate(schemaOf(output), BindReferences.bindReference(cond, AttributeSeq(output)),
      schemaOf(narrowOutput), BindReferences.bindReference(cond, AttributeSeq(narrowOutput)))
  }
}
