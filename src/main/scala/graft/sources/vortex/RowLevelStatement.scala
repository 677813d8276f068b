package graft.sources.vortex

import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSeq, BasePredicate, BindReferences, BoundReference, CommonExpressionRef, EmptyRow, Expression, GenericInternalRow, In, InSet, JoinedRow, Literal, Projection, RuntimeReplaceable, UnsafeProjection, With, Predicate => CatalystPredicate}
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.graft.GraftSqlBridge
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The one pipeline every row-level maintenance statement runs through
  * — DELETE, UPDATE, MERGE, foldMasks and the commit of compact. As in
  * the Delta Lake design, DELETE and UPDATE are special cases of MERGE:
  * every statement is a [[Shape]] — an ordered list of target-only
  * clauses plus, for MERGE, a keyed source — and shares everything,
  * its per-file kernel included:
  *
  *  1. PROLOGUE ([[run]]): the dataset's maintenance lease, ONE raw
  *     walk with the mask binding, the repair of what the crash
  *     judgment finds in it ([[MaintenanceCommit.uncommitted]]: stale
  *     replacements, orphaned merge-on-read appends, crashed compact
  *     batches) and the listing the statement plans on — the walk
  *     minus the files the judgment hides — then, once the statement
  *     knows it has work ([[Statement.begin]]), the commit log's
  *     pre-statement generation and the remover that retires
  *     superseded files into it.
  *  2. BIND ([[bind]], [[where]]): the table schema comes from the
  *     prologue's listing by inferSchema's rules ([[Statement.schema]]);
  *     predicates and projections over [[Statement.table]] — that
  *     schema as a relation, with no listing behind it — are prepared
  *     ([[prepare]]) and bound to ordinals in one place.
  *  3. PLAN ([[Statement.candidates]]): the candidates are the files,
  *     each with its chunks, that the scan's own chunk selection
  *     ([[ChunkSelection]]) keeps from the prologue's listing for the
  *     filters the optimizer pushes into the scan — partition, bucket,
  *     manifest min/max, bloom and chunk pruning all apply; a file it
  *     drops is never opened.
  *  4. FILE TASKS ([[Statement.execute]]): one task per candidate runs
  *     [[execute]]. A task never mutates the dataset: it writes only
  *     attempt-unique dot-hidden tmps ([[withTmp]] deletes them when
  *     the task fails) and returns a [[FileOutcome]] whose manifest
  *     entries were built executor-side, where the new footer is local.
  *  5. COMMIT ([[Statement.commit]]): metadata-only renames and removals
  *     per touched file, in parallel, then one stats-manifest write per
  *     schema version. The post-statement generation is published when
  *     the statement body returns normally.
  *
  * The kernel table — [[execute]] takes the first row that applies:
  *
  *  | kernel     | when                                                    |
  *  |------------|---------------------------------------------------------|
  *  | Keep       | classification: no live row of the planned chunks is acted on |
  *  | Drop       | every live row is deleted                                |
  *  | Mask       | deletion vectors on, delete-only                         |
  *  | AppendMask | deletion vectors on, update-only, not every live row matches |
  *  | Splice     | every referenced and assigned column stored, bucket key unchanged, plain layout if the file loses rows (a mask or a DELETE clause) — [[Splice]] |
  *  | Row        | anything else: the one row loop, with the partition/bucket move guard and the schema-evolution guard |
  *
  * Classification reads only the columns the conditions and keys
  * reference, over the planned chunks, mask-aware; it counts every row
  * when a Drop, a mask or MERGE's matched source ordinals need it, and
  * stops at the first hit otherwise. foldMasks skips it: the mask is
  * what it drops.
  *
  * Every statement's result carries its driver time by phase
  * (`phaseMs`, from [[Phases]]): taking the lease, the prologue and
  * binding, choosing the candidates, the file tasks, the commit, and
  * MERGE's inserts.
  *
  * Crash contract: per-file commit order is rename-in THEN remove
  * source, so no committed state ever loses a row; replacement names
  * are deterministic in the source name, so re-running the same
  * statement after a crash overwrites its own stale halves, and the
  * prologue's repair drops the halves a crashed statement left for a
  * DIFFERENT statement to find.
  */
private[graft] object RowLevelStatement {

  type Listing = Seq[(FileStatus, Seq[(String, String)])]
  type MaskBind = Map[String, (String, Seq[String])]

  /** Take the dataset's maintenance lease, then [[runLocked]]. */
  def run[R](spark: SparkSession, dir: String, op: String)(body: Statement => R): R =
    locked(spark, dir, op)(ph => runLocked(spark, dir, op, ph)(body))

  /** Run `body` under the dataset's maintenance lease, with the clock of
    * the statement's [[Phases]] started before the lease and the lease
    * taken as its `lock` phase. */
  def locked[R](spark: SparkSession, dir: String, op: String)(body: Phases => R): R = {
    val ph = new Phases
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val t0 = System.nanoTime()
    MaintenanceLock.withLock(fs, root, op) {
      ph.add("lock", System.nanoTime() - t0)
      body(ph)
    }
  }

  /** The prologue without the lease — the caller MUST hold it, through
    * [[locked]] (compact runs foldMasks and its own commit under one
    * lease, and both charge `ph`). */
  def runLocked[R](spark: SparkSession, dir: String, op: String, ph: Phases)
                  (body: Statement => R): R = {
    val hconf = spark.sessionState.newHadoopConf()
    val root = new Path(dir)
    val fs = root.getFileSystem(hconf)
    // one walk: repair what the crash judgment finds in it, then plan
    // on the walk minus what the judgment hides — no second listing
    val (walked, maskBind, uncommitted) = VortexDataSource.walk(Seq(dir), hconf)
    MaintenanceCommit.repair(fs, uncommitted)
    val listed = walked.filterNot(f => uncommitted.hidden(f._1.getPath.toString))
    val st = new Statement(spark, op, root, fs, hconf, listed, maskBind, ph)
    val result = body(st)
    st.finish()
    result
  }

  /** A statement's driver time by phase, from its start (before the
    * lease) until [[ms]] is read: `lock` (taking the lease),
    * `candidates` ([[Statement.candidates]]), `tasks` (the file-task
    * job), `commit` (renames, removals, the manifest write), any phase
    * the statement times itself ([[timed]]; MERGE's `inserts`), and
    * `plan`, the rest — the prologue and binding. Phases never nest, so
    * they sum to the elapsed time. */
  final class Phases private[RowLevelStatement] {
    private val start = System.nanoTime()
    private val ns = scala.collection.mutable.LinkedHashMap(
      "lock" -> 0L, "plan" -> 0L, "candidates" -> 0L, "tasks" -> 0L, "commit" -> 0L)

    private[RowLevelStatement] def add(phase: String, nanos: Long): Unit =
      ns(phase) = ns.getOrElse(phase, 0L) + nanos

    def timed[T](phase: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally add(phase, System.nanoTime() - t0)
    }

    /** milliseconds per phase, every phase above present */
    def ms: Map[String, Long] = {
      val plan = System.nanoTime() - start - ns.iterator.filter(_._1 != "plan").map(_._2).sum
      ns.iterator.map { case (k, v) => k -> (if (k == "plan") plan else v) / 1000000L }.toMap
    }
  }

  /** One candidate file of a statement. `plannedChunks` are the chunks
    * the chunk selection kept (pruned chunks cannot match); `stats` are the
    * file's pre-statement manifest column stats — the bloom/sketch
    * opt-ins a rewrite keeps, and what the splice kernel's blind
    * columns inherit. */
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
    * append name carries the mask seq — see VortexUpdate.appendName) */
  final case class AppendMask(data: Staged, mask: Staged) extends Change

  /** One file task's result: its change, the kernel that ran, and the
    * rows updated and deleted. `matched` (MERGE only) lists the source
    * ordinals whose key this file holds. */
  final case class FileOutcome(file: String, change: Change, kernel: Kernel.Value,
                               rowsUpdated: Long, rowsDeleted: Long, matched: Array[Int])

  /** A statement's state after the prologue. */
  final class Statement private[RowLevelStatement] (
      val spark: SparkSession, val op: String, val root: Path, val fs: FileSystem,
      val hconf: Configuration, val listed: Listing, val maskBind: MaskBind,
      phases: Phases) {
    private var log: Option[VortexCommitLog.Ctx] = None
    private var begun = false
    private lazy val rootQ = fs.makeQualified(root).toString
    /** the root's stats manifests, read once: the first recorded
      * schema and the entries by relative path */
    private lazy val manifest =
      try StatsManifest.readAll(root, hconf)
      catch { case _: Exception => (None, Map.empty[String, StatsManifest.FileStats]) }
    /** the root's manifest entries, by qualified file path */
    private lazy val entries = manifest._2.values.map(e => s"$rootQ/${e.relPath}" -> e).toMap

    /** The table as the statement plans it, by inferSchema's rules over
      * the prologue's listing: its schema and its partition columns. */
    lazy val (schema: StructType, partCols: Seq[String]) =
      VortexDataSource.tableSchema(Seq(root.toString), listed, hconf, mergeSchema = false,
        Seq(manifest))

    /** The dataset's bloom and sketch opt-ins: the columns for which
      * every manifest entry of a listed file carries a bloom (a sketch). */
    lazy val (bloomCols: Set[String], sketchCols: Set[String]) = {
      val es = listed.flatMap { case (f, _) => entries.get(s"$rootQ/${relOf(f.getPath)}") }
      def all(has: StatsManifest.ColStats => Boolean): Set[String] =
        if (es.isEmpty) Set.empty
        else es.map(_.cols.filter(has).map(_.name).toSet).reduce(_ intersect _)
      (all(_.bloom.isDefined), all(_.sketch.isDefined))
    }

    /** the dataset's bucket layout (key, buckets), read once */
    lazy val bucket: Option[(String, Int)] =
      try BucketSpecFile.read(root, hconf) catch { case _: Exception => None }

    /** [[schema]] as a relation over the dataset: filtering it costs
      * analysis and optimization only — no listing, no schema inference */
    lazy val table: DataFrame = GraftSqlBridge.ofRows(spark, DataSourceV2Relation.create(
      new VortexTable(schema, Seq(root.toString)), None, None, CaseInsensitiveStringMap.empty()))

    /** Open the statement in the commit log (a no-op without one):
      * the log's latest generation becomes the pre-statement state,
      * reusing the prologue's committed listing. Called once the
      * statement knows it has work, before it commits anything. */
    def begin(): Unit = if (!begun) {
      log = VortexCommitLog.begin(spark, fs, root, hconf, op, Some((listed, maskBind)))
      begun = true
    }

    /** time `body` as the statement's phase `phase` */
    def timed[T](phase: String)(body: => T): T = phases.timed(phase)(body)

    /** the driver time so far by phase — the `phaseMs` of every result */
    def phaseMs: Map[String, Long] = phases.ms

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
      Candidate(file, partCols, partValues, plannedChunks, maskFile,
        DeletionVector.newestSeq(maskBind, file) + 1, dstName, relDir,
        entries.get(s"$rootQ/$rel").map(_.cols.map(c => c.name -> c).toMap).getOrElse(Map.empty))
    }

    /** The files of the prologue's listing whose chunks can match
      * `filtered` (a filter over [[table]]), each with its planned
      * chunks, in path order; `dstName` names each file's replacement.
      * The selection is the one `filtered`'s scan would plan
      * ([[scanOf]]: its pushed filters, table schema and evolution
      * mode), run on the listing the statement holds; a predicate the
      * optimizer proves false leaves no scan and no candidate. */
    def candidates(filtered: DataFrame, dstName: String => String): Seq[Candidate] =
      timed("candidates") {
        scanOf(filtered).toSeq.flatMap(s => ChunkSelection.select(listed, maskBind, entries,
          s.pushed.toSeq, s.fileSchema, bucket, s.evolution, hconf)).map { f =>
          candidate(f.file, dstName(f.status.getPath.getName), f.partCols, f.partValues,
            f.chunks, f.maskFile)
        }
      }

    /** the dataset's bucketing key, if it is bucketed */
    def bucketKey: Option[String] = bucket.map(_._1)

    /** one distributed job, one task per candidate, each running
      * [[RowLevelStatement.execute]] */
    def execute(cands: Seq[Candidate], shape: Shape): Seq[FileOutcome] = timed("tasks") {
      val outcomes =
        if (cands.isEmpty) Seq.empty
        else {
          val bc = HadoopConfBroadcast(spark)
          spark.sparkContext.parallelize(cands, cands.length)
            .map(c => RowLevelStatement.execute(c, shape, bc.value.value)).collect().toSeq
        }
      lastOutcomes = outcomes
      outcomes
    }

    /** Commit every outcome (in parallel when more than one), then
      * write the new files' manifest entries. `failAfterCommits` is a
      * TEST SEAM: ≥0 commits sequentially and throws after that many
      * per-file commits, simulating a crash mid-commit. */
    def commit(outcomes: Seq[FileOutcome], failAfterCommits: Int = -1): Unit = timed("commit") {
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

  /** Write a data file named `dstName` beside the candidate through
    * `fill`'s writer (`schema` = the file's own stored schema), taking
    * the writer's manifest entry. A column the writer saw only as
    * verbatim pages ([[VortexFileWriter.blind]]) keeps the candidate's
    * pre-statement sum, bloom and sketch: `fill` copies a column blind
    * only when the file keeps every row and that column's values.
    * Returns the staged file and `fill`'s result. */
  def write[T](c: Candidate, dstName: String, schema: StructType, conf: Configuration)
              (fill: VortexFileWriter => T): (Staged, T) =
    withTmp(c, dstName, conf) { tmp =>
      val writer = new VortexFileWriter(tmp, conf, schema,
        bloomCols = c.bloomCols, sketchCols = c.sketchCols)
      // a failed fill must not leave the tmp's stream open
      val t = try fill(writer) catch { case e: Throwable => writer.abort(); throw e }
      val written = writer.close()
      val entry = written.copy(relPath = c.rel(dstName), cols = written.cols.zipWithIndex.map {
        case (col, i) if writer.blind(i) =>
          val old = c.stats.get(col.name)
          col.copy(sum = old.flatMap(_.sum), bloom = old.flatMap(_.bloom),
            sketch = old.flatMap(_.sketch))
        case (col, _) => col
      })
      (Staged(tmp.toString, dstName, Some(entry), schema.json), t)
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

  // ------------------------------------------------ statement shape

  /** One target-only clause: `cond` over the table row (None = every
    * row) and `assigns`, the full table-width projection (None =
    * DELETE). MERGE's WHEN MATCHED clauses have the same shape, bound
    * over the table row ++ the source row. */
  final case class Clause(cond: Option[Expression], assigns: Option[Seq[Expression]])

  /** MERGE's keyed source: the broadcast source rows, the key ordinals
    * in the table row and in the source row, the key types, the WHEN
    * MATCHED clauses, and the keys held by more than one source row
    * (correlated scalar SET; empty otherwise). */
  final case class Keyed(rows: Broadcast[Array[InternalRow]], keyIdxT: Array[Int],
                         keyIdxS: Array[Int], keyTypes: Array[DataType],
                         matched: Seq[Clause], dupKeys: Broadcast[Set[Seq[Any]]])

  /** A statement as its file tasks run it: DELETE WHERE p is
    * `[(p, DELETE)]`, UPDATE is `[(p, SET)]`, MERGE is its keyed source
    * plus its NOT MATCHED BY SOURCE clauses, foldMasks has no clause
    * (only the mask drops rows). `tableSchema` is the row the clauses
    * are bound over (null = each file's own schema); `mustStore` lists
    * the columns a row-path rewrite needs stored in the file; and
    * `bucketIdx` is the bucketing key's table ordinal (-1 = none). */
  final case class Shape(op: String, tableSchema: StructType, clauses: Seq[Clause],
                         keyed: Option[Keyed] = None, deletionVectors: Boolean = false,
                         bucketIdx: Int = -1, mustStore: Seq[String] = Nil) {
    /** every clause, the keyed source's WHEN MATCHED ones first */
    def all: Seq[Clause] = keyed.map(_.matched).getOrElse(Nil) ++ clauses
    def deleteOnly: Boolean = all.forall(_.assigns.isEmpty)
    def updateOnly: Boolean = all.nonEmpty && all.forall(_.assigns.isDefined)
  }

  /** The kernel a file task ran — see the table in the header. */
  object Kernel extends Enumeration {
    val Keep, Drop, Mask, AppendMask, Splice, Row = Value
  }

  /** files per kernel name — the `kernels` field of every statement's result */
  def kernels(outcomes: Seq[FileOutcome]): Map[String, Int] =
    outcomes.groupBy(_.kernel.toString).map { case (k, os) => k -> os.length }

  /** TEST SEAM: the outcomes of the last statement [[Statement.execute]]
    * ran in this JVM. */
  @volatile private[graft] var lastOutcomes: Seq[FileOutcome] = Nil

  // ------------------------------------------------ binding

  /** The preparation every bound expression gets: RuntimeReplaceable
    * and `With` forms inline (their interpreted eval asserts, and a
    * `With`'s CommonExpressionRefs cannot eval either — BETWEEN is
    * both), then [[preBindOptimize]] runs once at the top. Statements
    * bind ANALYZED expressions, which the optimizer never saw. Inlining
    * a ref duplicates its common subexpression, which per-row eval
    * can afford. */
  def prepare(e: Expression): Expression = preBindOptimize(inline(e))

  private def inline(e: Expression): Expression = e.transformUp {
    case r: RuntimeReplaceable => inline(r.replacement)
    case w: With =>
      val defs = w.defs.map(d => d.id -> d.child).toMap
      // a ref bound to an OUTER With's def is legal — leave it for the
      // outer pass instead of throwing
      inline(w.child.transformUp { case ref: CommonExpressionRef => defs.getOrElse(ref.id, ref) })
  }

  /** The optimizer rewrites a bound expression would otherwise skip,
    * both semantics-preserving:
    *
    *  - a literal `In` above the conversion threshold becomes an
    *    `InSet` (a hash probe instead of a linear scan per row — 33.9 s
    *    → 2.86 s on the sf1 subquery UPDATE row);
    *  - foldable subtrees fold once. Folding that THROWS (ANSI division
    *    by zero, unevaluable placeholders) leaves the node for
    *    execution, as the optimizer's ConstantFolding does.
    *
    * Deliberately not rewritten: CASE-branch simplification (foldable
    * branches are covered by the fold) and common-subexpression
    * elimination (each bound expression evaluates once per row). */
  private def preBindOptimize(e: Expression): Expression = {
    val inSetThreshold =
      try org.apache.spark.sql.internal.SQLConf.get.optimizerInSetConversionThreshold
      catch { case _: Exception => 10 }
    e.transformUp {
      case in @ In(v, list)
          if list.length > inSetThreshold && list.forall(_.isInstanceOf[Literal]) =>
        InSet(v, scala.collection.immutable.HashSet() ++
          list.map(_.asInstanceOf[Literal].value))
      case c if c.foldable && !c.isInstanceOf[Literal] =>
        try Literal.create(c.eval(EmptyRow), c.dataType)
        catch { case _: Exception => c }
    }
  }

  /** The one binding site of predicates and projections: [[prepare]],
    * require determinism, bind to the ordinals of `ctx`. */
  def bind(op: String, what: String, ctx: Seq[Attribute])(e: Expression): Expression = {
    val p = prepare(e)
    require(p.deterministic, s"vortex $op: $what must be deterministic")
    BindReferences.bindReference(p, AttributeSeq(ctx))
  }

  /** The vortex scan of `filtered`'s optimized plan, or None when the
    * optimizer proves the predicate false and leaves no scan. Its
    * pushed filters are the OPTIMIZED predicate's (`LIKE 'x%'` pushes
    * as a `StringStartsWith`, inferred constraints add `IsNotNull`),
    * not a translation of the analyzed one. Optimization builds the
    * scan but never plans it. */
  def scanOf(filtered: DataFrame): Option[VortexScan] =
    filtered.queryExecution.optimizedPlan.collectFirst {
      case DataSourceV2ScanRelation(_, s: VortexScan, _, _, _) => s
    }

  /** The WHERE of `filtered` (a table scan under one Filter) bound over
    * the table row, and that row's schema. */
  def where(filtered: DataFrame, op: String): (StructType, Expression) = {
    val (cond, output) = filtered.queryExecution.analyzed.collectFirst {
      case f: logical.Filter => (f.condition, f.child.output)
    }.getOrElse(throw new IllegalArgumentException(
      s"vortex $op: cannot resolve the predicate"))
    (StructType(output.map(a => StructField(a.name, a.dataType, a.nullable, a.metadata))),
      bind(op, "predicate", output)(cond))
  }

  // ------------------------------------------------ the file task

  /** Run `s` on one candidate (executor side): classify the file, choose
    * its kernel in the order of the header's table, stage the output.
    * Never mutates the dataset (retry/speculation-safe). */
  def execute(c: Candidate, s: Shape, conf: Configuration): FileOutcome = {
    val footer = VortexFileReader.readFooter(c.path, conf)
    val schema = if (s.tableSchema == null) footer.schema else s.tableSchema
    val mask = if (c.maskFile == null) null else DeletionVector.read(new Path(c.maskFile), conf)
    val total = footer.chunks.map(_.rowCount.toLong).sum
    val live = total - (if (mask == null) 0L else mask.cardinality)
    val planned = if (c.plannedChunks == null) footer.chunks.indices.toArray else c.plannedChunks
    val ev = new Eval(s, schema.length)
    def outcome(change: Change, k: Kernel.Value, updated: Long, deleted: Long) =
      FileOutcome(c.file, change, k, updated, deleted, ev.matchedOrdinals)
    val fold = s.clauses.isEmpty && s.keyed.isEmpty
    // foldMasks rewrites every candidate; the rows it drops are the masked ones
    val (acted, deleted, positions) =
      if (fold) (1L, total - live, Array.emptyLongArray) else classify(c, s, ev, schema, footer, mask, planned, conf)
    if (acted == 0L) return outcome(Keep, Kernel.Keep, 0L, 0L)
    if (!fold && deleted == live) return outcome(Drop, Kernel.Drop, 0L, live)
    val bucketMoves = s.bucketIdx >= 0 && ev.changed.contains(s.bucketIdx)
    // rows leave the file: masked ones fold away, DELETE clauses drop
    val loses = live < total || deleted > 0
    // the file's next mask: the acted rows on top of the existing one
    def nextMask = {
      val added = DeletionVector.fromPositions(positions)
      if (mask == null) added else DeletionVector.union(mask, added)
    }
    if (s.deletionVectors && s.deleteOnly) {
      outcome(Mask(writeMask(c, nextMask, conf)), Kernel.Mask, 0L, acted)
    } else if (s.deletionVectors && s.updateOnly && acted < live) {
      val (append, updated, _) = rowPass(c, s, ev, schema, footer, mask, planned,
        VortexUpdate.appendName(c.path.getName, c.nextMaskSeq), appendOnly = true, conf)
      val m = try writeMask(c, nextMask, conf)
        catch { case e: Throwable => discard(append, conf); throw e }
      outcome(AppendMask(append, m), Kernel.AppendMask, updated, 0L)
    } else if (!bucketMoves &&
        Splice.applicable(footer, (ev.spliceRefs ++ ev.changed).map(schema(_).name), loses)) {
      val (data, (updated, dropped)) = write(c, c.dstName, footer.schema, conf)(w =>
        Splice.rewrite(w, c.path, conf, footer, schema, ev, mask, planned, loses))
      outcome(Replace(data), Kernel.Splice, updated, if (fold) deleted else dropped)
    } else {
      val (data, updated, dropped) = rowPass(c, s, ev, schema, footer, mask,
        footer.chunks.indices.toArray, c.dstName, appendOnly = false, conf)
      outcome(Replace(data), Kernel.Row, updated, if (fold) deleted else dropped)
    }
  }

  /** The classification pass: decide every live row of the planned
    * chunks, reading only the columns the conditions and keys
    * reference. Returns the rows acted on, the rows deleted, and —
    * with deletion vectors — the acted rows' stored ordinals. Stops at
    * the first hit unless a Drop, a mask or MERGE's matched source
    * ordinals need the full count. */
  private def classify(c: Candidate, s: Shape, ev: Eval, schema: StructType,
                       footer: VortexFormat.Footer, mask: DeletionVector.Mask,
                       planned: Array[Int], conf: Configuration): (Long, Long, Array[Long]) = {
    val full = s.keyed.isDefined || !s.updateOnly || s.deletionVectors
    val narrow = StructType(ev.refs.map(schema(_)))
    val wide = new GenericInternalRow(schema.length)
    val get = narrow.fields.map(f => InternalRow.getAccessor(f.dataType, nullable = true))
    val positions = scala.collection.mutable.ArrayBuilder.make[Long]
    var acted = 0L
    var deleted = 0L
    liveRows(c, narrow, footer, mask, planned, conf) { (pos, row) =>
      var i = 0
      while (i < ev.refs.length) {
        wide.update(ev.refs(i), get(i)(row, i)); i += 1
      }
      val j = ev.decide(wide)
      if (j >= 0) {
        acted += 1
        if (ev.deletes(j)) deleted += 1
        if (s.deletionVectors) positions += pos
      }
      full || acted == 0L
    }
    (acted, deleted, positions.result())
  }

  /** THE row loop: stream the live rows of `chunks` through the clauses
    * into a file named `dst` with the file's own stored schema.
    * `appendOnly` (merge-on-read UPDATE) writes only the updated rows;
    * otherwise kept rows copy, updated rows are replaced and deleted
    * rows dropped. Returns the staged file, rows updated, rows deleted. */
  private def rowPass(c: Candidate, s: Shape, ev: Eval, schema: StructType,
                      footer: VortexFormat.Footer, mask: DeletionVector.Mask,
                      chunks: Array[Int], dst: String, appendOnly: Boolean,
                      conf: Configuration): (Staged, Long, Long) = {
    val fileFields = footer.schema.fields
    val stored = footer.schema.fieldNames.toSet
    // a column the file does not store would be computed, then dropped
    // by the slot map below — fail the job (tasks commit nothing)
    s.mustStore.filterNot(c.partCols.contains).foreach(n => require(stored(n),
      s"vortex ${s.op}: " + (if (s.keyed.isEmpty)
        s"SET column $n is not stored in ${c.file} (schema-evolved file) — rewriting " +
          "would silently drop the assignment; "
      else s"target file ${c.file} does not store column $n (schema-evolved file) — ") +
      "compact/rewrite the dataset to one schema first"))
    // an UPDATE must not move a row out of its partition or bucket
    // directory: partition columns live in the path, and bucket pruning
    // would route lookups of the new value elsewhere
    val moveGuarded: Array[(Int, String, String)] =
      schema.fields.indices.filter(i => c.partCols.contains(schema(i).name) && !stored(schema(i).name))
        .map(i => (i, "partition column", "partition")).toArray ++
      (if (s.bucketIdx >= 0) Array((s.bucketIdx, "bucketing key", "bucket")) else Array.empty)
    def valEq(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
      case _ => a == b
    }
    val slot = fileFields.map(f => schema.fieldIndex(f.name))
    val get = schema.fields.map(f => InternalRow.getAccessor(f.dataType, nullable = true))
    val projs = ev.projections(schema.indices.toArray)
    var updated = 0L
    var deleted = 0L
    val (staged, _) = write(c, dst, footer.schema, conf) { w =>
      val out = new GenericInternalRow(fileFields.length)
      def emit(r: InternalRow): Unit = {
        var i = 0
        while (i < slot.length) { out.update(i, get(slot(i))(r, slot(i))); i += 1 }
        w.write(out)
      }
      liveRows(c, schema, footer, mask, chunks, conf) { (_, row) =>
        val j = ev.decide(row)
        if (j < 0) { if (!appendOnly) emit(row) }
        else if (ev.deletes(j)) deleted += 1
        else {
          val upd = projs(j)(ev.input)
          moveGuarded.foreach { case (ti, what, dir) =>
            if (!valEq(get(ti)(row, ti), get(ti)(upd, ti)))
              throw new IllegalArgumentException(
                s"vortex ${s.op}: UPDATE clause changes $what ${schema(ti).name} — the " +
                s"in-place rewrite cannot move rows between $dir directories")
          }
          updated += 1
          emit(upd)
        }
        true
      }
    }
    (staged, updated, deleted)
  }

  /** Visit the live rows of `chunks` (ascending) read as `schema`:
    * `f(stored ordinal, row)` until it returns false. The rows are the
    * scan's own columnar batches (one per chunk, in `chunks` order; the
    * row is a view, valid until `f` returns). The mask applies here
    * rather than in the reader, so every ordinal stays exact. A
    * batch-backed row's `get` does not check nulls for primitive types
    * (a NULL long reads 0L), so callers copy values through
    * `InternalRow.getAccessor(dt, nullable = true)`, which checks
    * `isNullAt` first. */
  private def liveRows(c: Candidate, schema: StructType, footer: VortexFormat.Footer,
                       mask: DeletionVector.Mask, chunks: Array[Int], conf: Configuration)
                      (f: (Long, InternalRow) => Boolean): Unit = {
    val r = new VortexColumnarReader(
      VortexInputPartition(c.file, chunks, c.partCols, c.partValues), conf, schema, evolution = true)
    val bases = footer.chunkBase
    var k = 0
    var go = true
    try while (go && r.next()) {
      val batch = r.get()
      val n = footer.chunks(chunks(k)).rowCount
      require(batch.numRows == n,
        s"vortex: chunk ${chunks(k)} of ${c.file} read ${batch.numRows} rows, footer says $n")
      val base = bases(chunks(k))
      var i = 0
      while (go && i < n) {
        val pos = base + i
        if (mask == null || !mask.isDeleted(pos)) go = f(pos, batch.getRow(i))
        i += 1
      }
      k += 1
    } finally r.close()
  }

  /** A shape's clauses compiled for one task. [[decide]] picks the
    * clause a target row takes — the first whose condition holds
    * (ANSI); [[input]] is then the row its projection reads: the
    * target row, or target ++ source on a key match. */
  private[vortex] final class Eval(s: Shape, width: Int) {
    private val keyed = s.keyed.orNull
    private val all: Array[Clause] = s.all.toArray
    private val nMatched = if (keyed == null) 0 else keyed.matched.length
    private val conds: Array[BasePredicate] = all.map(_.cond.map { e =>
      val p = CatalystPredicate.create(e); p.initialize(0); p }.orNull)
    private val srcRows = if (keyed == null) null else keyed.rows.value
    private val dupKeys = if (keyed == null) null else keyed.dupKeys.value
    private val byKey = new java.util.HashMap[Seq[Any], Integer]()
    if (keyed != null) srcRows.indices.foreach { i =>
      val k = VortexMergeSupport.keyOf(srcRows(i), keyed.keyIdxS, keyed.keyTypes)
      if (k != null) byKey.put(k, i)
    }
    private val matched = new java.util.BitSet
    private val joined = new JoinedRow
    var input: InternalRow = _

    private def targetRefs(e: Expression): Seq[Int] =
      e.collect { case b: BoundReference if b.ordinal < width => b.ordinal }
    private def changedOf(assigns: Seq[Expression]): Seq[Int] = assigns.indices.filter(p =>
      assigns(p) match { case b: BoundReference => b.ordinal != p; case _ => true })

    /** table ordinals the conditions and keys read */
    val refs: Array[Int] = (Option(keyed).map(_.keyIdxT.toSeq).getOrElse(Nil) ++
      all.flatMap(_.cond.toSeq.flatMap(targetRefs))).distinct.sorted.toArray
    /** table ordinals some UPDATE clause assigns */
    val changed: Array[Int] = all.flatMap(_.assigns.toSeq.flatMap(changedOf)).distinct.sorted
    /** what the splice kernel decodes: [[refs]] plus the changed values' inputs */
    def spliceRefs: Seq[Int] = refs.toSeq ++ all.flatMap(_.assigns.toSeq.flatMap(a =>
      changed.toSeq.flatMap(p => targetRefs(a(p)))))

    def deletes(j: Int): Boolean = all(j).assigns.isEmpty

    /** per clause, the projection of the table ordinals `cols` (null for DELETE) */
    def projections(cols: Array[Int]): Array[Projection] =
      all.map(_.assigns.map(a => UnsafeProjection.create(cols.toSeq.map(a(_)))).orNull)

    /** the clause `t` takes, or -1: kept as it is */
    def decide(t: InternalRow): Int = {
      input = t
      if (keyed != null) {
        val k = VortexMergeSupport.keyOf(t, keyed.keyIdxT, keyed.keyTypes)
        val hit = if (k == null) null else byKey.get(k)
        if (hit != null) {
          matched.set(hit.intValue())
          input = joined(t, srcRows(hit.intValue()))
          val j = first(0, nMatched)
          // >1 source row for this key: ANSI errors iff a clause fires
          if (j >= 0 && dupKeys.contains(k))
            throw new IllegalStateException("vortex merge: scalar subquery produced more " +
              s"than one row for key $k (ANSI cardinality)")
          return j
        }
      }
      first(nMatched, all.length)
    }

    private def first(from: Int, until: Int): Int = {
      var j = from
      while (j < until) {
        if (conds(j) == null || conds(j).eval(input)) return j
        j += 1
      }
      -1
    }

    /** the source ordinals whose key a decided row held */
    def matchedOrdinals: Array[Int] = matched.stream().toArray
  }
}
