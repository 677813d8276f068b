package graft.sources.vortex

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, InSet, UnsafeProjection, Predicate => CatalystPredicate}
import org.apache.spark.sql.graft.GraftSqlBridge
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** `MERGE INTO <vortex dataset> USING <source> ON key WHEN …` — the
  * incremental-ingest shape of a corpus store: a batch of re-scored /
  * re-crawled documents lands on top of 100 TB without rewriting more
  * than the files it touches. [[mergeClauses]] is the one MERGE
  * statement (the SQL surface's, conditional clauses and all);
  * [[merge]] is its whole-row special case — `WHEN MATCHED THEN UPDATE
  * SET * WHEN NOT MATCHED THEN INSERT *` over a source cast to the
  * target schema. Both run through the shared row-level pipeline
  * (RowLevelStatement: lease, repairs, commit log, candidate planning,
  * per-file tasks, commit) like DELETE and UPDATE.
  *
  * Scale contract (the 100 TB judgment): the SOURCE is the small side —
  * a batch, not a second 100 TB table. Its rows are collected and
  * broadcast (hard `require` ≤ `maxSourceRows`, default 1M — the same
  * bounded-driver-state discipline as UnigramLM's cap), because every
  * candidate file task needs random-access lookup by key. The TARGET
  * side stays fully distributed and file-granular:
  *  - candidates = the files and chunks the scan's chunk selection
  *    keeps, from the statement's listing, for `key IN (source keys)`
  *    when the key set is small enough to push (≤ 10k rows,
  *    single-column keys — manifest min/max, blooms and partition
  *    pruning then skip untouched files with zero I/O); otherwise
  *    every file is a candidate and classification decides. The
  *    filter is one `InSet` of the source's Catalyst key values, which
  *    already carry the key's type: the analyzer has nothing to
  *    coerce, and the scan is pushed the same `sources.In` as an `IN`
  *    of literals.
  *  - one NON-DESTRUCTIVE task per candidate file runs the statement
  *    as a keyed source (the broadcast rows, keys and WHEN MATCHED
  *    clauses) plus its NOT MATCHED BY SOURCE clauses; its kernel comes
  *    from RowLevelStatement's kernel table. Matched source ordinals
  *    return to the driver.
  *  - driver commit: rename/delete per touched file under deterministic
  *    `part-merge-<md5(src)>.vortex` names — the same crash-convergence
  *    contract, and the same `failAfterCommits` crash seam, as
  *    DELETE/UPDATE.
  *  - APPEND: source rows no task matched are staged — by the vortex
  *    DataWriter, run on the driver with the dataset's partition
  *    columns, bucket spec and bloom/sketch opt-ins, whose manifest
  *    entries stay in memory — and renamed in under
  *    `part-merge-ins-<md5(source content + key + clauses)>.vortex`,
  *    one per layout directory — a directory already holding this
  *    statement's insert file (or its deterministic maintenance
  *    replacement) is skipped, making the insert half EXACTLY-ONCE
  *    under crash re-runs, including NULL-key inserts that can never
  *    self-match. Two documented bounds of that guarantee (ADVICE
  *    r11): (1) the marker is keyed on STATEMENT identity, so a
  *    deliberate later re-execution of a byte-identical MERGE (same
  *    source content, keys, clauses) is deduplicated too — its insert
  *    half is skipped where ANSI would re-insert never-matching
  *    NULL-key rows; vary the source (e.g. a batch-id column) when
  *    re-insertion is intended. (2) The marker is the insert FILE's
  *    name, and compaction can absorb that file — a crash re-run
  *    interleaved with a compact can therefore re-append. Run MERGE
  *    re-runs before compaction.
  *
  * Duplicate keys: source keys must be unique (`require`d — two source
  * rows for one target row is ambiguous); duplicate keys in the TARGET
  * all take the same source row (each is a match).
  */
object VortexMerge {
  import RowLevelStatement.{Drop, Keep, Replace}

  final case class MergeResult(candidateFiles: Int, untouchedFiles: Int,
                               rewrittenFiles: Int, rowsUpdated: Long,
                               rowsInserted: Long, rowsDeleted: Long = 0L,
                               droppedFiles: Int = 0,
                               kernels: Map[String, Int] = Map.empty,
                               phaseMs: Map[String, Long] = Map.empty)

  private[graft] def replacementName(srcName: String): String =
    MaintenanceCommit.replacementName("merge", srcName)

  /** the largest source whose single-column key set is pushed into
    * candidate planning as `key IN (…)` */
  private val PushKeyLimit = 10000

  /** Whole-row upsert: target rows whose key appears in the source are
    * REPLACED by the source row, source rows matching nothing are
    * APPENDED. The source is cast to the target schema first. */
  def merge(spark: SparkSession, dir: String, source: DataFrame,
            keyCols: Seq[String],
            maxSourceRows: Int = 1 << 20): MergeResult =
    upsert(spark, dir, source, keyCols, maxSourceRows)

  /** [[merge]] with the TEST SEAMS: `failAfterCommits` (≥0: throw after
    * that many per-file replace commits) and `failAfterInserts` (≥0:
    * throw after that many per-directory insert renames). */
  private[graft] def upsert(spark: SparkSession, dir: String, source: DataFrame,
                            keyCols: Seq[String], maxSourceRows: Int = 1 << 20,
                            failAfterCommits: Int = -1,
                            failAfterInserts: Int = -1): MergeResult = {
    require(keyCols.nonEmpty, "vortex merge: no key columns")
    RowLevelStatement.run(spark, dir, "merge") { st =>
      val tSchema = st.schema
      keyCols.foreach(k => require(tSchema.fieldNames.contains(k),
        s"vortex merge: key column $k is not a column of the target"))
      val aligned = source.select(tSchema.fields.map(f =>
        col(s"`${f.name}`").cast(f.dataType).as(f.name)).toIndexedSeq: _*)
      val srcAttrs = aligned.queryExecution.analyzed.output
      val keyIdx = keyCols.map(tSchema.fieldIndex).toArray
      statement(st, aligned, st.table.queryExecution.analyzed.output, srcAttrs,
        keyIdx, keyIdx, Seq(MatchedAction(None, Some(srcAttrs))),
        Seq(NotMatchedAction(None, srcAttrs)), Nil, "upsert", maxSourceRows,
        failAfterCommits, failAfterInserts, ansiScalarDups = false, wholeRow = true)
    }
  }

  /** One `WHEN MATCHED [AND cond] THEN UPDATE/DELETE` clause. `cond`
    * and the UPDATE projection are expressions over the caller's
    * target ++ source attribute contexts (bound here by ordinal;
    * executors evaluate them on a JoinedRow(targetRow, sourceRow)).
    * `assigns` is the FULL target-schema projection for UPDATE —
    * unassigned columns carry the target attribute itself — or None
    * for DELETE. */
  final case class MatchedAction(cond: Option[Expression], assigns: Option[Seq[Expression]])

  /** One `WHEN NOT MATCHED [AND cond] THEN INSERT` clause: cond and
    * the full target-schema projection, over the SOURCE attributes
    * only (unassigned columns insert NULL). */
  final case class NotMatchedAction(cond: Option[Expression], values: Seq[Expression])

  /** Conditional-clause MERGE — the full ANSI shape
    * (`WHEN MATCHED [AND c] THEN UPDATE SET <subset> | DELETE`,
    * `WHEN NOT MATCHED [AND c] THEN INSERT`,
    * `WHEN NOT MATCHED BY SOURCE [AND c] THEN UPDATE SET … | DELETE`).
    * Clauses evaluate IN ORDER within their family; the first whose
    * condition holds wins (ANSI); a row with no true clause is kept
    * verbatim. `targetAttrs`/`sourceAttrs` are the binding contexts the
    * clause expressions reference — targetAttrs must mirror the dataset
    * schema positionally; NOT MATCHED BY SOURCE expressions must
    * reference targetAttrs only (ANSI scoping — there IS no source row
    * for them). `clauseFingerprint` folds the clause list into the
    * statement identity for the exactly-once insert names.
    *
    * Scale note (disclosed full-scan shape): NOT MATCHED BY SOURCE
    * actions can touch ANY target row whose key is absent from the
    * source, so the statement plans EVERY file as a candidate — the
    * key-IN pushdown that prunes match-only merges cannot apply. That
    * is inherent to the semantics (the reference's host DB scans the
    * whole target too); the per-file tasks stay non-destructive and
    * untouched files are still detected and skipped at commit time. */
  def mergeClauses(spark: SparkSession, dir: String, source: DataFrame,
                   targetAttrs: Seq[Attribute], sourceAttrs: Seq[Attribute],
                   keyIdxTarget: Array[Int], keyIdxSource: Array[Int],
                   matchedActions: Seq[MatchedAction],
                   notMatchedActions: Seq[NotMatchedAction],
                   notMatchedBySourceActions: Seq[MatchedAction],
                   // no default: the fingerprint is the exactly-once
                   // insert identity — two different statements sharing
                   // an accidental "" would dedupe each other's inserts
                   clauseFingerprint: String,
                   maxSourceRows: Int = 1 << 20,
                   failAfterInserts: Int = -1,
                   // correlated scalar SET (r14): ANSI fires the
                   // cardinality error only when a duplicated source
                   // key actually MATCHES a targeted row — defer the
                   // duplicate check to match time instead of the
                   // statement-global broadcast-time require
                   ansiScalarDups: Boolean = false): MergeResult = {
    require(keyIdxTarget.nonEmpty && keyIdxTarget.length == keyIdxSource.length,
      "vortex merge: ON must be a conjunction of target-key = source-key equalities")
    require(matchedActions.nonEmpty || notMatchedActions.nonEmpty ||
        notMatchedBySourceActions.nonEmpty,
      "vortex merge: no WHEN clauses")
    RowLevelStatement.run(spark, dir, "merge")(statement(_, source, targetAttrs, sourceAttrs,
      keyIdxTarget, keyIdxSource, matchedActions, notMatchedActions, notMatchedBySourceActions,
      clauseFingerprint, maxSourceRows, failAfterCommits = -1, failAfterInserts, ansiScalarDups,
      wholeRow = false))
  }

  /** The MERGE statement behind [[merge]] and [[mergeClauses]], run on
    * the statement `st` over its table ([[RowLevelStatement.Statement.table]]).
    * `wholeRow` adds the upsert's up-front source check: every source
    * value lands in the target verbatim, so a NULL for a non-nullable
    * target column fails before anything runs. */
  private def statement(st: RowLevelStatement.Statement, source: DataFrame,
                        targetAttrs: Seq[Attribute], sourceAttrs: Seq[Attribute],
                        keyIdxTarget: Array[Int], keyIdxSource: Array[Int],
                        matchedActions: Seq[MatchedAction],
                        notMatchedActions: Seq[NotMatchedAction],
                        notMatchedBySourceActions: Seq[MatchedAction],
                        clauseFingerprint: String, maxSourceRows: Int,
                        failAfterCommits: Int, failAfterInserts: Int,
                        ansiScalarDups: Boolean, wholeRow: Boolean): MergeResult = {
    val spark = st.spark
    st.begin()
    val target = st.table
    val tSchema = st.schema
    require(targetAttrs.length == tSchema.length &&
      targetAttrs.zip(tSchema.fields).forall { case (a, f) =>
        a.name == f.name && a.dataType == f.dataType },
      "vortex merge: target binding context does not mirror the dataset schema")
    keyIdxTarget.zip(keyIdxSource).foreach { case (ti, si) =>
      require(tSchema.fields(ti).dataType == sourceAttrs(si).dataType,
        s"vortex merge: ON key types differ for ${tSchema.fields(ti).name} — " +
        "cast the source key to the target type") }
    val keyTypes = keyIdxTarget.map(tSchema.fields(_).dataType)
    val keyCols = keyIdxTarget.map(tSchema.fields(_).name).toSeq

    // source rows in the SOURCE's own schema/order (clause expressions
    // reference them positionally), bounded
    val srcRows: Array[InternalRow] = source.limit(maxSourceRows + 1)
      .queryExecution.toRdd.map(_.copy()).collect()
    require(srcRows.length <= maxSourceRows,
      s"vortex merge: source exceeds maxSourceRows=$maxSourceRows — " +
      "merge broadcasts the source; batch it or raise the cap deliberately")
    // NULL-key contract (ANSI MERGE: NULL matches nothing): source rows
    // with any NULL key component never match — they are pure inserts
    // (duplicates among them allowed) — and null-key TARGET rows are
    // never acted on as matches. Keys normalize through
    // VortexMergeSupport.keyOf (binary keys wrap to value-equality
    // Seqs; Array[Byte] compares by reference otherwise).
    val dupKeys: Set[Seq[Any]] = {
      val seen = new scala.collection.mutable.HashSet[Seq[Any]]
      if (ansiScalarDups) {
        require(notMatchedActions.isEmpty,
          "vortex merge: ansiScalarDups is a correlated-DML mode (no INSERT clauses)")
        val dups = new scala.collection.mutable.HashSet[Seq[Any]]
        srcRows.foreach { r =>
          val k = VortexMergeSupport.keyOf(r, keyIdxSource, keyTypes)
          if (k != null && !seen.add(k)) dups += k
        }
        dups.toSet
      } else {
        srcRows.foreach { r =>
          val k = VortexMergeSupport.keyOf(r, keyIdxSource, keyTypes)
          if (k != null)
            require(seen.add(k), s"vortex merge: duplicate source key $k")
        }
        Set.empty
      }
    }
    // NOT NULL enforcement (found r12): the whole-row replace writes
    // the source row verbatim — a NULL for a non-nullable target column
    // must fail loudly, not decode as the type's zero value
    if (wholeRow) {
      val nn = tSchema.fields.zipWithIndex.filterNot(_._1.nullable)
      if (nn.nonEmpty) srcRows.foreach(r => nn.foreach { case (f, i) =>
        require(!r.isNullAt(i),
          s"vortex merge: source carries NULL for non-nullable target " +
          s"column ${f.name}") })
    }
    val bcRows = spark.sparkContext.broadcast(srcRows)
    val bcDupKeys = spark.sparkContext.broadcast(dupKeys)

    // bind clause expressions: matched over target ++ source, not-
    // matched over source only, not-matched-BY-source over target only
    val bindJ = RowLevelStatement.bind("merge", "clause expressions", targetAttrs ++ sourceAttrs) _
    val bindS = RowLevelStatement.bind("merge", "clause expressions", sourceAttrs) _
    val bindT = RowLevelStatement.bind("merge", "clause expressions", targetAttrs) _
    def clause(a: MatchedAction, bind: Expression => Expression) =
      RowLevelStatement.Clause(a.cond.map(bind), a.assigns.map(_.map(bind)))
    val matched = matchedActions.map(clause(_, bindJ))
    val nmbs = notMatchedBySourceActions.map(clause(_, bindT))
    val boundNotMatched: Seq[(Option[Expression], Seq[Expression])] =
      notMatchedActions.map(a => (a.cond.map(bindS), a.values.map(bindS)))

    // candidate planning: push `key IN (...)` for a small single-col
    // key set of a pushable type (integral / string / boolean /
    // decimal — timestamp/date/binary keys skip the push: correct, just
    // unpruned). NULL keys are dropped from the IN list (they match
    // nothing), which stays sound because null-key target rows are
    // never matches. A NOT MATCHED BY SOURCE clause defeats the push
    // entirely — any target row ANYWHERE may be acted on, so every file
    // is a candidate (the disclosed full-scan shape; see mergeClauses).
    // One `InSet` of Catalyst key values: nothing to coerce (see above).
    val filtered =
      if (notMatchedBySourceActions.isEmpty &&
          keyIdxTarget.length == 1 && srcRows.length <= PushKeyLimit &&
          VortexMergeSupport.pushableKeyType(keyTypes(0))) {
        val vs = srcRows.iterator.map(_.get(keyIdxSource(0), keyTypes(0))).filter(_ != null).toSet
        val keyAttr = target.queryExecution.analyzed.output(keyIdxTarget(0))
        if (vs.nonEmpty) target.filter(GraftSqlBridge.column(InSet(keyAttr, vs)))
        else target
      } else target
    val cands = st.candidates(filtered, replacementName)

    // bucketing-key guard (ADVICE r11): an UPDATE that changes the
    // bucket key would leave the row in its old __bucket=k directory
    // while bucket pruning routes lookups to the NEW value's bucket —
    // the file task value-checks the key per updated row
    val outcomes = st.execute(cands, RowLevelStatement.Shape("merge", tSchema, nmbs,
      Some(RowLevelStatement.Keyed(bcRows, keyIdxTarget, keyIdxSource, keyTypes, matched,
        bcDupKeys)),
      bucketIdx = st.bucketKey.map(tSchema.fieldIndex).getOrElse(-1),
      mustStore = tSchema.fieldNames.toSeq))

    // insert half: unmatched source rows through the NOT MATCHED
    // clauses (first true condition wins; none → skip), driver-side —
    // the source is bounded by contract
    val matchedArr = new Array[Boolean](srcRows.length)
    outcomes.foreach(_.matched.foreach(i => matchedArr(i) = true))
    val nmPreds = boundNotMatched.map(_._1.map { e =>
      val p = CatalystPredicate.create(e); p.initialize(0); p })
    val nmProjs = boundNotMatched.map(a => UnsafeProjection.create(a._2))
    val insertRows = srcRows.indices.filterNot(matchedArr).flatMap { i =>
      val r = srcRows(i)
      boundNotMatched.indices
        .find(j => nmPreds(j).forall(_.eval(r)))
        .map(j => nmProjs(j)(r).copy(): InternalRow)
    }
    // NOT NULL enforcement (found r12): a NULL bound for a non-nullable
    // target column would ride silently through the Row→InternalRow
    // conversion as the type's ZERO value (Spark's UnsafeProjection
    // reads the null slot as 0 when the schema says non-nullable) —
    // fail the statement loudly, before anything commits, like ANSI
    locally {
      val nn = tSchema.fields.zipWithIndex.filterNot(_._1.nullable)
      if (nn.nonEmpty) insertRows.foreach(r => nn.foreach { case (f, i) =>
        require(!r.isNullAt(i),
          s"vortex merge: INSERT would write NULL into non-nullable " +
          s"column ${f.name} — make the column nullable (rewrite) or " +
          "fix the source") })
    }
    st.commit(outcomes, failAfterCommits)
    val srcHash = VortexMergeSupport.sourceHash(srcRows,
      keyCols :+ s"clauses:$clauseFingerprint")
    val inserted = st.timed("inserts")(
      appendInserts(st, tSchema, insertRows, srcHash, failAfterInserts))

    MergeResult(cands.length,
      outcomes.count(_.change == Keep),
      outcomes.count(_.change.isInstanceOf[Replace]),
      outcomes.map(_.rowsUpdated).sum,
      inserted,
      outcomes.map(_.rowsDeleted).sum,
      outcomes.count(_.change == Drop),
      RowLevelStatement.kernels(outcomes),
      st.phaseMs)
  }

  /** The shared insert half: write `rows` (target-schema Catalyst rows)
    * on the driver through the one vortex DataWriter into a dot-hidden
    * scratch dir — under the dataset's partition directories and
    * buckets, with its bloom and sketch opt-ins — then rename one file
    * per layout directory into place under the statement-derived name
    * `part-merge-ins-<srcHash>.vortex`, recording the writer's manifest
    * entries. A directory already holding this statement's insert file
    * (or its deterministic maintenance replacement) is skipped, which
    * makes the insert half exactly-once under crash re-runs (see the
    * class scaladoc). Returns the number of rows actually inserted. */
  private def appendInserts(st: RowLevelStatement.Statement, tSchema: StructType,
                            rows: Seq[InternalRow], srcHash: String,
                            failAfterInserts: Int): Long = {
    if (rows.isEmpty) return 0L
    val (fs, root, hconf) = (st.fs, st.root, st.hconf)
    var inserted = 0L
    val insBase = s"part-merge-ins-$srcHash.vortex"
    val insRepl = replacementName(insBase)
    val stage = new Path(root, s".merge-stage-$srcHash")
    fs.delete(stage, true) // leftover scratch of a crashed run
    // the insert files' stored schema: partition values live in paths
    val storedJson = StructType(tSchema.fields.filterNot(f => st.partCols.contains(f.name))).json
    // scratch cleanup rides a finally: a crash mid-rename must not
    // strand a full staged copy of the insert set inside the dataset
    // (the name embeds the statement hash — no other statement would
    // ever clean it; renamed files are already out of the scratch dir,
    // so deleting it is always safe) — review-found r11
    try {
    // the writer's entries, relative to the scratch dir, in path
    // order. On the driver: the insert set is bounded by merge's
    // contract, and a Spark write job would cost a job launch to move
    // a few thousand rows. The layout is the one the statement planned
    // with: an emptied dataset keeps its partition columns (recovered
    // from the manifest), so inserts still land under their
    // `col=value` directories
    val staged = {
      val w = new VortexDataWriter(tSchema, stage.toString, "merge", hconf, 0, 0L,
        VortexFormat.DefaultChunkRows, st.partCols, st.bucket,
        bloomCols = st.bloomCols, sketchCols = st.sketchCols)
      try { rows.foreach(w.write); w.commit().entries.sortBy(_.relPath) }
      catch { case e: Throwable => w.abort(); throw e }
    }
    val renamedEntries = scala.collection.mutable.ArrayBuffer[StatsManifest.FileStats]()
    // manifest state before this run, read lazily — only the crash-
    // repair skip branch below consults it
    lazy val preManifest = StatsManifest.read(root, hconf)
    val backfillEntries = scala.collection.mutable.ArrayBuffer[(String, StatsManifest.FileStats)]()
    staged.foreach { stEntry =>
      val rel = stEntry.relPath
      val relDir = rel.lastIndexOf('/') match {
        case -1 => ""; case i => rel.substring(0, i)
      }
      val finalDir = if (relDir.isEmpty) root else new Path(root, relDir)
      val dstRel = if (relDir.isEmpty) insBase else s"$relDir/$insBase"
      if (!fs.exists(new Path(finalDir, insBase)) &&
          !fs.exists(new Path(finalDir, insRepl))) {
        if (failAfterInserts >= 0 && renamedEntries.length >= failAfterInserts)
          throw new RuntimeException(
            s"vortex merge: injected crash after $failAfterInserts insert renames (test seam)")
        fs.mkdirs(finalDir)
        if (!fs.rename(new Path(stage, rel), new Path(finalDir, insBase)))
          throw new java.io.IOException(
            s"vortex merge: insert rename failed for $finalDir/$insBase")
        renamedEntries += stEntry.copy(relPath = dstRel)
        inserted += stEntry.rows
      } else {
        // this directory's inserts committed in a prior run of this
        // same statement — skipping the rename is the exactly-once
        // path. But a crash BETWEEN that run's rename and its manifest
        // write leaves the committed file permanently uncovered
        // (ADVICE r11): backfill its entry from its own footer. (The
        // staged copy's entry can't serve — collect order varies, so
        // its len may differ from the committed file's.) rowsInserted
        // stays 0 for skipped directories: the rows were counted by
        // the run that committed them.
        val committed = new Path(finalDir, insBase)
        if (fs.exists(committed)) {
          val cLen = fs.getFileStatus(committed).getLen
          if (!preManifest.get(dstRel).exists(_.len == cLen)) {
            try {
              val f = VortexFileReader.readFooter(committed, hconf)
              backfillEntries += ((f.schema.json,
                StatsManifest.fromFooter(dstRel, cLen, f)))
            } catch { case _: Exception => () } // conservative: stays uncovered
          }
        }
      }
    }
    MaintenanceCommit.writeManifests(root, hconf, "merge-ins",
      renamedEntries.toSeq.map(e => (storedJson, e)))
    if (backfillEntries.nonEmpty)
      MaintenanceCommit.writeManifests(root, hconf, "merge-ins-backfill",
        backfillEntries.toSeq)
    } finally fs.delete(stage, true)
    inserted
  }
}

/** [[VortexMerge]]'s key and statement-identity helpers, shared with
  * the file tasks (kept out of the closure-heavy driver object so tasks
  * serialize only what they need) */
private[graft] object VortexMergeSupport {

  /** Statement identity for the insert half: md5 over the key columns
    * and the SORTED per-row digests of the full source content —
    * order-insensitive (collect order varies run to run), stable
    * across re-runs of the same statement. */
  def sourceHash(rows: Array[org.apache.spark.sql.catalyst.InternalRow],
                 keyCols: Seq[String]): String = {
    val hexf = java.util.HexFormat.of()
    def hex(b: Array[Byte]): String = hexf.formatHex(b)
    val digest = java.security.MessageDigest.getInstance("MD5")
    def md5(b: Array[Byte]): Array[Byte] = digest.digest(b)
    val rowDigests = rows.map {
      case u: org.apache.spark.sql.catalyst.expressions.UnsafeRow => hex(md5(u.getBytes))
      case other => hex(md5(other.toString.getBytes("UTF-8")))
    }.sorted
    hex(md5((keyCols.mkString(",") + "|" + rowDigests.mkString)
      .getBytes("UTF-8"))).take(16)
  }

  /** key types whose `IN` the scan prunes by — timestamp/date and
    * binary keys plan every file */
  def pushableKeyType(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType |
           BooleanType | StringType => true
      case _: DecimalType => true
      case _ => false
    }
  }

  /** normalized key of a row, or null when ANY component is NULL
    * (ANSI MERGE: NULL matches nothing). Nulls are tested with
    * `isNullAt`: a batch-backed row's `get` reads a NULL primitive as
    * 0. Array[Byte] components wrap to Seqs so binary keys get value
    * equality. */
  def keyOf(r: org.apache.spark.sql.catalyst.InternalRow,
            keyIdx: Array[Int],
            keyTypes: Array[org.apache.spark.sql.types.DataType]): Seq[Any] = {
    val out = new Array[Any](keyIdx.length)
    var j = 0
    while (j < keyIdx.length) {
      if (r.isNullAt(keyIdx(j))) return null
      out(j) = r.get(keyIdx(j), keyTypes(j)) match {
        case a: Array[Byte] => a.toSeq
        case o => o
      }
      j += 1
    }
    out.toSeq
  }
}
