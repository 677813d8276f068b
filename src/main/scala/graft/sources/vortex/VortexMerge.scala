package graft.sources.vortex

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSeq, BindReferences, Expression, UnsafeProjection, Predicate => CatalystPredicate}
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
  *  - candidates = the pushed scan's own partitions for
  *    `key IN (source keys)` when the key set is small enough to push
  *    (≤ 10k rows, single-column keys — manifest min/max, blooms and
  *    partition pruning then skip untouched files with zero I/O);
  *    otherwise every file is a candidate and classification decides.
  *  - one NON-DESTRUCTIVE task per candidate file: pass 1 probes the
  *    broadcast key map over the key columns only; no hit → untouched.
  *    Otherwise the file is rewritten with the clauses applied —
  *    column-splice when only some columns change, the row path
  *    otherwise (existing deletion-vector masks fold in). Matched
  *    source ordinals return to the driver.
  *  - driver commit: rename/delete per touched file under deterministic
  *    `part-merge-<md5(src)>.vortex` names — the same crash-convergence
  *    contract, and the same `failAfterCommits` crash seam, as
  *    DELETE/UPDATE.
  *  - APPEND: source rows no task matched are staged through the
  *    normal vortex writer and renamed in under
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
  import RowLevelStatement.{Candidate, Drop, FileOutcome, Keep, Replace, Staged}

  final case class MergeResult(candidateFiles: Int, untouchedFiles: Int,
                               rewrittenFiles: Int, rowsUpdated: Long,
                               rowsInserted: Long, rowsDeleted: Long = 0L,
                               droppedFiles: Int = 0)

  private[graft] def replacementName(srcName: String): String =
    "part-merge-" + VortexDelete.replacementName(srcName).stripPrefix("part-delete-")

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
    val target = spark.read.format("vortex").load(dir)
    val tSchema = target.schema
    keyCols.foreach(k => require(tSchema.fieldNames.contains(k),
      s"vortex merge: key column $k is not a column of the target"))
    val aligned = source.select(tSchema.fields.map(f =>
      col(s"`${f.name}`").cast(f.dataType).as(f.name)).toIndexedSeq: _*)
    val srcAttrs = aligned.queryExecution.analyzed.output
    val keyIdx = keyCols.map(tSchema.fieldIndex).toArray
    statement(spark, dir, aligned, target.queryExecution.analyzed.output, srcAttrs,
      keyIdx, keyIdx, Seq(MatchedAction(None, Some(srcAttrs))),
      Seq(NotMatchedAction(None, srcAttrs)), Nil, "upsert", maxSourceRows,
      failAfterCommits, failAfterInserts, ansiScalarDups = false, wholeRow = true)
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
                   ansiScalarDups: Boolean = false): MergeResult =
    statement(spark, dir, source, targetAttrs, sourceAttrs, keyIdxTarget, keyIdxSource,
      matchedActions, notMatchedActions, notMatchedBySourceActions, clauseFingerprint,
      maxSourceRows, failAfterCommits = -1, failAfterInserts, ansiScalarDups,
      wholeRow = false)

  /** The MERGE statement behind [[merge]] and [[mergeClauses]].
    * `wholeRow` adds the upsert's up-front source check: every source
    * value lands in the target verbatim, so a NULL for a non-nullable
    * target column fails before anything runs. */
  private def statement(spark: SparkSession, dir: String, source: DataFrame,
                        targetAttrs: Seq[Attribute], sourceAttrs: Seq[Attribute],
                        keyIdxTarget: Array[Int], keyIdxSource: Array[Int],
                        matchedActions: Seq[MatchedAction],
                        notMatchedActions: Seq[NotMatchedAction],
                        notMatchedBySourceActions: Seq[MatchedAction],
                        clauseFingerprint: String, maxSourceRows: Int,
                        failAfterCommits: Int, failAfterInserts: Int,
                        ansiScalarDups: Boolean, wholeRow: Boolean): MergeResult = {
    require(keyIdxTarget.nonEmpty && keyIdxTarget.length == keyIdxSource.length,
      "vortex merge: ON must be a conjunction of target-key = source-key equalities")
    require(matchedActions.nonEmpty || notMatchedActions.nonEmpty ||
        notMatchedBySourceActions.nonEmpty,
      "vortex merge: no WHEN clauses")
    RowLevelStatement.run(spark, dir, "merge") { st =>
    st.begin()
    val target = spark.read.format("vortex").load(dir)
    val tSchema = target.schema
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
    // (RuntimeReplaceable rewritten first — interpreted eval of
    // BETWEEN/nvl/… asserts otherwise)
    def binder(ctx: Seq[Attribute]): Expression => Expression = {
      val seq = AttributeSeq(ctx)
      e => BindReferences.bindReference(VortexDelete.replaceRuntime(e), seq)
    }
    val bindJ = binder(targetAttrs ++ sourceAttrs)
    val bindS = binder(sourceAttrs)
    val bindT = binder(targetAttrs)
    (matchedActions.flatMap(a => a.cond.toSeq ++ a.assigns.toSeq.flatten) ++
     notMatchedActions.flatMap(a => a.cond.toSeq ++ a.values) ++
     notMatchedBySourceActions.flatMap(a => a.cond.toSeq ++ a.assigns.toSeq.flatten))
      .foreach(e =>
        require(e.deterministic, "vortex merge: clause expressions must be deterministic"))
    val boundMatched: Seq[(Option[Expression], Option[Seq[Expression]])] =
      matchedActions.map(a => (a.cond.map(bindJ), a.assigns.map(_.map(bindJ))))
    val boundNotMatched: Seq[(Option[Expression], Seq[Expression])] =
      notMatchedActions.map(a => (a.cond.map(bindS), a.values.map(bindS)))
    val boundNmbs: Seq[(Option[Expression], Option[Seq[Expression]])] =
      notMatchedBySourceActions.map(a => (a.cond.map(bindT), a.assigns.map(_.map(bindT))))

    // candidate planning: push `key IN (...)` for a small single-col
    // key set of a pushable type (integral / string / boolean /
    // decimal — timestamp/date/binary keys skip the push: correct, just
    // unpruned). NULL keys are dropped from the IN list (they match
    // nothing), which stays sound because null-key target rows are
    // never matches. A NOT MATCHED BY SOURCE clause defeats the push
    // entirely — any target row ANYWHERE may be acted on, so every file
    // is a candidate (the disclosed full-scan shape; see mergeClauses).
    val filtered =
      if (notMatchedBySourceActions.isEmpty &&
          keyIdxTarget.length == 1 && srcRows.length <= PushKeyLimit &&
          VortexMergeSupport.pushableKeyType(keyTypes(0))) {
        val vs = srcRows.toSeq.map(_.get(keyIdxSource(0), keyTypes(0)))
          .filter(_ != null).map(VortexMergeSupport.toExternal(_, keyTypes(0)))
        if (vs.nonEmpty) target.filter(col(s"`${keyCols.head}`").isInCollection(vs))
        else target
      } else target
    val cands = st.candidates(filtered, replacementName)

    // bucketing-key guard (ADVICE r11): an UPDATE that changes the
    // bucket key would leave the row in its old __bucket=k directory
    // while bucket pruning routes lookups to the NEW value's bucket —
    // the file task value-checks the key per updated row
    val bucketIdx: Int =
      (try BucketSpecFile.read(st.root, st.hconf) catch { case _: Exception => None })
        .map(bs => tSchema.fieldIndex(bs._1)).getOrElse(-1)

    val outcomes = st.perFile(cands)((c, conf) =>
      VortexMergeSupport.processFileClauses(c, tSchema, keyIdxTarget, keyIdxSource,
        keyTypes, bcRows.value, boundMatched, boundNmbs, bucketIdx, conf,
        bcDupKeys.value))

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
    val inserted = appendInserts(st, tSchema, insertRows, srcHash, failAfterInserts)

    MergeResult(cands.length,
      outcomes.count(_.change == Keep),
      outcomes.count(_.change.isInstanceOf[Replace]),
      outcomes.map(_.rowsUpdated).sum,
      inserted,
      outcomes.map(_.rowsDeleted).sum,
      outcomes.count(_.change == Drop))
    } // RowLevelStatement.run
  }

  /** The shared insert half: stage `rows` (target-schema Catalyst rows)
    * through the normal vortex writer into a dot-hidden scratch dir,
    * then rename one file per layout directory into place under the
    * statement-derived name `part-merge-ins-<srcHash>.vortex` — a
    * directory already holding this statement's insert file (or its
    * deterministic maintenance replacement) is skipped, which makes
    * the insert half exactly-once under crash re-runs (see the class
    * scaladoc). Returns the number of rows actually inserted. */
  private def appendInserts(st: RowLevelStatement.Statement, tSchema: StructType,
                            rows: Seq[InternalRow], srcHash: String,
                            failAfterInserts: Int): Long = {
    if (rows.isEmpty) return 0L
    val (spark, fs, root, hconf) = (st.spark, st.fs, st.root, st.hconf)
    var inserted = 0L
    val insBase = s"part-merge-ins-$srcHash.vortex"
    val insRepl = replacementName(insBase)
    val stage = new Path(root, s".merge-stage-$srcHash")
    fs.delete(stage, true) // leftover scratch of a crashed run
    import scala.jdk.CollectionConverters._
    val layoutPartCols = st.listed.flatMap(_._2.map(_._1)).distinct
      .filterNot(_ == BucketSpecFile.BucketCol)
    val bucketSpec =
      try BucketSpecFile.read(root, hconf) catch { case _: Exception => None }
    if (layoutPartCols.isEmpty && bucketSpec.isEmpty) {
      // driver-direct staging (r15): the insert set
      // is bounded driver state by merge's contract, and routing it
      // through a Spark write job costs a whole job launch (~0.12-0.19 s
      // at sf1) to move a few thousand rows. One VortexFileWriter call
      // produces the identical file + manifest segment. Partitioned /
      // bucketed layouts keep the distributed writer (their routing
      // lives in the DSv2 path).
      fs.mkdirs(stage)
      val f = new Path(stage, "part-d00000.vortex")
      val w = new VortexFileWriter(f, hconf, tSchema)
      rows.foreach(w.write)
      w.close()
      val footer = VortexFileReader.readFooter(f, hconf)
      val base = StatsManifest.fromFooter(f.getName,
        fs.getFileStatus(f).getLen, footer)
      val sums = tSchema.fieldNames.zip(w.columnSums).toMap
      val entry = base.copy(cols = base.cols.map(c =>
        c.copy(sum = sums.getOrElse(c.name, None))))
      MaintenanceCommit.writeManifests(stage, hconf, "merge-ins",
        Seq((footer.schema.json, entry)))
    } else {
      val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
        .createToScalaConverter(tSchema)
      val ext = rows.map(r => conv(r).asInstanceOf[org.apache.spark.sql.Row])
      var w = spark.createDataFrame(ext.asJava, tSchema)
        .coalesce(1).write.format("vortex").mode("overwrite")
      if (layoutPartCols.nonEmpty)
        w = w.option("partitionBy", layoutPartCols.mkString(","))
      // the staging dir carries no bucket marker — pass the dataset's
      // spec explicitly so bucket routing survives the indirection
      bucketSpec.foreach { case (k, n) =>
        w = w.option("bucketBy", k).option("buckets", n.toString) }
      w.save(stage.toString)
    }
    // scratch cleanup rides a finally: a crash mid-rename must not
    // strand a full staged copy of the insert set inside the dataset
    // (the name embeds the statement hash — no other statement would
    // ever clean it; renamed files are already out of the scratch dir,
    // so deleting it is always safe) — review-found r11
    try {
    val stageQ = fs.makeQualified(stage).toString
    val (stSchema, stEntries) = StatsManifest.readAll(stage, hconf)
    val renamedEntries = scala.collection.mutable.ArrayBuffer[StatsManifest.FileStats]()
    // manifest state before this run, read lazily — only the crash-
    // repair skip branch below consults it
    lazy val preManifest = StatsManifest.read(root, hconf)
    val backfillEntries = scala.collection.mutable.ArrayBuffer[(String, StatsManifest.FileStats)]()
    VortexDataSource.listAll(Seq(stage.toString), hconf).foreach { case (st, _) =>
      val rel = fs.makeQualified(st.getPath).toString
        .stripPrefix(stageQ).stripPrefix("/")
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
        if (!fs.rename(st.getPath, new Path(finalDir, insBase)))
          throw new java.io.IOException(
            s"vortex merge: insert rename failed for $finalDir/$insBase")
        stEntries.get(rel).foreach { e =>
          renamedEntries += e.copy(relPath = dstRel)
          inserted += e.rows
        }
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
    stSchema.map(_.json).foreach { sj =>
      MaintenanceCommit.writeManifests(root, hconf, "merge-ins",
        renamedEntries.toSeq.map(e => (sj, e)))
    }
    if (backfillEntries.nonEmpty)
      MaintenanceCommit.writeManifests(root, hconf, "merge-ins-backfill",
        backfillEntries.toSeq)
    } finally fs.delete(stage, true)
    inserted
  }
}

/** executor-side half of [[VortexMerge]] (kept out of the closure-heavy
  * driver object so tasks serialize only what they need) */
private[vortex] object VortexMergeSupport {

  /** Statement identity for the insert half: md5 over the key columns
    * and the SORTED per-row digests of the full source content —
    * order-insensitive (collect order varies run to run), stable
    * across re-runs of the same statement. */
  def sourceHash(rows: Array[org.apache.spark.sql.catalyst.InternalRow],
                 keyCols: Seq[String]): String = {
    def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString
    def md5(b: Array[Byte]): Array[Byte] =
      java.security.MessageDigest.getInstance("MD5").digest(b)
    val rowDigests = rows.map {
      case u: org.apache.spark.sql.catalyst.expressions.UnsafeRow => hex(md5(u.getBytes))
      case other => hex(md5(other.toString.getBytes("UTF-8")))
    }.sorted
    hex(md5((keyCols.mkString(",") + "|" + rowDigests.mkString)
      .getBytes("UTF-8"))).take(16)
  }

  /** Catalyst storage value → external literal (for isInCollection) */
  def toExternal(v: Any, dt: org.apache.spark.sql.types.DataType): Any = v match {
    case u: org.apache.spark.unsafe.types.UTF8String => u.toString
    case d: org.apache.spark.sql.types.Decimal => d.toJavaBigDecimal
    case other => other
  }

  /** key types whose storage value converts to a pushable literal via
    * [[toExternal]] — timestamp/date (micros/days longs would build
    * a type-mismatched IN) and binary are excluded */
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
    * (ANSI MERGE: NULL matches nothing). Array[Byte] components wrap
    * to Seqs so binary keys get value equality. */
  def keyOf(r: org.apache.spark.sql.catalyst.InternalRow,
            keyIdx: Array[Int],
            keyTypes: Array[org.apache.spark.sql.types.DataType]): Seq[Any] = {
    val out = new Array[Any](keyIdx.length)
    var j = 0
    while (j < keyIdx.length) {
      val v = r.get(keyIdx(j), keyTypes(j))
      if (v == null) return null
      out(j) = v match {
        case a: Array[Byte] => a.toSeq
        case o => o
      }
      j += 1
    }
    out.toSeq
  }

  /** Executor task of a MERGE: the file's outcome (Keep, Drop — every
    * live row deleted — or Replace). `matched` marks KEY-level matches
    * (ANSI: a source row is NOT MATCHED only when no target row shares
    * its key, regardless of which clause fired). */
  def processFileClauses(
      c: RowLevelStatement.Candidate,
      tSchema: StructType, keyIdxT: Array[Int], keyIdxS: Array[Int],
      keyTypes: Array[org.apache.spark.sql.types.DataType],
      srcRows: Array[org.apache.spark.sql.catalyst.InternalRow],
      boundMatched: Seq[(Option[org.apache.spark.sql.catalyst.expressions.Expression],
                         Option[Seq[org.apache.spark.sql.catalyst.expressions.Expression]])],
      boundNmbs: Seq[(Option[org.apache.spark.sql.catalyst.expressions.Expression],
                      Option[Seq[org.apache.spark.sql.catalyst.expressions.Expression]])],
      bucketIdx: Int,
      conf: org.apache.hadoop.conf.Configuration,
      // keys with >1 source row (correlated scalar SET mode): a target
      // row matching one of these errors iff a clause condition fires
      // for it (ANSI scalar cardinality — the subquery only evaluates
      // for targeted rows); conds in this mode are target-only
      dupKeys: Set[Seq[Any]] = Set.empty): RowLevelStatement.FileOutcome = {
    import org.apache.spark.sql.catalyst.expressions.{JoinedRow, UnsafeProjection, Predicate => CatalystPredicate}
    import RowLevelStatement.{Drop, FileOutcome, Keep, Replace, Staged}
    val (file, partCols, maskFile) = (c.file, c.partCols, c.maskFile)
    val path = c.path
    val fs = path.getFileSystem(conf)
    val footer = VortexFileReader.readFooter(path, conf)

    val byKey = new java.util.HashMap[Seq[Any], java.lang.Integer](srcRows.length * 2)
    var si = 0
    while (si < srcRows.length) {
      val k = keyOf(srcRows(si), keyIdxS, keyTypes)
      if (k != null) byKey.put(k, si)
      si += 1
    }

    // pass 1: probe key columns only (mask-aware)
    val keySchema = StructType(keyIdxT.map(tSchema.fields(_)))
    val probeIdx = keyIdxT.indices.toArray
    val matchedSet = new java.util.BitSet(srcRows.length)
    locally {
      val part = VortexInputPartition(file, footer.chunks.indices.toArray,
        partCols, c.partValues, maskFile = maskFile)
      val r = new VortexPartitionReader(part, conf, keySchema, evolution = true)
      try while (r.next()) {
        val k = keyOf(r.get(), probeIdx, keyTypes)
        val hit = if (k == null) null else byKey.get(k)
        if (hit != null) matchedSet.set(hit.intValue())
      } finally r.close()
    }
    def ords: Array[Int] = {
      val buf = scala.collection.mutable.ArrayBuffer[Int]()
      var b = matchedSet.nextSetBit(0)
      while (b >= 0) { buf += b; b = matchedSet.nextSetBit(b + 1) }
      buf.toArray
    }
    // NOT MATCHED BY SOURCE clauses can fire on rows pass 1 never
    // probed — only a file with neither key hits nor NMBS clauses is
    // provably untouched here; otherwise pass 2 decides
    if ((matchedSet.isEmpty || boundMatched.isEmpty) && boundNmbs.isEmpty)
      return FileOutcome(file, Keep, matched = ords)

    // column-splice fast path (r15, VERDICT r14 next #2/#3): when every
    // clause is an UPDATE (no DELETE can fire → row count/order
    // preserved) and the file carries no mask, re-encode only the
    // assigned columns and pass the rest through byte-for-byte. The
    // correlated-DML statements (s15d/s15e shapes) ride this: their
    // single-column SETs rewrite 1 of N columns per file.
    if (maskFile == null && boundMatched.forall(_._2.isDefined) &&
        boundNmbs.forall(_._2.isDefined)) {
      import org.apache.spark.sql.catalyst.expressions.BoundReference
      val targetWidth = tSchema.length
      // changed target ordinals: positions whose assignment is not the
      // identity BoundReference(p) (fullUpdateProjection keeps the
      // original attribute for unassigned columns)
      def changedOf(assigns: Seq[org.apache.spark.sql.catalyst.expressions.Expression]): Seq[Int] =
        assigns.zipWithIndex.collect {
          case (e, p) if !(e.isInstanceOf[BoundReference] &&
            e.asInstanceOf[BoundReference].ordinal == p) => p
        }
      val changedPos: Set[Int] =
        (boundMatched.flatMap(a => changedOf(a._2.get)) ++
         boundNmbs.flatMap(a => changedOf(a._2.get))).toSet
      def targetRefs(e: org.apache.spark.sql.catalyst.expressions.Expression): Seq[Int] =
        e.collect { case b: BoundReference if b.ordinal < targetWidth => b.ordinal }
      val needed: Set[Int] =
        (keyIdxT.toSeq ++
         boundMatched.flatMap(_._1.toSeq.flatMap(targetRefs)) ++
         boundNmbs.flatMap(_._1.toSeq.flatMap(targetRefs)) ++
         boundMatched.flatMap(_._2.get.zipWithIndex.collect {
           case (e, p) if changedPos.contains(p) => e }.flatMap(targetRefs)) ++
         boundNmbs.flatMap(_._2.get.zipWithIndex.collect {
           case (e, p) if changedPos.contains(p) => e }.flatMap(targetRefs))).toSet
      val changedNames = changedPos.map(tSchema.fields(_).name)
      // a changed bucketing key needs pass 2's per-row value guard
      val spliceOk = !(bucketIdx >= 0 && changedPos.contains(bucketIdx))
      val planOpt =
        if (spliceOk) ColumnSplice.plan(footer, maskFile, tSchema, changedNames, needed)
        else None
      planOpt.foreach { pl =>
        val posOf: Array[Int] = pl.changedFileCols.map(pl.fileToTable(_))
        val matchedProjs = boundMatched.map(a =>
          UnsafeProjection.create(posOf.toSeq.map(a._2.get(_))))
        val nmbsProjs2 = boundNmbs.map(a =>
          UnsafeProjection.create(posOf.toSeq.map(a._2.get(_))))
        val matchedPreds = boundMatched.map(_._1.map { e =>
          val p = CatalystPredicate.create(e); p.initialize(0); p })
        val nmbsPreds2 = boundNmbs.map(_._1.map { e =>
          val p = CatalystPredicate.create(e); p.initialize(0); p })
        val patcher = new ColumnSplice.RowPatch {
          private val joined = new JoinedRow
          override def patch(t: org.apache.spark.sql.catalyst.InternalRow)
              : org.apache.spark.sql.catalyst.InternalRow = {
            val k = VortexMergeSupport.keyOf(t, keyIdxT, keyTypes)
            val hit = if (k == null) null else byKey.get(k)
            if (hit == null) {
              var j = 0
              while (j < boundNmbs.length) {
                if (nmbsPreds2(j).forall(_.eval(t))) return nmbsProjs2(j)(t)
                j += 1
              }
              null
            } else if (dupKeys.contains(k)) {
              joined(t, srcRows(hit.intValue()))
              if (matchedPreds.indices.exists(j => matchedPreds(j).forall(_.eval(joined))))
                throw new IllegalStateException(
                  "vortex merge: scalar subquery produced more than one row " +
                  s"for key $k (ANSI cardinality)")
              null // not targeted — the duplicate is harmless
            } else {
              joined(t, srcRows(hit.intValue()))
              var j = 0
              while (j < boundMatched.length) {
                if (matchedPreds(j).forall(_.eval(joined))) return matchedProjs(j)(joined)
                j += 1
              }
              null
            }
          }
        }
        return RowLevelStatement.withTmp(c, c.dstName, conf) { tmp =>
          val r = ColumnSplice.rewrite(path, tmp, conf, footer, tSchema, pl,
            patcher, c.bloomCols, c.sketchCols, c.stats, c.rel(c.dstName))
          if (r.updated == 0L) { fs.delete(tmp, false); FileOutcome(file, Keep, matched = ords) }
          else FileOutcome(file, Replace(Staged(tmp.toString, c.dstName, Some(r.entry),
            r.schemaJson)), rowsUpdated = r.updated, matched = ords)
        }
      }
    }

    // pass 2: rewrite, clauses in order, first true condition wins
    val fileFields = footer.schema.fields
    val storedNames = fileFields.map(_.name).toSet
    val partSet = partCols.toSet
    tSchema.fields.foreach(f =>
      if (!storedNames.contains(f.name) && !partSet.contains(f.name))
        throw new IllegalArgumentException(
          s"vortex merge: target file $file does not store column ${f.name} " +
          "(schema-evolved file) — compact/rewrite the dataset to one schema first"))
    val partIdx: Array[Int] = tSchema.fields.zipWithIndex.collect {
      case (f, i) if partSet.contains(f.name) && !storedNames.contains(f.name) => i
    }
    def valEq(a: Any, b: Any): Boolean = (a, b) match {
      case (null, null) => true
      case (null, _) | (_, null) => false
      case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
      case (x, y) => x == y
    }
    val slot: Array[Int] = fileFields.map(f => tSchema.fieldIndex(f.name))
    val preds = boundMatched.map(_._1.map { e =>
      val p = CatalystPredicate.create(e); p.initialize(0); p })
    val projs = boundMatched.map(_._2.map(es => UnsafeProjection.create(es)))
    val nmbsPreds = boundNmbs.map(_._1.map { e =>
      val p = CatalystPredicate.create(e); p.initialize(0); p })
    val nmbsProjs = boundNmbs.map(_._2.map(es => UnsafeProjection.create(es)))
    var updated = 0L
    var deleted = 0L
    var written = 0L
    val joined = new JoinedRow
    val (staged, _) = RowLevelStatement.write(c, c.dstName, footer.schema, conf) { writer =>
      val part = VortexInputPartition(file, footer.chunks.indices.toArray,
        partCols, c.partValues, maskFile = maskFile)
      val r = new VortexPartitionReader(part, conf, tSchema, evolution = true)
      val out = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(fileFields.length)
      def emit(src: org.apache.spark.sql.catalyst.InternalRow): Unit = {
        var i = 0
        while (i < slot.length) {
          out.update(i, src.get(slot(i), fileFields(i).dataType)); i += 1
        }
        writer.write(out)
        written += 1
      }
      // partition/bucket movement guards, shared by the MATCHED and
      // NOT MATCHED BY SOURCE update paths (ADVICE r11)
      def guardMove(row: org.apache.spark.sql.catalyst.InternalRow,
                    upd: org.apache.spark.sql.catalyst.InternalRow): Unit = {
        var pi = 0
        while (pi < partIdx.length) {
          val ti = partIdx(pi)
          val dt = tSchema.fields(ti).dataType
          if (!valEq(row.get(ti, dt), upd.get(ti, dt)))
            throw new IllegalArgumentException(
              s"vortex merge: UPDATE clause changes partition column " +
              s"${tSchema.fields(ti).name} — the in-place rewrite cannot " +
              "move rows between partition directories")
          pi += 1
        }
        if (bucketIdx >= 0) {
          val dt = tSchema.fields(bucketIdx).dataType
          if (!valEq(row.get(bucketIdx, dt), upd.get(bucketIdx, dt)))
            throw new IllegalArgumentException(
              s"vortex merge: UPDATE clause changes bucketing key " +
              s"${tSchema.fields(bucketIdx).name} — the in-place rewrite " +
              "cannot move rows between bucket directories")
        }
      }
      try while (r.next()) {
        val row = r.get()
        val k = keyOf(row, keyIdxT, keyTypes)
        val hit = if (k == null) null else byKey.get(k)
        if (hit == null) {
          // no source match: the NOT MATCHED BY SOURCE family applies
          // (first true condition wins; none/empty → keep verbatim)
          boundNmbs.indices.find(j => nmbsPreds(j).forall(_.eval(row))) match {
            case Some(j) if nmbsProjs(j).isEmpty => deleted += 1 // DELETE: skip
            case Some(j) =>
              val upd = nmbsProjs(j).get(row)
              guardMove(row, upd)
              updated += 1
              emit(upd)
            case None => emit(row)
          }
        } else if (dupKeys.contains(k)) {
          // >1 source row for this key: ANSI errors iff a clause would
          // actually fire for this row (its cond is target-only in this
          // mode — pair with an arbitrary duplicate for the eval)
          joined(row, srcRows(hit.intValue()))
          if (boundMatched.indices.exists(j => preds(j).forall(_.eval(joined))))
            throw new IllegalStateException(
              "vortex merge: scalar subquery produced more than one row " +
              s"for key $k (ANSI cardinality)")
          emit(row) // not targeted — the duplicate is harmless
        } else {
          joined(row, srcRows(hit.intValue()))
          boundMatched.indices.find(j => preds(j).forall(_.eval(joined))) match {
            case Some(j) if projs(j).isEmpty => deleted += 1 // DELETE: skip
            case Some(j) =>
              val upd = projs(j).get(joined)
              guardMove(row, upd)
              updated += 1
              emit(upd)
            case None => emit(row) // no clause fired: keep verbatim
          }
        }
      } finally r.close()
    }

    if (updated == 0L && deleted == 0L || written == 0L)
      RowLevelStatement.discard(staged, conf)
    // key hits but no clause condition fired anywhere — untouched; every
    // live row deleted — drop the file whole
    if (updated == 0L && deleted == 0L) FileOutcome(file, Keep, matched = ords)
    else if (written == 0L)
      FileOutcome(file, Drop, rowsUpdated = updated, rowsDeleted = deleted, matched = ords)
    else FileOutcome(file, Replace(staged), rowsUpdated = updated, rowsDeleted = deleted,
      matched = ords)
  }
}
