package graft.sources.vortex

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeSeq, BindReferences, BoundReference, Expression, GenericInternalRow, Projection, UnsafeProjection, Predicate => CatalystPredicate}
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.functions.{col, when}
import org.apache.spark.sql.types.StructType

/** `UPDATE <vortex dataset> SET col = expr, … WHERE <predicate>` —
  * file-granularity row update, the corpus re-scoring shape
  * (`UPDATE corpus SET quality = … WHERE source = …`) a training-data
  * store runs constantly. Reference scope note: the reference engine
  * inherits UPDATE from its host database for native tables only
  * (VERDICT r9 "What's missing" #2); this is the vortex-dataset
  * capability built on VortexDelete's classify + rewrite machinery.
  *
  * Same three tiers as DELETE, run by the same row-level pipeline
  * (RowLevelStatement):
  *  1. PLAN: candidates = the files the pushed-down scan of
  *     `load(dir).filter(pred)` would read — partition/manifest/bloom/
  *     chunk pruning all apply; a file that provably holds no match is
  *     never opened.
  *  2. CLASSIFY + REWRITE (one non-destructive task per candidate):
  *     pass 1 counts predicate matches over the planned chunks reading
  *     only the predicate's columns; 0 matches → untouched. Otherwise
  *     pass 2 rewrites the WHOLE file (there is no drop tier — updated
  *     rows stay): rows matching the predicate go through the bound
  *     assignment projection (`when(pred, expr).otherwise(col)` per
  *     column, cast to the column's exact type), others copy verbatim.
  *     Existing deletion-vector masks fold in (the rewrite reads
  *     mask-aware and the replacement carries no mask).
  *  3. COMMIT (driver): rename tmp → `part-update-<md5(src)>.vortex`,
  *     delete source + its mask sidecars; manifest entries built
  *     executor-side, committed once per schema version.
  *
  * Crash contract: identical to DELETE's (same deterministic-name
  * commit) — re-running the same UPDATE converges ONLY when the
  * assignment is idempotent over its own output (e.g. `SET q = 0.5
  * WHERE src='x'`; a non-idempotent `SET v = v+1` re-applies to rows
  * whose file commit was lost). The corpus re-scoring shape is
  * idempotent; document non-idempotent re-runs as at-least-once.
  */
object VortexUpdate {
  import RowLevelStatement.{AppendMask, Candidate, FileOutcome, Keep, Replace, Staged}

  final case class UpdateResult(candidateFiles: Int, untouchedFiles: Int,
                                rewrittenFiles: Int, rowsUpdated: Long,
                                maskedFiles: Int = 0)

  private[graft] def replacementName(srcName: String): String =
    "part-update-" + VortexDelete.replacementName(srcName).stripPrefix("part-delete-")

  /** Appended-updates file of the MERGE-ON-READ tier, named
    * DETERMINISTICALLY from the source basename PLUS the mask sequence
    * it pairs with: a crashed run's re-run overwrites its own partial
    * append instead of duplicating it, and the seq makes the
    * append-committed/mask-lost crash window EXACTLY detectable — a
    * `part-updv-<h>-<s>` whose source's newest mask seq is < s is
    * provably the orphaned append half of a failed statement
    * (MaintenanceCommit.repairStaleUpdvAppends drops it). Unlike a
    * replacement, a committed updv file legitimately COEXISTS with its
    * (masked) source, so it must NOT be in repairStaleReplacements's
    * prefix set. */
  private[graft] def appendName(srcName: String, maskSeq: Int): String =
    "part-updv-" + VortexDelete.replacementName(srcName)
      .stripPrefix("part-delete-").stripSuffix(".vortex") + s"-$maskSeq.vortex"

  def update(spark: SparkSession, dir: String,
             assignments: Map[String, Column], predicate: Column): UpdateResult =
    updateImpl(spark, dir, assignments, predicate,
      deletionVectors = false, failAfterCommits = -1)

  /** `deletionVectors = true` selects the MERGE-ON-READ tier: matching
    * rows are masked dead in their file's sidecar (see
    * [[DeletionVector]]) and their updated images are APPENDED as a
    * fresh file in the same layout directory — a point update costs
    * O(updated rows), not a whole-file rewrite. Per-file commit order
    * is append THEN mask, so no committed state ever loses an updated
    * row; the window between the two can briefly hold a row twice
    * (old + updated) — re-running the same UPDATE converges, same
    * crash contract as the rewrite tier. A file whose live rows ALL
    * match falls back to the rewrite tier (masking 100% of a file and
    * appending a full copy would cost the same write with worse
    * reads). `foldMasks`/`compact` fold the masks away later. */
  def update(spark: SparkSession, dir: String,
             assignments: Map[String, Column], predicate: Column,
             deletionVectors: Boolean): UpdateResult =
    updateImpl(spark, dir, assignments, predicate, deletionVectors,
      failAfterCommits = -1)

  /** `failAfterCommits` is a TEST SEAM (≥0: throw after that many
    * per-file commits), mirroring VortexDelete.deleteImpl's. */
  private[graft] def updateImpl(spark: SparkSession, dir: String,
                                assignments: Map[String, Column], predicate: Column,
                                deletionVectors: Boolean,
                                failAfterCommits: Int): UpdateResult = {
    require(assignments.nonEmpty, "vortex update: no SET assignments")
    RowLevelStatement.run(spark, dir, "update") { st =>
      // UPDATE over a dataset a delete emptied is a no-op, not an error
      if (st.listed.isEmpty) UpdateResult(0, 0, 0, 0L)
      else {
        st.begin()
        val df = spark.read.format("vortex").load(dir)
        val tableCols = df.schema.fieldNames.toSet
        assignments.keys.foreach(k => require(tableCols.contains(k),
          s"vortex update: SET column $k is not a top-level column of the table"))
        val assignKeys: Array[String] = assignments.keys.toArray.sorted
        val filtered = df.filter(predicate)
        val pred = RowLevelStatement.bindPredicate(filtered, "update")

        // assignment projection over the FULL table row: one expression
        // per table column — `when(pred, expr CAST to the column's type)
        // .otherwise(col)` — resolved through a real analyzed Project so
        // functions/subexpressions work, then bound to ordinals
        val projected = df.select(pred.tableSchema.fields.map { f =>
          assignments.get(f.name) match {
            case Some(e) =>
              when(predicate, e.cast(f.dataType)).otherwise(col(s"`${f.name}`")).as(f.name)
            case None => col(s"`${f.name}`")
          }
        }.toIndexedSeq: _*)
        val (projList, projChild) = projected.queryExecution.analyzed.collectFirst {
          case p: logical.Project => (p.projectList, p.child.output)
        }.getOrElse(throw new IllegalArgumentException(
          "vortex update: cannot resolve SET expressions"))
        require(projList.forall(_.deterministic),
          "vortex update: SET expressions must be deterministic")
        val boundProj: Seq[Expression] = projList.map(e => BindReferences.bindReference(
          VortexDelete.replaceRuntime(e), AttributeSeq(projChild)))

        val cands = st.candidates(filtered, replacementName)
        // partition columns are never STORED in files — the rewrite
        // writes each file with its own footer schema, so an assignment
        // to one would be computed and then silently discarded (and
        // moving a row between partition directories is out of this
        // op's file-in-place contract). Fail fast, like canDeleteWhere.
        cands.foreach(c => assignKeys.foreach(k => require(!c.partCols.contains(k),
          s"vortex update: SET column $k is a partition column — in-place " +
          "update cannot move rows between partition directories; " +
          "DELETE + re-INSERT instead")))
        // same hazard for the BUCKETING key (ADVICE r11): the rewrite
        // keeps the row in its old __bucket=k directory while bucket
        // pruning routes later equality/IN lookups to the bucket of the
        // NEW value — the row would be silently missed
        if (cands.nonEmpty)
          (try BucketSpecFile.read(st.root, st.hconf) catch { case _: Exception => None })
            .foreach { case (bk, _) => require(!assignKeys.contains(bk),
              s"vortex update: SET column $bk is the bucketing key — in-place " +
              "update cannot move rows between bucket directories; " +
              "DELETE + re-INSERT instead") }

        val outcomes = st.perFile(cands)((c, conf) =>
          processFile(c, pred, boundProj, assignKeys, deletionVectors, conf))
        st.commit(outcomes, failAfterCommits)
        UpdateResult(cands.length,
          outcomes.count(_.change == Keep),
          outcomes.count(_.change.isInstanceOf[Replace]),
          outcomes.map(_.rowsUpdated).sum,
          outcomes.count(_.change.isInstanceOf[AppendMask]))
      }
    }
  }

  /** Executor task: classify, then stage the file's replacement (or,
    * in the merge-on-read tier, its append + union mask) with the
    * assignment projection applied to matching rows. Non-destructive
    * (retry/speculation-safe). */
  private def processFile(c: Candidate, p: RowLevelStatement.BoundPredicate,
                          boundProj: Seq[Expression], assignKeys: Array[String],
                          deletionVectors: Boolean,
                          conf: org.apache.hadoop.conf.Configuration): FileOutcome = {
    val path = c.path
    val fs = path.getFileSystem(conf)
    val footer = VortexFileReader.readFooter(path, conf)
    val predNarrow = CatalystPredicate.create(p.narrow)
    predNarrow.initialize(0)

    // pass 1: any match? (predicate columns only, planned chunks only,
    // mask-aware so dead rows can't force a rewrite)
    val anyMatch = {
      val part = VortexInputPartition(c.file, c.plannedChunks, c.partCols, c.partValues,
        maskFile = c.maskFile)
      val r = new VortexPartitionReader(part, conf, p.narrowSchema, evolution = true)
      var found = false
      try while (!found && r.next()) { if (predNarrow.eval(r.get())) found = true }
      finally r.close()
      found
    }
    if (!anyMatch) return FileOutcome(c.file, Keep)

    // the rewrite keeps the file's OWN stored schema: a SET column a
    // schema-evolved older file never stored would be computed by the
    // projection and then silently dropped by the slot map below —
    // fail the job (tasks are non-destructive; no commit happens)
    // instead of returning wrong results. Checked only when the file
    // actually has matches, so evolved files the predicate can't touch
    // never block an otherwise-valid update.
    locally {
      val stored = footer.schema.fieldNames.toSet
      assignKeys.foreach(k => require(stored.contains(k),
        s"vortex update: SET column $k is not stored in ${c.file} " +
        "(schema-evolved file) — rewriting would silently drop the " +
        "assignment; compact/rewrite the dataset to one schema first"))
    }

    val pred = CatalystPredicate.create(p.bound)
    pred.initialize(0)
    val proj: Projection = UnsafeProjection.create(boundProj)
    val fileFields = footer.schema.fields
    val slot: Array[Int] = fileFields.map(f => p.tableSchema.fieldIndex(f.name))

    // a file whose live rows ALL match degenerates to the rewrite tier
    // below (same bytes written, better reads) — processFileDv
    // signals that with None
    val dv = if (deletionVectors)
      processFileDv(c, p.tableSchema, pred, proj, slot, footer, conf) else None
    if (dv.isDefined) return dv.get

    // column-splice fast path: UPDATE drops no rows, so when the file
    // carries no mask and every referenced column is stored, only the
    // assigned columns re-encode and every other column's pages pass
    // through byte-for-byte (ColumnSplice)
    val needed: Set[Int] = {
      val stored = fileFields.map(_.name).toSet
      (p.bound.collect { case b: BoundReference => b.ordinal } ++
       assignKeys.toSeq.filter(stored.contains)
         .flatMap(k => boundProj(p.tableSchema.fieldIndex(k)).collect {
           case b: BoundReference => b.ordinal })).toSet
    }
    ColumnSplice.plan(footer, c.maskFile, p.tableSchema, assignKeys.toSet, needed) match {
      case Some(pl) =>
        val changed: Projection = UnsafeProjection.create(pl.changedFileCols.toSeq.map(fc =>
          boundProj(p.tableSchema.fieldIndex(fileFields(fc).name))))
        val patcher = new ColumnSplice.RowPatch {
          override def patch(t: InternalRow): InternalRow = if (pred.eval(t)) changed(t) else null
        }
        RowLevelStatement.withTmp(c, c.dstName, conf) { tmp =>
          val r = ColumnSplice.rewrite(path, tmp, conf, footer, p.tableSchema,
            pl, patcher, c.bloomCols, c.sketchCols, c.stats, c.rel(c.dstName))
          // pass 1 matched on planned chunks but the bound projection
          // patched nothing (shouldn't happen — defensive): untouched
          if (r.updated == 0L) { fs.delete(tmp, false); FileOutcome(c.file, Keep) }
          else FileOutcome(c.file, Replace(Staged(tmp.toString, c.dstName,
            Some(r.entry), r.schemaJson)), rowsUpdated = r.updated)
        }
      case None =>
        // rewrite the whole file with the file's OWN schema; existing
        // masks fold in (mask-aware read, no mask on the output)
        val (staged, updated) = RowLevelStatement.write(c, c.dstName, footer.schema, conf) { w =>
          val part = VortexInputPartition(c.file, footer.chunks.indices.toArray,
            c.partCols, c.partValues, maskFile = c.maskFile)
          val r = new VortexPartitionReader(part, conf, p.tableSchema, evolution = true)
          val out = new GenericInternalRow(fileFields.length)
          var updated = 0L
          try while (r.next()) {
            val row = r.get()
            val src = if (pred.eval(row)) { updated += 1; proj(row) } else row
            var i = 0
            while (i < slot.length) {
              out.update(i, src.get(slot(i), fileFields(i).dataType)); i += 1
            }
            w.write(out)
          } finally r.close()
          updated
        }
        FileOutcome(c.file, Replace(staged), rowsUpdated = updated)
    }
  }

  /** Merge-on-read half (executor): one pass over the PLANNED chunks —
    * matching live rows' stored ordinals go to the union mask, their
    * updated images (assignment projection, file's own schema) stream
    * into an append tmp in the same layout directory. Non-destructive.
    * None when ALL live rows match: the caller falls back to the
    * rewrite tier (same bytes written, no read-side mask tax). */
  private def processFileDv(c: Candidate, tableSchema: StructType,
                            pred: org.apache.spark.sql.catalyst.expressions.BasePredicate,
                            proj: Projection, slot: Array[Int],
                            footer: VortexFormat.Footer,
                            conf: org.apache.hadoop.conf.Configuration): Option[FileOutcome] = {
    val fileFields = footer.schema.fields
    val totalRows = footer.chunks.map(_.rowCount.toLong).sum
    val existing: DeletionVector.Mask =
      if (c.maskFile == null) null else DeletionVector.read(new Path(c.maskFile), conf)
    val liveRows = totalRows - (if (existing == null) 0L else existing.cardinality)
    val chunkBase = footer.chunks.scanLeft(0L)(_ + _.rowCount)
    val (append, positions) = RowLevelStatement.write(c,
        appendName(c.path.getName, c.nextMaskSeq), footer.schema, conf) { w =>
      val positions = scala.collection.mutable.ArrayBuffer[Long]()
      val out = new GenericInternalRow(fileFields.length)
      c.plannedChunks.foreach { ci =>
        // unmasked read of the chunk's STORED rows: `p` tracks stored
        // ordinals (mask positions index them); dead rows are skipped
        // via the existing mask, pruned chunks cannot match
        val part = VortexInputPartition(c.file, Array(ci), c.partCols, c.partValues)
        val r = new VortexPartitionReader(part, conf, tableSchema, evolution = true)
        var p = chunkBase(ci)
        try while (r.next()) {
          if (existing == null || !existing.isDeleted(p)) {
            val row = r.get()
            if (pred.eval(row)) {
              positions += p
              val upd = proj(row)
              var i = 0
              while (i < slot.length) {
                out.update(i, upd.get(slot(i), fileFields(i).dataType)); i += 1
              }
              w.write(out)
            }
          }
          p += 1
        } finally r.close()
      }
      positions.toArray
    }
    if (positions.isEmpty || positions.length.toLong == liveRows) {
      RowLevelStatement.discard(append, conf)
      // no match is defensive (pass 1 said anyMatch); all-match is the
      // degenerate case the caller rewrites instead
      if (positions.isEmpty) Some(FileOutcome(c.file, Keep)) else None
    } else {
      val added = DeletionVector.fromPositions(positions)
      val union = if (existing == null) added else DeletionVector.union(existing, added)
      val mask = try RowLevelStatement.writeMask(c, union, conf)
        catch { case e: Throwable => RowLevelStatement.discard(append, conf); throw e }
      Some(FileOutcome(c.file, AppendMask(append, mask), rowsUpdated = positions.length.toLong))
    }
  }
}
