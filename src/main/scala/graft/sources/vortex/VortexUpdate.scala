package graft.sources.vortex

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.functions.col

/** `UPDATE <vortex dataset> SET col = expr, … WHERE <predicate>` —
  * file-granularity row update, the corpus re-scoring shape
  * (`UPDATE corpus SET quality = … WHERE source = …`) a training-data
  * store runs constantly. Reference scope note: the reference engine
  * inherits UPDATE from its host database for native tables only
  * (VERDICT r9 "What's missing" #2); this is the vortex-dataset
  * capability built on VortexDelete's classify + rewrite machinery.
  *
  * The statement is the single clause `[(predicate, SET)]` of the
  * shared row-level pipeline (RowLevelStatement): candidates are the
  * files, and their chunks, that the scan's own chunk selection keeps
  * from the statement's listing for the filters the predicate pushes
  * down, the
  * SET projection covers the full table row (each assignment cast to
  * its column's exact type, unassigned columns carried as they are),
  * and each candidate's kernel — untouched, merge-on-read append +
  * mask, the splice kernel or the row path — comes from
  * RowLevelStatement's kernel table. A rewrite folds existing
  * deletion-vector masks in and commits as
  * `part-update-<md5(src)>.vortex`.
  *
  * Crash contract: identical to DELETE's (same deterministic-name
  * commit) — re-running the same UPDATE converges ONLY when the
  * assignment is idempotent over its own output (e.g. `SET q = 0.5
  * WHERE src='x'`; a non-idempotent `SET v = v+1` re-applies to rows
  * whose file commit was lost). The corpus re-scoring shape is
  * idempotent; document non-idempotent re-runs as at-least-once.
  */
object VortexUpdate {
  import RowLevelStatement.{AppendMask, Clause, Keep, Replace, Shape}

  final case class UpdateResult(candidateFiles: Int, untouchedFiles: Int,
                                rewrittenFiles: Int, rowsUpdated: Long,
                                maskedFiles: Int = 0,
                                kernels: Map[String, Int] = Map.empty,
                                phaseMs: Map[String, Long] = Map.empty)

  private[graft] def replacementName(srcName: String): String =
    MaintenanceCommit.replacementName("update", srcName)

  /** Appended-updates file of the MERGE-ON-READ tier, named
    * DETERMINISTICALLY from the source basename PLUS the mask sequence
    * it pairs with: a crashed run's re-run overwrites its own partial
    * append instead of duplicating it, and the seq makes the
    * append-committed/mask-lost crash window EXACTLY detectable — a
    * `part-updv-<h>-<s>` whose source's newest mask seq is < s is
    * provably the orphaned append half of a failed statement, which
    * the crash judgment (MaintenanceCommit.uncommitted) hides from
    * reads and the next statement's prologue deletes. Unlike a
    * replacement, a committed updv file legitimately COEXISTS with its
    * (masked) source, so the judgment never treats it as one. */
  private[graft] def appendName(srcName: String, maskSeq: Int): String =
    MaintenanceCommit.appendName(srcName, maskSeq)

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
      if (st.listed.isEmpty) UpdateResult(0, 0, 0, 0L, phaseMs = st.phaseMs)
      else {
        st.begin()
        val df = st.table
        val tableCols = st.schema.fieldNames.toSet
        assignments.keys.foreach(k => require(tableCols.contains(k),
          s"vortex update: SET column $k is not a top-level column of the table"))
        val assignKeys: Array[String] = assignments.keys.toArray.sorted
        val filtered = df.filter(predicate)
        val (schema, cond) = RowLevelStatement.where(filtered, "update")

        // the SET projection over the FULL table row, one expression per
        // column (each assignment CAST to its column's type), resolved
        // through a real analyzed Project so functions/subexpressions
        // work, then bound to ordinals
        val projected = df.select(schema.fields.map { f =>
          assignments.get(f.name) match {
            case Some(e) => e.cast(f.dataType).as(f.name)
            case None => col(s"`${f.name}`")
          }
        }.toIndexedSeq: _*)
        val (projList, projChild) = projected.queryExecution.analyzed.collectFirst {
          case p: logical.Project => (p.projectList, p.child.output)
        }.getOrElse(throw new IllegalArgumentException(
          "vortex update: cannot resolve SET expressions"))
        val assigns = projList.map(RowLevelStatement.bind("update", "SET expressions", projChild))

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
        val bucketKey = if (cands.isEmpty) None else st.bucketKey
        bucketKey.foreach(bk => require(!assignKeys.contains(bk),
          s"vortex update: SET column $bk is the bucketing key — in-place " +
          "update cannot move rows between bucket directories; " +
          "DELETE + re-INSERT instead"))

        val outcomes = st.execute(cands, Shape("update", schema,
          Seq(Clause(Some(cond), Some(assigns))), deletionVectors = deletionVectors,
          bucketIdx = bucketKey.map(schema.fieldNames.indexOf(_)).getOrElse(-1),
          mustStore = assignKeys.toSeq))
        st.commit(outcomes, failAfterCommits)
        UpdateResult(cands.length,
          outcomes.count(_.change == Keep),
          outcomes.count(_.change.isInstanceOf[Replace]),
          outcomes.map(_.rowsUpdated).sum,
          outcomes.count(_.change.isInstanceOf[AppendMask]),
          RowLevelStatement.kernels(outcomes),
          st.phaseMs)
      }
    }
  }
}
