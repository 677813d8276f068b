package graft.plans

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, EqualTo, Expression, Literal, SubqueryExpression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graft.GraftSqlBridge
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import graft.sources.vortex.{RowLevelStatement, VortexDelete, VortexMerge, VortexTable, VortexUpdate}

/** SQL statement surface for UPDATE and MERGE over vortex datasets
  * (VERDICT r10 "What's missing" #1/#2): DELETE already plans through
  * DSv2 `SupportsDelete`; Spark's own row-level-operation rewrite
  * (`RewriteUpdateTable` / `RewriteMergeIntoTable`) requires
  * `SupportsRowLevelOperations` and executes copy-on-write through
  * generic scans — this engine already HAS a file-granular
  * classify/rewrite machine with stats-pruned candidates and
  * deterministic-name crash convergence (VortexUpdate / VortexMerge),
  * so the SQL surface routes the ANALYZED `UpdateTable` /
  * `MergeIntoTable` plans into that machinery instead: a post-hoc
  * resolution rule replaces them with LeafRunnableCommands BEFORE the
  * optimizer's unsupported-table check fires. r12: uncorrelated
  * subqueries in predicates/SET values/clause conditions are supported
  * through bounded driver-side evaluation ([[DmlSubqueries]]), and
  * `DELETE … WHERE <subquery>` (which `SupportsDelete` cannot carry —
  * a subquery never converts to a source Filter) is intercepted here
  * too. Still-unsupported shapes (correlated subqueries, nested-field
  * assignments, WITH SCHEMA EVOLUTION) fail with explicit errors,
  * never silently.
  */
object VortexDmlRules {

  /** the single dataset directory of a vortex relation, if this plan
    * is one (possibly under aliases/projections of resolution) */
  private[plans] def vortexDir(plan: LogicalPlan): Option[String] =
    plan.collectFirst {
      case r: DataSourceV2Relation if r.table.isInstanceOf[VortexTable] =>
        r.table.asInstanceOf[VortexTable].tablePaths
      // the optimizer path (RewriteVortexDml.install on a running
      // session): pushdown batches convert the relation to a scan
      // relation before user-provided rules run
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
          if r.relation.table.isInstanceOf[VortexTable] =>
        r.relation.table.asInstanceOf[VortexTable].tablePaths
    }.filter(_.length == 1).map(_.head)

  /** opaque clause payload: NOT an Iterable/Option/Expression product
    * element, so TreeNode never discovers the enclosed expressions as
    * the command's own (they reference the original statement's
    * attribute ids, which the command does not produce) */
  private[plans] final case class MergePayload(
      sourcePlan: LogicalPlan,
      targetAttrs: Seq[Attribute], sourceAttrs: Seq[Attribute],
      keyIdxTarget: Array[Int], keyIdxSource: Array[Int],
      matched: Seq[VortexMerge.MatchedAction],
      notMatched: Seq[VortexMerge.NotMatchedAction],
      notMatchedBySource: Seq[VortexMerge.MatchedAction],
      fingerprint: String,
      // correlated scalar SET (r14): duplicate source keys error at
      // MATCH time (ANSI scalar cardinality), not at broadcast time
      ansiScalarDups: Boolean = false)

  /** raw ANALYZED expressions (subqueries intact): evaluation of any
    * subquery is deferred to the command's run() — an EXPLAIN of the
    * statement must not execute it */
  private[plans] final case class UpdatePayload(
      assigns: Seq[(String, Expression)], cond: Expression)

  /** run-time expression → Column: materialize subqueries (bounded,
    * driver-side — see [[DmlSubqueries]]), inline RuntimeReplaceable/
    * With forms (BETWEEN analyzes to a With whose CommonExpressionRef
    * nodes cannot re-resolve once the attributes underneath are
    * unresolved — fuzz-found r11), then swap attribute refs for
    * by-name unresolved ones so the machinery's own `df.filter`
    * re-resolves them against its fresh scan. */
  private[plans] def toColumn(session: SparkSession, e: Expression): Column =
    GraftSqlBridge.column(
      RowLevelStatement.prepare(DmlSubqueries.materialize(session, e)).transform {
        case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
      })

  private[plans] def deletionVectors(session: SparkSession): Boolean =
    session.conf.getOption("spark.graft.vortex.deletionVectors")
      .exists(_.toBoolean)
}

/** `UPDATE vtx.\`dir\` SET … WHERE …` — executes VortexUpdate (the
  * rewrite tier, or the merge-on-read mask tier under
  * `spark.graft.vortex.deletionVectors=true`, same switch as DELETE). */
case class VortexUpdateCommand(dir: String,
                               payload: VortexDmlRules.UpdatePayload)
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    if (payload.assigns.isEmpty) return Seq.empty // all-identity SET: no-op
    VortexUpdate.update(session, dir,
      payload.assigns.map { case (k, e) => k -> VortexDmlRules.toColumn(session, e) }.toMap,
      VortexDmlRules.toColumn(session, payload.cond),
      VortexDmlRules.deletionVectors(session))
    Seq.empty
  }
}

/** `DELETE FROM vtx.\`dir\` WHERE <contains a subquery>` — plain
  * deletes keep the DSv2 `SupportsDelete` path (predicate → source
  * Filters); a subquery can never convert to a Filter, so this command
  * carries the raw condition (inside the OPAQUE payload — a bare
  * Expression field would be discovered by CheckAnalysis as the
  * command's own and rejected) into VortexDelete after bounded
  * materialization. */
case class VortexDeleteCommand(dir: String,
                               payload: VortexDmlRules.UpdatePayload)
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    VortexDelete.delete(session, dir,
      VortexDmlRules.toColumn(session, payload.cond),
      VortexDmlRules.deletionVectors(session))
    Seq.empty
  }
}

/** `MERGE INTO vtx.\`dir\` USING src ON … WHEN …` — executes
  * VortexMerge.mergeClauses over the analyzed source plan. Clause
  * subqueries materialize here (bounded), at execution time. */
case class VortexMergeCommand(dir: String,
                              payload: VortexDmlRules.MergePayload)
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    execute(session)
    Seq.empty
  }

  /** run the statement and return its file and row counts */
  def execute(session: SparkSession): VortexMerge.MergeResult = {
    val p = payload
    val source = org.apache.spark.sql.graft.GraftSqlBridge.ofRows(session, p.sourcePlan)
    def mat(a: VortexMerge.MatchedAction): VortexMerge.MatchedAction =
      VortexMerge.MatchedAction(
        a.cond.map(DmlSubqueries.materialize(session, _)),
        a.assigns.map(_.map(DmlSubqueries.materialize(session, _))))
    def matNm(a: VortexMerge.NotMatchedAction): VortexMerge.NotMatchedAction =
      VortexMerge.NotMatchedAction(
        a.cond.map(DmlSubqueries.materialize(session, _)),
        a.values.map(DmlSubqueries.materialize(session, _)))
    VortexMerge.mergeClauses(session, dir, source,
      p.targetAttrs, p.sourceAttrs, p.keyIdxTarget, p.keyIdxSource,
      p.matched.map(mat), p.notMatched.map(matNm),
      p.notMatchedBySource.map(mat), p.fingerprint,
      ansiScalarDups = p.ansiScalarDups)
  }
}

object RewriteVortexDml {
  /** Install into an ALREADY-RUNNING session (extensions are fixed at
    * session construction; `getOrCreate` may have reused one built
    * without them). Sound here because the optimizer leaves
    * UpdateTable/MergeIntoTable untouched for tables without
    * SupportsRowLevelOperations — only the PLANNER rejects them — so a
    * user-provided optimizer rule still intercepts in time.
    * Idempotent (the rewrite removes the only nodes it matches). */
  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.exists(_.isInstanceOf[RewriteVortexDml]))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ RewriteVortexDml(spark)
}

/** the rewrite rule — injected post-hoc-resolution by GraftExtensions,
  * or into `experimental.extraOptimizations` by
  * [[RewriteVortexDml.install]]; `transformDown` (not
  * resolveOperatorsDown) so it fires in BOTH contexts — resolve*
  * skips already-analyzed subtrees, which is every plan the optimizer
  * sees. See [[VortexDmlRules]]. */
case class RewriteVortexDml(session: SparkSession)
    extends Rule[LogicalPlan] with PredicateHelper {
  import VortexDmlRules._

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case u: UpdateTable if u.resolved && vortexDir(u.table).isDefined =>
      rewriteUpdate(u, vortexDir(u.table).get)
    case m: MergeIntoTable if m.resolved && vortexDir(m.targetTable).isDefined =>
      rewriteMerge(m, vortexDir(m.targetTable).get)
    // DELETE with a subquery predicate: SupportsDelete requires every
    // conjunct to convert to a source Filter, which a subquery never
    // does — intercept and route through the same bounded
    // materialization as UPDATE. Subquery-free deletes stay on the
    // stock DSv2 path (unchanged since r9). A CORRELATED [NOT] EXISTS
    // rewrites into the MERGE machinery (r13 — see CorrelatedDml).
    case d: DeleteFromTable if d.resolved &&
        d.condition.exists(_.isInstanceOf[SubqueryExpression]) &&
        vortexDir(d.table).isDefined =>
      if (CorrelatedDml.hasCorrelated(d.condition))
        rewriteCorrelatedDelete(d, vortexDir(d.table).get)
      else {
        DmlSubqueries.validate(d.condition, "delete WHERE")
        VortexDeleteCommand(vortexDir(d.table).get,
          UpdatePayload(Nil, d.condition))
      }
  }

  /** Synthesize the MergePayload shared by the correlated UPDATE and
    * DELETE rewrites: `targetAttrs` must mirror the dataset schema (the
    * analyzed relation's own output does), keys come from the extracted
    * equality correlation, and the fingerprint only disambiguates
    * statements (no INSERT clause ever exists here, so the exactly-once
    * insert identity is unused). */
  private def corrPayload(targetAttrs: Seq[Attribute],
                          ext: CorrelatedDml.Extracted,
                          matched: Seq[VortexMerge.MatchedAction],
                          notMatchedBySource: Seq[VortexMerge.MatchedAction],
                          what: String,
                          ansiScalarDups: Boolean = false): MergePayload = {
    val keyIdxTarget =
      ext.outerKeys.map(o => targetAttrs.indexWhere(_.exprId == o.exprId)).toArray
    require(keyIdxTarget.forall(_ >= 0),
      s"vortex $what: the correlated columns must be bare columns of the target table")
    def named(e: org.apache.spark.sql.catalyst.expressions.Expression): String =
      e.transform { case a: AttributeReference => UnresolvedAttribute.quoted(a.name) }.toString
    val fingerprint = "corrdml[" + ext.sourcePlan.canonicalized.toString + ";" +
      (matched ++ notMatchedBySource).map { a =>
        a.cond.map(named).getOrElse("") + ":" +
          a.assigns.map(_.map(named).mkString(",")).getOrElse("DELETE")
      }.mkString(";") + "]"
    MergePayload(ext.sourcePlan, targetAttrs, ext.sourcePlan.output,
      keyIdxTarget, ext.innerKeyIdx, matched, Nil, notMatchedBySource, fingerprint,
      ansiScalarDups = ansiScalarDups)
  }

  /** `DELETE FROM t WHERE [NOT] EXISTS (corr) [AND rest]` →
    * WHEN MATCHED [AND rest] THEN DELETE, or
    * WHEN NOT MATCHED BY SOURCE [AND rest] THEN DELETE. */
  private def rewriteCorrelatedDelete(d: DeleteFromTable, dir: String): LogicalPlan = {
    val conj = splitConjunctivePredicates(d.condition)
    val (corr, rest) = conj.partition(CorrelatedDml.hasCorrelated)
    require(corr.length == 1,
      "vortex delete: one correlated subquery per statement — " +
      "combine the conditions inside a single [NOT] EXISTS, or use MERGE")
    val pred = rest.reduceOption(
      org.apache.spark.sql.catalyst.expressions.And.apply)
    pred.foreach(DmlSubqueries.validate(_, "delete WHERE"))
    val action = VortexMerge.MatchedAction(pred, None) // DELETE
    corr.head match {
      case ex: org.apache.spark.sql.catalyst.expressions.Exists =>
        VortexMergeCommand(dir, corrPayload(d.table.output,
          CorrelatedDml.extractExists(ex, "delete WHERE"),
          Seq(action), Nil, "delete"))
      case org.apache.spark.sql.catalyst.expressions.Not(
          ex: org.apache.spark.sql.catalyst.expressions.Exists) =>
        VortexMergeCommand(dir, corrPayload(d.table.output,
          CorrelatedDml.extractExists(ex, "delete WHERE"),
          Nil, Seq(action), "delete"))
      case other => throw new UnsupportedOperationException(
        "vortex delete: a correlated subquery is only supported as a " +
        s"top-level [NOT] EXISTS conjunct of WHERE, got $other")
    }
  }

  private def rewriteUpdate(u: UpdateTable, dir: String): LogicalPlan = {
    val assigns = u.assignments.flatMap { a =>
      val key = a.key match {
        case ar: AttributeReference => ar
        case other => throw new UnsupportedOperationException(
          s"vortex update: only top-level column assignments are supported, got $other")
      }
      // alignment may have expanded SET to every column — identity
      // assignments are not user intent (and would trip the
      // partition-column guard), drop them
      if (a.value.semanticEquals(key)) None
      else Some(key.name -> a.value)
    }
    val cond = u.condition.getOrElse(Literal.TrueLiteral)
    // correlated shapes (r13 — see CorrelatedDml) route through the
    // MERGE machinery; everything else stays on the rewrite/DV tiers
    if (assigns.exists(a => CorrelatedDml.hasCorrelated(a._2)) ||
        CorrelatedDml.hasCorrelated(cond))
      return rewriteCorrelatedUpdate(u, dir, assigns, cond)
    assigns.foreach { case (_, v) => DmlSubqueries.validate(v, "update SET") }
    DmlSubqueries.validate(cond, "update WHERE")
    // all-identity SET (e.g. `SET v = v`) is legal SQL and a no-op —
    // the command's run() short-circuits on empty assigns
    VortexUpdateCommand(dir, UpdatePayload(assigns, cond))
  }

  /** Correlated UPDATE → synthesized MERGE. Two supported sites, one
    * per statement:
    *  - `WHERE [NOT] EXISTS (corr) [AND rest]` → WHEN MATCHED / WHEN
    *    NOT MATCHED BY SOURCE [AND rest] THEN UPDATE (uncorrelated SET)
    *  - `SET c = f((SELECT v … WHERE s.k = t.k))` → WHEN MATCHED [AND
    *    WHERE] THEN UPDATE SET c = f(src.v), PLUS WHEN NOT MATCHED BY
    *    SOURCE [AND WHERE] THEN UPDATE SET c = f(NULL) — ANSI: a scalar
    *    subquery over zero rows is NULL, so predicated-but-unmatched
    *    rows still assign. */
  private def rewriteCorrelatedUpdate(u: UpdateTable, dir: String,
                                      assigns: Seq[(String, Expression)],
                                      cond: Expression): LogicalPlan = {
    import org.apache.spark.sql.catalyst.expressions.{And, Exists, Not, ScalarSubquery}
    val targetAttrs = u.table.output
    // all-identity SET with only a correlated WHERE left: a no-op —
    // route to the update command's empty-assigns short-circuit rather
    // than staging a merge that rewrites nothing
    if (assigns.isEmpty)
      return VortexUpdateCommand(dir, UpdatePayload(Nil, Literal.TrueLiteral))
    def fullProjection(overrides: Map[String, Expression]): Seq[Expression] =
      targetAttrs.map(a => overrides.getOrElse(a.name, a))
    val conj = splitConjunctivePredicates(cond)
    val (corrWhere, restWhere) = conj.partition(CorrelatedDml.hasCorrelated)
    val corrSet = assigns.filter(a => CorrelatedDml.hasCorrelated(a._2))
    require(corrWhere.length + corrSet.length == 1,
      "vortex update: one correlated subquery per statement — " +
      "combine conditions inside a single [NOT] EXISTS, or use MERGE")
    val pred = restWhere.reduceOption(And.apply)
    pred.foreach(DmlSubqueries.validate(_, "update WHERE"))

    if (corrSet.nonEmpty) {
      val (setCol, vExpr) = corrSet.head
      assigns.filterNot(_._1 == setCol)
        .foreach { case (_, v) => DmlSubqueries.validate(v, "update SET") }
      val subs = vExpr.collect {
        case s: org.apache.spark.sql.catalyst.expressions.SubqueryExpression
            if CorrelatedDml.isCorrelated(s) => s }
      require(subs.length == 1 && subs.head.isInstanceOf[ScalarSubquery],
        "vortex update: a correlated SET value must contain exactly one " +
        "correlated scalar subquery")
      val sc = subs.head.asInstanceOf[ScalarSubquery]
      val ext = CorrelatedDml.extractScalar(sc, "update SET")
      val valAttr = ext.sourcePlan.output(ext.valueIdx.get)
      val others = assigns.filterNot(_._1 == setCol).toMap
      val matchedVal = vExpr.transform { case s: ScalarSubquery if s eq sc => valAttr }
      // ANSI over-zero-rows: plain scalar → NULL; aggregate form → the
      // empty-group value (COUNT=0, SUM/MAX/…=NULL — the "count bug")
      val nmbsVal = vExpr.transform {
        case s: ScalarSubquery if s eq sc =>
          ext.emptyValue.getOrElse(Literal.create(null, sc.dataType)) }
      val matched = VortexMerge.MatchedAction(pred,
        Some(fullProjection(others + (setCol -> matchedVal))))
      val nmbs = VortexMerge.MatchedAction(pred,
        Some(fullProjection(others + (setCol -> nmbsVal))))
      VortexMergeCommand(dir,
        corrPayload(targetAttrs, ext, Seq(matched), Seq(nmbs), "update",
          ansiScalarDups = !ext.keysUniqueByConstruction))
    } else {
      assigns.foreach { case (_, v) => DmlSubqueries.validate(v, "update SET") }
      val action = VortexMerge.MatchedAction(pred,
        Some(fullProjection(assigns.toMap)))
      corrWhere.head match {
        case ex: Exists =>
          VortexMergeCommand(dir, corrPayload(targetAttrs,
            CorrelatedDml.extractExists(ex, "update WHERE"),
            Seq(action), Nil, "update"))
        case Not(ex: Exists) =>
          VortexMergeCommand(dir, corrPayload(targetAttrs,
            CorrelatedDml.extractExists(ex, "update WHERE"),
            Nil, Seq(action), "update"))
        case other => throw new UnsupportedOperationException(
          "vortex update: a correlated subquery is only supported as a " +
          s"top-level [NOT] EXISTS conjunct of WHERE or a scalar SET value, got $other")
      }
    }
  }

  private def rewriteMerge(m: MergeIntoTable, dir: String): LogicalPlan = {
    require(!m.withSchemaEvolution,
      "vortex merge: WITH SCHEMA EVOLUTION is not supported — " +
      "see FORMAT.md (one-schema datasets; compact/rewrite to evolve)")
    val targetAttrs = m.targetTable.output
    val sourceAttrs = m.sourceTable.output
    val tSet = m.targetTable.outputSet
    val sSet = m.sourceTable.outputSet
    // ON must be a conjunction of target-attr = source-attr equalities
    // (type-aligned — a cast around either side means the key types
    // differ and hash matching would be unsound)
    val pairs = splitConjunctivePredicates(m.mergeCondition).map {
      case EqualTo(l: AttributeReference, r: AttributeReference)
          if tSet.contains(l) && sSet.contains(r) => (l, r)
      case EqualTo(l: AttributeReference, r: AttributeReference)
          if sSet.contains(l) && tSet.contains(r) => (r, l)
      case other => throw new UnsupportedOperationException(
        "vortex merge: ON must be a conjunction of type-aligned " +
        s"target.key = source.key equalities, got $other")
    }
    val keyIdxTarget = pairs.map(p => targetAttrs.indexWhere(_.exprId == p._1.exprId)).toArray
    val keyIdxSource = pairs.map(p => sourceAttrs.indexWhere(_.exprId == p._2.exprId)).toArray
    require(keyIdxTarget.forall(_ >= 0) && keyIdxSource.forall(_ >= 0),
      "vortex merge: ON keys must be bare columns of the target/source")

    def checked(e: Expression, what: String): Expression = {
      DmlSubqueries.validate(e, s"merge $what")
      e
    }
    def fullUpdateProjection(assignments: Seq[Assignment], what: String): Seq[Expression] = {
      val byId = assignments.map { a =>
        val key = a.key match {
          case ar: AttributeReference => ar
          case other => throw new UnsupportedOperationException(
            s"vortex merge: only top-level column assignments are supported, got $other")
        }
        key.exprId -> checked(a.value, what)
      }.toMap
      targetAttrs.map(a => byId.getOrElse(a.exprId, a))
    }
    val matched = m.matchedActions.map {
      case UpdateAction(cond, assignments, _) =>
        VortexMerge.MatchedAction(cond.map(checked(_, "WHEN MATCHED")),
          Some(fullUpdateProjection(assignments, "UPDATE SET")))
      case DeleteAction(cond) =>
        VortexMerge.MatchedAction(cond.map(checked(_, "WHEN MATCHED")), None)
      case other => throw new UnsupportedOperationException(
        s"vortex merge: unsupported WHEN MATCHED action $other")
    }
    val notMatched = m.notMatchedActions.map {
      case InsertAction(cond, assignments) =>
        val byId = assignments.map { a =>
          val key = a.key match {
            case ar: AttributeReference => ar
            case other => throw new UnsupportedOperationException(
              s"vortex merge: only top-level column INSERT targets are supported, got $other")
          }
          key.exprId -> checked(a.value, "INSERT VALUES")
        }.toMap
        VortexMerge.NotMatchedAction(
          cond.map(checked(_, "WHEN NOT MATCHED")),
          targetAttrs.map(a => byId.getOrElse(a.exprId,
            Literal.create(null, a.dataType))))
      case other => throw new UnsupportedOperationException(
        s"vortex merge: unsupported WHEN NOT MATCHED action $other")
    }
    // WHEN NOT MATCHED BY SOURCE (r12; VERDICT r11 next #5): target
    // rows with no source match, expressions over the TARGET attrs
    // only (the analyzer enforces that scoping). Same MatchedAction
    // shape — the executor binds these against the target context.
    val notMatchedBySource = m.notMatchedBySourceActions.map {
      case UpdateAction(cond, assignments, _) =>
        VortexMerge.MatchedAction(
          cond.map(checked(_, "WHEN NOT MATCHED BY SOURCE")),
          Some(fullUpdateProjection(assignments, "NOT MATCHED BY SOURCE UPDATE SET")))
      case DeleteAction(cond) =>
        VortexMerge.MatchedAction(
          cond.map(checked(_, "WHEN NOT MATCHED BY SOURCE")), None)
      case other => throw new UnsupportedOperationException(
        s"vortex merge: unsupported WHEN NOT MATCHED BY SOURCE action $other")
    }
    // statement identity for the exactly-once insert names: MUST be
    // exprId-free (AttributeReference.toString embeds exprIds that
    // reallocate on every analysis — a crash re-run on a fresh JVM
    // would compute a different hash and re-append; review-found r11).
    // Subqueries normalize through the CANONICALIZED plan (exprIds →
    // ordinals) so a statement with a subquery condition still derives
    // a stable name; the subquery node's own children (the IN value)
    // normalize like any attribute.
    def fpNames(e: Expression): String = e.transform {
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
    }.toString
    def fp(e: Expression): String = e.transform {
      // replace the WHOLE InSubquery pre-order (its `query` field is
      // typed ListQuery — substituting just the child would not copy)
      case in: org.apache.spark.sql.catalyst.expressions.InSubquery =>
        Literal("InSubquery[" + in.values.map(fpNames).mkString(",") +
          ";" + in.query.plan.canonicalized.toString + "]")
      case s: SubqueryExpression =>
        Literal(s.getClass.getSimpleName + "[" +
          s.plan.canonicalized.toString + "]")
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
    }.toString
    def fpAction(a: MergeAction): String = a match {
      case UpdateAction(c, as, _) =>
        "U(" + c.map(fp).getOrElse("") + ";" +
          as.map(x => fp(x.key) + ":=" + fp(x.value)).mkString(",") + ")"
      case DeleteAction(c) => "D(" + c.map(fp).getOrElse("") + ")"
      case InsertAction(c, as) =>
        "I(" + c.map(fp).getOrElse("") + ";" +
          as.map(x => fp(x.key) + ":=" + fp(x.value)).mkString(",") + ")"
      case other => other.getClass.getSimpleName
    }
    val fingerprint =
      (m.matchedActions ++ m.notMatchedActions ++ m.notMatchedBySourceActions)
        .map(fpAction).mkString(";")
    VortexMergeCommand(dir, MergePayload(m.sourceTable, targetAttrs, sourceAttrs,
      keyIdxTarget, keyIdxSource, matched, notMatched, notMatchedBySource,
      fingerprint))
  }
}
