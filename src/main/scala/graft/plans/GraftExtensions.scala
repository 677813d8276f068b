package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.{GetJsonObject, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Rewrites `get_json_object(col, '$.field')` with a literal simple
  * path into [[graft.functions.JsonGetSimple]] — a codegen'd one-pass
  * byte scan with an exact built-in fallback on every case the scan
  * cannot prove equivalent. Complex paths (nesting, arrays,
  * wildcards, quoted names) and non-literal paths are untouched. */
object FastJsonRule extends Rule[LogicalPlan] {
  private val Simple = "^\\$\\.([A-Za-z0-9_]+)$".r

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case g @ GetJsonObject(json, Literal(p: UTF8String, StringType))
        if json.dataType == StringType =>
      p.toString match {
        case Simple(f) => graft.functions.JsonGetSimple(json, f)
        case _ => g
      }
  }

  /** Install into an ALREADY-RUNNING session (extensions are fixed at
    * session construction; `getOrCreate` may have reused one built
    * without them). Idempotent — the rule matches nothing once
    * rewritten. */
  def install(spark: org.apache.spark.sql.SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(this))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ this
}

/** Rewrites literal-pattern `regexp_count` into single-pass byte-scan
  * expressions for the two shapes a per-document text pipeline runs
  * hottest (analysis replaces RegExpCount with
  * `size(regexp_extract_all(...))`, so that is the form matched):
  *
  *  - `\b(w1|w2|…)\b` / `\bword\b` over word-literal branches →
  *    [[graft.functions.WordSetCount]]
  *  - `[\x{lo}-\x{hi}]` codepoint class → [[graft.functions.CodepointRangeCount]]
  *
  * Anything else — metacharacters, non-word branches, non-literal
  * patterns, non-zero group index, legacy size-of-null — is left on
  * the builtin regex engine. Equivalence is argued in
  * [[graft.functions.TextScan]] and cross-checked in TextScanSpec. */
object FastRegexCountRule extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{RegExpExtractAll, Size}
  import org.apache.spark.sql.types.IntegerType

  private val WordAlt = "^\\\\b\\(((?:[A-Za-z0-9_]+\\|)*[A-Za-z0-9_]+)\\)\\\\b$".r
  private val WordOne = "^\\\\b([A-Za-z0-9_]+)\\\\b$".r
  private val CpRange =
    "^\\[\\\\x\\{([0-9a-fA-F]{1,6})\\}-\\\\x\\{([0-9a-fA-F]{1,6})\\}\\]$".r

  private def rewrite(subject: org.apache.spark.sql.catalyst.expressions.Expression,
                      pattern: String) = pattern match {
    case WordAlt(ws) =>
      Some(graft.functions.WordSetCount(subject,
        scala.collection.immutable.ArraySeq.unsafeWrapArray(ws.split("\\|"))))
    case WordOne(w) => Some(graft.functions.WordSetCount(subject, Seq(w)))
    case CpRange(lo, hi) =>
      val l = Integer.parseInt(lo, 16); val h = Integer.parseInt(hi, 16)
      if (l <= h && h <= 0x10FFFF) Some(graft.functions.CodepointRangeCount(subject, l, h))
      else None
    case p =>
      // tokenizer-count family: alternation of simple ASCII character
      // classes, optionally plus-quantified ([a-z]+|[0-9]+|[^a-z0-9\s])
      graft.functions.ClassAltCount.parse(p)
        .map(_ => graft.functions.ClassAltCount(subject, p))
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case sz @ Size(RegExpExtractAll(subj, Literal(p: UTF8String, StringType),
                                    Literal(0, IntegerType)), false)
        if subj.dataType == StringType =>
      rewrite(subj, p.toString).getOrElse(sz)
  }

  /** Install into an already-running session (same contract as
    * [[FastJsonRule.install]]). */
  def install(spark: org.apache.spark.sql.SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(this))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ this
}

/** Pushes a GLOBAL Sort below a deterministic Project when every sort
  * key is produced by the project's child. Planning a global sort
  * inserts a RangePartitioning exchange whose bounds come from a
  * SAMPLING job over the sort's child — with the projection above the
  * child, that job re-executes the projection over every row before
  * the real pass runs it again. Pushed below, the sampler reads raw
  * child rows and the projection runs once, after the exchange
  * (projections preserve partitioning and order). Measured at sf1/6
  * threads: 5.2 → 1.2 s on a log+decimal projection, 1.6 → 0.6 s on
  * an md5 projection — the cost was always the silent double
  * execution.
  *
  * Gating: the rewrite moves the exchange from the project's OUTPUT
  * to its INPUT columns, so it applies only when that cannot inflate
  * shuffled bytes (estimated output width ≥ input width) OR the
  * projection provably repeats expensive work (regex/hash/json/
  * transcendental/graft-kernel expressions — recomputing those costs
  * more than any width delta). Pure column reshuffles are left alone;
  * ORDER BY a computed alias never matches (the key is not a child
  * output). The result shape Project(Sort) cannot re-match — the rule
  * is a fixed point.
  */
object SortThroughProject extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions._
  import org.apache.spark.sql.catalyst.plans.logical.{Project, Sort}

  private def expensive(e: Expression): Boolean = e.exists {
    case _: RegExpExtract | _: RegExpExtractAll | _: RegExpReplace | _: RLike => true
    case _: Md5 | _: Sha1 | _: Sha2 | _: Crc32 | _: Murmur3Hash | _: XxHash64 => true
    case _: GetJsonObject | _: JsonTuple => true
    case _: Logarithm | _: Log | _: Log2 | _: Log10 | _: Log1p | _: Exp
       | _: Expm1 | _: Pow => true
    case _: graft.functions.WordSetCount | _: graft.functions.CodepointRangeCount
       | _: graft.functions.ClassAltCount | _: graft.functions.JsonGetSimple => true
    case _: ScalaUDF => true
    case _ => false
  }

  private def width(attrs: Iterable[Attribute]): Long =
    attrs.map(_.dataType.defaultSize.toLong).sum

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case s: Sort if s.global =>
      s.child match {
        case p: Project
            if p.projectList.forall(_.deterministic) &&
               // something to save: at least one non-trivial expression
               p.projectList.exists(e => !e.isInstanceOf[Attribute] &&
                 !e.children.forall(_.isInstanceOf[Attribute])) &&
               (width(p.outputSet) >= width(p.references) ||
                p.projectList.exists(expensive)) =>
          // order keys may reference plain ALIASES of child attributes
          // (`value AS k` … ORDER BY k) — substitute through, exactly
          // like Spark's own predicate pushdown
          val aliasMap = AttributeMap(p.projectList.collect {
            case a @ Alias(c: Attribute, _) => a.toAttribute -> c
          })
          val newOrder = s.order.map(_.transform {
            case a: Attribute => aliasMap.getOrElse(a, a)
          }.asInstanceOf[SortOrder])
          if (newOrder.forall(_.references.subsetOf(p.child.outputSet)))
            p.copy(child = s.copy(order = newOrder, child = p.child))
          else s
        case _ => s
      }
  }

  /** Install into an already-running session (same contract as
    * [[FastJsonRule.install]]). */
  def install(spark: org.apache.spark.sql.SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(this))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ this
}

/** Session extensions entry point: enable with
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`
  * (or pass to `withExtensions`). Installed by graft's own
  * Verify/Bench harness sessions. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    // BEGIN/COMMIT/ROLLBACK VORTEX TRANSACTION statements (r14); the
    // VORTEX keyword is mandatory, so nothing the stock parser accepts
    // is ever intercepted
    e.injectParser((_, delegate) => new GraftSqlParser(delegate))
    e.injectPostHocResolutionRule(s => RewriteVortexDml(s))
    e.injectOptimizerRule(_ => FastJsonRule)
    e.injectOptimizerRule(_ => FastRegexCountRule)
    e.injectOptimizerRule(_ => SortThroughProject)
    // before CollapseCodegenStages on the non-adaptive and the adaptive
    // path alike: filter constants stop being inlined into generated code
    e.injectColumnar(_ => ParameterizeFilterLiterals.columnarRule)
    // adaptive planning only: a shuffle over one partition's worth of
    // rows becomes an in-task coalesce (no sampling job, no extra stage)
    e.injectQueryStagePrepRule(s => CoalesceSmallShuffles(s))
    // plans nothing: marks a write's query so the rule leaves it alone
    e.injectPlannerStrategy(_ => MarkWriteQueries)
    // graft's custom expressions, for sessions that only speak SQL
    // (the register() helpers cover programmatic sessions)
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
    def fn(name: String, clazz: String)(b: Seq[Expression] => Expression) =
      e.injectFunction((FunctionIdentifier(name), new ExpressionInfo(clazz, name), b))
    fn("vec_dot", "graft.functions.VecDot")(es => graft.functions.VecDot(es(0), es(1)))
    fn("double_sortable_bits", "graft.functions.DoubleSortableBits")(
      es => graft.functions.DoubleSortableBits(es.head))
    fn("z_value", "graft.functions.ZValue")(es => graft.functions.ZValue(es))
  }
}
