package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, SparkPlan}
import org.apache.spark.sql.types._

/** A primitive filter constant that generated code reads from the
  * `references` array instead of inlining. `Literal.doGenCode` writes
  * long, int, date, timestamp and double values into the Java source,
  * so the same query shape with a new constant misses CodeGenerator's
  * source-keyed cache and compiles again; with the value behind a
  * reference the source is byte-identical across constants.
  * Evaluation, `toString` and `sql` are the literal's, so results and
  * EXPLAIN text do not change. */
case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  private lazy val literal = Literal(value, dataType)
  override def nullable: Boolean = false
  override def foldable: Boolean = true
  override def eval(input: InternalRow): Any = value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val v = ctx.addMutableState(javaType, "paramValue", n => s"$n = $ref.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(v, dataType))
  }
}

/** Replaces every non-null primitive literal operand of a comparison
  * (`BinaryComparison`, which covers BETWEEN's expansion, and `In`)
  * inside a `FilterExec` condition with a [[ParamLiteral]]. Nothing
  * else is touched, so no expression that needs a `Literal` argument
  * sees a different child. Runs before `CollapseCodegenStages` on both
  * the non-adaptive and the adaptive path (see [[GraftExtensions]]). */
object ParameterizeFilterLiterals extends Rule[SparkPlan] {
  private def param(e: Expression): Expression = e match {
    // the types `Literal.doGenCode` writes into the Java source
    case Literal(v, dt @ (BooleanType | ByteType | ShortType | IntegerType | LongType |
        FloatType | DoubleType | DateType | TimestampType | TimestampNTZType)) if v != null =>
      ParamLiteral(v, dt)
    case other => other
  }

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec =>
      val cond = f.condition.transformUp {
        case c: BinaryComparison => c.withNewChildren(c.children.map(param))
        case in: In => in.copy(list = in.list.map(param))
      }
      if (cond.fastEquals(f.condition)) f else f.copy(condition = cond)
  }

  /** the columnar-rule hook that places the rule before codegen */
  val columnarRule: ColumnarRule = new ColumnarRule {
    override def preColumnarTransitions: Rule[SparkPlan] = ParameterizeFilterLiterals
  }
}
