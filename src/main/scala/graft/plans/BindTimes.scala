package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, BinaryComparison, Expression, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.types.{DataType, DateType, TimestampNTZType, TimestampType}

/** A non-null time bound that generated code reads from the class's
  * `references` instead of spelling it as a Java constant.
  *
  * A [[Literal]]'s generated code is its value (`1711929600000000L`), so two
  * queries that differ only in their window bounds produce two different
  * Java sources and compile twice. This leaf carries the same value, but its
  * code is an immutable field initialised once per generated object from
  * `references`, so every window of one query shape shares one source and
  * one compiled class. It is evaluated, not folded (`foldable` is false),
  * and it prints as the literal it replaced, so `explain` output does not
  * change.
  */
case class BoundTime(value: Any, dataType: DataType) extends LeafExpression {

  private def literal = Literal(value, dataType)

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = value

  override def toString: String = literal.toString

  override def sql: String = literal.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("boundTime", value, CodeGenerator.boxedType(dataType))
    val state = ctx.freshName("boundTime")
    ctx.addImmutableStateIfNotExists(javaType, state, v => s"$v = $ref.${javaType}Value();")
    ev.copy(code = EmptyBlock, isNull = FalseLiteral, value = JavaCode.global(state, dataType))
  }
}

/** Physical rule: in every non-leaf operator, a non-null timestamp or date
  * [[Literal]] that is an operand of a comparison, or the whole child of an
  * `Alias` (`lit(end).as("end_time")`), becomes a [[BoundTime]].
  *
  * The dashboard re-runs a few query shapes with new time bounds
  * (reference `compute_transaction_info.py:55-62`); with the bounds out of
  * the generated source, a new window reuses the classes the first one
  * compiled. Leaf scans keep their literals, so [[DayPruningRule]],
  * partition pruning and parquet filter pushdown see exactly what they saw
  * before; `In`/`InSet` value lists are not touched. Installed by
  * [[GraftExtensions]] as a pre-columnar-transition rule, which runs before
  * `CollapseCodegenStages` on both the adaptive and the non-adaptive path.
  */
object BindTimesRule extends Rule[SparkPlan] {

  private def bindable(e: Expression): Boolean = e match {
    case Literal(v, TimestampType | TimestampNTZType | DateType) => v != null
    case _ => false
  }

  private def bind(e: Expression): Expression = e match {
    case l: Literal if bindable(l) => BoundTime(l.value, l.dataType)
    case other => other
  }

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case p if p.children.nonEmpty =>
      p.transformExpressionsUp {
        case c: BinaryComparison if c.children.exists(bindable) => c.withNewChildren(c.children.map(bind))
        case a: Alias if bindable(a.child) => a.withNewChildren(Seq(bind(a.child)))
      }
  }
}
