package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.execution.{FilterExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.{DataType, DoubleType, FloatType, IntegerType, LongType}

/** A comparison constant that the generated code reads from the class's
  * `references` array instead of spelling it in the Java source.
  *
  * Catalyst writes a primitive [[Literal]] into the whole-stage source
  * (`amount < 1000`), so a query shape re-run with other constants
  * compiles new classes and runs code the JIT has not seen. This leaf
  * generates the same source for every value: the value is one
  * `addReferenceObj` entry, unboxed once into a class field when the
  * generated class is initialised. It renders (`toString`, `sql`) and
  * compares exactly like the literal it replaces, so explain output,
  * plan strings and exchange reuse see no difference. It is not
  * foldable, which is why [[BindConstants]] binds only comparison
  * operands. */
final case class BoundConstant(literal: Literal) extends LeafExpression {
  override def dataType: DataType = literal.dataType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = literal.value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("bound", literal.value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "bound", v => s"$v = $ref.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

/** Physical planning with comparison constants bound by reference: every
  * `FilterExec` is planned with the non-null literal operand of each
  * `< <= > >= = <=>` over an int, long, float or double column replaced
  * by a [[BoundConstant]], so one query shape compiles one generated
  * source whatever its constants are, hits Spark's codegen cache, and
  * runs classes the JIT has already compiled. (Catalyst already reads a
  * string or other non-primitive literal from `references`.)
  *
  * It is installed when a session is built ([[graft.Session.local]]),
  * and, in a session built elsewhere, by the table loaders
  * ([[graft.dialect.QueryRunner.loadTables]], [[graft.Tables.registerAll]])
  * before its first query over their tables, so a session plans every
  * query the same way.
  *
  * The rewrite happens only here, after the optimizer: cost-based join
  * reorder and the planner's size estimates have already read the real
  * literals (a `.stat`'s min/max against the filter constants), and AQE
  * re-optimizes the logical plan, which keeps them too, so join order and
  * join strategy are the ones Catalyst picks without this strategy.
  *
  * A strategy that matched only `Filter` would never see scan filters:
  * the source strategies plan a `Project`/`Filter` over a scan as one
  * unit. So this one matches `Filter` and `Project`, asks the installing
  * session's other strategies for the plan they would produce, and
  * rewrites the `FilterExec` conditions in it; their children stay
  * placeholders that the planner plans (and so rewrites) in turn. AQE
  * re-plans through the same planner. The session is the one that
  * installed the strategy, never `SparkSession.active`: AQE re-plans on
  * other threads.
  *
  * Only comparison operands are bound, and only when the other side is
  * not foldable, so no expression that specialises on a foldable operand
  * (LIKE's pattern, IN's list) and no comparison changes foldability. */
final class BindConstants private (session: SparkSession) extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case _: Filter | _: Project =>
      session.sessionState.planner.strategies.iterator
        .filterNot(_.isInstanceOf[BindConstants])
        .map(_(plan))
        .find(_.nonEmpty)
        .getOrElse(Nil)
        .map(_.transformUp { case f: FilterExec => f.copy(condition = BindConstants.bind(f.condition)) })
    case _ => Nil
  }
}

object BindConstants {

  /** Installs the strategy in `spark`, once: calling it again is a no-op.
    * A session cloned from `spark` inherits the instance. */
  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.exists(_.isInstanceOf[BindConstants]))
      spark.experimental.extraStrategies =
        new BindConstants(spark) +: spark.experimental.extraStrategies

  private def bindable(l: Literal): Boolean = l.value != null && (l.dataType match {
    case IntegerType | LongType | FloatType | DoubleType => true
    case _ => false
  })

  /** `condition` with each bindable comparison operand bound. */
  private def bind(condition: Expression): Expression = condition match {
    case c @ BinaryComparison(l, r) =>
      def operand(e: Expression, other: Expression): Expression = e match {
        case lit: Literal if bindable(lit) && !other.foldable => BoundConstant(lit)
        case _ => bind(e)
      }
      c.withNewChildren(Seq(operand(l, r), operand(r, l)))
    case other => other.mapChildren(bind)
  }
}
