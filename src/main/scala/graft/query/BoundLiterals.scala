package graft.query

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, LeafExpression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.FileSourceStrategy
import org.apache.spark.sql.types._

/** A non-null numeric constant that generated code reads from the plan's
  * reference objects, unboxed once into a field when the class is set up,
  * instead of spelling it into the Java source. Two plans that differ only
  * in such a value therefore generate the same source and share one
  * compiled class. Not foldable, so no rule turns it back into a literal. */
final case class BoundLiteral(value: Any, dataType: DataType) extends LeafExpression {
  override def foldable: Boolean = false
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("bound", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "bound",
      v => s"$v = $ref.${javaType}Value();", forceInline = true)
    ev.copy(code = EmptyBlock, isNull = FalseLiteral,
      value = JavaCode.global(field, dataType))
  }

  override def toString: String = s"bound($value)"
  override def sql: String = Literal(value, dataType).sql
}

/** Plans a file scan exactly as `FileSourceStrategy` does, then binds every
  * non-null byte/short/int/long/float/double literal that is a direct
  * operand of a comparison in the scan's `FilterExec` condition and
  * `ProjectExec` list. The scan's `DataFilters`/`PushedFilters` keep the
  * real literals, so Parquet pushdown is unchanged. Adaptive execution
  * re-plans each stage through the same planner, so its stages stay bound. */
object BoundLiterals extends SparkStrategy {
  def apply(plan: LogicalPlan): Seq[SparkPlan] =
    FileSourceStrategy(plan).map(_.transform {
      case f: FilterExec => f.copy(condition = bind(f.condition))
      case p: ProjectExec =>
        p.copy(projectList = p.projectList.map(bind(_).asInstanceOf[NamedExpression]))
    })

  private def bind(e: Expression): Expression = e.transform {
    case c: BinaryComparison => c.withNewChildren(c.children.map {
      case Literal(v, t @ (ByteType | ShortType | IntegerType | LongType |
          FloatType | DoubleType)) if v != null => BoundLiteral(v, t)
      case other => other
    })
  }

  /** Puts the strategy first on `spark` unless it is there already; true
    * when this call added it. */
  def install(spark: SparkSession): Boolean = {
    val installed = spark.experimental.extraStrategies.contains(this)
    if (!installed)
      spark.experimental.extraStrategies = this +: spark.experimental.extraStrategies
    !installed
  }

  def uninstall(spark: SparkSession): Unit =
    spark.experimental.extraStrategies = spark.experimental.extraStrategies.filterNot(_ == this)
}
