package graft.engine.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, In, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.types._

/** A non-null primitive constant that keeps its value out of the
  * generated Java source. Literal writes a primitive into the source
  * (`o_orderkey == 42L`), so every new key is a new class for Janino to
  * compile; CodeGenerator caches compiled classes by source text. This
  * leaf reads the value from the class's `references` array into a field
  * set once at init, so statements that differ only in the constant
  * generate the same source and share one class. It evaluates, prints,
  * renders SQL and compares exactly like the Literal it stands for, so
  * EXPLAIN text does not change.
  */
case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  private def literal = Literal(value, dataType)

  override def nullable: Boolean = false
  override def foldable: Boolean = true
  override def eval(input: InternalRow): Any = value
  override def toString: String = literal.toString
  override def sql: String = literal.sql
  // Literal's equality: NaN equals NaN, so plans holding one still match
  override def equals(other: Any): Boolean = other match {
    case p: ParamLiteral => literal == p.literal
    case _ => false
  }
  override def hashCode: Int = literal.hashCode

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param", v => s"$v = $ref.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

object ParamLiteral {

  /** The types Spark 4.1.2's `Literal.doGenCode` writes into the source;
    * strings, decimals and the rest already go by reference.
    */
  def inlinedByLiteral(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
        FloatType | DoubleType | DateType | TimestampType | TimestampNTZType |
        _: YearMonthIntervalType | _: DayTimeIntervalType | _: TimeType => true
    case _ => false
  }
}

/** Physical rule: the non-null primitive literal operands of comparisons
  * and IN lists in FilterExec conditions become ParamLiterals. Injected
  * as a pre-columnar-transition rule (GraftExtensions), which Spark runs
  * before CollapseCodegenStages both in static planning and in AQE's
  * per-stage planning.
  */
object ParamLiterals extends Rule[SparkPlan] {

  private def param(e: Expression): Expression = e match {
    case Literal(v, t) if v != null && ParamLiteral.inlinedByLiteral(t) => ParamLiteral(v, t)
    case other => other
  }

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec =>
      val cond = f.condition.transform {
        case c: BinaryComparison => c.mapChildren(param)
        case in: In => in.mapChildren(param)
      }
      if (cond fastEquals f.condition) f else f.copy(condition = cond)
  }
}
