package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, SparkPlan}
import org.apache.spark.sql.types.{DataType, DateType, DoubleType, FloatType, IntegerType, LongType, TimestampType}

/** A non-null comparison constant that generated code reads from the
  * class's `references` array instead of from its source text.
  *
  * `Literal` writes numeric, date and timestamp values into the generated
  * Java as text, so a filter that differs only in its key (a serving
  * point lookup, a range bound) is new code and compiles a new class —
  * once per class loader, because Spark's class cache is keyed by loader
  * too. Bound by reference, every key shares one class. `toString` and
  * `sql` render exactly as the `Literal`, so `explain` output is unchanged.
  */
case class BoundLiteral(value: Any, dataType: DataType) extends LeafExpression {

  private def literal: Literal = Literal(value, dataType)

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("boundLiteral", value, CodeGenerator.boxedType(dataType))
    // unboxed once, when the generated object is initialized
    val field = ctx.addMutableState(javaType, "boundLiteral", v => s"$v = $ref.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }

  override def toString: String = literal.toString
  override def sql: String = literal.sql

  // Literal's equality (NaN equals NaN): two copies of one plan must stay
  // equal for exchange reuse
  override def equals(other: Any): Boolean = other match {
    case b: BoundLiteral => literal == b.literal
    case _ => false
  }
  override def hashCode(): Int = literal.hashCode()
}

/** Physical rule: bind each non-null numeric, date or timestamp `Literal`
  * that is a direct child of a `BinaryComparison` in a `FilterExec`
  * condition (see [[BoundLiteral]]). Physical, not logical: the scan's
  * pushed filters come from the logical plan and keep the `Literal`, so
  * parquet row-group skipping is unchanged. Runs as a pre-columnar-
  * transitions hook, which precedes `CollapseCodegenStages` both in the
  * non-adaptive preparations and in AQE's post-stage-creation rules.
  */
object BindComparisonLiterals extends Rule[SparkPlan] {

  private val bindable: Set[DataType] =
    Set(IntegerType, LongType, FloatType, DoubleType, DateType, TimestampType)

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec =>
      val bound = f.condition.transformUp {
        case c: BinaryComparison => c.withNewChildren(c.children.map {
          case Literal(v, t) if v != null && bindable(t) => BoundLiteral(v, t)
          case e => e
        })
      }
      if (bound eq f.condition) f else f.copy(condition = bound)
  }

  val columnarRule: ColumnarRule = new ColumnarRule {
    override def preColumnarTransitions: Rule[SparkPlan] = BindComparisonLiterals
  }

  /** Register the rule; a second registration finds nothing left to bind. */
  def install(ext: SparkSessionExtensions): Unit = ext.injectColumnar(_ => columnarRule)
}
