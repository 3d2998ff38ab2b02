package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryArithmetic, BinaryComparison, Expression, In, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, SparkPlan}
import org.apache.spark.sql.types._

/**
 * A non-null primitive constant whose generated code does not spell its
 * value. `Literal` writes an int, long, double, date or timestamp into
 * the Java source, so two plans that differ only in such a constant
 * compile two classes. This expression adds the value to the class's
 * `references` and reads it once into a field of its primitive type, as
 * Spark already does for decimal, string and array literals, so the
 * class text is the same whatever the value and Spark's codegen cache
 * serves the second plan.
 *
 * It is still a value: equality and `canonicalized` compare the value
 * (floats by bits, as boxed `equals` does), so plans that differ only in
 * a constant never merge through exchange or subquery reuse. `toString`
 * and `sql` render as the `Literal` would, so explain text does not
 * change. It is not foldable: nothing may fold it back after planning.
 */
final case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  require(value != null && ParamLiterals.types.contains(dataType),
    s"graft: no parameter form for $dataType $value")
  override def foldable: Boolean = false
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = Literal(value, dataType).toString
  override def sql: String = Literal(value, dataType).sql
  override def equals(o: Any): Boolean = o match {
    // boxed equals, not ==: 0.0 and -0.0 differ, and a NaN equals itself
    case p: ParamLiteral => dataType == p.dataType && value.asInstanceOf[AnyRef].equals(p.value)
    case _ => false
  }
  override def hashCode: Int = 31 * dataType.hashCode + value.hashCode

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param",
      v => s"$v = $boxed.${javaType}Value();", forceInline = true)
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

/**
 * Turns the constants of physical `FilterExec` conditions into
 * [[ParamLiteral]]s, right before whole-stage codegen collapses the plan
 * (the columnar-rule hook runs there both in the non-adaptive
 * preparation and in AQE's per-stage rules). Statements re-issued with
 * new constants, such as a TPC-H q1 with a fresh ship-date cut or a
 * filtered KNN with a new label, then reuse one compiled class.
 *
 * Only a primitive `Literal` that is a direct operand of a
 * `BinaryComparison` or a `BinaryArithmetic`, or an item of an `In`
 * list, is rewritten: those parents read the operand's value alone.
 * Operands of any other parent (a `Round` scale, a window frame bound)
 * may need a foldable constant and keep their `Literal`. Scans keep
 * theirs too, since Parquet pushdown and partition pruning translate
 * them, and projections are left alone: a field read is longer bytecode
 * than an inline constant, and wide projections sit near the 64 KB
 * method limit. Logical plans, optimizer rules and statistics never see
 * a [[ParamLiteral]].
 */
object ParamLiterals extends ColumnarRule {
  /** The types `Literal` inlines into generated code (boolean aside). */
  private[plans] val types: Set[DataType] = Set(IntegerType, LongType, ShortType, ByteType,
    FloatType, DoubleType, DateType, TimestampType, TimestampNTZType)

  override def preColumnarTransitions: Rule[SparkPlan] = Parameterize

  private object Parameterize extends Rule[SparkPlan] {
    override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
      case f: FilterExec => f.mapExpressions(parameterize)
    }
  }

  /** `e` with the operands described above as [[ParamLiteral]]s. */
  private def parameterize(e: Expression): Expression = e.transformUp {
    case c: BinaryComparison => c.mapChildren(param)
    case a: BinaryArithmetic => a.mapChildren(param)
    case i: In => i.copy(list = i.list.map(param))
  }

  private def param(e: Expression): Expression = e match {
    case Literal(v, t) if v != null && types.contains(t) => ParamLiteral(v, t)
    case o => o
  }
}
