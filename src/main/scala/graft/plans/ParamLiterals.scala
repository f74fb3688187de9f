package graft.plans

import java.util.Objects

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, LeafExecNode, SparkPlan}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.types._

/** A non-null primitive, date or timestamp literal that generated code
  * reads from a field of the generated class instead of inlining.
  *
  * Spark's `Literal` writes such a value into the Java source (`x < 42L`),
  * so two questions that differ only in a constant generate two sources,
  * and each costs a Janino compile. Here the source names a field that
  * the class sets once, when it is initialised, from its `references`
  * array; the loop reads the primitive field and never unboxes per row.
  * The source is the same for every value, so the compile cache hits.
  *
  * Equality and the canonical form keep the value and the type (boxed
  * `equals`: `NaN` equals `NaN`, `-0.0` is not `0.0`), so exchange,
  * subquery and adaptive stage reuse never merge two plans that differ
  * only in a literal. `toString` and `sql` are the literal's, so plans
  * print as they did.
  */
case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = value

  override def toString: String = Literal(value, dataType).toString
  override def sql: String = Literal(value, dataType).sql

  override def equals(other: Any): Boolean = other match {
    case p: ParamLiteral =>
      p.dataType == dataType && value.asInstanceOf[AnyRef].equals(p.value)
    case _ => false
  }
  override def hashCode: Int = Objects.hash(value.asInstanceOf[AnyRef], dataType)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param",
      v => s"$v = $boxed.${javaType}Value();", forceInline = true)
    ExprCode.forNonNullValue(JavaCode.variable(field, dataType))
  }
}

/** Replaces the literal operands of comparisons, arithmetic and IN lists
  * with [[ParamLiteral]]s in the physical plan, just before whole-stage
  * code generation, so generated classes depend on a plan's shape and
  * not on its constants.
  *
  * An allow-list of parents: only a direct operand of a
  * `BinaryComparison`, a `BinaryArithmetic` or an `In` value list, or a
  * result value of an `If` or `CaseWhen` (an UPDATE's `SET x = 3` plans
  * as one), is replaced. Arguments that must stay foldable (a `round`
  * scale, a LIKE or regex pattern, a format string, a `date_add` count)
  * have other parents and keep their `Literal`. NULLs stay literals;
  * strings and decimals already travel as references. An IN list the
  * optimizer turned into an `InSet` keeps Spark's code: for up to 400
  * integral or date values that is a `switch` over the values, which a
  * set read from references would replace with a boxed lookup per row.
  *
  * Scans and exchanges keep their expressions: a scan's data, partition
  * and pushed filters match on `Literal`, and an exchange's partitioning
  * and broadcast mode are what later planning compares against. The
  * logical and optimized plans are never touched.
  */
object ParameterizeLiterals extends Rule[SparkPlan] {

  private def parameterizable(e: Expression): Boolean = e match {
    case Literal(null, _) => false
    case Literal(_, BooleanType | ByteType | ShortType | IntegerType | LongType |
        FloatType | DoubleType | DateType | TimestampType | TimestampNTZType) => true
    case _ => false
  }

  private def param(e: Expression): Expression = e match {
    case l: Literal if parameterizable(l) => ParamLiteral(l.value, l.dataType)
    case other => other
  }

  private val operands: PartialFunction[Expression, Expression] = {
    case e @ (_: BinaryComparison | _: BinaryArithmetic)
        if e.children.exists(parameterizable) =>
      e.withNewChildren(e.children.map(param))
    case in: In if in.list.exists(parameterizable) =>
      in.copy(list = in.list.map(param))
    case i: If if parameterizable(i.trueValue) || parameterizable(i.falseValue) =>
      i.copy(trueValue = param(i.trueValue), falseValue = param(i.falseValue))
    case c: CaseWhen
        if c.branches.exists(b => parameterizable(b._2)) || c.elseValue.exists(parameterizable) =>
      CaseWhen(c.branches.map { case (p, v) => (p, param(v)) }, c.elseValue.map(param))
  }

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case p if !p.isInstanceOf[LeafExecNode] && !p.isInstanceOf[Exchange] =>
      p.transformExpressionsUp(operands)
  }
}

/** Runs [[ParameterizeLiterals]] where Spark applies columnar rules:
  * right before every `CollapseCodegenStages`, both when a query is
  * first prepared (with or without adaptive execution) and on each
  * stage adaptive execution creates after re-optimizing.
  */
object ParamLiteralsColumnarRule extends ColumnarRule {
  override def postColumnarTransitions: Rule[SparkPlan] = ParameterizeLiterals
}
