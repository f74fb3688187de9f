package graft.plans

import org.apache.spark.sql.{GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Cast, CheckOverflowInTableInsert,
  EvalMode, Expression, NumericEvalContext}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** SQLite's evaluation mode for one statement: `1/0` and an unparseable
  * CAST are NULL, not Spark 4's ANSI runtime errors.
  *
  * [[legacy]] analyzes a statement under a conf scope of its own thread
  * with ANSI evaluation off; the session's conf is never written, so
  * other threads of the session keep ANSI. That covers what Spark builds
  * from SQL text, but Spark fixes an expression's mode when it builds
  * the expression, from the conf it reads then: an `EvalMode` argument
  * (`Cast`, `Sum`, `Average`, `UnaryMinus`, …) or a `NumericEvalContext`
  * one (the binary arithmetic). A DataFrame-API column is converted
  * under the session's own conf, and a view's body is analyzed under the
  * conf the view captured from the session. So inside the scope a write
  * path's `expr(…)` CHECK, DEFAULT or generated-column text, a
  * `Column.cast`, or a view would still divide and cast under ANSI. This
  * rule puts those into legacy mode. It runs once after resolution, and
  * only on a thread inside [[legacy]], so analysis anywhere else is
  * Spark's own.
  *
  * A store-assignment cast of an INSERT into a catalog table is left as
  * Spark builds it: Spark makes it ANSI on purpose under
  * `storeAssignmentPolicy=ANSI`, whatever `spark.sql.ansi.enabled` says,
  * so an out-of-range value raises `CAST_OVERFLOW_IN_TABLE_INSERT`.
  */
object StatementEvalMode extends Rule[LogicalPlan] {

  private val inStatement = ThreadLocal.withInitial[java.lang.Boolean](() => false)

  /** Run `body`, which analyzes one statement, in SQLite's evaluation
    * mode. */
  def legacy[T](spark: SparkSession)(body: => T): T =
    GraftColumnBridge.withConf(spark, "spark.sql.ansi.enabled" -> "false") {
      val outer = inStatement.get
      inStatement.set(true)
      try body finally inStatement.set(outer)
    }

  def apply(plan: LogicalPlan): LogicalPlan =
    if (!inStatement.get) plan
    else plan.transformDownWithSubqueries { case p => p.mapExpressions(toLegacy) }

  private def toLegacy(e: Expression): Expression = e match {
    case _: CheckOverflowInTableInsert => e
    case c: Cast if c.getTagValue(Cast.BY_TABLE_INSERTION).isDefined =>
      c.mapChildren(toLegacy)
    case _ =>
      val copy = e.mapChildren(toLegacy)
      if (copy.productIterator.exists(legacyArg(_).isDefined))
        copy.makeCopy(copy.productIterator
          .map(a => legacyArg(a).getOrElse(a).asInstanceOf[AnyRef]).toArray)
      else copy
  }

  /** The legacy-mode twin of an ANSI-mode argument. */
  private def legacyArg(arg: Any): Option[Any] = arg match {
    case EvalMode.ANSI => Some(EvalMode.LEGACY)
    case c: NumericEvalContext if c.evalMode == EvalMode.ANSI =>
      Some(c.copy(evalMode = EvalMode.LEGACY))
    case _ => None
  }
}
