package org.apache.spark.sql

import java.io.CharArrayWriter

import org.apache.spark.sql.catalyst.expressions.{Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.json.{JacksonGenerator, JSONOptions}
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.logical.{CommandResult, Filter,
  HintInfo, Join, JoinHint, LeafNode, LocalRelation,
  LogicalPlan, NO_BROADCAST_HASH, Project, Repartition, SHUFFLE_HASH}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.InsertAdaptiveSparkPlan
import org.apache.spark.sql.internal.SQLConf

/** Bridge into private[sql] APIs: the Column↔Expression converters, so
  * custom Catalyst expressions (graft.functions) can expose a Column
  * API, the JSON row rendering of `Dataset.toJSON`, the statement-scoped
  * conf and the one-stage plan of a small question.
  * Lives in the org.apache.spark.sql package solely for access scope —
  * the standard pattern for Spark-native extension libraries.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Build a DataFrame over a custom logical plan (graft.plans nodes). */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The lines `df.toJSON` would give for `rows`, rows collected from
    * `df`: the same encoder, options and generator as `Dataset.toJSON`,
    * applied on the driver instead of in a `mapPartitions` stage. */
  def jsonLines(df: DataFrame, rows: Array[Row]): Seq[String] = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val toRow = ds.exprEnc.createSerializer()
    val writer = new CharArrayWriter()
    val gen = new JacksonGenerator(ds.exprEnc.schema, writer, new JSONOptions(
      Map.empty[String, String], ds.sparkSession.sessionState.conf.sessionLocalTimeZone))
    try rows.toIndexedSeq.map { r =>
      writer.reset()
      gen.write(toRow(r))
      gen.flush()
      writer.toString
    } finally gen.close()
  }

  /** Run `body` with `settings` applied to a clone of the session's conf.
    * The clone is what `SQLConf.get` returns on this thread until `body`
    * returns; the session's own conf never changes, so other threads of
    * the session do not see the settings.
    *
    * What reads the scope: the parser, the analyzer, the optimizer and
    * every physical preparation rule (`EnsureRequirements`, codegen)
    * that runs on this thread. What does not:
    *  - the planner's strategies, which read the session conf through
    *    `SparkPlanner.conf` (so `spark.sql.autoBroadcastJoinThreshold`
    *    set here does not stop a broadcast join);
    *  - the subquery, broadcast and adaptive stage threads, which
    *    `SQLExecution.withThreadLocalCaptured` starts without this
    *    thread's conf;
    *  - the tasks, which read the confs the execution propagates from
    *    the session conf.
    * A setting that must hold in those places is baked into the plan
    * while `body` analyzes or plans it (the ANSI evaluation mode of an
    * expression is fixed at analysis). */
  def withConf[T](spark: SparkSession, settings: (String, String)*)(body: => T): T = {
    val conf = spark.asInstanceOf[classic.SparkSession].sessionState.conf.clone()
    settings.foreach { case (k, v) => conf.setConfString(k, v) }
    SQLConf.withExistingConf(conf)(body)
  }

  /** `df` under a query execution that plans it by the size of its
    * inputs. When they are small — the summed `sizeInBytes` of every leaf
    * of the optimized plan, subquery plans included, is at most both the
    * session's `spark.sql.autoBroadcastJoinThreshold` and its
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes` — the plan runs as
    * one stage. Below the first, Spark would broadcast every join side
    * anyway, so it would hold each in memory as the one-stage plan's hash
    * joins do; below the second, AQE would coalesce the plan's shuffles
    * into one partition. Here the plan has no shuffle to coalesce:
    *  - every scan (a leaf under its projections and filters, so pushed
    *    filters stay in the scan) and both sides of every join are
    *    coalesced to one partition, so the distributions that joins,
    *    aggregates, windows and sorts require are already satisfied and
    *    `EnsureRequirements` adds no exchange;
    *  - every join carries a hint, so the planner builds no broadcast (a
    *    join of two single partitions needs none): an equi-join a
    *    shuffled-hash hint, so it hashes the side a broadcast would have
    *    and streams the other in scan order, as the broadcast join does
    *    (order-sensitive answers such as a sum of doubles come out the
    *    same); any other join a no-broadcast hint;
    *  - the physical preparations are the session's less
    *    `InsertAdaptiveSparkPlan`, so no `AdaptiveSparkPlanExec` splits
    *    the plan into stage jobs; the session's columnar rules
    *    ([[graft.plans.ParameterizeLiterals]]) still run. They run under
    *    a statement conf: `spark.sql.maxSinglePartitionBytes` unbounded,
    *    since `EnsureRequirements` re-shuffles a one-partition join side
    *    whose estimated size passes it, and Spark estimates a join's
    *    output as the product of its inputs' sizes (two 1 MB inputs
    *    estimate 1 TB), while the inputs' real sum is already bounded
    *    here; and one shuffle partition, so an operator that still needs
    *    an exchange (a union's output, an expand) gets a one-partition
    *    one.
    * A larger or streaming plan, or one that reads only rows held on the
    * driver (a `LocalRelation` or a command's result, which Spark answers
    * with no job), is planned exactly as Spark plans it. Either way the
    * plan is optimized once, and the execution's tracker times the
    * analysis, optimization and planning as Spark's own would. */
  def planBySize(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    new classic.Dataset[Row](
      new SizedExecution(ds.sparkSession, ds.queryExecution.analyzed), ds.exprEnc)
  }

  /** Whether `plan`'s inputs are small enough for one stage
    * ([[planBySize]]). A negative broadcast threshold (broadcast off)
    * leaves no plan small. */
  private def small(session: classic.SparkSession, plan: LogicalPlan): Boolean = {
    val leaves = plan.collectWithSubqueries { case l: LeafNode => l }
    val onDriver = leaves.forall {
      case _: LocalRelation | _: CommandResult => true
      case _ => false
    }
    val conf = session.sessionState.conf
    val bound = conf.autoBroadcastJoinThreshold min
      conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    !plan.isStreaming && !onDriver && leaves.map(_.stats.sizeInBytes).sum <= BigInt(bound)
  }

  /** [[planBySize]]'s one-stage rewrite of an optimized plan and of each
    * of its subquery plans. */
  private def singlePartition(plan: LogicalPlan): LogicalPlan = {
    def scan(p: LogicalPlan): Boolean = p match {
      case _: LeafNode => true
      case Project(_, child) => scan(child)
      case Filter(_, child) => scan(child)
      case _ => false
    }
    def one(p: LogicalPlan): LogicalPlan = p match {
      case r: Repartition => r
      case _ => Repartition(1, shuffle = false, p)
    }
    def rewrite(p: LogicalPlan): LogicalPlan = p match {
      case _ if scan(p) => one(p)
      // a join's output partitioning is the collection of its sides',
      // which EnsureRequirements does not take for one partition when it
      // pairs the sides of the next join, so each side is one exactly
      case j: Join =>
        val hint = Some(HintInfo(Some(
          if (ExtractEquiJoinKeys.unapply(j).isDefined) SHUFFLE_HASH
          else NO_BROADCAST_HASH)))
        j.copy(left = one(rewrite(j.left)), right = one(rewrite(j.right)),
          hint = JoinHint(hint, hint))
      case _ => p.mapChildren(rewrite)
    }
    rewrite(plan).transformAllExpressions {
      case s: SubqueryExpression => s.withNewPlan(singlePartition(s.plan))
    }
  }

  /** [[planBySize]]'s query execution: Spark's own, or, when the
    * optimized plan is small, its one-stage rewrite prepared by
    * the session's rules less `InsertAdaptiveSparkPlan`, under the
    * statement conf [[planBySize]] gives. */
  private final class SizedExecution(session: classic.SparkSession, analyzed: LogicalPlan)
      extends QueryExecution(session, analyzed) {
    private lazy val oneStage: Boolean = small(sparkSession, super.optimizedPlan)
    private lazy val oneStagePlan = singlePartition(super.optimizedPlan)
    override def optimizedPlan: LogicalPlan =
      if (oneStage) oneStagePlan else super.optimizedPlan
    override def preparations: Seq[Rule[SparkPlan]] =
      if (oneStage) super.preparations.filterNot(_.isInstanceOf[InsertAdaptiveSparkPlan])
      else super.preparations
    override def executedPlan: SparkPlan =
      if (oneStage) withConf(sparkSession,
        SQLConf.MAX_SINGLE_PARTITION_BYTES.key -> Long.MaxValue.toString,
        SQLConf.SHUFFLE_PARTITIONS.key -> "1")(super.executedPlan)
      else super.executedPlan
  }
}
