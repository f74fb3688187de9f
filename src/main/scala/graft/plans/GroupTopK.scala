package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

import scala.jdk.CollectionConverters._

/** Group-wise top-k as a whole-operator extension — the one operator
  * shape in this library that composition can't plan well.
  *
  * The DataFrame spelling (`row_number().over(partitionBy(g).orderBy(o))
  * <= k`) fully sorts every shuffle partition and ships EVERY row of
  * every group through the exchange. This operator plans instead as
  *
  *   GroupTopKExec(final)            — k rows/group, after shuffle
  *     ShuffleExchange(hash(g))      — carries ≤ k rows/group/mapper
  *       GroupTopKExec(partial)      — bounded heaps, map-side
  *         <child>
  *
  * the aggregation-style partial/final split: each mapper keeps a
  * k-bounded heap per group (O(n log k), no sort), so shuffle volume
  * drops from n to ≤ k·groups·mappers — at 100 TB the difference
  * between shuffling the corpus and shuffling a sample. State is
  * groups-per-partition × k rows and does NOT spill (unlike Spark's
  * hash aggregate): the operator targets top-k over bounded-to-
  * moderate group cardinality (per-language, per-source, per-customer
  * slices); for billions of distinct groups size partitions so
  * groups/partition × k × rowSize fits the executor, or fall back to
  * the window formulation, which sorts but spills.
  * Selection order is total (caller's sort key + any
  * unique tiebreaker), so results are deterministic and match the
  * ROW_NUMBER formulation row-for-row — the DuckDB oracle checks
  * exactly that.
  *
  * Wiring: [[GraftExtensions]] injects [[GroupTopKStrategy]] when the
  * session is built; [[GroupTopKOps.topK]] raises on a session built
  * without it.
  */
case class GroupTopK(groupExprs: Seq[Expression], order: Seq[SortOrder],
                     k: Int, child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"k must be positive, got $k")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): GroupTopK =
    copy(child = newChild)
}

case class GroupTopKExec(groupExprs: Seq[Expression], order: Seq[SortOrder],
                         k: Int, partial: Boolean, child: SparkPlan)
    extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def nodeName: String =
    if (partial) "GroupTopKPartial" else "GroupTopKFinal"

  // the partial runs wherever the data already is; the final requires
  // co-location by group key (EnsureRequirements inserts the hash
  // exchange — or elides it when the child is already clustered right)
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) Seq(UnspecifiedDistribution)
    else Seq(ClusteredDistribution(groupExprs))

  override def outputPartitioning: Partitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    // hoist into locals: the task closure must not drag `this` (whole
    // plan subtree) to the executors, and orderings/projections are
    // instantiated per-partition from serializable recipes
    val out = child.output
    val gExprs = groupExprs
    val ord = new LazilyGeneratedOrdering(order, out)
    val kk = k
    child.execute().mapPartitions ({ iter =>
      val keyProj = UnsafeProjection.create(gExprs, out)
      val toUnsafe = UnsafeProjection.create(out.map(e => e: Expression), out)
      // max-heap under the selection order: peek() = worst row kept,
      // so a better incoming row evicts it in O(log k)
      val worstFirst = new java.util.Comparator[UnsafeRow] {
        override def compare(a: UnsafeRow, b: UnsafeRow): Int = ord.compare(b, a)
      }
      val heaps = scala.collection.mutable.HashMap.empty[UnsafeRow, java.util.PriorityQueue[UnsafeRow]]
      while (iter.hasNext) {
        val row = iter.next()
        val key = keyProj(row)
        heaps.get(key) match {
          case Some(heap) =>
            if (heap.size < kk) heap.add(toUnsafe(row).copy())
            else if (ord.compare(toUnsafe(row), heap.peek()) < 0) {
              heap.poll(); heap.add(toUnsafe(row).copy())
            }
          case None =>
            val heap = new java.util.PriorityQueue[UnsafeRow](kk, worstFirst)
            heap.add(toUnsafe(row).copy())
            heaps.put(key.copy(), heap)
        }
      }
      heaps.valuesIterator.flatMap(_.iterator.asScala)
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): GroupTopKExec =
    copy(child = newChild)
}

object GroupTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GroupTopK(g, o, k, child) =>
      GroupTopKExec(g, o, k, partial = false,
        GroupTopKExec(g, o, k, partial = true, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** Front door: `GroupTopKOps.topK(df, groupCols, order, k)` where
  * `order` is (columnName, descending?) pairs. Names resolve against
  * the analyzed child immediately, so the custom node enters the plan
  * fully resolved. The selection order should be TOTAL within a group
  * (append a unique tiebreaker) for deterministic results.
  */
object GroupTopKOps {
  def topK(df: DataFrame, groupCols: Seq[String],
           order: Seq[(String, Boolean)], k: Int): DataFrame = {
    GraftExtensions.require(df.sparkSession)
    val child = df.queryExecution.analyzed
    val resolver = df.sparkSession.sessionState.analyzer.resolver
    def attr(n: String): Attribute = child.output
      .find(a => resolver(a.name, n))
      .getOrElse(throw new IllegalArgumentException(
        s"column '$n' not in ${child.output.map(_.name).mkString(", ")}"))
    val so = order.map { case (n, desc) =>
      SortOrder(attr(n), if (desc) Descending else Ascending) }
    GraftColumnBridge.ofRows(df.sparkSession,
      GroupTopK(groupCols.map(attr(_): Expression), so, k, child))
  }
}
