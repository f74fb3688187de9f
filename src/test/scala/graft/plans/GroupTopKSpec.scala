package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The custom group-wise top-k operator: result parity with the
  * ROW_NUMBER window formulation, tie determinism, and the
  * partial/exchange/final plan shape that makes it scale.
  */
class GroupTopKSpec extends SparkSpec {
  import spark.implicits._

  test("matches the window row_number formulation row-for-row") {
    def orders(s: SparkSession) = s.read.parquet(s"$sfDir/orders.parquet")
      .select("o_custkey", "o_orderkey", "o_totalprice")
    val got = GroupTopKOps.topK(orders(spark), Seq("o_custkey"),
        Seq("o_totalprice" -> true, "o_orderkey" -> false), 3)
      .orderBy($"o_custkey", $"o_totalprice".desc, $"o_orderkey")
      .collect()
    val w = Window.partitionBy("o_custkey")
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
    // the window formulation on a session without the extensions
    val want = orders(SparkSpec.plain).withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3).drop("rn")
      .orderBy($"o_custkey", $"o_totalprice".desc, $"o_orderkey")
      .collect()
    assert(got.length == want.length)
    assert(got.sameElements(want))
  }

  test("plans as partial heaps, one exchange, final heaps - no sort, no window") {
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_custkey", "o_orderkey", "o_totalprice")
    val plan = GroupTopKOps.topK(o, Seq("o_custkey"),
      Seq("o_totalprice" -> true), 3).queryExecution.executedPlan.toString
    assert(plan.contains("GroupTopKPartial"), s"partial missing:\n$plan")
    assert(plan.contains("GroupTopKFinal"), s"final missing:\n$plan")
    assert("Exchange".r.findAllIn(plan).length == 1, s"one exchange:\n$plan")
    assert(!plan.contains("Window") && !plan.contains("Sort"),
      s"no sort/window in the topk itself:\n$plan")
  }

  test("ties at the boundary resolve by the full selection order") {
    // three rows tie on v; the unique id breaks the tie
    val df = Seq((1, 10.0, 3L), (1, 10.0, 1L), (1, 10.0, 2L), (1, 5.0, 4L),
      (2, 7.0, 5L)).toDF("g", "v", "id").repartition(3)
    val got = GroupTopKOps.topK(df, Seq("g"), Seq("v" -> true, "id" -> false), 2)
      .orderBy("g", "id").as[(Int, Double, Long)].collect()
    assert(got.toSeq == Seq((1, 10.0, 1L), (1, 10.0, 2L), (2, 7.0, 5L)))
  }

  test("partial pass bounds shuffle volume to k rows per group per mapper") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val o = spark.read.parquet(s"$sfDir/orders.parquet")
        .select("o_orderstatus", "o_orderkey", "o_totalprice")
        .repartition(4)
      val nInput = o.count()
      val df = GroupTopKOps.topK(o, Seq("o_orderstatus"),
        Seq("o_totalprice" -> true, "o_orderkey" -> false), 3)
      df.collect()
      val written = df.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          e.metrics("shuffleRecordsWritten").value
      }
      // two exchanges: repartition(4) carries the full input; the topk
      // exchange carries <= k * groups * mappers rows (3 statuses)
      assert(written.contains(nInput), s"repartition volume: $written")
      assert(written.exists(_ <= 3L * 3 * 4),
        s"topk exchange not bounded: $written (input $nInput)")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("groups smaller than k pass through whole; nulls group together") {
    val df = Seq((Some(1), 1.0), (None, 2.0), (None, 3.0), (None, 4.0))
      .toDF("g", "v").repartition(2)
    val got = GroupTopKOps.topK(df, Seq("g"), Seq("v" -> true), 2)
      .orderBy($"g".asc_nulls_first, $"v".desc)
      .as[(Option[Int], Double)].collect()
    assert(got.toSeq == Seq((None, 4.0), (None, 3.0), (Some(1), 1.0)))
  }
}
