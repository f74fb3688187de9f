package graft.exec

import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LeafNode
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.Exchange
import graft.SparkSpec
import graft.text2sql.SqlDialect

/** The Spark jobs of each question shape the `ask` benchmark asks,
  * counted by [[JobSites]] over `Runner.resultJson` alone, over the
  * sf0.001 tables. Each question's inputs are small, so it runs as one
  * stage ([[GraftColumnBridge.planBySize]]): no exchange, no adaptive
  * plan, one job. A session whose
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes` or
  * `spark.sql.autoBroadcastJoinThreshold` is below the inputs runs the
  * same questions through adaptive execution, with one job per stage and
  * broadcast (24 over the nine shapes), and gives byte-identical
  * answers. */
class QuestionJobsSpec extends SparkSpec with AdaptiveSparkPlanHelper
    with org.scalatest.BeforeAndAfterAll {

  private def withViews(s: SparkSession): SparkSession = {
    Seq("region", "nation", "customer", "orders", "lineitem", "part").foreach(t =>
      s.read.parquet(s"$sfDir/$t.parquet").createOrReplaceTempView(t))
    s
  }

  override lazy val spark: SparkSession = withViews(SparkSpec.session.newSession())

  /** The same views in a session whose bound is below every input. */
  private lazy val above: SparkSession = {
    val s = withViews(SparkSpec.session.newSession())
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1024")
    s
  }

  private lazy val jobs = new JobSites(spark)
  override protected def afterAll(): Unit = {
    jobs.stop()
    super.afterAll()
  }

  /** The `ask` templates (perfbench's `gen.TEMPLATES`) with fixed
    * literals, as SQLite-dialect text, each with the jobs it runs under
    * adaptive execution. */
  private val questions = Seq(
    ("join + aggregate", 4) ->
      """SELECT n.n_name AS nation, COUNT(*) AS orders, SUM(o.o_totalprice) AS total
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE o.o_orderpriority = '1-URGENT' GROUP BY n.n_name
        |ORDER BY total DESC, nation LIMIT 5""".stripMargin,
    ("strftime", 2) ->
      """SELECT strftime('%Y', o_orderdate) AS yr, COUNT(*) AS n,
        |SUM(o_totalprice) AS revenue FROM orders WHERE o_orderstatus = 'F'
        |GROUP BY yr ORDER BY n DESC, yr LIMIT 5""".stripMargin,
    ("date months", 2) ->
      """SELECT COUNT(*) AS n, SUM(l_quantity) AS qty FROM lineitem
        |WHERE l_shipdate >= date('1995-03-01')
        |AND l_shipdate < date('1995-03-01', '+7 months')""".stripMargin,
    ("iif", 2) ->
      """SELECT c_mktsegment AS seg, SUM(iif(c_acctbal > 4000, 1, 0)) AS rich,
        |COUNT(*) AS n FROM customer GROUP BY c_mktsegment ORDER BY seg""".stripMargin,
    ("group_concat", 3) ->
      """SELECT r.r_name AS region, group_concat(n.n_name) AS nations_set,
        |COUNT(*) AS n FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_regionkey <= 3 GROUP BY r.r_name ORDER BY region LIMIT 5""".stripMargin,
    ("LIKE", 2) ->
      """SELECT p_brand AS brand, COUNT(*) AS n, AVG(p_retailprice) AS avg_price
        |FROM part WHERE p_name LIKE '%blue%' GROUP BY p_brand
        |ORDER BY n DESC, brand LIMIT 5""".stripMargin,
    ("EXISTS", 3) ->
      """SELECT COUNT(*) AS n FROM customer c WHERE c.c_nationkey = 7 AND EXISTS
        |(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |AND o.o_totalprice > 100000)""".stripMargin,
    ("window rank()", 2) ->
      """SELECT o_custkey AS cust, o_orderkey AS ok, o_totalprice AS price,
        |rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |FROM orders WHERE o_custkey BETWEEN 40 AND 43 ORDER BY cust, rk LIMIT 5""".stripMargin,
    ("CTE", 4) ->
      """WITH big AS (SELECT l_orderkey, SUM(l_quantity) AS q FROM lineitem
        |GROUP BY l_orderkey HAVING SUM(l_quantity) > 150)
        |SELECT o.o_orderpriority AS prio, COUNT(*) AS n
        |FROM big JOIN orders o ON o.o_orderkey = big.l_orderkey
        |GROUP BY prio ORDER BY prio LIMIT 5""".stripMargin)

  private def question(s: SparkSession, q: String): DataFrame =
    Runner.runSql(s, SqlDialect.translate(q))

  /** The plan `Runner.resultJson` runs for question `q`. */
  private def executedPlan(s: SparkSession, q: String) =
    GraftColumnBridge.planBySize(question(s, q).limit(5)).queryExecution.executedPlan

  /** The answer and the jobs `Runner.resultJson` issued for it. */
  private def answer(s: SparkSession, q: String): (Seq[String], Int) = {
    val df = question(s, q)
    val (rows, sites) = jobs.during(Runner.resultJson(df))
    (rows, sites.size)
  }

  for (((shape, adaptiveJobs), q) <- questions)
    test(s"$shape: one stage and one job; above the bound, the adaptive plan and answer") {
      val plan = executedPlan(spark, q)
      assert(!plan.isInstanceOf[AdaptiveSparkPlanExec], plan.toString)
      assert(collectWithSubqueries(plan) { case e: Exchange => e }.isEmpty, plan.toString)
      assert(executedPlan(above, q).isInstanceOf[AdaptiveSparkPlanExec])
      val (small, smallJobs) = answer(spark, q)
      val (adaptive, jobsAbove) = answer(above, q)
      assert(smallJobs == 1)
      assert(jobsAbove == adaptiveJobs)
      assert(small.nonEmpty)
      assert(small == adaptive)
    }

  test("inputs exactly at spark.sql.autoBroadcastJoinThreshold run as one stage; " +
      "one byte over, adaptively") {
    val q = questions.head._2
    val inputs = question(spark, q).limit(5).queryExecution.optimizedPlan
      .collectWithSubqueries { case l: LeafNode => l.stats.sizeInBytes }.sum
    def withThreshold(bytes: BigInt): SparkSession = {
      val s = withViews(SparkSpec.session.newSession())
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", bytes.toString)
      s
    }
    val (at, over) = (withThreshold(inputs), withThreshold(inputs - 1))
    assert(!executedPlan(at, q).isInstanceOf[AdaptiveSparkPlanExec])
    assert(executedPlan(over, q).isInstanceOf[AdaptiveSparkPlanExec])
    val (atRows, atJobs) = answer(at, q)
    assert(atJobs == 1)
    assert(atRows == answer(over, q)._1)
  }

  test("a join whose estimated output passes spark.sql.maxSinglePartitionBytes " +
      "still runs as one stage") {
    // Spark estimates a join's output as the product of its inputs' sizes:
    // at sf0.01, orders x customer estimates far past the default 128 MiB,
    // and EnsureRequirements would re-shuffle that one-partition side
    val s = SparkSpec.session.newSession()
    Seq("nation", "customer", "orders").foreach(t =>
      s.read.parquet(s"${sfDir.stripSuffix("sf0.001")}sf0.01/$t.parquet")
        .createOrReplaceTempView(t))
    val q = questions.head._2
    val plan = executedPlan(s, q)
    assert(!plan.isInstanceOf[AdaptiveSparkPlanExec], plan.toString)
    assert(collectWithSubqueries(plan) { case e: Exchange => e }.isEmpty, plan.toString)
    val (rows, sites) = jobs.during(Runner.resultJson(question(s, q)))
    assert(sites.size == 1)
    assert(rows.size == 5)
  }
}
