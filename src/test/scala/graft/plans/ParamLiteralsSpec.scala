package graft.plans

import graft.SparkSpec
import graft.exec.Runner
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Literal parameterization of generated code ([[ParameterizeLiterals]]):
  * a question that differs from an earlier one only in its numeric or
  * date literals compiles no new class, plans that differ only in a
  * literal are never reused for each other, and every edge value gives
  * the answer the same query gives with the rule off.
  *
  * "Rule on" is a session of the shared spec session, which
  * `GraftSession.create` builds with [[GraftExtensions]]; "rule off" is
  * `SparkSpec.plain`, which has no extensions. Both read the same
  * parquet table.
  */
class ParamLiteralsSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  private val dir = "target/graft_tmp/param_literals"

  private lazy val on: SparkSession = {
    // a session of its own, so its codegen confs stay out of the shared one
    val s = spark.newSession()
    // generated code that fails to compile raises instead of silently
    // falling back to interpreted evaluation
    s.conf.set("spark.sql.codegen.fallback", "false")
    s.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    s
  }

  private def off: SparkSession = SparkSpec.plain

  private lazy val tables: Unit = {
    spark.sql(
      """SELECT id AS k, id % 7 AS g, CAST(id % 100 AS INT) AS x,
        |       id * 0.5D AS v, CAST(id % 13 AS DECIMAL(10, 2)) AS price,
        |       CASE WHEN id % 50 = 0 THEN CAST('NaN' AS DOUBLE)
        |            WHEN id % 50 = 1 THEN -0.0D ELSE id * 0.25D END AS f,
        |       CASE WHEN id = 3 THEN -9223372036854775808L
        |            WHEN id = 4 THEN 9223372036854775807L ELSE id END AS big,
        |       CASE WHEN id = 5 THEN -2147483648 ELSE CAST(id AS INT) END AS small,
        |       date_add(DATE '1968-01-01', CAST(id % 2000 AS INT)) AS d,
        |       timestamp_micros(-86400000000L + id * 1000001L) AS ts
        |FROM range(0, 4000, 1, 4)""".stripMargin)
      .write.mode("overwrite").parquet(s"$dir/t")
    spark.sql("SELECT id AS k, id % 5 AS r FROM range(0, 300, 1, 2)")
      .write.mode("overwrite").parquet(s"$dir/u")
  }

  private def views(s: SparkSession): SparkSession = {
    tables
    s.read.parquet(s"$dir/t").createOrReplaceTempView("t")
    s.read.parquet(s"$dir/u").createOrReplaceTempView("u")
    s
  }

  private def compiled(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Classes compiled by one `Runner.runSql` + `resultJson` call. */
  private def compiles(s: SparkSession, sql: String): (Long, Seq[String]) = {
    val before = compiled()
    val rows = Runner.resultJson(Runner.runSql(s, sql), 50)
    (compiled() - before, rows)
  }

  private def expressions(df: DataFrame): Seq[Expression] = {
    df.collect()
    collectWithSubqueries(df.queryExecution.executedPlan) { case p => p }
      .flatMap(_.expressions.flatMap(_.collect { case e => e }))
  }

  private def params(df: DataFrame): Int =
    expressions(df).count(_.isInstanceOf[ParamLiteral])

  test("a question differing only in literals compiles 0 classes: join + aggregate under AQE") {
    val s = views(on)
    def q(x: Int, day: String, m: Double) =
      s"""SELECT t.g AS g, COUNT(*) AS n, SUM(t.v * $m) AS s FROM t JOIN u ON t.k = u.k
         |WHERE t.x > $x AND t.d >= DATE '$day' AND u.r <> ${x % 5}
         |GROUP BY t.g ORDER BY g""".stripMargin
    val (first, _) = compiles(s, q(10, "1968-02-01", 1.5))
    assert(first > 0, "the first question compiles its classes")
    val df = Runner.runSql(s, q(20, "1968-03-15", 2.5))
    assert(df.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec])
    val (second, rows) = compiles(s, q(20, "1968-03-15", 2.5))
    assert(second == 0, "the second question reused every generated class")
    assert(rows == Runner.resultJson(views(off).sql(q(20, "1968-03-15", 2.5)), 50))
    assert(params(Runner.runSql(s, q(30, "1968-04-01", 3.5))) > 0)
  }

  test("a question differing only in literals compiles 0 classes: join + aggregate, " +
      "one stage and above the bound") {
    // the same rule-on session confs, with an adaptive partition size
    // below the tables, so resultJson keeps the adaptive plan
    val above = spark.newSession()
    above.conf.set("spark.sql.codegen.fallback", "false")
    above.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    above.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1024")
    def q(x: Int, day: String, m: Double) =
      s"""SELECT t.g AS g, COUNT(*) AS n, SUM(t.v * $m) AS s FROM t JOIN u ON t.k = u.k
         |WHERE t.x > $x AND t.d >= DATE '$day' AND u.r <> ${x % 5}
         |GROUP BY t.g ORDER BY g""".stripMargin
    for ((s, oneStage) <- Seq(views(on) -> true, views(above) -> false)) {
      compiles(s, q(12, "1968-02-11", 1.25))
      val top = Runner.runSql(s, q(22, "1968-03-21", 2.25)).limit(50)
      assert(org.apache.spark.sql.GraftColumnBridge.planBySize(top).queryExecution
        .executedPlan.isInstanceOf[AdaptiveSparkPlanExec] != oneStage)
      val (second, rows) = compiles(s, q(22, "1968-03-21", 2.25))
      assert(second == 0, s"one stage: $oneStage")
      assert(rows == Runner.resultJson(views(off).sql(q(22, "1968-03-21", 2.25)), 50))
    }
  }

  test("a question differing only in literals compiles 0 classes: plan with no exchange") {
    val s = views(on)
    def q(lo: Long, hi: Long, ts: String) =
      s"""SELECT k, x * 3 + $lo AS y, v FROM t
         |WHERE k BETWEEN $lo AND $hi AND ts < TIMESTAMP '$ts'""".stripMargin
    compiles(s, q(5, 40, "1969-12-31 00:00:30"))
    val df = Runner.runSql(s, q(7, 60, "1969-12-31 00:00:45"))
    assert(!df.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec])
    val (second, rows) = compiles(s, q(7, 60, "1969-12-31 00:00:45"))
    assert(second == 0)
    assert(rows == Runner.resultJson(views(off).sql(q(7, 60, "1969-12-31 00:00:45")), 50))
  }

  test("an UPDATE differing only in literals compiles 0 classes") {
    val s = on
    Runner.runSql(s, "CREATE TABLE pl_upd (k INTEGER PRIMARY KEY, x INTEGER)")
    Runner.runSql(s, "INSERT INTO pl_upd VALUES (1, 10), (2, 20), (3, 30), (7, 70)")
    compiles(s, "UPDATE pl_upd SET x = x + 1 WHERE k = 2")
    val (second, _) = compiles(s, "UPDATE pl_upd SET x = x + 5 WHERE k = 7")
    assert(second == 0)
    // a constant assignment plans as a CASE WHEN value
    compiles(s, "UPDATE pl_upd SET x = 31 WHERE k = 3")
    val (constant, _) = compiles(s, "UPDATE pl_upd SET x = 12 WHERE k = 1")
    assert(constant == 0)
    assert(Runner.resultJson(Runner.runSql(s, "SELECT k, x FROM pl_upd ORDER BY k"), 10) ==
      Seq("""{"k":1,"x":12}""", """{"k":2,"x":21}""", """{"k":3,"x":31}""",
        """{"k":7,"x":75}"""))
  }

  test("CTE arms and subqueries differing only in a literal are not reused for each other") {
    val s = views(on)
    val arms =
      """WITH a AS (SELECT g, SUM(v) AS s FROM t WHERE x > 10 GROUP BY g),
        |     b AS (SELECT g, SUM(v) AS s FROM t WHERE x > 20 GROUP BY g)
        |SELECT a.g, a.s AS sa, b.s AS sb FROM a JOIN b ON a.g = b.g ORDER BY a.g""".stripMargin
    val scalar =
      """SELECT (SELECT MAX(v) FROM t WHERE x < 10) AS lo,
        |       (SELECT MAX(v) FROM t WHERE x < 90) AS hi""".stripMargin
    for (q <- Seq(arms, scalar)) {
      val df = s.sql(q)
      assert(df.collect().toSeq == views(off).sql(q).collect().toSeq, q)
      val reused = collectWithSubqueries(df.queryExecution.executedPlan) {
        case r: ReusedExchangeExec => r
      }
      assert(reused.isEmpty, df.queryExecution.executedPlan.toString)
      assert(params(df) > 0)
    }
    val lo = s.sql(scalar).collect().head
    assert(lo.getDouble(0) < lo.getDouble(1))
    // arms equal in every literal still share one exchange
    val same = s.sql(arms.replace("x > 20", "x > 10"))
    same.collect()
    assert(collectWithSubqueries(same.queryExecution.executedPlan) {
      case r: ReusedExchangeExec => r
    }.nonEmpty)
  }

  test("edge literal values answer as with the rule off") {
    val s = views(on)
    val qs = Seq(
      "SELECT k, f FROM t WHERE f = CAST('NaN' AS DOUBLE) ORDER BY k",
      "SELECT k, f FROM t WHERE f <> CAST('NaN' AS DOUBLE) AND k < 60 ORDER BY k",
      "SELECT k, f * -0.0D AS z, f + -0.0D AS p FROM t WHERE k < 60 ORDER BY k",
      "SELECT k, f FROM t WHERE f = -0.0D ORDER BY k",
      "SELECT k, big FROM t WHERE big = -9223372036854775808L ORDER BY k",
      "SELECT k, big FROM t WHERE big > -9223372036854775808L AND k < 8 ORDER BY k",
      "SELECT k, small FROM t WHERE small = -2147483648 ORDER BY k",
      "SELECT k, small + -2147483648 AS w FROM t WHERE k < 3 ORDER BY k",
      "SELECT k, d FROM t WHERE d < DATE '1968-01-05' OR d = DATE '1969-07-20' ORDER BY k",
      "SELECT k, ts FROM t WHERE ts >= TIMESTAMP '1969-12-31 00:00:01.000001' " +
        "AND ts <= TIMESTAMP '1969-12-31 00:00:05.000005' ORDER BY k",
      "SELECT k, ts FROM t WHERE ts = TIMESTAMP '1969-12-31 00:00:03.000003' ORDER BY k",
      "SELECT k, v FROM t WHERE v IN (1.5D, NULL, 3.0D) ORDER BY k",
      "SELECT k, price FROM t WHERE price > 11.50BD AND k < 60 ORDER BY k")
    for (q <- qs) {
      val got = Runner.resultJson(s.sql(q), 100)
      val want = Runner.resultJson(views(off).sql(q), 100)
      assert(got == want, q)
      assert(got.nonEmpty, q)
    }
    // a NULL stays a literal beside its parameterized neighbours; a
    // decimal is already a reference and keeps its literal
    val in = expressions(s.sql(qs(11)))
    assert(in.exists { case Literal(null, _) => true; case _ => false })
    assert(in.exists(_.isInstanceOf[ParamLiteral]))
    val dec = expressions(s.sql(qs.last))
    assert(dec.exists { case Literal(v, t) => v != null && t.typeName.startsWith("decimal")
      case _ => false })
  }
}
