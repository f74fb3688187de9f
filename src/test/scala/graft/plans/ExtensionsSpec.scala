package graft.plans

import graft.{SparkEntry, SparkSpec}
import graft.exec.Runner
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** The SparkSessionExtensions surface: SQLite-dialect functions as
  * native Catalyst builders, the regex-prefix pushdown rule, and
  * [[GraftExtensions]] as the only way they enter a session.
  */
class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("a session built without the extensions gets a targeted error") {
    val plain = SparkSpec.plain
    val errors = Seq(
      intercept[IllegalStateException](Runner.runSql(plain, "SELECT 1")),
      intercept[IllegalStateException](GroupTopKOps.topK(
        plain.range(3).toDF(), Seq("id"), Seq("id" -> true), 1)))
    for (e <- errors) {
      assert(e.getMessage.contains("graft.GraftSession.create"), e.getMessage)
      assert(e.getMessage.contains(
        "spark.sql.extensions=graft.plans.GraftExtensions"), e.getMessage)
    }
    assert(!plain.sessionState.functionRegistry.functionExists(
      FunctionIdentifier("sqlite_typeof")), "the check registers nothing")
  }

  test("keys run on the injected rules and leave the session's experimental rules empty") {
    for (key <- Seq("opt_group_topk", "opt_regex_prefix_scan", "ext_knn_join_ivf")) {
      val df = SparkEntry.queries(key)(spark, sfDir)
      assert(df.collect().nonEmpty, key)
      assert(spark.experimental.extraStrategies.isEmpty, key)
      assert(spark.experimental.extraOptimizations.isEmpty, key)
      val plan = df.queryExecution.executedPlan.toString
      if (key == "opt_group_topk") assert(plan.contains("GroupTopKFinal"), plan)
      if (key == "opt_regex_prefix_scan")
        assert(plan.contains("StringStartsWith(p_name,bl)"), plan)
    }
  }

  test("native dedup/similarity kernels resolve through pure SQL") {
    val r = spark.sql(
      """SELECT jaccard_sim(array(1L, 2L, 3L), array(2L, 3L, 4L)) AS j,
                cosine_sim(CAST(array(1.0, 0.0) AS array<float>),
                           CAST(array(1.0, 0.0) AS array<float>)) AS c,
                size(shingle_hashes('abcdefghij', 8)) AS ns,
                size(minhash_array(array(7L, 8L, 9L), 16)) AS nm
      """).collect()(0)
    assert(r.getDouble(0) == 0.5)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
    assert(r.getInt(2) == 3) // 10-char string → 3 8-char windows
    assert(r.getInt(3) == 16)
    // non-literal width must fail loudly, not silently misplan
    val e = intercept[Exception] {
      spark.sql("SELECT shingle_hashes('abc', length('xy'))").collect()
    }
    assert(e.getMessage.contains("literal"), e.getMessage)
    // wrong arity: a named analysis error, not IndexOutOfBounds
    val e2 = intercept[Exception] {
      spark.sql("SELECT jaccard_sim(array(1L))").collect()
    }
    assert(e2.getMessage.contains("expects 2 arguments"), e2.getMessage)
  }

  test("sqlite functions resolve natively through spark.sql") {
    val r = spark.sql(
      """SELECT iif(1 < 2, 'yes', 'no') AS a,
                julianday(timestamp '1970-01-01 12:00:00') AS jd,
                unixepoch(timestamp '2024-01-01 00:00:00') AS ep,
                unicode('Apple') AS u,
                glob('gre*n', 'green') AS g1,
                glob('gre*n', 'grape') AS g2
      """).collect()(0)
    assert(r.getString(0) == "yes")
    assert(r.getDouble(1) == 2440588.0) // noon Jan 1 1970 = JD 2440588
    assert(r.getLong(2) == 1704067200L)
    assert(r.getInt(3) == 'A'.toInt)
    assert(r.getBoolean(4) && !r.getBoolean(5))
  }

  test("sqlite_typeof answers storage classes, null-guarded per row") {
    val r = spark.sql(
      """SELECT sqlite_typeof(7) AS a,
                sqlite_typeof(CAST(7 AS SMALLINT)) AS b,
                sqlite_typeof(1.5D) AS c,
                sqlite_typeof(CAST(1.5 AS DECIMAL(5,2))) AS d,
                sqlite_typeof('s') AS e,
                sqlite_typeof(CAST('ab' AS BINARY)) AS f,
                sqlite_typeof(NULL) AS g,
                sqlite_typeof(CAST(NULL AS STRING)) AS h,
                sqlite_typeof(DATE '2024-01-01') AS i
      """).collect()(0)
    assert((0 to 8).map(r.getString) == Seq("integer", "integer", "real",
      "real", "text", "blob", "null", "null", "text"))
    // the class folds to a literal: no per-row work in the plan
    val plan = spark.sql("SELECT sqlite_typeof(id) FROM range(5)")
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("integer"), plan)
  }

  test("time-values dispatch on type: numerics are julian days, not epoch seconds") {
    // SQLite: date(2460374.5) = '2024-03-05'; a blind CAST would read
    // epoch seconds and silently answer 1970
    val r = spark.sql(
      """SELECT CAST(sqlite_timeval(2460374.5) AS STRING) AS n,
                CAST(sqlite_timeval('2460374.5') AS STRING) AS t,
                CAST(sqlite_timeval('2024-03-05 06:00:00') AS STRING) AS iso,
                sqlite_timeval(-1.0) AS oob,
                julianday(2460374.5) AS jd_id""").head()
    assert(r.getString(0) == "2024-03-05 00:00:00")
    assert(r.getString(1) == "2024-03-05 00:00:00")
    assert(r.getString(2) == "2024-03-05 06:00:00")
    assert(r.isNullAt(3), "out-of-range julian must be NULL")
    assert(math.abs(r.getDouble(4) - 2460374.5) < 1e-6,
      "native julianday of a julian number must be ~identity")
  }

  test("julian round-trips preserve whole seconds; bare-year text is julian") {
    // the double carries ~10µs of error at modern dates; truncation
    // would answer the PREVIOUS second ~half the time on whole-second
    // instants (verified against Spark's SecondsToTimestamp)
    val flips = spark.sql(
      """SELECT count(*) FROM range(2001)
         WHERE CAST(sqlite_timeval(julianday(
             timestamp_seconds(1709600000 + id))) AS STRING)
           != CAST(timestamp_seconds(1709600000 + id) AS STRING)""")
      .head().getLong(0)
    assert(flips == 0, s"$flips whole-second instants flipped")
    // SQLite: date('2024') = '-4707-06-09' (julian day 2024), NOT the
    // year 2024 Spark's bare cast would produce
    val y = spark.sql(
      "SELECT date_format(sqlite_timeval('2024'), 'yyyy-MM-dd')").head()
    assert(!y.getString(0).startsWith("2024"),
      s"numeric text must be julian, got ${y.getString(0)}")
  }

  test("total() is 0.0 on empty input, sum elsewhere; group_concat sorted") {
    Seq((1, 5.0), (1, 2.5), (2, -2.5)).toDF("k", "v")
      .createOrReplaceTempView("tot_t")
    val rows = spark.sql(
      "SELECT k, total(v) AS t FROM tot_t GROUP BY k ORDER BY k").collect()
    assert(rows(0).getDouble(1) == 7.5 && rows(1).getDouble(1) == -2.5)
    val empty = spark.sql(
      "SELECT total(v) AS t FROM tot_t WHERE k = 99").collect()(0)
    assert(empty.getDouble(0) == 0.0, "total() never returns NULL")
    val gc = spark.sql(
      "SELECT group_concat(v, '|') AS g FROM tot_t WHERE k = 1").collect()(0)
    assert(gc.getString(0) == "2.5|5.0", "sorted deterministic order")
    // empty group: SQLite (and the translator path) return NULL, not ''
    val gcEmpty = spark.sql(
      "SELECT group_concat(v) AS g FROM tot_t WHERE k = 99").collect()(0)
    assert(gcEmpty.isNullAt(0), "group_concat of an empty group must be NULL")
  }

  test("safePrefix extracts only guaranteed anchored literal prefixes") {
    assert(RegexPrefixPushdown.safePrefix("^green").contains("green"))
    assert(RegexPrefixPushdown.safePrefix("^gre.*n$").contains("gre"))
    assert(RegexPrefixPushdown.safePrefix("^gren?").contains("gre"),
      "char before a quantifier is optional")
    assert(RegexPrefixPushdown.safePrefix("green").isEmpty, "unanchored")
    assert(RegexPrefixPushdown.safePrefix("^(gr|bl)ue").isEmpty,
      "alternation unanchors the prefix")
    assert(RegexPrefixPushdown.safePrefix("^g*").isEmpty,
      "single optional char leaves nothing")
  }

  test("rule pushes StringStartsWith to the parquet scan, rows unchanged") {
    val df = (s: SparkSession) => s.read.parquet(s"$sfDir/part.parquet")
      .filter($"p_name".rlike("^bl"))
      .select("p_partkey", "p_name")
    // before: a session without the rule
    val before = df(SparkSpec.plain).collect().map(_.getLong(0)).sorted
    assert(before.nonEmpty, "test pattern must match some rows")

    val q = df(spark)
    val scan = q.queryExecution.executedPlan
      .collectFirst { case f: FileSourceScanExec => f }.get
    assert(scan.metadata("PushedFilters").contains("StringStartsWith(p_name,bl)"),
      s"not pushed: ${scan.metadata("PushedFilters")}")
    assert(q.collect().map(_.getLong(0)).sorted.sameElements(before),
      "conjunct must not change results")
  }

  test("rule is idempotent and skips unanchored patterns") {
    val anchored = spark.read.parquet(s"$sfDir/part.parquet")
      .filter($"p_name".rlike("^bl"))
    val plan = anchored.queryExecution.optimizedPlan.toString
    assert("StartsWith".r.findAllIn(plan).length == 1,
      s"guard added exactly once:\n$plan")
    val unanchored = spark.read.parquet(s"$sfDir/part.parquet")
      .filter($"p_name".rlike("gre"))
    assert(!unanchored.queryExecution.optimizedPlan.toString.contains("StartsWith"))
  }
}
