package graft.exec

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import graft.SparkSpec
import graft.text2sql.SqlDialect

/** `Runner.runSql` analyzes a statement with ANSI evaluation off, so
  * `1/0` is SQLite's NULL, in a conf scope of its own thread: another
  * thread of the same session keeps ANSI evaluation, and the session's
  * conf never reads `false`. The statement's expressions built through
  * the DataFrame API (CHECK, DEFAULT, generated-column and upsert texts)
  * and a view's body evaluate under the statement conf too
  * ([[graft.plans.StatementEvalMode]]); analysis outside a statement,
  * and Spark's own overflow check of an INSERT into a catalog table, keep
  * Spark's modes. */
class StatementConfSpec extends SparkSpec {

  private def sql(q: String) = Runner.runSql(spark, SqlDialect.translate(q))

  private def divideByZero(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("DIVIDE_BY_ZERO"))

  test("non-ANSI analysis stays on the runSql thread") {
    val s = spark.newSession()
    val rounds = 40
    val start = new CountDownLatch(1)
    val done = new AtomicBoolean(false)
    val wrong = ConcurrentHashMap.newKeySet[String]()
    val pool = Executors.newFixedThreadPool(3)
    try {
      val a = pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          for (_ <- 1 to rounds) {
            val r = Runner.runSql(s, "SELECT 1/0").collect()
            if (!r.head.isNullAt(0)) wrong.add(s"runSql answered ${r.head}")
          }
        }
      })
      val b = pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          for (_ <- 1 to rounds) {
            try wrong.add(s"spark.sql answered ${s.sql("SELECT 1/0").collect().head}")
            catch { case e: Exception if divideByZero(e) => () }
          }
        }
      })
      val watch = pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          while (!done.get()) {
            if (s.conf.get("spark.sql.ansi.enabled") == "false")
              wrong.add("the session conf read ansi.enabled = false")
            Thread.`yield`()
          }
        }
      })
      start.countDown()
      a.get(120, TimeUnit.SECONDS)
      b.get(120, TimeUnit.SECONDS)
      done.set(true)
      watch.get(10, TimeUnit.SECONDS)
    } finally pool.shutdownNow()
    assert(wrong.isEmpty, wrong.toArray.mkString("; "))
    assert(s.conf.get("spark.sql.ansi.enabled") == "true")
  }

  // expected values: python3 sqlite3 3.40.1
  test("a write's CHECK, generated column, DEFAULT and upsert SET texts " +
      "and a view's body divide by zero as SQLite does") {
    sql("CREATE TABLE sc_t(k INTEGER PRIMARY KEY, a INTEGER, b INTEGER, " +
      "c INTEGER AS (a / b), d INTEGER DEFAULT (1/0), " +
      "CHECK (a / b >= 0 OR a / b IS NULL))")
    sql("INSERT INTO sc_t(k, a, b) VALUES (1, 7, 0)")
    sql("INSERT INTO sc_t(k, a, b) VALUES (1, 9, 0) " +
      "ON CONFLICT (k) DO UPDATE SET a = excluded.a / excluded.b")
    assert(sql("SELECT k, a, b, c, d FROM sc_t").collect().map(_.toSeq).toSeq ==
      Seq(Seq(1L, null, 0L, null, null)))
    sql("CREATE VIEW sc_v AS SELECT k, 1 / b AS r FROM sc_t")
    assert(sql("SELECT k, r FROM sc_v").collect().map(_.toSeq).toSeq ==
      Seq(Seq(1L, null)))
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
  }

  test("an out-of-range INSERT into a catalog table raises Spark's overflow " +
      "error with ANSI off, inside a statement and outside one") {
    val s = spark.newSession()
    s.conf.set("spark.sql.ansi.enabled", "false")
    val dir = java.nio.file.Files.createTempDirectory("graft-insert-overflow")
    s.sql(s"CREATE TABLE sc_ovf(b TINYINT) USING parquet LOCATION '${dir.toUri}'")
    try {
      def overflow(insert: => Unit): Boolean =
        try { insert; false }
        catch {
          case e: Exception => Iterator.iterate[Throwable](e)(_.getCause)
            .takeWhile(_ != null)
            .exists(c => String.valueOf(c.getMessage).contains("CAST_OVERFLOW_IN_TABLE_INSERT"))
        }
      assert(overflow(s.sql("INSERT INTO sc_ovf VALUES (1000)")))
      assert(overflow(graft.plans.StatementEvalMode.legacy(s)(
        s.sql("INSERT INTO sc_ovf VALUES (1000)"))))
      s.sql("INSERT INTO sc_ovf VALUES (100)")
      assert(s.table("sc_ovf").collect().map(_.getByte(0)).toSeq == Seq(100.toByte))
    } finally {
      s.sql("DROP TABLE sc_ovf")
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }
}
