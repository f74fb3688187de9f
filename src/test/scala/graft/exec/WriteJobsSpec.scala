package graft.exec

import org.apache.spark.sql.SparkSession
import graft.SparkSpec
import graft.text2sql.SqlDialect

/** The total Spark jobs each write statement class issues on a table
  * with a PRIMARY KEY and a UNIQUE index, counted by [[JobSites]] over
  * the statement alone (a fresh table per case, the same rows each
  * time). The spec runs in a session of its own, with adaptive
  * execution off:
  *  - a session keeps the deferred `changes()` counts of its last 64
  *    statements and runs the oldest one's count when a newer
  *    statement records, so in a long-lived session a statement's job
  *    total includes an earlier statement's count;
  *  - under adaptive execution the number of stage jobs a plan splits
  *    into depends on which stage finishes first (a one-row INSERT OR
  *    REPLACE read 9 and 10 jobs in two runs of one build).
  *
  * A refactor of the write path keeps every count. Three cases are
  * lower than when the spec was first measured:
  *  - INSERT … VALUES into an INTEGER PRIMARY KEY table decides NULL
  *    keys from the VALUES rows on the driver instead of running a
  *    `count` probe: 6 → 5 jobs with a key given, 5 → 4 with a NULL
  *    key;
  *  - UPDATE OR FAIL of a key column tests for a conflict with the
  *    untouched rows by one `isEmpty` on a semi-join instead of
  *    comparing two `count`s: 9 → 8 jobs;
  *  - a targetless ON CONFLICT DO NOTHING skips the uniqueness probe,
  *    its merge being unique by construction: 10 → 4 jobs. */
class WriteJobsSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  private def sql(q: String) =
    Runner.runSql(spark, SqlDialect.translate(q))

  private var n = 0
  private def fresh(): String = { n += 1; s"wjobs_t$n" }

  override lazy val spark: SparkSession = {
    val s = SparkSpec.session.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  private lazy val jobs = new JobSites(spark)
  override protected def afterAll(): Unit = {
    jobs.stop()
    super.afterAll()
  }

  /** A table with a PRIMARY KEY on `id` (declared `pkType`) and a
    * UNIQUE index on `u`, holding three rows. */
  private def table(pkType: String = "INT"): String = {
    val t = fresh()
    sql(s"CREATE TABLE $t(id $pkType PRIMARY KEY, u TEXT, v INT)")
    sql(s"CREATE UNIQUE INDEX ${t}_u ON $t (u)")
    sql(s"INSERT INTO $t VALUES (1, 'a', 10), (2, 'b', 20), (3, 'c', 30)")
    t
  }

  /** The jobs statement `q` issues, with `PRAGMA foreign_keys` set to
    * `fk` around it. */
  private def jobsOf(q: String, fk: Boolean = false): Int = {
    sql(s"PRAGMA foreign_keys = ${if (fk) 1 else 0}")
    try jobs.during(sql(q))._2.size
    finally sql("PRAGMA foreign_keys = 0")
  }

  private def count(t: String): Long =
    sql(s"SELECT count(*) FROM $t").first().getLong(0)

  test("INSERT … VALUES and INSERT from a query source") {
    val t = table()
    assert(jobsOf(s"INSERT INTO $t VALUES (4, 'd', 40)") == 5)
    assert(jobsOf(s"INSERT INTO $t SELECT id + 10, u || 'x', v FROM $t " +
      "WHERE id <= 2") == 5)
    assert(count(t) == 6L)
  }

  test("INSERT … VALUES into an INTEGER PRIMARY KEY table") {
    val t = table("INTEGER")
    assert(jobsOf(s"INSERT INTO $t VALUES (4, 'd', 40)") == 5)
    assert(jobsOf(s"INSERT INTO $t VALUES (NULL, 'e', 50)") == 4)
    assert(sql(s"SELECT id FROM $t WHERE u = 'e'").first().getLong(0) == 5L)
  }

  test("INSERT OR REPLACE") {
    val t = table()
    assert(jobsOf(s"INSERT OR REPLACE INTO $t VALUES (2, 'z', 21)") == 1)
    assert(count(t) == 3L)
  }

  test("ON CONFLICT DO NOTHING and DO UPDATE") {
    val t = table()
    assert(jobsOf(s"INSERT INTO $t VALUES (2, 'q', 0), (5, 'e', 50) " +
      "ON CONFLICT DO NOTHING") == 4)
    assert(jobsOf(s"INSERT INTO $t VALUES (2, 'b', 99) " +
      "ON CONFLICT (id) DO UPDATE SET v = excluded.v") == 11)
    assert(sql(s"SELECT v FROM $t WHERE id = 2").first().getLong(0) == 99L)
  }

  test("UPDATE of a key column and of a non-key column") {
    val t = table()
    assert(jobsOf(s"UPDATE $t SET id = id + 10 WHERE id = 3") == 3)
    assert(jobsOf(s"UPDATE $t SET v = v + 1 WHERE id = 2") == 1)
    assert(sql(s"SELECT sum(id) FROM $t").first().getLong(0) == 16L)
  }

  test("UPDATE OR FAIL of a key column") {
    val t = table()
    assert(jobsOf(s"UPDATE OR FAIL $t SET id = id + 10 WHERE id = 3") == 8)
    assert(sql(s"SELECT sum(id) FROM $t").first().getLong(0) == 16L)
  }

  test("DELETE") {
    val t = table()
    assert(jobsOf(s"DELETE FROM $t WHERE id = 1") == 1)
    assert(count(t) == 2L)
  }

  test("INSERT and DELETE checked by a foreign key") {
    val p = table()
    val c = fresh()
    sql(s"CREATE TABLE $c(cid INT PRIMARY KEY, pid INT REFERENCES $p(id))")
    assert(jobsOf(s"INSERT INTO $c VALUES (1, 2)", fk = true) == 6)
    assert(jobsOf(s"DELETE FROM $p WHERE id = 3", fk = true) == 4)
    assert(count(p) == 2L)
  }
}
