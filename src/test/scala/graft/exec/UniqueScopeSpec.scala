package graft.exec

import graft.SparkSpec
import graft.text2sql.SqlDialect

/** Which declared unique keys a write re-checks: an UPDATE probes only
  * the keys its assignments can reach (columns, expression-index
  * operands, partial-index predicates, generated columns), and the
  * bare INSERT OR REPLACE merge — unique by construction — probes
  * none. Each case pins the result and the number of probe jobs
  * (jobs issued from Constraints.scala). */
class UniqueScopeSpec extends SparkSpec
    with org.scalatest.BeforeAndAfterAll {

  private def sql(q: String) =
    Runner.runSql(spark, SqlDialect.translate(q))

  private def rowsOf(q: String): Seq[Seq[Any]] =
    sql(q).collect().map(_.toSeq.toSeq).toSeq

  private var n = 0
  private def fresh(): String = { n += 1; s"uscope_t$n" }

  private lazy val jobs = new JobSites(spark)
  override protected def afterAll(): Unit = {
    jobs.stop()
    super.afterAll()
  }

  private def probes(q: String): Int =
    jobs.jobsFrom("Constraints.scala")(sql(q))

  private def pkTable(): String = {
    val t = fresh()
    sql(s"CREATE TABLE $t(id INT PRIMARY KEY, v INT, w TEXT)")
    sql(s"INSERT INTO $t VALUES (1, 10, 'a'), (2, 20, 'b'), (3, 30, 'c')")
    t
  }

  test("(a) a plain UPDATE of a non-key column issues no probe job; " +
      "assigning the PRIMARY KEY does") {
    val t = pkTable()
    assert(probes(s"UPDATE $t SET v = v + 1 WHERE id = 2") == 0)
    assert(rowsOf(s"SELECT id, v FROM $t ORDER BY id") ==
      Seq(Seq(1L, 10L), Seq(2L, 21L), Seq(3L, 30L)))
    assert(probes(s"UPDATE $t SET id = 4 WHERE id = 3") > 0)
    assert(rowsOf(s"SELECT id, v FROM $t ORDER BY id") ==
      Seq(Seq(1L, 10L), Seq(2L, 21L), Seq(4L, 30L)))
    val e = intercept[Exception](sql(s"UPDATE $t SET id = 1 WHERE id = 2"))
    assert(e.getMessage.contains(s"UNIQUE constraint failed: $t.id"),
      e.getMessage)
  }

  test("(b) an assignment reaching an expression unique index that " +
      "collides still aborts") {
    val t = fresh()
    sql(s"CREATE TABLE $t(c TEXT, v INT)")
    sql(s"CREATE UNIQUE INDEX ${t}_ux ON $t (lower(c))")
    sql(s"INSERT INTO $t VALUES ('Ab', 1), ('cd', 2)")
    assert(probes(s"UPDATE $t SET v = 9 WHERE c = 'cd'") == 0)
    val e = intercept[Exception](sql(s"UPDATE $t SET c = 'AB' WHERE v = 9"))
    assert(e.getMessage.contains(s"UNIQUE constraint failed: index '${t}_ux'"),
      e.getMessage)
    assert(rowsOf(s"SELECT c, v FROM $t ORDER BY v") ==
      Seq(Seq("Ab", 1L), Seq("cd", 9L)))
  }

  test("(c) an assignment read only by a partial index's WHERE that " +
      "moves a duplicate into scope still aborts") {
    val t = fresh()
    sql(s"CREATE TABLE $t(id INT, k INT, active INT)")
    sql(s"CREATE UNIQUE INDEX ${t}_ux ON $t (k) WHERE active = 1")
    sql(s"INSERT INTO $t VALUES (1, 5, 1), (2, 5, 0)")
    assert(probes(s"UPDATE $t SET id = 7 WHERE id = 2") == 0)
    val e = intercept[Exception](
      sql(s"UPDATE $t SET active = 1 WHERE id = 7"))
    assert(e.getMessage.contains(s"UNIQUE constraint failed: $t.k"),
      e.getMessage)
    assert(rowsOf(s"SELECT id, k, active FROM $t ORDER BY id") ==
      Seq(Seq(1L, 5L, 1L), Seq(7L, 5L, 0L)))
  }

  test("(d) an assignment to the source of a uniquely-keyed generated " +
      "column that collides still aborts") {
    val t = fresh()
    sql(s"CREATE TABLE $t(id INT, a INT, g INT GENERATED ALWAYS AS (a * 2))")
    sql(s"CREATE UNIQUE INDEX ${t}_ux ON $t (g)")
    sql(s"INSERT INTO $t(id, a) VALUES (1, 1), (2, 2)")
    val e = intercept[Exception](sql(s"UPDATE $t SET a = 1 WHERE id = 2"))
    assert(e.getMessage.contains(s"UNIQUE constraint failed: $t.g"),
      e.getMessage)
    assert(rowsOf(s"SELECT id, a, g FROM $t ORDER BY id") ==
      Seq(Seq(1L, 1L, 2L), Seq(2L, 2L, 4L)))
  }

  test("(e) UPDATE … FROM, … LIMIT, OR IGNORE and OR FAIL with " +
      "non-key assignments issue no probe job") {
    val t = pkTable()
    val s = fresh()
    sql(s"CREATE TABLE $s(id INT, nv INT)")
    sql(s"INSERT INTO $s VALUES (1, 100), (3, 300)")
    assert(probes(s"UPDATE $t SET v = $s.nv FROM $s WHERE $t.id = $s.id") == 0)
    assert(probes(s"UPDATE $t SET w = 'z' ORDER BY id DESC LIMIT 1") == 0)
    assert(probes(s"UPDATE OR IGNORE $t SET v = v + 1 WHERE id = 2") == 0)
    assert(probes(s"UPDATE OR FAIL $t SET w = 'y' WHERE id = 1") == 0)
    assert(rowsOf(s"SELECT id, v, w FROM $t ORDER BY id") ==
      Seq(Seq(1L, 100L, "y"), Seq(2L, 21L, "b"), Seq(3L, 300L, "z")))
    // the key-assigning forms still decline or abort on a collision
    val e = intercept[Exception](
      sql(s"UPDATE $t SET id = 1 ORDER BY id DESC LIMIT 1"))
    assert(e.getMessage.contains(s"UNIQUE constraint failed: $t.id"),
      e.getMessage)
    sql(s"UPDATE OR IGNORE $t SET id = 1 WHERE id = 2") // skipped
    assert(rowsOf(s"SELECT id FROM $t ORDER BY id") ==
      Seq(Seq(1L), Seq(2L), Seq(3L)))
  }

  test("(f) INSERT OR REPLACE batches with in-batch duplicates on " +
      "every key and NULL key members never raise, probe nothing, and " +
      "leave every declared key unique") {
    val rnd = new scala.util.Random(20261018L)
    def v(): String =
      if (rnd.nextInt(4) == 0) "NULL" else rnd.nextInt(4).toString
    (1 to 4).foreach { _ =>
      val t = fresh()
      sql(s"CREATE TABLE $t(a INT PRIMARY KEY, b INT UNIQUE, c INT, d INT, " +
        s"UNIQUE (c, d))")
      (1 to 3).foreach { _ =>
        val rows = Seq.fill(6)(s"(${v()}, ${v()}, ${v()}, ${v()})")
        assert(probes(s"INSERT OR REPLACE INTO $t VALUES " +
          rows.mkString(", ")) == 0, rows)
        Constraints.assertUnique(spark, t, spark.table(t))
      }
    }
    // a targetless DO NOTHING and INSERT OR IGNORE are unique by
    // construction too: the batch keeps its first row per value of
    // every declared key and drops every row conflicting with the table
    Seq[(String, String) => String](
      (t, rows) => s"INSERT INTO $t VALUES $rows ON CONFLICT DO NOTHING",
      (t, rows) => s"INSERT OR IGNORE INTO $t VALUES $rows").foreach { stmt =>
      (1 to 2).foreach { _ =>
        val t = fresh()
        sql(s"CREATE TABLE $t(a INT PRIMARY KEY, b INT UNIQUE, c INT, " +
          s"d INT, UNIQUE (c, d))")
        (1 to 3).foreach { _ =>
          val rows = Seq.fill(6)(s"(${v()}, ${v()}, ${v()}, ${v()})")
          assert(probes(stmt(t, rows.mkString(", "))) == 0, rows)
          Constraints.assertUnique(spark, t, spark.table(t))
        }
      }
    }
  }
}
