package graft.exec

import graft.SparkSpec
import graft.text2sql.SqlDialect

/** A statement that aborts leaves the session's temp views as it found
  * them: every route that registers a scratch view (row-id-tagged
  * sources, the LIMIT ranking view, RETURNING slices, FK action
  * remaps, trigger slices) drops it on the way out. */
class ScratchViewSpec extends SparkSpec {

  private def sql(q: String) =
    Runner.runSql(spark, SqlDialect.translate(q))

  private var n = 0
  private def fresh(): String = { n += 1; s"scratch_t$n" }

  private def tempViews(): Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary)
      .map(_.name).toSet

  /** `q` raises an error naming `msg`, and the temp-view set after it
    * equals the set before. */
  private def abortsClean(q: String, msg: String): Unit = {
    val before = tempViews()
    val e = intercept[Exception](sql(q))
    assert(e.getMessage.contains(msg), e.getMessage)
    assert(tempViews() == before, q)
  }

  private def withForeignKeys(body: => Unit): Unit = {
    sql("PRAGMA foreign_keys = 1")
    try body finally sql("PRAGMA foreign_keys = 0")
  }

  test("DELETE … LIMIT … RETURNING refused by a foreign key") {
    withForeignKeys {
      val p = fresh()
      val c = fresh()
      sql(s"CREATE TABLE $p(id INT PRIMARY KEY)")
      sql(s"CREATE TABLE $c(a INT REFERENCES $p(id))")
      sql(s"INSERT INTO $p VALUES (1), (2)")
      sql(s"INSERT INTO $c VALUES (1)")
      abortsClean(s"DELETE FROM $p ORDER BY id LIMIT 1 RETURNING id",
        "FOREIGN KEY constraint failed")
      assert(sql(s"SELECT count(*) FROM $p").first().getLong(0) == 2L)
    }
  }

  test("UPDATE … LIMIT … RETURNING hitting a CHECK") {
    val t = fresh()
    sql(s"CREATE TABLE $t(id INT, v INT CHECK (v < 100))")
    sql(s"INSERT INTO $t VALUES (1, 1), (2, 2)")
    abortsClean(s"UPDATE $t SET v = 500 ORDER BY id LIMIT 1 RETURNING v",
      "CHECK constraint failed")
    assert(sql(s"SELECT max(v) FROM $t").first().getLong(0) == 2L)
  }

  test("UPDATE OR IGNORE … RETURNING assigning a dangling foreign key") {
    withForeignKeys {
      val p = fresh()
      val c = fresh()
      sql(s"CREATE TABLE $p(id INT PRIMARY KEY)")
      sql(s"CREATE TABLE $c(id INT PRIMARY KEY, pid INT REFERENCES $p(id))")
      sql(s"INSERT INTO $p VALUES (1)")
      sql(s"INSERT INTO $c VALUES (1, 1), (2, 1)")
      abortsClean(s"UPDATE OR IGNORE $c SET id = id + 10, pid = 99 " +
        s"WHERE id = 1 RETURNING id", "FOREIGN KEY constraint failed")
    }
  }

  test("INSERT … RETURNING on a UNIQUE duplicate") {
    val t = fresh()
    sql(s"CREATE TABLE $t(id INT PRIMARY KEY, v INT)")
    sql(s"INSERT INTO $t VALUES (1, 1)")
    abortsClean(s"INSERT INTO $t VALUES (1, 2) RETURNING id",
      "UNIQUE constraint failed")
  }

  test("foreign-key cascades that raise: ON DELETE into a refusing " +
      "grandchild, ON UPDATE into a CHECK") {
    withForeignKeys {
      val gp = fresh()
      val ch = fresh()
      val gc = fresh()
      sql(s"CREATE TABLE $gp(id INT PRIMARY KEY)")
      sql(s"CREATE TABLE $ch(id INT PRIMARY KEY, " +
        s"g INT REFERENCES $gp(id) ON DELETE CASCADE)")
      sql(s"CREATE TABLE $gc(c INT REFERENCES $ch(id))")
      sql(s"INSERT INTO $gp VALUES (1)")
      sql(s"INSERT INTO $ch VALUES (1, 1)")
      sql(s"INSERT INTO $gc VALUES (1)")
      abortsClean(s"DELETE FROM $gp WHERE id = 1",
        "FOREIGN KEY constraint failed")
      val up = fresh()
      val uc = fresh()
      sql(s"CREATE TABLE $up(id INT PRIMARY KEY)")
      sql(s"CREATE TABLE $uc(pid INT REFERENCES $up(id) ON UPDATE CASCADE " +
        s"CHECK (pid < 50))")
      sql(s"INSERT INTO $up VALUES (1)")
      sql(s"INSERT INTO $uc VALUES (1)")
      abortsClean(s"UPDATE $up SET id = 99 WHERE id = 1",
        "CHECK constraint failed")
    }
  }

  test("a trigger fire that raises") {
    val t = fresh()
    sql(s"CREATE TABLE $t(a INT)")
    sql(s"CREATE TRIGGER ${t}_tr AFTER INSERT ON $t BEGIN " +
      s"SELECT RAISE(ABORT, 'refused') WHERE NEW.a > 0; END")
    abortsClean(s"INSERT INTO $t VALUES (1) RETURNING a", "refused")
    assert(sql(s"SELECT count(*) FROM $t").first().getLong(0) == 0L)
  }
}
