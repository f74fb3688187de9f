package graft.exec

import graft.SparkSpec
import graft.functions.GraftRaiseAbort
import graft.text2sql.SqlDialect

/** RAISE(ABORT|ROLLBACK, 'msg') in trigger programs: the statement
  * aborts with exactly the raise message and every effect — the
  * triggering DML AND body side effects that already ran — rolls back
  * ([[Atomic]]'s binding snapshot). All row/counter expectations are
  * pinned against python sqlite3 3.40.1 running the same statements
  * in autocommit. */
class TriggerRaiseSpec extends SparkSpec {

  private def sql(q: String) =
    Runner.runSql(spark, SqlDialect.translate(q))

  private def rowsOf(q: String): Seq[Seq[Any]] =
    sql(q).collect().map(_.toSeq.toSeq).toSeq

  private def abortOf(q: String): GraftRaiseAbort =
    intercept[GraftRaiseAbort] { sql(q) }

  private var n = 0
  private def fixture(): (String, String) = {
    n += 1
    val t = s"rz_t$n"; val log = s"rz_log$n"
    import spark.implicits._
    Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("a", "b")
      .createOrReplaceTempView(t)
    Seq.empty[(String, Long)].toDF("ev", "va").createOrReplaceTempView(log)
    (t, log)
  }

  test("BEFORE INSERT validation: abort carries the message, nothing lands") {
    val (t, _) = fixture()
    sql(s"CREATE TRIGGER rz_v$n BEFORE INSERT ON $t BEGIN " +
      s"SELECT RAISE(ABORT, 'neg a') WHERE NEW.a < 0; END")
    // sqlite3: IntegrityError 'neg a'; zero rows land (whole-statement
    // rollback even though (9,'w') itself passes validation)
    val e = abortOf(s"INSERT INTO $t VALUES (9, 'w'), (-2, 'bad')")
    assert(e.getMessage == "neg a")
    assert(sql(s"SELECT * FROM $t").count() == 3)
    // a batch with no violating row inserts normally
    sql(s"INSERT INTO $t VALUES (4, 'ok'), (5, 'ok')")
    assert(sql(s"SELECT * FROM $t").count() == 5)
  }

  test("body side effects before the raise roll back too") {
    val (t, log) = fixture()
    sql(s"CREATE TRIGGER rz_se$n BEFORE INSERT ON $t BEGIN " +
      s"INSERT INTO $log VALUES ('try', NEW.a); " +
      s"SELECT RAISE(ABORT, 'stop') WHERE NEW.a < 0; END")
    assert(abortOf(s"INSERT INTO $t VALUES (-1, 'q')").getMessage == "stop")
    // sqlite3: the log insert ran before the raise but rolled back
    assert(sql(s"SELECT * FROM $log").count() == 0)
    assert(sql(s"SELECT * FROM $t").count() == 3)
    // a passing insert leaves its audit row
    sql(s"INSERT INTO $t VALUES (8, 'p')")
    assert(rowsOf(s"SELECT ev, va FROM $log") == Seq(Seq("try", 8L)))
  }

  test("AFTER trigger raise undoes the already-applied DML") {
    val (t, _) = fixture()
    sql(s"CREATE TRIGGER rz_a$n AFTER INSERT ON $t BEGIN " +
      s"SELECT RAISE(ABORT, 'after-stop') WHERE NEW.a = 99; END")
    assert(abortOf(s"INSERT INTO $t VALUES (99, 'k')").getMessage ==
      "after-stop")
    // sqlite3: zero rows with 99 — the insert itself rolled back
    assert(sql(s"SELECT * FROM $t WHERE a = 99").count() == 0)
    assert(sql(s"SELECT * FROM $t").count() == 3)
  }

  test("UPDATE and DELETE statements roll back on raise") {
    val (t, _) = fixture()
    sql(s"CREATE TRIGGER rz_u$n BEFORE UPDATE ON $t BEGIN " +
      s"SELECT RAISE(ABORT, 'no upd') WHERE NEW.a > 100; END")
    assert(abortOf(s"UPDATE $t SET a = a * 100").getMessage == "no upd")
    assert(rowsOf(s"SELECT a FROM $t ORDER BY a") ==
      Seq(Seq(1L), Seq(2L), Seq(3L)))
    sql(s"CREATE TRIGGER rz_d$n BEFORE DELETE ON $t BEGIN " +
      s"SELECT RAISE(ROLLBACK, 'no del') WHERE OLD.a = 2; END")
    assert(abortOf(s"DELETE FROM $t").getMessage == "no del")
    assert(sql(s"SELECT * FROM $t").count() == 3)
    // a DELETE missing the guarded row goes through
    sql(s"DELETE FROM $t WHERE a = 3")
    assert(sql(s"SELECT * FROM $t").count() == 2)
  }

  test("cascaded trigger raise rolls back the whole chain") {
    val (t, log) = fixture()
    // trigger on t writes log; log's own trigger raises on va < 0
    sql(s"CREATE TRIGGER rz_c1$n AFTER INSERT ON $t BEGIN " +
      s"INSERT INTO $log VALUES ('ins', NEW.a); END")
    sql(s"CREATE TRIGGER rz_c2$n BEFORE INSERT ON $log BEGIN " +
      s"SELECT RAISE(ABORT, 'bad log') WHERE NEW.va < 0; END")
    assert(abortOf(s"INSERT INTO $t VALUES (-7, 'c')").getMessage ==
      "bad log")
    assert(sql(s"SELECT * FROM $t").count() == 3)
    assert(sql(s"SELECT * FROM $log").count() == 0)
  }

  test("changes()/last_insert_rowid() keep pre-statement values; " +
       "total_changes() keeps completed body DML (sqlite3-measured)") {
    val (t, log) = fixture()
    sql(s"UPDATE $t SET b = 'seed' WHERE a <= 2") // changes() = 2
    assert(rowsOf("SELECT changes() AS c") == Seq(Seq(2L)))
    val tot0 = rowsOf("SELECT total_changes() AS t").head.head
      .asInstanceOf[Long]
    sql(s"CREATE TRIGGER rz_n$n AFTER INSERT ON $t BEGIN " +
      s"INSERT INTO $log VALUES ('z', NEW.a); " +
      s"SELECT RAISE(ABORT, 'za') WHERE NEW.a = 13; END")
    abortOf(s"INSERT INTO $t VALUES (13, 'n')")
    // sqlite3 (measured): changes() still 2; total_changes delta = 1
    // (the completed body insert counts even though it rolled back)
    assert(rowsOf("SELECT changes() AS c") == Seq(Seq(2L)))
    assert(rowsOf("SELECT total_changes() AS t") == Seq(Seq(tot0 + 1L)))
    assert(sql(s"SELECT * FROM $log").count() == 0)
  }

  test("RAISE in a WHEN clause and inside a CASE branch fires lazily") {
    val (t, _) = fixture()
    // WHEN containing RAISE: fires while evaluating the clause
    sql(s"CREATE TRIGGER rz_w$n BEFORE INSERT ON $t " +
      s"WHEN NEW.a < 0 AND RAISE(ABORT, 'when-abort') IS NOT NULL " +
      s"BEGIN SELECT 1; END")
    assert(abortOf(s"INSERT INTO $t VALUES (-5, 'w')").getMessage ==
      "when-abort")
    assert(sql(s"SELECT * FROM $t").count() == 3)
    // non-matching rows never evaluate the raise (lazy AND)
    sql(s"INSERT INTO $t VALUES (6, 'ok')")
    assert(sql(s"SELECT * FROM $t").count() == 4)
    sql(s"DROP TRIGGER rz_w$n")
    // CASE branch: only the taken branch raises (sqlite3 test-pinned)
    sql(s"CREATE TRIGGER rz_k$n BEFORE INSERT ON $t BEGIN " +
      s"SELECT CASE WHEN NEW.a < -100 THEN RAISE(ABORT, 'very neg') " +
      s"ELSE NULL END; END")
    assert(abortOf(s"INSERT INTO $t VALUES (-200, 'k')").getMessage ==
      "very neg")
    sql(s"INSERT INTO $t VALUES (50, 'k')")
    assert(sql(s"SELECT * FROM $t WHERE a = 50").count() == 1)
  }

  test("INSTEAD OF trigger program raise: view DML aborts, audit restored") {
    val (t, log) = fixture()
    sql(s"CREATE VIEW rz_v$n AS SELECT a, b FROM $t WHERE a < 100")
    sql(s"CREATE TRIGGER rz_iv$n INSTEAD OF INSERT ON rz_v$n BEGIN " +
      s"INSERT INTO $log VALUES ('ins', NEW.a); " +
      s"SELECT RAISE(ABORT, 'view-guard') WHERE NEW.a IS NULL; END")
    assert(abortOf(s"INSERT INTO rz_v$n VALUES (NULL, 'g')").getMessage ==
      "view-guard")
    assert(sql(s"SELECT * FROM $log").count() == 0)
    sql(s"INSERT INTO rz_v$n VALUES (42, 'h')")
    assert(rowsOf(s"SELECT ev, va FROM $log") == Seq(Seq("ins", 42L)))
  }

  test("CREATE-time grammar and kind rules (sqlite3-measured errors)") {
    val (t, _) = fixture()
    def createFails[E <: Throwable](body: String)(implicit
        m: scala.reflect.ClassTag[E]): E =
      intercept[E] { sql(s"CREATE TRIGGER rz_g$n BEFORE INSERT ON $t " +
        s"BEGIN $body END") }
    // FAIL / IGNORE: named set-based declines
    assert(createFails[UnsupportedOperationException](
      "SELECT RAISE(FAIL, 'f') WHERE NEW.a < 0;")
      .getMessage.contains("RAISE(FAIL)"))
    assert(createFails[UnsupportedOperationException](
      "SELECT RAISE(IGNORE) WHERE NEW.a < 0;")
      .getMessage.contains("RAISE(IGNORE)"))
    // grammar: kind-less, message-less and non-literal-message forms
    // are syntax errors in SQLite too (measured)
    createFails[IllegalArgumentException]("SELECT RAISE(ABORT);")
    createFails[IllegalArgumentException](
      "SELECT RAISE(ABORT, 'a' || 'b');")
    createFails[IllegalArgumentException]("SELECT RAISE(BOGUS, 'm');")
    createFails[IllegalArgumentException]("SELECT RAISE(IGNORE, 'm');")
    // a quoted string containing "RAISE(" is data, not a call
    sql(s"CREATE TRIGGER rz_g$n BEFORE INSERT ON $t BEGIN " +
      s"SELECT 'RAISE(FAIL, not a call)'; END")
    sql(s"INSERT INTO $t VALUES (77, 'ok')")
    assert(sql(s"SELECT * FROM $t WHERE a = 77").count() == 1)
  }

  test("RAISE in a DML body or WHEN subquery: named CREATE-time decline") {
    // the set-based LATERAL/EXISTS rewrites for DML bodies decorrelate,
    // so a raise there could evaluate before the correlation filter —
    // e.g. `INSERT INTO log SELECT RAISE(…) WHERE NEW.x < 0` over a
    // batch whose rows ALL pass the guard would still abort. Declined
    // visibly at CREATE instead of aborting wrongly at fire.
    val (t, log) = fixture()
    def createFails(body: String): UnsupportedOperationException =
      intercept[UnsupportedOperationException] {
        sql(s"CREATE TRIGGER rz_dr$n BEFORE INSERT ON $t BEGIN $body END")
      }
    assert(createFails(
      s"INSERT INTO $log SELECT 'bad', RAISE(ABORT, 'neg') WHERE NEW.a < 0;")
      .getMessage.contains("INSERT body"))
    assert(createFails(
      s"UPDATE $log SET va = NEW.a " +
        s"WHERE ev = 'x' AND RAISE(ABORT, 'u') IS NOT NULL;")
      .getMessage.contains("UPDATE body"))
    assert(createFails(
      s"DELETE FROM $log WHERE RAISE(ABORT, 'd') IS NOT NULL;")
      .getMessage.contains("DELETE body"))
    // WHEN subquery raise: same decorrelation hazard, same decline
    assert(intercept[UnsupportedOperationException] {
      sql(s"CREATE TRIGGER rz_ws$n BEFORE INSERT ON $t " +
        s"WHEN (SELECT RAISE(ABORT, 'w')) IS NULL BEGIN SELECT 1; END")
    }.getMessage.contains("WHEN clause"))
    // the supported idiom still registers and fires correctly
    sql(s"CREATE TRIGGER rz_ok$n BEFORE INSERT ON $t BEGIN " +
      s"SELECT RAISE(ABORT, 'neg') WHERE NEW.a < 0; " +
      s"INSERT INTO $log VALUES ('ins', NEW.a); END")
    sql(s"INSERT INTO $t VALUES (21, 'ok')")
    assert(rowsOf(s"SELECT ev, va FROM $log") == Seq(Seq("ins", 21L)))
  }

  test("RAISE outside a trigger program: SQLite's refusal text") {
    val e = intercept[IllegalArgumentException] {
      sql("SELECT RAISE(ABORT, 'x')")
    }
    assert(e.getMessage ==
      "RAISE() may only be used within a trigger-program")
    val (t, _) = fixture()
    val e2 = intercept[IllegalArgumentException] {
      sql(s"INSERT INTO $t VALUES (RAISE(ABORT, 'y'), 'z')")
    }
    assert(e2.getMessage ==
      "RAISE() may only be used within a trigger-program")
  }

  test("a raise( inside a comment is not a RAISE call (sqlite3 runs " +
      "the statement)") {
    val (t, _) = fixture()
    assert(rowsOf(s"SELECT a FROM $t -- raise(ABORT, 'x')\nWHERE a = 1") ==
      Seq(Seq(1L)))
    assert(rowsOf(s"SELECT a FROM $t /* raise(ABORT, 'x') */ WHERE a = 2") ==
      Seq(Seq(2L)))
  }

  test("abort message parity: embedded quotes survive the round trip") {
    val (t, _) = fixture()
    sql(s"CREATE TRIGGER rz_q$n BEFORE INSERT ON $t BEGIN " +
      s"SELECT RAISE(ABORT, 'can''t insert') WHERE NEW.a < 0; END")
    assert(abortOf(s"INSERT INTO $t VALUES (-3, 'q')").getMessage ==
      "can't insert")
  }
}
