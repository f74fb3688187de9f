package graft.exec

import graft.SparkSpec
import graft.text2sql.SqlDialect

/** One table carrying every declaration kind, walked through RENAME TO,
  * RENAME COLUMN, DROP COLUMN and DROP TABLE. After each step the
  * introspection surface (`PRAGMA table_xinfo` / `index_list` /
  * `foreign_key_list`, `sqlite_sequence`) and one follow-up statement's
  * outcome are compared with python sqlite3 3.40.1 running the same
  * statements. `table_xinfo` rows are compared without their `type`
  * column (this engine reports the lake type, README), and `index_list`
  * rows name-sorted without their `seq` column. */
class TableDeclSpec extends SparkSpec {
  import TableDeclSpec.Step

  private def sql(q: String) =
    Runner.runSql(spark, SqlDialect.translate(q))

  private def render(v: Any): String = if (v == null) "null" else v.toString

  private def rowsOf(q: String): Seq[String] =
    sql(q).collect().map(_.toSeq.map(render).mkString("(", ",", ")")).toSeq

  /** A PRAGMA over a dropped table: SQLite answers no rows. */
  private def pragmaRows(q: String): Seq[String] =
    try rowsOf(q)
    catch {
      case e: Exception if String.valueOf(e.getMessage).toLowerCase
        .matches("(?s).*(no such table|table_or_view_not_found|not found).*") =>
        Nil
    }

  /** A rendered row without its third column. */
  private def untyped(r: String): String = {
    val f = r.split(",", -1)
    (f.take(2) ++ f.drop(3)).mkString(",")
  }

  private def outcome(q: String): String =
    try { sql(q).collect(); "ok" }
    catch { case e: Exception => e.getMessage }

  // expected values: python3 sqlite3 3.40.1, PRAGMA foreign_keys=ON
  private val steps = Seq(
    Step("CREATE TABLE", None, "decl_t",
      xinfo = Seq("(0,id,INTEGER,0,null,1,0)", "(1,a,INTEGER,1,7,0,0)", "(2,b,TEXT,0,null,0,0)", "(3,c,INTEGER,0,null,0,0)", "(4,d,INTEGER,0,null,0,2)", "(5,e,INTEGER,0,null,0,0)", "(6,f,INTEGER,0,null,0,0)", "(7,p,INTEGER,0,null,0,0)", "(8,g,TEXT,1,'z',0,0)"),
      indexes = Seq("(decl_t_expr,1,c,0)", "(decl_t_part,1,c,1)", "(sqlite_autoindex_decl_t_1,1,u,0)"),
      fks = Seq("(0,0,decl_par,p,id,NO ACTION,NO ACTION,NONE)"),
      seq = Seq(),
      insert = "INSERT INTO decl_t(a, b, c, e, f, p) VALUES (1, 'A', 1, 1, 1, 1)", outcome = "ok"),
    Step("RENAME TO", Some("ALTER TABLE decl_t RENAME TO decl_t2"), "decl_t2",
      xinfo = Seq("(0,id,INTEGER,0,null,1,0)", "(1,a,INTEGER,1,7,0,0)", "(2,b,TEXT,0,null,0,0)", "(3,c,INTEGER,0,null,0,0)", "(4,d,INTEGER,0,null,0,2)", "(5,e,INTEGER,0,null,0,0)", "(6,f,INTEGER,0,null,0,0)", "(7,p,INTEGER,0,null,0,0)", "(8,g,TEXT,1,'z',0,0)"),
      indexes = Seq("(decl_t_expr,1,c,0)", "(decl_t_part,1,c,1)", "(sqlite_autoindex_decl_t2_1,1,u,0)"),
      fks = Seq("(0,0,decl_par,p,id,NO ACTION,NO ACTION,NONE)"),
      seq = Seq("(decl_t2,1)"),
      insert = "INSERT INTO decl_t2(a, b, c, e, f, p) VALUES (2, 'B', 1, 1, 2, 1)", outcome = "ok"),
    Step("RENAME COLUMN", Some("ALTER TABLE decl_t2 RENAME COLUMN b TO bb"), "decl_t2",
      xinfo = Seq("(0,id,INTEGER,0,null,1,0)", "(1,a,INTEGER,1,7,0,0)", "(2,bb,TEXT,0,null,0,0)", "(3,c,INTEGER,0,null,0,0)", "(4,d,INTEGER,0,null,0,2)", "(5,e,INTEGER,0,null,0,0)", "(6,f,INTEGER,0,null,0,0)", "(7,p,INTEGER,0,null,0,0)", "(8,g,TEXT,1,'z',0,0)"),
      indexes = Seq("(decl_t_expr,1,c,0)", "(decl_t_part,1,c,1)", "(sqlite_autoindex_decl_t2_1,1,u,0)"),
      fks = Seq("(0,0,decl_par,p,id,NO ACTION,NO ACTION,NONE)"),
      seq = Seq("(decl_t2,2)"),
      insert = "INSERT INTO decl_t2(a, bb, c, e, f, p) VALUES (3, 'b', 1, 1, 3, 1)", outcome = "UNIQUE constraint failed: decl_t2.bb"),
    Step("RENAME parent COLUMN", Some("ALTER TABLE decl_par RENAME COLUMN id TO pid"), "decl_t2",
      xinfo = Seq("(0,id,INTEGER,0,null,1,0)", "(1,a,INTEGER,1,7,0,0)", "(2,bb,TEXT,0,null,0,0)", "(3,c,INTEGER,0,null,0,0)", "(4,d,INTEGER,0,null,0,2)", "(5,e,INTEGER,0,null,0,0)", "(6,f,INTEGER,0,null,0,0)", "(7,p,INTEGER,0,null,0,0)", "(8,g,TEXT,1,'z',0,0)"),
      indexes = Seq("(decl_t_expr,1,c,0)", "(decl_t_part,1,c,1)", "(sqlite_autoindex_decl_t2_1,1,u,0)"),
      fks = Seq("(0,0,decl_par,p,pid,NO ACTION,NO ACTION,NONE)"),
      seq = Seq("(decl_t2,2)"),
      insert = "INSERT INTO decl_t2(a, bb, c, e, f, p) VALUES (3, 'C', 1, 1, 3, 2)", outcome = "FOREIGN KEY constraint failed"),
    Step("RENAME FK COLUMN", Some("ALTER TABLE decl_t2 RENAME COLUMN p TO pp"), "decl_t2",
      xinfo = Seq("(0,id,INTEGER,0,null,1,0)", "(1,a,INTEGER,1,7,0,0)", "(2,bb,TEXT,0,null,0,0)", "(3,c,INTEGER,0,null,0,0)", "(4,d,INTEGER,0,null,0,2)", "(5,e,INTEGER,0,null,0,0)", "(6,f,INTEGER,0,null,0,0)", "(7,pp,INTEGER,0,null,0,0)", "(8,g,TEXT,1,'z',0,0)"),
      indexes = Seq("(decl_t_expr,1,c,0)", "(decl_t_part,1,c,1)", "(sqlite_autoindex_decl_t2_1,1,u,0)"),
      fks = Seq("(0,0,decl_par,pp,pid,NO ACTION,NO ACTION,NONE)"),
      seq = Seq("(decl_t2,2)"),
      insert = "INSERT INTO decl_t2(a, bb, c, e, f, pp) VALUES (3, 'C', 1, 1, 3, 1)", outcome = "ok"),
    Step("DROP COLUMN", Some("ALTER TABLE decl_t2 DROP COLUMN g"), "decl_t2",
      xinfo = Seq("(0,id,INTEGER,0,null,1,0)", "(1,a,INTEGER,1,7,0,0)", "(2,bb,TEXT,0,null,0,0)", "(3,c,INTEGER,0,null,0,0)", "(4,d,INTEGER,0,null,0,2)", "(5,e,INTEGER,0,null,0,0)", "(6,f,INTEGER,0,null,0,0)", "(7,pp,INTEGER,0,null,0,0)"),
      indexes = Seq("(decl_t_expr,1,c,0)", "(decl_t_part,1,c,1)", "(sqlite_autoindex_decl_t2_1,1,u,0)"),
      fks = Seq("(0,0,decl_par,pp,pid,NO ACTION,NO ACTION,NONE)"),
      seq = Seq("(decl_t2,3)"),
      insert = "INSERT INTO decl_t2(a, bb, c, e, f, pp) VALUES (4, 'D', 1, 1, 4, 1)", outcome = "ok"),
    Step("DROP FK COLUMN", Some("ALTER TABLE decl_t2 DROP COLUMN pp"), "decl_t2",
      xinfo = Seq("(0,id,INTEGER,0,null,1,0)", "(1,a,INTEGER,1,7,0,0)", "(2,bb,TEXT,0,null,0,0)", "(3,c,INTEGER,0,null,0,0)", "(4,d,INTEGER,0,null,0,2)", "(5,e,INTEGER,0,null,0,0)", "(6,f,INTEGER,0,null,0,0)"),
      indexes = Seq("(decl_t_expr,1,c,0)", "(decl_t_part,1,c,1)", "(sqlite_autoindex_decl_t2_1,1,u,0)"),
      fks = Seq(),
      seq = Seq("(decl_t2,4)"),
      insert = "INSERT INTO decl_t2(a, bb, c, e, f) VALUES (5, 'E', 1, 1, 5)", outcome = "ok"),
    Step("DROP TABLE", Some("DROP TABLE decl_t2"), "decl_t2",
      xinfo = Seq(),
      indexes = Seq(),
      fks = Seq(),
      seq = Seq(),
      insert = "CREATE TABLE decl_t2(x INTEGER)", outcome = "ok"),
    Step("CREATE again", None, "decl_t2",
      xinfo = Seq("(0,x,INTEGER,0,null,0,0)"),
      indexes = Seq(),
      fks = Seq(),
      seq = Seq(),
      insert = "INSERT INTO decl_t2(x) VALUES (NULL)", outcome = "ok")
  )

  test("every declaration follows RENAME TO / RENAME COLUMN / DROP " +
      "COLUMN / DROP TABLE as sqlite3 reports it") {
    sql("PRAGMA foreign_keys = 1")
    try {
      sql("CREATE TABLE decl_par(id INTEGER PRIMARY KEY, tag TEXT)")
      sql("INSERT INTO decl_par VALUES (1, 'x')")
      sql("CREATE TABLE decl_t(id INTEGER PRIMARY KEY AUTOINCREMENT, " +
        "a INTEGER NOT NULL DEFAULT 7, b TEXT COLLATE NOCASE UNIQUE, " +
        "c INTEGER CHECK (c > 0), d INTEGER AS (a * 2), e INTEGER, " +
        "f INTEGER, p INTEGER REFERENCES decl_par(id), " +
        "g TEXT COLLATE NOCASE NOT NULL DEFAULT 'z') STRICT")
      sql("CREATE UNIQUE INDEX decl_t_part ON decl_t(a) WHERE e > 0")
      sql("CREATE UNIQUE INDEX decl_t_expr ON decl_t(f + 1)")
      steps.foreach { s =>
        s.ddl.foreach(sql)
        val t = s.table
        assert(pragmaRows(s"PRAGMA table_xinfo($t)").map(untyped) ==
          s.xinfo.map(untyped), s.name)
        assert(pragmaRows(s"PRAGMA index_list($t)")
          .map(r => "(" + r.drop(1).dropWhile(_ != ',').drop(1))
          .sorted == s.indexes, s.name)
        assert(pragmaRows(s"PRAGMA foreign_key_list($t)") == s.fks, s.name)
        assert(rowsOf("SELECT name, seq FROM sqlite_sequence " +
          "WHERE name LIKE 'decl%' ORDER BY name") == s.seq, s.name)
        val got = outcome(s.insert)
        assert(if (s.outcome == "ok") got == "ok"
               else got.contains(s.outcome), s"${s.name}: $got")
      }
    } finally sql("PRAGMA foreign_keys = 0")
  }

  test("PRAGMA index_list numbers seq newest-first, as sqlite3 does, " +
      "through RENAME TO and RENAME COLUMN") {
    sql("CREATE TABLE decl_ix(a TEXT, b TEXT UNIQUE, c INTEGER, d INTEGER, " +
      "UNIQUE (c, d))")
    sql("CREATE INDEX decl_ix_expr ON decl_ix(c + 1)")
    sql("CREATE UNIQUE INDEX decl_ix_part ON decl_ix(d) WHERE c > 0")
    sql("CREATE INDEX decl_ix_a ON decl_ix(d)")
    // python3 sqlite3 3.40.1 running the same statements
    def want(t: String) = Seq("(0,decl_ix_a,0,c,0)", "(1,decl_ix_part,1,c,1)",
      "(2,decl_ix_expr,0,c,0)", s"(3,sqlite_autoindex_${t}_2,1,u,0)",
      s"(4,sqlite_autoindex_${t}_1,1,u,0)")
    assert(rowsOf("PRAGMA index_list(decl_ix)") == want("decl_ix"))
    sql("ALTER TABLE decl_ix RENAME TO decl_ix2")
    assert(rowsOf("PRAGMA index_list(decl_ix2)") == want("decl_ix2"))
    sql("ALTER TABLE decl_ix2 RENAME COLUMN d TO dd")
    assert(rowsOf("PRAGMA index_list(decl_ix2)") == want("decl_ix2"))
    sql("DROP TABLE decl_ix2")
  }

  test("a partial index's WHERE guards its column: DROP COLUMN raises " +
      "sqlite3's error, RENAME COLUMN declines; writes keep working") {
    sql("CREATE TABLE decl_pw(a INTEGER, b INTEGER, c INTEGER)")
    sql("CREATE UNIQUE INDEX decl_pw_ux ON decl_pw(a) WHERE b > 0")
    val e1 = intercept[IllegalArgumentException](
      sql("ALTER TABLE decl_pw DROP COLUMN b"))
    assert(e1.getMessage.contains(
      "error in index decl_pw_ux after drop column: no such column: b"),
      e1.getMessage)
    val e2 = intercept[UnsupportedOperationException](
      sql("ALTER TABLE decl_pw RENAME COLUMN b TO bb"))
    assert(e2.getMessage.contains("referenced by index decl_pw_ux"),
      e2.getMessage)
    sql("INSERT INTO decl_pw VALUES (1, 1, 1), (1, 0, 2)")
    assert(outcome("INSERT INTO decl_pw VALUES (1, 2, 3)")
      .contains("UNIQUE constraint failed"))
    assert(rowsOf("SELECT a, b, c FROM decl_pw ORDER BY c") ==
      Seq("(1,1,1)", "(1,0,2)"))
  }

  // expected values: python3 sqlite3 3.40.1
  test("a column's own CHECKs go with it on DROP COLUMN, whatever they " +
      "read; a CHECK that reads a dropped column still refuses") {
    sql("CREATE TABLE decl_ck(a INTEGER, c INTEGER CHECK (c > 0), " +
      "e INTEGER CONSTRAINT e_a CHECK (a > -5), f INTEGER CHECK (f > a))")
    assert(outcome("ALTER TABLE decl_ck DROP COLUMN c") == "ok")
    assert(outcome("INSERT INTO decl_ck(a, e, f) VALUES (1, 1, 2)") == "ok")
    assert(outcome("ALTER TABLE decl_ck DROP COLUMN a").contains(
      "error in table decl_ck after drop column: no such column: a"))
    assert(outcome("ALTER TABLE decl_ck DROP COLUMN e") == "ok")
    assert(outcome("INSERT INTO decl_ck(a, f) VALUES (-9, 1)") == "ok")
    assert(outcome("INSERT INTO decl_ck(a, f) VALUES (3, 1)")
      .contains("CHECK constraint failed: f > a"))
    assert(outcome("ALTER TABLE decl_ck ADD COLUMN g INTEGER CHECK (g > 0)") == "ok")
    assert(outcome("ALTER TABLE decl_ck DROP COLUMN g") == "ok")
    assert(outcome("INSERT INTO decl_ck(a, f) VALUES (4, 5)") == "ok")
    assert(rowsOf("SELECT a, f FROM decl_ck ORDER BY a") ==
      Seq("(-9,1)", "(1,2)", "(4,5)"))
    assert(rowsOf("PRAGMA table_info(decl_ck)").map(untyped) ==
      Seq("(0,a,INTEGER,0,null,0)", "(1,f,INTEGER,0,null,0)").map(untyped))
  }

  // expected values: python3 sqlite3 3.40.1
  test("a plain expression index is bind-checked at CREATE and guards " +
      "the columns it reads on DROP COLUMN") {
    sql("CREATE TABLE decl_ix(a INTEGER, c INTEGER)")
    assert(outcome("CREATE INDEX decl_ix_e ON decl_ix (a + nosuch)")
      .contains("nosuch"))
    assert(outcome("CREATE INDEX decl_ix_e ON decl_ix (a + c)") == "ok")
    assert(outcome("ALTER TABLE decl_ix DROP COLUMN c").contains(
      "error in index decl_ix_e after drop column: no such column: c"))
    assert(outcome("DROP INDEX decl_ix_e") == "ok")
    assert(outcome("ALTER TABLE decl_ix DROP COLUMN c") == "ok")
    assert(rowsOf("PRAGMA table_info(decl_ix)").map(untyped) ==
      Seq("(0,a,INTEGER,0,null,0)").map(untyped))
  }

  // expected values: python3 sqlite3 3.40.1
  test("RENAME COLUMN of a column a plain expression index reads succeeds, " +
      "and the index then guards the new name on DROP COLUMN") {
    sql("CREATE TABLE decl_rn(a INTEGER, c INTEGER)")
    sql("CREATE INDEX decl_rn_e ON decl_rn (a + c)")
    sql("INSERT INTO decl_rn VALUES (1, 2)")
    assert(outcome("ALTER TABLE decl_rn RENAME COLUMN c TO d") == "ok")
    assert(outcome("ALTER TABLE decl_rn DROP COLUMN d").contains(
      "error in index decl_rn_e after drop column: no such column: d"))
    assert(outcome("ALTER TABLE decl_rn RENAME COLUMN a TO b") == "ok")
    assert(outcome("ALTER TABLE decl_rn DROP COLUMN b").contains(
      "error in index decl_rn_e after drop column: no such column: b"))
    assert(rowsOf("SELECT b, d FROM decl_rn") == Seq("(1,2)"))
    assert(outcome("DROP INDEX decl_rn_e") == "ok")
    assert(outcome("ALTER TABLE decl_rn DROP COLUMN d") == "ok")
    assert(rowsOf("PRAGMA table_info(decl_rn)").map(untyped) ==
      Seq("(0,b,INTEGER,0,null,0)").map(untyped))
  }
}

object TableDeclSpec {
  private final case class Step(name: String, ddl: Option[String],
                                table: String, xinfo: Seq[String],
                                indexes: Seq[String], fks: Seq[String],
                                seq: Seq[String], insert: String,
                                outcome: String)
}
