package graft.exec

import graft.SparkSpec
import graft.text2sql.SqlDialect

/** Column-DECLARED collations (CREATE TABLE … COLLATE NOCASE/RTRIM)
  * driving bare comparisons, ORDER BY, and GROUP BY — pinned against
  * sqlite3 3.51 running the same statements. */
class CollationSpec extends SparkSpec {

  private def sql(q: String) =
    Runner.runSql(spark, SqlDialect.translate(q))

  private def rowsOf(q: String): Seq[Seq[Any]] =
    sql(q).collect().map(_.toSeq.toSeq).toSeq

  private var n = 0
  private def fresh(): String = { n += 1; s"coll_t$n" }

  private def fixture(): String = {
    val t = fresh()
    sql(s"CREATE TABLE $t(k INTEGER, x TEXT COLLATE NOCASE, " +
      s"y TEXT COLLATE RTRIM)")
    sql(s"INSERT INTO $t VALUES (1,'Apple','pad '), (2,'apple','pad'), " +
      s"(3,'BANANA','q  '), (4,'banana','q'), (5,'cherry','r')")
    t
  }

  test("bare = over a NOCASE column folds case; RTRIM ignores " +
      "trailing spaces (measured)") {
    val t = fixture()
    assert(rowsOf(s"SELECT count(*) FROM $t WHERE x = 'APPLE'") ==
      Seq(Seq(2L)))
    assert(rowsOf(s"SELECT count(*) FROM $t WHERE 'BaNaNa' = x") ==
      Seq(Seq(2L)))
    assert(rowsOf(s"SELECT count(*) FROM $t WHERE y = 'pad   '") ==
      Seq(Seq(2L)))
    // range comparison folds too (measured: 2 — the two apples)
    assert(rowsOf(s"SELECT count(*) FROM $t WHERE x < 'b'") ==
      Seq(Seq(2L)))
  }

  test("ORDER BY a NOCASE column sorts case-insensitively (binary " +
      "order would interleave the cases — measured 1..5)") {
    val t = fixture()
    assert(rowsOf(s"SELECT k FROM $t ORDER BY x, k").flatten ==
      Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("GROUP BY a NOCASE column groups case-variants together " +
      "(measured group counts)") {
    val t = fixture()
    assert(rowsOf(
      s"""SELECT min(upper(x)) AS grp, count(*) AS n FROM $t
          GROUP BY x ORDER BY grp""") ==
      Seq(Seq("APPLE", 2L), Seq("BANANA", 2L), Seq("CHERRY", 1L)))
  }

  test("IN / NOT IN list members take the LHS column's declared " +
      "collation (SQLite datatype3.html §7.1 operand propagation — " +
      "measured against sqlite3)") {
    val t = fixture()
    assert(rowsOf(s"SELECT count(*) FROM $t WHERE x IN ('APPLE','Banana')")
      == Seq(Seq(4L)))
    assert(rowsOf(
      s"SELECT count(*) FROM $t WHERE x NOT IN ('APPLE','Banana')") ==
      Seq(Seq(1L)))
    // RTRIM propagates the same way
    assert(rowsOf(s"SELECT count(*) FROM $t WHERE y IN ('pad   ', 'zz')")
      == Seq(Seq(2L)))
  }

  test("BETWEEN / NOT BETWEEN bounds take the declared collation " +
      "(measured against sqlite3)") {
    val t = fixture()
    assert(rowsOf(s"SELECT count(*) FROM $t WHERE x BETWEEN 'B' AND 'c'")
      == Seq(Seq(2L)))
    assert(rowsOf(
      s"SELECT count(*) FROM $t WHERE x NOT BETWEEN 'B' AND 'c'") ==
      Seq(Seq(3L)))
  }

  test("IN (SELECT …) over a collated column FOLDS — the membership " +
      "comparison takes the LHS collation through a one-column " +
      "derived-table wrap (measured: sqlite3 matches 'APPLE' against " +
      "both Apple rows)") {
    val t = fixture()
    assert(rowsOf(s"SELECT CAST(count(*) AS BIGINT) FROM $t " +
      s"WHERE x IN (SELECT 'APPLE')") == Seq(Seq(2L)))
    assert(rowsOf(s"SELECT CAST(count(*) AS BIGINT) FROM $t " +
      s"WHERE x NOT IN (SELECT 'APPLE')") == Seq(Seq(3L)))
    // the explicit-COLLATE spelling folds the same subquery shape
    assert(rowsOf(s"SELECT CAST(count(*) AS BIGINT) FROM $t " +
      s"WHERE x COLLATE NOCASE IN (SELECT 'BANANA')") == Seq(Seq(2L)))
    // RTRIM declared on y: trailing spaces in the subquery result
    // are ignored (measured)
    assert(rowsOf(s"SELECT CAST(count(*) AS BIGINT) FROM $t " +
      s"WHERE y IN (SELECT 'pad   ')") == Seq(Seq(2L)))
    // a multi-column subquery still fails loudly (the one-name alias
    // cannot bind), never silent binary rows
    intercept[Exception] {
      rowsOf(s"SELECT count(*) FROM $t WHERE x IN (SELECT 'A', 'B')")
    }
  }

  test("function-wrapped comparisons stay BINARY — SQLite's own rule " +
      "(measured: substr/concat wraps drop the collation, unary + " +
      "preserves it)") {
    val t = fixture()
    // binary wrap: only the exact-lowercase 'apple' row matches (a
    // NOCASE fold would find 2 — sqlite3 measures 1 on this fixture)
    assert(rowsOf(s"SELECT CAST(count(*) AS BIGINT) FROM $t " +
      s"WHERE substr(x, 1, 5) = 'apple'") == Seq(Seq(1L)))
    assert(rowsOf(s"SELECT CAST(count(*) AS BIGINT) FROM $t " +
      s"WHERE +x = 'apple'") == Seq(Seq(2L)))
  }

  test("SELECT x, count(*) … GROUP BY x — the canonical bare-column " +
      "idiom groups case-insensitively; the projected representative " +
      "is the deterministic lowercased stand-in, named x (README)") {
    val t = fixture()
    val df = sql(s"SELECT x, count(*) AS n FROM $t GROUP BY x ORDER BY x")
    assert(df.columns.toSeq == Seq("x", "n"))
    assert(df.collect().map(_.toSeq.toSeq).toSeq ==
      Seq(Seq("apple", 2L), Seq("banana", 2L), Seq("cherry", 1L)))
    // HAVING over the grouped column folds with it
    assert(rowsOf(
      s"""SELECT x, count(*) AS n FROM $t GROUP BY x
          HAVING x <> 'CHERRY' ORDER BY x""") ==
      Seq(Seq("apple", 2L), Seq("banana", 2L)))
  }

  test("qualified references fold only under the DECLARING table's " +
      "name; aliases and other tables' same-named columns stay binary") {
    val t = fixture()
    assert(rowsOf(s"SELECT count(*) FROM $t WHERE $t.x = 'APPLE'") ==
      Seq(Seq(2L)))
    // an alias qualifier stays unfolded (conservative — documented)
    assert(rowsOf(s"SELECT count(*) FROM $t tt WHERE tt.x = 'APPLE'") ==
      Seq(Seq(0L)))
    // another table's same-named column never takes t's collation,
    // even with the collated table referenced in the same statement
    val o = fresh()
    sql(s"CREATE TABLE $o(x TEXT)")
    sql(s"INSERT INTO $o VALUES ('Apple')")
    assert(rowsOf(
      s"SELECT count(*) FROM $o, $t WHERE $o.x = 'APPLE' AND $t.k = 1")
      == Seq(Seq(0L)))
  }

  test("a CTE shadowing the collated table suppresses the fold " +
      "(SQLite scoping — the CTE's columns carry no declared collation)") {
    val t = fixture()
    assert(rowsOf(
      s"WITH $t AS (SELECT 'Apple' AS x) " +
        s"SELECT count(*) FROM $t WHERE x = 'APPLE'") == Seq(Seq(0L)))
  }

  test("an explicit COLLATE in the statement takes precedence — the " +
      "declared fold steps aside entirely (measured: BINARY finds 0)") {
    val t = fixture()
    assert(rowsOf(
      s"SELECT count(*) FROM $t WHERE x = 'APPLE' COLLATE BINARY") ==
      Seq(Seq(0L)))
  }

  test("a comment holding an apostrophe leaves the fold on (measured: " +
      "sqlite3 3.40.1 returns 1 and 2 for both comment forms)") {
    val t = fixture()
    assert(rowsOf(s"SELECT k FROM $t -- who's there\nWHERE x = 'APPLE' " +
      "ORDER BY k") == Seq(Seq(1L), Seq(2L)))
    assert(rowsOf(s"SELECT k FROM $t /* it's */ WHERE x = 'APPLE' " +
      "ORDER BY k") == Seq(Seq(1L), Seq(2L)))
  }

  test("declared collations follow ALTER renames and die with the " +
      "table; ADD COLUMN COLLATE registers") {
    val t = fixture()
    val t2 = s"${t}_r"
    sql(s"ALTER TABLE $t RENAME TO $t2")
    assert(rowsOf(s"SELECT count(*) FROM $t2 WHERE x = 'APPLE'") ==
      Seq(Seq(2L)))
    sql(s"ALTER TABLE $t2 RENAME COLUMN x TO xx")
    assert(rowsOf(s"SELECT count(*) FROM $t2 WHERE xx = 'APPLE'") ==
      Seq(Seq(2L)))
    sql(s"ALTER TABLE $t2 ADD COLUMN z TEXT COLLATE NOCASE")
    sql(s"INSERT INTO $t2 (k, xx, z) VALUES (9, 'q', 'MiXeD')")
    assert(rowsOf(s"SELECT count(*) FROM $t2 WHERE z = 'mixed'") ==
      Seq(Seq(1L)))
    sql(s"DROP TABLE $t2")
    val t3 = fresh()
    sql(s"CREATE TABLE $t3(x TEXT)") // same column name, no collation
    sql(s"INSERT INTO $t3 VALUES ('Apple')")
    assert(rowsOf(s"SELECT count(*) FROM $t3 WHERE x = 'APPLE'") ==
      Seq(Seq(0L)))
  }

  test("sqlite_master renders the declared COLLATE; table_info shape " +
      "unchanged") {
    val t = fixture()
    val master = rowsOf(
      s"SELECT sql FROM sqlite_master WHERE name = '$t'").head.head.toString
    assert(master.contains("COLLATE NOCASE"), master)
    assert(master.contains("COLLATE RTRIM"), master)
  }

  test("DML WHERE folds the declared collation too: UPDATE/DELETE " +
      "over a NOCASE column compare as declared (measured against " +
      "sqlite3); assignments stay untouched") {
    val t = fixture()
    sql(s"UPDATE $t SET k = 100 WHERE x = 'APPLE'")
    assert(rowsOf(s"SELECT count(*) FROM $t WHERE k = 100") ==
      Seq(Seq(2L)))
    // assignment VALUES never fold (SET is not a comparison): the
    // stored text keeps its case
    sql(s"UPDATE $t SET x = 'MiXeD' WHERE k = 100")
    assert(rowsOf(s"SELECT min(x) FROM $t WHERE k = 100") ==
      Seq(Seq("MiXeD")))
    // IN propagates inside the DML WHERE as well; RTRIM folds too
    sql(s"DELETE FROM $t WHERE x IN ('mixed') OR y = 'r   '")
    assert(rowsOf(s"SELECT count(*) FROM $t") == Seq(Seq(2L)))
    // DELETE ... LIMIT route folds the same way
    sql(s"DELETE FROM $t WHERE x = 'BANANA' LIMIT 1")
    assert(rowsOf(s"SELECT count(*) FROM $t") == Seq(Seq(1L)))
  }
}
