package graft.text2sql

import graft.SparkSpec
import graft.ops.Tables

class SqlDialectSpec extends SparkSpec {
  import spark.implicits._

  /** The first value of a translated SQLite query, through the
    * generated-SQL path. */
  private def answer(sqlite: String): Any =
    graft.exec.Runner.runSql(spark, SqlDialect.translate(sqlite)).head().get(0)

  test("GLOB rewrites to an anchored RLIKE that executes in Spark") {
    val sql = SqlDialect.translate(
      "SELECT p_partkey FROM part WHERE p_name GLOB '*ge?r*' ORDER BY p_partkey")
    assert(sql.contains("RLIKE"))
    Tables.t(spark, sfDir, "part").createOrReplaceTempView("part")
    val viaGlob = spark.sql(sql).count()
    val direct = spark.sql(
      "SELECT p_partkey FROM part WHERE p_name LIKE '%ge_r%' ORDER BY p_partkey").count()
    assert(viaGlob == direct)
    assert(viaGlob > 0)
  }

  test("julianday rewrites to the noon-based formula and executes") {
    val sql = SqlDialect.translate("SELECT julianday(ts) AS jd FROM events")
    // sqlite3 3.40.1: 2460374.75
    assert(answer("SELECT julianday('2024-03-05 06:00:00')") == 2460374.75)
    Tables.t(spark, sfDir, "events").createOrReplaceTempView("events")
    val jd = spark.sql(sql + " ORDER BY jd LIMIT 1").head().getDouble(0)
    assert(jd > 2460000 && jd < 2470000) // 2024 is ~JD 2460311
  }

  test("BETWEEN..COLLATE declines; spaced backtick identifiers survive GLOB and calls") {
    // postfix BETWEEN collation must decline (visible error), never
    // half-fold only the upper bound
    val s1 = SqlDialect.translate(
      "SELECT * FROM t WHERE name BETWEEN 'a' AND 'm' COLLATE NOCASE")
    assert(s1.contains("AND 'm' COLLATE NOCASE") && !s1.contains("lower('m')"), s1)
    // backtick identifier with an interior space as a GLOB operand
    val s2 = SqlDialect.translate(
      "SELECT * FROM t WHERE `Country Name` GLOB 'U*'")
    assert(s2.contains("(`Country Name` RLIKE"), s2)
    spark.sessionState.sqlParser.parsePlan(s2)
    // a comma inside a backtick identifier is not an argument separator
    val s3 = SqlDialect.translate("SELECT group_concat(`name, alias`) FROM t")
    assert(s3.contains("`name, alias`"), s3)
    spark.sessionState.sqlParser.parsePlan(s3)
  }

  test("backtick identifiers, signed IS operands, and ESCAPE+NOCASE translate safely") {
    // keyword text inside a backtick-quoted identifier is opaque
    val s1 = SqlDialect.translate("SELECT `like` FROM t WHERE `is` IS 5")
    assert(s1.contains("`like`") && s1.contains("`is`"), s1)
    // signed right operand of IS rewrites to null-safe equality
    val s2 = SqlDialect.translate("SELECT * FROM t WHERE x IS -1")
    assert(s2.contains("<=> -1"), s2)
    spark.sessionState.sqlParser.parsePlan(s2)
    // ESCAPE literal must NOT be wrapped in lower(); the ILIKE already folds
    val s3 = SqlDialect.translate(
      "SELECT * FROM t WHERE c LIKE 'a!_%' ESCAPE '!' COLLATE NOCASE")
    assert(s3.contains("ILIKE 'a!_%' ESCAPE '!'") && !s3.contains("lower('!')"), s3)
    spark.sessionState.sqlParser.parsePlan(s3)
  }

  test("GLOB on a call or parenthesized operand keeps the whole operand") {
    // regression: the parenthesized RLIKE rewrite must capture a
    // `)`-terminated LHS back to its balanced `(` plus call name —
    // grabbing only the last token would split the call
    val s1 = SqlDialect.translate("SELECT x FROM t WHERE trim( c1 ) GLOB 'a*'")
    assert(s1.contains("(trim( c1 ) RLIKE"), s1)
    val s2 = SqlDialect.translate("SELECT x FROM t WHERE ( c1 ) GLOB 'a*'")
    assert(s2.contains("(( c1 ) RLIKE"), s2)
    val s3 = SqlDialect.translate("SELECT (c1 GLOB 'a*' + 1) AS v FROM t")
    spark.sessionState.sqlParser.parsePlan(s3) // embedding stays parseable
    // a keyword glued to the paren is a conjunction, NOT a call name
    val s5 = SqlDialect.translate("SELECT x FROM t WHERE a > 0 AND(c1) GLOB 'p*'")
    assert(s5.contains("AND((c1) RLIKE"), s5)
    spark.sessionState.sqlParser.parsePlan(s5)
    // and a bare-column LHS is unchanged in shape
    val s4 = SqlDialect.translate("SELECT x FROM t WHERE c1 GLOB 'a*'")
    assert(s4.contains("(c1 RLIKE"), s4)
  }

  test("GLOB patterns with SQL-escaped quotes survive translation") {
    val sql = SqlDialect.translate("SELECT x FROM t WHERE x GLOB 'it''s*'")
    assert(sql.contains("RLIKE"))
    assert(!sql.toUpperCase.contains("GLOB"))
    // the translated predicate is lexable: one quoted literal
    assert(sql.count(_ == '\'') % 2 == 0)
  }

  test("julianday with nested calls rewrites via balanced-paren scan") {
    val sql = SqlDialect.translate(
      "SELECT julianday(max(ts)) - julianday(min(ts)) AS span FROM events")
    // sqlite3 3.40.1: 10.5
    assert(answer("SELECT julianday(max(ts)) - julianday(min(ts)) FROM " +
      "(SELECT '2024-03-01 00:00:00' AS ts UNION ALL SELECT '2024-03-11 12:00:00')") == 10.5)
    Tables.t(spark, sfDir, "events").createOrReplaceTempView("events")
    val span = spark.sql(sql).head().getDouble(0)
    assert(span > 0 && span < 60) // events span ~30 days
  }

  test("random() becomes a 64-bit BIGINT draw; Spark-valid functions untouched") {
    val t = SqlDialect.translate("SELECT random()")
    assert(answer("SELECT typeof(random())") == "integer") // sqlite3 3.40.1
    assert(SqlDialect.translate(t) == t) // fixpoint: rand never re-matches
    val passthrough = "SELECT ifnull(x, 0), instr(s, 'a'), substr(s, 1, 3) FROM t"
    assert(SqlDialect.translate(passthrough) == passthrough)
    // SQLite's idiomatic random pick keeps its meaning: abs(random())%n
    // is uniform over 0..n-1, which a bare [0,1) rand() would break
    val draws = graft.exec.Runner.runSql(spark, SqlDialect.translate(
      "SELECT abs(random()) % 10 AS d FROM range(2000)"))
      .collect().map(_.getLong(0))
    assert(draws.forall(d => d >= 0 && d <= 9))
    assert(draws.distinct.length == 10, "all 10 residues should appear")
  }

  test("hex()/quote() route to the native type-directed renderings") {
    assert(SqlDialect.translate("SELECT hex(x), quote(y) FROM t")
      == "SELECT sqlite_hex(x), sqlite_quote(y) FROM t")
    // fixpoint: hex inside sqlite_hex fails the word-boundary match
    val once = SqlDialect.translate("SELECT hex(25) AS h")
    assert(SqlDialect.translate(once) == once)
    val row = graft.exec.Runner.runSql(spark, SqlDialect.translate(
      """SELECT hex('abc') AS a, hex(25) AS b, hex(NULL) AS c,
                quote('it''s') AS d, quote(7.5) AS e, quote(NULL) AS f,
                quote(X'0AFF') AS g, hex(X'0AFF') AS h""")).head()
    assert(row.getString(0) == "616263")
    assert(row.getString(1) == "3235") // SQLite hexes the TEXT rendering
    assert(row.getString(2) == "")     // NULL → zero-length blob → ''
    assert(row.getString(3) == "'it''s'")
    assert(row.getString(4) == "7.5")
    assert(row.getString(5) == "NULL")
    assert(row.getString(6) == "X'0AFF'")
    assert(row.getString(7) == "0AFF")
  }

  test("soundex()/sign() route native — SQLite's byte-exact soundex " +
      "and INTEGER sign (all values measured on sqlite3 3.40.1)") {
    assert(SqlDialect.translate("SELECT soundex(a), sign(b) FROM t")
      == "SELECT graft_soundex(a), graft_sign(b) FROM t")
    // fixpoint: the names inside graft_* fail the word-boundary match
    val once = SqlDialect.translate("SELECT soundex('x') AS s, sign(1) AS g")
    assert(SqlDialect.translate(once) == once)
    val row = graft.exec.Runner.runSql(spark, SqlDialect.translate(
      """SELECT soundex('Robert') AS a, soundex('Ashcraft') AS b,
                soundex('b-b') AS c, soundex('1Robert') AS d,
                soundex(3.5) AS e, soundex(NULL) AS f,
                soundex('aé') AS g, soundex('') AS h,
                soundex('Pfister') AS i, soundex('Tymczak') AS j""")).head()
    // SQLite resets prevcode at every code-0 byte — 'b-b' is B100
    // where the census variant (Spark's soundex) collapses to B000;
    // leading non-alpha skips; '?000' on no-alpha and NULL; a UTF-8
    // continuation byte CONTRIBUTES via the &0x7f mask ('aé' → A200)
    assert(Seq(row.getString(0), row.getString(1), row.getString(2),
      row.getString(3), row.getString(4), row.getString(5),
      row.getString(6), row.getString(7), row.getString(8),
      row.getString(9)) ==
      Seq("R163", "A226", "B100", "R163", "?000", "?000", "A200",
        "?000", "P236", "T522"))
    val s = graft.exec.Runner.runSql(spark, SqlDialect.translate(
      """SELECT sign(-5) AS a, sign(0) AS b, sign(3.2) AS c,
                sign('abc') AS d, sign('  7  ') AS e, sign('3.5e2') AS f,
                sign('-0.0') AS g, sign(NULL) AS h""")).head()
    assert(s.getLong(0) == -1L && s.getLong(1) == 0L && s.getLong(2) == 1L)
    assert(s.isNullAt(3)) // non-numeric text → NULL, not 0
    assert(s.getLong(4) == 1L && s.getLong(5) == 1L && s.getLong(6) == 0L)
    assert(s.isNullAt(7))
  }

  test("FILTER (WHERE) on window aggregates rewrites to a CASE argument") {
    val t = SqlDialect.translate(
      "SELECT sum(x) FILTER (WHERE x > 0) OVER (PARTITION BY g) FROM t")
    assert(!t.toLowerCase.contains("filter"), t)
    assert(t.contains("sum(CASE WHEN (x > 0) THEN x END) OVER"), t)
    assert(SqlDialect.translate(t) == t) // fixpoint
    val c = SqlDialect.translate(
      "SELECT count(*) FILTER (WHERE ok) OVER () FROM t")
    assert(c.contains("count(CASE WHEN (ok) THEN 1 END) OVER"), c)
    // group-by FILTER (no OVER) is native Spark: untouched
    val g = "SELECT sum(x) FILTER (WHERE x > 0) FROM t"
    assert(SqlDialect.translate(g) == g)
    // multi-argument aggregates stay verbatim → visible parse error
    val m = "SELECT corr(x, y) FILTER (WHERE ok) OVER () FROM t"
    assert(SqlDialect.translate(m) == m)
    // FILTER-shaped text inside literals is opaque
    val lit = "SELECT 'a FILTER (WHERE x) OVER b' AS s FROM t"
    assert(SqlDialect.translate(lit) == lit)
    // executes end-to-end with FILTER's skip-the-row semantics
    import spark.implicits._
    Seq((1L, 10.0), (1L, -5.0), (2L, 3.0)).toDF("g", "x")
      .createOrReplaceTempView("wf_t")
    val rows = graft.exec.Runner.runSql(spark, SqlDialect.translate(
      """SELECT g, x,
           sum(x) FILTER (WHERE x > 0) OVER (PARTITION BY g) AS pos,
           count(*) FILTER (WHERE x < 0) OVER (PARTITION BY g) AS n_neg
         FROM wf_t ORDER BY g, x"""))
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getLong(3))).toSeq
    assert(rows == Seq((1L, 10.0, 1L), (1L, 10.0, 1L), (2L, 3.0, 0L)))
  }

  test("zeroblob/randomblob/sqlite_version execute with SQLite semantics") {
    val q = SqlDialect.translate(
      """SELECT hex(zeroblob(4)) AS z, hex(zeroblob(-3)) AS zneg,
                length(randomblob(16)) AS n, length(randomblob(0)) AS none,
                hex(randomblob(8)) AS h1, hex(randomblob(8)) AS h2,
                sqlite_version() AS v""")
    assert(SqlDialect.translate(q) == q) // fixpoint
    val row = graft.exec.Runner.runSql(spark, q).head()
    assert(row.getString(0) == "00000000")
    assert(row.getString(1) == "") // non-positive N → empty blob
    assert(row.getInt(2) == 16)   // blob length = bytes
    assert(row.getInt(3) == 1)    // SQLite: N < 1 → one random byte
    assert(row.getString(4).length == 16 && row.getString(5).length == 16)
    assert(row.getString(4) != row.getString(5), "independent draws")
    assert(row.getString(6).startsWith("3."))
    // a column or a large N (sqlite3 3.40.1: 3 and 9999)
    assert(answer("SELECT length(randomblob(x)) FROM (SELECT 3 AS x)") == 3)
    assert(answer("SELECT length(randomblob(9999))") == 9999)
  }

  test("changes()/total_changes() report executed-DML row counts") {
    import spark.implicits._
    val t0 = graft.exec.Runner.runSql(spark,
      "SELECT total_changes() AS t").head().getLong(0)
    Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L))
      .toDF("id", "v").createOrReplaceTempView("chg_t")
    graft.exec.Runner.runSql(spark, "DELETE FROM chg_t WHERE v > 25")
    assert(graft.exec.Runner.runSql(spark, "SELECT changes() AS n")
      .head().getLong(0) == 2L)
    graft.exec.Runner.runSql(spark, "UPDATE chg_t SET v = v + 1 WHERE id = 1")
    assert(graft.exec.Runner.runSql(spark, "SELECT changes() AS n")
      .head().getLong(0) == 1L)
    graft.exec.Runner.runSql(spark, "INSERT INTO chg_t VALUES (9, 90), (10, 100)")
    assert(graft.exec.Runner.runSql(spark, "SELECT changes() AS n")
      .head().getLong(0) == 2L)
    // session-cumulative, measured as a delta (the suite shares the
    // session with other DML tests)
    val t1 = graft.exec.Runner.runSql(spark,
      "SELECT total_changes() AS t").head().getLong(0)
    assert(t1 - t0 == 5L)
    // last_insert_rowid() reports the newest rowid-enabled INSERT's
    // max assigned rowid (the rowid surface materializes lazily —
    // graft.exec.Rowid; full coverage in RowidSpec)
    graft.exec.Runner.runSql(spark, "SELECT rowid FROM chg_t").collect()
    graft.exec.Runner.runSql(spark, "INSERT INTO chg_t VALUES (11, 110)")
    assert(graft.exec.Runner.runSql(spark, "SELECT last_insert_rowid() AS r")
      .head().getLong(0) == 5L)
  }

  // ---- round-2 SQLite surface --------------------------------------

  private def eventsView(): Unit =
    Tables.t(spark, sfDir, "events").createOrReplaceTempView("events")

  test("strftime maps %-directives to date_format and executes") {
    eventsView()
    val sql = SqlDialect.translate(
      "SELECT strftime('%Y-%m', ts) AS ym, strftime('%j', ts) AS doy FROM events ORDER BY event_id LIMIT 1")
    // sqlite3 3.40.1: '2024-03', '075'
    assert(answer("SELECT strftime('%Y-%m', '2024-03-15 10:20:30')") == "2024-03")
    assert(answer("SELECT strftime('%j', '2024-03-15 10:20:30')") == "075")
    val row = spark.sql(sql).head()
    assert(row.getString(0).matches("""\d{4}-\d{2}"""))
    assert(row.getString(1).matches("""\d{3}"""))
  }

  test("strftime %s and %w whole-value specials") {
    eventsView()
    val sql = SqlDialect.translate(
      "SELECT strftime('%s', ts) AS es, strftime('%w', ts) AS dow, ts FROM events ORDER BY event_id LIMIT 1")
    val row = spark.sql(sql).head()
    assert(row.getString(0).toLong > 1500000000L)
    assert((0 to 6).contains(row.getString(1).toInt))
  }

  test("date modifier chain: start of month, +N days, weekday N") {
    eventsView()
    val sql = SqlDialect.translate(
      """SELECT date(ts, 'start of month') AS som,
                date(ts, 'start of month', '+7 days') AS plus7,
                date(ts, 'weekday 1') AS mon, ts FROM events ORDER BY event_id LIMIT 1""")
    // sqlite3 3.40.1: '2024-03-01', '2024-03-08', '2024-03-18'
    assert(answer("SELECT date('2024-03-15 10:20:30', 'start of month')") == "2024-03-01")
    assert(answer("SELECT date('2024-03-15 10:20:30', 'start of month', '+7 days')")
      == "2024-03-08")
    assert(answer("SELECT date('2024-03-15 10:20:30', 'weekday 1')") == "2024-03-18")
    val row = spark.sql(sql).head()
    assert(row.getString(0).endsWith("-01"))
    assert(row.getString(1).endsWith("-08"))
    // weekday 1 = next Monday (or same day): java DayOfWeek Monday == 1
    assert(java.time.LocalDate.parse(row.getString(2)).getDayOfWeek.getValue == 1)
    // weekday never moves backward and moves < 7 days
    val d0 = row.getAs[java.time.LocalDateTime](3).toLocalDate
    val dm = java.time.LocalDate.parse(row.getString(2))
    assert(!dm.isBefore(d0) && dm.isBefore(d0.plusDays(7)))
  }

  test("datetime/time render full timestamp / clock strings") {
    eventsView()
    val sql = SqlDialect.translate(
      "SELECT datetime(ts, '+1 days', '+2 hours') AS dt, time(ts) AS tm FROM events ORDER BY event_id LIMIT 1")
    val row = spark.sql(sql).head()
    assert(row.getString(0).matches("""\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}"""))
    assert(row.getString(1).matches("""\d{2}:\d{2}:\d{2}"""))
  }

  test("iif nests and executes as if()") {
    val sql = SqlDialect.translate(
      "SELECT iif(1 < 0, 'neg', iif(2 > 1, 'x', 'y')) AS v")
    assert(answer("SELECT iif(NULL, 'a', 'b')") == "b") // sqlite3 3.40.1
    assert(spark.sql(sql).head().getString(0) == "x")
  }

  test("group_concat: distinct, separator, all-NULL group → NULL") {
    val sql = SqlDialect.translate(
      """SELECT g, group_concat(DISTINCT s) AS cs, group_concat(s, '|') AS ps
         FROM VALUES ('a','x'),('a','y'),('a','x'),('b',NULL) AS t(g, s)
         GROUP BY g ORDER BY g""")
    // sqlite3 3.40.1: 'a,b'
    assert(answer("SELECT group_concat(DISTINCT g) FROM " +
      "(SELECT 'a' AS g UNION ALL SELECT 'a' UNION ALL SELECT 'b')") == "a,b")
    val rows = spark.sql(sql).collect()
    assert(rows(0).getString(1) == "x,y")
    assert(rows(0).getString(2) == "x|x|y")
    assert(rows(1).isNullAt(1) && rows(1).isNullAt(2))
  }

  test("unicode/char/printf map to ascii/chr/format_string") {
    val sql = SqlDialect.translate(
      "SELECT unicode('G') AS u, char(71, 79) AS c, printf('%s:%d', 'k', 7) AS p")
    val row = spark.sql(sql).head()
    assert(row.getInt(0) == 71)
    assert(row.getString(1) == "GO")
    assert(row.getString(2) == "k:7")
  }

  test("CAST(x AS CHAR(10)) is a type, not a char() call") {
    val sql = SqlDialect.translate("SELECT CAST(65 AS CHAR(4)) AS c")
    assert(sql.toUpperCase.contains("AS CHAR(4)"))
  }

  test("unknown modifiers and quoted literals are left verbatim") {
    // sqlite3 3.40.1 answers NULL for an unknown modifier
    assert(answer("SELECT date(ts, 'bogus mod') FROM (SELECT '2024-01-01' AS ts)") == null)
    val lit = "SELECT 'date(x, ''start of month'')' AS s FROM t"
    assert(SqlDialect.translate(lit) == lit)
  }

  test("nested calls inside untranslatable calls still translate") {
    val sql = SqlDialect.translate(
      "SELECT custom_fn(iif(a, 1, 2), date(ts, 'start of day')) FROM t")
    assert(sql.contains("custom_fn("))
    assert(sql.contains("sqlite_date(ts, 'start of day')"), sql)
    // sqlite3 3.40.1: '1|2024-03-15'
    assert(answer("SELECT iif(1, 1, 2) || '|' || " +
      "date('2024-03-15 10:20', 'start of day')") == "1|2024-03-15")
  }

  test("CAST storage classes TEXT/REAL/BLOB/NUMERIC map to Spark types") {
    val sql = SqlDialect.translate(
      "SELECT CAST(1 AS TEXT) AS t, CAST('2.5' AS REAL) AS r, CAST(7 AS NUMERIC) AS n")
    assert(!sql.toUpperCase.contains("AS TEXT"))
    val row = spark.sql(sql).head()
    assert(row.getString(0) == "1")
    assert(row.getDouble(1) == 2.5)
    assert(row.getDouble(2) == 7.0)
    // Spark-valid cast types pass through untouched
    val ok = "SELECT CAST(x AS INTEGER), CAST(y AS DECIMAL(10,2)) FROM t"
    assert(SqlDialect.translate(ok) == ok)
  }

  test("scalar min/max become least/greatest with SQLite NULL semantics") {
    val sql = SqlDialect.translate(
      "SELECT max(3, 7) AS m, min(3, 7, 5) AS n, max(1, NULL) AS mn")
    assert(answer("SELECT max(2.5, 1)").toString == "2.5") // sqlite3 3.40.1
    val row = spark.sql(sql).head()
    assert(row.getInt(0) == 7 && row.getInt(1) == 3)
    assert(row.isNullAt(2)) // SQLite: NULL if any argument is NULL
    // single-argument (aggregate) min/max are untouched
    val agg = "SELECT min(x), max(x) FROM t GROUP BY g"
    assert(SqlDialect.translate(agg) == agg)
  }

  test("numeric trunc translates; ambiguous log passes through") {
    val sql = SqlDialect.translate("SELECT trunc(2.9), trunc(-2.9)")
    val row = spark.sql(sql).head()
    assert(row.getDouble(0) == 2.0 && row.getDouble(1) == -2.0)
    // Spark's own date trunc (2 args) passes through untouched
    val dt = "SELECT trunc(d, 'MM') FROM t"
    assert(SqlDialect.translate(dt) == dt)
    // log(x) is valid Spark SQL (natural log) — ambiguous tokens are
    // never rewritten, so it stays verbatim
    val lg = "SELECT log(x), log(2, x) FROM t"
    assert(SqlDialect.translate(lg) == lg)
  }

  test("zero-argument date functions mean 'now'; quoted text is opaque") {
    val sql = SqlDialect.translate("SELECT date() AS today, unixepoch() AS now_s")
    assert(answer("SELECT date() = date('now')") == true) // sqlite3 3.40.1: 1
    val row = spark.sql(sql).head()
    assert(row.getString(0).matches("""\d{4}-\d{2}-\d{2}"""))
    assert(row.getLong(1) > 1500000000L)
    // function-looking text inside double quotes is never rewritten
    val dq = """SELECT x FROM t WHERE msg = "iif(1,2,3)" AND n = "O'Brien""""
    assert(SqlDialect.translate(dq) == dq)
  }

  test("json_group_array/object aggregate to sorted compact JSON") {
    val sql = SqlDialect.translate(
      """SELECT g, json_group_array(s) AS a, json_group_object(s, n) AS o
         FROM VALUES ('g','y',2L),('g','x',1L) AS t(g, s, n)
         GROUP BY g""")
    val row = spark.sql(sql).head()
    assert(row.getString(1) == """["x","y"]""")
    assert(row.getString(2) == """{"x":1,"y":2}""")
  }

  test("total() sums as DOUBLE with 0.0 on empty input") {
    val sql = SqlDialect.translate(
      "SELECT total(x) AS t FROM VALUES (1), (2) AS v(x) WHERE x > 10")
    // sqlite3 3.40.1: 3.0
    assert(answer("SELECT total(x) FROM (SELECT 1 AS x UNION ALL SELECT 2)") == 3.0)
    assert(spark.sql(sql).head().getDouble(0) == 0.0)
  }

  test("unixepoch maps to unix_timestamp with modifier support") {
    eventsView()
    val sql = SqlDialect.translate(
      "SELECT unixepoch(ts, '+1 days') - unixepoch(ts) AS d FROM events LIMIT 1")
    // sqlite3 3.40.1: 1704067200
    assert(answer("SELECT unixepoch('2024-01-01 00:00:00')") == 1704067200L)
    assert(spark.sql(sql).head().getLong(0) == 86400L)
  }

  test("double-quoted tokens resolve as identifiers only when known") {
    val ids = Set("product_number", "abc123")
    val sql = SqlDialect.resolveDoubleQuoted(
      """SELECT "Product_number" FROM "abc123" WHERE flag = "1" AND note = "it''s"""",
      ids)
    assert(sql.contains("`Product_number`"))
    assert(sql.contains("FROM `abc123`"))
    assert(sql.contains("""flag = "1""""))   // unresolved → stays a literal
    // executes with real column semantics, not a constant projection
    Seq((7L, "x"), (8L, "y")).toDF("Product_number", "v")
      .createOrReplaceTempView("abc123")
    val vals = spark.sql(SqlDialect.resolveDoubleQuoted(
        """SELECT "Product_number" AS p FROM abc123 ORDER BY p""", ids))
      .collect().map(_.getLong(0)).toSeq
    assert(vals == Seq(7L, 8L))
  }

  // ---- round-3 SQLite surface: LIKE case-folding + COLLATE ---------

  test("LIKE folds ASCII case like SQLite; NOT/ESCAPE compose") {
    val sql = SqlDialect.translate(
      """SELECT 'Apple' LIKE 'a%' AS m,
                'a_b' LIKE 'a!_b' ESCAPE '!' AS esc,
                'axb' LIKE 'a!_b' ESCAPE '!' AS noesc,
                'Apple' NOT LIKE 'b%' AS nl""")
    assert(!sql.matches("(?is).*(?<![IR])LIKE.*"), sql) // every LIKE became ILIKE
    val row = spark.sql(sql).head()
    assert(row.getBoolean(0), "SQLite LIKE matches 'Apple' against 'a%'")
    assert(row.getBoolean(1), "escaped _ matches the literal underscore")
    assert(!row.getBoolean(2), "escaped _ must not act as a wildcard")
    assert(row.getBoolean(3))
  }

  test("LIKE inside string literals is never rewritten") {
    val lit = "SELECT 'I LIKE turtles' AS s FROM t"
    assert(SqlDialect.translate(lit) == lit)
    // Spark-native operators pass through untouched (no double rewrite)
    val native = "SELECT a FROM t WHERE b RLIKE 'x' AND c ILIKE 'y%'"
    assert(SqlDialect.translate(native) == native)
  }

  test("COLLATE NOCASE folds both sides of the comparison") {
    val sql = SqlDialect.translate(
      "SELECT 'Apple' = 'aPPle' COLLATE NOCASE AS a, 'x' = 'Y' COLLATE NOCASE AS b")
    assert(!sql.toLowerCase.contains("collate"), sql)
    val row = spark.sql(sql).head()
    assert(row.getBoolean(0) && !row.getBoolean(1))
    // prefix placement: X COLLATE NOCASE op Y
    val pre = SqlDialect.translate("SELECT 'AbC' COLLATE NOCASE = 'abc' AS v")
    assert(spark.sql(pre).head().getBoolean(0))
  }

  test("COLLATE NOCASE in ORDER BY sorts case-insensitively") {
    val sql = SqlDialect.translate(
      "SELECT s FROM VALUES ('b'), ('A'), ('C') AS t(s) ORDER BY s COLLATE NOCASE")
    assert(!sql.toLowerCase.contains("collate"))
    assert(spark.sql(sql).collect().map(_.getString(0)).toSeq == Seq("A", "b", "C"))
  }

  test("COLLATE NOCASE next to LIKE strips (ILIKE already folds)") {
    val sql = SqlDialect.translate(
      "SELECT 'Apple' LIKE 'a%' COLLATE NOCASE AS a, 'Apple' NOT LIKE 'b%' COLLATE NOCASE AS b")
    assert(!sql.toLowerCase.contains("collate"), sql)
    val row = spark.sql(sql).head()
    assert(row.getBoolean(0) && row.getBoolean(1))
  }

  test("COLLATE NOCASE next to IN / BETWEEN / NOT IN folds every " +
      "operand (SQLite's propagation); IN (SELECT …) folds through a " +
      "one-column derived-table wrap") {
    assert(SqlDialect.translate(
      "SELECT * FROM t WHERE x COLLATE NOCASE IN ('Apple', 'Pear')") ==
      "SELECT * FROM t WHERE lower(x) IN (lower('Apple'), lower('Pear'))")
    assert(SqlDialect.translate(
      "SELECT * FROM t WHERE x COLLATE NOCASE NOT IN ('Apple')") ==
      "SELECT * FROM t WHERE lower(x) NOT IN (lower('Apple'))")
    assert(SqlDialect.translate(
      "SELECT * FROM t WHERE x COLLATE NOCASE BETWEEN 'a' AND 'B'") ==
      "SELECT * FROM t WHERE lower(x) BETWEEN lower('a') AND lower('B')")
    assert(SqlDialect.translate(
      "SELECT * FROM t WHERE x COLLATE NOCASE NOT BETWEEN 'a' AND 'b'") ==
      "SELECT * FROM t WHERE lower(x) NOT BETWEEN lower('a') AND lower('b')")
    // a subquery list folds through the derived-table wrap — the
    // membership comparison takes the LHS collation (datatype3 §7.1)
    // without the translator editing the subquery's own text
    assert(SqlDialect.translate(
      "SELECT * FROM t WHERE x COLLATE NOCASE IN (SELECT y FROM u)") ==
      "SELECT * FROM t WHERE lower(x) IN (SELECT lower(__graft_inc) " +
        "FROM (SELECT y FROM u) AS __graft_insub(__graft_inc))")
    // the folded membership test really runs case-insensitively
    val live = SqlDialect.translate(
      "SELECT 'APPLE' COLLATE NOCASE IN ('apple', 'pear') AS v")
    assert(spark.sql(live).head().getBoolean(0), live)
    // NOT LIKE still composes: the clause strips next to NOT ILIKE
    val ok = SqlDialect.translate("SELECT 'Ab' NOT LIKE 'c%' COLLATE NOCASE AS v")
    assert(!ok.toLowerCase.contains("collate"), ok)
    assert(spark.sql(ok).head().getBoolean(0))
  }

  test("COLLATE BINARY drops to a marker comment; unknown collations " +
      "stay verbatim") {
    // the marker records the statement's explicit collation choice so
    // the column-DECLARED collation fold (exec.Collations) steps aside
    assert(SqlDialect.translate("SELECT x FROM t ORDER BY x COLLATE BINARY")
      == "SELECT x FROM t ORDER BY x /*graft_binary*/")
    // user-defined collations have no Spark counterpart: verbatim
    val custom = "SELECT x FROM t WHERE x = 'a' COLLATE MYCOLL"
    assert(SqlDialect.translate(custom) == custom)
    // COLLATE-shaped text inside literals is opaque
    val lit = "SELECT 'ORDER BY x COLLATE NOCASE' AS s FROM t"
    assert(SqlDialect.translate(lit) == lit)
  }

  test("COLLATE RTRIM folds both sides through rtrim()") {
    val sql = SqlDialect.translate(
      "SELECT 'ab   ' = 'ab' COLLATE RTRIM AS a, 'ab x' = 'ab' COLLATE RTRIM AS b, " +
        "' ab' = 'ab' COLLATE RTRIM AS c")
    assert(!sql.toLowerCase.contains("collate"), sql)
    val row = spark.sql(sql).head()
    // trailing spaces ignored; interior/leading spaces still compare
    assert(row.getBoolean(0) && !row.getBoolean(1) && !row.getBoolean(2))
    // prefix placement: X COLLATE RTRIM op Y
    val pre = SqlDialect.translate("SELECT 'ab ' COLLATE RTRIM = 'ab' AS v")
    assert(spark.sql(pre).head().getBoolean(0))
    // ordering: binary-compare says 'a  ' > 'a'; under RTRIM they tie,
    // so <= flips to true ONLY if the fold really applied
    val ord = SqlDialect.translate("SELECT 'a  ' <= 'a' COLLATE RTRIM AS v")
    assert(spark.sql(ord).head().getBoolean(0))
  }

  test("COLLATE RTRIM in ORDER BY sorts with trailing spaces ignored") {
    // under binary compare 'a' sorts BEFORE 'a   '; under the RTRIM
    // fold they tie and the DESC tiebreak puts 'a   ' first — the
    // order below is only reachable if the fold applied
    val sql = SqlDialect.translate(
      "SELECT s FROM VALUES ('a'), ('a   '), ('b') AS t(s) ORDER BY s COLLATE RTRIM, s DESC")
    assert(!sql.toLowerCase.contains("collate") && sql.contains("rtrim(s)"), sql)
    assert(spark.sql(sql).collect().map(_.getString(0)).toSeq == Seq("a   ", "a", "b"))
  }

  test("COLLATE RTRIM next to LIKE strips; IN/BETWEEN fold through rtrim()") {
    // SQLite's LIKE does not honor collating sequences — the clause is
    // a no-op there, so stripping preserves semantics
    val like = SqlDialect.translate("SELECT 'Apple' LIKE 'a%' COLLATE RTRIM AS v")
    assert(!like.toLowerCase.contains("collate"), like)
    assert(spark.sql(like).head().getBoolean(0))
    assert(SqlDialect.translate(
      "SELECT * FROM t WHERE x COLLATE RTRIM IN ('a', 'b')") ==
      "SELECT * FROM t WHERE rtrim(x) IN (rtrim('a'), rtrim('b'))")
    assert(SqlDialect.translate(
      "SELECT * FROM t WHERE x COLLATE RTRIM BETWEEN 'a' AND 'b'") ==
      "SELECT * FROM t WHERE rtrim(x) BETWEEN rtrim('a') AND rtrim('b')")
    val live = SqlDialect.translate(
      "SELECT 'a   ' COLLATE RTRIM IN ('a', 'b') AS v")
    assert(spark.sql(live).head().getBoolean(0), live)
  }

  test("GLOB/random-shaped text inside literals is opaque") {
    val lit1 = "SELECT 'call random() now' AS s FROM t"
    assert(SqlDialect.translate(lit1) == lit1)
    val lit2 = "SELECT 'a GLOB pattern: x GLOB y' AS s FROM t"
    assert(SqlDialect.translate(lit2) == lit2)
  }

  test("IS between operands becomes null-safe <=>; NULL/TRUE forms untouched") {
    val sql = SqlDialect.translate(
      "SELECT 5 IS 5 AS a, NULL IS NULL AS b, 5 IS NOT 4 AS c, CAST(NULL AS INT) IS 5 AS d")
    val row = spark.sql(sql).head()
    assert(row.getBoolean(0) && row.getBoolean(1) && row.getBoolean(2) && !row.getBoolean(3))
    // Spark-parseable IS forms pass through verbatim
    val ok = "SELECT x IS NULL, x IS NOT NULL, b IS TRUE, y IS DISTINCT FROM z FROM t"
    assert(SqlDialect.translate(ok) == ok)
  }

  test("LIMIT offset, count becomes LIMIT count OFFSET offset") {
    val sql = SqlDialect.translate(
      "SELECT x FROM VALUES (1), (2), (3), (4) AS t(x) ORDER BY x LIMIT 1, 2")
    assert(sql.toUpperCase.contains("LIMIT 2 OFFSET 1"), sql)
    assert(spark.sql(sql).collect().map(_.getInt(0)).toSeq == Seq(2, 3))
    // plain LIMIT untouched
    val plain = "SELECT x FROM t ORDER BY x LIMIT 5"
    assert(SqlDialect.translate(plain) == plain)
  }

  test("julianday with modifiers shifts the Julian value") {
    eventsView()
    val sql = SqlDialect.translate(
      "SELECT julianday(ts, '+1 days') - julianday(ts) AS shift FROM events LIMIT 1")
    assert(math.abs(spark.sql(sql).head().getDouble(0) - 1.0) < 1e-9)
  }

  // ---- round-6 SQLite surface: %U/%W week numbers + DML ------------

  test("strftime %U/%W week numbers match C strftime at year boundaries") {
    // expectations pinned from C strftime (verified against 2019-2030):
    // week 01 starts at the year's first Sunday (%U) / Monday (%W);
    // days before it are week 00
    val cases = Seq(
      ("2024-01-01", "00", "01"), // Monday: first Monday → W=01, pre-first-Sunday → U=00
      ("2023-01-01", "01", "00"), // Sunday: mirror case
      ("2024-01-07", "01", "01"), // first Sunday of 2024
      ("2024-12-31", "52", "53"), // leap-year tail
      ("2022-01-01", "00", "00")) // Saturday: before both week starts
    for ((d, u, w) <- cases) {
      val sql = SqlDialect.translate(
        s"SELECT strftime('%U', ts) AS u, strftime('%W', ts) AS w " +
          s"FROM VALUES (CAST('$d 12:00:00' AS TIMESTAMP)) AS t(ts)")
      // the same week numbers from the text time value
      assert(answer(s"SELECT strftime('%U|%W', '$d 12:00:00')") == s"$u|$w")
      val row = spark.sql(sql).head()
      assert(row.getString(0) == u && row.getString(1) == w,
        s"$d: got (${row.getString(0)}, ${row.getString(1)}), want ($u, $w)")
    }
  }

  test("strftime mixed formats concat date_format segments and computed pieces") {
    val sql = SqlDialect.translate(
      "SELECT strftime('%Y-W%W', ts) AS yw, strftime('week %U of %Y', ts) AS s " +
        "FROM VALUES (CAST('2024-03-15 00:00:00' AS TIMESTAMP)) AS t(ts)")
    val row = spark.sql(sql).head()
    assert(row.getString(0) == "2024-W11", row.getString(0))
    assert(row.getString(1) == "week 10 of 2024", row.getString(1))
    // genuinely exotic directives still decline the whole call
    // sqlite3 3.40.1 answers NULL for an unknown directive
    assert(answer("SELECT strftime('%c', '2024-03-15')") == null)
  }

  test("strftime ISO directives %V/%G/%g/%u and C composites %F/%T/%R") {
    // ISO-8601 edges: Jan 1 2021 (Friday) belongs to ISO week 53 of
    // 2020; Dec 30 2024 (Monday) belongs to ISO week 1 of 2025
    val cases = Seq(
      ("2021-01-01", "53", "2020", "20", "5"),
      ("2024-12-30", "01", "2025", "25", "1"),
      ("2024-03-15", "11", "2024", "24", "5"))
    for ((d, v, gy, g2, u) <- cases) {
      val sql = SqlDialect.translate(
        s"SELECT strftime('%V', ts), strftime('%G', ts), strftime('%g', ts), " +
          s"strftime('%u', ts) FROM VALUES (CAST('$d 06:00:00' AS TIMESTAMP)) AS t(ts)")
      // the same answer from the text time value
      assert(answer(s"SELECT strftime('%V|%G|%g|%u', '$d 06:00:00')")
        == s"$v|$gy|$g2|$u")
      val r = spark.sql(sql).head()
      assert((r.getString(0), r.getString(1), r.getString(2), r.getString(3))
        == ((v, gy, g2, u)), s"$d")
    }
    val sql = SqlDialect.translate(
      "SELECT strftime('%F %T', ts), strftime('%R', ts) " +
        "FROM VALUES (CAST('2024-03-15 06:07:08' AS TIMESTAMP)) AS t(ts)")
    val r = spark.sql(sql).head()
    assert(r.getString(0) == "2024-03-15 06:07:08" && r.getString(1) == "06:07")
  }

  test("format() aliases printf; 2-arg iif; %k/%l space-padded hours") {
    val sql = SqlDialect.translate(
      "SELECT format('%s-%d', 'a', 7) AS f, iif(1 > 2, 'x') AS n, " +
        "iif(2 > 1, 'y') AS y, strftime('%k|%l', ts) AS hrs " +
        "FROM VALUES (CAST('2024-03-15 06:07:08' AS TIMESTAMP)) AS t(ts)")
    assert(answer("SELECT format('%d items', 42.7)") == "42 items") // sqlite3 3.40.1
    val r = spark.sql(sql).head()
    assert(r.getString(0) == "a-7")
    assert(r.isNullAt(1) && r.getString(2) == "y")
    assert(r.getString(3) == " 6| 6", r.getString(3))
    val pm = SqlDialect.translate(
      "SELECT strftime('%k|%l', ts) AS hrs " +
        "FROM VALUES (CAST('2024-03-15 13:00:00' AS TIMESTAMP)) AS t(ts)")
    assert(spark.sql(pm).head().getString(0) == "13| 1")
    // midnight: %k = " 0", %l = "12"
    val mid = SqlDialect.translate(
      "SELECT strftime('%k|%l', ts) AS hrs " +
        "FROM VALUES (CAST('2024-03-15 00:30:00' AS TIMESTAMP)) AS t(ts)")
    assert(spark.sql(mid).head().getString(0) == " 0|12")
  }

  test("JSON1 scalar functions: json_extract, json, json_valid, lengths") {
    def one(expr: String): Any = {
      val sql = SqlDialect.translate("SELECT " + expr)
      spark.sql(sql).head().get(0)
    }
    assert(one("""json_extract('{"a":{"b":7}}', '$.a.b')""") == "7")
    // multi-path: JSON array with null placeholders for missing paths
    assert(one("""json_extract('{"a":1,"c":"x"}', '$.a', '$.b', '$.c')""")
      == """[1,null,"x"]""")
    assert(one("""json('  {"a": 1, "b" : [1, 2]}  ')""") == """{"a":1,"b":[1,2]}""")
    assert(one("""json_valid('{"a":1}')""") == true)
    assert(one("""json_valid('{bad')""") == false)
    assert(one("""json_valid(NULL)""") == null)
    assert(one("""json_array_length('[1,2,3]')""") == 3)
    // 1-arg form is native Spark: NULL (not SQLite's 0) on non-array —
    // documented divergence; rewriting it would break idempotence
    assert(one("""json_array_length('{"a":1}')""") == null)
    assert(one("""json_array_length('nonsense')""") == null)
    assert(one("""json_array_length('{"a":[1,2]}', '$.a')""") == 2)
    assert(one("""json_array_length('{"a":[1,2]}', '$.b')""") == null)
    assert(one("""likely(7) + unlikely(3) + likelihood(5, 0.5)""") == 15)
  }

  test("JSON1 constructors: json_array / json_object, subtype nesting") {
    def one(expr: String): Any =
      spark.sql(SqlDialect.translate("SELECT " + expr)).head().get(0)
    assert(one("""json_array(1, 'a"b', NULL, 2.5)""") == """[1,"a\"b",null,2.5]""")
    assert(one("json_array()") == "[]")
    assert(one("""json_object('a', 1, 'b', 'x', 'c', NULL)""")
      == """{"a":1,"b":"x","c":null}""")
    // JSON-subtype rule: a nested json_*/json() value splices as JSON,
    // a plain string that LOOKS like JSON stays a quoted string
    assert(one("""json_object('nested', json_array(1,2))""")
      == """{"nested":[1,2]}""")
    assert(one("""json_array(json('[1,2]'), '[3]')""") == """[[1,2],"[3]"]""")
    // column labels (sqlite3 3.40.1: '{"a":1}')
    assert(answer("SELECT json_object(k, v) FROM (SELECT 'a' AS k, 1 AS v)")
      == """{"a":1}""")
  }

  test("JSON -> and ->> operators: paths, bare keys, indexes, chains") {
    def one(expr: String): Any =
      spark.sql(SqlDialect.translate("SELECT " + expr)).head().get(0)
    // ->> unquotes strings; -> keeps the JSON representation
    assert(one("""'{"a":{"b":"s"}}' -> 'a' ->> 'b'""") == "s")
    assert(one("""'{"a":{"b":"s"}}' -> 'a' -> 'b'""") == "\"s\"")
    assert(one("""'{"a":{"b":2}}' -> 'a'""") == """{"b":2}""")
    // bare key and integer-index RHS normalize to $-paths
    assert(one("""'[10,20,30]' -> 1""") == "20")
    assert(one("""'{"k": 69}' ->> '$.k'""") == "69")
    // literal LHS with embedded spaces and '' escapes survives the scan
    assert(one("""'{"it''s": 1}' ->> '$'""") == """{"it's":1}""")
    // missing key → NULL
    assert(one("""'{"a":1}' ->> 'zzz'""") == null)
    // column LHS through a real plan
    val df = spark.sql(SqlDialect.translate(
      """SELECT props ->> 'k' AS k FROM VALUES ('{"k": 42}') AS t(props)"""))
    assert(df.head().getString(0) == "42")
    // non-literal RHS declines verbatim (visible failure, no rewrite)
    val declined = "SELECT data -> other_col FROM t"
    assert(SqlDialect.translate(declined) == declined)
    // a SQLite line comment starting `-->` is not an arrow
    assert(SqlDialect.translate("SELECT 1 --> 'x'\n") == "SELECT 1 --> 'x'\n")
  }

  test("2-arg ltrim/rtrim/trim swap to Spark's legacy (trimStr, src) order") {
    def one(expr: String): Any =
      spark.sql(SqlDialect.translate("SELECT " + expr)).head().get(0)
    // SQLite is (src, trimChars); untranslated these return '' / 'x…'
    assert(one("ltrim('xxay', 'x')") == "ay")
    assert(one("rtrim('axyy', 'y')") == "ax")
    assert(one("trim('xayx', 'x')") == "ay")
    // 1-arg forms pass through untouched
    assert(one("ltrim('  pad  ')") == "pad  ")
    assert(one("trim('  s  ')") == "s")
  }

  test("printf casts args per conversion; %i, SQLite-only verbs decline") {
    def one(expr: String): Any =
      spark.sql(SqlDialect.translate("SELECT " + expr)).head().get(0)
    // untranslated, Java's Formatter throws `f != Decimal` on these
    assert(one("printf('%.2f', 3.14159)") == "3.14")
    assert(one("printf('%d items', 42.7)") == "42 items")
    assert(one("printf('[%5i]', 7)") == "[    7]")
    assert(one("printf('%x|%o', 255, 8)") == "ff|10")
    assert(one("printf('%,d', 1234567)") == "1,234,567")
    // SQL-escaping conversions render as %s over a transformed arg
    // (through runSql so sqlite_quote resolves)
    def r(expr: String): Any =
      graft.exec.Runner.runSql(spark,
        SqlDialect.translate("SELECT " + expr)).head().get(0)
    assert(r("printf('%q', 'it''s')") == "it''s")
    assert(r("printf('set x = ''%q''', 'a')") == "set x = 'a'")
    assert(r("printf('%Q', 'it''s')") == "'it''s'")
    assert(r("printf('%Q', NULL)") == "NULL")
    assert(r("printf('%q', NULL)") == "") // Java Formatter would say "null"
    assert(r("""printf('%w', 'a"b')""") == "a\"\"b")
    // %c and a missing argument (sqlite3 3.40.1: 'x', '50')
    assert(r("printf('%c', 'xyz')") == "x")
    assert(r("printf('%d%d', 5)") == "50")
  }

  test("glob() function form, concat NULL-skip, string_agg") {
    def one(expr: String): Any =
      spark.sql(SqlDialect.translate("SELECT " + expr)).head().get(0)
    assert(one("glob('a*c', 'abc')") == true)   // (pattern, string) order
    assert(one("glob('a?d', 'abc')") == false)
    assert(one("concat('a', NULL, 'b')") == "ab") // Spark concat → NULL
    assert(one("concat(NULL)") == "")
    // string_agg = group_concat alias: sorted for determinism
    assert(one("string_agg(x, '|') FROM VALUES ('b'),('a') AS t(x)") == "a|b")
    // typeof → the native sqlite_typeof (distinct name: 'typeof'
    // inside it fails the word-boundary match, keeping the fixpoint)
    val q = "SELECT typeof(x) FROM t"
    assert(SqlDialect.translate(q) == "SELECT sqlite_typeof(x) FROM t")
    assert(one("typeof(3.5)") == "real")
    assert(one("typeof(3)") == "integer")
    assert(one("typeof('s')") == "text")
    assert(one("typeof(NULL)") == "null")
  }

  test("negative LIMIT (SQLite: no limit) is removed; OFFSET survives") {
    val s1 = SqlDialect.translate(
      "SELECT x FROM VALUES (1),(2),(3) AS t(x) ORDER BY x LIMIT -1")
    assert(!s1.toUpperCase.contains("LIMIT"), s1)
    assert(spark.sql(s1).count() == 3)
    // offset still applies under a negative limit, as in SQLite
    val s2 = SqlDialect.translate(
      "SELECT x FROM VALUES (1),(2),(3) AS t(x) ORDER BY x LIMIT -1 OFFSET 1")
    assert(spark.sql(s2).count() == 2, s2)
    // comma form normalizes first: LIMIT off, -1 → unlimited from off
    val s3 = SqlDialect.translate(
      "SELECT x FROM VALUES (1),(2),(3) AS t(x) ORDER BY x LIMIT 1, -1")
    assert(spark.sql(s3).count() == 2, s3)
    // positive limits and arithmetic are untouched
    val keep = "SELECT x FROM t LIMIT 5"
    assert(SqlDialect.translate(keep) == keep)
    val arith = "SELECT x FROM t LIMIT -1+2"
    assert(SqlDialect.translate(arith) == arith)
  }

  test("%p upper and %P lower am/pm markers") {
    // SQLite (C strftime): %p = "AM"/"PM", %P = "am"/"pm"
    for ((t, want) <- Seq("2024-03-15 06:07:08" -> "06AM|06am",
                          "2024-03-15 13:00:00" -> "01PM|01pm",
                          "2024-03-15 00:30:00" -> "12AM|12am",
                          "2024-03-15 12:00:00" -> "12PM|12pm")) {
      val sql = SqlDialect.translate(
        s"SELECT strftime('%I%p|%I%P', ts) AS s " +
          s"FROM VALUES (CAST('$t' AS TIMESTAMP)) AS t(ts)")
      // the same markers from the text time value
      assert(answer(s"SELECT strftime('%I%p|%I%P', '$t')") == want, t)
      assert(spark.sql(sql).head().getString(0) == want, t)
    }
  }

  test("'unixepoch' modifier reinterprets the base value as Unix seconds") {
    val sql = SqlDialect.translate(
      "SELECT datetime(1700000123, 'unixepoch') AS dt, " +
        "date(1700000123, 'unixepoch', '+1 days') AS d1, " +
        "strftime('%Y', 1700000123, 'unixepoch') AS y")
    // sqlite3 3.40.1: '1700000123'
    assert(answer("SELECT strftime('%s', 1700000123, 'unixepoch')") == "1700000123")
    val row = spark.sql(sql).head()
    assert(row.getString(0) == "2023-11-14 22:15:23", row.getString(0))
    assert(row.getString(1) == "2023-11-15")
    assert(row.getString(2) == "2023")
    // 'unixepoch' is only valid as the FIRST modifier (SQLite rule) —
    // elsewhere sqlite3 3.40.1 answers NULL
    assert(answer(
      "SELECT date(x, '+1 days', 'unixepoch') FROM (SELECT 1700000000 AS x)") == null)
  }

  test("a line comment ending a rebuilt argument does not swallow its `)`") {
    // each site rebuilds an argument list and closes it after the
    // argument text, so the comment has to go with the rebuild
    // sqlite3 3.40.1: 2
    assert(answer("SELECT iif(x, 1, 2 -- two\n) FROM (SELECT 0 AS x)") == 2)
    assert(SqlDialect.translate(
      "SELECT * FROM t WHERE x COLLATE NOCASE IN ('Apple' -- fruit\n)") ==
      "SELECT * FROM t WHERE lower(x) IN (lower('Apple'))")
    val f = SqlDialect.translate(
      "SELECT sum(x -- it's x\n) FILTER (WHERE x > 0 -- positive\n) OVER () FROM t")
    assert(f.contains("sum(CASE WHEN (x > 0) THEN x END) OVER"), f)
  }

  test("a comment between an operand and its operator stays out of the operand") {
    Seq(("abc", 1L)).toDF("s", "x").createOrReplaceTempView("cmt_t")
    // sqlite3 3.40.1 answers [(1,)] for each
    for (q <- Seq(
        "SELECT x FROM cmt_t WHERE s /* c */ GLOB 'a*'",
        "SELECT x FROM cmt_t WHERE (s) /* ) */ GLOB 'a*'",
        "SELECT x FROM cmt_t WHERE x /* c */ IS 1",
        "SELECT x FROM cmt_t WHERE x -- c\n IS NOT 2",
        "SELECT x FROM cmt_t WHERE s /* c */ COLLATE NOCASE = 'ABC'",
        "SELECT x FROM cmt_t WHERE 'ABC' = /* c */ s /* d */ COLLATE NOCASE")) {
      val t = SqlDialect.translate(q)
      assert(spark.sql(t).collect().map(_.getLong(0)).toSeq == Seq(1L), t)
    }
  }

  // ---- one builder per function: answers sqlite3 3.40.1 gives ------

  test("unixepoch and strftime('%s') floor a pre-1970 fraction, as sqlite3 does") {
    // sqlite3 3.40.1: -1 and '-1' (truncating toward zero gives 0)
    assert(answer("SELECT unixepoch('1969-12-31 23:59:59.5')") == -1L)
    assert(answer("SELECT strftime('%s', '1969-12-31 23:59:59.5')") == "-1")
  }

  test("json_array/json_object render booleans as 1/0, as the JSON editors do") {
    // sqlite3 3.40.1: '[1,2.5,"a"]', '{"k":0}', '{"n":[1]}'
    assert(answer("SELECT json_array(1=1, 2.5, 'a')") == "[1,2.5,\"a\"]")
    assert(answer("SELECT json_object('k', 1>2)") == "{\"k\":0}")
    assert(answer("SELECT json_object('n', json_array(1=1))") == "{\"n\":[1]}")
    assert(answer("SELECT json_set('{}', '$.b', 1=1)") == "{\"b\":1}")
  }

  test("char and unicode beyond ASCII; unicode('') is NULL") {
    // sqlite3 3.40.1: 'E282AC', 'C4AC', NULL, 8364, '410042', 'EFBFBD'
    assert(answer("SELECT hex(char(8364))") == "E282AC")
    assert(answer("SELECT hex(char(300))") == "C4AC")
    assert(answer("SELECT char(8364)") == "\u20ac")
    assert(answer("SELECT unicode('')") == null)
    assert(answer("SELECT unicode('\u20ac')") == 8364)
    assert(answer("SELECT hex(char(65, NULL, 66))") == "410042")
    assert(answer("SELECT hex(char(-1))") == "EFBFBD")
  }
}
