package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Golden matrix for the JSON1 mutation surface, generated against
  * REAL SQLite 3.40 (python sqlite3, same literal expressions) —
  * every row is (SQL expression, SQLite's exact result). Literal
  * expressions exercise the interpreted eval path (constant folding);
  * the column-based tests below exercise codegen.
  */
class SqliteJsonSpec extends SparkSpec {
  private val golden: Seq[(String, String)] = Seq(
    ("json_set('{\"a\":1}', '$.b', 2)", "{\"a\":1,\"b\":2}"),
    ("json_set('{}', '$.a.b', 2)", "{\"a\":{\"b\":2}}"),
    ("json_set('{\"a\":{\"x\":1}}', '$.a.y', 2)", "{\"a\":{\"x\":1,\"y\":2}}"),
    ("json_set('[1,2]', '$[#]', 3)", "[1,2,3]"),
    ("json_set('[1,2]', '$[0]', 9)", "[9,2]"),
    ("json_set('[1,2]', '$[#-1]', 9)", "[1,9]"),
    ("json_set('[1,2]', '$[2]', 9)", "[1,2,9]"),
    ("json_set('[1,2]', '$[5]', 9)", "[1,2]"),
    ("json_set('{}', '$.a[0]', 1)", "{\"a\":[1]}"),
    ("json_set('{}', '$.a[1]', 1)", "{}"),
    ("json_set('{\"a\":3}', '$.a.b', 9)", "{\"a\":3}"),
    ("json_set('{\"A\":1}', '$.a', 2)", "{\"A\":1,\"a\":2}"),
    ("json_set('{\"a\": 1 }', '$.c', 1, '$.d', 2)", "{\"a\":1,\"c\":1,\"d\":2}"),
    ("json_set('5', '$', 9)", "9"),
    ("json_set('{\"a\":1}', '$.b', 'tx\"t')", "{\"a\":1,\"b\":\"tx\\\"t\"}"),
    ("json_set('{\"a\":1}', '$.b', 2.5)", "{\"a\":1,\"b\":2.5}"),
    ("json_set('{\"a\":1}', '$.b', NULL)", "{\"a\":1,\"b\":null}"),
    ("json_set('{\"a\":1}')", "{\"a\":1}"),
    ("json_set('{\"a b\":{}}', '$.\"a b\".c', 1)", "{\"a b\":{\"c\":1}}"),
    ("json_set('[1.50, 2e2]', '$[#]', 3)", "[1.50,2e2,3]"),
    ("json_insert('{\"a\":1}', '$.a', 9)", "{\"a\":1}"),
    ("json_insert('{\"a\":1}', '$.b', 9)", "{\"a\":1,\"b\":9}"),
    ("json_insert('{}', '$.a.b', 9)", "{\"a\":{\"b\":9}}"),
    ("json_insert('[1,2]', '$[#]', 5)", "[1,2,5]"),
    ("json_insert('5', '$', 9)", "5"),
    ("json_replace('{\"a\":1}', '$.a', 9)", "{\"a\":9}"),
    ("json_replace('{\"a\":1}', '$.b', 9)", "{\"a\":1}"),
    ("json_replace('5', '$', 9)", "9"),
    ("json_remove('{\"a\":1,\"b\":2}', '$.a')", "{\"b\":2}"),
    ("json_remove('[1,2,3]', '$[1]')", "[1,3]"),
    ("json_remove('[1,2,3]', '$[5]')", "[1,2,3]"),
    ("json_remove('[[1,2],3]', '$[0][1]')", "[[1],3]"),
    ("json_remove('[1,2,3]', '$[1]', '$[1]')", "[1]"),
    ("json_remove('{\"a\":1}')", "{\"a\":1}"),
    ("json_remove('[1]', '$')", null),
    ("json_remove('[1,2,3]', '$[#-1]')", "[1,2]"),
    ("json_type('{\"a\":[1]}')", "object"),
    ("json_type('{\"a\":[1]}', '$.a')", "array"),
    ("json_type('{\"a\":[1]}', '$.b')", null),
    ("json_type('3.5')", "real"),
    ("json_type('3')", "integer"),
    ("json_type('2e2')", "real"),
    ("json_type('true')", "true"),
    ("json_type('null')", "null"),
    ("json_type('\"x\"')", "text"),
    ("json_type('{\"a\":1}', NULL)", null),
    ("json_quote(3.5)", "3.5"),
    ("json_quote(3)", "3"),
    ("json_quote('t\"x')", "\"t\\\"x\""),
    ("json_quote(NULL)", "null"),
    ("json_patch('{\"a\":1,\"b\":2}','{\"b\":null,\"c\":3}')", "{\"a\":1,\"c\":3}"),
    ("json_patch('{\"a\":{\"x\":1}}','{\"a\":{\"y\":2}}')", "{\"a\":{\"x\":1,\"y\":2}}"),
    ("json_patch('{\"a\":1}','[1,2]')", "[1,2]"),
    ("json_patch('[1,2]','{\"a\":1}')", "{\"a\":1}"),
    ("json_patch('{\"a\":{\"x\":1}}','{\"a\":null}')", "{}"),
  )

  golden.foreach { case (exprSql, want) =>
    test(s"golden: $exprSql") {
      val got = spark.sql(s"SELECT $exprSql AS r").head().getString(0)
      assert(got == want, s"\n  got  $got\n  want $want")
    }
  }

  test("json_each rows match SQLite (golden): types, rendering, fullkey quoting") {
    // SQLite 3.40: SELECT key,value,type,atom,fullkey,path FROM
    // json_each('[true, false, null, 2.5, "t x"]')
    val rows = spark.sql(
      """SELECT key, value, type, atom, fullkey, path
         FROM json_each('[true, false, null, 2.5, "t x"]')""").collect()
      .map(r => (0 to 5).map(i => r.get(i)).toList)
    assert(rows.toList == List(
      List("0", "1", "true", "1", "$[0]", "$"),
      List("1", "0", "false", "0", "$[1]", "$"),
      List("2", null, "null", null, "$[2]", "$"),
      List("3", "2.5", "real", "2.5", "$[3]", "$"),
      List("4", "t x", "text", "t x", "$[4]", "$")))
    // object iteration + non-bare key quoting in fullkey
    val obj = spark.sql(
      """SELECT key, fullkey FROM json_each('{"a b":1}')""").head()
    assert(obj.getString(0) == "a b" && obj.getString(1) == "$.\"a b\"")
    // path argument scopes the iteration; missing path → empty
    assert(spark.sql(
      """SELECT value FROM json_each('{"a":{"b":1}}', '$.a')""")
      .head().getString(0) == "1")
    assert(spark.sql(
      """SELECT * FROM json_each('{"a":1}', '$.zz')""").count() == 0)
    // scalar document: one row, NULL key
    val sc = spark.sql("SELECT key, value, type FROM json_each('7')").head()
    assert(sc.isNullAt(0) && sc.getString(1) == "7" && sc.getString(2) == "integer")
  }

  test("json_tree walks DFS with parent linkage; root row first") {
    val rows = spark.sql(
      """SELECT key, value, type, id, parent, fullkey, path
         FROM json_tree('{"a":{"x":[1,2]}}')""").collect()
    val asList = rows.map(r => (r.get(0), r.get(1), r.get(2), r.get(5), r.get(6))).toList
    assert(asList == List(
      (null, """{"a":{"x":[1,2]}}""", "object", "$", "$"),
      ("a", """{"x":[1,2]}""", "object", "$.a", "$"),
      ("x", "[1,2]", "array", "$.a.x", "$.a"),
      ("0", "1", "integer", "$.a.x[0]", "$.a.x"),
      ("1", "2", "integer", "$.a.x[1]", "$.a.x")))
    // parent ids link each row to its container row (ordinal scheme —
    // SQLite's exact ids are documented as an implementation detail)
    val byId = rows.map(r => r.getInt(3) -> r).toMap
    rows.filter(!_.isNullAt(4)).foreach { r =>
      val parent = byId(r.getInt(4))
      assert(r.getString(6) == parent.getString(5),
        "row's path must equal its parent's fullkey")
    }
  }

  test("json_tree/json_each non-root paths match SQLite 3.40.1 (golden)") {
    // (key, fullkey, path) triples pinned against python sqlite3
    // 3.40.1. json_tree RE-RENDERS the path argument: quoted-bare
    // keys canonicalize ($."a" → $.a) and every array step prints
    // [0] (SQLite's iterator counter — '$[1][1]' reports '$[0][0]');
    // root path is the parent prefix; root key is the object key only
    // for a container under a key step. json_each carries the
    // argument VERBATIM ('$[#-1]' stays) and scalar rows have NULL key.
    def rows(sql: String): List[(String, String, String)] =
      spark.sql(s"SELECT key, fullkey, path FROM $sql").collect()
        .map(r => (if (r.isNullAt(0)) null else r.getString(0),
                   r.getString(1), r.getString(2))).toList
    val treeGolden = Seq(
      """json_tree('{"a":{"b":1}}','$.a')""" ->
        List(("a", "$.a", "$"), ("b", "$.a.b", "$.a")),
      """json_tree('{"a":7}','$.a')""" ->
        List((null, "$.a", "$")),
      """json_tree('[1,[2,3]]','$[1]')""" ->
        List((null, "$[0]", "$"), ("0", "$[0][0]", "$[0]"),
             ("1", "$[0][1]", "$[0]")),
      """json_tree('[1,2,3]','$[#-1]')""" ->
        List((null, "$[0]", "$")),
      """json_tree('{"a":{"b":1}}','$."a"')""" ->
        List(("a", "$.a", "$"), ("b", "$.a.b", "$.a")),
      """json_tree('[0,[1,[2]]]','$[1][1]')""" ->
        List((null, "$[0][0]", "$[0]"), ("0", "$[0][0][0]", "$[0][0]")),
      """json_tree('{"a b":{"c":1}}','$."a b"')""" ->
        List(("a b", "$.\"a b\"", "$"), ("c", "$.\"a b\".c", "$.\"a b\"")),
      """json_tree('{"a":{"b":{"c":1}}}','$.a.b')""" ->
        List(("b", "$.a.b", "$.a"), ("c", "$.a.b.c", "$.a.b")),
      """json_tree('{"a":[1]}','$.a')""" ->
        List(("a", "$.a", "$"), ("0", "$.a[0]", "$.a")),
      """json_tree('[{"b":1}]','$[0]')""" ->
        List((null, "$[0]", "$"), ("b", "$[0].b", "$[0]")))
    val eachGolden = Seq(
      """json_each('{"a":7}','$.a')""" ->
        List((null, "$.a", "$.a")),
      """json_each('[1,[2,3]]','$[#-1]')""" ->
        List(("0", "$[#-1][0]", "$[#-1]"), ("1", "$[#-1][1]", "$[#-1]")),
      """json_each('{"a":{"b":1}}','$."a"')""" ->
        List(("b", "$.\"a\".b", "$.\"a\"")),
      """json_each('[9]','$[0]')""" ->
        List((null, "$[0]", "$[0]")))
    (treeGolden ++ eachGolden).foreach { case (sql, want) =>
      assert(rows(sql) == want, sql)
    }
  }

  test("a path deeper than the document cap raises JsonError, not StackOverflow") {
    val deep = "'$'" + " || " + s"repeat('.a', 100000)"
    val e = intercept[Exception] {
      spark.sql(s"SELECT json_set('{}', $deep, 1)").collect()
    }
    def rootCause(t: Throwable): Throwable =
      if (t.getCause == null || t.getCause == t) t else rootCause(t.getCause)
    assert(rootCause(e).isInstanceOf[graft.functions.SqliteJson.JsonError], e)
    // exact boundary: 1000 steps (= MaxDepth) still lands, 1001 rejects
    val okPath = "'$'" + " || " + s"repeat('.a', 1000)"
    assert(spark.sql(s"SELECT json_set('{}', $okPath, 1)")
      .head().getString(0).startsWith("{\"a\":"))
    val overPath = "'$'" + " || " + s"repeat('.a', 1001)"
    val e2 = intercept[Exception] {
      spark.sql(s"SELECT json_set('{}', $overPath, 1)").collect()
    }
    assert(rootCause(e2).isInstanceOf[graft.functions.SqliteJson.JsonError], e2)
  }

  test("the translator inserts LATERAL into SQLite's comma-form TVF join") {
    val t = graft.text2sql.SqlDialect.translate(
      "SELECT event_id, je.key FROM events, json_each(events.props) je")
    assert(t.contains(", LATERAL json_each(events.props) je"), t)
    // idempotent — a second pass must not double-insert
    assert(graft.text2sql.SqlDialect.translate(t) == t)
    // select-position calls (not valid SQLite, but must not corrupt)
    val keep = "SELECT json_each('[1]') AS x"
    assert(graft.text2sql.SqlDialect.translate(keep) == keep)
  }

  test("json_error_position: 0 on valid, 1-based first-error position, NULL on NULL") {
    def pos(lit: String): Any =
      spark.sql(s"SELECT json_error_position($lit)").head().get(0)
    assert(pos("'{\"a\":1}'") == 0)
    assert(pos("'[1,2]'") == 0)
    assert(pos("NULL") == null)
    // 1-based positions point into the offending region (SQLite
    // documents the position as approximate)
    assert(pos("'[1,]'") == 4)      // the ']' where a value was expected
    assert(pos("'not json'") == 1)  // fails at the first character
    assert(pos("''") == 1)
    val truncated = pos("'{\"a\":1'").asInstanceOf[Int]
    assert(truncated >= 6, s"truncation should fail at the tail, got $truncated")
  }

  test("strict grammar: bad escapes and non-JSON numbers are malformed, like SQLite") {
    // SQLite 3.40 ground truth: json_valid = 0 for every one of these
    val malformed = Seq(
      """'[+5]'""", """'[.5]'""", """'[5.]'""", """'[01]'""", """'[-.5]'""",
      """'["\\q"]'""", """'["\\u12G4"]'""")
    malformed.foreach { doc =>
      val p = spark.sql(s"SELECT json_error_position($doc)").head().getInt(0)
      assert(p > 0, s"$doc must be malformed, got position $p")
      intercept[Exception] {
        spark.sql(s"SELECT json_set($doc, '$$[0]', 1)").head()
      }
    }
    // ...while SQLite-valid unusual numbers stay valid AND raw
    assert(spark.sql("SELECT json_error_position('[1.50,2e2,-0.0]')")
      .head().getInt(0) == 0)
  }

  test("non-finite REAL values render as JSON null instead of failing the edit") {
    val r = spark.sql(
      """SELECT json_set('{}', '$.a', CAST('NaN' AS DOUBLE)) AS a,
                json_set('{}', '$.b', CAST('Infinity' AS DOUBLE)) AS b,
                json_set('{}', '$.c', 1.0D / 3.0D) AS c""").head()
    assert(r.getString(0) == """{"a":null}""")
    assert(r.getString(1) == """{"b":null}""")
    assert(r.getString(2).startsWith("""{"c":0.3333"""))
  }

  test("extraction results feeding an editor splice per the JSON subtype") {
    // SQLite ground truth: extracted containers splice, extracted
    // numbers/booleans render bare, extracted text quotes
    def run(sqlite: String): String = {
      val t = graft.text2sql.SqlDialect.translate(s"SELECT $sqlite AS r")
      spark.sql(t).head().getString(0)
    }
    assert(run("""json_set('{}', '$.b', json_extract('{"a":{"x":1}}', '$.a'))""")
      == """{"b":{"x":1}}""")
    assert(run("""json_set('{}', '$.b', json_extract('{"n":7}', '$.n'))""")
      == """{"b":7}""")
    assert(run("""json_set('{}', '$.b', json_extract('{"s":"ab"}', '$.s'))""")
      == """{"b":"ab"}""")
    assert(run("""json_set('{}', '$.b', json_extract('{"t":true}', '$.t'))""")
      == """{"b":1}""") // extracted booleans are SQL INTEGERs in SQLite
    // a PLAIN TEXT value that happens to look like JSON still quotes
    assert(run("""json_set('{}', '$.b', '{"x":1}')""")
      == """{"b":"{\"x\":1}"}""")
  }

  test("nesting beyond SQLite's depth cap is malformed JSON, not a stack overflow") {
    val deep = "[" * 60000 + "]" * 60000
    spark.range(1).createOrReplaceTempView("one_row_t")
    val p = spark.sql(s"SELECT json_error_position('$deep')").head().getInt(0)
    assert(p > 0, "over-deep document must be malformed")
    intercept[Exception] {
      spark.sql(s"SELECT json_set('$deep', '$$[0]', 1)").head()
    }
    // at or under the cap still parses
    val ok = "[" * 900 + "1" + "]" * 900
    assert(spark.sql(s"SELECT json_error_position('$ok')").head().getInt(0) == 0)
  }

  test("CROSS JOIN json_each gains LATERAL via the comma form") {
    val t = graft.text2sql.SqlDialect.translate(
      "SELECT e.id, je.value FROM tv e CROSS JOIN json_each(e.j) je")
    assert(t.contains(", LATERAL json_each(e.j) je"), t)
    // whitespace-tolerant: CROSS\nJOIN and doubled spaces are valid
    // SQLite and must reach the same comma-LATERAL rewrite
    val tn = graft.text2sql.SqlDialect.translate(
      "SELECT e.id, je.value FROM tv e CROSS\nJOIN json_each(e.j) je")
    assert(tn.contains(", LATERAL json_each(e.j) je"), tn)
    val ts = graft.text2sql.SqlDialect.translate(
      "SELECT e.id, je.value FROM tv e cross  join json_tree(e.j) jt")
    assert(ts.contains(", LATERAL json_tree(e.j) jt"), ts)
    assert(graft.text2sql.SqlDialect.translate(t) == t) // fixpoint
    spark.range(1, 3).selectExpr("id", "concat('{\"k\": ', id, '}') AS j")
      .createOrReplaceTempView("tv")
    assert(spark.sql(t).collect().map(_.getString(1)).toSeq == Seq("1", "2"))
  }

  test("jsonb_* calls map onto their text twins (3.45 family)") {
    import graft.text2sql.SqlDialect.translate
    val t = translate("SELECT jsonb_set('{\"a\":1}', '$.b', 2) AS r")
    assert(t.contains("json_set("), t)
    assert(spark.sql(t).head().getString(0) == """{"a":1,"b":2}""")
    assert(translate("SELECT jsonb('[1, 2]')") ==
      translate("SELECT json('[1, 2]')"))
    // idempotent; unknown jsonb-prefixed identifiers untouched
    assert(translate(t) == t)
    val keep = "SELECT jsonb_extra, jsonb_custom(x) FROM t"
    assert(translate(keep) == keep)
  }

  test("codegen path: per-row edits over a column match the golden rule") {
    val df = spark.range(1, 6).selectExpr(
      "id", "concat('{\"k\": ', id, '}') AS j")
    val out = df.selectExpr(
        "json_set(j, '$.e', id) AS s",
        "json_remove(j, '$.k') AS r",
        "json_type(j, '$.k') AS t",
        "json_insert(j, '$.k', 99) AS i")
      .collect()
    out.zip(1 to 5).foreach { case (row, id) =>
      assert(row.getString(0) == s"""{"k":$id,"e":$id}""")
      assert(row.getString(1) == "{}")
      assert(row.getString(2) == "integer")
      assert(row.getString(3) == s"""{"k":$id}""")
    }
  }

  test("JSON subtype: a json()-produced value splices instead of quoting") {
    // the translator rewrites json(x) → to_json(parse_json(x)); the
    // builder recognizes to_json output and splices it as JSON
    val sql = graft.text2sql.SqlDialect.translate(
      """SELECT json_set('{"a":1}', '$.b', json('[1,2]')) AS r""")
    assert(spark.sql(sql).head().getString(0) == """{"a":1,"b":[1,2]}""")
  }

  test("quoteText escapes controls and mandatory characters, leaves unicode raw") {
    assert(SqliteJson.quoteText("a\\b") == "\"a\\\\b\"")
    assert(SqliteJson.quoteText("x\ny") == "\"x\\ny\"")
    assert(SqliteJson.quoteText("caf\u00e9") == "\"caf\u00e9\"")
    assert(SqliteJson.quoteText("\u0001") == "\"\\u0001\"")
  }

  test("malformed JSON and bad paths raise, as SQLite does") {
    intercept[Exception] {
      spark.sql("SELECT json_set('not json', '$.a', 1)").head()
    }
    intercept[Exception] {
      spark.sql("SELECT json_type('{\"a\":1}', 'a')").head()
    }
    intercept[Exception] { // BLOB values cannot enter JSON
      spark.sql("SELECT json_quote(X'41')").head()
    }
  }

  test("NULL json or path yields NULL; NULL value becomes JSON null") {
    assert(spark.sql("SELECT json_set(NULL, '$.a', 1)").head().isNullAt(0))
    assert(spark.sql("SELECT json_set('{}', NULL, 1)").head().isNullAt(0))
    assert(spark.sql("SELECT json_remove('{}', NULL)").head().isNullAt(0))
    assert(spark.sql("SELECT json_patch(NULL, '{}')").head().isNullAt(0))
  }
}
