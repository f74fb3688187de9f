package graft.text2sql

import graft.SparkSpec
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property fuzz over the SQLite→Spark translator: compose random
  * expressions from the translated construct family (nested calls,
  * string literals that CONTAIN the keywords, COLLATE, GLOB/LIKE,
  * modifier chains) and require of every sample that
  *   1. translation is total (never throws),
  *   2. the output parses as a Spark expression,
  *   3. translation is idempotent (a second pass changes nothing —
  *      the property that makes retry/pipeline-of-translators safe),
  *   4. string literal BODIES are never rewritten.
  */
class SqlDialectFuzzSpec extends SparkSpec {

  private val parser = spark.sessionState.sqlParser

  // literals whose bodies deliberately look like translatable syntax
  private val trapLits = Gen.oneOf(
    "'iif(1,2,3)'", "'group_concat(x)'", "'a GLOB b'", "'it''s'",
    "'COLLATE NOCASE'", "'strftime(%Y)'", "'+1 day'", "' LIKE '",
    "'a -> b'", "'x ->> 1'", "'json_extract(p)'", "'{\"k\": 1}'",
    "'%d of %s'", "'concat(a,b)'")

  private val simple = Gen.oneOf(
    "c1", "c2", "42", "3.5", "NULL", "'txt'", "x'ab'".replace("x'ab'", "'ab'"))

  private def call(depth: Int): Gen[String] =
    if (depth <= 0) Gen.oneOf(simple, trapLits)
    else {
      val sub = Gen.lzy(scalar(depth - 1))
      Gen.oneOf(
        sub.map(a => s"iif($a > 1, $a, 0)"),
        sub.map(a => s"ifnull($a, 0)"),
        sub.map(a => s"group_concat($a, ',')"),
        sub.map(a => s"julianday($a)"),
        sub.map(a => s"unixepoch($a)"),
        sub.map(a => s"total($a)"),
        sub.map(a => s"unicode($a)"),
        Gen.zip(sub, sub).map { case (a, b) => s"min($a, $b)" },
        Gen.zip(sub, sub).map { case (a, b) => s"max($a, $b)" },
        sub.map(a => s"datetime($a, 'start of month', '+1 day')"),
        sub.map(a => s"strftime('%Y-%m', $a)"),
        // MIXED pattern/computed formats force the ||-joined emission
        // (a plain concat() there would be re-rewritten to concat_ws
        // on the second pass — the regression this class caught)
        sub.map(a => s"strftime('%Y-W%W', $a)"),
        sub.map(a => s"strftime('%J', $a)"),
        sub.map(a => s"strftime('w%V day%e at%k', $a)"),
        Gen.zip(sub, sub).map { case (a, b) => s"char($a, $b)" },
        // the rewrite target contains the source name as a SUBSTRING
        // (sqlite_typeof) — word-boundary matching must not re-expand
        sub.map(a => s"typeof($a)"),
        sub.map(a => s"CAST($a AS TEXT)"),
        sub.map(a => s"CAST($a AS INTEGER)"),
        // round-6 surface: JSON scalars/operators, printf casts,
        // swapped trims, glob(), NULL-skipping concat, string_agg
        sub.map(a => s"json_extract($a, '$$.k')"),
        sub.map(a => s"json_array($a, 'x')"),
        sub.map(a => s"json_object('k', $a)"),
        sub.map(a => s"json_valid($a)"),
        sub.map(a => s"json_array_length($a)"),
        sub.map(a => s"($a) ->> 'k'"),
        sub.map(a => s"($a) -> '$$.k'"),
        Gen.const("'{\"k\": 7}' ->> 'k'"),
        Gen.const("'[1,2,3]' -> 1"),
        sub.map(a => s"printf('%d|%.1f', $a, $a)"),
        sub.map(a => s"ltrim($a, 'x')"),
        sub.map(a => s"rtrim($a, 'y')"),
        sub.map(a => s"trim($a, 'z')"),
        sub.map(a => s"glob('a*', $a)"),
        Gen.zip(sub, sub).map { case (a, b) => s"concat($a, $b)" },
        sub.map(a => s"string_agg($a, ',')"),
        sub.map(a => s"likely($a)"))
    }

  // scalar-valued expressions: calls and arithmetic nest freely
  private def scalar(depth: Int): Gen[String] =
    if (depth <= 0) Gen.oneOf(simple, trapLits)
    else Gen.oneOf(
      call(depth),
      Gen.lzy(Gen.zip(scalar(depth - 1), scalar(depth - 1))
        .map { case (a, b) => s"($a + $b)" }),
      Gen.lzy(scalar(depth - 1).map(a => s"($a)")))

  // predicates compose with AND/OR/NOT over scalars — the shape
  // generated SQL actually takes (predicate soup inside arithmetic is
  // legal SQLite but not a realistic model-output shape)
  private def pred(depth: Int): Gen[String] = {
    val base = Gen.oneOf(
      Gen.lzy(call(depth).map(a => s"($a) LIKE 'ab%'")),
      Gen.lzy(call(depth).map(a => s"($a) COLLATE NOCASE = 'x'")),
      Gen.const("c1 GLOB 'ab*'"),
      Gen.lzy(Gen.zip(scalar(depth), scalar(depth))
        .map { case (a, b) => s"$a = $b" }))
    if (depth <= 0) base
    else Gen.oneOf(base,
      Gen.lzy(Gen.zip(pred(depth - 1), pred(depth - 1))
        .map { case (a, b) => s"($a AND $b)" }),
      Gen.lzy(Gen.zip(pred(depth - 1), pred(depth - 1))
        .map { case (a, b) => s"($a OR $b)" }),
      Gen.lzy(pred(depth - 1).map(a => s"NOT ($a)")))
  }

  private def expr(depth: Int): Gen[String] =
    Gen.oneOf(scalar(depth), pred(depth))

  private def check(name: String, prop: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(res.passed, s"$name: $res")
  }

  test("translate is total, parseable, idempotent, and literal-preserving") {
    check("fuzz", Prop.forAll(expr(3)) { e =>
      val sql = s"SELECT $e AS v"
      val once = SqlDialect.translate(sql)
      // 2. Spark must be able to parse the translated projection
      parser.parsePlan(once)
      // 3. idempotence
      val twice = SqlDialect.translate(once)
      val idem = twice == once
      if (!idem)
        println(s"NOT IDEMPOTENT:\n  in:    $sql\n  once:  $once\n  twice: $twice")
      idem
    })
  }

  test("case_sensitive_like translate is total, parseable, idempotent, ILIKE-free") {
    check("cs-fuzz", Prop.forAll(expr(3)) { e =>
      val sql = s"SELECT $e AS v"
      val once = SqlDialect.translate(sql, caseSensitiveLike = true)
      parser.parsePlan(once)
      // no ILIKE survives outside string literals: the final pass
      // must lower every rewriteLike-produced ILIKE back to LIKE
      val stripped = once.replaceAll("'(?:[^']|'')*'", "''")
      val noIlike = !stripped.toUpperCase.contains("ILIKE")
      // and the flagged translation is itself a fixpoint
      val twice = SqlDialect.translate(once, caseSensitiveLike = true)
      val idem = twice == once
      if (!idem || !noIlike)
        println(s"CS-LIKE VIOLATION:\n  in:    $sql\n  once:  $once\n  twice: $twice")
      idem && noIlike
    })
  }

  test("string literal bodies survive translation byte-for-byte") {
    val lits = Seq("'iif(1,2,3)'", "'group_concat(x)'", "'a GLOB b'",
      "'COLLATE NOCASE'", "'+1 day'", "' LIKE '")
    lits.foreach { l =>
      val out = SqlDialect.translate(s"SELECT $l AS v FROM t")
      assert(out.contains(l), s"literal $l was rewritten: $out")
    }
  }

  test("comments are opaque: a leading line comment and a trailing block " +
      "comment ride through translate, resolveDoubleQuoted and bindTable") {
    // each comment holds a lone quote character of every kind
    val lead = "-- it's \"a\" `b`\n"
    val trail = " /* don't */"
    val rewrites: Seq[(String, String => String)] = Seq(
      "translate" -> (SqlDialect.translate(_: String)),
      "resolveDoubleQuoted" -> (SqlDialect.resolveDoubleQuoted(_, Set("c1"))),
      "bindTable" -> (graft.ingest.Text2SqlSubst.bindTable(_, "h1")))
    check("comments", Prop.forAllNoShrink(Gen.zip(scalar(2), pred(2))) {
      case (s, p) =>
        val sql = s"SELECT \"c1\", $s AS v FROM table WHERE $p"
        rewrites.forall { case (name, f) =>
          val bare = f(sql)
          val ok = f(lead + sql) == lead + bare && f(sql + trail) == bare + trail
          if (!ok)
            println(s"COMMENT NOT OPAQUE to $name:\n  in:   $sql\n" +
              s"  bare: $bare\n  lead: ${f(lead + sql)}\n  trail: ${f(sql + trail)}")
          ok
        }
    })
  }

  test("comments are opaque between call arguments: a line comment " +
      "before every `)` leaves translate's code unchanged") {
    // code with its comments gone and its whitespace dropped (literal
    // bodies kept): what Spark's parser sees of a translation
    def code(s: String): String = {
      val t = SqlText.stripComments(s)
      SqlText.rewrite(t)(i =>
        if (t.charAt(i).isWhitespace) Some(("", i + 1)) else None)
    }
    check("arg-comments", Prop.forAllNoShrink(expr(2)) { e =>
      val sql = s"SELECT $e AS v"
      val commented = SqlText.rewrite(sql)(i =>
        if (sql.charAt(i) == ')') Some((" -- c\n)", i + 1)) else None)
      val out = SqlDialect.translate(commented)
      parser.parsePlan(out)
      val ok = code(out) == code(SqlDialect.translate(sql))
      if (!ok)
        println(s"ARGUMENT COMMENT NOT OPAQUE:\n  in:  $commented\n" +
          s"  out: $out\n  bare: ${SqlDialect.translate(sql)}")
      ok
    })
  }

  test("SqlDml.detect is total over truncated / mangled DML prefixes") {
    // the detector's job is to turn DML into either a routed upsert or
    // a TARGETED error — it must never itself throw on the garbage a
    // truncated model response produces (regression: charAt past end)
    val verbs = Gen.oneOf("INSERT OR REPLACE INTO", "REPLACE INTO",
      "INSERT INTO", "INSERT OR IGNORE INTO", "UPDATE", "DELETE FROM",
      "WITH c AS (SELECT 1) INSERT OR REPLACE INTO", "SELECT * FROM",
      "CREATE VIEW", "CREATE TEMP VIEW", "CREATE TABLE",
      "CREATE TABLE IF NOT EXISTS", "CREATE INDEX", "CREATE",
      "DROP TABLE", "DROP VIEW IF EXISTS", "DROP",
      "CREATE TRIGGER", "CREATE TEMP TRIGGER tr AFTER INSERT ON",
      "CREATE TRIGGER tr BEFORE UPDATE OF a, b ON", "DROP TRIGGER")
    val tails = Gen.oneOf("", " t", " t (", " t (a,", " t (a, b)",
      " t (a, b) VALUES", " t (a, b) VALUES (1", " t (a, b) VALUES (1, 'x')",
      " t SELECT", " t SELECT * FROM s", " 'h' SELECT 1", " `q t` VALUES (1)",
      " t (a) (SELECT 1", " t --", " t ''")
    val prop = Prop.forAll(Gen.zip(verbs, tails)) { case (v, t) =>
      val stmt = s"$v$t"
      SqlDml.detect(stmt)       // must not throw
      // truncation at every prefix length must also be safe
      (1 to stmt.length).forall { n => SqlDml.detect(stmt.take(n)); true }
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, s"detect totality: $res")
  }
}
