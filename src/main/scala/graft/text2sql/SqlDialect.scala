package graft.text2sql

/** SQLite → Spark SQL dialect translation for generated SQL.
  *
  * The reference instructs its model to emit "SQL compliant to SQLite"
  * (reference pandasqlite/pandasqlite.py:220-225); this engine asks for
  * Spark SQL, but a model fed SQLite-era few-shots still produces
  * SQLite-isms. What a SQLite FUNCTION means lives in one place,
  * [[graft.plans.SqliteFunctions]] (Catalyst builders injected into
  * every session). This translator keeps what a function cannot
  * express — operators and clauses — and renames the calls whose name
  * Spark already owns with other semantics:
  *
  *  - `date(…)`, `time(…)`, `char(…)`, `printf(…)`, `concat(…)`,
  *    1-arg `trunc`, `random()`, scalar `min`/`max`, 2-arg
  *    `ltrim`/`rtrim`/`trim` and `json_array_length`, `typeof`, `hex`,
  *    `quote`, `soundex`, `sign` → their `sqlite_`/`graft_` names;
  *    `string_agg` → `group_concat`; `group_concat(DISTINCT x)` →
  *    `sqlite_group_concat_distinct(x)` (DISTINCT cannot reach an
  *    injected builder). Every other SQLite function (`strftime`,
  *    `iif`, the JSON1 family, …) passes through verbatim.
  *  - `x GLOB 'pat'`              → `x RLIKE '<anchored regex>'`
  *  - `a LIKE b`                  → `a ILIKE b` (SQLite LIKE folds case;
  *    Spark's does not — same token, different semantics, silent wrong
  *    rows without the rewrite; `NOT`/`ESCAPE` forms compose)
  *  - `COLLATE NOCASE`            → `lower()` on both comparison sides
  *    (or stripped next to `ILIKE`); `COLLATE BINARY` dropped (Spark
  *    default); unknown collations left verbatim
  *  - `a IS b` / `a IS NOT b`     → null-safe `<=>` (`IS NULL`,
  *    `IS TRUE/FALSE`, `IS DISTINCT FROM` pass through)
  *  - `x -> p` / `x ->> p`        → `to_json(variant_get(…))` /
  *    `get_json_object(…)`
  *  - `LIMIT off, cnt`            → `LIMIT cnt OFFSET off`; a negative
  *    LIMIT is removed
  *  - window `FILTER (WHERE …)`, unary `+`, `jsonb_*` → `json_*`, the
  *    comma-form `json_each`/`json_tree` LATERAL, and the `CAST`
  *    storage-class type names (TEXT, REAL, …)
  *
  * Scanning follows [[SqlText]]'s lexical rule: quoted runs and
  * comments are opaque to every rewrite, and calls nest by balanced
  * parens. A construct the translator does not understand is left
  * verbatim — a visible analysis error beats a silently changed answer.
  *
  * Double-quoted tokens are ambiguous in SQLite (identifier if it
  * resolves, string literal otherwise — `WHERE survived="1"` is a
  * literal, `SELECT "Product"` an identifier): [[resolveDoubleQuoted]]
  * applies that exact rule against the ingestion's known identifiers;
  * `Text2Sql.text2sql` wires it in after [[translate]].
  */
object SqlDialect {
  import SqlText.{isWordChar, keywordAt, skipWs}

  def translate(sql: String): String =
    translate(sql, caseSensitiveLike = false)

  /** `caseSensitiveLike` mirrors the session's `PRAGMA
    * case_sensitive_like` state ([[graft.exec.Pragma.caseSensitiveLike]]):
    * with the flag ON, SQLite's LIKE is the BINARY comparison — exactly
    * Spark's own LIKE. The pipeline still funnels LIKE through ILIKE so
    * the COLLATE pass treats it uniformly (SQLite's LIKE ignores
    * collating sequences in BOTH modes — `'ABC' LIKE 'abc' COLLATE
    * NOCASE` is 0 under the flag, measured on 3.40.1), then a final
    * pass lowers ILIKE back to the case-sensitive operator. */
  def translate(sql: String, caseSensitiveLike: Boolean): String = {
    // a column-def CREATE TABLE or an ALTER TABLE statement is
    // DECLARATION text, not expression text: its DEFAULT / CHECK /
    // GENERATED fragments are stored raw and translated individually
    // at registration (exec.Ddl), and the expression passes below
    // would mangle the declaration riders (`b TEXT COLLATE NOCASE` →
    // `b lower(TEXT)`). CTAS (`CREATE TABLE … AS SELECT`) is
    // expression text and translates normally.
    if (isColumnDefCreateTable(sql) || isAlterTable(sql) ||
        isCreateIndex(sql)) return sql
    var out = rewriteUnaryPlus(sql)
    out = rewriteWindowFilter(out)
    out = rewriteJsonb(out)
    out = rewriteJsonTvf(out)
    out = rewriteCalls(out)
    out = rewriteJsonArrow(out)
    out = rewriteGlob(out)
    out = rewriteLike(out)
    out = rewriteCollate(out)
    out = rewriteIs(out)
    out = rewriteLimitComma(out)
    out = rewriteNegativeLimit(out)
    if (caseSensitiveLike) out = unrewriteIlike(out)
    out
  }

  /** SQLite's unary `+` is a VALUE no-op (and per datatype3.html §7.1
    * rule 2 a `+column` is STILL a column reference for collation
    * purposes — measured: `+x = 'apple'` folds NOCASE exactly like
    * `x = 'apple'`), while Spark's unary `+` is numeric: `+x` over a
    * TEXT column nulls out and silently returns wrong rows. A
    * provably-unary `+` — one whose previous non-space character is an
    * operator / opening paren / comma, or whose previous token is an
    * expression-position keyword — is stripped: value-identical in
    * SQLite everywhere, it both fixes the text-operand value and lets
    * the declared-collation fold see the bare reference. A `+` after
    * an identifier, literal, or closing paren is binary addition and
    * stays. Idempotent (a second pass finds nothing to strip). */
  private def rewriteUnaryPlus(sql: String): String = {
    val kw = Set("select", "where", "and", "or", "not", "when", "then",
      "else", "by", "on", "having", "between", "case", "like", "glob",
      "escape", "distinct", "all", "limit", "offset", "returning")
    val out = new java.lang.StringBuilder
    var i = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      val e = SqlText.skipOpaque(sql, i)
      if (e > i) { out.append(sql, i, e); i = e }
      else if (c == '+') {
        var p = out.length
        while (p > 0 && out.charAt(p - 1).isWhitespace) p -= 1
        val unary =
          if (p == 0) true
          else {
            val pc = out.charAt(p - 1)
            if ("(,=<>!&|+-*/%~".indexOf(pc.toInt) >= 0) true
            else if (isWordChar(pc)) {
              var s = p
              while (s > 0 && isWordChar(out.charAt(s - 1))) s -= 1
              kw.contains(out.substring(s, p).toLowerCase) &&
                !(s > 0 && out.charAt(s - 1) == '.')
            } else false
          }
        val n = skipWs(sql, i + 1)
        val operandNext = n < sql.length && {
          val nc = sql.charAt(n)
          isWordChar(nc) || nc == '.' || nc == '(' || nc == '+' ||
            nc == '"' || nc == '`'
        }
        if (unary && operandNext) i += 1 // drop the no-op '+'
        else { out.append(c); i += 1 }
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  /** True for `CREATE [TEMP] TABLE [IF NOT EXISTS] name (…defs…)` —
    * the column-DEFINITION form (a '(' right after the table name;
    * CTAS has AS there instead). Trivially idempotent under
    * [[translate]]'s skip. */
  private def isColumnDefCreateTable(sql: String): Boolean = {
    var i = skipWs(sql, 0)
    if (!keywordAt(sql, i, "create")) return false
    i = skipWs(sql, i + 6)
    if (keywordAt(sql, i, "temporary")) i = skipWs(sql, i + 9)
    else if (keywordAt(sql, i, "temp")) i = skipWs(sql, i + 4)
    if (!keywordAt(sql, i, "table")) return false
    i = skipWs(sql, i + 5)
    if (keywordAt(sql, i, "if")) {
      i = skipWs(sql, i + 2)
      if (!keywordAt(sql, i, "not")) return false
      i = skipWs(sql, i + 3)
      if (!keywordAt(sql, i, "exists")) return false
      i = skipWs(sql, i + 6)
    }
    if (i >= sql.length) return false
    val quoted = SqlText.skipOpaque(sql, i)
    if (quoted > i) i = quoted
    else if (isWordChar(sql.charAt(i))) {
      while (i < sql.length &&
             (isWordChar(sql.charAt(i)) || sql.charAt(i) == '.')) i += 1
    } else return false
    i = skipWs(sql, i)
    i < sql.length && sql.charAt(i) == '('
  }

  /** True for `CREATE [UNIQUE] INDEX …` — declaration text too: a
    * `(c COLLATE NOCASE)` key item is a per-column RIDER (kept for
    * index_xinfo and the collated-key enforcement), not a comparison
    * to fold — rewriteCollate would turn it into an expression key
    * `(lower(c))`, changing SQLite's error label from `t.c` to
    * `index 'name'`. Expression items and the partial WHERE are
    * stored raw and translated at registration (exec.Ddl), exactly
    * like CREATE TABLE's DEFAULT/CHECK fragments. */
  private def isCreateIndex(sql: String): Boolean = {
    var i = skipWs(sql, 0)
    if (!keywordAt(sql, i, "create")) return false
    i = skipWs(sql, i + 6)
    if (keywordAt(sql, i, "unique")) i = skipWs(sql, i + 6)
    keywordAt(sql, i, "index")
  }

  /** True for `ALTER TABLE …` — SQLite's whole ALTER surface is
    * declaration text (RENAME forms are pure metadata; ADD COLUMN's
    * DEFAULT is a single literal token, translated at registration). */
  private def isAlterTable(sql: String): Boolean = {
    val i = skipWs(sql, 0)
    keywordAt(sql, i, "alter") && keywordAt(sql, skipWs(sql, i + 5), "table")
  }

  /** ILIKE → LIKE in code, the final pass under case_sensitive_like.
    * Declared-SQLite input has no ILIKE of its own (not a SQLite
    * operator), so every ILIKE here came from [[rewriteLike]]. */
  private def unrewriteIlike(sql: String): String =
    SqlText.rewrite(sql)(i =>
      if (keywordAt(sql, i, "ilike")) Some(("LIKE", i + 5)) else None)

  /** SQLite 3.45's `jsonb*` family "works exactly the same" as the
    * text family except for returning binary JSONB — a storage-layer
    * distinction with no lake counterpart. Map each call onto its
    * text twin (the emulated `sqlite_version()` answers 3.45.3, so a
    * version-probing model may legitimately emit these). Documented
    * divergence: results are JSON TEXT, not BLOBs. Known names only,
    * `(`-anchored and word-bounded, so a column named `jsonb_extra`
    * is untouched; idempotent (the emission starts `json_`, which no
    * longer matches `jsonb`).
    */
  private val jsonbRe =
    ("(?i)\\bjsonb(_(?:set|insert|replace|remove|patch|extract|array" +
      "|object|group_array|group_object))?(\\s*\\()").r

  private def rewriteJsonb(sql: String): String =
    SqlText.rewrite(sql) { i =>
      val c = sql.charAt(i)
      if ((c == 'j' || c == 'J') && (i == 0 || !isWordChar(sql.charAt(i - 1))))
        jsonbRe.findPrefixMatchOf(sql.substring(i)).map(m =>
          ("json" + Option(m.group(1)).getOrElse("") + m.group(2), i + m.end))
      else None
    }

  /** SQLite's comma-form table-valued JSON calls — `FROM t,
    * json_each(t.col)` — correlate implicitly; Spark requires the
    * LATERAL keyword for a correlated FROM-position TVF (the
    * functions themselves are registered in the table-function
    * registry by `plans.SqliteFunctions`). Insert it. Valid SQLite
    * admits json_each/json_tree ONLY in FROM position, so a preceding
    * comma is proof of the form — a select-list or argument
    * occurrence would already be a SQLite error. Idempotent (after
    * insertion the token before the name is LATERAL, not a comma).
    */
  private def rewriteJsonTvf(sql: String): String = {
    val name = "(?is)^(json_each|json_tree)\\s*\\(".r
    val out = new java.lang.StringBuilder
    var i = 0
    while (i < sql.length) {
      val e = SqlText.skipOpaque(sql, i)
      if (e > i) { out.append(sql, i, e); i = e }
      else sql.charAt(i) match {
        case c if (c == 'j' || c == 'J') &&
            (i == 0 || !isWordChar(sql.charAt(i - 1))) &&
            name.findFirstIn(sql.substring(i)).isDefined =>
          var k = out.length - 1
          while (k >= 0 && out.charAt(k).isWhitespace) k -= 1
          if (k >= 0 && out.charAt(k) == ',') out.append("LATERAL ")
          else {
            // `CROSS JOIN json_each(...)` — also valid SQLite, also
            // implicitly correlating — becomes the comma-LATERAL form
            // (identical semantics: both are unconditional joins).
            // ON-clause JOIN forms are left verbatim → visible error.
            // whitespace-tolerant: `CROSS\nJOIN` and doubled spaces
            // are valid SQLite too, so match CROSS\s+JOIN at the end
            // of the emitted buffer rather than one literal spelling
            val trimmed = out.toString.substring(0, k + 1)
            val m = "(?is)\\bCROSS\\s+JOIN\\s*$".r.findFirstMatchIn(trimmed)
            m.foreach { mm =>
              out.setLength(mm.start)
              out.append(", LATERAL ")
            }
          }
          out.append(c); i += 1
        case c => out.append(c); i += 1
      }
    }
    out.toString
  }

  /** `agg(args) FILTER (WHERE p) OVER …` → `agg(CASE WHEN p THEN …
    * END) OVER …`. SQLite (and the SQL standard) allow FILTER on
    * window aggregates; Spark supports FILTER only with GROUP BY
    * aggregation, so the window form fails to parse. The rewrite is
    * exact: `count(*)` counts predicate-true rows via CASE→1, any
    * single-argument aggregate skips predicate-false rows via a
    * NULL-producing CASE (aggregates ignore NULL — exactly FILTER's
    * semantics), DISTINCT rides along. Multi-argument aggregates stay
    * verbatim → a visible parse error naming FILTER. Group-by FILTER
    * (no OVER) is native Spark and passes through untouched. Runs
    * FIRST so later passes see the rewritten aggregate. */
  private def rewriteWindowFilter(sql: String): String = {
    def onePass(s: String): Option[String] = {
      var stack = List.empty[Int] // open parens
      var openIdx = -1 // the open paren of the last `)` passed
      var i = 0
      while (i < s.length) {
        val e = SqlText.skipOpaque(s, i)
        if (e > i) i = e
        else if (s.charAt(i) == '(') { stack ::= i; i += 1 }
        else if (s.charAt(i) == ')') {
          openIdx = stack.headOption.getOrElse(-1)
          stack = stack.drop(1)
          i += 1
        } else if (keywordAt(s, i, "filter")) {
          var p = i - 1
          while (p >= 0 && s.charAt(p).isWhitespace) p -= 1
          val closeIdx = p
          val j = skipWs(s, i + 6)
          if (closeIdx >= 0 && s.charAt(closeIdx) == ')' &&
              j < s.length && s.charAt(j) == '(') {
            val fClose = SqlText.closeParen(s, j)
            val innerT = if (fClose > 0) codeOf(s.substring(j + 1, fClose)) else ""
            val afterF = if (fClose > 0) skipWs(s, fClose + 1) else s.length
            if (fClose > 0 && keywordAt(innerT, 0, "where") &&
                keywordAt(s, afterF, "over")) {
              val pred = innerT.substring(5).trim
              if (openIdx > 0 && pred.nonEmpty) {
                var ns = openIdx
                while (ns > 0 && s.charAt(ns - 1).isWhitespace) ns -= 1
                var n0 = ns
                while (n0 > 0 && isWordChar(s.charAt(n0 - 1))) n0 -= 1
                val name = s.substring(n0, ns)
                var args = codeOf(s.substring(openIdx + 1, closeIdx))
                if (name.nonEmpty) {
                  var distinct = ""
                  if (keywordAt(args, 0, "distinct")) {
                    distinct = "DISTINCT "
                    args = args.substring(8).trim
                  }
                  val call =
                    if (name.equalsIgnoreCase("count") && args == "*" &&
                        distinct.isEmpty)
                      Some(s"count(CASE WHEN ($pred) THEN 1 END)")
                    else if (args.nonEmpty &&
                             SqlText.findTop(args, 0)(args.charAt(_) == ',') < 0)
                      Some(s"$name(${distinct}CASE WHEN ($pred) THEN $args END)")
                    else None
                  call match {
                    case Some(cl) =>
                      return Some(s.substring(0, n0) + cl + " " +
                        s.substring(afterF))
                    case None => // multi-arg: leave verbatim, keep scanning
                  }
                }
              }
            }
          }
          i += 6
        } else i += 1
      }
      None
    }
    var cur = sql
    var more = true
    while (more) onePass(cur) match {
      case Some(n) => cur = n
      case None => more = false
    }
    cur
  }

  /** SQLite `LIMIT -N` means NO limit (documented: a negative LIMIT
    * returns all rows); Spark rejects negative limits outright. The
    * clause is removed — a following OFFSET survives (Spark supports
    * standalone OFFSET), matching SQLite, where the offset still
    * applies under a negative limit. Runs after [[rewriteLimitComma]]
    * so `LIMIT off, -1` (comma form) normalizes first. Only a bare
    * negative integer literal matches; arithmetic stays untouched. */
  private def rewriteNegativeLimit(sql: String): String = {
    def next(from: Int) = SqlText.find(sql, from)(keywordAt(sql, _, "limit"))
    var i = next(0)
    while (i >= 0) {
      val j = skipWs(sql, i + 5)
      if (j < sql.length && sql.charAt(j) == '-') {
        var e = j + 1
        while (e < sql.length && sql.charAt(e).isDigit) e += 1
        val bareNegInt = e > j + 1 &&
          (e >= sql.length || !(isWordChar(sql.charAt(e)) ||
            "+-*/%.".indexOf(sql.charAt(e)) >= 0))
        if (bareNegInt)
          return rewriteNegativeLimit(
            sql.substring(0, i).stripSuffix(" ") + sql.substring(e))
      }
      i = next(j)
    }
    sql
  }

  /** SQLite `a IS b` / `a IS NOT b` is null-safe equality between ANY
    * operands; Spark only parses `IS [NOT] NULL/TRUE/FALSE/UNKNOWN/
    * DISTINCT FROM`, so `x IS 5` fails visibly. Rewrite the general
    * form to Spark's null-safe `<=>` (negated for IS NOT), leaving the
    * Spark-parseable forms untouched.
    */
  private def rewriteIs(sql: String): String = {
    def next(from: Int) = SqlText.find(sql, from)(keywordAt(sql, _, "is"))
    var i = next(0)
    while (i >= 0) {
      var j = skipWs(sql, i + 2)
      val negated = keywordAt(sql, j, "not")
      if (negated) j = skipWs(sql, j + 3)
      val sparkOk = Seq("null", "true", "false", "unknown", "distinct")
        .exists(k => keywordAt(sql, j, k))
      if (!sparkOk) {
        val ye = primaryEndForwards(sql, j)
        val xEnd = SqlText.skipWsBack(sql, i)
        val xStart = primaryStartBackwards(sql, xEnd)
        if (ye >= 0 && xStart >= 0 && xStart < xEnd) {
          val a = sql.substring(xStart, xEnd)
          val b = sql.substring(j, ye)
          val repl = if (negated) s"NOT ($a <=> $b)" else s"($a <=> $b)"
          return rewriteIs(sql.substring(0, xStart) + repl + sql.substring(ye))
        }
      }
      i = next(j)
    }
    sql
  }

  /** SQLite (and MySQL) `LIMIT offset, count` → Spark
    * `LIMIT count OFFSET offset`. The single-expression form passes
    * through untouched.
    */
  private def rewriteLimitComma(sql: String): String = {
    def next(from: Int) = SqlText.find(sql, from)(keywordAt(sql, _, "limit"))
    var i = next(0)
    while (i >= 0) {
      val j = skipWs(sql, i + 5)
      val ae = primaryEndForwards(sql, j)
      val k = if (ae < 0) -1 else skipWs(sql, ae)
      if (k >= 0 && k < sql.length && sql.charAt(k) == ',') {
        val bs = skipWs(sql, k + 1)
        val be = primaryEndForwards(sql, bs)
        if (be >= 0) {
          val off = sql.substring(j, ae)
          val cnt = sql.substring(bs, be)
          return rewriteLimitComma(sql.substring(0, i) +
            s"LIMIT $cnt OFFSET $off" + sql.substring(be))
        }
      }
      i = next(math.max(j, ae))
    }
    sql
  }

  /** `x GLOB 'pat'` → `x RLIKE '<anchored regex>'`, scanned
    * quote-aware so GLOB-shaped TEXT inside a string literal is left
    * alone. The left operand is the preceding non-whitespace token
    * (column, dotted column, or literal), matching SQLite's
    * binary-operator grammar for the forms a model emits.
    */
  /** Start index of the operand ENDING just before `endExcl`, never
    * crossing below `floor`. A bare token is a non-whitespace run; a
    * `)`-terminated operand reaches back to its balanced `(` and then
    * over any directly-attached call name — so `trim( c1 )` is one
    * operand, not `)`. A quoted operand (a string literal or a quoted
    * identifier, which may contain spaces) starts at its opening
    * quote. Shared by the binary-operator rewrites (GLOB, `->`/`->>`),
    * which all need the preceding operand per SQLite's expression
    * grammar. */
  private def operandStartBackwards(sql: String, endExcl: Int,
                                    floor: Int): Int = {
    if (endExcl <= floor) return endExcl
    sql.charAt(endExcl - 1) match {
      case ')' =>
        val lhsStart = math.max(SqlText.openParen(sql, endExcl - 1), floor)
        // include a directly-attached call name (`trim(...)`) — but
        // NOT a glued keyword (`AND(c1) GLOB`), which is a
        // conjunction, not a function name
        var nameStart = lhsStart
        while (nameStart > floor && isWordChar(sql.charAt(nameStart - 1)))
          nameStart -= 1
        val name = sql.substring(nameStart, lhsStart).toLowerCase
        if (name.nonEmpty && !Set("and", "or", "not", "where", "on",
            "when", "then", "else", "in", "by", "select", "from",
            "having").contains(name)) nameStart
        else lhsStart
      case '\'' | '"' | '`' =>
        math.max(SqlText.quotedStart(sql, endExcl), floor)
      case _ =>
        var lhsStart = endExcl
        while (lhsStart > floor && !sql.charAt(lhsStart - 1).isWhitespace)
          lhsStart -= 1
        lhsStart
    }
  }

  /** SQLite JSON operators `->` (extract as JSON text — strings stay
    * quoted) and `->>` (extract as SQL value — strings unquoted).
    * Spark has no infix JSON operator, so both rewrite to calls:
    * `->>` to `get_json_object` (codegen'd, unquoting — the exact
    * semantics), `->` to `to_json(variant_get(parse_json(…)))`
    * (Spark 4 variant round-trip: objects/arrays serialize as JSON,
    * scalar strings keep their quotes, exactly SQLite's `->`).
    * The RHS must be a literal — a `'$.path'`, a bare `'key'`
    * (normalized to `'$.key'`), or an integer index `n` (normalized
    * to `'$[n]'`), SQLite's three documented forms; anything else
    * declines and the operator is left verbatim → visible analysis
    * error. Chains (`x -> 'a' ->> 'b'`) resolve by restart: each
    * rewritten call becomes the next operator's `)`-terminated LHS
    * operand. `-->` is a SQLite line comment, never an arrow. */
  private def rewriteJsonArrow(sql: String): String = {
    def next(from: Int) = SqlText.find(sql, from)(sql.startsWith("->", _))
    var i = next(0)
    while (i >= 0) {
      val unquoting = sql.startsWith("->>", i)
      val opEnd = i + (if (unquoting) 3 else 2)
      val lhsEnd = SqlText.skipWsBack(sql, i)
      val lhsStart = operandStartBackwards(sql, lhsEnd, 0)
      val j = skipWs(sql, opEnd)
      // normalized '<path literal>' (including quotes) + end index
      val path: Option[(String, Int)] =
        if (j < sql.length && sql.charAt(j) == '\'') {
          val e = SqlText.skipOpaque(sql, j)
          val body = sql.substring(j + 1, e - 1)
          if (body.startsWith("$")) Some((sql.substring(j, e), e))
          else if (body.matches("[A-Za-z_][A-Za-z0-9_]*"))
            Some((s"'$$.$body'", e))
          else None
        } else {
          var e = j
          while (e < sql.length && sql.charAt(e).isDigit) e += 1
          if (e > j && (e == sql.length || !isWordChar(sql.charAt(e))))
            Some((s"'$$[${sql.substring(j, e)}]'", e))
          else None
        }
      path match {
        case Some((p, e)) if lhsStart < lhsEnd =>
          val lhs = sql.substring(lhsStart, lhsEnd)
          val repl =
            if (unquoting) s"get_json_object($lhs, $p)"
            else s"to_json(variant_get(parse_json($lhs), $p))"
          return rewriteJsonArrow(
            sql.substring(0, lhsStart) + repl + sql.substring(e))
        case _ => i = next(opEnd)
      }
    }
    sql
  }

  private def rewriteGlob(sql: String): String = {
    def next(from: Int) = SqlText.find(sql, from)(keywordAt(sql, _, "glob"))
    val out = new java.lang.StringBuilder
    var i = next(0)
    var emitted = 0 // everything before this index is already appended
    while (i >= 0) {
      // LHS: scan back over the preceding operand. A bare token is a
      // non-whitespace run; a `)`-terminated operand walks back to
      // its balanced `(` and then over any call-name token — so
      // `trim( c1 ) GLOB 'p'` captures `trim( c1 )`, not `)` (the
      // parenthesized rewrite would otherwise split the call).
      val lhsEnd = math.max(SqlText.skipWsBack(sql, i), emitted)
      val lhsStart = operandStartBackwards(sql, lhsEnd, emitted)
      // RHS: must be a string literal
      val j = skipWs(sql, i + 4)
      if (lhsStart < lhsEnd && j < sql.length && sql.charAt(j) == '\'') {
        val e = SqlText.skipOpaque(sql, j)
        val colName = sql.substring(lhsStart, lhsEnd)
        val pattern = sql.substring(j + 1, e - 1).replace("''", "'")
        val regex = graft.functions.Glob.toRegex(pattern)
          .replace("\\", "\\\\").replace("'", "''")
        out.append(sql, emitted, lhsStart)
        // parenthesized: SQLite lets GLOB chain/embed like any binary
        // operator (`a GLOB p + 1`, `a GLOB p GLOB q`), but Spark's
        // grammar treats RLIKE as a predicate that cannot be an
        // operand — the parens keep every embedding parseable
        out.append(s"($colName RLIKE '$regex')")
        emitted = e
        i = next(e)
      } else i = next(i + 4)
    }
    out.append(sql, emitted, sql.length)
    out.toString
  }

  /** SQLite `LIKE` is case-insensitive for ASCII (its documented
    * default); Spark's is case-sensitive — the same token with
    * different semantics, which would silently return DIFFERENT ROWS
    * for e.g. `name LIKE 'a%'` against 'Apple'. Since the input to
    * [[translate]] is declared-SQLite SQL, `LIKE` here always means
    * the folding comparison, so it is rewritten to Spark's `ILIKE`
    * (`NOT LIKE` and `… ESCAPE 'c'` forms compose untouched — both
    * keywords survive around the operator). The one residual delta:
    * SQLite folds ASCII only, ILIKE folds full Unicode — documented
    * in README's divergence table.
    */
  private def rewriteLike(sql: String): String =
    SqlText.rewrite(sql)(i =>
      if (keywordAt(sql, i, "like")) Some(("ILIKE", i + 4)) else None)

  /** SQLite `COLLATE` clauses. `COLLATE BINARY` is Spark's default
    * comparison — the clause is dropped. `COLLATE NOCASE` applies
    * ASCII case-folding to the comparison it decorates:
    *  - `A op B COLLATE NOCASE` / `A COLLATE NOCASE op B` (op a
    *    comparison) → `lower(A) op lower(B)`;
    *  - next to `ILIKE` (already folding after [[rewriteLike]]) → the
    *    clause is simply stripped;
    *  - bare operand (`ORDER BY x COLLATE NOCASE`) → `lower(x)`.
    * `COLLATE RTRIM` (compare with trailing spaces ignored — SQLite
    * datatype3.html §7.1) folds the same three shapes through
    * `rtrim()`: both SQLite's RTRIM collation and Spark's one-arg
    * `rtrim` treat exactly the 0x20 space character, so
    * rtrim-then-binary-compare IS the collation. Next to ILIKE it
    * strips like NOCASE does: SQLite's LIKE does not honor collating
    * sequences at all, so the clause is a no-op there.
    * `[NOT] IN (scalar list)` folds every list member, `[NOT]
    * BETWEEN lo AND hi` folds both bounds, and `[NOT] IN (SELECT …)`
    * folds the membership comparison by wrapping the subquery as a
    * one-column derived table (SQLite propagates the LHS collation to
    * each operand — datatype3.html §7.1). Custom collations are left
    * verbatim — a visible analysis error beats a silently changed
    * answer.
    */
  private def rewriteCollate(sql: String): String = {
    def next(from: Int) = SqlText.find(sql, from)(keywordAt(sql, _, "collate"))
    var i = next(0)
    while (i >= 0) {
      val j = skipWs(sql, i + 7)
      var k = j
      while (k < sql.length && isWordChar(sql.charAt(k))) k += 1
      // None: an unknown collation or an unparseable context stays verbatim
      val rewritten = sql.substring(j, k).toLowerCase match {
        case "binary" =>
          // BINARY is Spark's default comparison — the clause drops,
          // but a comment marker records that the statement CHOSE a
          // collation explicitly, so the column-DECLARED collation
          // fold (exec.Collations) steps aside for the whole
          // statement (SQLite's explicit-override rule, applied
          // coarsely — documented in the README table)
          var e = i
          while (e > 0 && sql.charAt(e - 1).isWhitespace) e -= 1
          Some(sql.substring(0, e) + " /*graft_binary*/" + sql.substring(k))
        case "nocase" => applyCollationFold(sql, i, k, "lower")
        case "rtrim" => applyCollationFold(sql, i, k, "rtrim")
        case _ => None
      }
      rewritten match {
        case Some(r) => return rewriteCollate(r)
        case None => i = next(k)
      }
    }
    sql
  }

  private def applyCollationFold(sql: String, collStart: Int, collEnd: Int,
                                 fn: String): Option[String] = {
    val xEnd = SqlText.skipWsBack(sql, collStart)
    val xStart = primaryStartBackwards(sql, xEnd)
    if (xStart < 0 || xStart >= xEnd) return None
    val x = sql.substring(xStart, xEnd)

    // X COLLATE NOCASE op Y
    val a = skipWs(sql, collEnd)
    // X COLLATE NOCASE [NOT] IN (list | SELECT …) / [NOT] BETWEEN
    // lo AND hi — SQLite propagates the LHS collation to every IN
    // operand (list members or subquery results) and both BETWEEN
    // bounds (datatype3.html §7.1), so each operand takes the same
    // fold; the subquery form folds through a one-column derived-table
    // wrap, never by editing the subquery's own text.
    var inStart = a
    var neg = ""
    if (keywordAt(sql, a, "not")) {
      val n = skipWs(sql, a + 3)
      if (keywordAt(sql, n, "in") || keywordAt(sql, n, "between")) {
        neg = "NOT "; inStart = n
      } else if (!keywordAt(sql, n, "ilike")) return None
    }
    if (keywordAt(sql, inStart, "in")) {
      val p = skipWs(sql, inStart + 2)
      if (p >= sql.length || sql.charAt(p) != '(') return None
      val cp = SqlText.closeParen(sql, p)
      if (cp < 0) return None
      val inner = sql.substring(p + 1, cp)
      val s0 = skipWs(inner, 0)
      // IN (SELECT …): SQLite propagates the LHS collation into the
      // membership comparison too. Folding does NOT require parsing
      // the subquery's select list — wrapping it as a one-column
      // derived table applies the fold to whatever it yields (a
      // multi-column subquery fails the one-name alias loudly, same
      // as SQLite's "sub-select returns N columns" error class)
      if (keywordAt(inner, s0, "select") || keywordAt(inner, s0, "with"))
        return Some(sql.substring(0, xStart) +
          s"$fn($x) ${neg}IN (SELECT $fn(__graft_inc) FROM (" + inner +
          ") AS __graft_insub(__graft_inc))" + sql.substring(cp + 1))
      val items = SqlText.splitTop(inner).map(it => s"$fn(${codeOf(it)})")
      return Some(sql.substring(0, xStart) +
        s"$fn($x) ${neg}IN (" + items.mkString(", ") + ")" +
        sql.substring(cp + 1))
    }
    if (keywordAt(sql, inStart, "between")) {
      val p = skipWs(sql, inStart + 7)
      val loEnd = primaryEndForwards(sql, p)
      if (loEnd < 0) return None
      val lo = sql.substring(p, loEnd)
      val and = skipWs(sql, loEnd)
      if (!keywordAt(sql, and, "and")) return None
      val q = skipWs(sql, and + 3)
      val hiEnd = primaryEndForwards(sql, q)
      if (hiEnd < 0) return None
      val hi = sql.substring(q, hiEnd)
      return Some(sql.substring(0, xStart) +
        s"$fn($x) ${neg}BETWEEN $fn($lo) AND $fn($hi)" +
        sql.substring(hiEnd))
    }
    operatorAtForwards(sql, a) match {
      case Some(("ilike", _)) | Some(("not", _)) =>
        return Some(sql.substring(0, xEnd) + sql.substring(collEnd))
      case Some((op, opEnd)) =>
        val ys = skipWs(sql, opEnd)
        val ye = primaryEndForwards(sql, ys)
        if (ye < 0) return None
        val y = sql.substring(ys, ye)
        return Some(sql.substring(0, xStart) +
          s"$fn($x) $op $fn($y)" + sql.substring(ye))
      case None =>
    }

    // A op X COLLATE NOCASE
    val b = SqlText.skipWsBack(sql, xStart)
    // X is the ESCAPE literal of an ILIKE (`y ILIKE p ESCAPE '!'
    // COLLATE NOCASE`): the fold is already the ILIKE's job — strip
    // the collation instead of wrapping the escape char in lower()
    if (b >= 6 && keywordAt(sql, b - 6, "escape"))
      return Some(sql.substring(0, xEnd) + sql.substring(collEnd))
    operatorAtBackwards(sql, b) match {
      case Some(("ilike", _)) =>
        Some(sql.substring(0, xEnd) + sql.substring(collEnd))
      case Some((op, opStart)) =>
        val ae = SqlText.skipWsBack(sql, opStart)
        val aStart = primaryStartBackwards(sql, ae)
        if (aStart < 0 || aStart >= ae) None
        else {
          val aExpr = sql.substring(aStart, ae)
          Some(sql.substring(0, aStart) +
            s"$fn($aExpr) $op $fn($x)" + sql.substring(collEnd))
        }
      case None =>
        // `A BETWEEN lo AND hi COLLATE NOCASE`: operatorAtBackwards
        // sees no operator (AND is not one) and the bare fallback
        // would fold ONLY the upper bound — half-folded silent wrong
        // rows. Decline instead (visible error), matching the
        // documented BETWEEN policy on the forward side.
        if (b >= 3 && keywordAt(sql, b - 3, "and")) None
        // bare operand (ORDER BY / GROUP BY position)
        else Some(sql.substring(0, xStart) + s"$fn($x)" + sql.substring(collEnd))
    }
  }

  private val cmpOps2 = Seq("==", "!=", "<>", "<=", ">=")
  private val cmpOps1 = Seq("=", "<", ">")

  /** Comparison operator (or the keywords ILIKE / NOT) starting at
    * `i`; returns (token-lowercase, end index exclusive). */
  private def operatorAtForwards(sql: String, i: Int): Option[(String, Int)] = {
    if (keywordAt(sql, i, "ilike")) return Some(("ilike", i + 5))
    if (keywordAt(sql, i, "not")) return Some(("not", i + 3))
    cmpOps2.find(op => sql.regionMatches(i, op, 0, 2)) match {
      case Some(op) => Some((op, i + 2))
      case None =>
        cmpOps1.find(op => sql.regionMatches(i, op, 0, 1)).map(op => (op, i + 1))
    }
  }

  /** Comparison operator (or ILIKE) ENDING at `endExcl`; returns
    * (token-lowercase, start index). */
  private def operatorAtBackwards(sql: String, endExcl: Int): Option[(String, Int)] = {
    if (endExcl >= 5 && keywordAt(sql, endExcl - 5, "ilike"))
      return Some(("ilike", endExcl - 5))
    if (endExcl >= 2) {
      val two = sql.substring(endExcl - 2, endExcl)
      if (cmpOps2.contains(two)) return Some((two, endExcl - 2))
    }
    if (endExcl >= 1) {
      val one = sql.substring(endExcl - 1, endExcl)
      if (cmpOps1.contains(one)) return Some((one, endExcl - 1))
    }
    None
  }

  /** Start index of the primary expression (string/quoted identifier,
    * paren group with optional function name, or dotted word) ending
    * just before `endExcl`; -1 if unrecognized. */
  private def primaryStartBackwards(sql: String, endExcl: Int): Int = {
    val e = SqlText.skipWsBack(sql, endExcl) - 1
    if (e < 0) return -1
    sql.charAt(e) match {
      case '\'' | '"' | '`' => SqlText.quotedStart(sql, e + 1)
      case ')' =>
        val open = SqlText.openParen(sql, e)
        if (open < 0) -1
        else {
          var w = open - 1
          while (w >= 0 && isWordChar(sql.charAt(w))) w -= 1
          w + 1
        }
      case c if isWordChar(c) =>
        var s = e
        while (s >= 0 && (isWordChar(sql.charAt(s)) || sql.charAt(s) == '.')) s -= 1
        s + 1
      case _ => -1
    }
  }

  /** End index (exclusive) of the primary expression starting at
    * `start`; -1 if unrecognized. */
  private def primaryEndForwards(sql: String, start: Int): Int = {
    if (start >= sql.length) return -1
    val quoted = SqlText.skipOpaque(sql, start)
    if (quoted > start) return quoted
    sql.charAt(start) match {
      // unary sign before a primary (`x IS -1`): consume it and scan
      // the signed operand as one unit
      case '-' | '+' => primaryEndForwards(sql, skipWs(sql, start + 1))
      case '(' =>
        val c = SqlText.closeParen(sql, start); if (c < 0) -1 else c + 1
      case c if isWordChar(c) =>
        var e = start
        while (e < sql.length && (isWordChar(sql.charAt(e)) || sql.charAt(e) == '.')) e += 1
        val j = skipWs(sql, e)
        if (j < sql.length && sql.charAt(j) == '(') {
          val cl = SqlText.closeParen(sql, j); if (cl < 0) -1 else cl + 1
        } else e
      case _ => -1
    }
  }

  /** SQLite resolves a double-quoted token as an IDENTIFIER when it
    * names a known column/table and as a string literal otherwise (a
    * documented SQLite "misfeature" models learned from its training
    * data); Spark under the default
    * `spark.sql.ansi.doubleQuotedIdentifiers=false` always parses
    * `"x"` as a literal — so `SELECT "Product" FROM t` would silently
    * return a CONSTANT. This rewrites double-quoted tokens to
    * backticks exactly when they resolve (case-insensitively) against
    * the caller's identifier set — the same resolution rule SQLite
    * applies, with unresolved tokens left as literals.
    */
  def resolveDoubleQuoted(sql: String, identifiers: Set[String]): String = {
    val known = identifiers.map(_.toLowerCase)
    val out = new java.lang.StringBuilder
    var i = 0
    while (i < sql.length) {
      val e = SqlText.skipOpaque(sql, i)
      if (e == i) { out.append(sql.charAt(i)); i += 1 }
      else {
        val closedDq = sql.charAt(i) == '"' && e - i >= 2 && sql.charAt(e - 1) == '"'
        val t = if (closedDq) sql.substring(i + 1, e - 1).replace("\"\"", "\"") else ""
        if (closedDq && known.contains(t.toLowerCase))
          out.append('`').append(t.replace("`", "``")).append('`')
        else out.append(sql, i, e)
        i = e
      }
    }
    out.toString
  }

  // ---------------------------------------------------------------- calls

  /** Calls whose name Spark owns with other semantics → the name
    * [[graft.plans.SqliteFunctions]] registers the SQLite function
    * under, for the argument counts where the SQLite meaning applies
    * (2-argument `trunc` is Spark's date truncation, 1-argument
    * `min`/`max` the aggregates, 1-argument trims the same in both).
    * Every other SQLite function is registered under its own name and
    * passes through verbatim. A target never matches again ('date'
    * inside 'sqlite_date' fails the word boundary), so renaming is a
    * fixpoint. */
  private[graft] val renames: Map[String, (Int => Boolean, String)] = Map(
    "date" -> ((_: Int) => true, "sqlite_date"),
    "time" -> ((_: Int) => true, "sqlite_time"),
    "char" -> ((_: Int) => true, "sqlite_char"),
    "printf" -> ((_: Int) >= 1, "sqlite_printf"),
    "concat" -> ((_: Int) >= 1, "sqlite_concat"),
    "trunc" -> ((_: Int) == 1, "sqlite_trunc"),
    "random" -> ((_: Int) == 0, "sqlite_random"),
    "min" -> ((_: Int) >= 2, "sqlite_min"),
    "max" -> ((_: Int) >= 2, "sqlite_max"),
    "ltrim" -> ((_: Int) == 2, "sqlite_ltrim"),
    "rtrim" -> ((_: Int) == 2, "sqlite_rtrim"),
    "trim" -> ((_: Int) == 2, "sqlite_trim"),
    "json_array_length" -> ((_: Int) == 2, "sqlite_json_array_length"),
    "typeof" -> ((_: Int) == 1, "sqlite_typeof"),
    "hex" -> ((_: Int) == 1, "sqlite_hex"),
    "quote" -> ((_: Int) == 1, "sqlite_quote"),
    "soundex" -> ((_: Int) == 1, "graft_soundex"),
    "sign" -> ((_: Int) == 1, "graft_sign"),
    // SQLite ≥3.44 string_agg(X, SEP) is an exact group_concat alias;
    // Spark's own string_agg keeps partition-dependent input order
    "string_agg" -> ((_: Int) == 2, "group_concat"))

  /** If a call to a name this pass handles starts at `i`, return
    * (lowercased name, openParenIdx, closeParenIdx). The boundary check
    * requires a non-word char before `i`; a name right after `AS` is a
    * type (`CAST(x AS CHAR(4))`), not a call. */
  private def matchCall(sql: String, i: Int): Option[(String, Int, Int)] = {
    if (i > 0 && (isWordChar(sql.charAt(i - 1)) || sql.charAt(i - 1) == '.'))
      return None
    var e = i
    while (e < sql.length && isWordChar(sql.charAt(e))) e += 1
    val name = sql.substring(i, e).toLowerCase
    val j = skipWs(sql, e)
    if ((renames.contains(name) || name == "group_concat" || name == "cast") &&
        j < sql.length && sql.charAt(j) == '(' &&
        !precedingWord(sql, i).equalsIgnoreCase("as")) {
      val close = SqlText.closeParen(sql, j)
      if (close >= 0) Some((name, j, close)) else None
    } else None
  }

  /** A fragment about to be rebuilt into new text, trimmed: its
    * comments go first, since a trailing `--` comment would swallow
    * whatever the rebuild puts after it. */
  private def codeOf(s: String): String = SqlText.stripComments(s).trim

  private def precedingWord(sql: String, i: Int): String = {
    var e = i - 1
    while (e >= 0 && sql.charAt(e).isWhitespace) e -= 1
    var s = e
    while (s >= 0 && isWordChar(sql.charAt(s))) s -= 1
    if (e < 0) "" else sql.substring(s + 1, e + 1)
  }

  /** One left-to-right pass over the calls: a renamed call keeps its
    * argument text (the scan continues into it), `group_concat(DISTINCT
    * …)` moves the DISTINCT into the name (an injected builder cannot
    * receive it), and `CAST(… AS <storage class>)` takes the Spark type
    * name. */
  private def rewriteCalls(sql: String): String =
    SqlText.rewrite(sql) { i =>
      matchCall(sql, i).flatMap { case (name, open, close) =>
        val argRegion = sql.substring(open + 1, close)
        // a blank arg list is zero args (SQLite date() = date('now'))
        val args =
          if (skipWs(argRegion, 0) == argRegion.length) Seq.empty[String]
          else SqlText.splitTop(argRegion)
        name match {
          case "cast" =>
            if (args.length == 1)
              buildCastType(rewriteCalls(codeOf(args.head))).map((_, close + 1))
            else None
          case "group_concat" =>
            val d = skipWs(sql, open + 1)
            if (keywordAt(sql, d, "distinct"))
              Some(("sqlite_group_concat_distinct(", skipWs(sql, d + 8)))
            else None
          case _ =>
            val (arity, target) = renames(name)
            if (arity(args.length)) Some((target, i + name.length)) else None
        }
      }
    }

  /** SQLite storage classes → Spark types inside `CAST(x AS T)`.
    * Types Spark already accepts (INTEGER, BIGINT, VARCHAR, …) decline
    * and pass through verbatim. */
  private val castTypes = Map(
    "text" -> "STRING", "clob" -> "STRING",
    "real" -> "DOUBLE", "numeric" -> "DOUBLE", "blob" -> "BINARY")

  private val castArgRe = """(?is)^(.*\sAS\s+)(\w+)\s*$""".r

  private def buildCastType(arg: String): Option[String] = arg match {
    case castArgRe(prefix, tpe) =>
      castTypes.get(tpe.toLowerCase).map(t => s"CAST($prefix$t)")
    case _ => None
  }
}
