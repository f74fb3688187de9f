package graft.text2sql

/** SQLite → Spark SQL dialect translation for generated SQL.
  *
  * The reference instructs its model to emit "SQL compliant to SQLite"
  * (reference pandasqlite/pandasqlite.py:220-225); this engine asks for
  * Spark SQL, but a model fed SQLite-era few-shots still produces
  * SQLite-isms. This post-processor rewrites the mechanical ones so a
  * reference user's existing prompts and cached curricula keep working:
  *
  *  - `strftime(fmt, x, mods…)`   → `date_format` (+ `%s`/`%w` specials)
  *  - `date/time/datetime(x, mods…)` → modifier chain + `date_format`
  *    (modifiers: `±N days/hours/…/months/years`, `start of day/month/
  *    year`, `weekday N`, `unixepoch` first-position base
  *    reinterpretation, `localtime`/`utc` no-ops under the UTC session)
  *  - `julianday(x, mods…)`       → explicit noon-based Julian formula
  *  - `iif(a,b,c)`                → `if(a,b,c)`
  *  - `group_concat([DISTINCT] x[, sep])` → sorted `array_join(collect_*)`
  *  - `unicode(x)` / `char(n…)`   → `ascii(x)` / `chr`-concat
  *  - `printf(...)`               → `format_string(...)`
  *  - `x GLOB 'pat'`              → `x RLIKE '<anchored regex>'`
  *  - `random()`                  → uniform 64-bit BIGINT over rand()
  *    (SQLite's range, so `abs(random()) % n` keeps its meaning)
  *  - `hex(x)` / `quote(x)`       → native `sqlite_hex`/`sqlite_quote`
  *    (type-directed blob/literal renderings; Spark's hex(25) = '19'
  *    where SQLite's = '3235')
  *  - `a LIKE b`                  → `a ILIKE b` (SQLite LIKE folds case;
  *    Spark's does not — same token, different semantics, silent wrong
  *    rows without the rewrite; `NOT`/`ESCAPE` forms compose)
  *  - `COLLATE NOCASE`            → `lower()` on both comparison sides
  *    (or stripped next to `ILIKE`); `COLLATE BINARY` dropped (Spark
  *    default); unknown collations left verbatim
  *  - `a IS b` / `a IS NOT b`     → null-safe `<=>` (`IS NULL`,
  *    `IS TRUE/FALSE`, `IS DISTINCT FROM` pass through)
  *  - `LIMIT off, cnt`            → `LIMIT cnt OFFSET off`
  *  - `ifnull/instr/substr`       → already valid Spark SQL (no-op)
  *
  * Scanning follows [[SqlText]]'s lexical rule: quoted runs and
  * comments are opaque to every rewrite, and calls nest by balanced
  * parens; arguments are translated recursively before substitution. A
  * call the translator does not understand is left verbatim — a visible
  * analysis error beats a silently changed answer.
  *
  * Two deliberate semantic deltas from SQLite, documented here because
  * they are contracts, not bugs:
  *  - month/year shifts CLAMP at month end (Spark/DuckDB `Mar 31 - 1
  *    month = Feb 28`) where SQLite NORMALIZES (`= Mar 3`);
  *  - `group_concat` output is sorted (SQLite's order is explicitly
  *    "arbitrary" — sorting makes the distributed result deterministic).
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

  /** Rewritable call names, matched with word boundaries. `datetime`
    * never collides with `date`/`time` because the boundary check
    * rejects a word character on either side of the candidate name.
    */
  private val names = Seq(
    "json_group_array", "json_group_object", "group_concat",
    "json_array_length", "json_extract", "json_object", "json_array",
    "json_valid", "json", "likelihood", "likely", "unlikely",
    "unixepoch", "julianday", "datetime", "strftime", "random",
    "unicode", "printf", "format", "total", "trunc", "date", "time",
    "char", "iif", "cast", "min", "max", "ltrim", "rtrim", "trim",
    "glob", "string_agg", "concat", "typeof", "hex", "quote",
    "zeroblob", "randomblob", "soundex", "sign")

  /** If a rewritable call starts at `i`, return (name, openParenIdx,
    * closeParenIdx). The boundary check requires a non-word char before
    * `i`; `char(` preceded by `AS` is a cast type, not a call. */
  private def matchCall(sql: String, i: Int): Option[(String, Int, Int)] = {
    if (i > 0 && (isWordChar(sql.charAt(i - 1)) || sql.charAt(i - 1) == '.'))
      return None
    val it = names.iterator
    while (it.hasNext) {
      val name = it.next()
      if (sql.regionMatches(true, i, name, 0, name.length) &&
          (i + name.length >= sql.length || !isWordChar(sql.charAt(i + name.length)))) {
        val j = skipWs(sql, i + name.length)
        if (j < sql.length && sql.charAt(j) == '(') {
          val close = SqlText.closeParen(sql, j)
          val castType = name == "char" && precedingWord(sql, i).equalsIgnoreCase("as")
          if (close >= 0 && !castType) return Some((name, j, close))
        }
      }
    }
    None
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

  /** One left-to-right pass: rewrite the leftmost translatable call
    * (arguments first, recursively), continue after it. Untranslatable
    * calls keep their text but their arguments are still scanned. */
  private def rewriteCalls(sql: String): String =
    SqlText.rewrite(sql) { i =>
      matchCall(sql, i).map { case (name, open, close) =>
        val argRegion = sql.substring(open + 1, close)
        // a blank arg list is zero args (SQLite date() = date('now')),
        // not one empty-string arg
        val args =
          if (skipWs(argRegion, 0) == argRegion.length) Seq.empty[String]
          else SqlText.splitTop(argRegion).map(a => rewriteCalls(codeOf(a)))
        build(name, args) match {
          case Some(repl) => (repl, close + 1)
          case None       => (sql.substring(i, open + 1), open + 1)
        }
      }
    }

  // ----------------------------------------------------------- builders

  private def build(name: String, args: Seq[String]): Option[String] =
    name match {
      case "iif" if args.length == 3 =>
        Some(s"if(${args.mkString(", ")})")
      // SQLite ≥3.48 two-argument iif: NULL when the condition is false
      case "iif" if args.length == 2 =>
        Some(s"(CASE WHEN ${args(0)} THEN ${args(1)} END)")
      // SQLite random() returns a uniform 64-bit INTEGER, not a [0,1)
      // double — `abs(random()) % n` (the idiomatic SQLite random
      // pick) would silently always yield ~0 on a bare rand(). One
      // double-scaled draw can't make uniform LOW bits either (the
      // ulp near 2^63 is 2048, so `% 10` would only ever see even
      // residues) — compose two exact 32-bit draws instead: each
      // rand() instance seeds independently, floor(rand()*2^32) is
      // integer-exact in a double, and (hi-2^31)*2^32 + lo spans
      // exactly [-2^63, 2^63) with no BIGINT overflow. 'rand' never
      // re-matches the 'random' scan (different word): fixpoint.
      case "random" if args.isEmpty =>
        Some("((CAST(floor(rand() * 4294967296.0D) AS BIGINT) - 2147483648) " +
          "* 4294967296 + CAST(floor(rand() * 4294967296.0D) AS BIGINT))")
      // format() is SQLite's printf alias (≥3.38); Spark has no format()
      case "printf" | "format" if args.nonEmpty =>
        buildPrintf(args)
      // SQLite 2-arg ltrim/rtrim/trim are (src, trimChars); Spark's
      // legacy 2-arg forms are (trimStr, src) — SAME TOKEN, SWAPPED
      // arguments, silently wrong values without translation. The
      // keyword TRIM forms are emitted (not the swapped 2-arg calls):
      // they parse as a single argument, so a second translate pass
      // leaves them alone — a plain swap would swap BACK (involution,
      // not idempotent)
      case "ltrim" if args.length == 2 =>
        Some(s"TRIM(LEADING ${args(1)} FROM ${args(0)})")
      case "rtrim" if args.length == 2 =>
        Some(s"TRIM(TRAILING ${args(1)} FROM ${args(0)})")
      case "trim" if args.length == 2 =>
        Some(s"TRIM(BOTH ${args(1)} FROM ${args(0)})")
      // glob(PATTERN, STRING) — the function form of the GLOB operator
      // (note the swapped operand order); literal patterns compile to
      // the same anchored regex, non-literal patterns decline visibly
      case "glob" if args.length == 2 && isStringLit(args.head) =>
        val regex = graft.functions.Glob.toRegex(unquote(args.head))
          .replace("\\", "\\\\").replace("'", "''")
        Some(s"(${args(1)} RLIKE '$regex')")
      // SQLite ≥3.44 string_agg(X, SEP) is an exact group_concat alias
      // (arbitrary order) — rendered sorted like group_concat. Spark 4
      // has a native string_agg, but its input order is partition-
      // dependent: leaving it untranslated would make declared-SQLite
      // queries nondeterministic across runs.
      case "string_agg" if args.length == 2 => buildGroupConcat(args)
      // SQLite concat()/concat_ws() skip NULL arguments; Spark's
      // concat is NULL-propagating (same token, different algebra) —
      // concat_ws with an empty separator is the exact semantics,
      // including '' (never NULL) when every argument is NULL
      case "concat" if args.nonEmpty =>
        Some(s"concat_ws('', ${args.mkString(", ")})")
      // typeof() → the native sqlite_typeof expression (injected by
      // GraftExtensions), which folds the storage
      // class to a null-guarded literal. A pure-SQL rewrite would have
      // to call typeof() inside its own emission — a second translate
      // pass would re-expand it (fixpoint violation, fuzz-pinned) —
      // and leaving the call verbatim resolves to SPARK's typeof,
      // whose answers ('bigint', 'string') are silently wrong in
      // SQLite dialect. The distinct target name survives re-scans:
      // 'typeof' inside 'sqlite_typeof' fails the word-boundary match.
      case "typeof" if args.length == 1 =>
        Some(s"sqlite_typeof(${args.head})")
      // hex()/quote() are value-rendering functions whose behavior
      // depends on the operand's storage class — routed to native
      // type-directed expressions (same pattern and fixpoint reasoning
      // as typeof; Spark's own hex() answers '19' for hex(25) where
      // SQLite answers '3235')
      case "hex" if args.length == 1 =>
        Some(s"sqlite_hex(${args.head})")
      case "quote" if args.length == 1 =>
        Some(s"sqlite_quote(${args.head})")
      // soundex() is compiled into the reference's sqlite build
      // (SQLITE_SOUNDEX, measured on 3.40.1) with rules Spark's own
      // census-variant soundex() diverges from ('b-b': SQLite B100,
      // Spark's B000; non-alpha/NULL input → '?000', never NULL) —
      // routed to the native byte-exact expression. 'soundex' inside
      // 'graft_soundex' fails the word-boundary match (fixpoint).
      case "soundex" if args.length == 1 =>
        Some(s"graft_soundex(${args.head})")
      // sign() answers INTEGER -1/0/1 with NULL on non-numeric text
      // where Spark's answers DOUBLE and text coerces differently —
      // routed native (same fixpoint reasoning)
      case "sign" if args.length == 1 =>
        Some(s"graft_sign(${args.head})")
      // zeroblob(N) → an N-byte zero blob (non-positive N → empty,
      // SQLite's rule). unhex/repeat/greatest are never rewritten and
      // INT is not a castTypes class — the emission is a fixpoint.
      case "zeroblob" if args.length == 1 =>
        Some(s"unhex(repeat('00', greatest(CAST((${args.head}) AS INT), 0)))")
      // randomblob(N) → N uniform random bytes, each an exact
      // independent 8-bit draw (hex(randomblob(16)) is the idiomatic
      // SQLite unique-id generator). N must be a literal — the byte
      // count is the emission length; SQLite returns ONE byte for
      // N < 1. format_string (not hex/concat) keeps the emission out
      // of this translator's own rewrites. Over 256 bytes (or a
      // non-literal N) the call is left verbatim → visible error.
      case "randomblob" if args.length == 1 &&
          args.head.trim.matches("-?\\d{1,9}") =>
        val n = math.max(args.head.trim.toInt, 1)
        if (n > 256) None
        else {
          val b = "format_string('%02X', CAST(floor(rand() * 256.0D) AS BIGINT))"
          Some(s"unhex(${Seq.fill(n)(b).mkString("(", " || ", ")")})")
        }
      case "unicode" if args.length == 1 =>
        Some(s"ascii(${args.head})")
      case "char" if args.nonEmpty =>
        Some(if (args.length == 1) s"chr(${args.head})"
             // || not concat(): the concat→concat_ws NULL-skip rewrite
             // would hit our own emission on a second pass (fixpoint),
             // and || keeps NULL-propagation
             else args.map(a => s"chr($a)").mkString("(", " || ", ")"))
      case "group_concat" => buildGroupConcat(args)
      case "strftime" if args.nonEmpty => buildStrftime(args)
      // SQLite total(): like sum() but DOUBLE and 0.0 (not NULL) on
      // empty/all-NULL input
      case "total" if args.length == 1 =>
        Some(s"coalesce(sum(CAST(${args.head} AS DOUBLE)), CAST(0.0 AS DOUBLE))")
      // SQLite storage-class names in CAST targets
      case "cast" if args.length == 1 => buildCastType(args.head)
      // scalar (multi-argument) min/max: SQLite returns NULL if ANY
      // argument is NULL; Spark's least/greatest skip NULLs, so guard
      case "min" if args.length >= 2 =>
        Some(buildScalarMinMax("least", args))
      case "max" if args.length >= 2 =>
        Some(buildScalarMinMax("greatest", args))
      case "date" =>
        applyModifiers(args).map(e => s"date_format($e, 'yyyy-MM-dd')")
      case "time" =>
        applyModifiers(args).map(e => s"date_format($e, 'HH:mm:ss')")
      case "datetime" =>
        applyModifiers(args).map(e => s"date_format($e, 'yyyy-MM-dd HH:mm:ss')")
      case "julianday" =>
        // SQLite returns a float → force DOUBLE everywhere: in SQL
        // TEXT a `1000000.0` literal parses as DECIMAL and bigint ÷
        // decimal runs DECIMAL division, whose rounding diverges from
        // the double formula in the last digit — so divide ONCE by an
        // explicit double (µs per day)
        applyModifiers(args).map(e =>
          s"(CAST(2440587.5 AS DOUBLE) + " +
            s"unix_micros($e) / CAST(86400000000 AS DOUBLE))")
      case "unixepoch" =>
        // SQLite ≥3.38: integer Unix seconds (floor)
        applyModifiers(args).map(e => s"unix_timestamp($e)")
      // NOT translated, deliberately: `log(x)` is VALID Spark SQL with
      // a different meaning (natural log; SQLite's is base-10). The
      // translator only rewrites tokens that cannot be Spark SQL —
      // flipping an ambiguous one would corrupt Spark-compliant model
      // output. A model wanting base-10 emits log10(), valid in both.
      // numeric truncation toward zero (Spark's trunc is date-only)
      case "trunc" if args.length == 1 =>
        val x = args.head
        Some(s"(CASE WHEN ($x) >= 0 THEN CAST(FLOOR($x) AS DOUBLE) " +
          s"ELSE CAST(CEIL($x) AS DOUBLE) END)")
      // JSON1 aggregates; sorted for distributed determinism (SQLite
      // order is arbitrary), same policy as group_concat
      case "json_group_array" if args.length == 1 =>
        Some(s"to_json(array_sort(collect_list(${args.head})))")
      case "json_group_object" if args.length == 2 =>
        Some(s"to_json(map_from_entries(array_sort(collect_list(" +
          s"struct(${args(0)}, ${args(1)})))))")
      // JSON1 scalar surface. json_extract's SQL-value semantics are
      // get_json_object's (strings unquoted, objects/arrays as JSON
      // text); residual delta: JSON numbers/booleans come back as
      // STRING '7'/'true', not typed values — comparisons coerce,
      // documented in README. Multi-path form returns a JSON array of
      // the per-path values (missing paths → JSON null), per SQLite.
      case "json_extract" if args.length == 2 =>
        Some(s"get_json_object(${args(0)}, ${args(1)})")
      case "json_extract" if args.length > 2 =>
        val parts = args.tail.map(p =>
          s"coalesce(to_json(variant_get(parse_json(${args(0)}), $p)), 'null')")
        Some(s"concat_ws('', '[', concat_ws(',', ${parts.mkString(", ")}), ']')")
      // json(X): validate + minify. parse_json throws on malformed
      // input — so does SQLite's json().
      case "json" if args.length == 1 =>
        Some(s"to_json(parse_json(${args.head}))")
      // Boolean (not SQLite's 0/1 — WHERE is the common position and
      // Spark filters need BOOLEAN); NULL input stays NULL per SQLite
      case "json_valid" if args.length == 1 =>
        Some(s"(CASE WHEN (${args.head}) IS NULL THEN NULL " +
          s"ELSE try_parse_json(${args.head}) IS NOT NULL END)")
      case "json_array" =>
        if (args.isEmpty) Some("'[]'")
        else Some(s"concat_ws('', '[', concat_ws(',', " +
          s"${args.map(jsonQuoteValue).mkString(", ")}), ']')")
      // keys must be string literals (the form models emit; SQLite
      // errors on non-text labels anyway) — else decline visibly
      case "json_object"
          if args.length % 2 == 0 &&
            args.grouped(2).forall(p => isStringLit(p.head)) =>
        if (args.isEmpty) Some("'{}'")
        else {
          val pairs = args.grouped(2).map { p =>
            s"concat_ws('', ${jsonQuoteValue(p(0))}, ':', ${jsonQuoteValue(p(1))})"
          }
          Some(s"concat_ws('', '{', concat_ws(',', ${pairs.mkString(", ")}), '}')")
        }
      // 1-arg json_array_length passes through to Spark's native
      // function (same name): it yields NULL where SQLite yields 0 on
      // valid non-array JSON — documented divergence. Patching it
      // would emit a 1-arg json_array_length inside the patch, which a
      // second translate pass re-expands (the idempotence property
      // forbids self-referential rewrites; same reasoning as typeof).
      // The 2-arg path form below is safe: its emission only contains
      // the untranslated 1-arg shape.
      case "json_array_length" if args.length == 2 =>
        Some(s"(CASE WHEN get_json_object(${args(0)}, ${args(1)}) IS NULL " +
          s"THEN NULL ELSE coalesce(json_array_length(" +
          s"get_json_object(${args(0)}, ${args(1)})), 0) END)")
      // SQLite planner hints: identity on the value
      case "likely" | "unlikely" if args.length == 1 =>
        Some(s"(${args.head})")
      case "likelihood" if args.length == 2 =>
        Some(s"(${args.head})")
      case _ => None
    }

  /** One json_array/json_object element: serialize the SQL value as
    * JSON text (variant cast quotes strings, passes numbers/booleans
    * through; SQL NULL → JSON `null`). A value that is itself already
    * JSON text from a translated JSON call (`json(…)`, `->`, both
    * rewritten to `to_json(…)` by the time this runs on rewritten
    * args) is spliced verbatim — SQLite's JSON-subtype rule, so
    * `json_array(json('[1]'))` nests as `[[1]]`, not a quoted string. */
  private def jsonQuoteValue(e: String): String = {
    val t = e.trim
    // already-JSON shapes: anything this builder family itself emits —
    // to_json(…) (json()/`->`/aggregates), a rewritten json_array/
    // json_object (the exact concat prefix is ours), or their empty
    // literals. Everything else is an SQL value to be serialized.
    val alreadyJson = t.startsWith("to_json(") ||
      t.startsWith("concat_ws('', '[', concat_ws(',', ") ||
      t.startsWith("concat_ws('', '{', concat_ws(',', ") ||
      t == "'[]'" || t == "'{}'"
    if (alreadyJson) s"coalesce($t, 'null')"
    else s"coalesce(to_json(CAST($t AS VARIANT)), 'null')"
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

  private def buildScalarMinMax(fn: String, args: Seq[String]): String = {
    val anyNull = args.map(a => s"($a) IS NULL").mkString(" OR ")
    s"(CASE WHEN $anyNull THEN NULL ELSE $fn(${args.mkString(", ")}) END)"
  }

  private def isStringLit(s: String): Boolean = {
    val t = s.trim
    t.length >= 2 && t.head == '\'' && SqlText.skipOpaque(t, 0) == t.length
  }

  private def unquote(s: String): String = {
    val t = s.trim
    t.substring(1, t.length - 1).replace("''", "'")
  }

  /** SQLite printf → format_string. Java's Formatter is strict where
    * SQLite's is lenient: %f on an INTEGER/DECIMAL argument throws at
    * runtime (`f != Decimal`), %i doesn't exist, and SQLite's `!` flag
    * is unknown — so for a LITERAL format string the conversions are
    * scanned and each consuming argument gets the cast SQLite would
    * apply (%d/%i/%x/%o → BIGINT, %e/%f/%g → DOUBLE), `%i` renders as
    * `%d` and `!` is dropped, and the SQL-escaping conversions
    * %q/%Q/%w render as %s over a transformed argument. The remaining
    * SQLite-only conversions (%u/%c)
    * and `*` widths decline the whole call → visible error. A
    * non-literal format string passes through to format_string as-is
    * (no directive knowledge — the pre-existing behavior). */
  private def buildPrintf(args: Seq[String]): Option[String] = {
    if (!isStringLit(args.head))
      return Some(s"format_string(${args.mkString(", ")})")
    val fmt = unquote(args.head)
    val fixed = new StringBuilder
    val kinds = scala.collection.mutable.ArrayBuffer.empty[Char]
    var i = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c != '%') { fixed.append(c); i += 1 }
      else if (i + 1 < fmt.length && fmt.charAt(i + 1) == '%') {
        fixed.append("%%"); i += 2
      } else {
        var j = i + 1
        val spec = new StringBuilder("%")
        while (j < fmt.length && "-+ 0#,!".indexOf(fmt.charAt(j)) >= 0) {
          if (fmt.charAt(j) != '!') spec.append(fmt.charAt(j))
          j += 1
        }
        while (j < fmt.length && fmt.charAt(j).isDigit) {
          spec.append(fmt.charAt(j)); j += 1
        }
        if (j < fmt.length && fmt.charAt(j) == '.') {
          spec.append('.'); j += 1
          while (j < fmt.length && fmt.charAt(j).isDigit) {
            spec.append(fmt.charAt(j)); j += 1
          }
        }
        if (j >= fmt.length) return None
        fmt.charAt(j) match {
          case 'd' | 'i'                   => kinds += 'd'; spec.append('d')
          case k @ ('x' | 'X' | 'o')       => kinds += 'd'; spec.append(k)
          case k @ ('e' | 'E' | 'f' | 'g' | 'G') => kinds += 'f'; spec.append(k)
          case 's'                         => kinds += 's'; spec.append('s')
          // SQLite's SQL-escaping conversions render as %s over a
          // transformed argument: %q doubles single quotes (NULL →
          // empty, where Java's Formatter would print "null"), %Q is
          // the quote() rendering incl. the bare NULL keyword, %w
          // doubles double quotes for identifiers
          case k @ ('q' | 'Q' | 'w')       => kinds += k; spec.append('s')
          case _                           => return None
        }
        fixed.append(spec); i = j + 1
      }
    }
    if (kinds.length != args.length - 1) return None
    // NULL arguments take SQLite's printf substitutions (0, 0.0, the
    // empty string) — Java's Formatter would print the string "null"
    val casted = kinds.toSeq.zip(args.tail).map {
      case ('d', a) => s"coalesce(CAST($a AS BIGINT), 0)"
      case ('f', a) => s"coalesce(CAST($a AS DOUBLE), CAST(0.0 AS DOUBLE))"
      case ('s', a) => s"coalesce(CAST($a AS STRING), '')"
      case ('q', a) =>
        s"coalesce(replace(CAST($a AS STRING), '''', ''''''), '')"
      case ('Q', a) => s"sqlite_quote(CAST($a AS STRING))"
      case ('w', a) =>
        s"""coalesce(replace(CAST($a AS STRING), '"', '""'), '')"""
      case (_, a)   => a
    }
    val lit = "'" + fixed.toString.replace("'", "''") + "'"
    Some((lit +: casted).mkString("format_string(", ", ", ")"))
  }

  private val distinctRe = "(?is)^DISTINCT\\s+(.*)$".r

  /** `group_concat` → sorted array_join. NULL inputs are skipped by
    * `collect_*` exactly as SQLite skips them; an all-NULL group yields
    * SQL NULL (not "") via the size guard. Sorting replaces SQLite's
    * documented-arbitrary order with a deterministic one. */
  private def buildGroupConcat(args: Seq[String]): Option[String] = {
    if (args.isEmpty || args.length > 2) return None
    val (expr, collect) = args.head.trim match {
      case distinctRe(e) => (e.trim, s"collect_set(${e.trim})")
      case e             => (e, s"collect_list($e)")
    }
    val sep = if (args.length == 2) args(1) else "','"
    Some(s"(CASE WHEN count($expr) = 0 THEN CAST(NULL AS STRING) ELSE " +
      s"array_join(array_sort(transform($collect, v -> CAST(v AS STRING))), $sep) END)")
  }

  /** SQLite strftime directives → Java DateTimeFormatter pattern
    * letters. Conservative: an unmapped directive declines the whole
    * call (left verbatim → visible analysis error). */
  private val directives = Map(
    'Y' -> "yyyy", 'm' -> "MM", 'd' -> "dd", 'H' -> "HH",
    'M' -> "mm", 'S' -> "ss", 'j' -> "DDD", 'f' -> "ss.SSS",
    'I' -> "hh", 'p' -> "a",
    // C-composite shorthands (SQLite ≥3.44 supports these directly)
    'F' -> "yyyy-MM-dd", 'T' -> "HH:mm:ss", 'R' -> "HH:mm")

  private def buildStrftime(args: Seq[String]): Option[String] = {
    if (!isStringLit(args.head)) return None
    val fmt = unquote(args.head)
    applyModifiers(args.tail).flatMap(e => strftimeExpr(fmt, e))
  }

  /** Compile one strftime format into a single Spark expression. Runs
    * of pattern-mappable directives and literal text become
    * `date_format` segments; COMPUTED directives with no
    * DateTimeFormatter equivalent — `%s` (epoch), `%w` (weekday),
    * `%U`/`%W` (C week numbers; Spark 3+ dropped week-based pattern
    * letters entirely) — become standalone expressions; a mixed format
    * concatenates the pieces in order. Any directive outside both maps
    * declines the whole call (left verbatim → visible analysis error).
    *
    * Week-number semantics (SQLite == C strftime): weeks run
    * Sunday-first for `%U`, Monday-first for `%W`; week 01 starts at
    * the year's first such day and everything before it is week 00.
    * With 1-based day-of-year j and week-start-based weekday w (0 =
    * the week-start day), the number is `(j + 6 - w) div 7`, emitted
    * zero-padded to 2 — pinned arithmetic, no locale-dependent
    * WeekFields anywhere.
    */
  private def strftimeExpr(fmt: String, e: String): Option[String] = {
    // pieces: Left(javaPatternFragment) | Right(sparkExprText); pattern
    // fragments carry raw quote chars and are SQL-escaped at embed time
    val pieces = scala.collection.mutable.ArrayBuffer.empty[Either[String, String]]
    def addPat(p: String): Unit = pieces.lastOption match {
      case Some(Left(prev)) => pieces(pieces.length - 1) = Left(prev + p)
      case _                => pieces += Left(p)
    }
    val lit = new StringBuilder
    def flushLit(): Unit = if (lit.nonEmpty) {
      // quote literal runs so letters aren't read as pattern directives
      addPat("'" + lit.toString.replace("'", "''") + "'")
      lit.clear()
    }
    var i = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == '%') {
        if (i + 1 >= fmt.length) return None
        fmt.charAt(i + 1) match {
          case '%' => lit.append('%')
          case 's' =>
            flushLit(); pieces += Right(s"CAST(unix_timestamp($e) AS STRING)")
          case 'w' =>
            flushLit(); pieces += Right(s"CAST(dayofweek($e) - 1 AS STRING)")
          case 'U' => // dayofweek() is 1=Sunday → Sunday-based w = dayofweek-1
            flushLit()
            pieces += Right(s"lpad(CAST((dayofyear($e) + 6 - " +
              s"(dayofweek($e) - 1)) div 7 AS STRING), 2, '0')")
          case 'W' => // weekday() is 0=Monday — already Monday-based
            flushLit()
            pieces += Right(s"lpad(CAST((dayofyear($e) + 6 - " +
              s"weekday($e)) div 7 AS STRING), 2, '0')")
          // ISO-8601 week directives (SQLite ≥3.44): Spark's
          // weekofyear() IS the ISO week; the ISO YEAR comes from the
          // Thursday rule (the week's Thursday determines its year —
          // e + (4 - isoWeekday) days, i.e. 3 - weekday())
          case 'V' =>
            flushLit()
            pieces += Right(s"lpad(CAST(weekofyear($e) AS STRING), 2, '0')")
          case 'u' => // ISO weekday 1=Monday..7=Sunday
            flushLit()
            pieces += Right(s"CAST(weekday($e) + 1 AS STRING)")
          case 'G' =>
            flushLit()
            pieces += Right(
              s"CAST(year(date_add(CAST($e AS DATE), 3 - weekday($e))) AS STRING)")
          case 'g' =>
            flushLit()
            pieces += Right(s"lpad(CAST(year(date_add(CAST($e AS DATE), " +
              s"3 - weekday($e))) % 100 AS STRING), 2, '0')")
          case 'P' => // lowercase am/pm ('a' has no lowercase variant)
            flushLit()
            pieces += Right(s"lower(date_format($e, 'a'))")
          case 'J' => // Julian day number; SQLite renders with C
            // "%.16g" — for the 7-integer-digit JD range that is 9
            // fraction digits with the trailing zeros (and a bare
            // point) stripped. NOT emitted via format_string: Java's
            // %.9f rounds the double's SHORTEST decimal repr where C
            // rounds the exact binary expansion, so the last digit
            // diverges. Instead the digits are integer-assembled from
            // floor(jd·10⁹ + 0.5) — at that magnitude ulp = 0.5, the
            // +0.5 is exact, and floor is deterministic and identical
            // across engines. Same noon-based formula as julianday().
            flushLit()
            val jdScaled = s"CAST(FLOOR((CAST(2440587.5 AS DOUBLE) + " +
              s"unix_micros($e) / CAST(86400000000 AS DOUBLE)) * " +
              s"CAST(1000000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"
            pieces += Right(
              s"regexp_replace(" +
                s"CAST($jdScaled div 1000000000 AS STRING) || '.' || " +
                s"lpad(CAST($jdScaled % 1000000000 AS STRING), 9, '0'), " +
                s"'\\\\.?0+$$', '')")
          // space-padded hours (no DateTimeFormatter equivalent)
          case 'k' => // 24-hour, " 0".." 9" then "10".."23"
            flushLit()
            pieces += Right(s"lpad(CAST(hour($e) AS STRING), 2, ' ')")
          case 'e' => // day of month, C %2d: " 1".."31" (space-padded)
            flushLit()
            pieces += Right(s"lpad(CAST(day($e) AS STRING), 2, ' ')")
          case 'l' => // 12-hour, " 1".."12"
            flushLit()
            pieces += Right(
              s"lpad(CAST(((hour($e) + 11) % 12) + 1 AS STRING), 2, ' ')")
          case d =>
            directives.get(d) match {
              case Some(p) => flushLit(); addPat(p)
              case None    => return None
            }
        }
        i += 2
      } else { lit.append(c); i += 1 }
    }
    flushLit()
    def fmtPiece(p: String) = s"date_format($e, '${p.replace("'", "''")}')"
    pieces.toSeq match {
      case Seq()         => Some(fmtPiece("")) // empty format → empty string
      case Seq(Left(p))  => Some(fmtPiece(p))
      case Seq(Right(x)) => Some(x)
      case many =>
        // || not concat(): the concat→concat_ws NULL-skip rewrite
        // would hit our own emission on a second pass (breaking the
        // textual fixpoint), and || keeps the NULL-propagation a NULL
        // timeval needs (strftime(fmt, NULL) IS NULL; concat_ws would
        // yield '')
        Some(many.map {
          case Left(p)  => fmtPiece(p)
          case Right(x) => x
        }.mkString("(", " || ", ")"))
    }
  }

  // SQLite date-modifier grammar (subset; unknown → decline)
  private val shiftRe =
    """^([+-]?\d+(?:\.\d+)?)\s+(day|days|hour|hours|minute|minutes|second|seconds|month|months|year|years)$""".r
  private val weekdayRe = """^weekday\s+([0-6])$""".r
  private val startOfRe = """^start\s+of\s+(day|month|year)$""".r

  /** Fold `(timeval, modifier…)` into one Spark timestamp expression.
    * No args / `'now'` = the current instant (SQLite `date()` ≡
    * `date('now')`). All modifiers must be string literals (as SQLite
    * requires). The `'unixepoch'` modifier (only valid FIRST, per
    * SQLite) reinterprets the base value as Unix seconds instead of a
    * date string — `date(1700000000, 'unixepoch')` is a stock model
    * emission for epoch columns.
    */
  private def applyModifiers(args: Seq[String]): Option[String] = {
    val epochBase = args.length >= 2 && isStringLit(args(1)) &&
      unquote(args(1)).trim.equalsIgnoreCase("unixepoch")
    var e = args.headOption.map(_.trim) match {
      case None => "current_timestamp()"
      case Some(b) if isStringLit(b) && unquote(b).equalsIgnoreCase("now") =>
        "current_timestamp()"
      case Some(b) if epochBase =>
        // fractional seconds honored (SQLite accepts them with subsec)
        s"timestamp_seconds(CAST($b AS DOUBLE))"
      // NOT a bare CAST: SQLite time-values dispatch on runtime type —
      // numerics (incl. numeric text) are JULIAN DAY numbers, and
      // date(julianday(a) + 30), the stock date-arithmetic idiom,
      // would silently read as epoch seconds under a blind cast. The
      // native type-directed expression (plans.SqliteFunctions) picks
      // the interpretation at analysis; distinct-name fixpoint, same
      // pattern as sqlite_typeof.
      case Some(b) => s"sqlite_timeval($b)"
    }
    val it = args.drop(if (epochBase) 2 else 1).iterator
    while (it.hasNext) {
      val m = it.next()
      if (!isStringLit(m)) return None
      unquote(m).trim.toLowerCase match {
        case shiftRe(n, unit) =>
          val secondsPerUnit = unit.stripSuffix("s") match {
            case "day" => Some(86400.0)
            case "hour" => Some(3600.0)
            case "minute" => Some(60.0)
            case "second" => Some(1.0)
            case _ => None
          }
          secondsPerUnit match {
            case Some(mult) =>
              val secs = BigDecimal(n) * BigDecimal(mult)
              e = s"($e + make_dt_interval(0, 0, 0, CAST(${secs.bigDecimal.toPlainString} AS DOUBLE)))"
            case None => // month/year shifts: integer only (clamping delta above)
              if (n.contains('.')) return None
              val k = n.toLong
              e =
                if (unit.startsWith("month")) s"($e + make_ym_interval(0, $k))"
                else s"($e + make_ym_interval($k, 0))"
          }
        case startOfRe(unit) =>
          // date_trunc yields TIMESTAMP; stays correct under the UTC session
          e = s"CAST(date_trunc('${unit.toUpperCase}', $e) AS TIMESTAMP)"
        case weekdayRe(n) =>
          // forward to the next weekday n (Sunday=0), same day if already
          e = s"($e + make_dt_interval(CAST(($n - (dayofweek($e) - 1) + 7) % 7 AS INT), 0, 0, 0))"
        case "localtime" | "utc" | "subsec" | "subsecond" => // UTC session: no-op
        case _ => return None
      }
    }
    Some(e)
  }
}
