package graft.text2sql

/** SQLite `rowid` surface for generated SQL — the pure text side.
  *
  * Every SQLite table (not declared WITHOUT ROWID) carries an implicit
  * 64-bit `rowid`, addressable as `rowid`, `_rowid_` or `oid` unless a
  * declared column shadows the name (SQLite lang_createtable.html
  * "ROWIDs and the INTEGER PRIMARY KEY"). The reference executes
  * generated SQL against such tables (pandas `to_sql`, reference
  * pandasqlite/pandasqlite.py:115), so statements like the classic
  * dedup idiom
  *
  *   DELETE FROM t WHERE rowid NOT IN
  *     (SELECT MIN(rowid) FROM t GROUP BY c)
  *
  * are part of the delegated surface. Graft's emulation
  * ([[graft.exec.Rowid]]) adds a real `rowid` column to the table's
  * materialized state, which makes every expression position (WHERE /
  * GROUP BY / RETURNING / SET) resolve through the ordinary analyzer.
  * What the COLUMN cannot emulate is SQLite's visibility rule — `*`
  * never expands to rowid — so this rewriter:
  *
  *  1. reports whether a statement references the rowid surface at all
  *     (token scan outside quotes/comments) — the zero-cost gate;
  *  2. normalizes `_rowid_` / `oid` tokens to `rowid` (skipped when a
  *     visible column shadows the alias, SQLite's own rule);
  *  3. expands `*` and `alias.*` select items that bind to
  *     rowid-enabled tables into their VISIBLE column lists, so the
  *     hidden column stays hidden exactly where SQLite hides it.
  *
  * Pure string → string; session state (which tables are enabled,
  * their visible columns) comes in as arguments, so the whole surface
  * is unit-testable without a SparkSession.
  */
object RowidRewrite {

  private val RowidTokens = Set("rowid", "_rowid_", "oid")

  /** Does the statement reference `rowid` / `_rowid_` / `oid` as an
    * identifier token (outside quotes and comments)? The cheap gate:
    * statements that never mention the surface skip everything else.
    */
  def referencesRowid(sql: String): Boolean = {
    var found = false
    scanTokens(sql) { (tok, _) =>
      if (RowidTokens(tok.toLowerCase)) found = true
    }
    found
  }

  /** Which of `names` (lowercase) occur as identifier tokens — bare or
    * backtick-quoted — in the statement. Used to find the session
    * tables a rowid-referencing statement touches. */
  def referencedTables(sql: String, names: Set[String]): Set[String] = {
    val out = scala.collection.mutable.Set.empty[String]
    scanTokens(sql) { (tok, _) =>
      val t = tok.toLowerCase
      if (names(t)) out += t
    }
    out.toSet
  }

  /** Normalize `_rowid_` / `oid` to `rowid`. SQLite resolves the three
    * names identically UNLESS a declared column shadows one — callers
    * pass `shadowed` = the alias tokens some visible column claims
    * (those are left untouched, resolving to the real column). */
  def normalizeAliases(sql: String, shadowed: Set[String]): String = {
    val sb = new StringBuilder
    var last = 0
    scanTokens(sql) { (tok, at) =>
      val t = tok.toLowerCase
      // at < 0 = a backtick-quoted occurrence (SQLite's escape hatch
      // for a REAL column of that name — never rewritten); an `AS oid`
      // output alias names the result column, not the rowid surface
      if (at >= 0 && (t == "_rowid_" || t == "oid") && !shadowed(t) &&
          !precededByAs(sql, at)) {
        sb.append(sql.substring(last, at)).append("rowid")
        last = at + tok.length
      }
    }
    if (last == 0) sql else sb.append(sql.substring(last)).toString
  }

  /** Is the token at `at` directly preceded by the keyword AS? */
  private def precededByAs(sql: String, at: Int): Boolean = {
    var i = at - 1
    while (i >= 0 && sql.charAt(i).isWhitespace) i -= 1
    i >= 1 && sql.charAt(i).toLower == 's' && sql.charAt(i - 1).toLower == 'a' &&
      (i - 2 < 0 || !(sql.charAt(i - 2).isLetterOrDigit || sql.charAt(i - 2) == '_'))
  }

  /** Names defined by WITH clauses anywhere in the statement — a CTE
    * shadows a same-named table for the whole statement (SQLite
    * scoping), so these must be excluded both from enablement and
    * from star expansion. */
  def cteNames(sql: String): Set[String] = {
    val out = scala.collection.mutable.Set.empty[String]
    val withs = scala.collection.mutable.ArrayBuffer.empty[Int]
    scanTokens(sql) { (tok, at) =>
      if (at >= 0 && tok.equalsIgnoreCase("with")) withs += at
    }
    withs.foreach { at =>
      var i = SqlText.skipWs(sql, at + 4)
      wordAt(sql, i).foreach { w =>
        if (w.equalsIgnoreCase("recursive")) i = SqlText.skipWs(sql, i + w.length)
      }
      var more = true
      while (more) {
        more = false
        val name = readName(sql, i)
        if (name.nonEmpty) {
          i = SqlText.skipWs(sql, i + name.length)
          // optional column list
          if (i < sql.length && sql.charAt(i) == '(') {
            i = SqlText.skipWs(sql, pastParen(sql, i))
          }
          wordAt(sql, i) match {
            case Some(as) if as.equalsIgnoreCase("as") =>
              i = SqlText.skipWs(sql, i + 2)
              // optional NOT? MATERIALIZED
              wordAt(sql, i).foreach { m =>
                if (m.equalsIgnoreCase("not")) i = SqlText.skipWs(sql, i + 3)
              }
              wordAt(sql, i).foreach { m =>
                if (m.equalsIgnoreCase("materialized"))
                  i = SqlText.skipWs(sql, i + m.length)
              }
              if (i < sql.length && sql.charAt(i) == '(') {
                out += unquoteName(name).toLowerCase
                i = SqlText.skipWs(sql, pastParen(sql, i))
                if (i < sql.length && sql.charAt(i) == ',') {
                  i = SqlText.skipWs(sql, i + 1)
                  more = true
                }
              }
            case _ => // not a CTE definition (e.g. `with` used oddly)
          }
        }
      }
    }
    out.toSet
  }

  /** Expand select-list stars that bind to rowid-enabled tables.
    *
    * `enabled` maps lowercase table name → VISIBLE columns (rowid
    * excluded). For each SELECT block whose item list contains `*` or
    * `q.*`:
    *   - `q.*` where q aliases an enabled table → q.`c1`, q.`c2`, …
    *   - bare `*` where ANY FROM item is enabled → per-item lists in
    *     FROM order (enabled items expand; others stay `alias.*`).
    * A bare `*` over a NATURAL/USING join of an enabled table, or next
    * to an un-aliased subquery, cannot be expanded faithfully →
    * targeted error (visible failure beats silently leaking `rowid`
    * into the result, per the engine's divergence policy).
    */
  def expandStars(sql: String, enabled: Map[String, Seq[String]]): String = {
    if (enabled.isEmpty) return sql
    // collect SELECT keyword positions, process right-to-left so
    // earlier offsets survive replacement
    val selects = scala.collection.mutable.ArrayBuffer.empty[Int]
    scanTokens(sql) { (tok, at) =>
      if (tok.equalsIgnoreCase("select")) selects += at
    }
    var cur = sql
    selects.reverseIterator.foreach { at =>
      cur = expandOneSelect(cur, at, enabled)
    }
    cur
  }

  // ---- one SELECT block ------------------------------------------------

  private val listEnds = Set("from", "union", "intersect", "except",
    "order", "limit", "where", "group", "having", "window", "returning")

  private final case class FromItem(alias: String, // as written (maybe `q`)
                                    table: Option[String]) // lowercase

  private def expandOneSelect(sql: String, selAt: Int,
                              enabled: Map[String, Seq[String]]): String = {
    var i = selAt + "select".length
    i = SqlText.skipWs(sql, i)
    // DISTINCT / ALL prefix
    wordAt(sql, i).foreach { w =>
      if (w.equalsIgnoreCase("distinct") || w.equalsIgnoreCase("all"))
        i = SqlText.skipWs(sql, i + w.length)
    }
    // scan items at depth 0 until FROM (or statement/paren end); a
    // bare SELECT-without-FROM list ends at a set op or clause keyword
    // (CTE commas are at other depths, VALUES can't follow)
    def stop(j: Int): Boolean = {
      val c = sql.charAt(j)
      c == ',' || c == ')' || c == ';' ||
        (isNameStart(c) && listEnds.exists(SqlText.keywordAt(sql, j, _)))
    }
    val items = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var itemStart = i
    var end = SqlText.findTop(sql, i)(stop)
    while (end >= 0 && sql.charAt(end) == ',') {
      items += ((itemStart, end))
      itemStart = end + 1
      end = SqlText.findTop(sql, itemStart)(stop)
    }
    val fromAt = if (end >= 0 && SqlText.keywordAt(sql, end, "from")) end else -1
    val listEnd = if (end >= 0) end else sql.length
    items += ((itemStart, listEnd))
    // star items?
    val starItems = items.toSeq.map { case (s, e) =>
      (s, e, classifyStarItem(sql.substring(s, e)))
    }.filter(_._3.isDefined)
    if (starItems.isEmpty) return sql
    // FROM items (empty when no FROM: `SELECT *` alone can't expand)
    val (fromItems, hasNaturalOrUsing) =
      if (fromAt < 0) (Seq.empty[FromItem], false)
      else parseFromItems(sql, fromAt + "from".length)
    val aliasMap: Map[String, FromItem] =
      fromItems.map(fi => unquoteName(fi.alias).toLowerCase -> fi).toMap
    val anyEnabled = fromItems.exists(_.table.exists(enabled.contains))
    // rewrite items right-to-left
    var cur = sql
    starItems.reverseIterator.collect { case (s, e, Some(qual)) =>
      (s, e, qual)
    }.foreach { case (s, e, qual) =>
      val repl: Option[String] = qual match {
        case Some(q) => // q.*
          aliasMap.get(unquoteName(q).toLowerCase)
            .flatMap(_.table).filter(enabled.contains)
            .map(t => expansion(q, enabled(t)))
        case None if anyEnabled => // bare *
          if (hasNaturalOrUsing)
            throw new UnsupportedOperationException(
              "SELECT * over a NATURAL/USING join of a rowid-enabled " +
                "table cannot be expanded faithfully; list the columns " +
                "or qualify the stars")
          Some(fromItems.map { fi =>
            fi.table.filter(enabled.contains) match {
              case Some(t) => expansion(fi.alias, enabled(t))
              case None =>
                if (fi.alias.isEmpty)
                  throw new UnsupportedOperationException(
                    "SELECT * next to an un-aliased subquery in a " +
                      "rowid-enabled FROM cannot be expanded; alias the " +
                      "subquery")
                s"${fi.alias}.*"
            }
          }.mkString(", "))
        case None => None
      }
      repl.foreach { r =>
        // keep the item's surrounding whitespace (the last item's span
        // ends at FROM — dropping its trailing space would glue the
        // expansion onto the keyword)
        val item = cur.substring(s, e)
        val lead = item.takeWhile(_.isWhitespace)
        val trail = item.reverse.takeWhile(_.isWhitespace).reverse
        cur = cur.substring(0, s) + lead + r + trail + cur.substring(e)
      }
    }
    cur
  }

  /** `*` → Some(None); `q.*` → Some(Some(q)); anything else → None. */
  private def classifyStarItem(item: String): Option[Option[String]] = {
    val t = item.trim
    if (t == "*") Some(None)
    else if (t.endsWith(".*")) {
      val q = t.dropRight(2).trim
      val ok = q.nonEmpty &&
        (q.forall(c => c.isLetterOrDigit || c == '_') ||
          (q.length > 2 && q.head == '`' && q.last == '`'))
      if (ok) Some(Some(q)) else None
    } else None
  }

  private def expansion(qualifier: String, cols: Seq[String]): String = {
    val q = if (qualifier.isEmpty) "" else qualifier + "."
    cols.map(c => q + quoteCol(c)).mkString(", ")
  }

  private def quoteCol(c: String): String =
    if (c.nonEmpty && c.head.isLetter && c.forall(ch => ch.isLetterOrDigit || ch == '_')) c
    else "`" + c.replace("`", "``") + "`"

  /** Parse the FROM item list: relations with optional aliases,
    * connected by commas / JOIN chains; ON conditions are skipped at
    * depth 0. Returns (items, sawNaturalOrUsing). */
  private def parseFromItems(sql: String, start: Int): (Seq[FromItem], Boolean) = {
    val items = scala.collection.mutable.ArrayBuffer.empty[FromItem]
    var natural = false
    var i = SqlText.skipWs(sql, start)
    val clauseEnd = Set("where", "group", "having", "window", "order",
      "limit", "union", "intersect", "except", "returning", "on")
    val joinWords = Set("join", "left", "right", "full", "inner", "cross",
      "outer", "natural", "using")

    def parseItem(): Boolean = {
      i = SqlText.skipWs(sql, i)
      if (i >= sql.length) return false
      sql.charAt(i) match {
        case '(' =>
          i = pastParen(sql, i)
          i = SqlText.skipWs(sql, i)
          wordAt(sql, i) match {
            case Some(w) if w.equalsIgnoreCase("as") =>
              i = SqlText.skipWs(sql, i + w.length)
              val a = readName(sql, i)
              i += a.length
              items += FromItem(a, None)
            case Some(w) if !clauseEnd(w.toLowerCase) &&
                !joinWords(w.toLowerCase) && isNameStart(sql.charAt(i)) =>
              i += w.length
              items += FromItem(w, None)
            case _ => items += FromItem("", None)
          }
          true
        case c if isNameStart(c) || c == '`' =>
          val name = readName(sql, i)
          i += name.length
          i = SqlText.skipWs(sql, i)
          var alias = name
          wordAt(sql, i) match {
            case Some(w) if w.equalsIgnoreCase("as") =>
              i = SqlText.skipWs(sql, i + w.length)
              val a = readName(sql, i); i += a.length; alias = a
            case Some(w) if !clauseEnd(w.toLowerCase) &&
                !joinWords(w.toLowerCase) =>
              i += w.length; alias = w
            case _ =>
              // backtick alias without AS
              if (i < sql.length && sql.charAt(i) == '`') {
                val a = readName(sql, i); i += a.length; alias = a
              }
          }
          items += FromItem(alias, Some(unquoteName(name).toLowerCase))
          true
        case _ => false
      }
    }

    if (!parseItem()) return (items.toSeq, natural)
    var more = true
    while (more) {
      i = SqlText.skipWs(sql, i)
      if (i >= sql.length) more = false
      else sql.charAt(i) match {
        case ',' => i += 1; if (!parseItem()) more = false
        case c if c.isLetter =>
          val w = readWord(sql, i).toLowerCase
          if (w == "natural") { natural = true; i += w.length }
          else if (w == "using") {
            natural = true // same expansion hazard as NATURAL
            i += w.length
            i = SqlText.skipWs(sql, i)
            if (i < sql.length && sql.charAt(i) == '(')
              i = pastParen(sql, i)
          }
          else if (w == "join") { i += w.length; if (!parseItem()) more = false }
          else if (w == "left" || w == "right" || w == "full" ||
                   w == "inner" || w == "cross" || w == "outer")
            i += w.length
          else if (w == "on") {
            // skip the ON expression at depth 0 until the next
            // connector / clause keyword
            i += w.length
            val stop = SqlText.findTop(sql, i) { j =>
              val c = sql.charAt(j)
              c == ')' || c == ';' || c == ',' ||
                (isNameStart(c) && !SqlText.isWordChar(sql.charAt(j - 1)) && {
                  val w2 = readWord(sql, j).toLowerCase
                  joinWords(w2) || (clauseEnd(w2) && w2 != "on")
                })
            }
            i = if (stop < 0) sql.length else stop
          }
          else more = false // WHERE / GROUP / … — end of FROM
        case _ => more = false
      }
    }
    (items.toSeq, natural)
  }

  // ---- lexing helpers --------------------------------------------------

  private def isNameStart(c: Char) = c.isLetter || c == '_'

  private def readWord(s: String, i: Int): String = {
    var j = i
    while (j < s.length && (s.charAt(j).isLetterOrDigit || s.charAt(j) == '_')) j += 1
    s.substring(i, j)
  }

  /** Bare word or a complete backtick-quoted name (quotes included). */
  private def readName(s: String, i: Int): String =
    if (i < s.length && s.charAt(i) == '`') s.substring(i, SqlText.skipOpaque(s, i))
    else readWord(s, i)

  private def unquoteName(n: String): String =
    if (n.length >= 2 && n.head == '`' && n.last == '`')
      n.substring(1, n.length - 1).replace("``", "`")
    else n

  private def wordAt(s: String, i: Int): Option[String] = {
    if (i >= s.length || !isNameStart(s.charAt(i))) None
    else Some(readWord(s, i))
  }

  /** Index just past the `)` balancing the `(` at `open`, or the
    * text's end — callers treat truncated SQL as the list's end. */
  private def pastParen(s: String, open: Int): Int = {
    val c = SqlText.closeParen(s, open)
    if (c < 0) s.length else c + 1
  }

  /** Walk identifier tokens outside string literals and comments; the
    * callback receives (token, offset). Backtick-quoted identifiers
    * are reported WITHOUT their quotes (offset at the opening quote is
    * not a rewrite target — normalizeAliases only rewrites bare
    * tokens, so quoted `oid` stays a real column reference, which is
    * also SQLite's escape hatch). Single/double-quoted runs are
    * literals after [[SqlDialect.resolveDoubleQuoted]] has run.
    */
  private def scanTokens(sql: String)(f: (String, Int) => Unit): Unit = {
    var i = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      val e = SqlText.skipOpaque(sql, i)
      if (e > i) {
        // report quoted TABLE references (hash-named tables arrive
        // backticked) but at an offset normalizeAliases never
        // rewrites (it matches bare tokens only, by length check)
        val inner = if (c == '`') unquoteName(sql.substring(i, e)) else ""
        if (inner.nonEmpty && inner.forall(ch => ch.isLetterOrDigit || ch == '_'))
          f(inner, -1)
        i = e
      } else if (isNameStart(c)) {
        val w = readWord(sql, i)
        f(w, i)
        i += w.length
      } else if (c.isDigit) {
        // skip a numeric literal so `1e5` doesn't report `e5`
        while (i < sql.length &&
               (sql.charAt(i).isLetterOrDigit || sql.charAt(i) == '.')) i += 1
      } else i += 1
    }
  }
}
