package graft.text2sql

/** DML in generated SQL.
  *
  * The reference executes whatever the model emits verbatim against
  * SQLite (reference pandasqlite/pandasqlite.py:245-247, test.py:50),
  * so "remove the returned orders" can legally come back as
  * `DELETE FROM 'hash' …`. This engine's lake-backed tables are
  * immutable; the one DML form with a sound distributed re-expression
  * is SQLite's upsert:
  *
  *   INSERT OR REPLACE INTO t [(cols)] (SELECT … | VALUES …)
  *   REPLACE INTO t [(cols)] …            -- SQLite alias, same verb
  *
  * which [[graft.exec.Upsert]] rewrites as a copy-on-write merge
  * (updates ∪ base-anti-updates on the key, materialized, temp view
  * re-bound — last write wins, the same observable table state SQLite
  * leaves). `UPDATE t SET … [WHERE p]` and `DELETE FROM t [WHERE p]`
  * (with optional `RETURNING`) re-express the same way
  * ([[graft.exec.Mutate]]): an UPDATE is a full-width CASE-WHEN
  * projection (assignments applied where p holds, old row otherwise),
  * a DELETE keeps the rows where p is NOT true — each materialized and
  * re-bound, the table-state transition SQLite performs in place.
  * The once-declined conflict-action forms now execute too:
  * `UPDATE OR REPLACE` (displacement merge), join-`UPDATE … FROM`, and
  * DML `ORDER BY`+`LIMIT` (rowid-order slice) all re-express set-based
  * in [[graft.exec.Mutate]]; only the verbs whose semantics are
  * genuinely rowid-sequential (e.g. `UPDATE OR FAIL` mid-statement
  * partial effects) raise a targeted read-only-engine error instead of
  * Spark's generic `ParseException`/`AnalysisException` — the current
  * decline list lives in `graft.exec.Mutate`/`graft.exec.Upsert`.
  *
  * This object only CLASSIFIES and PARSES; execution lives in
  * `graft.exec` so the text2sql layer stays side-effect free.
  */
object SqlDml {
  import SqlText.{closeParen, isWordChar, keywordAt, skipWs, splitTop}

  sealed trait Stmt

  /** `INSERT OR REPLACE INTO table [(cols)] <source>`. `sourceSql` is
    * a complete runnable SELECT (a leading `WITH` prefix from the
    * statement is carried into it; a `VALUES …` source is wrapped as
    * `SELECT * FROM (VALUES …)`). `cols` empty = positional against
    * the full target schema, as in SQLite. `conflict` carries a parsed
    * upsert clause (`ON CONFLICT …`), or the equivalent implied by
    * `INSERT OR IGNORE`; when set it overrides `replace`.
    */
  final case class Upsert(table: String, cols: Seq[String],
                          sourceSql: String,
                          replace: Boolean = true,
                          conflict: Option[OnConflict] = None,
                          returning: Option[String] = None,
                          defaultValues: Boolean = false,
                          // INSERT OR IGNORE (as opposed to an explicit
                          // ON CONFLICT DO NOTHING): rows violating
                          // NOT NULL/CHECK SKIP instead of aborting —
                          // measured SQLite divergence between the two
                          orIgnore: Boolean = false,
                          // SQLite 3.35 upsert-clause CHAINS: the
                          // clauses after the first, in statement
                          // order (a conflict routes to the first
                          // clause whose target it matches)
                          conflictRest: Seq[OnConflict] = Nil)
      extends Stmt

  /** `sourceSql` for `INSERT INTO t DEFAULT VALUES` (flagged by
    * [[Upsert.defaultValues]] — a STRUCTURAL flag, so a user SELECT
    * that happens to produce this text still binds positionally): a
    * projection binding NO target columns — exec.Upsert fills the
    * full row width from each column's declared DEFAULT / NULL (the
    * unlisted-column machinery), one row per source row. */
  private[graft] val DefaultValuesSource =
    "SELECT true AS __graft_default_values"

  /** SQLite's upsert clause: `ON CONFLICT [(target) [WHERE p]] DO
    * NOTHING` (empty `assigns`) or `… DO UPDATE SET … [WHERE p]`.
    * Expression texts are raw translated SQL; `excluded.col`
    * references (the would-be-inserted row) are resolved at execution
    * via [[rewriteExcluded]]. Empty `keyCols` = the target's leading
    * column, the same id-column convention `INSERT OR REPLACE` uses
    * (ingested tables declare no constraints for SQLite to match).
    * A target of expressions (`ON CONFLICT (lower(c))`) carries its
    * raw item texts in `keyExprs` (keyCols empty) and a target
    * `WHERE` (a partial index's predicate) in `targetWhere` — both
    * must MATCH a declared unique index at execution (SQLite's rule;
    * exec.Upsert raises SQLite's no-match error otherwise). */
  final case class OnConflict(keyCols: Seq[String],
                              assigns: Seq[(String, String)],
                              updateWhere: Option[String],
                              keyExprs: Seq[String] = Nil,
                              targetWhere: Option[String] = None)

  /** A DML verb this engine declines (read-only lake storage). */
  final case class Unsupported(verb: String) extends Stmt

  /** `UPDATE table SET col = expr, … [FROM sources] [WHERE p]
    * [RETURNING exprs]`. Expression fields carry raw (already-
    * translated) SQL text; `withPrefix` is the statement's leading
    * `WITH …` clause, kept so CTE references inside WHERE/SET
    * subqueries stay bound. Repeated assignments to one column are
    * legal; the rightmost wins (SQLite lang_update.html). `from` is
    * the verbatim source list of SQLite's UPDATE-FROM join form
    * (lang_update.html §2) — assignments and WHERE then see the
    * joined row. */
  /** The shared `[FROM …] [WHERE …] [RETURNING …] [ORDER BY … LIMIT n
    * [OFFSET m]]` tail of UPDATE/DELETE. `orderBy`/`limit`/`offset`
    * carry SQLite's optional-LIMIT DML form
    * (SQLITE_ENABLE_UPDATE_DELETE_LIMIT — enabled in the Python-
    * bundled builds the reference runs on): the statement touches at
    * most `limit` WHERE-true rows in `orderBy` order. */
  final case class DmlTail(from: Option[String] = None,
                           where: Option[String] = None,
                           returning: Option[String] = None,
                           orderBy: Option[String] = None,
                           limit: Option[String] = None,
                           offset: Option[String] = None)

  final case class Update(table: String, assigns: Seq[(String, String)],
                          where: Option[String], returning: Option[String],
                          withPrefix: String,
                          from: Option[String] = None,
                          orAction: Option[String] = None,
                          orderBy: Option[String] = None,
                          limit: Option[String] = None,
                          offset: Option[String] = None) extends Stmt

  /** `DELETE FROM table [WHERE p] [RETURNING exprs] [ORDER BY … LIMIT
    * …]`. No WHERE = delete every row (the schema survives, as in
    * SQLite). */
  final case class Delete(table: String, where: Option[String],
                          returning: Option[String],
                          withPrefix: String,
                          orderBy: Option[String] = None,
                          limit: Option[String] = None,
                          offset: Option[String] = None) extends Stmt

  /** `CREATE [TEMP] VIEW name [(cols)] AS select` — executed as a
    * session (temporary) view; the reference's SQLite database is
    * itself session-scoped, so the lifetime matches. A column list
    * renames the select's output columns positionally (SQLite's rule;
    * Spark's CREATE TEMPORARY VIEW takes the same form). */
  final case class CreateView(name: String, ifNotExists: Boolean,
                              sourceSql: String,
                              cols: Seq[String] = Nil) extends Stmt

  /** `CREATE [TEMP] TABLE name AS select` (CTAS) — materialized
    * (parquet) and registered as a session table. */
  final case class CreateTableAs(name: String, ifNotExists: Boolean,
                                 sourceSql: String) extends Stmt

  /** `DROP TABLE/VIEW [IF EXISTS] name` — unregisters the session
    * relation (lake files are immutable; only the binding drops). */
  final case class DropRelation(name: String, ifExists: Boolean,
                                // which keyword was written — SQLite
                                // refuses DROP TABLE on a view and
                                // DROP VIEW on a table by name
                                kind: String = "table") extends Stmt

  /** `CREATE [TEMP] TABLE name (col decl …, …)` — the column-def form.
    * `cols` carries (name, declared-type-text); the executor maps the
    * declared type through SQLite's affinity rules (datatype3.html
    * §3.1) to a lake type. `pkCols` is the declared PRIMARY KEY (column
    * suffix or table-level constraint) — the key later `INSERT OR
    * REPLACE`/`ON CONFLICT` statements resolve against, exactly as
    * SQLite would. `uniques` carries every declared UNIQUE
    * constraint in declaration order — each registered as one of
    * SQLite's automatic `sqlite_autoindex_<t>_<n>` unique indexes,
    * NOT as a PK (so `PRAGMA table_info` keeps pk=0 for them,
    * exactly SQLite's report).
    * `defaults` carries each column's DEFAULT expression verbatim —
    * registered so later partial-column INSERTs fill it (and `PRAGMA
    * table_info` reports it), exactly as SQLite does. `notNulls`
    * carries the columns declared NOT NULL (declaration order, as
    * written — enforced at every write with SQLite's `NOT NULL
    * constraint failed: t.c` error); `checks` carries the CHECK
    * constraints in declaration order as (CONSTRAINT name or "" =
    * unnamed, raw expr as written) — enforced at every write with
    * SQLite's `CHECK constraint failed: <name or expr>` error;
    * `collates` carries column-declared COLLATE riders (column,
    * collation uppercased) so bare comparisons / ORDER BY / GROUP BY
    * over the column fold the declared collation, SQLite's rule.
    * REFERENCES registers as an FK; generated columns register as
    * computed columns. */
  final case class CreateTable(name: String, ifNotExists: Boolean,
                               cols: Seq[(String, String)],
                               pkCols: Seq[String],
                               defaults: Seq[(String, String)] = Nil,
                               uniques: Seq[Seq[String]] = Nil,
                               fks: Seq[Fk] = Nil,
                               notNulls: Seq[String] = Nil,
                               checks: Seq[(String, String)] = Nil,
                               collates: Seq[(String, String)] = Nil,
                               // generated columns in declaration
                               // order: (name, raw expr, STORED?) —
                               // VIRTUAL and STORED are observationally
                               // identical over materialized relations,
                               // but the flag drives table_xinfo's
                               // hidden code (2 vs 3) and the
                               // synthesized CREATE text
                               generated: Seq[(String, String, Boolean)] = Nil,
                               // table options: STRICT enforces
                               // SQLite 3.37 type checking at every
                               // write; WITHOUT ROWID suppresses the
                               // rowid surface and requires a PK
                               strict: Boolean = false,
                               withoutRowid: Boolean = false,
                               // AUTOINCREMENT rider: (column, decl
                               // type, PRIMARY KEY present) — the
                               // executor validates SQLite's
                               // INTEGER-PRIMARY-KEY-only rule and
                               // registers the sqlite_sequence
                               // bookkeeping
                               autoincrement: Option[(String, String, Boolean)] = None)
      extends Stmt

  /** One declared FOREIGN KEY constraint, in declaration order: child
    * columns → parent table (with explicit parent columns, or empty =
    * SQLite's short form resolving to the parent's PRIMARY KEY at use
    * time). Actions default to SQLite's NO ACTION; MATCH and
    * DEFERRABLE clauses parse-accept and are ignored exactly as
    * SQLite 3.40.1 ignores them (MATCH is parsed but unimplemented;
    * deferred timing collapses to immediate under this engine's
    * autocommit statements — same observable point). */
  final case class Fk(cols: Seq[String], parent: String,
                      parentCols: Seq[String],
                      onUpdate: String = "NO ACTION",
                      onDelete: String = "NO ACTION")

  /** `CREATE [UNIQUE] INDEX [IF NOT EXISTS] name ON table (cols)` —
    * a plain index is a pure access-path directive in SQLite (results
    * never change), so it executes as a registered no-op; a UNIQUE
    * index additionally declares the constraint SQLite resolves
    * `INSERT OR REPLACE` / bare `ON CONFLICT` against, so its column
    * set registers as the table's conflict key. An EXPRESSION-keyed
    * UNIQUE index carries the raw item texts in `exprs` (cols empty):
    * uniqueness enforces over the expressions and the REPLACE/IGNORE
    * machinery displaces/skips on them; a targeted `ON CONFLICT
    * (expr)` clause and DO UPDATE against an expression key still
    * decline named. */
  final case class CreateIndex(name: String, table: String,
                               cols: Seq[String], unique: Boolean,
                               ifNotExists: Boolean,
                               // per-column (descending?, collation) —
                               // the ASC/DESC/COLLATE riders, kept so
                               // PRAGMA index_xinfo can answer honestly
                               riders: Seq[(Boolean, String)] = Nil,
                               exprs: Seq[String] = Nil,
                               // partial-index predicate (raw): a
                               // partial UNIQUE index enforces only
                               // among predicate-TRUE rows (measured —
                               // exempt rows neither conflict nor
                               // displace)
                               where: Option[String] = None)
    extends Stmt

  /** `DROP INDEX [IF EXISTS] name` — unregisters the index (and its
    * unique-key declaration, if any). */
  final case class DropIndex(name: String, ifExists: Boolean) extends Stmt

  /** `CREATE [TEMP] TRIGGER [IF NOT EXISTS] name [BEFORE|AFTER|
    * INSTEAD OF] (INSERT|UPDATE [OF cols]|DELETE) ON table [FOR EACH
    * ROW] [WHEN expr] BEGIN stmt; … END`. `timing` is "" when SQLite's
    * default (BEFORE) was left implicit; `body` holds the raw body
    * statements split on top-level `;`; `sql` is the statement as
    * written (the sqlite_master text). Validation of the SUPPORTED
    * subset happens in [[graft.exec.Triggers.create]], not here —
    * parse-level malformation falls back to Unsupported. */
  final case class CreateTrigger(name: String, ifNotExists: Boolean,
                                 timing: String, event: String,
                                 ofCols: Seq[String], table: String,
                                 when: Option[String], body: Seq[String],
                                 sql: String) extends Stmt

  /** `DROP TRIGGER [IF EXISTS] name`. */
  final case class DropTrigger(name: String, ifExists: Boolean) extends Stmt

  /** SQLite `ALTER TABLE t RENAME TO t2` (lang_altertable.html §2):
    * the binding moves to the new name; declared keys/indexes follow
    * (SQLite rewrites schema references on rename). */
  final case class AlterRenameTable(table: String, newName: String)
      extends Stmt

  /** `ALTER TABLE t RENAME [COLUMN] a TO b` — declared keys/indexes
    * referencing the column follow, as in SQLite. */
  final case class AlterRenameColumn(table: String, oldCol: String,
                                     newCol: String) extends Stmt

  /** `ALTER TABLE t ADD [COLUMN] col [type] [constraints]`. SQLite's
    * own ADD COLUMN restrictions apply at parse (no PRIMARY KEY /
    * UNIQUE / parenthesized or CURRENT_* default — lang_altertable.html
    * §3); `default` is the literal existing rows report (SQLite
    * synthesizes it on read; the rewrite bakes it in) AND the executor
    * registers it so later partial-column INSERTs fill it, SQLite's
    * rule ([[graft.exec.SessionKeys]]); `notNull` only gates SQLite's
    * "NOT NULL needs a non-NULL default" rule. */
  final case class AlterAddColumn(table: String, col: String,
                                  declType: String,
                                  default: Option[String],
                                  notNull: Boolean,
                                  fk: Option[Fk] = None,
                                  // column CHECK (unnamed) and COLLATE
                                  // riders — registered like CREATE
                                  // TABLE's (existing rows are not
                                  // re-validated, SQLite's rule)
                                  check: Option[String] = None,
                                  collate: Option[String] = None,
                                  // AS (expr): a VIRTUAL generated
                                  // column (SQLite 3.31 allows adding
                                  // those; STORED refuses at exec with
                                  // SQLite's own message)
                                  generatedExpr: Option[String] = None,
                                  generatedStored: Boolean = false)
      extends Stmt

  /** `ALTER TABLE t DROP [COLUMN] c` — the executor enforces SQLite's
    * restrictions (no PK / indexed / last-remaining column). */
  final case class AlterDropColumn(table: String, col: String) extends Stmt

  /** Classify a statement. None = not DML (run it as a query). */
  def detect(rawSql: String): Option[Stmt] = {
    // strip trailing statement terminators: models habitually emit
    // "…;" and a semicolon riding into a re-wrapped source (e.g.
    // `SELECT * FROM (VALUES (1);)`) is a parse error. Quote-safe: a
    // literal can't END the statement with a bare ';' outside quotes.
    // Comments strip first (each to one space): the clause scanners
    // stop on bare keywords, so a `-- limit cleanup` trailer would
    // otherwise read as a LIMIT clause, and the DML path re-assembles
    // statement fragments Spark never sees whole.
    val sql = SqlText.stripComments(rawSql).replaceAll("[;\\s]+$", "")
    var i = skipWs(sql, 0)
    var withPrefix = ""
    if (keywordAt(sql, i, "with")) {
      // SQLite allows `WITH … INSERT/UPDATE/DELETE`; capture the CTE
      // prefix so an upsert's source SELECT keeps its bindings
      skipCtes(sql, i) match {
        case Some(end) => withPrefix = sql.substring(i, end); i = skipWs(sql, end)
        case None      => return None // unparseable WITH: let spark.sql report
      }
    }
    if (keywordAt(sql, i, "update"))
      return Some(parseUpdate(sql, skipWs(sql, i + 6), withPrefix)
        .getOrElse(Unsupported("UPDATE")))
    if (keywordAt(sql, i, "delete"))
      return Some(parseDelete(sql, skipWs(sql, i + 6), withPrefix)
        .getOrElse(Unsupported("DELETE")))
    if (keywordAt(sql, i, "create")) return parseCreate(sql, skipWs(sql, i + 6))
    if (keywordAt(sql, i, "alter")) return parseAlter(sql, skipWs(sql, i + 5))
    if (keywordAt(sql, i, "drop")) {
      var j = skipWs(sql, i + 4)
      val isIndex = keywordAt(sql, j, "index")
      val isTrigger = keywordAt(sql, j, "trigger")
      val isView = keywordAt(sql, j, "view")
      if (!keywordAt(sql, j, "table") && !keywordAt(sql, j, "view") &&
          !isIndex && !isTrigger)
        return Some(Unsupported("DROP"))
      j = skipWs(sql, j + (if (keywordAt(sql, j, "table")) 5
                           else if (isTrigger) 7
                           else if (isIndex) 5 else 4))
      var ifExists = false
      if (keywordAt(sql, j, "if")) {
        val k = skipWs(sql, j + 2)
        if (!keywordAt(sql, k, "exists")) return Some(Unsupported("DROP"))
        ifExists = true
        j = skipWs(sql, k + 6)
      }
      return parseIdent(sql, j) match {
        case Some((name, _)) if isTrigger => Some(DropTrigger(name, ifExists))
        case Some((name, _)) if isIndex   => Some(DropIndex(name, ifExists))
        case Some((name, _))              =>
          Some(DropRelation(name, ifExists,
            if (isView) "view" else "table"))
        case None => Some(Unsupported(
          if (isTrigger) "DROP TRIGGER"
          else if (isIndex) "DROP INDEX" else "DROP"))
      }
    }
    if (keywordAt(sql, i, "replace")) {
      val j = skipWs(sql, i + 7)
      // `REPLACE INTO` is the statement; `replace(` is a scalar function
      if (keywordAt(sql, j, "into"))
        return parseUpsert(sql, skipWs(sql, j + 4), withPrefix)
          .orElse(Some(Unsupported("REPLACE INTO")))
      return None
    }
    if (keywordAt(sql, i, "insert")) {
      var j = skipWs(sql, i + 6)
      if (keywordAt(sql, j, "or")) {
        j = skipWs(sql, j + 2)
        var k = j
        while (k < sql.length && isWordChar(sql.charAt(k))) k += 1
        val action = sql.substring(j, k).toLowerCase
        j = skipWs(sql, k)
        if (!keywordAt(sql, j, "into"))
          return Some(Unsupported(s"INSERT OR ${action.toUpperCase}"))
        val at = skipWs(sql, j + 4)
        return action match {
          case "replace" =>
            parseUpsert(sql, at, withPrefix)
              .orElse(Some(Unsupported("INSERT OR REPLACE")))
          // OR IGNORE = skip conflicting rows — the upsert clause's DO
          // NOTHING on the default (leading-column) key, same id
          // convention OR REPLACE resolves against
          case "ignore" =>
            parseUpsert(sql, at, withPrefix, replace = false,
                implied = Some(OnConflict(Nil, Nil, None)),
                orIgnore = true)
              .orElse(Some(Unsupported("INSERT OR IGNORE")))
          // OR ABORT / FAIL / ROLLBACK differ only in how a constraint
          // VIOLATION unwinds — ingested tables declare none (pandas
          // to_sql, reference pandasqlite.py:115), so on these tables
          // SQLite executes all three as a plain append. Exact, not a
          // divergence.
          case "abort" | "fail" | "rollback" =>
            parseUpsert(sql, at, withPrefix, replace = false)
              .orElse(Some(Unsupported(s"INSERT OR ${action.toUpperCase}")))
          case other =>
            Some(Unsupported(s"INSERT OR ${other.toUpperCase}"))
        }
      }
      // plain INSERT INTO: SQLite appends — routed onto the same
      // copy-on-write machinery with replacement (the key anti-join)
      // disabled: merged = base ∪ inserted, materialized, re-bound
      if (!keywordAt(sql, j, "into")) return Some(Unsupported("INSERT"))
      return parseUpsert(sql, skipWs(sql, j + 4), withPrefix, replace = false)
        .orElse(Some(Unsupported("INSERT")))
    }
    None
  }

  /** Parse `[OR action] table [INDEXED …] SET a = e, … [FROM sources]
    * [WHERE p] [RETURNING r]` starting just after UPDATE. A conflict
    * action (`UPDATE OR <action>`) differs from plain UPDATE only when
    * a constraint VIOLATION occurs — on a table with no declared
    * constraints none can, so the action rides along in `orAction` and
    * the EXECUTOR decides ([[graft.exec.Mutate]]): plain UPDATE
    * semantics when the table has no session-declared key; with one,
    * OR REPLACE displaces and OR IGNORE skips set-based, and only the
    * genuinely rowid-sequential forms decline named. */
  private def parseUpdate(sql: String, start: Int,
                          withPrefix: String): Option[Stmt] = {
    var j = start
    var orAction: Option[String] = None
    if (keywordAt(sql, j, "or")) {
      val k = skipWs(sql, j + 2)
      var e = k
      while (e < sql.length && isWordChar(sql.charAt(e))) e += 1
      if (e == k) return None
      val action = sql.substring(k, e).toLowerCase
      if (!Set("ignore", "abort", "fail", "rollback", "replace")(action))
        return Some(Unsupported(s"UPDATE OR ${action.toUpperCase}"))
      orAction = Some(action.toUpperCase)
      j = skipWs(sql, e)
    }
    val (table, afterTable) = parseIdent(sql, j).getOrElse(return None)
    j = skipIndexedBy(sql, skipWs(sql, afterTable)).getOrElse(return None)
    if (!keywordAt(sql, j, "set")) return None
    j = skipWs(sql, j + 3)
    val assigns = Seq.newBuilder[(String, String)]
    var more = true
    var stopKw: Option[String] = None
    while (more) {
      if (j < sql.length && sql.charAt(j) == '(') {
        // row-value form `SET (a, b) = (e1, e2)` (SQLite 3.15) —
        // splits into the equivalent per-column assignments (every
        // RHS expression sees the OLD row, so the split is exact).
        // The scalar-subquery row value `(a, b) = (SELECT …)` splits
        // the same way: a FROM-less subquery's items ARE plain
        // OLD-row expressions (measured: `(SELECT b, a)` swaps), and
        // a FROM-carrying one becomes one correlated scalar subquery
        // per column — each evaluated against the OLD row, so the
        // split is exact too (no-match rows assign NULLs, measured).
        val close = closeParen(sql, j)
        if (close < 0) return None
        val colsList = splitTop(sql.substring(j + 1, close))
          .map(c => unquoteIdent(c.trim)).filter(_.nonEmpty)
        if (colsList.isEmpty) return None
        j = skipWs(sql, close + 1)
        if (j >= sql.length || sql.charAt(j) != '=') return None
        j = skipWs(sql, j + 1)
        if (j >= sql.length || sql.charAt(j) != '(')
          return Some(Unsupported("UPDATE with a non-parenthesized row-value SET"))
        val rClose = closeParen(sql, j)
        if (rClose < 0) return None
        val inner = sql.substring(j + 1, rClose).trim
        val exprs: Seq[String] =
          if (!keywordAt(sql, skipWs(sql, j + 1), "select")) {
            splitTop(inner).map(_.trim).filter(_.nonEmpty)
          } else {
            val body = inner.substring(6).trim // past SELECT
            if (body.startsWith("*") ||
                keywordAt(body, 0, "distinct") ||
                keywordAt(body, 0, "all"))
              return Some(Unsupported(
                "UPDATE with a star/DISTINCT row-value subquery SET"))
            val fromAt = SqlText.findTop(body, 0)(keywordAt(body, _, "from"))
            val listEnd = if (fromAt < 0) body.length else fromAt
            val items = splitTop(body.substring(0, listEnd))
              .map(_.trim).filter(_.nonEmpty)
            val tail = if (fromAt < 0) "" else " " + body.substring(fromAt)
            if (items.exists(_ == "*"))
              return Some(Unsupported(
                "UPDATE with a star/DISTINCT row-value subquery SET"))
            if (fromAt < 0) items // plain OLD-row expressions
            else items.map(it => s"(SELECT $it$tail)")
          }
        if (exprs.length != colsList.length)
          return Some(Unsupported(
            s"${colsList.length} columns assigned ${exprs.length} values"))
        assigns ++= colsList.zip(exprs)
        j = skipWs(sql, rClose + 1)
        // continue the assignment list / clause tail like a plain item
        if (j < sql.length && sql.charAt(j) == ',') { j = skipWs(sql, j + 1) }
        else {
          val (_, stop, stopped) = scanExpr(sql, j, dmlStops)
          if (sql.substring(j, stop).trim.nonEmpty) return None
          stopKw = stopped.filter(_ != ","); more = false
          j = stop
        }
      } else {
      val (c, afterC) = parseIdent(sql, j).getOrElse(return None)
      j = skipWs(sql, afterC)
      if (j >= sql.length || sql.charAt(j) != '=') return None
      j = skipWs(sql, j + 1)
      val (expr, stop, stopped) = scanExpr(sql, j, dmlStops)
      if (expr.trim.isEmpty) return None
      assigns += ((unquoteIdent(c.trim), expr.trim))
      j = stop
      stopped match {
        case Some(",") => j = skipWs(sql, j + 1)
        case other     => stopKw = other; more = false
      }
      }
    }
    finishDml(sql, j, stopKw, withPrefix, "UPDATE") { t =>
      Update(table, assigns.result(), t.where, t.returning, withPrefix,
        t.from, orAction, t.orderBy, t.limit, t.offset)
    }
  }

  /** Parse `FROM table [INDEXED …] [WHERE p] [RETURNING r]` starting
    * just after DELETE. */
  private def parseDelete(sql: String, start: Int,
                          withPrefix: String): Option[Stmt] = {
    var j = start
    if (!keywordAt(sql, j, "from")) return None
    j = skipWs(sql, j + 4)
    val (table, afterTable) = parseIdent(sql, j).getOrElse(return None)
    j = skipIndexedBy(sql, skipWs(sql, afterTable)).getOrElse(return None)
    val stopKw =
      if (j >= sql.length) None
      else {
        // whatever word sits here must be a clause keyword
        var e = j
        while (e < sql.length && isWordChar(sql.charAt(e))) e += 1
        val w = sql.substring(j, e).toLowerCase
        if (!dmlStops(w)) return None
        Some(w)
      }
    finishDml(sql, j, stopKw, withPrefix, "DELETE") { t =>
      Delete(table, t.where, t.returning, withPrefix,
        t.orderBy, t.limit, t.offset)
    }
  }

  private val dmlStops = Set("where", "from", "returning", "order", "limit")

  /** Shared tail of UPDATE/DELETE: `[FROM sources] [WHERE p]
    * [RETURNING r] [ORDER BY … LIMIT n [OFFSET m]]`, with the join
    * `FROM` accepted for UPDATE only (SQLite's UPDATE-FROM; DELETE has
    * no join form) and the DML LIMIT form accepted for both
    * (SQLITE_ENABLE_UPDATE_DELETE_LIMIT). `at` points AT the stop
    * keyword when `stopKw` is set. */
  private def finishDml(sql: String, at: Int, stopKw: Option[String],
                        withPrefix: String, verb: String)
                       (mk: DmlTail => Stmt): Option[Stmt] = {
    var t = DmlTail()
    var j = at
    var kw = stopKw
    while (kw.isDefined) kw match {
      case Some("from") =>
        // the source list precedes WHERE in SQLite's grammar; commas
        // separate joined sources, so the scan is comma-transparent
        if (verb != "UPDATE" || t.from.isDefined || t.where.isDefined)
          return Some(Unsupported(s"$verb … FROM (join form)"))
        val (src, stop, stopped) =
          scanExpr(sql, skipWs(sql, j + 4), dmlStops - "from",
            stopComma = false)
        if (src.trim.isEmpty) return None
        t = t.copy(from = Some(src.trim))
        j = stop
        kw = stopped
      case Some("order") =>
        // ORDER BY without LIMIT is an error in SQLite's DML grammar
        if (t.orderBy.isDefined || t.limit.isDefined) return None
        val afterBy = skipWs(sql, j + 5)
        if (!keywordAt(sql, afterBy, "by")) return None
        val (o, stop, stopped) = scanExpr(sql, skipWs(sql, afterBy + 2),
          Set("limit"), stopComma = false)
        if (o.trim.isEmpty || !stopped.contains("limit"))
          return Some(Unsupported(s"$verb with ORDER BY but no LIMIT"))
        t = t.copy(orderBy = Some(o.trim))
        j = stop
        kw = stopped
      case Some("limit") =>
        if (t.limit.isDefined) return None
        val (l, stop, stopped) =
          scanExpr(sql, skipWs(sql, j + 5), Set("offset", "returning"))
        if (l.trim.isEmpty) return None
        j = stop
        stopped match {
          case Some(",") =>
            // SQLite `LIMIT m, n` = OFFSET m LIMIT n
            val (n, stop2, stopped2) =
              scanExpr(sql, skipWs(sql, j + 1), Set("returning"))
            if (n.trim.isEmpty) return None
            t = t.copy(limit = Some(n.trim), offset = Some(l.trim))
            j = stop2
            kw = stopped2
          case Some("offset") =>
            val (m, stop2, stopped2) =
              scanExpr(sql, skipWs(sql, j + 6), Set("returning"))
            if (m.trim.isEmpty || stopped2.contains(",")) return None
            t = t.copy(limit = Some(l.trim), offset = Some(m.trim))
            j = stop2
            kw = stopped2
          case other =>
            t = t.copy(limit = Some(l.trim))
            kw = other
        }
      case Some("where") =>
        if (t.where.isDefined) return None
        val (expr, stop, stopped) =
          scanExpr(sql, skipWs(sql, j + 5), dmlStops - "where" - "from")
        if (expr.trim.isEmpty || stopped.contains(",")) return None
        t = t.copy(where = Some(expr.trim))
        j = stop
        kw = stopped
      case Some("returning") =>
        // the RETURNING list may precede ORDER BY/LIMIT in SQLite's
        // diagram — stop at a top-level ORDER/LIMIT so both clause
        // orders parse
        val (r, stop, stopped) = scanExpr(sql, skipWs(sql, j + 9),
          Set("order", "limit"), stopComma = false)
        if (r.trim.isEmpty) return None
        t = t.copy(returning = Some(r.trim))
        j = stop
        kw = stopped
      case _ => return None
    }
    Some(mk(t))
  }

  /** Skip an optional `INDEXED BY name` / `NOT INDEXED` access-path
    * hint (pure optimizer directives in SQLite — no semantics).
    * Returns the index after the hint, None on a malformed one. */
  private def skipIndexedBy(sql: String, start: Int): Option[Int] = {
    var j = start
    if (keywordAt(sql, j, "indexed")) {
      j = skipWs(sql, j + 7)
      if (!keywordAt(sql, j, "by")) return None
      j = skipWs(sql, j + 2)
      val (_, e) = parseIdent(sql, j).getOrElse(return None)
      Some(skipWs(sql, e))
    } else if (keywordAt(sql, j, "not")) {
      val k = skipWs(sql, j + 3)
      if (!keywordAt(sql, k, "indexed")) return None
      Some(skipWs(sql, k + 7))
    } else Some(j)
  }

  /** Raw expression text from `i` up to the first top-level `,` or
    * stop keyword — quote- and paren-aware, so keywords inside
    * subqueries, literals, and quoted identifiers never stop the scan.
    * `stopComma = false` treats commas as ordinary text (a FROM source
    * list separates joined relations with them). Returns (text, index
    * of the stopper, Some(",")/Some(keyword)/None = end of statement).
    */
  private def scanExpr(sql: String, i: Int, stops: Set[String],
                       stopComma: Boolean = true)
      : (String, Int, Option[String]) = {
    def stopAt(j: Int): Option[String] =
      if (sql.charAt(j) == ',') Some(",").filter(_ => stopComma)
      else stops.find(keywordAt(sql, j, _))
    val at = SqlText.findTop(sql, i)(stopAt(_).isDefined)
    if (at < 0) (sql.substring(i), sql.length, None)
    else (sql.substring(i, at), at, stopAt(at))
  }

  /** Parse `[TEMP|TEMPORARY] (VIEW|TABLE) [IF NOT EXISTS] name
    * (AS select | (column defs))` or `[UNIQUE] INDEX …` starting just
    * after CREATE. Anything else under CREATE (TRIGGER, VIRTUAL
    * TABLE) declines with the verb named.
    */
  private def parseCreate(sql: String, start: Int): Option[Stmt] = {
    var j = start
    if (keywordAt(sql, j, "unique")) {
      val k = skipWs(sql, j + 6)
      if (!keywordAt(sql, k, "index")) return Some(Unsupported("CREATE UNIQUE"))
      return parseCreateIndex(sql, skipWs(sql, k + 5), unique = true)
    }
    if (keywordAt(sql, j, "index"))
      return parseCreateIndex(sql, skipWs(sql, j + 5), unique = false)
    if (keywordAt(sql, j, "temp")) j = skipWs(sql, j + 4)
    else if (keywordAt(sql, j, "temporary")) j = skipWs(sql, j + 9)
    if (keywordAt(sql, j, "trigger"))
      return parseCreateTrigger(sql, skipWs(sql, j + 7))
    val isView = keywordAt(sql, j, "view")
    val isTable = keywordAt(sql, j, "table")
    if (!isView && !isTable) {
      var k = j
      while (k < sql.length && isWordChar(sql.charAt(k))) k += 1
      val kind = sql.substring(j, k).toUpperCase
      return Some(Unsupported(if (kind.isEmpty) "CREATE" else s"CREATE $kind"))
    }
    j = skipWs(sql, j + (if (isView) 4 else 5))
    var ifNotExists = false
    if (keywordAt(sql, j, "if")) {
      val k = skipWs(sql, j + 2)
      if (!keywordAt(sql, k, "not")) return Some(Unsupported("CREATE"))
      val m = skipWs(sql, k + 3)
      if (!keywordAt(sql, m, "exists")) return Some(Unsupported("CREATE"))
      ifNotExists = true
      j = skipWs(sql, m + 6)
    }
    val verb = if (isView) "CREATE VIEW" else "CREATE TABLE"
    val (name, afterName) = parseIdent(sql, j)
      .getOrElse(return Some(Unsupported(verb)))
    j = skipWs(sql, afterName)
    // a paren after the name: column DEFINITIONS for TABLE (an empty
    // typed relation — SQLite's affinity rules pick the lake types), a
    // renaming column list for VIEW (positional output renames,
    // SQLite's rule)
    if (j < sql.length && sql.charAt(j) == '(') {
      if (!isTable) {
        val close = closeParen(sql, j)
        if (close < 0) return Some(Unsupported(verb))
        val vcols = splitTop(sql.substring(j + 1, close))
          .map(c => unquoteIdent(c.trim)).filter(_.nonEmpty)
        if (vcols.isEmpty) return Some(Unsupported(verb))
        val k = skipWs(sql, close + 1)
        if (!keywordAt(sql, k, "as")) return Some(Unsupported(verb))
        val src = sql.substring(skipWs(sql, k + 2)).trim
        if (src.isEmpty) return Some(Unsupported(verb))
        return Some(CreateView(name, ifNotExists, src, vcols))
      }
      val close = closeParen(sql, j)
      if (close < 0) return Some(Unsupported("CREATE TABLE"))
      // table-options tail: `[WITHOUT ROWID | STRICT] [, …]` — both
      // now carry real semantics (STRICT type enforcement, rowid
      // suppression); anything else after the defs declines
      val tailOpts: Option[(Boolean, Boolean)] = {
        val at = skipWs(sql, close + 1)
        if (at >= sql.length) Some((false, false))
        else {
          val items = sql.substring(at).split(",").map(_.trim)
          val ok = items.nonEmpty && items.forall(it =>
            it.equalsIgnoreCase("strict") ||
              it.toLowerCase.matches("""without\s+rowid"""))
          if (!ok) None
          else Some((items.exists(_.equalsIgnoreCase("strict")),
            items.exists(_.toLowerCase.matches("""without\s+rowid"""))))
        }
      }
      return tailOpts match {
        case None => Some(Unsupported("CREATE TABLE"))
        case Some((strict, worowid)) =>
          parseColumnDefs(sql.substring(j + 1, close)) match {
            case Right(d) =>
              Some(CreateTable(name, ifNotExists, d.cols, d.pk, d.defaults,
                d.unique, d.fks, d.notNulls, d.checks, d.collates, d.gens,
                strict, worowid, d.autoinc))
            case Left(u) => Some(u)
          }
      }
    }
    if (!keywordAt(sql, j, "as"))
      return Some(Unsupported(
        if (isTable) "CREATE TABLE" else verb))
    j = skipWs(sql, j + 2)
    if (j >= sql.length) return Some(Unsupported(verb))
    val source = sql.substring(j).trim
    Some(if (isView) CreateView(name, ifNotExists, source)
         else CreateTableAs(name, ifNotExists, source))
  }

  /** Parse `TABLE name (RENAME TO n | RENAME [COLUMN] a TO b |
    * ADD [COLUMN] coldef | DROP [COLUMN] c)` starting just after ALTER
    * (SQLite's complete ALTER surface — there is no ALTER VIEW/INDEX).
    * Malformed statements decline with the verb named. */
  private def parseAlter(sql: String, start: Int): Option[Stmt] = {
    var j = start
    if (!keywordAt(sql, j, "table")) {
      var k = j
      while (k < sql.length && isWordChar(sql.charAt(k))) k += 1
      val kind = sql.substring(j, k).toUpperCase
      return Some(Unsupported(if (kind.isEmpty) "ALTER" else s"ALTER $kind"))
    }
    j = skipWs(sql, j + 5)
    val (table, afterTable) = parseIdent(sql, j)
      .getOrElse(return Some(Unsupported("ALTER TABLE")))
    j = skipWs(sql, afterTable)
    def atEnd(e: Int): Boolean = skipWs(sql, e) >= sql.length
    if (keywordAt(sql, j, "rename")) {
      j = skipWs(sql, j + 6)
      if (keywordAt(sql, j, "to")) {
        return parseIdent(sql, skipWs(sql, j + 2)) match {
          case Some((nn, e)) if atEnd(e) => Some(AlterRenameTable(table, nn))
          case _ => Some(Unsupported("ALTER TABLE RENAME TO"))
        }
      }
      if (keywordAt(sql, j, "column")) j = skipWs(sql, j + 6)
      val bad = Some(Unsupported("ALTER TABLE RENAME COLUMN"))
      val (oldC, e1) = parseIdent(sql, j).getOrElse(return bad)
      j = skipWs(sql, e1)
      if (!keywordAt(sql, j, "to")) return bad
      return parseIdent(sql, skipWs(sql, j + 2)) match {
        case Some((newC, e)) if atEnd(e) =>
          Some(AlterRenameColumn(table, oldC, newC))
        case _ => bad
      }
    }
    if (keywordAt(sql, j, "drop")) {
      j = skipWs(sql, j + 4)
      if (keywordAt(sql, j, "column")) j = skipWs(sql, j + 6)
      return parseIdent(sql, j) match {
        case Some((c, e)) if atEnd(e) => Some(AlterDropColumn(table, c))
        case _ => Some(Unsupported("ALTER TABLE DROP COLUMN"))
      }
    }
    if (keywordAt(sql, j, "add")) {
      j = skipWs(sql, j + 3)
      if (keywordAt(sql, j, "column")) j = skipWs(sql, j + 6)
      return parseAddColumn(sql.substring(j).trim, table)
    }
    Some(Unsupported("ALTER TABLE"))
  }

  /** One column-def for ADD COLUMN: `name [type tokens] [constraint
    * tail]`. SQLite's ADD COLUMN restrictions enforce at parse: no
    * PRIMARY KEY / UNIQUE, no generated column, and the default may be
    * neither a parenthesized expression nor CURRENT_TIME/DATE/TIMESTAMP
    * (lang_altertable.html §3) — so the default is always one literal
    * token. COLLATE / CHECK riders register like CREATE TABLE's; a
    * REFERENCES clause registers the column's FK (SQLite lists and
    * enforces it). */
  private def parseAddColumn(item: String, table: String): Option[Stmt] = {
    val verb = "ALTER TABLE ADD COLUMN"
    val bad = Some(Unsupported(verb))
    val (name, afterName) = parseIdent(item, 0).getOrElse(return bad)
    val typeStart = skipWs(item, afterName)
    val (typeEnd, _) = scanTypeTokens(item, typeStart).getOrElse(return bad)
    val declType = item.substring(typeStart, typeEnd min item.length).trim
    val frag = item.substring(typeEnd min item.length)
    def top(kw: String) = SqlText.findTop(frag, 0)(keywordAt(frag, _, kw))
    if (top("primary") >= 0)
      return Some(Unsupported(s"$verb with PRIMARY KEY (SQLite forbids)"))
    if (top("unique") >= 0)
      return Some(Unsupported(s"$verb with UNIQUE (SQLite forbids)"))
    val genK = top("generated")
    val asK = top("as")
    if (genK >= 0 || asK >= 0) {
      if (top("default") >= 0 ||
          top("not") >= 0 ||
          top("references") >= 0)
        return Some(Unsupported(s"$verb with a constrained generated column"))
      return parseGeneratedClause(frag, genK, asK) match {
        case Right((exprSql, stored)) =>
          Some(AlterAddColumn(table, name, declType, None, notNull = false,
            None, generatedExpr = Some(exprSql), generatedStored = stored))
        case Left(u) => Some(u)
      }
    }
    val notNull = {
      val k = top("not")
      k >= 0 && keywordAt(frag, skipWs(frag, k + 3), "null")
    }
    val dk = top("default")
    val default =
      if (dk < 0) None
      else {
        val at = skipWs(frag, dk + 7)
        if (at >= frag.length) return bad
        val c = frag.charAt(at)
        if (c == '(')
          return Some(Unsupported(
            s"$verb with a parenthesized DEFAULT expression (SQLite forbids)"))
        val end =
          if (c == '\'' || c == '"') SqlText.skipOpaque(frag, at)
          else if ((c == 'x' || c == 'X') && frag.startsWith("'", at + 1))
            SqlText.skipOpaque(frag, at + 1)
          else {
            var e = at
            while (e < frag.length && !frag.charAt(e).isWhitespace) e += 1
            e
          }
        val tok = frag.substring(at, end min frag.length).trim
        if (tok.isEmpty) return bad
        if (Set("current_time", "current_date", "current_timestamp")
            .contains(tok.toLowerCase))
          return Some(Unsupported(
            s"$verb with a ${tok.toUpperCase} default (SQLite forbids)"))
        Some(tok)
      }
    // a REFERENCES clause on the added column registers its FK exactly
    // as CREATE TABLE's column-level form does (measured: SQLite lists
    // it in foreign_key_list and enforces it)
    val fk = {
      val rk = top("references")
      if (rk < 0) None
      else parseReferences(frag, skipWs(frag, rk + 10), Seq(name)) match {
        case Right((f, _)) => Some(f)
        case Left(_)       => return bad
      }
    }
    // CHECK / COLLATE riders register like CREATE TABLE's (SQLite
    // accepts both on ADD COLUMN; existing rows are not re-validated)
    val check = {
      val ck = top("check")
      if (ck < 0) None
      else {
        val p = skipWs(frag, ck + 5)
        if (p >= frag.length || frag.charAt(p) != '(') return bad
        val close = closeParen(frag, p)
        if (close < 0) return bad
        val ex = frag.substring(p + 1, close).trim
        if (ex.isEmpty) return bad
        Some(ex)
      }
    }
    val collate = {
      val lk = top("collate")
      if (lk < 0) None
      else parseIdent(frag, skipWs(frag, lk + 7)).map(_._1.toUpperCase)
    }
    Some(AlterAddColumn(table, name, declType, default, notNull, fk,
      check, collate))
  }

  /** Keywords that END a column's type declaration and start its
    * constraint tail (SQLite column-constraint grammar). */
  private val colConstraintKw = Set("primary", "not", "null", "unique",
    "default", "check", "references", "collate", "generated", "as",
    "autoincrement")

  /** Scan a column's declared-type tokens from `start` (just past the
    * column name), stopping at a constraint keyword. Shared by CREATE
    * TABLE column defs and ALTER ADD COLUMN. Returns (typeEnd
    * exclusive, scan position); None on an unbalanced paren. */
  private def scanTypeTokens(item: String, start: Int): Option[(Int, Int)] = {
    var j = start
    var typeEnd = start
    var scanning = true
    while (scanning && j < item.length) {
      val c = item.charAt(j)
      if (c == '(') {
        val close = closeParen(item, j)
        if (close < 0) return None
        j = skipWs(item, close + 1); typeEnd = close + 1
      } else if (isWordChar(c)) {
        var e = j
        while (e < item.length && isWordChar(item.charAt(e))) e += 1
        if (colConstraintKw(item.substring(j, e).toLowerCase)) scanning = false
        else { typeEnd = e; j = skipWs(item, e) }
      } else scanning = false
    }
    Some((typeEnd, j))
  }

  /** Parsed column-def list: columns as (name, declared type text);
    * the PRIMARY KEY; the first UNIQUE constraint SEPARATELY (SQLite
    * registers it as an automatic unique index, not a PK); per-column
    * DEFAULT expressions verbatim; FKs; generated columns; the
    * AUTOINCREMENT rider; NOT NULL columns (declaration order); CHECK
    * constraints as (name or "", raw expr) in declaration order; and
    * column-declared COLLATE riders. */
  private[graft] final case class ParsedDefs(
      cols: Seq[(String, String)], pk: Seq[String],
      unique: Seq[Seq[String]],
      defaults: Seq[(String, String)], fks: Seq[Fk],
      gens: Seq[(String, String, Boolean)],
      autoinc: Option[(String, String, Boolean)],
      notNulls: Seq[String], checks: Seq[(String, String)],
      collates: Seq[(String, String)])

  /** Parse the inside of a column-def list: `col [type] [constraints],
    * …, [table constraints]`. Left = a targeted decline (generated
    * columns have real read semantics the lake schema can't carry
    * silently). */
  private def parseColumnDefs(inner: String)
      : Either[Unsupported, ParsedDefs] = {
    val cols = Seq.newBuilder[(String, String)]
    val defaults = Seq.newBuilder[(String, String)]
    val fks = Seq.newBuilder[Fk]
    val gens = Seq.newBuilder[(String, String, Boolean)]
    val notNulls = Seq.newBuilder[String]
    val checks = Seq.newBuilder[(String, String)]
    val collates = Seq.newBuilder[(String, String)]
    var autoinc: Option[(String, String, Boolean)] = None
    var pk = Seq.empty[String]
    val uniques = Seq.newBuilder[Seq[String]]
    def parseColList(s: String): Seq[String] =
      s.split(",").toSeq.map(c => unquoteIdent(
        // strip per-column COLLATE / ASC / DESC riders
        c.trim.split("\\s+").headOption.getOrElse("").trim)).filter(_.nonEmpty)
    for (rawItem <- splitTop(inner)) {
      var item = rawItem.trim
      if (item.isEmpty) return Left(Unsupported("CREATE TABLE"))
      // CONSTRAINT <name> <constraint> — kept: SQLite's CHECK error
      // names the constraint when one was declared
      var cname = ""
      if (keywordAt(item, 0, "constraint")) {
        val (nm, after) = parseIdent(item, skipWs(item, 10))
          .getOrElse(return Left(Unsupported("CREATE TABLE")))
        cname = nm
        item = item.substring(skipWs(item, after)).trim
      }
      if (keywordAt(item, 0, "primary")) {
        val k = skipWs(item, 7)
        if (!keywordAt(item, k, "key")) return Left(Unsupported("CREATE TABLE"))
        val p = skipWs(item, k + 3)
        if (p >= item.length || item.charAt(p) != '(')
          return Left(Unsupported("CREATE TABLE"))
        val close = closeParen(item, p)
        if (close < 0) return Left(Unsupported("CREATE TABLE"))
        val keys = parseColList(item.substring(p + 1, close))
        if (keys.isEmpty) return Left(Unsupported("CREATE TABLE"))
        if (pk.isEmpty) pk = keys
      } else if (keywordAt(item, 0, "unique")) {
        val p = skipWs(item, 6)
        if (p < item.length && item.charAt(p) == '(') {
          val close = closeParen(item, p)
          if (close < 0) return Left(Unsupported("CREATE TABLE"))
          val keys = parseColList(item.substring(p + 1, close))
          if (keys.nonEmpty) uniques += keys
        } else return Left(Unsupported("CREATE TABLE"))
      } else if (keywordAt(item, 0, "foreign")) {
        // table-level FOREIGN KEY (cols) REFERENCES parent [(pcols)] …
        val k = skipWs(item, 7)
        if (!keywordAt(item, k, "key")) return Left(Unsupported("CREATE TABLE"))
        val p = skipWs(item, k + 3)
        if (p >= item.length || item.charAt(p) != '(')
          return Left(Unsupported("CREATE TABLE"))
        val close = closeParen(item, p)
        if (close < 0) return Left(Unsupported("CREATE TABLE"))
        val childCols = parseColList(item.substring(p + 1, close))
        if (childCols.isEmpty) return Left(Unsupported("CREATE TABLE"))
        val r = skipWs(item, close + 1)
        if (!keywordAt(item, r, "references"))
          return Left(Unsupported("CREATE TABLE"))
        parseReferences(item, skipWs(item, r + 10), childCols) match {
          case Right((fk, _)) => fks += fk
          case Left(u)        => return Left(u)
        }
      } else if (keywordAt(item, 0, "check")) {
        // table-level CHECK (expr): enforced at every write —
        // SQLite's error names the CONSTRAINT when one was declared,
        // else the expr text as written
        val p = skipWs(item, 5)
        if (p >= item.length || item.charAt(p) != '(')
          return Left(Unsupported("CREATE TABLE"))
        val close = closeParen(item, p)
        if (close < 0) return Left(Unsupported("CREATE TABLE"))
        val ex = item.substring(p + 1, close).trim
        if (ex.isEmpty) return Left(Unsupported("CREATE TABLE"))
        checks += ((cname, ex))
      } else {
        // a column definition: name [type tokens] [constraint tail]
        val (name, afterName) = parseIdent(item, 0)
          .getOrElse(return Left(Unsupported("CREATE TABLE")))
        val typeStart = skipWs(item, afterName)
        val (typeEnd, _) = scanTypeTokens(item, typeStart)
          .getOrElse(return Left(Unsupported("CREATE TABLE")))
        val declType = item.substring(typeStart, typeEnd min item.length).trim
        val frag = item.substring(typeEnd min item.length)
        def top(kw: String) = SqlText.findTop(frag, 0)(keywordAt(frag, _, kw))
        val genK = top("generated")
        val asK = top("as")
        if (genK >= 0 || asK >= 0) {
          // [GENERATED ALWAYS] AS (expr) [VIRTUAL|STORED] — the
          // paren-aware top scan can't see keywords inside the expr,
          // so any OTHER constraint keyword at top level is a
          // combination SQLite forbids on generated columns
          if (top("primary") >= 0 ||
              top("unique") >= 0 ||
              top("default") >= 0 ||
              top("references") >= 0)
            return Left(Unsupported(
              "CREATE TABLE with a constrained generated column"))
          parseGeneratedClause(frag, genK, asK) match {
            case Right((exprSql, stored)) =>
              gens += ((name, exprSql, stored))
              cols += ((name, declType))
            case Left(u) => return Left(u)
          }
        } else {
        if (top("autoincrement") >= 0 && autoinc.isEmpty)
          autoinc = Some((name, declType,
            top("primary") >= 0))
        if (top("primary") >= 0 && pk.isEmpty)
          pk = Seq(name)
        else if (top("unique") >= 0)
          uniques += Seq(name)
        // NOT NULL — `top` is paren-transparent, so a
        // `NOT NULL` inside a CHECK expression never false-positives
        val nnK = top("not")
        if (nnK >= 0 && keywordAt(frag, skipWs(frag, nnK + 3), "null"))
          notNulls += name
        // column-level [CONSTRAINT nm] CHECK (expr)
        val ckK = top("check")
        if (ckK >= 0) {
          val p = skipWs(frag, ckK + 5)
          if (p >= frag.length || frag.charAt(p) != '(')
            return Left(Unsupported("CREATE TABLE"))
          val close = closeParen(frag, p)
          if (close < 0) return Left(Unsupported("CREATE TABLE"))
          val ex = frag.substring(p + 1, close).trim
          if (ex.isEmpty) return Left(Unsupported("CREATE TABLE"))
          val cnK = top("constraint")
          val nm =
            if (cnK < 0) ""
            else parseIdent(frag, skipWs(frag, cnK + 10))
              .map(_._1).getOrElse("")
          checks += ((nm, ex))
        }
        // COLLATE <name> rider (registered so bare comparisons /
        // ORDER BY / GROUP BY over the column fold the collation)
        val clK = top("collate")
        if (clK >= 0)
          parseIdent(frag, skipWs(frag, clK + 7)).foreach { case (cl, _) =>
            collates += ((name, cl.toUpperCase))
          }
        // DEFAULT expression, verbatim: a parenthesized group, a
        // quoted literal, or a signed literal/keyword token (SQLite's
        // column-constraint grammar — CREATE TABLE, unlike ADD
        // COLUMN, allows parenthesized defaults)
        val dk = top("default")
        if (dk >= 0) {
          val at = skipWs(frag, dk + 7)
          if (at >= frag.length) return Left(Unsupported("CREATE TABLE"))
          val c = frag.charAt(at)
          val end =
            if (c == '(') {
              val close = closeParen(frag, at)
              if (close < 0) return Left(Unsupported("CREATE TABLE"))
              close + 1
            }
            else if (c == '\'' || c == '"') SqlText.skipOpaque(frag, at)
            else {
              var e = at
              if (e < frag.length &&
                  (frag.charAt(e) == '-' || frag.charAt(e) == '+')) e += 1
              while (e < frag.length &&
                     (isWordChar(frag.charAt(e)) || frag.charAt(e) == '.'))
                e += 1
              e
            }
          val tok = frag.substring(at, end min frag.length).trim
          if (tok.isEmpty) return Left(Unsupported("CREATE TABLE"))
          defaults += ((name, tok))
        }
        // column-level REFERENCES parent [(pcol)] [ref clauses]
        val rk = top("references")
        if (rk >= 0)
          parseReferences(frag, skipWs(frag, rk + 10), Seq(name)) match {
            case Right((fk, _)) => fks += fk
            case Left(u)        => return Left(u)
          }
        cols += ((name, declType))
        }
      }
    }
    val allCols = cols.result()
    if (allCols.isEmpty) return Left(Unsupported("CREATE TABLE"))
    val known = allCols.map(_._1.toLowerCase).toSet
    val allUniques = uniques.result()
    if ((pk ++ allUniques.flatten).exists(k => !known(k.toLowerCase)))
      return Left(Unsupported("CREATE TABLE"))
    val allFks = fks.result()
    if (allFks.exists(_.cols.exists(c => !known(c.toLowerCase))))
      return Left(Unsupported("CREATE TABLE"))
    val allGens = gens.result()
    // a generated column may only reference columns of the same table;
    // unknown identifiers surface at CREATE through the expr binder in
    // exec.Ddl, and a generated PK/UNIQUE/DEFAULT combination already
    // declined above
    Right(ParsedDefs(allCols, pk, allUniques, defaults.result(),
      allFks, allGens, autoinc, notNulls.result(), checks.result(),
      collates.result()))
  }

  /** `[GENERATED ALWAYS] AS (expr) [VIRTUAL|STORED]` — the generated
    * column-constraint tail. Returns (raw expr, STORED?). Any trailing
    * token after the optional storage keyword declines (SQLite allows
    * further constraints there, but a silent skip could drop NOT NULL
    * semantics — a visible error is the house rule). */
  private def parseGeneratedClause(frag: String, genK: Int, asK: Int)
      : Either[Unsupported, (String, Boolean)] = {
    val bad = Left(Unsupported("generated column syntax"))
    val p0 =
      if (genK >= 0) {
        val al = skipWs(frag, genK + 9)
        if (!keywordAt(frag, al, "always")) return bad
        val asAt = skipWs(frag, al + 6)
        if (!keywordAt(frag, asAt, "as")) return bad
        skipWs(frag, asAt + 2)
      } else skipWs(frag, asK + 2)
    if (p0 >= frag.length || frag.charAt(p0) != '(') return bad
    val close = closeParen(frag, p0)
    if (close < 0) return bad
    val exprSql = frag.substring(p0 + 1, close).trim
    if (exprSql.isEmpty) return bad
    val after = skipWs(frag, close + 1)
    val stored = keywordAt(frag, after, "stored")
    val virt = keywordAt(frag, after, "virtual")
    val rest =
      if (stored) skipWs(frag, after + 6)
      else if (virt) skipWs(frag, after + 7)
      else after
    if (rest < frag.length)
      return Left(Unsupported(
        "a generated column with further constraints"))
    Right((exprSql, stored))
  }

  /** Parse a REFERENCES clause from `at` (just past the keyword):
    * `parent [(pcols)] [ON DELETE|UPDATE <action> | MATCH <name> |
    * [NOT] DEFERRABLE [INITIALLY IMMEDIATE|DEFERRED]]*`. MATCH and
    * DEFERRABLE parse-accept and are ignored ([[Fk]] scaladoc); an
    * unrecognized token ends the clause (column-level tails continue
    * with other constraints). Returns the Fk and the position after
    * the clause. */
  private def parseReferences(s: String, at: Int, childCols: Seq[String])
      : Either[Unsupported, (Fk, Int)] = {
    val (parent, afterP) = parseIdent(s, at)
      .getOrElse(return Left(Unsupported("CREATE TABLE")))
    var j = skipWs(s, afterP)
    var pcols = Seq.empty[String]
    if (j < s.length && s.charAt(j) == '(') {
      val close = closeParen(s, j)
      if (close < 0) return Left(Unsupported("CREATE TABLE"))
      pcols = s.substring(j + 1, close).split(",").toSeq
        .map(c => unquoteIdent(
          c.trim.split("\\s+").headOption.getOrElse("").trim))
        .filter(_.nonEmpty)
      // SQLite reports the count mismatch at use time; here the decline
      // is at CREATE — visible either way, never a silent half-key
      if (pcols.size != childCols.size)
        return Left(Unsupported("CREATE TABLE"))
      j = skipWs(s, close + 1)
    }
    var onUpd = "NO ACTION"; var onDel = "NO ACTION"
    var scanning = true
    while (scanning && j < s.length) {
      if (keywordAt(s, j, "on")) {
        val k = skipWs(s, j + 2)
        val isDel = keywordAt(s, k, "delete")
        if (!isDel && !keywordAt(s, k, "update"))
          return Left(Unsupported("CREATE TABLE"))
        var m = skipWs(s, k + 6)
        val act =
          if (keywordAt(s, m, "cascade")) { m += 7; "CASCADE" }
          else if (keywordAt(s, m, "restrict")) { m += 8; "RESTRICT" }
          else if (keywordAt(s, m, "set")) {
            val n2 = skipWs(s, m + 3)
            if (keywordAt(s, n2, "null")) { m = n2 + 4; "SET NULL" }
            else if (keywordAt(s, n2, "default")) { m = n2 + 7; "SET DEFAULT" }
            else return Left(Unsupported("CREATE TABLE"))
          } else if (keywordAt(s, m, "no")) {
            val n2 = skipWs(s, m + 2)
            if (!keywordAt(s, n2, "action"))
              return Left(Unsupported("CREATE TABLE"))
            m = n2 + 6; "NO ACTION"
          } else return Left(Unsupported("CREATE TABLE"))
        if (isDel) onDel = act else onUpd = act
        j = skipWs(s, m)
      } else if (keywordAt(s, j, "match")) {
        val (_, e) = parseIdent(s, skipWs(s, j + 5))
          .getOrElse(return Left(Unsupported("CREATE TABLE")))
        j = skipWs(s, e)
      } else if (keywordAt(s, j, "not") &&
                 keywordAt(s, skipWs(s, j + 3), "deferrable")) {
        j = skipWs(s, skipWs(s, j + 3) + 10)
      } else if (keywordAt(s, j, "deferrable")) {
        j = skipWs(s, j + 10)
        if (keywordAt(s, j, "initially")) {
          val k = skipWs(s, j + 9)
          if (keywordAt(s, k, "deferred")) j = skipWs(s, k + 8)
          else if (keywordAt(s, k, "immediate")) j = skipWs(s, k + 9)
          else return Left(Unsupported("CREATE TABLE"))
        }
      } else scanning = false
    }
    Right((Fk(childCols, parent, pcols, onUpd, onDel), j))
  }

  /** `CREATE [TEMP] TRIGGER …` — see [[CreateTrigger]]. Grammar-level
    * failures return Unsupported with a NAMED reason (the detector
    * stays total — a truncated model response must classify, not
    * throw); subset validation (timings, body verbs, RAISE, …) lives
    * in exec.Triggers where the error messages can be specific. */
  private def parseCreateTrigger(sql: String, start: Int): Option[Stmt] = {
    def bailWhy(why: String): Option[Stmt] =
      Some(Unsupported(s"CREATE TRIGGER ($why)"))
    var j = start
    var ifNotExists = false
    if (keywordAt(sql, j, "if")) {
      val k = skipWs(sql, j + 2)
      if (!keywordAt(sql, k, "not")) return bailWhy("malformed IF NOT EXISTS")
      val m = skipWs(sql, k + 3)
      if (!keywordAt(sql, m, "exists")) return bailWhy("malformed IF NOT EXISTS")
      ifNotExists = true
      j = skipWs(sql, m + 6)
    }
    val (name, afterName) = parseIdent(sql, j).getOrElse(return bailWhy("unparseable trigger name"))
    j = skipWs(sql, afterName)
    var timing = ""
    if (keywordAt(sql, j, "before")) { timing = "before"; j = skipWs(sql, j + 6) }
    else if (keywordAt(sql, j, "after")) { timing = "after"; j = skipWs(sql, j + 5) }
    else if (keywordAt(sql, j, "instead")) {
      val k = skipWs(sql, j + 7)
      if (!keywordAt(sql, k, "of")) return bailWhy("malformed INSTEAD OF")
      timing = "instead of"; j = skipWs(sql, k + 2)
    }
    var event = ""
    val ofCols = Seq.newBuilder[String]
    if (keywordAt(sql, j, "insert")) { event = "insert"; j = skipWs(sql, j + 6) }
    else if (keywordAt(sql, j, "delete")) { event = "delete"; j = skipWs(sql, j + 6) }
    else if (keywordAt(sql, j, "update")) {
      event = "update"; j = skipWs(sql, j + 6)
      if (keywordAt(sql, j, "of")) {
        j = skipWs(sql, j + 2)
        var more = true
        while (more) {
          val (c, e) = parseIdent(sql, j).getOrElse(return bailWhy("unparseable UPDATE OF column list"))
          ofCols += c.toLowerCase
          j = skipWs(sql, e)
          if (j < sql.length && sql.charAt(j) == ',') j = skipWs(sql, j + 1)
          else more = false
        }
      }
    } else return bailWhy("no INSERT/UPDATE/DELETE event")
    if (!keywordAt(sql, j, "on")) return bailWhy("missing ON <table>")
    j = skipWs(sql, j + 2)
    val (table, afterTable) = parseIdent(sql, j).getOrElse(return bailWhy("unparseable table name"))
    j = skipWs(sql, afterTable)
    if (keywordAt(sql, j, "for")) {
      val k = skipWs(sql, j + 3)
      if (!keywordAt(sql, k, "each")) return bailWhy("only FOR EACH ROW is supported")
      val m = skipWs(sql, k + 4)
      if (!keywordAt(sql, m, "row")) return bailWhy("only FOR EACH ROW is supported")
      j = skipWs(sql, m + 3)
    }
    var when: Option[String] = None
    if (keywordAt(sql, j, "when")) {
      j = skipWs(sql, j + 4)
      val (w, e, stop) = scanExpr(sql, j, Set("begin"), stopComma = false)
      if (!stop.contains("begin")) return bailWhy("WHEN clause not followed by BEGIN")
      when = Some(w.trim)
      j = e
    }
    if (!keywordAt(sql, j, "begin")) return bailWhy("missing BEGIN")
    j = skipWs(sql, j + 5)
    // body: (stmt ';')+ then END — CASE…END inside a statement holds
    // no top-level ';', so the trigger's END is always the keyword
    // right after a ';'
    val body = Seq.newBuilder[String]
    var parsing = true
    while (parsing) {
      if (keywordAt(sql, j, "end")) {
        if (skipWs(sql, j + 3) < sql.length) return bailWhy("text after END") // trailing text
        parsing = false
      } else {
        val semi = SqlText.find(sql, j)(sql.charAt(_) == ';')
        if (semi < 0) return bailWhy("body statement without a terminating ';' before END")
        val stmtText = sql.substring(j, semi).trim
        if (stmtText.nonEmpty) body += stmtText
        j = skipWs(sql, semi + 1)
      }
    }
    val stmts = body.result()
    if (stmts.isEmpty) return bailWhy("empty body")
    Some(CreateTrigger(name, ifNotExists, timing, event, ofCols.result(),
      table, when, stmts, sql))
  }

  /** Parse `[IF NOT EXISTS] name ON table (col [COLLATE c] [ASC|DESC],
    * …) [WHERE …]` starting just after INDEX. A plain index is a pure
    * access-path directive (no result semantics — registered no-op); a
    * UNIQUE one declares the conflict key, so unsound variants
    * (expression keys, partial-index WHERE) decline targeted. */
  private def parseCreateIndex(sql: String, start: Int,
                               unique: Boolean): Option[Stmt] = {
    val verb = if (unique) "CREATE UNIQUE INDEX" else "CREATE INDEX"
    var j = start
    var ifNotExists = false
    if (keywordAt(sql, j, "if")) {
      val k = skipWs(sql, j + 2)
      if (!keywordAt(sql, k, "not")) return Some(Unsupported(verb))
      val m = skipWs(sql, k + 3)
      if (!keywordAt(sql, m, "exists")) return Some(Unsupported(verb))
      ifNotExists = true
      j = skipWs(sql, m + 6)
    }
    val (name, afterName) = parseIdent(sql, j)
      .getOrElse(return Some(Unsupported(verb)))
    j = skipWs(sql, afterName)
    if (!keywordAt(sql, j, "on")) return Some(Unsupported(verb))
    j = skipWs(sql, j + 2)
    val (table, afterTable) = parseIdent(sql, j)
      .getOrElse(return Some(Unsupported(verb)))
    j = skipWs(sql, afterTable)
    if (j >= sql.length || sql.charAt(j) != '(')
      return Some(Unsupported(verb))
    val close = closeParen(sql, j)
    if (close < 0) return Some(Unsupported(verb))
    var exprKey = false
    val parsed = splitTop(sql.substring(j + 1, close)).flatMap { raw =>
      val item = raw.trim
      parseIdent(item, 0) match {
        case Some((c, after)) =>
          // accept trailing COLLATE <name> / ASC / DESC riders (kept
          // for index_xinfo); any other tail makes it an expression key
          var k = skipWs(item, after)
          var coll = "" // "" = no COLLATE rider written (≠ explicit BINARY)
          var desc = false
          if (keywordAt(item, k, "collate")) {
            val ci = parseIdent(item, skipWs(item, k + 7))
            coll = ci.map(_._1.toUpperCase).getOrElse("BINARY")
            k = ci.map(_._2).getOrElse(item.length)
            k = skipWs(item, k)
          }
          if (keywordAt(item, k, "asc")) k = skipWs(item, k + 3)
          else if (keywordAt(item, k, "desc")) { desc = true; k = skipWs(item, k + 4) }
          if (k < item.length) { exprKey = true; None }
          else Some((c, desc, coll))
        case None => exprKey = true; None
      }
    }
    val cols = parsed.map(_._1)
    val tail = skipWs(sql, close + 1)
    val partial = tail < sql.length && keywordAt(sql, tail, "where")
    val whereExpr =
      if (!partial) None
      else {
        val w = sql.substring(skipWs(sql, tail + 5)).trim
        if (w.isEmpty) return Some(Unsupported(verb))
        Some(w)
      }
    if (tail < sql.length && !partial) return Some(Unsupported(verb))
    // an expression-keyed UNIQUE index keeps its raw item texts — the
    // executor validates/translates them and the constraint enforces
    // over the expressions (SQLite's `UNIQUE constraint failed:
    // index 'name'` error)
    val rawItems = splitTop(sql.substring(j + 1, close)).map(_.trim)
    if (unique && exprKey && rawItems.exists(_.isEmpty))
      return Some(Unsupported("CREATE UNIQUE INDEX on an expression"))
    Some(CreateIndex(name, table, if (exprKey) Nil else cols, unique,
      ifNotExists,
      if (exprKey) Nil else parsed.map(p => (p._2, p._3)),
      if (unique && exprKey) rawItems else Nil,
      whereExpr))
  }

  /** Parse `table [(col, …)] (SELECT …| VALUES …) [ON CONFLICT …]`
    * starting at `i`. `implied` is a conflict action the VERB already
    * selected (`INSERT OR IGNORE` = DO NOTHING); an explicit
    * `ON CONFLICT` clause overrides it. Returns the Upsert, a targeted
    * Unsupported for recognized-but-unsound clause forms, or None for
    * statements that don't parse at all (the caller supplies the
    * bare-verb decline). */
  private def parseUpsert(sql: String, i: Int, withPrefix: String,
                          replace: Boolean = true,
                          implied: Option[OnConflict] = None,
                          orIgnore: Boolean = false): Option[Stmt] = {
    val (table, afterTable) = parseIdent(sql, i).getOrElse(return None)
    var j = skipWs(sql, afterTable)
    var cols = Seq.empty[String]
    if (j < sql.length && sql.charAt(j) == '(') {
      val close = closeParen(sql, j)
      if (close < 0) return None
      cols = sql.substring(j + 1, close).split(",").toSeq
        .map(c => unquoteIdent(c.trim)).filter(_.nonEmpty)
      if (cols.isEmpty) return None
      j = skipWs(sql, close + 1)
    }
    // truncated statement ("INSERT OR REPLACE INTO t" and nothing
    // else): decline to the targeted Unsupported error, never an
    // index-out-of-bounds from charAt below
    if (j >= sql.length) return None
    // split the source from a trailing upsert clause / RETURNING: the
    // first top-level ON CONFLICT (quotes and parens skipped; a join's
    // ON is never followed by the word CONFLICT), else the first
    // top-level RETURNING (grammar places it after ON CONFLICT, and a
    // bare keyword can't appear top-level inside the source)
    def onConflictAt(k: Int) =
      keywordAt(sql, k, "on") && keywordAt(sql, skipWs(sql, k + 2), "conflict")
    val confAt = SqlText.findTop(sql, j)(onConflictAt)
    val retAt =
      if (confAt >= 0) -1 else SqlText.findTop(sql, j)(keywordAt(sql, _, "returning"))
    val srcEnd =
      if (confAt >= 0) confAt else if (retAt >= 0) retAt else sql.length
    var returning: Option[String] =
      if (retAt >= 0) {
        val r = sql.substring(skipWs(sql, retAt + 9)).trim
        if (r.isEmpty) return None
        Some(r)
      } else None
    // SQLite 3.35+: a CHAIN of upsert clauses — each conflict routes to
    // the first clause (left to right) whose target it matches; the
    // grammar allows a targetless clause only in LAST position (a
    // targetless clause followed by another is SQLite's syntax error —
    // measured against 3.40.1)
    val conflicts: Seq[OnConflict] =
      if (confAt < 0) implied.toSeq
      else {
        val acc = scala.collection.mutable.ArrayBuffer[OnConflict]()
        var at = confAt
        var done = false
        while (!done) {
          val afterOn = skipWs(sql, at + 2) // at CONFLICT
          parseConflict(sql, afterOn + 8) match {
            case Left(u) => return Some(u)
            case Right((c, end)) =>
              acc += c
              val rest = skipWs(sql, end)
              if (onConflictAt(rest)) {
                if (c.keyCols.isEmpty && c.keyExprs.isEmpty)
                  // sqlite3 echoes the SOURCE token's casing ('on
                  // conflict' yields near "on" — measured 3.40.1)
                  throw new IllegalArgumentException(
                    "near \"" + sql.substring(rest, rest + 2) +
                      "\": syntax error")
                at = rest
              } else {
                if (rest < sql.length) {
                  if (keywordAt(sql, rest, "returning")) {
                    val r = sql.substring(skipWs(sql, rest + 9)).trim
                    if (r.isEmpty) return None
                    returning = Some(r)
                  } else return Some(Unsupported("INSERT … ON CONFLICT"))
                }
                done = true
              }
          }
        }
        acc.toSeq
      }
    val conflict: Option[OnConflict] = conflicts.headOption
    val rest = sql.substring(j, srcEnd).trim
    if (rest.isEmpty) return None
    val source =
      if (keywordAt(sql, j, "select") || sql.charAt(j) == '(')
        s"$withPrefix $rest".trim
      else if (keywordAt(sql, j, "values"))
        // VALUES can't reference CTEs, so the prefix is droppable
        s"SELECT * FROM ($rest)"
      else if (keywordAt(sql, j, "default")) {
        // `INSERT INTO t DEFAULT VALUES` (SQLite): one row, every
        // column its declared DEFAULT / NULL. SQLite's grammar allows
        // neither a column list nor an upsert clause on this form.
        val k = skipWs(sql, j + 7)
        if (!keywordAt(sql, k, "values") || skipWs(sql, k + 6) < srcEnd ||
            cols.nonEmpty || confAt >= 0) return None
        DefaultValuesSource
      }
      else return None
    Some(Upsert(table, cols, source, replace, conflict, returning,
      defaultValues = source eq DefaultValuesSource, orIgnore = orIgnore,
      conflictRest = conflicts.drop(1)))
  }

  /** Parse `[(cols) [WHERE …]] DO (NOTHING | UPDATE SET a = e, …
    * [WHERE p])` starting just after the CONFLICT keyword. Right =
    * (clause, end index); Left = targeted decline. */
  private def parseConflict(sql: String, start: Int)
      : Either[Unsupported, (OnConflict, Int)] = {
    var j = skipWs(sql, start)
    var cols = Seq.empty[String]
    var exprs = Seq.empty[String]
    var targetWhere: Option[String] = None
    if (j < sql.length && sql.charAt(j) == '(') {
      val close = closeParen(sql, j)
      if (close < 0) return Left(Unsupported("INSERT … ON CONFLICT"))
      val items = splitTop(sql.substring(j + 1, close)).map(_.trim)
      if (items.isEmpty || items.exists(_.isEmpty))
        return Left(Unsupported("INSERT … ON CONFLICT"))
      // a plain column list keys against the lake schema; anything
      // else (e.g. lower(email)) is an EXPRESSION target that must
      // match a declared expression index at execution
      val plain =
        items.forall(c => unquoteIdent(c) != c || c.forall(isWordChar))
      if (plain) cols = items.map(unquoteIdent)
      else exprs = items
      j = skipWs(sql, close + 1)
      if (keywordAt(sql, j, "where")) {
        // the target's partial-index predicate — must match a declared
        // partial unique index's WHERE at execution (SQLite's rule)
        val (w, stop, stopped) =
          scanExpr(sql, skipWs(sql, j + 5), Set("do"), stopComma = false)
        if (w.trim.isEmpty || !stopped.contains("do"))
          return Left(Unsupported("INSERT … ON CONFLICT"))
        targetWhere = Some(w.trim)
        j = stop
      }
    }
    if (!keywordAt(sql, j, "do"))
      return Left(Unsupported("INSERT … ON CONFLICT"))
    j = skipWs(sql, j + 2)
    if (keywordAt(sql, j, "nothing"))
      return Right((OnConflict(cols, Nil, None, exprs, targetWhere), j + 7))
    if (!keywordAt(sql, j, "update"))
      return Left(Unsupported("INSERT … ON CONFLICT DO"))
    j = skipWs(sql, j + 6)
    if (!keywordAt(sql, j, "set"))
      return Left(Unsupported("ON CONFLICT DO UPDATE"))
    j = skipWs(sql, j + 3)
    // assignment list, stopping at a trailing WHERE / RETURNING / the
    // chain's next ON CONFLICT clause (SQLite 3.35)
    val stops = Set("where", "on", "returning")
    val assigns = Seq.newBuilder[(String, String)]
    var stopKw: Option[String] = None
    var more = true
    while (more) {
      if (j < sql.length && sql.charAt(j) == '(')
        return Left(Unsupported("ON CONFLICT DO UPDATE with a column-name-list SET"))
      val (c, afterC) = parseIdent(sql, j)
        .getOrElse(return Left(Unsupported("ON CONFLICT DO UPDATE")))
      j = skipWs(sql, afterC)
      if (j >= sql.length || sql.charAt(j) != '=')
        return Left(Unsupported("ON CONFLICT DO UPDATE"))
      j = skipWs(sql, j + 1)
      val (expr, stop, stopped) = scanExpr(sql, j, stops)
      if (expr.trim.isEmpty) return Left(Unsupported("ON CONFLICT DO UPDATE"))
      assigns += ((unquoteIdent(c.trim), expr.trim))
      j = stop
      stopped match {
        case Some(",") => j = skipWs(sql, j + 1)
        case other     => stopKw = other; more = false
      }
    }
    stopKw match {
      case None => Right((OnConflict(cols, assigns.result(), None, exprs, targetWhere), j))
      case Some("where") =>
        val (expr, stop, stopped) =
          scanExpr(sql, skipWs(sql, j + 5), stops - "where")
        if (expr.trim.isEmpty)
          Left(Unsupported("ON CONFLICT DO UPDATE"))
        else if (stopped.isEmpty || stopped.contains("returning") ||
                 stopped.contains("on"))
          // a trailing RETURNING — or the chain's next ON CONFLICT —
          // belongs to the caller: end the clause AT the keyword so
          // parseUpsert picks it up
          Right((OnConflict(cols, assigns.result(), Some(expr.trim), exprs, targetWhere), stop))
        else Left(Unsupported("INSERT … ON CONFLICT"))
      case Some("returning") =>
        Right((OnConflict(cols, assigns.result(), None, exprs, targetWhere), j))
      case Some("on") =>
        // the chain's next clause starts here — caller's loop
        Right((OnConflict(cols, assigns.result(), None, exprs, targetWhere), j))
      case _ => Left(Unsupported("INSERT … ON CONFLICT"))
    }
  }

  /** Rewrite `excluded.col` references — SQLite's upsert qualifier for
    * the would-be-inserted row — to flat `__excl_col` names, the
    * columns [[graft.exec.Upsert]] carries the incoming row under in
    * its update join. `excluded` inside literals or quoted identifiers
    * is untouched; both bare and quoted column forms rewrite. */
  private[graft] def rewriteExcluded(s: String): String =
    SqlText.rewrite(s) { j =>
      val dot = skipWs(s, j + 8)
      if (!keywordAt(s, j, "excluded") || dot >= s.length || s.charAt(dot) != '.')
        None
      else {
        val k = skipWs(s, dot + 1)
        val q = SqlText.skipOpaque(s, k)
        var ke = k
        while (ke < s.length && isWordChar(s.charAt(ke))) ke += 1
        if (q >= k + 2)
          Some(("`__excl_" + s.substring(k + 1, q - 1).replace("`", "``") + "`", q))
        else if (ke > k) Some(("__excl_" + s.substring(k, ke), ke))
        else None
      }
    }

  /** Identifier at `i`: bare word, or quoted with `` ` ``/`"`/`'`
    * (SQLite accepts all three around table names — the reference's
    * own generated SQL writes `FROM 'hash'`). Returns (name, end). */
  private def parseIdent(sql: String, i: Int): Option[(String, Int)] = {
    if (i >= sql.length) return None
    val c = sql.charAt(i)
    val q = SqlText.skipOpaque(sql, i)
    if (q > i) {
      if (q <= i + 2) None
      else Some((sql.substring(i + 1, q - 1).replace(s"$c$c", s"$c"), q))
    } else if (isWordChar(c)) {
      var e = i
      while (e < sql.length && (isWordChar(sql.charAt(e)) || sql.charAt(e) == '.'))
        e += 1
      Some((sql.substring(i, e), e))
    } else None
  }

  private def unquoteIdent(s: String): String =
    if (s.length >= 2 && (s.head == '`' || s.head == '"' || s.head == '\'') &&
        s.last == s.head)
      s.substring(1, s.length - 1).replace(s"${s.head}${s.head}", s"${s.head}")
    else s

  /** End index just past the last CTE's closing paren of a `WITH`
    * clause starting at `i` (which must point at the WITH keyword). */
  private def skipCtes(sql: String, i: Int): Option[Int] = {
    var j = skipWs(sql, i + 4)
    if (keywordAt(sql, j, "recursive")) j = skipWs(sql, j + 9)
    var done = false
    var end = -1
    while (!done) {
      val (_, afterName) = parseIdent(sql, j).getOrElse(return None)
      j = skipWs(sql, afterName)
      if (j < sql.length && sql.charAt(j) == '(') { // optional column list
        val c = closeParen(sql, j); if (c < 0) return None
        j = skipWs(sql, c + 1)
      }
      if (!keywordAt(sql, j, "as")) return None
      j = skipWs(sql, j + 2)
      if (j >= sql.length || sql.charAt(j) != '(') return None
      val close = closeParen(sql, j)
      if (close < 0) return None
      end = close + 1
      j = skipWs(sql, close + 1)
      if (j < sql.length && sql.charAt(j) == ',') j = skipWs(sql, j + 1)
      else done = true
    }
    Some(end)
  }
}
