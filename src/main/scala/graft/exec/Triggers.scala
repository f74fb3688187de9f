package graft.exec

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.text2sql.{SqlDml, SqlText}
import graft.text2sql.SqlText.{keywordAt, skipWs}

/** SQLite `CREATE TRIGGER` — the supported subset, executed
  * SET-BASED (reference delegation: pandasqlite.py:245-247 hands any
  * generated statement to SQLite, triggers included).
  *
  * SQLite fires row triggers once per affected row, sequentially.
  * A distributed engine cannot loop rows on the driver, so each body
  * statement is re-expressed as ONE relational statement over the
  * affected-row slice (struct columns `old`/`new`, so the body's
  * `NEW.x`/`OLD.x` resolve naturally):
  *
  *  - `INSERT … VALUES (exprs)`  → `INSERT … SELECT exprs FROM slice`
  *    (one inserted row per affected row, exactly SQLite — including
  *    bodies with no NEW/OLD reference, which insert once per row);
  *  - `INSERT … SELECT …`        → the source becomes
  *    `SELECT s.* FROM slice, LATERAL (source) s` (per-row
  *    correlation, Spark's spelling of the implicit trigger scope);
  *  - `UPDATE t SET … WHERE …`   → the existing UPDATE-FROM rewrite
  *    with the slice as the FROM source; several slice rows matching
  *    one target row resolve to the deterministic minimum of the
  *    assigned row image — the same documented "arbitrarily chosen"
  *    policy as sink_update_from_sql (SQLite applies them
  *    sequentially in rowid order, an order a distributed batch does
  *    not have). Bodies with no NEW/OLD reference decline at CREATE:
  *    their per-row repetition (`SET c = c + 1` runs N times) has no
  *    set-based equivalent;
  *  - `DELETE FROM t WHERE p`    → `WHERE EXISTS (SELECT 1 FROM
  *    slice WHERE p)` (deletion is idempotent, so set semantics match
  *    row-at-a-time exactly);
  *  - `SELECT …`                 → executed per slice row and
  *    discarded (SQLite runs and discards) — unless a row evaluates a
  *    `RAISE(ABORT|ROLLBACK, 'msg')`, which aborts the whole
  *    statement: the rewrite to [[graft.functions.GraftRaise]] throws
  *    from the task, and [[Atomic]] restores every pre-statement
  *    binding (copy-on-write makes the rollback a plan-pointer swap)
  *    and surfaces exactly the raise message, SQLite's error. In this
  *    engine's per-statement autocommit — the same mode the
  *    reference's execute() runs in — ABORT and ROLLBACK coincide.
  *    RAISE(FAIL) (keeps rowid-order partial effects) and
  *    RAISE(IGNORE) (skips single rows mid-program) have no set-based
  *    equivalent and decline at CREATE.
  *
  * Timing: AFTER bodies run after the triggering statement's
  * copy-on-write rebind; BEFORE (SQLite's default when no timing is
  * written) runs them before it, and declines at CREATE when a body
  * targets the trigger's own table (the row-interleaved semantics are
  * not representable set-based). INSTEAD OF declines (no view-trigger
  * surface). Documented divergence: a BEFORE body's effects on OTHER
  * tables are not visible to the triggering statement's own
  * subqueries (set-based evaluation reads a consistent pre-state).
  *
  * Validation is CREATE-time and strict where SQLite is lazy: OLD in
  * an INSERT trigger or NEW in a DELETE trigger, RAISE(FAIL/IGNORE),
  * malformed RAISE grammar, RETURNING in a body, and non-DML body
  * verbs all fail at CREATE with a named error (SQLite parses some of
  * these and fails at first fire — fail-fast beats a landmine). Error
  * message shapes mirror SQLite where one exists ("trigger X already
  * exists", "no such table: X", "cannot use RETURNING in a trigger").
  *
  * Cascading: body DML runs through [[Upsert]]/[[Mutate]], so
  * triggers on OTHER tables fire naturally. A trigger already on the
  * firing stack is skipped — exactly `PRAGMA recursive_triggers =
  * OFF`, SQLite's default. Firing happens only on the generated-SQL
  * path (Runner/Upsert/Mutate); writes through the raw Spark API
  * bypass triggers, like any engine-external write.
  */
object Triggers {

  final case class Trig(name: String, timing: String, event: String,
                        ofCols: Seq[String], table: String,
                        when: Option[String], body: Seq[String],
                        sql: String, seq: Long)

  private final class State {
    // lowercased trigger name -> descriptor; creation order in seq
    val trigs = scala.collection.mutable.LinkedHashMap.empty[String, Trig]
    var nextSeq = 0L
    // lowercased table -> DML re-bind count (see bumpVersion); guarded
    // by its own lock, not the State's
    val versions = scala.collection.mutable.Map.empty[String, Long]
  }

  private val state = graft.SessionLocal(new State)

  /** Trigger names currently firing on this thread — re-entrant
    * firings are skipped (recursive_triggers OFF, SQLite's default). */
  private val active = new ThreadLocal[scala.collection.mutable.Set[String]] {
    override def initialValue() = scala.collection.mutable.Set.empty[String]
  }

  // --------------------------------------------------------- create

  /** Case-insensitive scan (in code) for `NEW.` / `OLD.`. */
  private def refersTo(sqlText: String, qualifier: String): Boolean =
    SqlText.keywordFollowedBy(sqlText, qualifier, '.')

  private def decline(msg: String): Nothing =
    throw new UnsupportedOperationException(msg)

  // ------------------------------------------------- RAISE() support

  /** One parsed `RAISE(kind[, 'msg'])` occurrence: [start, end) span
    * in the scanned text, the resolution kind, the message literal
    * (still quoted, as written). */
  private final case class RaiseCall(start: Int, end: Int,
                                     kind: String, msgLiteral: String)

  /** Scan `sqlText` (in code) for RAISE( calls and parse each
    * against SQLite's grammar: `RAISE(IGNORE)` or `RAISE(ABORT|
    * ROLLBACK|FAIL, 'string-literal')` — a non-literal message is a
    * syntax error in SQLite too (measured: `RAISE(ABORT, 'a'||'b')` →
    * near "||": syntax error). */
  private def scanRaise(sqlText: String): Seq[RaiseCall] = {
    def at(k: Int)(c: Char) = k < sqlText.length && sqlText.charAt(k) == c
    def next(from: Int) = SqlText.find(sqlText, from)(i =>
      keywordAt(sqlText, i, "raise") && at(skipWs(sqlText, i + 5))('('))
    val out = Seq.newBuilder[RaiseCall]
    var i = next(0)
    while (i >= 0) {
      def syntax(near: String): Nothing =
        throw new IllegalArgumentException(
          s"""near "$near": syntax error (RAISE(IGNORE) or """ +
            s"RAISE(ABORT|ROLLBACK|FAIL, 'message'))")
      def near(k: Int) =
        if (k < sqlText.length) sqlText.charAt(k).toString else "RAISE"
      var k = skipWs(sqlText, skipWs(sqlText, i + 5) + 1)
      var e = k
      while (e < sqlText.length && sqlText.charAt(e).isLetter) e += 1
      val kind = sqlText.substring(k, e).toLowerCase
      if (!Set("ignore", "abort", "rollback", "fail")(kind))
        syntax(if (kind.isEmpty) "(" else kind)
      k = skipWs(sqlText, e)
      val lit =
        if (kind == "ignore") "''"
        else {
          if (!at(k)(',')) syntax(")")
          k = skipWs(sqlText, k + 1)
          if (!at(k)('\''))
            syntax(if (k < sqlText.length)
              sqlText.substring(k, math.min(k + 8, sqlText.length)).trim
              else "RAISE")
          val litEnd = SqlText.skipOpaque(sqlText, k)
          val l = sqlText.substring(k, litEnd)
          k = skipWs(sqlText, litEnd)
          l
        }
      if (!at(k)(')')) syntax(near(k))
      out += RaiseCall(i, k + 1, kind, lit)
      i = next(k + 1)
    }
    out.result()
  }

  /** CREATE-time validation of every RAISE() in a WHEN/body fragment:
    * grammar per [[scanRaise]]; ABORT and ROLLBACK are supported (in
    * autocommit — this engine's only mode, like the reference's
    * per-statement execution — both roll back exactly the statement);
    * FAIL and IGNORE decline with named errors (their semantics
    * depend on SQLite's rowid-order row-at-a-time evaluation, which a
    * set-based batch does not have). */
  private def validateRaise(frag: String): Unit =
    scanRaise(frag).foreach { r =>
      r.kind match {
        case "fail" => decline("RAISE(FAIL) in a trigger is not " +
          "supported: FAIL keeps the changes the statement already " +
          "applied in rowid order, which has no set-based equivalent; " +
          "use RAISE(ABORT, …)")
        case "ignore" => decline("RAISE(IGNORE) in a trigger is not " +
          "supported: skipping individual rows mid-program has no " +
          "set-based equivalent; filter with WHEN or a WHERE instead")
        case _ => // abort | rollback — supported
      }
    }

  /** Fire-time rewrite: `RAISE(ABORT|ROLLBACK, 'msg')` →
    * `graft_raise('msg')` (the native expression that throws
    * [[graft.functions.GraftRaiseAbort]] when a row actually
    * evaluates it — untaken CASE branches and false WHEREs never do,
    * SQLite's row semantics). CREATE validated the grammar, so only
    * supported kinds reach here. */
  private def rewriteRaise(sqlText: String): String = {
    val calls = scanRaise(sqlText)
    if (calls.isEmpty) return sqlText
    val out = new StringBuilder
    var pos = 0
    calls.foreach { r =>
      out.append(sqlText.substring(pos, r.start))
      out.append("graft_raise(").append(r.msgLiteral).append(")")
      pos = r.end
    }
    out.append(sqlText.substring(pos))
    out.toString
  }

  /** Any trigger registered in the session at all — [[Atomic]]'s
    * snapshot gate (only trigger programs make a statement
    * multi-write). */
  def any(spark: SparkSession): Boolean = {
    val s = state(spark)
    s.synchronized(s.trigs.nonEmpty)
  }

  /** First top-level code position of any of `kws`, or -1. */
  private def topLevel(stmt: String, kws: Set[String]): Int =
    SqlText.findTop(stmt, 0)(i => kws.exists(keywordAt(stmt, i, _)))

  private def hasTopLevelFrom(stmt: String): Boolean =
    topLevel(stmt, Set("from")) >= 0

  /** Give a FROM-less SELECT body the slice as its relation: insert
    * `FROM rel` before the top-level WHERE/GROUP/HAVING/ORDER/LIMIT
    * (or append). This keeps the projection ABOVE the filter — a
    * `SELECT RAISE(…) WHERE cond` evaluates the raise only for rows
    * passing cond, SQLite's row-at-a-time order. (The LATERAL wrap
    * used for bodies with their own FROM cannot carry a raise: Spark
    * decorrelates the subquery into an uncorrelated projection that
    * would evaluate the raise before the correlation filter.) */
  private def injectFrom(stmt: String, rel: String): String =
    topLevel(stmt, Set("where", "group", "having", "order", "limit")) match {
      case -1 => s"$stmt FROM $rel"
      case pos => stmt.substring(0, pos) + s"FROM $rel " + stmt.substring(pos)
    }

  /** Does any RAISE() occurrence sit inside a `(SELECT …)` group? A
    * subquery's projection evaluates independently of the outer row's
    * filters here (decorrelation), so a raise there could fire for
    * rows SQLite would never reach — declined at CREATE. Raises under
    * non-subquery parens (iif(…), CASE arms, function args) stay
    * allowed: those evaluate lazily in-row. */
  private def raiseInSubquery(stmt: String): Boolean = {
    var stack = List.empty[Boolean] // per open paren: is a subquery?
    SqlText.find(stmt, 0) { i =>
      stmt.charAt(i) match {
        case '(' =>
          stack ::= keywordAt(stmt, skipWs(stmt, i + 1), "select"); false
        case ')' => stack = stack.drop(1); false
        case _ =>
          keywordAt(stmt, i, "raise") && stack.contains(true) && {
            val j = skipWs(stmt, i + 5)
            j < stmt.length && stmt.charAt(j) == '('
          }
      }
    } >= 0
  }

  def create(spark: SparkSession, t: SqlDml.CreateTrigger): DataFrame = {
    val s = state(spark)
    s.synchronized {
      if (s.trigs.contains(t.name.toLowerCase)) {
        if (t.ifNotExists) return spark.emptyDataFrame
        throw new IllegalArgumentException(s"trigger ${t.name} already exists")
      }
    }
    // the target table must exist (SQLite checks at CREATE)
    try spark.table(Ddl.quote(t.table))
    catch { case e: Exception =>
      throw new IllegalArgumentException(s"no such table: ${t.table}", e) }
    // SQLite's kind rules (measured error texts): INSTEAD OF targets
    // views only; BEFORE/AFTER target tables only
    val targetIsView = SessionViews.isView(spark, t.table)
    if (t.timing == "instead of" && !targetIsView)
      throw new IllegalArgumentException(
        s"cannot create INSTEAD OF trigger on table: ${t.table}")
    if (t.timing != "instead of" && targetIsView)
      throw new IllegalArgumentException(
        s"cannot create ${if (t.timing.isEmpty) "BEFORE"
          else t.timing.toUpperCase} trigger on view: ${t.table}")
    (t.when.toSeq ++ t.body).foreach { frag =>
      validateRaise(frag)
      if (t.event == "insert" && refersTo(frag, "old"))
        decline("OLD is not valid in an INSERT trigger")
      if (t.event == "delete" && refersTo(frag, "new"))
        decline("NEW is not valid in a DELETE trigger")
    }
    // a WHEN clause evaluates per-row as the slice's WHERE, so a
    // top-level raise there fires in SQLite's order — but a raise
    // inside a WHEN subquery hits the same decorrelation hazard as the
    // SELECT-body case ([[raiseInSubquery]])
    t.when.foreach { w =>
      if (raiseInSubquery(w))
        decline("RAISE() inside a subquery of a trigger WHEN clause " +
          "is not supported; raise it at the top level of WHEN instead")
    }
    // RAISE is only proven to evaluate AFTER the row filter on the
    // FROM-less SELECT body path ([[injectFrom]]). The DML bodies run
    // through LATERAL / EXISTS / join rewrites that Spark decorrelates,
    // which can evaluate a raise before the correlation filter —
    // aborting statements whose rows all pass the guard. Decline
    // VISIBLY at CREATE rather than abort wrongly at fire.
    def declineDmlRaise(b: String, verb: String): Unit =
      if (scanRaise(b).nonEmpty)
        decline(s"RAISE() in a trigger $verb body is not supported " +
          "(the set-based rewrite cannot pin SQLite's per-row " +
          "evaluation order there); use a separate FROM-less SELECT " +
          "body (SELECT RAISE(…) WHERE …) before it")
    t.body.foreach { b =>
      SqlDml.detect(b) match {
        case Some(u: SqlDml.Upsert) =>
          if (u.returning.isDefined)
            decline("cannot use RETURNING in a trigger")
          declineDmlRaise(b, "INSERT")
        case Some(u: SqlDml.Update) =>
          if (u.returning.isDefined)
            decline("cannot use RETURNING in a trigger")
          declineDmlRaise(b, "UPDATE")
          if (u.limit.isDefined)
            decline("trigger UPDATE bodies with LIMIT are not supported")
          // the slice joins the body's FROM list WITHOUT LATERAL
          // scope, so NEW/OLD cannot resolve inside FROM subqueries —
          // fail at CREATE, not mid-statement at first fire
          u.from.foreach { f =>
            if (refersTo(f, "new") || refersTo(f, "old"))
              decline("NEW/OLD references inside a trigger UPDATE " +
                "body's FROM list are not supported; reference them " +
                "in SET or WHERE instead")
          }
          if (!refersTo(b, "new") && !refersTo(b, "old"))
            decline("a trigger UPDATE body with no NEW/OLD reference " +
              "repeats per affected row, which has no set-based " +
              "equivalent; correlate the body with NEW/OLD")
        case Some(d: SqlDml.Delete) =>
          if (d.returning.isDefined)
            decline("cannot use RETURNING in a trigger")
          if (d.limit.isDefined)
            decline("trigger DELETE bodies with LIMIT are not supported")
          declineDmlRaise(b, "DELETE")
        case None if b.trim.toLowerCase.startsWith("select") => // run+discard
          // a raise must evaluate AFTER the body's own row filter —
          // guaranteed only on the FROM-less trigger-row scope (the
          // SQLite idiom); see [[injectFrom]] / [[raiseInSubquery]]
          if (scanRaise(b).nonEmpty && hasTopLevelFrom(b))
            decline("RAISE() in a SELECT body with its own FROM is " +
              "not supported; use the FROM-less form " +
              "(SELECT RAISE(…) WHERE …), whose scope is the trigger row")
          if (raiseInSubquery(b))
            decline("RAISE() inside a subquery of a trigger body is " +
              "not supported; raise it from the body's own select " +
              "list or WHERE instead")
        case other =>
          val verb = b.trim.split("\\s+").headOption.getOrElse("").toUpperCase
          decline(s"trigger bodies may contain INSERT/UPDATE/DELETE/" +
            s"SELECT statements only; got $verb")
      }
      if ((t.timing == "before" || t.timing.isEmpty) &&
          bodyTarget(b).exists(_.equalsIgnoreCase(t.table)))
        decline("a BEFORE trigger whose body modifies its own table is " +
          "not supported set-based; use AFTER")
    }
    s.synchronized {
      val seq = s.nextSeq; s.nextSeq += 1
      s.trigs(t.name.toLowerCase) = Trig(t.name, t.timing, t.event,
        t.ofCols, t.table, t.when, t.body, t.sql, seq)
    }
    Pragma.bumpSchemaVersion(spark)
    spark.emptyDataFrame
  }

  private def bodyTarget(b: String): Option[String] =
    SqlDml.detect(b) match {
      case Some(u: SqlDml.Upsert) => Some(u.table)
      case Some(u: SqlDml.Update) => Some(u.table)
      case Some(d: SqlDml.Delete) => Some(d.table)
      case _ => None
    }

  def dropTrigger(spark: SparkSession, d: SqlDml.DropTrigger): DataFrame = {
    val s = state(spark)
    val removed = s.synchronized {
      val r = s.trigs.remove(d.name.toLowerCase).isDefined
      if (!r && !d.ifExists)
        throw new IllegalArgumentException(s"no such trigger: ${d.name}")
      r
    }
    if (removed) Pragma.bumpSchemaVersion(spark)
    spark.emptyDataFrame
  }

  /** DROP TABLE drops the table's triggers (SQLite's rule). */
  def dropForTable(spark: SparkSession, table: String): Unit = {
    val s = state(spark)
    s.synchronized {
      s.trigs.filterInPlace((_, t) => !t.table.equalsIgnoreCase(table))
    }
  }

  /** Lexer-aware, POSITION-aware rename of a table reference: an
    * identifier equal to `from` (bare or `"quoted"`/`` `quoted` ``)
    * becomes `to` only in table positions — right after INTO / UPDATE
    * / FROM / JOIN, or used as a dot-qualifier (`from.col`). Column
    * references that merely share the name are untouched (a bare SET
    * target, a select-list item). String literals are untouched. The
    * subset's body statements reference tables only in these shapes;
    * a reference this scan misses (e.g. the second entry of a
    * comma-separated FROM list) fails VISIBLY at next fire — never a
    * silent wrong-table write. */
  private val tablePosKeywords = Set("into", "update", "from", "join")

  private def renameIdent(sqlText: String, from: String, to: String): String = {
    val out = new StringBuilder
    var i = 0
    var prevWord = "" // last identifier/keyword; punctuation resets it
    def dotFollows(k: Int): Boolean = {
      val j = skipWs(sqlText, k)
      j < sqlText.length && sqlText.charAt(j) == '.'
    }
    while (i < sqlText.length) {
      val c = sqlText.charAt(i)
      val e = SqlText.skipOpaque(sqlText, i)
      if (e > i) {
        val inner =
          if (c == '"' || c == '`') sqlText.substring(i + 1, (e - 1) max (i + 1))
          else "" // a literal or comment
        if (inner.equalsIgnoreCase(from) && !inner.contains(c) &&
            (tablePosKeywords(prevWord) || dotFollows(e)))
          out.append(c).append(to).append(c)
        else out.append(sqlText.substring(i, e))
        prevWord = inner.toLowerCase
        i = e
      } else if (c.isLetter || c == '_') {
        var e = i
        while (e < sqlText.length && (sqlText.charAt(e).isLetterOrDigit ||
               sqlText.charAt(e) == '_')) e += 1
        val w = sqlText.substring(i, e)
        val afterDot = out.nonEmpty && out.last == '.'
        if (w.equalsIgnoreCase(from) && !afterDot &&
            (tablePosKeywords(prevWord) || dotFollows(e)))
          out.append(to)
        else out.append(w)
        prevWord = w.toLowerCase
        i = e
      } else {
        out.append(c)
        if (!c.isWhitespace) prevWord = ""
        i += 1
      }
    }
    out.toString
  }

  /** Rewrite (or just detect, when `to` is None) `qual.col`
    * references — the shapes a trigger program uses for the firing
    * table's columns. Returns (rewritten, found). */
  private def scanQual(sqlText: String, qual: String, colName: String,
                       to: Option[String]): (String, Boolean) = {
    var found = false
    val out = SqlText.rewrite(sqlText) { i =>
      val dot = skipWs(sqlText, i + qual.length)
      if (!keywordAt(sqlText, i, qual) || dot >= sqlText.length ||
          sqlText.charAt(dot) != '.') None
      else {
        val k = skipWs(sqlText, dot + 1)
        val quoted = SqlText.skipOpaque(sqlText, k)
        var e = k
        while (e < sqlText.length && (sqlText.charAt(e).isLetterOrDigit ||
               sqlText.charAt(e) == '_')) e += 1
        val (refEnd, ref) =
          if (quoted > k) (quoted, sqlText.substring(k + 1, (quoted - 1) max (k + 1)))
          else (e, sqlText.substring(k, e))
        if (ref.isEmpty || !ref.equalsIgnoreCase(colName)) None
        else {
          found = true
          Some((sqlText.substring(i, k) + to.getOrElse(ref), refEnd))
        }
      }
    }
    (out, found)
  }

  private def refersToCol(t: Trig, colName: String): Boolean =
    t.ofCols.exists(_.equalsIgnoreCase(colName)) ||
      (t.when.toSeq ++ t.body).exists { frag =>
        scanQual(frag, "new", colName, None)._2 ||
          scanQual(frag, "old", colName, None)._2
      }

  /** The sqlite_master `sql` text, regenerated after an ALTER rewrote
    * pieces of the trigger program (SQLite rewrites its stored text
    * too; this engine regenerates a canonical equivalent). */
  private def canonicalSql(t: Trig): String = {
    val timing = if (t.timing.isEmpty) "" else t.timing.toUpperCase + " "
    val of = if (t.ofCols.isEmpty) "" else " OF " + t.ofCols.mkString(", ")
    s"CREATE TRIGGER ${t.name} $timing${t.event.toUpperCase}$of " +
      s"ON ${t.table}" + t.when.map(w => s" WHEN $w").getOrElse("") +
      " BEGIN " + t.body.map(_ + ";").mkString(" ") + " END"
  }

  /** ALTER TABLE … RENAME TO: every trigger program follows — the ON
    * table AND body/WHEN references to the renamed table (SQLite
    * 3.25+ rewrites trigger bodies on rename). */
  def renameTable(spark: SparkSession, from: String, to: String): Unit = {
    val s = state(spark)
    s.synchronized {
      s.trigs.mapValuesInPlace { (_, t) =>
        val t2 = t.copy(
          table = if (t.table.equalsIgnoreCase(from)) to else t.table,
          when = t.when.map(renameIdent(_, from, to)),
          body = t.body.map(renameIdent(_, from, to)))
        if (t2 == t) t else t2.copy(sql = canonicalSql(t2))
      }
    }
  }

  /** ALTER TABLE … RENAME COLUMN: `UPDATE OF` lists and `NEW.c` /
    * `OLD.c` references in the table's own triggers follow (SQLite
    * rewrites trigger programs on column rename). A body's bare
    * references to another table's renamed column are NOT rewritten —
    * they fail visibly at next fire, never silently. */
  def renameColumn(spark: SparkSession, table: String,
                   from: String, to: String): Unit = {
    val s = state(spark)
    s.synchronized {
      s.trigs.mapValuesInPlace { (_, t) =>
        if (!t.table.equalsIgnoreCase(table)) t
        else {
          val t2 = t.copy(
            ofCols = t.ofCols.map(c =>
              if (c.equalsIgnoreCase(from)) to.toLowerCase else c),
            when = t.when.map(w =>
              scanQual(scanQual(w, "new", from, Some(to))._1,
                "old", from, Some(to))._1),
            body = t.body.map(b =>
              scanQual(scanQual(b, "new", from, Some(to))._1,
                "old", from, Some(to))._1))
          if (t2 == t) t else t2.copy(sql = canonicalSql(t2))
        }
      }
    }
  }

  /** A body statement that names the column of `table` structurally —
    * an INSERT column list or an UPDATE SET target (bare references
    * inside WHERE/expression text are not resolvable without full
    * analysis; those fail VISIBLY at next fire instead). */
  private def bodyNamesColOf(b: String, table: String,
                             colName: String): Boolean =
    SqlDml.detect(b) match {
      case Some(u: SqlDml.Upsert) if u.table.equalsIgnoreCase(table) =>
        u.cols.exists(_.equalsIgnoreCase(colName))
      case Some(u: SqlDml.Update) if u.table.equalsIgnoreCase(table) =>
        u.assigns.exists(_._1.equalsIgnoreCase(colName))
      case _ => false
    }

  /** ALTER TABLE … DROP COLUMN must not orphan a trigger that
    * references the column (SQLite errors the ALTER): OF lists and
    * NEW./OLD. references of the table's own triggers, plus ANY
    * trigger whose body DML targets the table naming the column. */
  def guardDropColumn(spark: SparkSession, table: String,
                      colName: String): Unit = {
    val s = state(spark)
    s.synchronized {
      s.trigs.values.find(t =>
        (t.table.equalsIgnoreCase(table) && refersToCol(t, colName)) ||
          t.body.exists(bodyNamesColOf(_, table, colName)))
        .foreach(t => throw new IllegalArgumentException(
          s"cannot drop column $colName: referenced by trigger " +
            s"${t.name} (SQLite refuses this ALTER too); DROP TRIGGER " +
            s"${t.name} first"))
    }
  }

  /** sqlite_master rows: (name, tbl_name, sql) per trigger. */
  def masterRows(spark: SparkSession): Seq[(String, String, String)] = {
    val s = state(spark)
    s.synchronized {
      s.trigs.values.toSeq.sortBy(_.seq).map(t => (t.name, t.table, t.sql))
    }
  }

  // ----------------------------------------------------------- fire

  private def matching(spark: SparkSession, table: String, event: String,
                       setCols: Seq[String], timing: String): Seq[Trig] = {
    val s = state(spark)
    val all = s.synchronized { s.trigs.values.toSeq.sortBy(_.seq) }
    val setLc = setCols.map(_.toLowerCase).toSet
    all.filter { t =>
      t.table.equalsIgnoreCase(table) && t.event == event &&
        (t.ofCols.isEmpty || t.ofCols.exists(setLc)) &&
        (timing match {
          case "after"   => t.timing == "after"
          case "instead" => t.timing == "instead of"
          case _         => t.timing == "before" || t.timing.isEmpty
        }) &&
        // a trigger already on the firing stack is skipped under
        // recursive_triggers OFF (SQLite's default); ON lets it
        // re-fire level-by-level over the affected slices — measured
        // identical to SQLite's row-at-a-time recursion (each level's
        // slice is exactly the rows the previous level's bodies wrote)
        (Pragma.recursiveTriggers(spark) ||
          !active.get().contains(t.name.toLowerCase))
    }
  }

  /** Any trigger (either timing) that the statement would fire. */
  def anyFor(spark: SparkSession, table: String, event: String,
             setCols: Seq[String] = Nil): Boolean =
    matching(spark, table, event, setCols, "after").nonEmpty ||
      matching(spark, table, event, setCols, "before").nonEmpty

  /** Fire the matching triggers of one timing over the affected-row
    * slice (struct columns `old`/`new` as the event provides). The
    * caller builds `slice` against the PRE-statement binding; lazy
    * plans stay valid because every rebind is copy-on-write. No-op
    * when nothing matches or the slice is empty (SQLite fires
    * per-row: zero rows, zero firings). */
  // --------------------- DML-rebind versioning (BEFORE-cascade guard)

  /** Per-session count of copy-on-write re-binds per table (lowercase
    * name). [[Mutate]]/[[Upsert]] bump it at every DML re-bind;
    * [[fireBefore]] uses it to detect a BEFORE trigger program that
    * cascaded a write back into the subject table THROUGH another
    * table's triggers — the CREATE-time direct-target check cannot see
    * that chain (the closing trigger may be registered after the
    * BEFORE one). */
  private[exec] def bumpVersion(spark: SparkSession, table: String): Unit = {
    val m = state(spark).versions
    m.synchronized {
      m(table.toLowerCase) = m.getOrElse(table.toLowerCase, 0L) + 1L
    }
  }

  private def versionOf(spark: SparkSession, table: String): Long = {
    val m = state(spark).versions
    m.synchronized(m.getOrElse(table.toLowerCase, 0L))
  }

  /** Fire the BEFORE-timing triggers, then verify no body cascaded a
    * write back into the subject table: the caller's merged plan was
    * built against the PRE-statement binding, so its re-bind would
    * silently overwrite the cascaded write (lost update). SQLite
    * interleaves these row-at-a-time; the set-based engine refuses
    * VISIBLY instead — [[Atomic]] rolls the statement back whole. */
  def fireBefore(spark: SparkSession, table: String, event: String,
                 setCols: Seq[String], slice: => DataFrame): Unit = {
    val v0 = versionOf(spark, table)
    fire(spark, table, event, setCols, "before", slice)
    if (versionOf(spark, table) != v0)
      throw new UnsupportedOperationException(
        s"a BEFORE trigger program on $table cascaded a write back " +
          s"into $table through another table's triggers; the " +
          "statement's set-based rewrite would overwrite that write — " +
          "use AFTER timing for the cascading trigger chain")
  }

  /** Per-thread firing depth — SQLite bounds trigger recursion at
    * SQLITE_MAX_TRIGGER_DEPTH = 1000 and raises its own error text. */
  private val fireDepth = new ThreadLocal[Integer] {
    override def initialValue(): Integer = 0
  }

  def fire(spark: SparkSession, table: String, event: String,
           setCols: Seq[String], timing: String, slice: => DataFrame): Unit = {
    val trigs = matching(spark, table, event, setCols, timing)
    if (trigs.isEmpty) return
    val d = fireDepth.get + 1
    if (d > 1000)
      throw new IllegalArgumentException(
        "too many levels of trigger recursion")
    fireDepth.set(d)
    try fire0(spark, trigs, slice)
    finally fireDepth.set(d - 1)
  }

  private def fire0(spark: SparkSession, trigs: Seq[Trig],
                    slice: => DataFrame): Unit = {
    // a caller that fires both timings persists the slice once around
    // both calls; only persist (and unpersist) here when it didn't
    val df = slice
    val prePersisted =
      df.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    if (!prePersisted) df.persist()
    try {
      if (df.isEmpty) return
      // body DML counts toward total_changes() only, and leaves
      // last_insert_rowid() untouched — SQLite's trigger accounting
      Publish.withView(df, "trig")(view => SessionChanges.inTriggerBody {
        trigs.foreach { t =>
          // WHEN may contain RAISE too (measured: SQLite accepts it
          // and fires it while evaluating the clause) — rewritten the
          // same way as body occurrences
          val rel = t.when match {
            case Some(w) => s"(SELECT * FROM $view WHERE ${rewriteRaise(w)})"
            case None    => s"$view"
          }
          active.get() += t.name.toLowerCase
          try t.body.foreach(b => runBody(spark, rel, rewriteRaise(b)))
          finally active.get() -= t.name.toLowerCase
        }
      })
    } finally if (!prePersisted) df.unpersist()
  }

  private def runBody(spark: SparkSession, rel: String, stmt: String): Unit =
    SqlDml.detect(stmt) match {
      case Some(u: SqlDml.Upsert) if u.defaultValues =>
        // `INSERT INTO t DEFAULT VALUES`: one all-default row per
        // slice row (SQLite's per-row body) — the source stays a
        // no-columns-bound projection, fanned out over the slice
        Upsert.run(spark, u.copy(sourceSql =
          s"SELECT true AS __graft_default_values FROM $rel graft_trig_row"))
      case Some(u: SqlDml.Upsert) =>
        // parseUpsert re-wraps a VALUES source as `SELECT * FROM
        // (VALUES …)`; Spark cannot correlate an outer reference into
        // an inline table, so unwrap and emit per-row SELECTs instead
        val src0 = u.sourceSql.trim
        val wrappedValues =
          "(?is)^\\s*SELECT \\* FROM \\((values\\b.*)\\)\\s*$".r
        val src = src0 match {
          case wrappedValues(inner) => valuesToSelect(inner.trim, rel)
          case _ if src0.toLowerCase.startsWith("values") =>
            valuesToSelect(src0, rel)
          case _ =>
            s"SELECT graft_body.* FROM $rel graft_trig_row, " +
              s"LATERAL ($src0) graft_body"
        }
        Upsert.run(spark, u.copy(sourceSql = src))
      case Some(u: SqlDml.Update) =>
        // the slice joins the body's own FROM list (if any) — the
        // trigger scope just adds NEW/OLD to the body's namespace
        val from = u.from match {
          case Some(f) => s"$f, $rel graft_trig_row"
          case None    => s"$rel graft_trig_row"
        }
        Mutate.runUpdate(spark, u.copy(from = Some(from)))
      case Some(d: SqlDml.Delete) =>
        val wrapped = d.where.map(w =>
          s"EXISTS (SELECT 1 FROM $rel graft_trig_row WHERE $w)")
        Mutate.runDelete(spark, d.copy(where = wrapped))
      case _ => // validated SELECT body: execute per slice row, discard
        // toRdd (not count()): count() lets the optimizer prune the
        // select list entirely, and a pruned `SELECT RAISE(…) WHERE
        // cond` would never evaluate the raise — toRdd produces every
        // output column, so the projection runs per row like SQLite.
        // FROM-less bodies take the slice as their own FROM (raise
        // ordering — see [[injectFrom]]); bodies with a FROM keep the
        // LATERAL per-row correlation.
        val q =
          if (hasTopLevelFrom(stmt))
            s"SELECT graft_body.* FROM $rel graft_trig_row, " +
              s"LATERAL ($stmt) graft_body"
          else injectFrom(stmt, s"$rel graft_trig_row")
        spark.sql(q).queryExecution.toRdd.count()
    }

  // ------------------------------------------- INSTEAD OF (view DML)

  private def viewDmlGate(spark: SparkSession, table: String, event: String,
                          setCols: Seq[String],
                          returning: Option[String]): Option[Seq[Trig]] = {
    if (!SessionViews.isView(spark, table)) return None
    if (returning.isDefined)
      throw new UnsupportedOperationException(
        s"RETURNING on a view is not supported (documented divergence: " +
          s"SQLite evaluates it over the would-be rows)")
    val trigs = matching(spark, table, event, setCols, "instead")
    if (trigs.isEmpty)
      throw new IllegalArgumentException(
        s"cannot modify $table because it is a view")
    Some(trigs)
  }

  /** DML against a VIEW (SQLite, measured): refused with "cannot
    * modify X because it is a view" unless an INSTEAD OF trigger for
    * the event exists — then the statement's ONLY effect is the
    * trigger program over the would-be-affected slice, and changes()
    * reports 0. Callers ([[Upsert]]/[[Mutate]]) return the produced
    * frame instead of writing. */
  def interceptViewInsert(spark: SparkSession,
                          stmt: SqlDml.Upsert): Option[DataFrame] =
    viewDmlGate(spark, stmt.table, "insert", Nil, stmt.returning).map { _ =>
      import org.apache.spark.sql.functions.{col, lit, struct}
      val schema = spark.table(Ddl.quote(stmt.table)).schema
      // OR REPLACE / ON CONFLICT resolve against constraints the view
      // does not have — every attempted row fires, SQLite's behavior
      val aligned =
        if (stmt.defaultValues)
          spark.sql(stmt.sourceSql).select(schema.fields.map(f =>
            lit(null).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
        else {
          val src = spark.sql(stmt.sourceSql)
          val cols =
            if (stmt.cols.nonEmpty) stmt.cols else schema.fieldNames.toSeq
          if (cols.length != src.columns.length)
            throw new IllegalArgumentException(
              s"INSERT INTO ${stmt.table}: ${cols.length} target columns " +
                s"but the source produces ${src.columns.length}")
          val known = schema.fieldNames.map(_.toLowerCase).toSet
          val unknown = cols.map(_.toLowerCase).filterNot(known)
          if (unknown.nonEmpty)
            throw new IllegalArgumentException(
              s"INSERT INTO ${stmt.table}: no such column(s) " +
                unknown.mkString(", "))
          val named = src.toDF(cols: _*)
          val present = cols.map(_.toLowerCase).toSet
          named.select(schema.fields.map(f =>
            if (present(f.name.toLowerCase))
              col(f.name).cast(f.dataType).as(f.name)
            else lit(null).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
        }
      val slice = aligned.select(
        struct(aligned.columns.map(col).toIndexedSeq: _*).as("new"))
      SessionChanges.record(spark, () => 0L) // measured: changes() = 0
      fire(spark, stmt.table, "insert", Nil, "instead", slice)
      spark.emptyDataFrame
    }

  def interceptViewUpdate(spark: SparkSession,
                          u: SqlDml.Update): Option[DataFrame] = {
    val setCols = u.assigns.map(_._1)
    viewDmlGate(spark, u.table, "update", setCols, u.returning).map { _ =>
      if (u.from.isDefined || u.limit.isDefined)
        throw new UnsupportedOperationException(
          "UPDATE … FROM/LIMIT on a view is not supported")
      val base = spark.table(Ddl.quote(u.table))
      val known = base.schema.fields.map(_.name.toLowerCase).toSet
      val unknown = setCols.filterNot(c => known(c.toLowerCase))
      if (unknown.nonEmpty)
        throw new IllegalArgumentException(
          s"UPDATE ${u.table}: no such column(s) ${unknown.mkString(", ")}")
      val assigns = u.assigns.map { case (c, e) => c.toLowerCase -> e }.toMap
      val cond = u.where.map(w => s"coalesce(($w), false)").getOrElse("true")
      def esc(nm: String) = nm.replace("'", "''")
      val oldS = base.schema.fields
        .map(f => s"'${esc(f.name)}', ${Ddl.quote(f.name)}").mkString(", ")
      val newS = base.schema.fields.map { f =>
        val v = assigns.get(f.name.toLowerCase) match {
          case Some(e) => s"CAST(($e) AS ${f.dataType.sql})"
          case None    => Ddl.quote(f.name)
        }
        s"'${esc(f.name)}', $v"
      }.mkString(", ")
      val slice = spark.sql((s"${u.withPrefix} SELECT " +
        s"named_struct($oldS) AS old, named_struct($newS) AS new " +
        s"FROM ${Ddl.quote(u.table)} WHERE $cond").trim)
      SessionChanges.record(spark, () => 0L)
      fire(spark, u.table, "update", setCols, "instead", slice)
      spark.emptyDataFrame
    }
  }

  def interceptViewDelete(spark: SparkSession,
                          d: SqlDml.Delete): Option[DataFrame] =
    viewDmlGate(spark, d.table, "delete", Nil, d.returning).map { _ =>
      if (d.limit.isDefined)
        throw new UnsupportedOperationException(
          "DELETE … LIMIT on a view is not supported")
      val base = spark.table(Ddl.quote(d.table))
      val cond = d.where.map(w => s"coalesce(($w), false)").getOrElse("true")
      def esc(nm: String) = nm.replace("'", "''")
      val oldS = base.schema.fields
        .map(f => s"'${esc(f.name)}', ${Ddl.quote(f.name)}").mkString(", ")
      val slice = spark.sql((s"${d.withPrefix} SELECT " +
        s"named_struct($oldS) AS old FROM ${Ddl.quote(d.table)} " +
        s"WHERE $cond").trim)
      SessionChanges.record(spark, () => 0L)
      fire(spark, d.table, "delete", Nil, "instead", slice)
      spark.emptyDataFrame
    }

  /** `VALUES (a,b),(c,d)` → `SELECT a, b FROM rel UNION ALL SELECT
    * c, d FROM rel` — each VALUES row inserts once per slice row,
    * SQLite's per-row body semantics. Quote/paren-aware row split. */
  private def valuesToSelect(values: String, rel: String): String = {
    var i = "values".length
    val rows = Seq.newBuilder[String]
    while (i < values.length) {
      values.charAt(i) match {
        case '(' =>
          val e = SqlText.closeParen(values, i)
          if (e < 0) throw new IllegalArgumentException(
            s"malformed VALUES in trigger body: $values")
          rows += values.substring(i + 1, e)
          i = e + 1
        case c if c.isWhitespace || c == ',' => i += 1
        case _ => throw new IllegalArgumentException(
          s"malformed VALUES in trigger body: $values")
      }
    }
    rows.result().map(r => s"SELECT $r FROM $rel graft_trig_row")
      .mkString(" UNION ALL ")
  }
}
