package graft.exec

import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import graft.ingest.IngestResult
import graft.llm.LlmCallback
import graft.plans.StatementEvalMode
import graft.text2sql.{SqlDml, SqlText, Text2Sql}

/** Execution + result sampling (reference README.md:49, test.py:50-55):
  * generated SQL runs verbatim through spark.sql against the
  * hash-named temp views, and results sample to JSON rows.
  *
  * DML routing: the reference hands ANY generated statement to SQLite
  * (pandasqlite.py:245-247), including DML. Here `INSERT [OR REPLACE]
  * INTO` rewrites onto the copy-on-write upsert ([[Upsert]]) and
  * `UPDATE`/`DELETE` onto copy-on-write row rewrites ([[Mutate]]); the
  * remaining verbs raise a targeted read-only-engine error instead of
  * a generic analysis failure.
  */
object Runner {
  private val noopRe =
    ("""(?s)(begin|commit|end|""" +
      """rollback(\s+transaction)?(\s+to(\s+savepoint)?\s+\w+)?|""" +
      """savepoint\s+\w+|""" +
      """release(\s+savepoint)?\s+\w+|vacuum|analyze(\s+[\w.`"']+)?|""" +
      """reindex(\s+[\w.`"']+)?)(\s+(deferred|immediate|exclusive|transaction))*""").r

  def runSql(spark: SparkSession, sql: String): DataFrame = {
    // the generated-SQL path needs the SQLite-dialect native functions
    // (the translator emits sqlite_typeof; verbatim SQLite-isms like
    // iif/glob resolve through them), which only GraftExtensions brings
    graft.plans.GraftExtensions.require(spark)
    // the reference's execution path (pd.read_sql → sqlite3
    // cursor.execute, reference test.py:50) accepts ONE statement —
    // a multi-statement script raises SQLite's "You can only execute
    // one statement at a time", so the same targeted error beats a
    // generic parse failure. The statement starts past its leading
    // comments and ends at its first top-level `;`; text after that
    // `;` that is only whitespace and comments is no second statement.
    // CREATE TRIGGER is exempt (its BEGIN…END body holds `;` legally,
    // as sqlite3_complete knows) so it reaches its own targeted decline.
    val trimmed = sql.trim
    val whole = trimmed.substring(SqlText.skipWs(trimmed, 0))
    val isTrigger =
      whole.toLowerCase.matches("(?s)create\\s+(temp\\w*\\s+)?trigger\\b.*")
    val semi =
      if (isTrigger) -1 else SqlText.find(whole, 0)(whole.charAt(_) == ';')
    if (semi >= 0 && SqlText.skipWs(whole, semi + 1) < whole.length)
      throw new UnsupportedOperationException(
        "multi-statement scripts are not supported — one statement " +
          "at a time (SQLite's own execute() rule); run each " +
          "statement separately")
    val stmt = if (semi >= 0) whole.substring(0, semi) else whole
    // the session statements below route on their code alone: SQLite
    // reads `PRAGMA foreign_keys = 1 -- on` as the value 1
    val routed = SqlText.stripComments(stmt).trim
    val head = routed.toLowerCase
    // SQLite introspection first: bare PRAGMA statements execute
    // directly; pragma_table_info('t') table-valued calls rewrite to
    // on-demand views; any sqlite_master reference (re)builds the
    // catalog view so schema questions keep working ([[Pragma]])
    if (head.startsWith("pragma"))
      return Pragma.run(spark, routed)
    // SQLite session statements a model wraps around reads: BEGIN /
    // COMMIT / ROLLBACK / SAVEPOINT / RELEASE are semantic no-ops on a
    // read-only engine (SQLite executes them as such around SELECTs),
    // as are VACUUM / ANALYZE / REINDEX (storage maintenance with no
    // lake counterpart — results are unaffected). ATTACH/DETACH would
    // CHANGE the visible data surface, so they fail targeted.
    if (noopRe.pattern.matcher(head).matches()) {
      // VACUUM/ANALYZE/REINDEX are file writes in SQLite — under
      // PRAGMA query_only they raise the readonly error (measured)
      // even though they are no-ops here; BEGIN/COMMIT/… stay fine
      if (Pragma.queryOnly(spark) &&
          (head.startsWith("vacuum") || head.startsWith("analyze") ||
           head.startsWith("reindex")))
        throw new UnsupportedOperationException(
          "attempt to write a readonly database (PRAGMA query_only is " +
            "on; PRAGMA query_only = 0 to re-enable writes)")
      return spark.emptyDataFrame
    }
    if (head.startsWith("attach") || head.startsWith("detach"))
      throw new UnsupportedOperationException(
        "ATTACH/DETACH are not supported: graft's data surface comes " +
          "from ingestion, not database files. Ingest the other " +
          "dataset instead.")
    // SQLite's EXPLAIN QUERY PLAN → Spark's EXPLAIN (different report
    // format, same intent); bare EXPLAIN is already valid Spark
    if (head.startsWith("explain query plan"))
      return spark.sql("EXPLAIN " + routed.drop("explain query plan".length))
    val prepared0 = Pragma.rewriteTvf(spark, stmt)
    if (Pragma.referencesMaster(prepared0)) Pragma.registerSqliteMaster(spark)
    if (Pragma.referencesSequence(prepared0))
      Pragma.registerSqliteSequence(spark)
    // SQLite rowid surface: lazily materialize `rowid` on referenced
    // session tables, normalize `_rowid_`/`oid`, and expand `*` so the
    // column stays hidden exactly where SQLite hides it ([[Rowid]])
    val prepared = Rowid.prepare(spark, prepared0)
    // RAISE() is legal only inside a trigger program (the one place
    // the engine rewrites it to its executable form) — SQLite's own
    // refusal text for every other statement
    if (!isTrigger && SqlText.keywordFollowedBy(prepared, "raise", '('))
      throw new IllegalArgumentException(
        "RAISE() may only be used within a trigger-program")
    // SQLite EVALUATION semantics for generated SQL: under Spark 4's
    // default ANSI mode, `1/0` and an unparseable CAST are whole-query
    // RUNTIME ERRORS — a model-emitted ratio with one zero denominator
    // in one group would crash the entire answer, where SQLite (the
    // dialect this SQL is declared in, and what the reference's engine
    // executes) yields NULL for that row. Non-ANSI Spark matches the
    // NULL behavior, so the statement is analyzed in that mode
    // (plans.StatementEvalMode, a conf scope of this thread alone; other
    // threads of the session keep ANSI): the eager analysis bakes each
    // expression's eval mode, so the (lazy) result keeps it.
    StatementEvalMode.legacy(spark)(statement(spark, prepared))
  }

  /** Routes one prepared statement: DML, session DDL and triggers to
    * their executors, anything else to `spark.sql`. */
  private def statement(spark: SparkSession, prepared: String): DataFrame =
    SqlDml.detect(prepared) match {
      // `PRAGMA query_only = 1` (enforced, SQLite's own error text):
      // every detected statement class except the parse-decline is a
      // write — DML, session DDL, triggers. Unsupported keeps its own
      // targeted error (SQLite reports the parse failure first too).
      case Some(stmt) if Pragma.queryOnly(spark) &&
          !stmt.isInstanceOf[SqlDml.Unsupported] =>
        throw new UnsupportedOperationException(
          "attempt to write a readonly database (PRAGMA query_only is " +
            "on; PRAGMA query_only = 0 to re-enable writes)")
      case Some(u: SqlDml.Upsert) => Upsert.run(spark, u)
      case Some(m: SqlDml.Update) => Mutate.runUpdate(spark, m)
      case Some(m: SqlDml.Delete) => Mutate.runDelete(spark, m)
      case Some(v: SqlDml.CreateView) => Ddl.createView(spark, v)
      case Some(t: SqlDml.CreateTableAs) => Ddl.createTableAs(spark, t)
      case Some(t: SqlDml.CreateTable) => Ddl.createTable(spark, t)
      case Some(d: SqlDml.DropRelation) => Ddl.drop(spark, d)
      case Some(i: SqlDml.CreateIndex) => Ddl.createIndex(spark, i)
      case Some(i: SqlDml.DropIndex) => Ddl.dropIndex(spark, i)
      case Some(t: SqlDml.CreateTrigger) => Triggers.create(spark, t)
      case Some(t: SqlDml.DropTrigger) => Triggers.dropTrigger(spark, t)
      case Some(a: SqlDml.AlterRenameTable) => Ddl.alterRenameTable(spark, a)
      case Some(a: SqlDml.AlterRenameColumn) => Ddl.alterRenameColumn(spark, a)
      case Some(a: SqlDml.AlterAddColumn) => Ddl.alterAddColumn(spark, a)
      case Some(a: SqlDml.AlterDropColumn) => Ddl.alterDropColumn(spark, a)
      case Some(SqlDml.Unsupported(verb)) =>
        throw new UnsupportedOperationException(
          s"graft is a read-only analytics engine over immutable lake " +
            s"storage; got DML verb $verb. Supported statements: " +
            s"INSERT [OR REPLACE|OR IGNORE] INTO <table> [(cols)] " +
            s"(SELECT …|VALUES …) [ON CONFLICT [(cols)] DO NOTHING | " +
            s"DO UPDATE SET … [WHERE …]] [RETURNING …] " +
            s"(copy-on-write append / upsert; no conflict target = the " +
            s"declared PRIMARY KEY / unique index, else the leading " +
            s"column), " +
            s"UPDATE <table> SET … [FROM …] [WHERE …] [RETURNING …], " +
            s"DELETE FROM <table> [WHERE …] [RETURNING …] (both " +
            s"copy-on-write row rewrites), " +
            s"CREATE [TEMP] VIEW/TABLE <name> AS SELECT …, " +
            s"CREATE [TEMP] TABLE <name> (col decls), " +
            s"CREATE [UNIQUE] INDEX <name> ON <table> (cols), " +
            s"DROP TABLE/VIEW/INDEX [IF EXISTS] <name>, " +
            s"ALTER TABLE <t> RENAME TO / RENAME COLUMN / ADD COLUMN / " +
            s"DROP COLUMN. Express other " +
            s"mutations as a SELECT materializing a new table, or " +
            s"re-ingest.")
      case None =>
        // column-DECLARED collations fold on the plain-query route
        // (exec.Collations — bare `=`, ORDER BY, GROUP BY over a
        // NOCASE/RTRIM column compare as declared); DML statements
        // keep expression-level COLLATE only: their `SET a = b`
        // assignments are textually comparison-shaped, so the
        // injection pass must not see them (README divergence table)
        spark.sql(Collations.fold(spark, prepared,
          Pragma.caseSensitiveLike(spark)))
    }

  /** ≤5 sample rows as JSON (reference test.py:51-55). A question
    * whose inputs are small runs as one stage
    * ([[GraftColumnBridge.planBySize]]); a larger one runs the plan Spark
    * gives it. */
  def resultJson(df: DataFrame, n: Int = 5): Seq[String] = {
    // the limit is the plan's root, so Spark plans it as CollectLimit or
    // TakeOrderedAndProject; under toJSON's mapPartitions it would be a
    // generated Local/GlobalLimit whose counter is named from a JVM-wide
    // sequence, new Java source (and a compile) on every call
    val top = df.limit(n)
    val rows = GraftColumnBridge.planBySize(top).collect()
    GraftColumnBridge.jsonLines(top, rows)
  }

  /** Full question → answer pipeline over prior ingestions. */
  def ask(spark: SparkSession, question: String,
          ingestions: Seq[IngestResult], llm: LlmCallback): DataFrame =
    runSql(spark, Text2Sql.text2sql(question, ingestions, llm,
      Pragma.caseSensitiveLike(spark)))
}
