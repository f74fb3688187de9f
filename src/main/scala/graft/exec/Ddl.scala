package graft.exec

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.text2sql.{SqlDml, SqlText}

/** Session DDL from generated SQL (reference executes it against its
  * session-scoped SQLite database, pandasqlite.py:245-247):
  *
  *  - `CREATE [TEMP] VIEW v AS select` → a TEMPORARY view (the session
  *    is the engine's database, so lifetimes match);
  *  - `CREATE [TEMP] TABLE t AS select` → the select MATERIALIZES
  *    (a new generation, [[Publish.materialize]]) and registers as a session table, so downstream
  *    statements scan stored files instead of re-running the plan;
  *  - `DROP TABLE/VIEW [IF EXISTS] t` → unregisters the binding (lake
  *    files are immutable; only the name drops).
  *
  * SQLite's conflict semantics are kept: CREATE without IF NOT EXISTS
  * fails on an existing name, DROP without IF EXISTS fails on a
  * missing one — targeted errors, not generic analysis failures. All
  * statements return an empty result, exactly as SQLite's do.
  */
object Ddl {

  /** Backtick-quote an identifier — THE quoting helper for the exec
    * package (hash-named tables may start with a digit). */
  private[exec] def quote(name: String): String =
    "`" + name.replace("`", "``") + "`"

  private def exists(spark: SparkSession, name: String): Boolean =
    try { spark.table(quote(name)); true } catch { case _: Exception => false }

  def createView(spark: SparkSession, stmt: SqlDml.CreateView): DataFrame = {
    if (exists(spark, stmt.name)) {
      if (stmt.ifNotExists) return spark.emptyDataFrame
      throw new IllegalArgumentException(
        s"CREATE VIEW ${stmt.name}: relation already exists (SQLite " +
          s"semantics); add IF NOT EXISTS or DROP VIEW it first")
    }
    // a column list renames the select's outputs positionally —
    // SQLite's rule, and exactly Spark's CREATE TEMPORARY VIEW form
    val colList =
      if (stmt.cols.isEmpty) ""
      else stmt.cols.map(quote).mkString(" (", ", ", ")")
    spark.sql(
      s"CREATE OR REPLACE TEMPORARY VIEW ${quote(stmt.name)}$colList " +
        s"AS ${stmt.sourceSql}")
    val rawList =
      if (stmt.cols.isEmpty) ""
      else stmt.cols.mkString("(", ", ", ") ")
    SessionViews.add(spark, stmt.name,
      s"CREATE VIEW ${stmt.name} $rawList".trim + s" AS ${stmt.sourceSql}")
    Pragma.bumpSchemaVersion(spark)
    spark.emptyDataFrame
  }

  def createTableAs(spark: SparkSession, stmt: SqlDml.CreateTableAs): DataFrame = {
    if (exists(spark, stmt.name)) {
      if (stmt.ifNotExists) return spark.emptyDataFrame
      throw new IllegalArgumentException(
        s"CREATE TABLE ${stmt.name}: relation already exists (SQLite " +
          s"semantics); add IF NOT EXISTS or DROP TABLE it first")
    }
    Publish.materialize(spark, spark.sql(stmt.sourceSql), stmt.name)
      .createOrReplaceTempView(stmt.name)
    Pragma.bumpSchemaVersion(spark)
    spark.emptyDataFrame
  }

  def drop(spark: SparkSession, stmt: SqlDml.DropRelation): DataFrame =
    Atomic.statement(spark)(dropStmt(spark, stmt))

  private def dropStmt(spark: SparkSession,
                       stmt: SqlDml.DropRelation): DataFrame = {
    // SQLite matches the keyword against the relation kind (measured
    // error texts) — a DROP TABLE must not remove a view or vice versa
    val isView = SessionViews.isView(spark, stmt.name)
    if (isView && stmt.kind == "table")
      throw new IllegalArgumentException(
        s"use DROP VIEW to delete view ${stmt.name}")
    if (!isView && stmt.kind == "view" && exists(spark, stmt.name))
      throw new IllegalArgumentException(
        s"use DROP TABLE to delete table ${stmt.name}")
    // PRAGMA foreign_keys=1: SQLite's implicit DELETE runs — ON DELETE
    // actions cascade into children (measured: DROP of a cascade-
    // referenced parent empties the child) and a NO ACTION reference
    // to an existing key makes the parent undeletable
    if (!isView && exists(spark, stmt.name)) {
      val old = spark.table(quote(stmt.name))
      ForeignKeys.withPendingRebind(stmt.name) {
        ForeignKeys.applyParentDelete(spark, stmt.name, old, old.limit(0))
      }
    }
    val dropped = spark.catalog.dropTempView(stmt.name)
    if (!dropped && !stmt.ifExists)
      throw new IllegalArgumentException(
        s"DROP: no such session table/view '${stmt.name}' " +
          s"(add IF EXISTS to make this a no-op)")
    if (dropped) {
      SessionKeys.forgetTable(spark, stmt.name)
      SessionViews.remove(spark, stmt.name)
      Triggers.dropForTable(spark, stmt.name) // SQLite: triggers die with their table
      Pragma.bumpSchemaVersion(spark)
    }
    spark.emptyDataFrame
  }

  /** SQLite declared-type → lake type via the affinity rules
    * (sqlite.org/datatype3.html §3.1), refined where SQLite's storage
    * convention implies a narrower lake projection: BOOLEAN stores
    * 0/1 (integer), DATE/DATETIME store ISO-8601 text (the date
    * functions' convention), a typeless column takes text (the most
    * cast-tolerant lake type for SQLite's "no affinity"), and NUMERIC
    * (polymorphic in SQLite) takes double. */
  private[exec] def affinityType(decl: String)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    val t = decl.toUpperCase
    if (t.isEmpty) StringType
    else if (t.contains("INT")) LongType
    else if (t.contains("CHAR") || t.contains("CLOB") || t.contains("TEXT"))
      StringType
    else if (t.contains("BLOB")) BinaryType
    else if (t.contains("REAL") || t.contains("FLOA") || t.contains("DOUB"))
      DoubleType
    else if (t.contains("BOOL")) LongType
    else if (t.contains("DATE") || t.contains("TIME")) StringType
    else DoubleType
  }

  /** A declared DEFAULT's executable form: the CURRENT_* keywords
    * render SQLite's fixed 'YYYY-MM-DD HH:MM:SS' UTC text (the session
    * runs UTC), everything else runs through the dialect translator
    * (defaults are SQLite-dialect expressions). */
  private[exec] def defaultExecSql(raw: String): String =
    raw.trim.toLowerCase match {
      case "current_timestamp" =>
        "date_format(current_timestamp(), 'yyyy-MM-dd HH:mm:ss')"
      case "current_date" => "date_format(current_date(), 'yyyy-MM-dd')"
      case "current_time" =>
        "date_format(current_timestamp(), 'HH:mm:ss')"
      case _ =>
        graft.text2sql.SqlDialect.translate(s"SELECT ($raw)")
          .stripPrefix("SELECT ").trim
    }

  /** SQLite's built-in collating sequences — the only ones the
    * reference's engine ever has (it registers no custom ones through
    * sqlite3). Anything else fails at DDL time with SQLite's error. */
  private[exec] def assertKnownCollation(name: String): Unit =
    if (!Set("BINARY", "NOCASE", "RTRIM")(name.toUpperCase) &&
        name.nonEmpty)
      throw new IllegalArgumentException(
        s"no such collation sequence: $name")

  /** A generated column's executable form: SQLite-dialect expression
    * through the translator (no CURRENT_* forms — SQLite itself
    * forbids non-deterministic functions in generated columns). */
  private[exec] def generatedExecSql(raw: String): String =
    graft.text2sql.SqlDialect.translate(s"SELECT ($raw)")
      .stripPrefix("SELECT ").trim

  /** Generated columns in EVALUATION order — SQLite resolves
    * references between generated columns by dependency, not
    * declaration (`b AS (c+1), c AS (a+1)` computes c first), and
    * raises `generated column loop on "x"` at write time on a cycle.
    * Dependencies are the same word-boundary textual scan as
    * [[referencedByGenerated]]; Kahn's algorithm over the handful of
    * generated columns. Left = a column on a cycle (SQLite's error
    * names the one it was computing). */
  private[exec] def generatedEvalOrder(
      gens: Seq[(String, String, String, Boolean)])
      : Either[String, Seq[(String, String, String, Boolean)]] = {
    if (gens.size <= 1) {
      // a single generated column can still self-reference
      gens.headOption.filter { case (c, raw, _, _) =>
        refHits(raw, c)
      }.foreach { case (c, _, _, _) => return Left(c) }
      return Right(gens)
    }
    val names = gens.map(_._1)
    def deps(g: (String, String, String, Boolean)): Set[String] =
      names.filter(n => n != g._1 && refHits(g._2, n)).toSet +
        (if (refHits(g._2, g._1)) g._1 else "") - ""
    var remaining = gens
    val ordered = Seq.newBuilder[(String, String, String, Boolean)]
    var done = Set.empty[String]
    while (remaining.nonEmpty) {
      val (ready, blocked) = remaining.partition(g =>
        (deps(g) -- done).isEmpty)
      if (ready.isEmpty) return Left(blocked.head._1) // cycle
      ordered ++= ready
      done ++= ready.map(_._1)
      remaining = blocked
    }
    Right(ordered.result())
  }

  /** True when the expression text contains a SELECT keyword in code
    * (paren-transparent) — SQLite prohibits subqueries in CHECK
    * constraints at parse time. */
  private[exec] def containsSelect(raw: String): Boolean =
    SqlText.find(raw, 0)(SqlText.keywordAt(raw, _, "select")) >= 0

  private def refHits(raw: String, col: String): Boolean =
    java.util.regex.Pattern.compile(
      "(?i)(?<![A-Za-z0-9_\"`\\[])" + java.util.regex.Pattern.quote(col) +
        "(?![A-Za-z0-9_])").matcher(raw).find()

  /** A stored expression text that reads a column: `what` names it in
    * RENAME COLUMN's decline (with the `remedy`), `owner` is the schema
    * object SQLite's DROP COLUMN error names. */
  private final case class Reader(what: String, owner: String,
                                  remedy: String)

  /** The first stored text of `table` that reads `col`: another
    * generated column's expression, a CHECK, or an index's expression
    * item or partial WHERE. A word-boundary scan of the text; a hit
    * inside a string literal refuses conservatively — a visible error
    * beats a silently broken schema. SQLite rewrites these texts on
    * RENAME COLUMN and fails DROP COLUMN on them; this engine stores
    * the texts and declines the rename. When `dropping`, the column's
    * own CHECKs do not count: they go with it. When renaming, a plain
    * (non-UNIQUE) index's expression items do not count: they never
    * change an answer, and the rename rewrites them
    * ([[SessionKeys.renameColumn]]). */
  private def textReading(spark: SparkSession, table: String,
                          col: String, dropping: Boolean): Option[Reader] = {
    val d = SessionKeys.table(spark, table)
    d.generated.collectFirst {
      case (g, raw, _, _) if !g.equalsIgnoreCase(col) && refHits(raw, col) =>
        Reader(s"generated column $g", s"table $table",
          "DROP that column first")
    }.orElse(d.checks.collectFirst {
      case k if !(dropping && k.declaredBy(col)) && refHits(k.raw, col) =>
        Reader(s"CHECK constraint ${if (k.name.nonEmpty) k.name else s"(${k.raw})"}",
          s"table $table", "re-create the table to rename it")
    }).orElse(SessionKeys.indexesFor(spark, table).collectFirst {
      case (ix, i) if ((if (i.unique || dropping) i.uexprs else Nil) ++ i.uwhere)
          .exists(refHits(_, col)) =>
        Reader(s"index $ix", s"index $ix", "DROP INDEX it first")
    })
  }

  /** The table's generated columns in evaluation order, for the write
    * paths — raises SQLite's own loop error on a reference cycle
    * (SQLite accepts the cycle at CREATE and errors at write time,
    * measured 3.40.1). */
  private[exec] def generatedForWrite(spark: SparkSession, table: String)
      : Seq[(String, String, String, Boolean)] =
    SessionKeys.table(spark, table).generated match {
      case Nil => Nil
      case gens => generatedEvalOrder(gens) match {
        case Right(o) => o
        case Left(c) => throw new IllegalArgumentException(
          s"generated column loop on \"$c\"")
      }
    }

  /** `CREATE TABLE name (col decls …)` — an empty typed session
    * relation (SQLite starts it empty too); the declared PRIMARY KEY
    * (or first UNIQUE constraint) registers as the conflict key later
    * upserts resolve against, and declared DEFAULTs register so
    * partial-column INSERTs fill them — both exactly SQLite's rule. */
  def createTable(spark: SparkSession, stmt: SqlDml.CreateTable): DataFrame = {
    if (exists(spark, stmt.name)) {
      if (stmt.ifNotExists) return spark.emptyDataFrame
      throw new IllegalArgumentException(
        s"CREATE TABLE ${stmt.name}: relation already exists (SQLite " +
          s"semantics); add IF NOT EXISTS or DROP TABLE it first")
    }
    val dupes = stmt.cols.groupBy(_._1.toLowerCase).filter(_._2.size > 1).keys
    if (dupes.nonEmpty)
      throw new IllegalArgumentException(
        s"CREATE TABLE ${stmt.name}: duplicate column " +
          dupes.mkString(", "))
    if (stmt.strict) {
      // SQLite's STRICT datatype whitelist, checked at CREATE with its
      // own error texts (measured 3.40.1); ANY would need a sum type
      // the lake schema cannot hold — targeted decline
      val allowed = Set("INT", "INTEGER", "REAL", "TEXT", "BLOB")
      stmt.cols.foreach { case (c, t) =>
        val u = t.trim.toUpperCase
        if (u.isEmpty)
          throw new IllegalArgumentException(
            s"missing datatype for ${stmt.name}.$c")
        if (u == "ANY")
          throw new UnsupportedOperationException(
            s"CREATE TABLE ${stmt.name}: STRICT ANY columns are not " +
              s"supported (one typed lake column cannot hold SQLite's " +
              s"pass-through sum type); declare a concrete type")
        if (!allowed.contains(u))
          throw new IllegalArgumentException(
            s"unknown datatype for ${stmt.name}.$c: \"$t\"")
      }
    }
    if (stmt.withoutRowid && stmt.pkCols.isEmpty)
      throw new IllegalArgumentException(
        s"PRIMARY KEY missing on table ${stmt.name}")
    stmt.autoincrement.foreach { case (c, decl, hadPk) =>
      // SQLite: AUTOINCREMENT rides only on a column declared exactly
      // INTEGER PRIMARY KEY (INT fails; measured 3.40.1)
      if (!hadPk || !decl.equalsIgnoreCase("integer") ||
          !(stmt.pkCols.map(_.toLowerCase) == Seq(c.toLowerCase)))
        throw new IllegalArgumentException(
          "AUTOINCREMENT is only allowed on an INTEGER PRIMARY KEY")
      if (stmt.withoutRowid)
        throw new IllegalArgumentException(
          s"AUTOINCREMENT not allowed on WITHOUT ROWID tables")
    }
    val schema = org.apache.spark.sql.types.StructType(stmt.cols.map {
      case (n, t) => org.apache.spark.sql.types.StructField(n, affinityType(t))
    })
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
    val gens = stmt.generated.map { case (c, raw, stored) =>
      (c.toLowerCase, raw, generatedExecSql(raw), stored)
    }
    // bind-check each generated expr against the declared columns NOW
    // (SQLite validates at CREATE: an unknown identifier errors) —
    // computed in declaration order so chained references (a generated
    // column using an earlier one) resolve
    // (over the relation under its name, so `t.c` references resolve)
    val named = empty.as(stmt.name)
    try gens.foldLeft(named) { case (probe, (c, _, ex, _)) =>
      probe.withColumn(c, org.apache.spark.sql.functions.expr(ex))
    }.queryExecution.analyzed
    catch {
      case e: Exception => throw new IllegalArgumentException(
        s"CREATE TABLE ${stmt.name}: error in generated column " +
          s"expression: ${e.getMessage}", e)
    }
    // NOT NULL / CHECK constraints enforce at write time
    // (exec.Constraints — SQLite's error texts)
    val checks = stmt.checks.map { case (nm, raw, column) =>
      // SQLite's own parse-time rule, its exact error text
      if (containsSelect(raw))
        throw new IllegalArgumentException(
          "subqueries prohibited in CHECK constraints")
      SessionKeys.Check(nm, raw, generatedExecSql(raw), column)
    }
    try checks.foreach { k =>
      named.filter(org.apache.spark.sql.functions.expr(k.exec))
        .queryExecution.analyzed
    } catch {
      case e: Exception => throw new IllegalArgumentException(
        s"CREATE TABLE ${stmt.name}: error in CHECK constraint: " +
          s"${e.getMessage}", e)
    }
    // column-declared collations fold into bare comparisons / ORDER BY
    // / GROUP BY over the column (Runner's session-aware collation
    // pass); unknown names are SQLite's own CREATE-time error (only the
    // built-ins exist here — the reference's sqlite3 registers no
    // custom collations either)
    stmt.collates.foreach { case (_, c) => assertKnownCollation(c) }
    // SQLite's rowid-alias rule (lang_createtable.html §5): a
    // single-column PRIMARY KEY declared exactly INTEGER on a rowid
    // table IS the rowid — only those auto-assign missing/NULL keys;
    // `INT PRIMARY KEY` is NOT an alias (the NULL stores), and a
    // WITHOUT ROWID key has no rowid to alias
    val rowidAlias = stmt.pkCols match {
      case Seq(k) if !stmt.withoutRowid =>
        stmt.cols.collectFirst { case (n, t) if n.equalsIgnoreCase(k) &&
          t.trim.equalsIgnoreCase("integer") => n }
      case _ => None
    }
    // a WITHOUT ROWID PRIMARY KEY is implicitly NOT NULL (measured:
    // the insert raises `NOT NULL constraint failed: t.k` and
    // table_info reports 1)
    val implicitNn =
      if (!stmt.withoutRowid) Nil
      else stmt.pkCols.map(k =>
        stmt.cols.find(_._1.equalsIgnoreCase(k)).map(_._1).getOrElse(k))
    // FOREIGN KEY constraints are listed by PRAGMA foreign_key_list /
    // check and enforced under PRAGMA foreign_keys=1 — SQLite accepts
    // references to not-yet-created tables, so no parent existence
    // check happens here (measured)
    val decl = SessionKeys.TableDecl(
      pk = Some(stmt.pkCols).filter(_.nonEmpty),
      rowidAlias = rowidAlias,
      defaults = stmt.defaults.map { case (c, raw) =>
        c.toLowerCase -> (raw, defaultExecSql(raw))
      }.toMap,
      generated = gens,
      strict =
        if (!stmt.strict) Map.empty
        else stmt.cols.map { case (c, t) =>
          c.toLowerCase -> t.trim.toUpperCase
        }.toMap,
      notNulls = stmt.notNulls ++ implicitNn,
      checks = checks,
      collates = stmt.collates.collect { case (c, v)
        if !v.equalsIgnoreCase("BINARY") => c.toLowerCase -> v.toUpperCase
      }.toMap,
      withoutRowid = stmt.withoutRowid,
      autoincrement = stmt.autoincrement.isDefined,
      fks = stmt.fks)
    empty.createOrReplaceTempView(stmt.name)
    // each UNIQUE constraint becomes one of SQLite's automatic unique
    // indexes — NOT a PK, so PRAGMA table_info keeps pk=0 for them
    // while OR REPLACE / bare ON CONFLICT still resolve against them
    // through keyFor's unique-index fallback, and uniqueness enforces
    // on every write (exec.Constraints) — all SQLite's behavior
    SessionKeys.declare(spark, stmt.name, decl, stmt.uniques)
    Pragma.bumpSchemaVersion(spark)
    spark.emptyDataFrame
  }

  /** `CREATE [UNIQUE] INDEX` — a plain index is a pure access-path
    * directive in SQLite (results never change) and registers as a
    * no-op; a UNIQUE index declares the constraint later upserts
    * resolve against, so its column set is recorded. */
  def createIndex(spark: SparkSession, stmt: SqlDml.CreateIndex): DataFrame = {
    val verb = if (stmt.unique) "CREATE UNIQUE INDEX" else "CREATE INDEX"
    val base =
      try spark.table(quote(stmt.table))
      catch {
        case e: Exception => throw new IllegalArgumentException(
          s"$verb ${stmt.name}: target '${stmt.table}' is not a " +
            s"registered table/view: ${e.getMessage}", e)
      }
    if (stmt.cols.nonEmpty) {
      val known = base.columns.map(_.toLowerCase).toSet
      val unknown = stmt.cols.filterNot(c => known(c.toLowerCase))
      if (unknown.nonEmpty)
        throw new IllegalArgumentException(
          s"$verb ${stmt.name}: no such column(s) ${unknown.mkString(", ")}")
    }
    // an expression-keyed index: validate + translate each item NOW
    // (SQLite checks at CREATE), then register the executable texts —
    // DROP COLUMN of a column they read fails, and for a UNIQUE index
    // uniqueness enforces over them and the REPLACE/IGNORE machinery
    // displaces/skips on them (exec.Constraints)
    val uwhere = stmt.where.map { raw =>
      if (containsSelect(raw))
        throw new IllegalArgumentException(
          s"$verb ${stmt.name}: subqueries prohibited in partial index " +
            s"WHERE clauses")
      val ex = generatedExecSql(raw)
      try base.filter(org.apache.spark.sql.functions.expr(ex))
        .queryExecution.analyzed
      catch {
        case e: Exception => throw new IllegalArgumentException(
          s"$verb ${stmt.name}: error in partial-index WHERE: " +
            s"${e.getMessage}", e)
      }
      ex
    }
    val uexprs = stmt.exprs.map { raw =>
      if (containsSelect(raw))
        throw new IllegalArgumentException(
          s"$verb ${stmt.name}: subqueries prohibited in index expressions")
      val ex = generatedExecSql(raw)
      try base.filter(org.apache.spark.sql.functions.expr(ex).isNotNull)
        .queryExecution.analyzed
      catch {
        case e: Exception => throw new IllegalArgumentException(
          s"$verb ${stmt.name}: error in index expression: " +
            s"${e.getMessage}", e)
      }
      ex
    }
    // a COLLATE rider must name a built-in (SQLite's CREATE-time error)
    stmt.riders.foreach { case (_, c) => assertKnownCollation(c) }
    // uwhere registers for EVERY partial index — PRAGMA index_list
    // reports partial=1 for plain ones too (SQLite); uniqueness
    // ENFORCEMENT stays gated on `unique` at the consumers
    // (uniqueColIndexes/uniqueExprIndexes filter on it)
    val fresh = SessionKeys.registerIndex(spark, stmt.name,
      SessionKeys.Index(stmt.table, stmt.cols, stmt.unique, "c",
        stmt.riders, uexprs, uwhere))
    if (!fresh && !stmt.ifNotExists)
      throw new IllegalArgumentException(
        s"$verb: index ${stmt.name} already exists (SQLite semantics); " +
          s"add IF NOT EXISTS or DROP INDEX it first")
    if (fresh) Pragma.bumpSchemaVersion(spark)
    spark.emptyDataFrame
  }

  def dropIndex(spark: SparkSession, stmt: SqlDml.DropIndex): DataFrame = {
    val removed = SessionKeys.dropIndex(spark, stmt.name)
    if (!removed && !stmt.ifExists)
      throw new IllegalArgumentException(
        s"DROP INDEX: no such index '${stmt.name}' " +
          s"(add IF EXISTS to make this a no-op)")
    if (removed) Pragma.bumpSchemaVersion(spark)
    spark.emptyDataFrame
  }

  private def resolveAlter(spark: SparkSession, table: String): DataFrame = {
    // SQLite refuses every ALTER form on a view (measured error text)
    if (SessionViews.isView(spark, table))
      throw new IllegalArgumentException(s"view $table may not be altered")
    try spark.table(quote(table))
    catch {
      case e: Exception => throw new IllegalArgumentException(
        s"ALTER TABLE: no such session table/view '$table': " +
          e.getMessage, e)
    }
  }

  /** `ALTER TABLE t RENAME TO t2` — the binding moves; the table's
    * declarations, indexes and the FKs naming it follow (SQLite
    * rewrites schema references on rename).
    * Pure metadata: the captured (already-analyzed) plan re-registers
    * under the new name, so no data is rewritten. */
  def alterRenameTable(spark: SparkSession,
                       stmt: SqlDml.AlterRenameTable): DataFrame = {
    val base = resolveAlter(spark, stmt.table)
    if (!stmt.newName.equalsIgnoreCase(stmt.table) &&
        exists(spark, stmt.newName))
      throw new IllegalArgumentException(
        s"ALTER TABLE ${stmt.table} RENAME TO ${stmt.newName}: target " +
          s"name already exists (SQLite semantics); DROP it first")
    base.createOrReplaceTempView(stmt.newName)
    if (!stmt.newName.equalsIgnoreCase(stmt.table))
      spark.catalog.dropTempView(stmt.table)
    SessionKeys.renameTable(spark, stmt.table, stmt.newName)
    Triggers.renameTable(spark, stmt.table, stmt.newName)
    Pragma.bumpSchemaVersion(spark)
    spark.emptyDataFrame
  }

  /** `ALTER TABLE t RENAME [COLUMN] a TO b` — a pure projection
    * re-bind (Catalyst collapses stacked ALTER projections); the
    * declarations, index columns and FK references naming the column
    * follow. */
  def alterRenameColumn(spark: SparkSession,
                        stmt: SqlDml.AlterRenameColumn): DataFrame = {
    import org.apache.spark.sql.functions.col
    val base = resolveAlter(spark, stmt.table)
    val cols = base.columns
    if (!cols.exists(_.equalsIgnoreCase(stmt.oldCol)))
      throw new IllegalArgumentException(
        s"ALTER TABLE ${stmt.table}: no such column ${stmt.oldCol}")
    if (!stmt.newCol.equalsIgnoreCase(stmt.oldCol) &&
        cols.exists(_.equalsIgnoreCase(stmt.newCol)))
      throw new IllegalArgumentException(
        s"ALTER TABLE ${stmt.table}: duplicate column name ${stmt.newCol}")
    // SQLite rewrites the expression texts reading the column; this
    // engine declines visibly rather than regex-rewrite them
    textReading(spark, stmt.table, stmt.oldCol, dropping = false).foreach(r =>
      throw new UnsupportedOperationException(
        s"ALTER TABLE ${stmt.table} RENAME COLUMN ${stmt.oldCol}: " +
          s"referenced by ${r.what}; ${r.remedy}"))
    base.select(cols.map { c =>
      if (c.equalsIgnoreCase(stmt.oldCol)) col(quote(c)).as(stmt.newCol)
      else col(quote(c))
    }.toIndexedSeq: _*).createOrReplaceTempView(stmt.table)
    SessionKeys.renameColumn(spark, stmt.table, stmt.oldCol, stmt.newCol)
    Triggers.renameColumn(spark, stmt.table, stmt.oldCol, stmt.newCol)
    Pragma.bumpSchemaVersion(spark)
    spark.emptyDataFrame
  }

  /** `ALTER TABLE t ADD [COLUMN] c type [DEFAULT lit] [NOT NULL]` —
    * existing rows report the default (NULL absent one), exactly as
    * SQLite synthesizes it on read, and the default REGISTERS so later
    * partial-column INSERTs fill it too (SQLite's rule). The rewrite
    * is a lazy constant-projection re-bind — no data moves. */
  def alterAddColumn(spark: SparkSession,
                     stmt: SqlDml.AlterAddColumn): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val base = resolveAlter(spark, stmt.table)
    if (base.columns.exists(_.equalsIgnoreCase(stmt.col)))
      throw new IllegalArgumentException(
        s"ALTER TABLE ${stmt.table}: duplicate column name ${stmt.col}")
    val dt = affinityType(stmt.declType)
    val strict = SessionKeys.table(spark, stmt.table).strict.nonEmpty
    if (strict) {
      val uT = stmt.declType.trim.toUpperCase
      if (uT.isEmpty)
        throw new IllegalArgumentException(
          s"missing datatype for ${stmt.table}.${stmt.col}")
      if (uT == "ANY")
        throw new UnsupportedOperationException(
          s"ALTER TABLE ${stmt.table}: STRICT ANY columns are not " +
            s"supported; declare a concrete type")
      if (!Set("INT", "INTEGER", "REAL", "TEXT", "BLOB").contains(uT))
        throw new IllegalArgumentException(
          s"unknown datatype for ${stmt.table}.${stmt.col}: " +
            s"\"${stmt.declType}\"")
    }
    stmt.generatedExpr.foreach { raw =>
      // SQLite 3.31+: ADD COLUMN may add a VIRTUAL generated column;
      // STORED refuses with SQLite's own message
      if (stmt.generatedStored)
        throw new IllegalArgumentException("cannot add a STORED column")
      val ex = generatedExecSql(raw)
      val rebound =
        try {
          val df = base.withColumn(stmt.col,
            org.apache.spark.sql.functions.expr(ex).cast(dt))
          df.queryExecution.analyzed
          df
        } catch {
          case e: Exception => throw new IllegalArgumentException(
            s"ALTER TABLE ${stmt.table}: error in generated column " +
              s"expression: ${e.getMessage}", e)
        }
      rebound.createOrReplaceTempView(stmt.table)
      SessionKeys.alter(spark, stmt.table)(d =>
        d.copy(generated = d.generated :+ ((stmt.col.toLowerCase, raw, ex, false))))
      Pragma.bumpSchemaVersion(spark)
      return spark.emptyDataFrame
    }
    // evaluate the literal once (SQLite stores one value in the
    // schema); a non-literal token fails here with the resolver's
    // message, matching SQLite's rejection of non-constant defaults
    val value = stmt.default.map { d =>
      spark.sql(s"SELECT CAST(($d) AS ${dt.sql})").first().get(0)
    }.orNull
    if (stmt.notNull && value == null)
      throw new IllegalArgumentException(
        s"ALTER TABLE ${stmt.table}: cannot add a NOT NULL column " +
          s"with default value NULL (SQLite semantics)")
    val check = stmt.check.map { raw =>
      if (containsSelect(raw))
        throw new IllegalArgumentException(
          "subqueries prohibited in CHECK constraints")
      val ex = generatedExecSql(raw)
      // a backfilled DEFAULT violating its own single-column CHECK
      // would poison every later write (this engine validates whole
      // frames at write time where SQLite validates per-row) — decline
      // loudly when the self-check is decidable; checks referencing
      // other columns skip the pre-validation
      stmt.default.foreach { d =>
        try {
          val ok = spark.sql(
            s"SELECT coalesce(CAST(($ex) AS BOOLEAN), true) FROM " +
              s"(SELECT CAST(($d) AS ${dt.sql}) AS ${quote(stmt.col)})")
            .first().getBoolean(0)
          if (!ok)
            throw new UnsupportedOperationException(
              s"ALTER TABLE ${stmt.table} ADD COLUMN ${stmt.col}: the " +
                s"DEFAULT $d violates the column's own CHECK ($raw); " +
                s"this engine re-validates whole frames at write time, " +
                s"so the backfill would fail every later statement")
        } catch {
          case e: UnsupportedOperationException => throw e
          case _: Exception => () // references other columns: skip
        }
      }
      SessionKeys.Check("", raw, ex, Some(stmt.col))
    }
    stmt.collate.foreach(assertKnownCollation)
    base.select(base.columns.map(c => col(quote(c))).toIndexedSeq :+
        lit(value).cast(dt).as(stmt.col): _*)
      .createOrReplaceTempView(stmt.table)
    // the column's declarations register like CREATE TABLE's: an added
    // REFERENCES clause is listed and enforced (SQLite), and takes
    // `foreign_key_list` id 0 as the newest declaration (measured)
    val c = stmt.col.toLowerCase
    SessionKeys.alter(spark, stmt.table)(d => d.copy(
      strict =
        if (strict) d.strict + (c -> stmt.declType.trim.toUpperCase)
        else d.strict,
      defaults = d.defaults ++
        stmt.default.map(raw => c -> (raw, defaultExecSql(raw))),
      fks = d.fks ++ stmt.fk,
      notNulls = if (stmt.notNull) d.notNulls :+ stmt.col else d.notNulls,
      checks = d.checks ++ check,
      collates = d.collates ++ stmt.collate
        .filterNot(_.equalsIgnoreCase("BINARY")).map(v => c -> v.toUpperCase)))
    Pragma.bumpSchemaVersion(spark)
    spark.emptyDataFrame
  }

  /** `ALTER TABLE t DROP [COLUMN] c` — SQLite's restrictions enforce:
    * not a PK column, not indexed, not the last column. The rewrite is
    * a pure projection re-bind. */
  def alterDropColumn(spark: SparkSession,
                      stmt: SqlDml.AlterDropColumn): DataFrame = {
    import org.apache.spark.sql.functions.col
    val base = resolveAlter(spark, stmt.table)
    val cols = base.columns
    if (!cols.exists(_.equalsIgnoreCase(stmt.col)))
      throw new IllegalArgumentException(
        s"ALTER TABLE ${stmt.table}: no such column ${stmt.col}")
    if (cols.length == 1)
      throw new IllegalArgumentException(
        s"ALTER TABLE ${stmt.table}: cannot drop the only column " +
          s"(SQLite semantics)")
    if (SessionKeys.table(spark, stmt.table).pk.getOrElse(Nil)
        .exists(_.equalsIgnoreCase(stmt.col)))
      throw new IllegalArgumentException(
        s"ALTER TABLE ${stmt.table}: cannot drop PRIMARY KEY column " +
          s"${stmt.col} (SQLite semantics)")
    SessionKeys.indexesFor(spark, stmt.table)
      .find(_._2.cols.exists(_.equalsIgnoreCase(stmt.col)))
      .foreach { case (ix, _) =>
        throw new IllegalArgumentException(
          s"ALTER TABLE ${stmt.table}: cannot drop column ${stmt.col}: " +
            s"indexed by $ix (SQLite semantics); DROP INDEX it first")
      }
    Triggers.guardDropColumn(spark, stmt.table, stmt.col)
    // SQLite refuses dropping a column a stored expression text reads
    // ("error in table t after drop column: no such column: c", or
    // "error in index i …" for an index expression or partial WHERE)
    textReading(spark, stmt.table, stmt.col, dropping = true).foreach(r =>
      throw new IllegalArgumentException(
        s"error in ${r.owner} after drop column: " +
          s"no such column: ${stmt.col}"))
    base.select(cols.filterNot(_.equalsIgnoreCase(stmt.col))
        .map(c => col(quote(c))).toIndexedSeq: _*)
      .createOrReplaceTempView(stmt.table)
    SessionKeys.dropColumn(spark, stmt.table, stmt.col)
    Pragma.bumpSchemaVersion(spark)
    spark.emptyDataFrame
  }
}
