package graft.exec

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.LongType
import graft.text2sql.RowidRewrite

/** SQLite `rowid` emulation — the session/state side (text rewriting
  * lives in [[graft.text2sql.RowidRewrite]]).
  *
  * Every SQLite table carries an implicit `rowid` (insertion order,
  * 1-based); the reference executes generated SQL against such tables,
  * so `rowid` references — above all the classic dedup idiom
  * `DELETE … WHERE rowid NOT IN (SELECT MIN(rowid) … GROUP BY c)` —
  * are part of the delegated surface.
  *
  * Emulation strategy: LAZY materialization. Tables pay nothing until
  * a statement actually references the rowid surface; then the table's
  * current state is materialized ONCE with a real `rowid` column
  * (1..N in the table's current row order — for an ingested view that
  * is the ingestion DataFrame's order, i.e. SQLite's insertion order)
  * and the view re-bound. From there every expression position
  * resolves through the ordinary analyzer, DML generations carry the
  * column along ([[Mutate]]'s projections preserve unassigned
  * columns), and only SQLite's VISIBILITY rule needs text support:
  * `SELECT *` never shows rowid, which [[RowidRewrite.expandStars]]
  * enforces on the generated-SQL path.
  *
  * Scale: the one-time assignment is `zipWithIndex` — a count pass
  * plus a distributed map, no single-partition funnel, no driver data
  * path — and the rewritten parquet is the same copy-on-write shape
  * every DML statement already pays. INSERT appends assign
  * `max(rowid) + position` the same way (SQLite's monotonic rule).
  *
  * Divergences (README table): enabling rowid assigns by the CURRENT
  * row order — for a table whose view was re-bound outside the
  * generated-SQL path (library code re-registering a view) rowids are
  * re-assigned on next reference, like SQLite's VACUUM renumbering.
  */
object Rowid {

  private final class State {
    // lowercase table name -> Some(aliased INTEGER PRIMARY KEY column)
    // or None (independent sequential rowid)
    val tables = scala.collection.mutable.Map.empty[String, Option[String]]
  }

  private val state = graft.SessionLocal(new State)

  /** Enabled AND the binding still carries the column (a view re-bound
    * outside the DML path drops enablement — stale entries clear). */
  def isEnabled(spark: SparkSession, table: String): Boolean = {
    val s = state(spark)
    val t = table.toLowerCase
    val claimed = s.synchronized(s.tables.contains(t))
    if (!claimed) return false
    val has =
      try spark.table(Ddl.quote(table)).columns.exists(_.equalsIgnoreCase("rowid"))
      catch { case _: Exception => false }
    if (!has) s.synchronized(s.tables.remove(t))
    has
  }

  /** The table's visible (non-rowid) columns. */
  def visibleColumns(spark: SparkSession, table: String): Seq[String] =
    spark.table(Ddl.quote(table)).columns.toIndexedSeq
      .filterNot(_.equalsIgnoreCase("rowid"))

  /** Materialize the table's current state with `rowid` and re-bind
    * the view. No-op when already enabled or when a declared column
    * shadows the name (SQLite: a real `rowid` column wins; references
    * hit it).
    *
    * A session-declared single-column INTEGER PRIMARY KEY **is** the
    * rowid in SQLite (lang_createtable.html §5) — for those tables
    * `rowid` materializes as that column's values, not an independent
    * sequence; writes stay in sync via [[rowidExprForInsert]] /
    * [[guardUpdateAssigns]]. */
  def enable(spark: SparkSession, table: String): Unit = {
    // a WITHOUT ROWID table has no rowid surface to materialize —
    // a reference then fails analysis visibly (SQLite: "no such
    // column: rowid"; here Spark's unresolved-column error)
    if (SessionKeys.isWithoutRowid(spark, table)) return
    if (isEnabled(spark, table)) return
    val df =
      try spark.table(Ddl.quote(table))
      catch { case _: Exception => return } // unknown name: not a table ref
    if (df.columns.exists(_.equalsIgnoreCase("rowid"))) return // shadowed
    val alias = integerPkAlias(spark, table, df)
    val withId = alias match {
      case Some(pk) =>
        df.withColumn("rowid", df(Ddl.quote(pk)).cast(LongType))
      case None => withSequentialRowid(spark, df, 1L)
    }
    val dir = "target/graft_tmp/rowid_" +
      table.replaceAll("[^A-Za-z0-9_]", "_") + "_g" + Upsert.nextGeneration()
    withId.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView(table)
    val s = state(spark)
    s.synchronized(s.tables.put(table.toLowerCase, alias))
  }

  /** The declared rowid-alias column, when one was registered at
    * CREATE — a single-column PRIMARY KEY declared exactly INTEGER on
    * a rowid table (SQLite's alias rule; `INT` does not alias). */
  private def integerPkAlias(spark: SparkSession, table: String,
                             df: DataFrame): Option[String] =
    SessionKeys.rowidAliasOf(spark, table)
      .flatMap(c => df.columns.find(_.equalsIgnoreCase(c)))

  /** The aliased INTEGER PRIMARY KEY column for an enabled table, if
    * that is how it was enabled. */
  def aliasOf(spark: SparkSession, table: String): Option[String] = {
    val s = state(spark)
    s.synchronized(s.tables.get(table.toLowerCase)).flatten
  }

  /** Decline UPDATEs that would desynchronize an aliased rowid (the
    * emulation stores the alias as a materialized copy; assigning the
    * key or the rowid itself on such a table needs write-through the
    * copy does not model — visible failure over silent skew). */
  def guardUpdateAssigns(spark: SparkSession, table: String,
                         assigned: Seq[String]): Unit =
    aliasOf(spark, table).foreach { pk =>
      if (isEnabled(spark, table) &&
          assigned.exists(a => a.equalsIgnoreCase(pk) ||
            a.equalsIgnoreCase("rowid")))
        throw new UnsupportedOperationException(
          s"UPDATE of $pk (the INTEGER PRIMARY KEY aliased by rowid) on " +
            s"a rowid-referenced table is not supported; re-create the " +
            s"table or express the change as DELETE + INSERT")
    }

  /** Append a sequential `rowid` column (`start`, `start`+1, … in row
    * order). `zipWithIndex` = one count pass + distributed assignment;
    * order follows the partition layout, which for a freshly-read
    * parquet snapshot or an in-memory ingestion DataFrame is the
    * row order SQLite's insertion-order rowid corresponds to. */
  def withSequentialRowid(spark: SparkSession, df: DataFrame,
                          start: Long): DataFrame = {
    val schema = df.schema.add("rowid", LongType, nullable = false)
    val rdd = df.rdd.zipWithIndex().map { case (r, i) =>
      Row.fromSeq(r.toSeq :+ (start + i))
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Current max rowid (0 for an empty table) — the INSERT append
    * base, SQLite's monotonic assignment rule. */
  def maxRowid(spark: SparkSession, table: String): Long = {
    val r = spark.table(Ddl.quote(table))
      .agg(org.apache.spark.sql.functions.max("rowid")).first()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** Names this emulation must never claim (catalog helper views). */
  private def claimable(name: String): Boolean =
    name != "sqlite_master" && !name.startsWith("graft_pragma_ti_")

  /** The generated-SQL gate ([[Runner.runSql]]): enable rowid on the
    * session tables a rowid-referencing statement touches, normalize
    * `_rowid_`/`oid`, and expand stars so the column stays hidden
    * where SQLite hides it. Statements that neither mention the
    * surface nor touch an enabled table pass through untouched (one
    * token scan). */
  def prepare(spark: SparkSession, sql: String): String = {
    val s = state(spark)
    val enabledNow = s.synchronized(s.tables.keySet.toSet)
    val hasTok = RowidRewrite.referencesRowid(sql)
    if (!hasTok && enabledNow.isEmpty) return sql
    // a CTE shadows a same-named table for the whole statement
    // (SQLite scoping) — never enable through, or expand against, a
    // shadowed name
    val ctes = RowidRewrite.cteNames(sql)
    if (hasTok) {
      // which session tables does the statement reference?
      val cands = spark.catalog.listTables().collect()
        .map(_.name.toLowerCase).filter(claimable).toSet -- ctes
      RowidRewrite.referencedTables(sql, cands)
        .foreach(t => enable(spark, t))
    }
    val active = s.synchronized(s.tables.keySet.toSet)
      .filter(t => isEnabled(spark, t)) -- ctes
    if (active.isEmpty) return sql
    val referenced = RowidRewrite.referencedTables(sql, active)
    if (referenced.isEmpty) return sql
    val vis: Map[String, Seq[String]] =
      referenced.map(t => t -> visibleColumns(spark, t)).toMap
    // a visible column named `oid`/`_rowid_` on any referenced table
    // shadows that alias (SQLite's rule — bare references resolve to
    // the column, so the token must survive)
    val shadowed = vis.valuesIterator.flatten
      .map(_.toLowerCase).filter(c => c == "oid" || c == "_rowid_").toSet
    val normalized =
      if (hasTok) RowidRewrite.normalizeAliases(sql, shadowed) else sql
    RowidRewrite.expandStars(normalized, vis)
  }
}
