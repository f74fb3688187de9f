package graft.exec

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.text2sql.SqlText

/** SQLite introspection surface for generated SQL. In the reference the
  * model's statements run against a real SQLite database, where `PRAGMA
  * table_info` and the `sqlite_master` catalog always exist and models
  * routinely lean on them for schema questions (reference
  * pandasqlite/pandasqlite.py:245-247 delegates any statement). Spark
  * has neither, so:
  *
  *  - `PRAGMA table_info(T)` / `PRAGMA table_list` statements render
  *    the SQLite-shaped rows from the session catalog;
  *  - the table-valued form `pragma_table_info('T')` inside a SELECT is
  *    rewritten to an on-demand temp view of the same rows;
  *  - a statement referencing `sqlite_master` gets a session view of
  *    that name built from the catalog — `sql` column synthesized with
  *    the same CREATE TABLE rendering the ingestion snapshot uses
  *    ([[graft.ingest.Ddl.createTable]]), so the two introspection
  *    surfaces always agree.
  *
  * Other pragmas raise a targeted error (visible-failure policy): they
  * configure storage engines this library does not have.
  */
object Pragma {

  private val tableInfoSchema = StructType(Seq(
    StructField("cid", IntegerType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("type", StringType, nullable = false),
    StructField("notnull", IntegerType, nullable = false),
    StructField("dflt_value", StringType, nullable = true),
    StructField("pk", IntegerType, nullable = false)))

  private val tableListSchema = StructType(Seq(
    StructField("schema", StringType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("type", StringType, nullable = false),
    StructField("ncol", IntegerType, nullable = false),
    StructField("wr", IntegerType, nullable = false),
    StructField("strict", IntegerType, nullable = false)))

  private val masterSchema = StructType(Seq(
    StructField("type", StringType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("tbl_name", StringType, nullable = false),
    StructField("rootpage", IntegerType, nullable = false),
    // NULL for UNIQUE-constraint autoindexes, exactly SQLite's rows
    StructField("sql", StringType, nullable = true)))

  /** `PRAGMA table_info(T)` rows for one table. Types use the same
    * rendering as the snapshot DDL (ingest/Ddl.sqlType); `notnull`
    * reflects the catalog's nullability; `pk` is the column's 1-based
    * position in a session-declared PRIMARY KEY (`CREATE TABLE …
    * PRIMARY KEY` — [[SessionKeys]]), 0 otherwise (ingested tables
    * declare none, exactly like the reference's pandas `to_sql` tables
    * — README divergence table). */
  def tableInfo(spark: SparkSession, table: String): DataFrame = {
    // the emulated rowid column ([[Rowid]]) is not a declared column —
    // SQLite's table_info never lists rowid; generated columns are
    // hidden from table_info too (measured: cids renumber densely
    // over the ordinary columns — table_xinfo is the full listing)
    val decl = SessionKeys.table(spark, table)
    val gens = decl.generated.map(_._1).toSet
    val schema = org.apache.spark.sql.types.StructType(
      spark.table(table).schema.fields.filterNot(f =>
        (f.name.equalsIgnoreCase("rowid") && Rowid.isEnabled(spark, table)) ||
          gens(f.name.toLowerCase)))
    val pk = decl.pk.getOrElse(Nil)
      .map(_.toLowerCase).zipWithIndex.toMap
    // dflt_value reports the DEFAULT text as written (SQLite's shape);
    // ingested tables declare none. notnull reports declared NOT NULL
    // columns (a WITHOUT ROWID PK registers as implicitly NOT NULL —
    // SQLite reports 1 for those too, measured)
    val dflt = decl.defaults
    val nn = decl.notNulls.map(_.toLowerCase).toSet
    val rows = schema.fields.zipWithIndex.map { case (f, i) =>
      Row(i, f.name, graft.ingest.Ddl.sqlType(f.dataType),
        if (!f.nullable || nn(f.name.toLowerCase)) 1 else 0,
        dflt.get(f.name.toLowerCase).map(_._1).orNull,
        pk.get(f.name.toLowerCase).map(_ + 1).getOrElse(0))
    }
    spark.createDataFrame(
      new java.util.ArrayList[Row](java.util.Arrays.asList(rows: _*)),
      tableInfoSchema)
  }

  /** `PRAGMA table_xinfo(T)`: every declared column (generated ones
    * included) with SQLite's hidden codes — 0 ordinary, 2 VIRTUAL
    * generated, 3 STORED generated; cids ordinal over ALL columns
    * (measured 3.40.1). */
  def tableXinfo(spark: SparkSession, table: String): DataFrame = {
    val decl = SessionKeys.table(spark, table)
    val gens = decl.generated
      .map { case (c, _, _, st) => c -> (if (st) 3 else 2) }.toMap
    val schema = org.apache.spark.sql.types.StructType(
      spark.table(table).schema.fields.filterNot(f =>
        f.name.equalsIgnoreCase("rowid") && Rowid.isEnabled(spark, table)))
    val pk = decl.pk.getOrElse(Nil)
      .map(_.toLowerCase).zipWithIndex.toMap
    val dflt = decl.defaults
    val nn = decl.notNulls.map(_.toLowerCase).toSet
    val rows = schema.fields.zipWithIndex.map { case (f, i) =>
      Row(i, f.name, graft.ingest.Ddl.sqlType(f.dataType),
        if (!f.nullable || nn(f.name.toLowerCase)) 1 else 0,
        dflt.get(f.name.toLowerCase).map(_._1).orNull,
        pk.get(f.name.toLowerCase).map(_ + 1).getOrElse(0),
        gens.getOrElse(f.name.toLowerCase, 0))
    }
    spark.createDataFrame(
      new java.util.ArrayList[Row](java.util.Arrays.asList(rows: _*)),
      org.apache.spark.sql.types.StructType(tableInfoSchema.fields :+
        StructField("hidden", IntegerType, nullable = false)))
  }

  private val indexListSchema = StructType(Seq(
    StructField("seq", IntegerType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("unique", IntegerType, nullable = false),
    StructField("origin", StringType, nullable = false),
    StructField("partial", IntegerType, nullable = false)))

  private val indexInfoSchema = StructType(Seq(
    StructField("seqno", IntegerType, nullable = false),
    StructField("cid", IntegerType, nullable = false),
    StructField("name", StringType, nullable = false)))

  private val indexXinfoSchema = StructType(Seq(
    StructField("seqno", IntegerType, nullable = false),
    StructField("cid", IntegerType, nullable = false),
    StructField("name", StringType, nullable = true),
    StructField("desc", IntegerType, nullable = false),
    StructField("coll", StringType, nullable = false),
    StructField("key", IntegerType, nullable = false)))

  /** (seqno, cid, name) triples of a declared index's key columns —
    * the row core `index_info` and `index_xinfo` share. */
  private def indexKeyRows(spark: SparkSession, index: String)
      : Seq[(Int, Int, String)] =
    SessionKeys.indexByName(spark, index) match {
      case None => Nil // SQLite: unknown index = empty result
      case Some(ix) =>
        val colIdx = spark.table(Ddl.quote(ix.table))
          .schema.fieldNames.map(_.toLowerCase).zipWithIndex.toMap
        ix.cols.zipWithIndex.map { case (c, i) =>
          (i, colIdx.getOrElse(c.toLowerCase, -1), c)
        }
    }

  /** `PRAGMA index_xinfo(I)`: index_info plus the per-column
    * ASC/DESC + collation riders (kept at CREATE INDEX) and SQLite's
    * trailing rowid auxiliary row (cid -1, name NULL, key 0) — shape
    * measured on sqlite 3.40.1. */
  private def indexXinfo(spark: SparkSession, index: String): DataFrame = {
    val core = indexKeyRows(spark, index)
    val riders = SessionKeys.indexRiders(spark, index)
    val rows =
      if (core.isEmpty) Array.empty[Row]
      else (core.zipWithIndex.map { case ((i, cid, c), k) =>
        val (desc, coll) = riders.lift(k).getOrElse((false, "BINARY"))
        Row(i, cid, c, if (desc) 1 else 0, coll, 1)
      } :+ Row(core.length, -1, null, 0, "BINARY", 0)).toArray
    spark.createDataFrame(
      new java.util.ArrayList[Row](java.util.Arrays.asList(rows: _*)),
      indexXinfoSchema)
  }

  /** `PRAGMA index_list(T)`: the session-declared indexes
    * ([[SessionKeys]] — `CREATE [UNIQUE] INDEX` plus UNIQUE-constraint
    * autoindexes), SQLite's shape: origin 'c' (created) / 'u' (unique
    * constraint), partial = 1 for indexes declared with a WHERE
    * predicate. */
  private def indexList(spark: SparkSession, table: String): DataFrame = {
    spark.table(Ddl.quote(table)) // targeted missing-table error
    val rows = SessionKeys.indexesFor(spark, table).zipWithIndex.map {
      case ((name, ix), i) =>
        Row(i, name, if (ix.unique) 1 else 0, ix.origin,
          if (ix.uwhere.isDefined) 1 else 0)
    }
    spark.createDataFrame(
      new java.util.ArrayList[Row](java.util.Arrays.asList(rows: _*)),
      indexListSchema)
  }

  /** `PRAGMA index_info(I)`: the index's key columns — (seqno in the
    * index, cid in the table, column name). */
  private def indexInfo(spark: SparkSession, index: String): DataFrame = {
    val rows = indexKeyRows(spark, index)
      .map { case (i, cid, c) => Row(i, cid, c) }.toArray
    spark.createDataFrame(
      new java.util.ArrayList[Row](java.util.Arrays.asList(rows: _*)),
      indexInfoSchema)
  }

  private def tableList(spark: SparkSession): DataFrame = {
    // wr / strict flags report the declared table options (SQLite's
    // columns); the internal sqlite_sequence table lists once any
    // AUTOINCREMENT table was created, as SQLite's does
    val rows = sessionTables(spark).map { case (name, schema) =>
      val decl = SessionKeys.table(spark, name)
      Row("main", name, "table", schema.length,
        if (decl.withoutRowid) 1 else 0, if (decl.strict.nonEmpty) 1 else 0)
    } ++ (if (SessionKeys.sequenceTableExists(spark))
            Seq(Row("main", "sqlite_sequence", "table", 2, 0, 0))
          else Nil)
    spark.createDataFrame(
      new java.util.ArrayList[Row](java.util.Arrays.asList(rows: _*)),
      tableListSchema)
  }

  /** Catalog tables visible to generated SQL, sorted for determinism.
    * The whole `graft_` prefix is the engine's reserved namespace
    * (pragma TVF views, trigger slices, DML scratch views — e.g.
    * `graft_updf_*`, `graft_trig_*`); filtering it keeps transient
    * helpers out of `sqlite_master` / `PRAGMA table_list` even if an
    * aborted statement left one registered — the same rule SQLite
    * applies to its own `sqlite_*` objects. */
  private def sessionTables(spark: SparkSession): Seq[(String, StructType)] =
    spark.catalog.listTables().collect().toIndexedSeq
      .map(_.name)
      .filterNot(n => n == "sqlite_master" || n == "sqlite_sequence" ||
        n.startsWith("graft_"))
      .sorted
      .map { n =>
        // hide the emulated rowid from synthesized DDL / column counts
        // (SQLite's catalog never lists rowid as a declared column)
        val s = spark.table(n).schema
        val vis =
          if (Rowid.isEnabled(spark, n))
            StructType(s.fields.filterNot(_.name.equalsIgnoreCase("rowid")))
          else s
        (n, vis)
      }

  /** (Re)build the `sqlite_master` session view from the catalog. */
  def registerSqliteMaster(spark: SparkSession): Unit = {
    val tableRows = sessionTables(spark).map { case (name, schema) =>
      // a CREATE VIEW lists as SQLite does: type 'view', tbl_name =
      // its own name, sql = the CREATE text as registered
      SessionViews.createSql(spark, name) match {
        case Some(viewSql) => Row("view", name, name, 0, viewSql)
        case None => tableMasterRow(spark, name, schema)
      }
    }
    // session-declared indexes list as SQLite's would (type 'index',
    // tbl_name = the indexed table, sql = the synthesized statement —
    // NULL for UNIQUE-constraint autoindexes, exactly SQLite's rows)
    val indexRows = SessionKeys.allIndexes(spark).map { case (name, ix) =>
      val verb = if (ix.unique) "CREATE UNIQUE INDEX" else "CREATE INDEX"
      val sql =
        if (ix.origin != "c") null
        else s"$verb $name ON ${ix.table} (${ix.cols.mkString(", ")})"
      Row("index", name, ix.table, 0, sql)
    }
    // registered triggers list as SQLite does: type 'trigger',
    // tbl_name = the trigger's table, sql = the statement as written
    val triggerRows = Triggers.masterRows(spark).map {
      case (name, table, sql) => Row("trigger", name, table, 0, sql)
    }
    // once any AUTOINCREMENT table was created, SQLite's internal
    // sqlite_sequence table exists (it survives drops of the tables
    // that created it) — exactly its catalog row text
    val seqRow =
      if (!SessionKeys.sequenceTableExists(spark)) Nil
      else Seq(Row("table", "sqlite_sequence", "sqlite_sequence", 0,
        "CREATE TABLE sqlite_sequence(name,seq)"))
    val rows = tableRows ++ seqRow ++ indexRows ++ triggerRows
    spark.createDataFrame(
      new java.util.ArrayList[Row](java.util.Arrays.asList(rows: _*)),
      masterSchema).createOrReplaceTempView("sqlite_master")
  }

  /** (Re)build the queryable `sqlite_sequence` view: one (name, seq)
    * row per AUTOINCREMENT table that has inserted at least once —
    * SQLite adds the row on first insert, renames it with the table,
    * drops it with the table, never lowers seq. */
  def registerSqliteSequence(spark: SparkSession): Unit = {
    if (!SessionKeys.sequenceTableExists(spark)) return
    val rows = SessionKeys.sequenceRows(spark).map { case (n, v) =>
      Row(n, v)
    }
    spark.createDataFrame(
      new java.util.ArrayList[Row](java.util.Arrays.asList(rows: _*)),
      StructType(Seq(
        StructField("name", StringType, nullable = false),
        StructField("seq", LongType, nullable = false))))
      .createOrReplaceTempView("sqlite_sequence")
  }

  /** True if the statement references the sqlite_sequence catalog. */
  def referencesSequence(sql: String): Boolean =
    referencesInCode(sql, "sqlite_sequence")

  private def tableMasterRow(spark: SparkSession, name: String,
                             schema: StructType): Row = {
    {
      // session-declared DEFAULTs and PRIMARY KEY render into the
      // synthesized DDL (SQLite's sqlite_master.sql carries the
      // original constraint text; `PRAGMA table_info` agrees)
      val decl = SessionKeys.table(spark, name)
      val dflt = decl.defaults
      val pk = decl.pk.getOrElse(Nil)
      val fks = decl.fks
      val gens = decl.generated
        .map { case (c, raw, _, st) => c -> (raw, st) }.toMap
      val nn = decl.notNulls.map(_.toLowerCase).toSet
      val checks = decl.checks
      val colls = decl.collates
      val base = graft.ingest.Ddl.createTable(name, schema).trim
      val sql =
        if (dflt.isEmpty && pk.isEmpty && fks.isEmpty && gens.isEmpty &&
            nn.isEmpty && checks.isEmpty && colls.isEmpty) base
        else {
          val cols = schema.fields.map { f =>
            val d = (if (nn(f.name.toLowerCase)) " NOT NULL" else "") +
              dflt.get(f.name.toLowerCase)
                .map(v => s" DEFAULT ${v._1}").getOrElse("") +
              colls.get(f.name.toLowerCase)
                .map(c => s" COLLATE $c").getOrElse("") +
              gens.get(f.name.toLowerCase).map { case (raw, st) =>
                s" GENERATED ALWAYS AS ($raw)" + (if (st) " STORED" else "")
              }.getOrElse("")
            s"\t`${f.name}` ${graft.ingest.Ddl.sqlType(f.dataType)}$d"
          } ++ (if (pk.isEmpty) Nil
                else Seq(s"\tPRIMARY KEY (${pk.mkString(", ")})")) ++
            checks.map { k =>
              if (k.name.isEmpty) s"\tCHECK (${k.raw})"
              else s"\tCONSTRAINT ${k.name} CHECK (${k.raw})"
            } ++
            fks.map { fk =>
              val tgt = if (fk.parentCols.isEmpty) fk.parent
                        else s"${fk.parent} (${fk.parentCols.mkString(", ")})"
              val acts =
                (if (fk.onDelete != "NO ACTION")
                   s" ON DELETE ${fk.onDelete}" else "") +
                (if (fk.onUpdate != "NO ACTION")
                   s" ON UPDATE ${fk.onUpdate}" else "")
              s"\tFOREIGN KEY (${fk.cols.mkString(", ")}) REFERENCES $tgt$acts"
            }
          s"CREATE TABLE `$name` (\n${cols.mkString(", \n")}\n)"
        }
      // STRICT / WITHOUT ROWID table options render into the
      // synthesized text, as SQLite's original-statement sql would
      val opts =
        (if (decl.strict.nonEmpty) Seq("STRICT") else Nil) ++
          (if (decl.withoutRowid) Seq("WITHOUT ROWID") else Nil)
      Row("table", name, name, 0,
        if (opts.isEmpty) sql else s"$sql ${opts.mkString(", ")}")
    }
  }

  private val pragmaTableInfoRe =
    """(?is)^\s*pragma\s+table_info\s*\(\s*(?:'([^']+)'|"([^"]+)"|`([^`]+)`|([A-Za-z_][\w]*))\s*\)\s*$""".r
  private val pragmaTableListRe = """(?is)^\s*pragma\s+table_list\s*$""".r
  private val pragmaIndexListRe =
    """(?is)^\s*pragma\s+index_list\s*\(\s*(?:'([^']+)'|"([^"]+)"|`([^`]+)`|([A-Za-z_][\w]*))\s*\)\s*$""".r
  private val pragmaIndexInfoRe =
    """(?is)^\s*pragma\s+index_info\s*\(\s*(?:'([^']+)'|"([^"]+)"|`([^`]+)`|([A-Za-z_][\w]*))\s*\)\s*$""".r
  private val pragmaTableXinfoRe =
    """(?is)^\s*pragma\s+table_xinfo\s*\(\s*(?:'([^']+)'|"([^"]+)"|`([^`]+)`|([A-Za-z_][\w]*))\s*\)\s*$""".r
  private val pragmaIndexXinfoRe =
    """(?is)^\s*pragma\s+index_xinfo\s*\(\s*(?:'([^']+)'|"([^"]+)"|`([^`]+)`|([A-Za-z_][\w]*))\s*\)\s*$""".r
  private val pragmaFkListRe =
    """(?is)^\s*pragma\s+foreign_key_list\s*\(\s*(?:'([^']+)'|"([^"]+)"|`([^`]+)`|([A-Za-z_][\w]*))\s*\)\s*$""".r
  private val pragmaFkCheckRe =
    """(?is)^\s*pragma\s+foreign_key_check\s*(?:\(\s*(?:'([^']+)'|"([^"]+)"|`([^`]+)`|([A-Za-z_][\w]*))\s*\))?\s*$""".r
  private val pragmaOtherRe = """(?is)^\s*pragma\s+(\w+).*$""".r

  /** Storage-layer configuration pragmas whose ASSIGNMENT form cannot
    * change any query result here (no SQLite storage engine exists to
    * configure, and ingested tables declare no foreign keys for
    * `foreign_keys=ON` to enforce). Both forms are SESSION-TRACKED in
    * spark.conf so the echo contract matches real SQLite exactly
    * (pinned in PragmaSpec against python sqlite3 3.40.1 on a file
    * db): busy_timeout and mmap_size echo one row from BOTH forms,
    * journal_mode echoes the accepted mode, the others assign
    * silently but ANSWER their query form — a write-ok/read-error
    * asymmetry would be indefensible. `case_sensitive_like` is the
    * one semantics-CHANGING pragma here: its flag feeds the dialect
    * translator's LIKE rewrite ([[caseSensitiveLike]]); SQLite makes
    * it write-only (both forms answer nothing). */
  /** Both of SQLite's equivalent assignment spellings: `PRAGMA x = v`
    * and the call form `PRAGMA x(v)` (verified identical echo shapes
    * on 3.40.1 for every tracked pragma). */
  private val trackedSetRe =
    ("""(?is)^\s*pragma\s+(foreign_keys|journal_mode|synchronous|""" +
      """cache_size|temp_store|busy_timeout|mmap_size|page_size|""" +
      """case_sensitive_like|recursive_triggers|user_version|""" +
      """application_id|schema_version|query_only|secure_delete|""" +
      """read_uncommitted|locking_mode)""" +
      """\s*(?:=\s*(\S.*?)|\(\s*([^)]*?)\s*\))\s*$""").r
  private val trackedGetRe =
    ("""(?is)^\s*pragma\s+(journal_mode|synchronous|""" +
      """cache_size|temp_store|busy_timeout|mmap_size|page_size|""" +
      """case_sensitive_like|recursive_triggers|user_version|""" +
      """application_id|schema_version|query_only|secure_delete|""" +
      """read_uncommitted|locking_mode)\s*$""").r

  private def confKey(name: String) = s"spark.graft.pragma.$name"

  /** One successful schema-changing statement → `PRAGMA
    * schema_version` + 1 (measured: each CREATE/DROP/ALTER of a
    * table/view/index/trigger bumps the cookie by exactly one; no-op
    * IF [NOT] EXISTS forms do not). The DDL executors call this at
    * their success points. 32-bit wrap like the other header cookies.
    * Documented divergence: SQLite keeps a separate cookie for the
    * temp schema, so TEMP objects don't move main's version — this
    * engine's single session namespace bumps for them too. */
  def bumpSchemaVersion(spark: SparkSession): Unit =
    // read-modify-write on the conf cookie: guarded by a session-scoped
    // lock so concurrent DDL on a shared session can't lose increments
    // — the FK/trigger registries synchronize; the cookie must too
    versionLock(spark).synchronized {
      val v = tracked(spark, "schema_version", "0").toLong
      spark.conf.set(confKey("schema_version"), ((v + 1).toInt).toString)
    }

  private val versionLock = graft.SessionLocal(new Object)

  private def tracked(spark: SparkSession, name: String, dflt: String): String =
    spark.conf.get(confKey(name), dflt)

  /** The session's `PRAGMA case_sensitive_like` state — consumed by
    * [[graft.text2sql.SqlDialect.translate]]'s LIKE rewrite (flag on =
    * SQLite's LIKE is a BINARY comparison = Spark's own LIKE; flag
    * off = the default ASCII-folding LIKE → ILIKE). */
  def caseSensitiveLike(spark: SparkSession): Boolean =
    tracked(spark, "case_sensitive_like", "0") == "1"

  /** `PRAGMA query_only = 1` — enforced: [[Runner]] refuses every
    * write route (DML, DDL, triggers) with SQLite's own error text
    * while the flag is on. */
  def queryOnly(spark: SparkSession): Boolean =
    tracked(spark, "query_only", "0") == "1"

  /** `PRAGMA recursive_triggers` — consumed by [[Triggers]]: ON lets
    * re-entrant firings proceed (depth-bounded), OFF (the default)
    * skips them. */
  def recursiveTriggers(spark: SparkSession): Boolean =
    tracked(spark, "recursive_triggers", "0") == "1"

  /** `PRAGMA foreign_keys = 1` — consumed by [[ForeignKeys]]: ON
    * enforces the declared FOREIGN KEY constraints and runs their
    * actions; OFF (the default) only records them. */
  def foreignKeys(spark: SparkSession): Boolean =
    tracked(spark, "foreign_keys", "0") == "1"

  /** SQLite's boolean-pragma parse (sqlite3GetBoolean): any nonzero
    * integer → 1 (`foreign_keys = 2` is ON, measured), yes/true/on →
    * 1, everything else (including unrecognized words) → 0. */
  private def boolValue(v: String): String = {
    val b = unquote(v).toLowerCase
    try { if (b.toLong != 0) "1" else "0" }
    catch { case _: NumberFormatException =>
      if (b == "yes" || b == "true" || b == "on") "1" else "0" }
  }

  private def unquote(v: String): String =
    v.trim.stripPrefix("'").stripSuffix("'")
      .stripPrefix("\"").stripSuffix("\"")

  private def oneValue(spark: SparkSession, name: String, v: Any,
                       dt: DataType): DataFrame =
    spark.createDataFrame(
      new java.util.ArrayList[Row](java.util.Arrays.asList(Row(v))),
      StructType(Seq(StructField(name, dt, nullable = false))))

  /** Execute a bare `PRAGMA …` statement (caller strips trailing `;`). */
  /** `PRAGMA main.x` / `PRAGMA temp.x` — SQLite accepts a schema
    * qualifier on every pragma (main and temp ALWAYS exist) and
    * raises "unknown database" otherwise. This engine keeps one
    * namespace (CREATE TEMP VIEW lands in the same session catalog),
    * so both known qualifiers normalize away — documented divergence:
    * `temp.table_info(t)` answers main's rows where SQLite separates
    * the schemas — and any other prefix gets SQLite's error shape. */
  private val schemaQualRe =
    """(?is)^(\s*pragma\s+)([A-Za-z_]\w*)\s*\.\s*(.*)$""".r

  def run(spark: SparkSession, sql0: String): DataFrame = {
    val sql = sql0 match {
      case schemaQualRe(head, schema, rest) =>
        if (schema.equalsIgnoreCase("main") ||
            schema.equalsIgnoreCase("temp")) head + rest
        else throw new UnsupportedOperationException(
          s"unknown database $schema")
      case _ => sql0
    }
    runNormalized(spark, sql)
  }

  private def runNormalized(spark: SparkSession, sql: String): DataFrame = sql match {
    case pragmaTableInfoRe(q1, q2, q3, bare) =>
      tableInfo(spark, Seq(q1, q2, q3, bare).find(_ != null).get)
    case pragmaTableListRe() => tableList(spark)
    case pragmaIndexListRe(q1, q2, q3, bare) =>
      indexList(spark, Seq(q1, q2, q3, bare).find(_ != null).get)
    case pragmaIndexInfoRe(q1, q2, q3, bare) =>
      indexInfo(spark, Seq(q1, q2, q3, bare).find(_ != null).get)
    case pragmaTableXinfoRe(q1, q2, q3, bare) =>
      tableXinfo(spark, Seq(q1, q2, q3, bare).find(_ != null).get)
    case pragmaIndexXinfoRe(q1, q2, q3, bare) =>
      indexXinfo(spark, Seq(q1, q2, q3, bare).find(_ != null).get)
    case pragmaFkListRe(q1, q2, q3, bare) =>
      ForeignKeys.foreignKeyList(spark,
        Seq(q1, q2, q3, bare).find(_ != null).get)
    case pragmaFkCheckRe(q1, q2, q3, bare) =>
      ForeignKeys.foreignKeyCheck(spark,
        Seq(q1, q2, q3, bare).find(_ != null))
    case trackedSetRe(name0, eqValue, callValue) =>
      val name = name0.toLowerCase
      val value = if (eqValue != null) eqValue else callValue
      val v = unquote(value)
      def num(dflt: Long): Long =
        try v.toLong catch { case _: NumberFormatException => dflt }
      name match {
        case "journal_mode" =>
          // assignment answers the ACCEPTED mode in SQLite; an
          // unrecognized mode answers the (unchanged) current mode —
          // never an echo SQLite could not produce
          val cur = tracked(spark, name, "memory")
          val mode =
            if (Set("delete", "truncate", "persist", "memory", "wal",
                "off").contains(v.toLowerCase)) v.toLowerCase
            else cur
          spark.conf.set(confKey(name), mode)
          oneValue(spark, "journal_mode", mode, StringType)
        case "busy_timeout" =>
          // junk / negative → 0; echoes the stored value, col `timeout`
          val t = math.max(0L, num(0L))
          spark.conf.set(confKey(name), t.toString)
          oneValue(spark, "timeout", t, LongType)
        case "mmap_size" =>
          // junk parses as 0 (atoi) and negatives reset to 0 — both
          // measured on 3.40.1 with a nonzero current value
          val sz = math.max(0L, num(0L))
          spark.conf.set(confKey(name), sz.toString)
          oneValue(spark, "mmap_size", sz, LongType)
        case "synchronous" =>
          // off=0 normal=1 full=2 extra=3; DIGIT-led tokens take &7
          // (`= 9` answers 1), anything else — including negatives,
          // which never reach atoi — falls to the default 1 (measured)
          val lvl = v.toLowerCase match {
            case "off" => 0L; case "normal" => 1L; case "full" => 2L
            case "extra" => 3L
            case s if s.nonEmpty && s.forall(_.isDigit) =>
              try s.toLong & 7 catch { case _: NumberFormatException => 1L }
            case _ => 1L
          }
          spark.conf.set(confKey(name), lvl.toString)
          spark.emptyDataFrame
        case "temp_store" =>
          // anything outside 0..2 clamps to 0 (`= 7` answers 0, measured)
          val ts0 = v.toLowerCase match {
            case "default" => 0L; case "file" => 1L; case "memory" => 2L
            case s => try s.toLong catch
              { case _: NumberFormatException => 0L }
          }
          val ts = if (ts0 >= 0 && ts0 <= 2) ts0 else 0L
          spark.conf.set(confKey(name), ts.toString)
          spark.emptyDataFrame
        case "page_size" =>
          // only powers of two in [512, 65536] are accepted
          val n = num(-1L)
          if (n >= 512 && n <= 65536 && (n & (n - 1)) == 0)
            spark.conf.set(confKey(name), n.toString)
          spark.emptyDataFrame
        case "cache_size" =>
          spark.conf.set(confKey(name), num(0L).toString)
          spark.emptyDataFrame
        case "user_version" | "application_id" | "schema_version" =>
          // 32-bit schema cookies (SQLite stores them in the db
          // header): assignment is silent, junk parses to 0, values
          // wrap to signed 32-bit (measured: = 4294967296 reads 0).
          // Being HEADER WRITES, they refuse under query_only
          // (measured: sqlite raises the readonly error and keeps 0)
          if (queryOnly(spark))
            throw new UnsupportedOperationException(
              "attempt to write a readonly database (PRAGMA query_only " +
                "is on; PRAGMA query_only = 0 to re-enable writes)")
          spark.conf.set(confKey(name), num(0L).toInt.toString)
          spark.emptyDataFrame
        case "query_only" | "read_uncommitted" =>
          // silent boolean assignment (measured); query_only is
          // ENFORCED — Runner refuses every write route while it is on
          spark.conf.set(confKey(name), boolValue(value))
          spark.emptyDataFrame
        case "secure_delete" =>
          // assignment ECHOES the resulting value (measured); FAST = 2
          val sd = if (unquote(value).equalsIgnoreCase("fast")) "2"
                   else boolValue(value)
          spark.conf.set(confKey(name), sd)
          oneValue(spark, name, sd.toLong, LongType)
        case "locking_mode" =>
          // normal/exclusive accepted; anything else keeps the current
          // mode; assignment echoes the RESULTING mode (measured)
          val cur = tracked(spark, name, "normal")
          val mode = unquote(value).toLowerCase match {
            case m @ ("normal" | "exclusive") => m
            case _ => cur
          }
          spark.conf.set(confKey(name), mode)
          oneValue(spark, name, mode, StringType)
        case "foreign_keys" | "case_sensitive_like" =>
          spark.conf.set(confKey(name), boolValue(value))
          spark.emptyDataFrame
        case "recursive_triggers" =>
          // ON lets re-entrant firings proceed level-by-level over the
          // affected slices — the set-based equivalent of SQLite's
          // row-at-a-time recursion (measured identical outcomes: a
          // WHEN-bounded counter trigger inserts the same multiset),
          // bounded at SQLite's depth 1000 with its own error text
          spark.conf.set(confKey(name), boolValue(value))
          spark.emptyDataFrame
      }
    case trackedGetRe(name0) =>
      val name = name0.toLowerCase
      name match {
        case "journal_mode" =>
          oneValue(spark, name, tracked(spark, name, "memory"), StringType)
        case "busy_timeout" =>
          oneValue(spark, "timeout", tracked(spark, name, "0").toLong, LongType)
        case "mmap_size" =>
          oneValue(spark, name, tracked(spark, name, "0").toLong, LongType)
        case "synchronous" =>
          oneValue(spark, name, tracked(spark, name, "2").toLong, LongType)
        case "cache_size" =>
          oneValue(spark, name, tracked(spark, name, "-2000").toLong, LongType)
        case "temp_store" =>
          oneValue(spark, name, tracked(spark, name, "0").toLong, LongType)
        case "page_size" =>
          oneValue(spark, name, tracked(spark, name, "4096").toLong, LongType)
        case "case_sensitive_like" =>
          spark.emptyDataFrame // write-only in SQLite: query answers nothing
        case "recursive_triggers" =>
          oneValue(spark, name,
            tracked(spark, name, "0").toLong, LongType)
        case "user_version" | "application_id" | "schema_version" =>
          oneValue(spark, name, tracked(spark, name, "0").toLong, LongType)
        case "query_only" | "read_uncommitted" =>
          oneValue(spark, name, tracked(spark, name, "0").toLong, LongType)
        case "secure_delete" =>
          // the python-bundled sqlite the reference runs on builds with
          // SQLITE_SECURE_DELETE → default ON (measured 3.40.1)
          oneValue(spark, name, tracked(spark, name, "1").toLong, LongType)
        case "locking_mode" =>
          oneValue(spark, name, tracked(spark, name, "normal"), StringType)
      }
    case pragmaOtherRe(name) if name.equalsIgnoreCase("integrity_check") ||
        name.equalsIgnoreCase("quick_check") =>
      // a lake-backed session has no B-tree to corrupt
      oneValue(spark, name.toLowerCase, "ok", StringType)
    case pragmaOtherRe(name) if name.equalsIgnoreCase("encoding") =>
      oneValue(spark, "encoding", "UTF-8", StringType)
    case pragmaOtherRe(name) if name.equalsIgnoreCase("optimize") =>
      // ANALYZE-style maintenance on close (tools emit it habitually);
      // answers nothing in SQLite, and there is no B-tree to optimize
      spark.emptyDataFrame
    case pragmaOtherRe(name) if name.equalsIgnoreCase("wal_checkpoint") =>
      // non-WAL journal answers (busy, log, checkpointed) = (0,-1,-1)
      // from both the bare and the (PASSIVE|FULL|…) call form (measured)
      spark.createDataFrame(
        new java.util.ArrayList[Row](java.util.Arrays.asList(
          Row(0, -1, -1))),
        StructType(Seq(
          StructField("busy", IntegerType, nullable = false),
          StructField("log", IntegerType, nullable = false),
          StructField("checkpointed", IntegerType, nullable = false))))
    case pragmaOtherRe(name) if name.equalsIgnoreCase("collation_list") =>
      // exactly the collations this engine implements, in SQLite
      // 3.40.1's measured listing order
      spark.createDataFrame(
        new java.util.ArrayList[Row](java.util.Arrays.asList(
          Row(0, "RTRIM"), Row(1, "NOCASE"), Row(2, "BINARY"))),
        StructType(Seq(
          StructField("seq", IntegerType, nullable = false),
          StructField("name", StringType, nullable = false))))
    case pragmaOtherRe(name) if name.equalsIgnoreCase("foreign_keys") =>
      // reflects the session's assignment (enforcement never happens
      // here — ingested tables declare no FKs); SQLite's default: OFF
      oneValue(spark, "foreign_keys",
        tracked(spark, "foreign_keys", "0").toInt, IntegerType)
    case pragmaOtherRe(name) if name.equalsIgnoreCase("database_list") =>
      spark.createDataFrame(
        new java.util.ArrayList[Row](
          java.util.Arrays.asList(Row(0, "main", ""))),
        StructType(Seq(
          StructField("seq", IntegerType, nullable = false),
          StructField("name", StringType, nullable = false),
          StructField("file", StringType, nullable = false))))
    case pragmaOtherRe(name) =>
      throw new UnsupportedOperationException(
        s"PRAGMA $name is not supported: graft has no SQLite storage " +
          s"engine to configure. Introspection pragmas ARE supported: " +
          s"PRAGMA table_info(<table>), PRAGMA table_list, " +
          s"PRAGMA index_list(<table>), PRAGMA index_info(<index>), " +
          s"PRAGMA foreign_key_list(<table>), PRAGMA foreign_key_check, " +
          s"and the sqlite_master catalog view.")
    case _ =>
      throw new UnsupportedOperationException(s"unparseable PRAGMA: $sql")
  }

  private val tvfRe =
    """(?is)pragma_table_(x?)info\s*\(\s*'([^']+)'\s*\)""".r

  /** Rewrite table-valued `pragma_table_info('T')` /
    * `pragma_table_xinfo('T')` calls in code (not in comments or
    * literals) to on-demand temp views; returns the rewritten SQL.
    * Non-literal arguments are left in place → visible analysis error
    * (policy: never guess). */
  def rewriteTvf(spark: SparkSession, sql: String): String = {
    val m = tvfRe.pattern.matcher(sql)
    SqlText.rewrite(sql) { i =>
      if ((i > 0 && SqlText.isWordChar(sql.charAt(i - 1))) ||
          !m.region(i, sql.length).lookingAt()) None
      else {
        val x = m.group(1).nonEmpty
        val table = m.group(2)
        val view = (if (x) "graft_pragma_tx_" else "graft_pragma_ti_") +
          table.replaceAll("[^A-Za-z0-9_]", "_").toLowerCase
        (if (x) tableXinfo(spark, table) else tableInfo(spark, table))
          .createOrReplaceTempView(view)
        Some((view, m.end()))
      }
    }
  }

  /** True if the statement references the sqlite_master catalog. */
  def referencesMaster(sql: String): Boolean =
    referencesInCode(sql, "sqlite_master")

  /** `name` as a bare word in code: not in a comment or literal, not
    * quoted and not qualified (`x.name`). */
  private def referencesInCode(sql: String, name: String): Boolean =
    SqlText.find(sql, 0) { i =>
      SqlText.keywordAt(sql, i, name) && (i == 0 || sql.charAt(i - 1) != '.')
    } >= 0
}
