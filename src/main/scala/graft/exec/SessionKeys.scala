package graft.exec

import org.apache.spark.sql.SparkSession

/** Session-scoped conflict-key declarations for the generated-DML
  * path. SQLite resolves `INSERT OR REPLACE` / bare `ON CONFLICT`
  * against the target's PRIMARY KEY or any UNIQUE constraint; ingested
  * tables declare none (pandas `to_sql`, reference pandasqlite.py:115)
  * — for those graft keys on the leading column (documented README
  * divergence). But generated SQL can DECLARE keys mid-session
  * (`CREATE TABLE … PRIMARY KEY`, `CREATE UNIQUE INDEX`), and then
  * SQLite's own resolution rule applies — this registry carries those
  * declarations so [[Upsert]] resolves the same way. Column DEFAULTs
  * register here too (partial-column INSERTs fill them, `PRAGMA
  * table_info` reports them).
  *
  * State is keyed by the SparkSession itself in a WEAK map (sessions
  * are the engine's database scope, like the reference's in-memory
  * SQLite db): when a session is garbage-collected its declarations
  * go with it, so a long-lived driver cycling many sessions never
  * accumulates dead registry entries. Entries are also dropped
  * eagerly with their table ([[Ddl.drop]]) or index.
  */
object SessionKeys {

  // origin: 'c' = CREATE INDEX, 'u' = a UNIQUE table constraint's
  // automatic index, SQLite's own PRAGMA index_list codes
  private final case class IndexInfo(table: String, cols: Seq[String],
                                     unique: Boolean, origin: String,
                                     // per-column (descending?, collation)
                                     riders: Seq[(Boolean, String)] = Nil,
                                     // expression-keyed UNIQUE index:
                                     // executable Spark-SQL item texts
                                     // (cols empty then)
                                     uexprs: Seq[String] = Nil,
                                     // partial-index predicate,
                                     // executable (uniqueness applies
                                     // only among predicate-TRUE rows)
                                     uwhere: Option[String] = None,
                                     // registration sequence — key
                                     // APPLICATION order is declaration
                                     // order (SQLite), which
                                     // lexicographic names would
                                     // perturb past 9 constraints
                                     // (sqlite_autoindex_t_10 < _2)
                                     seq: Long = 0L)

  private final class State {
    // lowercased table -> declared PRIMARY KEY
    val pks = scala.collection.mutable.Map.empty[String, Seq[String]]
    // lowercased index name -> index info
    val indexes = scala.collection.mutable.Map.empty[String, IndexInfo]
    // lowercased table -> lowercased column ->
    // (raw DEFAULT text as written, executable Spark-SQL expression)
    val defaults =
      scala.collection.mutable.Map.empty[String, Map[String, (String, String)]]
    // lowercased table -> generated columns in declaration order:
    // (lowercased name, raw expr as written, executable Spark-SQL
    // expression, STORED?)
    val generated = scala.collection.mutable.Map
      .empty[String, Seq[(String, String, String, Boolean)]]
    // lowercased STRICT table -> lowercased column -> declared type
    // AS WRITTEN (the enforcement error names it verbatim)
    val strict =
      scala.collection.mutable.Map.empty[String, Map[String, String]]
    // lowercased tables declared WITHOUT ROWID (no rowid surface)
    val withoutRowid = scala.collection.mutable.Set.empty[String]
    // lowercased rowid table -> its rowid-ALIAS column as written:
    // a single-column PRIMARY KEY declared exactly INTEGER on a rowid
    // table (SQLite lang_createtable.html §5 — INT does NOT alias, and
    // WITHOUT ROWID tables have no rowid to alias)
    val rowidAlias = scala.collection.mutable.Map.empty[String, String]
    // lowercased table -> columns declared NOT NULL, as written in
    // declaration order (the enforcement error names t.c verbatim);
    // a WITHOUT ROWID PK registers its columns here too — SQLite makes
    // that implicit NOT NULL visible in table_info and its error
    val notNulls = scala.collection.mutable.Map.empty[String, Seq[String]]
    // lowercased table -> CHECK constraints in declaration order:
    // (CONSTRAINT name or "" = unnamed, raw expr as written,
    // executable Spark-SQL expression)
    val checks =
      scala.collection.mutable.Map.empty[String, Seq[(String, String, String)]]
    // lowercased table -> lowercased column -> declared collation
    // (uppercased; only non-BINARY entries register)
    val collates =
      scala.collection.mutable.Map.empty[String, Map[String, String]]
    // lowercased AUTOINCREMENT tables -> high-water sequence (0 until
    // the first insert; never decreases — SQLite sqlite_sequence)
    val autoinc = scala.collection.mutable.Map.empty[String, Long]
    // sticky: once any AUTOINCREMENT table was created, the
    // sqlite_sequence catalog table exists (it survives drops)
    var seqTableCreated = false
    // monotonic index-registration counter (declaration order)
    var indexSeq = 0L
  }

  // all access goes through per-State synchronization
  private val state = graft.SessionLocal(new State)

  /** Declare a table's PRIMARY KEY (CREATE TABLE with a PK/UNIQUE
    * constraint). */
  def declarePk(spark: SparkSession, table: String, cols: Seq[String]): Unit = {
    val s = state(spark)
    s.synchronized { s.pks(table.toLowerCase) = cols }
  }

  /** Register an index. Returns false when the name is taken (SQLite
    * errors unless IF NOT EXISTS). */
  def registerIndex(spark: SparkSession, name: String, table: String,
                    cols: Seq[String], unique: Boolean,
                    origin: String = "c",
                    riders: Seq[(Boolean, String)] = Nil,
                    uexprs: Seq[String] = Nil,
                    uwhere: Option[String] = None): Boolean = {
    val s = state(spark)
    s.synchronized {
      val n = name.toLowerCase
      if (s.indexes.contains(n)) false
      else {
        s.indexSeq += 1
        s.indexes(n) = IndexInfo(table.toLowerCase, cols, unique, origin,
          riders, uexprs, uwhere, s.indexSeq)
        true
      }
    }
  }

  /** Expression-keyed UNIQUE indexes on a table in DECLARATION order
    * (SQLite applies keys as declared — lexicographic names would
    * misorder sqlite_autoindex_t_10 before _2):
    * (index name, executable item expressions, partial predicate). */
  def uniqueExprIndexes(spark: SparkSession, table: String)
      : Seq[(String, Seq[String], Option[String])] = {
    val s = state(spark)
    val t = table.toLowerCase
    s.synchronized {
      s.indexes.toSeq
        .filter(e => e._2.table == t && e._2.unique && e._2.uexprs.nonEmpty)
        .sortBy(_._2.seq).map { case (n, i) => (n, i.uexprs, i.uwhere) }
    }
  }

  /** Column-keyed UNIQUE indexes on a table in DECLARATION order —
    * the enforcement set ([[Constraints.uniqueKeys]] pairs it with the
    * declared PK): (index name, columns, partial predicate). */
  def uniqueColIndexes(spark: SparkSession, table: String)
      : Seq[(String, Seq[String], Option[String])] = {
    val s = state(spark)
    val t = table.toLowerCase
    s.synchronized {
      s.indexes.toSeq
        .filter(e => e._2.table == t && e._2.unique && e._2.cols.nonEmpty)
        .sortBy(_._2.seq).map { case (n, i) => (n, i.cols, i.uwhere) }
    }
  }

  /** Names of the table's PARTIAL indexes (the `partial` flag of
    * `PRAGMA index_list`). */
  def partialIndexNames(spark: SparkSession, table: String): Set[String] = {
    val s = state(spark)
    val t = table.toLowerCase
    s.synchronized {
      s.indexes.toSeq
        .filter(e => e._2.table == t && e._2.uwhere.isDefined)
        .map(_._1).toSet
    }
  }

  /** Per-column (descending?, collation) riders of a declared index,
    * padded with the (false, "BINARY") default — feeds
    * `PRAGMA index_xinfo`. A stored "" collation means "no rider
    * written" (the enforcement path then falls back to the COLUMN's
    * declared collation) — rendered as BINARY here, SQLite's report. */
  def indexRiders(spark: SparkSession, name: String): Seq[(Boolean, String)] = {
    val s = state(spark)
    s.synchronized(s.indexes.get(name.toLowerCase)).map { i =>
      i.cols.indices.map { k =>
        val (d, c) = i.riders.lift(k).getOrElse((false, ""))
        (d, if (c.isEmpty) "BINARY" else c)
      }
    }.getOrElse(Nil)
  }

  /** Raw per-column rider collations of an index ("" = no rider
    * written, so the column's own declared collation governs — SQLite
    * index key comparison rules). */
  def riderCollations(spark: SparkSession, name: String): Seq[String] = {
    val s = state(spark)
    s.synchronized(s.indexes.get(name.toLowerCase)).map { i =>
      i.cols.indices.map(k => i.riders.lift(k).map(_._2).getOrElse(""))
    }.getOrElse(Nil)
  }

  /** Drop an index by name. Returns false when absent. */
  def dropIndex(spark: SparkSession, name: String): Boolean = {
    val s = state(spark)
    s.synchronized(s.indexes.remove(name.toLowerCase).isDefined)
  }

  /** Forget everything declared for a table (DROP TABLE/VIEW, or a
    * CREATE re-binding the name). */
  def forgetTable(spark: SparkSession, table: String): Unit = {
    val s = state(spark)
    val t = table.toLowerCase
    s.synchronized {
      s.pks.remove(t)
      s.defaults.remove(t)
      s.generated.remove(t)
      s.strict.remove(t)
      s.withoutRowid -= t
      s.rowidAlias.remove(t)
      s.notNulls.remove(t)
      s.checks.remove(t)
      s.collates.remove(t)
      s.autoinc.remove(t) // sqlite_sequence drops the row with the table
      s.indexes.filterInPlace((_, i) => i.table != t)
    }
  }

  /** Declare (merge) column DEFAULTs for a table: column →
    * (raw text as written — `PRAGMA table_info` reports it,
    * executable Spark-SQL expression — partial-column INSERTs fill
    * it, SQLite's rule). */
  def declareDefaults(spark: SparkSession, table: String,
                      ds: Seq[(String, (String, String))]): Unit =
    if (ds.nonEmpty) {
      val s = state(spark)
      val t = table.toLowerCase
      s.synchronized {
        s.defaults(t) = s.defaults.getOrElse(t, Map.empty) ++
          ds.map { case (c, v) => c.toLowerCase -> v }
      }
    }

  /** Declared DEFAULTs by lowercased column name. */
  def defaultsFor(spark: SparkSession, table: String)
      : Map[String, (String, String)] = {
    val s = state(spark)
    s.synchronized(s.defaults.getOrElse(table.toLowerCase, Map.empty))
  }

  /** Declare (append) generated columns for a table, in declaration
    * order: (lowercased name, raw expr, executable Spark-SQL expr,
    * STORED?). Write paths compute them in this order, so a generated
    * column may reference an earlier one (SQLite's chain rule). */
  def declareGenerated(spark: SparkSession, table: String,
                       gens: Seq[(String, String, String, Boolean)]): Unit =
    if (gens.nonEmpty) {
      val s = state(spark)
      val t = table.toLowerCase
      s.synchronized {
        s.generated(t) = s.generated.getOrElse(t, Nil) ++
          gens.map { case (c, raw, ex, st) => (c.toLowerCase, raw, ex, st) }
      }
    }

  /** Generated columns in declaration order (empty when none). */
  def generatedFor(spark: SparkSession, table: String)
      : Seq[(String, String, String, Boolean)] = {
    val s = state(spark)
    s.synchronized(s.generated.getOrElse(table.toLowerCase, Nil))
  }

  /** Declare a STRICT table: lowercased column → declared type as
    * written (write paths enforce SQLite 3.37 type rules and name the
    * type verbatim in the error). */
  def declareStrict(spark: SparkSession, table: String,
                    colTypes: Map[String, String]): Unit = {
    val s = state(spark)
    s.synchronized {
      s.strict(table.toLowerCase) =
        colTypes.map { case (c, t) => c.toLowerCase -> t }
    }
  }

  /** STRICT column types (empty = not a STRICT table). */
  def strictFor(spark: SparkSession, table: String): Map[String, String] = {
    val s = state(spark)
    s.synchronized(s.strict.getOrElse(table.toLowerCase, Map.empty))
  }

  /** Declare a table's rowid-alias column (single-column PK declared
    * exactly INTEGER on a rowid table — SQLite's alias rule). Only
    * such columns auto-assign missing/NULL keys; a non-alias
    * `INT PRIMARY KEY` stores the NULL, and a WITHOUT ROWID key
    * raises NOT NULL (both measured 3.40+). */
  def declareRowidAlias(spark: SparkSession, table: String,
                        col: String): Unit = {
    val s = state(spark)
    s.synchronized { s.rowidAlias(table.toLowerCase) = col }
  }

  /** The rowid-alias column, when the table declared one. */
  def rowidAliasOf(spark: SparkSession, table: String): Option[String] = {
    val s = state(spark)
    s.synchronized(s.rowidAlias.get(table.toLowerCase))
  }

  /** Declare (append) NOT NULL columns for a table, as written. */
  def declareNotNulls(spark: SparkSession, table: String,
                      cols: Seq[String]): Unit =
    if (cols.nonEmpty) {
      val s = state(spark)
      val t = table.toLowerCase
      s.synchronized {
        val cur = s.notNulls.getOrElse(t, Nil)
        s.notNulls(t) = cur ++ cols.filterNot(c =>
          cur.exists(_.equalsIgnoreCase(c)))
      }
    }

  /** NOT NULL columns in declaration order (empty when none). */
  def notNullsFor(spark: SparkSession, table: String): Seq[String] = {
    val s = state(spark)
    s.synchronized(s.notNulls.getOrElse(table.toLowerCase, Nil))
  }

  /** Declare (append) CHECK constraints for a table, in declaration
    * order: (CONSTRAINT name or "", raw expr as written, executable
    * Spark-SQL expression). */
  def declareChecks(spark: SparkSession, table: String,
                    cs: Seq[(String, String, String)]): Unit =
    if (cs.nonEmpty) {
      val s = state(spark)
      val t = table.toLowerCase
      s.synchronized { s.checks(t) = s.checks.getOrElse(t, Nil) ++ cs }
    }

  /** CHECK constraints in declaration order (empty when none). */
  def checksFor(spark: SparkSession, table: String)
      : Seq[(String, String, String)] = {
    val s = state(spark)
    s.synchronized(s.checks.getOrElse(table.toLowerCase, Nil))
  }

  /** Declare (merge) column collations: column → collation (upper).
    * BINARY entries are dropped (the default — nothing to fold). */
  def declareCollates(spark: SparkSession, table: String,
                      cs: Seq[(String, String)]): Unit = {
    val eff = cs.filterNot(_._2.equalsIgnoreCase("BINARY"))
    if (eff.nonEmpty) {
      val s = state(spark)
      val t = table.toLowerCase
      s.synchronized {
        s.collates(t) = s.collates.getOrElse(t, Map.empty) ++
          eff.map { case (c, v) => c.toLowerCase -> v.toUpperCase }
      }
    }
  }

  /** Declared column collations by lowercased column (empty = all
    * BINARY). */
  def collatesFor(spark: SparkSession, table: String)
      : Map[String, String] = {
    val s = state(spark)
    s.synchronized(s.collates.getOrElse(table.toLowerCase, Map.empty))
  }

  /** True when any session table declares a non-BINARY collation —
    * the cheap gate the per-statement collation fold checks first. */
  def anyCollates(spark: SparkSession): Boolean = {
    val s = state(spark)
    s.synchronized(s.collates.nonEmpty)
  }

  /** Every table with declared collations: lowercased table →
    * (lowercased column → collation). */
  def allCollates(spark: SparkSession): Map[String, Map[String, String]] = {
    val s = state(spark)
    s.synchronized(s.collates.toMap)
  }

  /** Declare a WITHOUT ROWID table (rowid surface suppressed). */
  def declareWithoutRowid(spark: SparkSession, table: String): Unit = {
    val s = state(spark)
    s.synchronized { s.withoutRowid += table.toLowerCase; () }
  }

  /** True when the table was declared WITHOUT ROWID. */
  def isWithoutRowid(spark: SparkSession, table: String): Boolean = {
    val s = state(spark)
    s.synchronized(s.withoutRowid.contains(table.toLowerCase))
  }

  /** Declare an AUTOINCREMENT table (seq starts at 0; the
    * sqlite_sequence catalog table exists from now on). */
  def declareAutoincrement(spark: SparkSession, table: String): Unit = {
    val s = state(spark)
    s.synchronized {
      s.autoinc(table.toLowerCase) = 0L
      s.seqTableCreated = true
    }
  }

  /** True when the table was declared with AUTOINCREMENT. */
  def isAutoincrement(spark: SparkSession, table: String): Boolean = {
    val s = state(spark)
    s.synchronized(s.autoinc.contains(table.toLowerCase))
  }

  /** Current sequence high-water mark (0 before the first insert). */
  def seqOf(spark: SparkSession, table: String): Long = {
    val s = state(spark)
    s.synchronized(s.autoinc.getOrElse(table.toLowerCase, 0L))
  }

  /** Advance the sequence to at least `v` (monotonic — SQLite never
    * lowers it, deletes included). */
  def bumpSeq(spark: SparkSession, table: String, v: Long): Unit = {
    val s = state(spark)
    val t = table.toLowerCase
    s.synchronized {
      s.autoinc.get(t).foreach(cur => s.autoinc(t) = math.max(cur, v))
    }
  }

  /** sqlite_sequence rows: (name, seq) for tables that have inserted
    * at least once (SQLite adds the row on first insert). */
  def sequenceRows(spark: SparkSession): Seq[(String, Long)] = {
    val s = state(spark)
    s.synchronized(s.autoinc.toSeq.filter(_._2 > 0L).sortBy(_._1))
  }

  /** True once any AUTOINCREMENT table was ever created this session
    * (the sqlite_sequence table persists through drops). */
  def sequenceTableExists(spark: SparkSession): Boolean = {
    val s = state(spark)
    s.synchronized(s.seqTableCreated)
  }

  /** Snapshot / restore of the AUTOINCREMENT sequences — SQLite's
    * sqlite_sequence is an ordinary table inside the transaction, so
    * a rolled-back statement rolls its seq advances back too
    * ([[Atomic]] pairs these around multi-write statements). */
  def snapshotAutoinc(spark: SparkSession): Map[String, Long] = {
    val s = state(spark)
    s.synchronized(s.autoinc.toMap)
  }

  def restoreAutoinc(spark: SparkSession, snap: Map[String, Long]): Unit = {
    val s = state(spark)
    s.synchronized {
      s.autoinc.clear()
      s.autoinc ++= snap
    }
  }

  /** ALTER TABLE DROP COLUMN: the column's default (and, for a
    * generated column, its definition) goes with it. */
  def forgetColumn(spark: SparkSession, table: String, col: String): Unit = {
    val s = state(spark)
    val t = table.toLowerCase
    val c = col.toLowerCase
    s.synchronized {
      s.defaults.get(t).foreach(m => s.defaults(t) = m - c)
      s.generated.get(t).foreach(g =>
        s.generated(t) = g.filterNot(_._1 == c))
      s.strict.get(t).foreach(m => s.strict(t) = m - c)
      s.notNulls.get(t).foreach(nn =>
        s.notNulls(t) = nn.filterNot(_.equalsIgnoreCase(col)))
      s.collates.get(t).foreach(m => s.collates(t) = m - c)
      // CHECKs referencing the column decline the DROP upstream
      // (Ddl guards), so nothing to rewrite here
    }
  }

  /** ALTER TABLE RENAME TO: declared keys, defaults, and indexes
    * follow the table to its new name (SQLite rewrites schema
    * references on rename). */
  def renameTable(spark: SparkSession, table: String, newName: String): Unit = {
    val s = state(spark)
    val t = table.toLowerCase
    val n = newName.toLowerCase
    s.synchronized {
      s.pks.remove(t).foreach(s.pks(n) = _)
      s.defaults.remove(t).foreach(s.defaults(n) = _)
      s.generated.remove(t).foreach(s.generated(n) = _)
      s.strict.remove(t).foreach(s.strict(n) = _)
      if (s.withoutRowid.remove(t)) s.withoutRowid += n
      s.rowidAlias.remove(t).foreach(s.rowidAlias(n) = _)
      s.notNulls.remove(t).foreach(s.notNulls(n) = _)
      s.checks.remove(t).foreach(s.checks(n) = _)
      s.collates.remove(t).foreach(s.collates(n) = _)
      s.autoinc.remove(t).foreach(s.autoinc(n) = _) // seq row renames
      s.indexes.mapValuesInPlace((_, i) =>
        if (i.table == t) i.copy(table = n) else i)
    }
  }

  /** ALTER TABLE RENAME COLUMN: declared keys, defaults, and index
    * column lists referencing the column follow (SQLite rewrites them
    * too). */
  def renameColumn(spark: SparkSession, table: String, oldCol: String,
                   newCol: String): Unit = {
    val s = state(spark)
    val t = table.toLowerCase
    def sub(cols: Seq[String]): Seq[String] =
      cols.map(c => if (c.equalsIgnoreCase(oldCol)) newCol else c)
    s.synchronized {
      s.pks.get(t).foreach(k => s.pks(t) = sub(k))
      s.defaults.get(t).foreach { m =>
        m.get(oldCol.toLowerCase).foreach(v =>
          s.defaults(t) = m - oldCol.toLowerCase + (newCol.toLowerCase -> v))
      }
      // renaming the generated column itself follows; renaming a
      // column its expr REFERENCES is refused upstream (Ddl guards)
      s.generated.get(t).foreach(g => s.generated(t) = g.map {
        case (c, raw, ex, st) if c == oldCol.toLowerCase =>
          (newCol.toLowerCase, raw, ex, st)
        case other => other
      })
      s.strict.get(t).foreach { m =>
        m.get(oldCol.toLowerCase).foreach(v =>
          s.strict(t) = m - oldCol.toLowerCase + (newCol.toLowerCase -> v))
      }
      s.rowidAlias.get(t).filter(_.equalsIgnoreCase(oldCol))
        .foreach(_ => s.rowidAlias(t) = newCol)
      s.notNulls.get(t).foreach(nn => s.notNulls(t) = sub(nn))
      s.collates.get(t).foreach { m =>
        m.get(oldCol.toLowerCase).foreach(v =>
          s.collates(t) = m - oldCol.toLowerCase + (newCol.toLowerCase -> v))
      }
      // CHECKs referencing the column decline the RENAME upstream
      s.indexes.mapValuesInPlace((_, i) =>
        if (i.table == t) i.copy(cols = sub(i.cols)) else i)
    }
  }

  /** The table's declared PRIMARY KEY alone (for introspection:
    * `PRAGMA table_info`'s pk column reports PK membership, not
    * unique-index keys). */
  def declaredPk(spark: SparkSession, table: String): Option[Seq[String]] = {
    val s = state(spark)
    s.synchronized(s.pks.get(table.toLowerCase))
  }

  /** All indexes declared on a table, name-ordered: (name, columns,
    * unique, origin). Feeds `PRAGMA index_list`. */
  def indexesFor(spark: SparkSession, table: String)
      : Seq[(String, Seq[String], Boolean, String)] = {
    val s = state(spark)
    val t = table.toLowerCase
    s.synchronized {
      s.indexes.toSeq.filter(_._2.table == t).sortBy(_._1)
        .map { case (n, i) => (n, i.cols, i.unique, i.origin) }
    }
  }

  /** Every index declared in the session, name-ordered: (name, table,
    * columns, unique, origin). Feeds the sqlite_master index rows. */
  def allIndexes(spark: SparkSession)
      : Seq[(String, String, Seq[String], Boolean, String)] = {
    val s = state(spark)
    s.synchronized {
      s.indexes.toSeq.sortBy(_._1)
        .map { case (n, i) => (n, i.table, i.cols, i.unique, i.origin) }
    }
  }

  /** Look up one index by name: (table, columns, unique). Feeds
    * `PRAGMA index_info`. */
  def indexByName(spark: SparkSession, name: String)
      : Option[(String, Seq[String], Boolean)] = {
    val s = state(spark)
    s.synchronized(s.indexes.get(name.toLowerCase)
      .map(i => (i.table, i.cols, i.unique)))
  }

  /** The conflict key a bare `INSERT OR REPLACE` / `ON CONFLICT`
    * resolves against: the declared PRIMARY KEY, else the FIRST-
    * DECLARED UNIQUE index on the table, else None (caller falls back
    * to the leading-column convention). */
  def keyFor(spark: SparkSession, table: String): Option[Seq[String]] = {
    val s = state(spark)
    val t = table.toLowerCase
    s.synchronized {
      s.pks.get(t).orElse {
        // expression-keyed unique indexes (cols empty) can't be a
        // column-list conflict key, and a PARTIAL one only keys its
        // predicate-TRUE rows — both skipped here; the REPLACE/IGNORE
        // displacement machinery handles them through
        // uniqueExprIndexes/uniqueColIndexes
        s.indexes.toSeq
          .filter(e => e._2.table == t && e._2.unique &&
            e._2.cols.nonEmpty && e._2.uwhere.isEmpty)
          .sortBy(_._2.seq).headOption.map(_._2.cols)
      }
    }
  }
}
