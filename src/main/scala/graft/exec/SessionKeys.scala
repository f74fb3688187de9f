package graft.exec

import org.apache.spark.sql.SparkSession
import graft.text2sql.SqlDml

/** The session's schema declarations, SQLite's `sqlite_master` for the
  * generated-DML path (reference pandasqlite.py:115, 245-247). Ingested
  * tables declare nothing (pandas `to_sql`); for those graft keys
  * `INSERT OR REPLACE` / bare `ON CONFLICT` on the leading column
  * (documented README divergence). Generated SQL can DECLARE schema
  * mid-session (`CREATE TABLE …`, `CREATE [UNIQUE] INDEX`), and then
  * SQLite's own rules apply: each table's declarations live in one
  * [[TableDecl]], which the write paths, the FK enforcement and the
  * PRAGMAs read.
  *
  * State lives in [[graft.SessionLocal]] (the session is the engine's
  * database scope, like the reference's in-memory SQLite db), so it is
  * released with its session. A table's record and indexes are dropped
  * eagerly with the table ([[forgetTable]]); an index with DROP INDEX.
  */
object SessionKeys {

  /** Everything declared for one table. Column keys of the maps are
    * lowercased; column names in the lists are as written.
    *
    * @param pk          the declared PRIMARY KEY
    * @param rowidAlias  the rowid-ALIAS column: a single-column PRIMARY
    *                    KEY declared exactly INTEGER on a rowid table
    *                    (SQLite lang_createtable.html §5 — INT does NOT
    *                    alias, and WITHOUT ROWID tables have no rowid).
    *                    Only it auto-assigns missing/NULL keys
    * @param defaults    column → (raw DEFAULT text as written — `PRAGMA
    *                    table_info` reports it, executable Spark-SQL —
    *                    partial-column INSERTs fill it)
    * @param generated   generated columns in declaration order:
    *                    (lowercased name, raw expr, executable expr,
    *                    STORED?)
    * @param strict      STRICT column → declared type as written
    *                    (uppercased; the error names it); empty = not
    *                    a STRICT table
    * @param notNulls    NOT NULL columns in declaration order (the error
    *                    names t.c verbatim); a WITHOUT ROWID PK lists its
    *                    columns too — SQLite makes that implicit NOT NULL
    *                    visible in table_info and its error
    * @param checks      CHECK constraints in declaration order:
    *                    (CONSTRAINT name or "", raw expr, executable expr)
    * @param collates    column → declared collation (uppercased; only
    *                    non-BINARY entries)
    * @param autoincrement AUTOINCREMENT declared (its sequence lives in
    *                    the session's sqlite_sequence)
    * @param fks         FOREIGN KEYs in declaration order (enforcement
    *                    order; `foreign_key_list` ids count from the last)
    */
  final case class TableDecl(
      pk: Option[Seq[String]] = None,
      rowidAlias: Option[String] = None,
      defaults: Map[String, (String, String)] = Map.empty,
      generated: Seq[(String, String, String, Boolean)] = Nil,
      strict: Map[String, String] = Map.empty,
      notNulls: Seq[String] = Nil,
      checks: Seq[(String, String, String)] = Nil,
      collates: Map[String, String] = Map.empty,
      withoutRowid: Boolean = false,
      autoincrement: Boolean = false,
      fks: Seq[SqlDml.Fk] = Nil) {

    /** RENAME COLUMN: every declaration naming the column follows
      * (SQLite rewrites them). Expression texts (generated, CHECK) that
      * read it are refused upstream ([[Ddl]]), so they stay as stored. */
    def renameColumn(from: String, to: String): TableDecl = {
      val (f, t) = (from.toLowerCase, to.toLowerCase)
      def key[V](m: Map[String, V]) = m.get(f).fold(m)(v => m - f + (t -> v))
      copy(pk = pk.map(renamed(_, from, to)),
        rowidAlias = rowidAlias.map(c => if (c.equalsIgnoreCase(from)) to else c),
        defaults = key(defaults),
        generated = generated.map { case (c, raw, ex, st) =>
          (if (c == f) t else c, raw, ex, st)
        },
        strict = key(strict),
        notNulls = renamed(notNulls, from, to),
        collates = key(collates),
        fks = fks.map(fk => fk.copy(cols = renamed(fk.cols, from, to))))
    }

    /** DROP COLUMN: the column's declarations go with it, an FK whose
      * child columns include it too (measured SQLite 3.40.1). PK
      * columns and columns an expression text reads are refused
      * upstream ([[Ddl]]). */
    def dropColumn(col: String): TableDecl = {
      val c = col.toLowerCase
      copy(defaults = defaults - c,
        generated = generated.filterNot(_._1 == c),
        strict = strict - c,
        notNulls = notNulls.filterNot(_.equalsIgnoreCase(col)),
        collates = collates - c,
        fks = fks.filterNot(_.cols.exists(_.equalsIgnoreCase(col))))
    }
  }

  private val undeclared = TableDecl()

  private def renamed(cols: Seq[String], from: String, to: String): Seq[String] =
    cols.map(c => if (c.equalsIgnoreCase(from)) to else c)

  /** One declared index. `origin` is SQLite's PRAGMA index_list code:
    * 'c' = CREATE INDEX, 'u' = a UNIQUE table constraint's automatic
    * index.
    *
    * @param riders per-column (descending?, collation)
    * @param uexprs an expression-keyed index's executable Spark-SQL item
    *               texts (cols empty then)
    * @param uwhere a partial index's executable predicate (uniqueness
    *               applies only among predicate-TRUE rows)
    * @param seq    registration sequence — key APPLICATION order is
    *               declaration order (SQLite), which lexicographic names
    *               would perturb past 9 constraints
    *               (sqlite_autoindex_t_10 < _2)
    */
  final case class Index(table: String, cols: Seq[String],
                         unique: Boolean, origin: String,
                         riders: Seq[(Boolean, String)] = Nil,
                         uexprs: Seq[String] = Nil,
                         uwhere: Option[String] = None,
                         seq: Long = 0L)

  private final class State {
    // lowercased table -> its declarations (an immutable map, so a
    // read hands out a snapshot without copying)
    var tables = Map.empty[String, TableDecl]
    // lowercased index name -> index
    val indexes = scala.collection.mutable.Map.empty[String, Index]
    // lowercased AUTOINCREMENT table -> high-water sequence, from its
    // first insert on (never decreases — SQLite sqlite_sequence). Kept
    // apart from the records: [[Atomic]] snapshots only these
    val seqs = scala.collection.mutable.Map.empty[String, Long]
    // sticky: once any AUTOINCREMENT table was created, the
    // sqlite_sequence catalog table exists (it survives drops)
    var seqTableCreated = false
    // monotonic index-registration counter (declaration order)
    var indexSeq = 0L

    def addIndex(name: String, ix: Index): Unit = {
      indexSeq += 1
      indexes(name.toLowerCase) = ix.copy(seq = indexSeq)
    }

    def forget(t: String): Unit = {
      tables -= t
      seqs.remove(t)
      indexes.filterInPlace((_, i) => i.table != t)
    }
  }

  // all access goes through per-State synchronization
  private val state = graft.SessionLocal(new State)

  private def locked[T](spark: SparkSession)(f: State => T): T = {
    val s = state(spark)
    s.synchronized(f(s))
  }

  // ------------------------------------------------ table records

  /** The table's declarations (all empty for an undeclared table). */
  def table(spark: SparkSession, table: String): TableDecl =
    locked(spark)(_.tables.getOrElse(table.toLowerCase, undeclared))

  /** Every declared table's record, by lowercased name. */
  def tables(spark: SparkSession): Map[String, TableDecl] =
    locked(spark)(_.tables)

  /** CREATE TABLE: `decl` replaces whatever was declared under the
    * name (indexes and sequence included), and each UNIQUE constraint
    * in `uniques` becomes one of SQLite's automatic unique indexes
    * (sqlite_autoindex_<t>_<n>, origin 'u', declaration order). */
  def declare(spark: SparkSession, table: String, decl: TableDecl,
              uniques: Seq[Seq[String]]): Unit = locked(spark) { s =>
    val t = table.toLowerCase
    s.forget(t)
    s.tables += t -> decl
    if (decl.autoincrement) s.seqTableCreated = true
    uniques.zipWithIndex.foreach { case (ks, i) =>
      s.addIndex(s"sqlite_autoindex_${table}_${i + 1}",
        Index(t, ks, unique = true, origin = "u"))
    }
  }

  /** Change one table's record (ALTER TABLE ADD COLUMN). */
  def alter(spark: SparkSession, table: String)
           (f: TableDecl => TableDecl): Unit = locked(spark) { s =>
    val t = table.toLowerCase
    s.tables += t -> f(s.tables.getOrElse(t, undeclared))
  }

  /** DROP TABLE/VIEW: the record, its indexes and its sqlite_sequence
    * row go. FKs of other tables REFERENCING the name dangle, exactly
    * as SQLite leaves them. */
  def forgetTable(spark: SparkSession, table: String): Unit =
    locked(spark)(_.forget(table.toLowerCase))

  /** ALTER TABLE RENAME TO: the record, indexes and sequence follow
    * the table, every FK naming it as parent re-points, and its
    * automatic indexes take the new name (SQLite rewrites all of
    * them). */
  def renameTable(spark: SparkSession, table: String,
                  newName: String): Unit = locked(spark) { s =>
    val (from, to) = (table.toLowerCase, newName.toLowerCase)
    s.tables = (s.tables - from ++ s.tables.get(from).map(to -> _)).map {
      case (n, d) => n -> d.copy(fks = d.fks.map(fk =>
        if (fk.parent.equalsIgnoreCase(table)) fk.copy(parent = newName)
        else fk))
    }
    s.seqs.remove(from).foreach(s.seqs(to) = _)
    val auto = s"sqlite_autoindex_${from}_"
    s.indexes.filter(_._2.table == from).foreach { case (n, i) =>
      s.indexes.remove(n)
      val name =
        if (i.origin == "u" && n.startsWith(auto))
          s"sqlite_autoindex_${to}_" + n.stripPrefix(auto)
        else n
      s.indexes(name) = i.copy(table = to)
    }
  }

  /** ALTER TABLE RENAME COLUMN: the table's record, its index column
    * lists and other tables' FK parent columns naming it follow
    * (SQLite rewrites them). */
  def renameColumn(spark: SparkSession, table: String, from: String,
                   to: String): Unit = locked(spark) { s =>
    val t = table.toLowerCase
    s.tables = s.tables.map { case (n, d) =>
      val own = if (n == t) d.renameColumn(from, to) else d
      n -> own.copy(fks = own.fks.map(fk =>
        if (fk.parent.equalsIgnoreCase(table))
          fk.copy(parentCols = renamed(fk.parentCols, from, to))
        else fk))
    }
    s.indexes.mapValuesInPlace((_, i) =>
      if (i.table == t) i.copy(cols = renamed(i.cols, from, to)) else i)
  }

  /** ALTER TABLE DROP COLUMN ([[TableDecl.dropColumn]]); FK parent
    * references to the column dangle, exactly as SQLite leaves them. */
  def dropColumn(spark: SparkSession, table: String, col: String): Unit =
    locked(spark) { s =>
      val t = table.toLowerCase
      s.tables.get(t).foreach(d => s.tables += t -> d.dropColumn(col))
    }

  /** The conflict key a bare `INSERT OR REPLACE` / `ON CONFLICT`
    * resolves against: the declared PRIMARY KEY, else the FIRST-
    * DECLARED UNIQUE index on the table, else None (caller falls back
    * to the leading-column convention). */
  def keyFor(spark: SparkSession, table: String): Option[Seq[String]] =
    locked(spark) { s =>
      val t = table.toLowerCase
      s.tables.get(t).flatMap(_.pk).orElse {
        // expression-keyed unique indexes (cols empty) can't be a
        // column-list conflict key, and a PARTIAL one only keys its
        // predicate-TRUE rows — both skipped here; the REPLACE/IGNORE
        // displacement machinery handles them through
        // uniqueExprIndexes/uniqueColIndexes
        s.indexes.values
          .filter(i => i.table == t && i.unique && i.cols.nonEmpty &&
            i.uwhere.isEmpty)
          .toSeq.sortBy(_.seq).headOption.map(_.cols)
      }
    }

  // ------------------------------------------------ indexes

  /** Register an index. Returns false when the name is taken (SQLite
    * errors unless IF NOT EXISTS). */
  def registerIndex(spark: SparkSession, name: String, ix: Index): Boolean =
    locked(spark) { s =>
      if (s.indexes.contains(name.toLowerCase)) false
      else { s.addIndex(name, ix.copy(table = ix.table.toLowerCase)); true }
    }

  /** Drop an index by name. Returns false when absent. */
  def dropIndex(spark: SparkSession, name: String): Boolean =
    locked(spark)(_.indexes.remove(name.toLowerCase).isDefined)

  /** All indexes declared on a table, name-ordered. Feeds `PRAGMA
    * index_list`. */
  def indexesFor(spark: SparkSession, table: String): Seq[(String, Index)] = {
    val t = table.toLowerCase
    locked(spark)(_.indexes.toSeq.filter(_._2.table == t).sortBy(_._1))
  }

  /** Every index declared in the session, name-ordered. Feeds the
    * sqlite_master index rows. */
  def allIndexes(spark: SparkSession): Seq[(String, Index)] =
    locked(spark)(_.indexes.toSeq.sortBy(_._1))

  /** Look up one index by name. */
  def indexByName(spark: SparkSession, name: String): Option[Index] =
    locked(spark)(_.indexes.get(name.toLowerCase))

  /** The table's UNIQUE indexes in DECLARATION order (SQLite applies
    * keys as declared — lexicographic names would misorder
    * sqlite_autoindex_t_10 before _2). */
  private def uniqueIndexes(spark: SparkSession, table: String)
      : Seq[(String, Index)] = {
    val t = table.toLowerCase
    locked(spark)(_.indexes.toSeq
      .filter(e => e._2.table == t && e._2.unique).sortBy(_._2.seq))
  }

  /** Expression-keyed UNIQUE indexes in declaration order: (index
    * name, executable item expressions, partial predicate). */
  def uniqueExprIndexes(spark: SparkSession, table: String)
      : Seq[(String, Seq[String], Option[String])] =
    uniqueIndexes(spark, table).collect {
      case (n, i) if i.uexprs.nonEmpty => (n, i.uexprs, i.uwhere)
    }

  /** Column-keyed UNIQUE indexes in declaration order — the
    * enforcement set ([[Constraints.uniqueKeys]] pairs it with the
    * declared PK): (index name, columns, partial predicate). */
  def uniqueColIndexes(spark: SparkSession, table: String)
      : Seq[(String, Seq[String], Option[String])] =
    uniqueIndexes(spark, table).collect {
      case (n, i) if i.cols.nonEmpty => (n, i.cols, i.uwhere)
    }

  /** Per-column (descending?, collation) riders of a declared index,
    * padded with the (false, "BINARY") default — feeds
    * `PRAGMA index_xinfo`. A stored "" collation means "no rider
    * written" (the enforcement path then falls back to the COLUMN's
    * declared collation) — rendered as BINARY here, SQLite's report. */
  def indexRiders(spark: SparkSession, name: String): Seq[(Boolean, String)] =
    indexByName(spark, name).map { i =>
      i.cols.indices.map { k =>
        val (d, c) = i.riders.lift(k).getOrElse((false, ""))
        (d, if (c.isEmpty) "BINARY" else c)
      }
    }.getOrElse(Nil)

  /** Raw per-column rider collations of an index ("" = no rider
    * written, so the column's own declared collation governs — SQLite
    * index key comparison rules). */
  def riderCollations(spark: SparkSession, name: String): Seq[String] =
    indexByName(spark, name).map { i =>
      i.cols.indices.map(k => i.riders.lift(k).map(_._2).getOrElse(""))
    }.getOrElse(Nil)

  // ------------------------------------------------ sqlite_sequence

  /** Current sequence high-water mark (0 before the first insert). */
  def seqOf(spark: SparkSession, table: String): Long =
    locked(spark)(_.seqs.getOrElse(table.toLowerCase, 0L))

  /** Advance an AUTOINCREMENT table's sequence to at least `v`
    * (monotonic — SQLite never lowers it, deletes included). */
  def bumpSeq(spark: SparkSession, table: String, v: Long): Unit =
    locked(spark) { s =>
      val t = table.toLowerCase
      if (s.tables.get(t).exists(_.autoincrement))
        s.seqs(t) = math.max(s.seqs.getOrElse(t, 0L), v)
    }

  /** sqlite_sequence rows: (name, seq) for tables that have inserted
    * at least once (SQLite adds the row on first insert). */
  def sequenceRows(spark: SparkSession): Seq[(String, Long)] =
    locked(spark)(_.seqs.toSeq.filter(_._2 > 0L).sortBy(_._1))

  /** True once any AUTOINCREMENT table was ever created this session
    * (the sqlite_sequence table persists through drops). */
  def sequenceTableExists(spark: SparkSession): Boolean =
    locked(spark)(_.seqTableCreated)

  /** Snapshot / restore of the AUTOINCREMENT sequences — SQLite's
    * sqlite_sequence is an ordinary table inside the transaction, so
    * a rolled-back statement rolls its seq advances back too
    * ([[Atomic]] pairs these around multi-write statements). */
  def snapshotAutoinc(spark: SparkSession): Map[String, Long] =
    locked(spark)(_.seqs.toMap)

  def restoreAutoinc(spark: SparkSession, snap: Map[String, Long]): Unit =
    locked(spark) { s =>
      s.seqs.clear()
      s.seqs ++= snap
    }
}
