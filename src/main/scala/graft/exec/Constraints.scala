package graft.exec

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, IntegerType}

/** NOT NULL and CHECK constraint enforcement for session-declared
  * tables, with SQLite's measured semantics (sqlite3 3.40+):
  *
  *  - `NOT NULL constraint failed: t.c` — checked for every NOT NULL
  *    column (declaration order) BEFORE any CHECK, even when the CHECK
  *    references an earlier column;
  *  - `CHECK constraint failed: <name>` for a `CONSTRAINT <name>
  *    CHECK`, `CHECK constraint failed: <expr as written>` for an
  *    unnamed one — constraints checked in declaration order; a CHECK
  *    passes when its expression is TRUE **or NULL** (only FALSE
  *    fails);
  *  - `INSERT OR IGNORE` / `UPDATE OR IGNORE` SKIP violating rows
  *    instead of erroring; explicit `ON CONFLICT DO NOTHING` does NOT
  *    (it covers uniqueness conflicts only — a CHECK violation still
  *    aborts);
  *  - the REPLACE algorithm substitutes a NOT NULL column's declared
  *    DEFAULT for an incoming NULL (aborts when no default exists);
  *  - a WITHOUT ROWID PRIMARY KEY is implicitly NOT NULL (registered
  *    as such — `PRAGMA table_info` reports it, as SQLite's does).
  *
  * Enforcement is a row-local codegen'd conditional folded into the
  * statement's existing write pass (the same shape as [[Strict]]'s
  * type gate): zero extra jobs, no shuffle, no driver path — the
  * violating row raises through `raise_error` during the
  * materializing write and statement-level atomicity ([[Atomic]])
  * rolls the write back. Ingested lake tables declare no constraints,
  * so the 100 TB path pays nothing.
  *
  * Divergence (visible in the error, not the values): SQLite reports
  * the violation of the FIRST violating row in rowid order; a
  * distributed write surfaces an arbitrary violating row's error. The
  * per-row constraint ORDER (NOT NULLs by column order, then CHECKs
  * by declaration) is SQLite's.
  */
object Constraints {

  /** True when the table declares any NOT NULL or CHECK constraint. */
  def has(spark: SparkSession, table: String): Boolean = {
    val d = SessionKeys.table(spark, table)
    d.notNulls.nonEmpty || d.checks.nonEmpty
  }

  /** (violation condition, error message) pairs over a full-width row
    * frame, in SQLite's evaluation order. The CHECK condition is
    * null-safe: NULL passes (coalesce TRUE), so only an explicit FALSE
    * raises — SQLite's rule. */
  private def violations(spark: SparkSession, table: String)
      : Seq[(Column, String)] = {
    val nn = SessionKeys.table(spark, table).notNulls.map { c =>
      col(Ddl.quote(c)).isNull -> s"NOT NULL constraint failed: $table.$c"
    }
    val cks = SessionKeys.table(spark, table).checks.map { k =>
      val label = if (k.name.nonEmpty) k.name else k.raw
      (!coalesce(expr(k.exec).cast(BooleanType), lit(true))) ->
        s"CHECK constraint failed: $label"
    }
    nn ++ cks
  }

  /** Wrap the frame so any violating row raises SQLite's error during
    * the write that materializes it. The chained conditional rides the
    * first column (same pattern as [[Strict.cast]]); rows already in
    * the table always passed at their own write, so evaluating over
    * the merged frame is identity for them. */
  def guard(spark: SparkSession, table: String, df: DataFrame): DataFrame = {
    val vs = violations(spark, table)
    if (vs.isEmpty) df
    else {
      val f0 = df.schema.fields.head
      val guarded = vs.foldRight(col(Ddl.quote(f0.name))) {
        case ((cond, msg), acc) =>
          when(cond, raise_error(lit(msg)).cast(f0.dataType)).otherwise(acc)
      }
      df.withColumn(f0.name, guarded)
    }
  }

  /** The OR IGNORE skip: drop rows violating any NOT NULL / CHECK
    * (measured: `INSERT OR IGNORE` inserts the conforming rows and
    * silently skips the violating ones). */
  def filterViolating(spark: SparkSession, table: String,
                      df: DataFrame): DataFrame = {
    val vs = violations(spark, table)
    if (vs.isEmpty) df
    else df.filter(!vs.map(_._1).reduce(_ || _))
  }

  /** The SQL predicate "this row still satisfies every NOT NULL /
    * CHECK constraint AFTER the assignments apply" — evaluated over
    * the OLD row (assignment expressions read it, so substituting
    * each assigned column reference with its expression is exact).
    * Drives `UPDATE OR IGNORE`'s skip: violating rows keep their old
    * values, exactly SQLite's measured outcome. Callers gate on
    * [[has]], so the conjunction is never empty. */
  def passesAfterAssignSql(spark: SparkSession, table: String,
                           assigns: Map[String, String]): String = {
    def newExpr(c: String): String =
      assigns.get(c.toLowerCase).map(e => s"($e)").getOrElse(Ddl.quote(c))
    val nn = SessionKeys.table(spark, table).notNulls
      .map(c => s"(${newExpr(c)} IS NOT NULL)")
    val cks = SessionKeys.table(spark, table).checks.map { k =>
      s"(coalesce(CAST((${substituteCols(k.exec, assigns)}) AS BOOLEAN), true))"
    }
    (nn ++ cks).mkString(" AND ")
  }

  /** Word-boundary substitution of assigned column references inside
    * a constraint expression (a name inside a string literal, quoted
    * identifier or comment is untouched; a function call — word
    * followed by '(' — is never a column reference). */
  private def substituteCols(sql: String,
                             assigns: Map[String, String]): String = {
    import graft.text2sql.SqlText
    SqlText.rewrite(sql) { i =>
      var e = i
      if (i == 0 || !SqlText.isWordChar(sql.charAt(i - 1)))
        while (e < sql.length && SqlText.isWordChar(sql.charAt(e))) e += 1
      def isCall = { val k = SqlText.skipWs(sql, e); k < sql.length && sql.charAt(k) == '(' }
      if (e == i || isCall) None
      else assigns.get(sql.substring(i, e).toLowerCase).map(ex => (s"($ex)", e))
    }
  }

  /** One key tuple: a declared unique key, or a FOREIGN KEY's child or
    * parent column list ([[plainKey]]). `exprs` are executable
    * Spark-SQL item texts — a column key carries its backtick-quoted
    * names, wrapped in the column's collation fold where it has one
    * ([[collatedKey]]), an expression index its translated
    * expressions; `label` is the text SQLite's UNIQUE error names
    * (`t.c1, t.c2` for column keys, `index 'name'` for expression keys
    * — both measured). A PARTIAL index carries its executable
    * predicate in `where`.
    *
    * A row's key is LIVE when the row is in scope (`where` is TRUE —
    * FALSE or NULL exempts it) and no member is NULL. Only live keys
    * conflict, displace or reference (measured: two NULL keys coexist,
    * rows outside a partial index neither conflict nor displace, and a
    * child tuple with a NULL member satisfies its FOREIGN KEY).
    *
    * This is the one place a key tuple becomes columns: [[keyed]] and
    * [[tuples]] project live tuples under aliases no other code names,
    * [[matches]] joins on them (as SQL text, [[matchesSql]]),
    * [[matched]] reads an outer join's hit and [[sameTuple]] tests row
    * identity NULL-safely. Every member builds a plan and runs no job. */
  final case class UniqueKey(label: String, exprs: Seq[String],
                             where: Option[String] = None) {
    private def alias(i: Int) = s"__graft_key$i"

    /** TRUE on rows in the key's scope (every row without `where`). */
    def inScope: Column = where.fold(lit(true))(w =>
      coalesce(expr(w).cast(BooleanType), lit(false)))

    /** TRUE on rows whose key is live. */
    def live: Column = exprs.map(expr(_).isNotNull).foldLeft(inScope)(_ && _)

    /** Each live row of `df` as its key tuple under the key's aliases,
      * followed by the `carry` columns. */
    def keyed(df: DataFrame, carry: Column*): DataFrame =
      df.filter(live).select(exprs.zipWithIndex.map { case (e, i) =>
        expr(e).as(alias(i))
      } ++ carry: _*)

    /** The distinct live key tuples of `df`; with `carry`, each tuple
      * keeps those columns of one of its rows (an arbitrary one when
      * several share it). */
    def tuples(df: DataFrame, carry: Column*): DataFrame =
      keyed(df, carry: _*).dropDuplicates(exprs.indices.map(alias))

    /** The condition joining a frame to `tuples` ([[keyed]] or
      * [[tuples]] of this key, or of a key of the same arity): the
      * row's key live and each member equal, so a semi or outer join
      * needs no filter first; an anti-join keeps the rows whose key is
      * not live, and filters on [[live]] where those must go. The key's
      * expressions resolve by name against the joined frame, since the
      * tuple side carries only its aliases and `carry` columns — so a
      * frame sharing lineage with the tuples joins unambiguously. */
    def matches(tuples: DataFrame): Column =
      exprs.zipWithIndex.map { case (e, i) => expr(e) === tuples(alias(i)) }
        .foldLeft(live)(_ && _)

    /** The rows of `df` whose key tuple equals one of `others`'
      * NULL-safely, liveness ignored: two tuples with a NULL in the
      * same member match. A test of row identity, never a conflict
      * rule — it over-matches where keys are not live. */
    def sameTuple(df: DataFrame, others: DataFrame): DataFrame = {
      val t = others.select(exprs.zipWithIndex.map { case (e, i) =>
        expr(e).as(alias(i))
      }: _*).distinct()
      df.join(t, exprs.zipWithIndex.map { case (e, i) =>
        expr(e) <=> t(alias(i))
      }.reduce(_ && _), "left_semi")
    }

    /** [[matches]] of a key without `where` (a FOREIGN KEY column
      * list) as Spark-SQL text, for a statement that reads the tuples
      * through the registered view `view`, whose columns `viewCols`
      * hold the members in order. */
    def matchesSql(view: String, viewCols: Seq[String]): String = {
      require(where.isEmpty, s"$label: a partial key has no SQL match")
      (exprs.map(e => s"$e IS NOT NULL") ++
        exprs.zip(viewCols).map { case (e, c) => s"`$view`.`$c` = $e" })
        .mkString(" AND ")
    }

    /** After an outer join on [[matches]]: TRUE where the row found a
      * tuple. */
    def matched(tuples: DataFrame): Column = tuples(alias(0)).isNotNull
  }

  /** A column-list key compared BINARY — a FOREIGN KEY's child or
    * parent columns. */
  def plainKey(table: String, cols: Seq[String]): UniqueKey =
    UniqueKey(cols.map(c => s"$table.$c").mkString(", "),
      cols.map(Ddl.quote))

  /** The comparison fold of a built-in collation (the same two folds
    * the query-route comparison path uses); None = BINARY / unknown. */
  private def collationFold(coll: String): Option[String] =
    coll.toUpperCase match {
      case "NOCASE" => Some("lower")
      case "RTRIM"  => Some("rtrim")
      case _        => None
    }

  /** A column-list key compared under each column's EFFECTIVE
    * collation — SQLite enforces UNIQUE/PK under the column's
    * collating sequence (a NOCASE unique column collides
    * case-insensitively, measured), with an index rider (`CREATE
    * UNIQUE INDEX … (c COLLATE NOCASE)`) overriding the column's
    * declared one. The key expressions take the same lower()/rtrim()
    * folds the comparison path uses; the error label keeps SQLite's
    * column naming. */
  def collatedKey(spark: SparkSession, table: String, cols: Seq[String],
                  riders: Seq[String] = Nil): UniqueKey = {
    val declared = SessionKeys.table(spark, table).collates
    val exprs = cols.zipWithIndex.map { case (c, i) =>
      val eff = riders.lift(i).filter(_.nonEmpty)
        .orElse(declared.get(c.toLowerCase))
      eff.flatMap(collationFold) match {
        case Some(fn) => s"$fn(${Ddl.quote(c)})"
        case None     => Ddl.quote(c)
      }
    }
    UniqueKey(cols.map(c => s"$table.$c").mkString(", "), exprs)
  }

  /** The table's declared unique keys, resolved against the current
    * schema: the PRIMARY KEY, every column-list unique index, and
    * every expression-keyed unique index ([[SessionKeys]]) — each
    * column compared under its effective collation. Empty for
    * ingested tables (pandas `to_sql` declares no constraints — the
    * 100 TB path pays nothing anywhere below). */
  def uniqueKeys(spark: SparkSession, table: String,
                 tableCols: Seq[String]): Seq[UniqueKey] = {
    val pkKeys = SessionKeys.table(spark, table).pk.toSeq
      .flatMap { ks =>
        val resolved = ks.map(k => tableCols.find(_.equalsIgnoreCase(k)))
        if (resolved.forall(_.isDefined)) Some(resolved.flatten) else None
      }
      .map(cols => collatedKey(spark, table, cols))
    val colKeys = SessionKeys.uniqueColIndexes(spark, table)
      .flatMap { case (name, ks, w) =>
        val resolved = ks.map(k => tableCols.find(_.equalsIgnoreCase(k)))
        if (resolved.forall(_.isDefined))
          Some(collatedKey(spark, table, resolved.flatten,
            SessionKeys.riderCollations(spark, name)).copy(where = w))
        else None
      }
    val exprKeys = SessionKeys.uniqueExprIndexes(spark, table).map {
      case (name, es, w) => UniqueKey(s"index '$name'", es, w)
    }
    (pkKeys ++ colKeys ++ exprKeys).distinct
  }

  /** The declared unique keys an UPDATE assigning `assigned` can
    * break: those whose item expressions or partial-index `WHERE` read
    * a column the statement can change — the assigned columns, plus
    * every generated column once the table has any (a generated value
    * may read an assigned column, directly or through another one).
    * SQLite's rule (`sqlite3GenerateConstraintChecks` skips an index
    * none of whose columns changed): an UPDATE adds no rows, the base
    * was unique on an unreached key, and every row keeps its old
    * value of it. A key text that does not parse counts as reached,
    * so the filter fails toward checking. */
  def keysChangedBy(spark: SparkSession, table: String,
                    tableCols: Seq[String],
                    assigned: Iterable[String]): Seq[UniqueKey] = {
    val changed = changeableCols(spark, table, assigned)
    uniqueKeys(spark, table, tableCols).filter { k =>
      (k.exprs ++ k.where).exists(t => columnsRead(t).forall(_.exists(changed)))
    }
  }

  /** The lowercased columns an UPDATE assigning `assigned` can change
    * (see [[keysChangedBy]]). */
  def changeableCols(spark: SparkSession, table: String,
                     assigned: Iterable[String]): Set[String] =
    assigned.map(_.toLowerCase).toSet ++
      SessionKeys.table(spark, table).generated.map(_._1.toLowerCase)

  /** Every name part an executable expression text references,
    * lowercased (a qualified `t.c` or a field path contributes each
    * part — over-inclusion only adds checks); None when the text does
    * not parse or reads a star. */
  private def columnsRead(sqlText: String): Option[Set[String]] = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute,
      UnresolvedRegex, UnresolvedStar}
    try {
      val e = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseExpression(sqlText)
      val star = e.exists {
        case _: UnresolvedStar | _: UnresolvedRegex => true
        case _ => false
      }
      if (star) None
      else Some(e.collect {
        case a: UnresolvedAttribute => a.nameParts.map(_.toLowerCase)
      }.flatten.toSet)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** SQLite's `UNIQUE constraint failed: <label>` over the
    * POST-STATEMENT state: any live key ([[UniqueKey]]) appearing
    * twice aborts. One narrow group-count per declared key, bounded
    * by the statement's write — session-declared tables only.
    *
    * Which keys a write re-checks follows SQLite, which probes only
    * the indexes a statement can change: INSERTs and upserts check
    * every declared key here; the UPDATE routes call [[assertUniqueOn]]
    * with [[keysChangedBy]], so an UPDATE assigning no key column (nor
    * a column a key's expression or partial `WHERE` reads) issues no
    * probe job. The bare `INSERT OR REPLACE` merge is unique by
    * construction — every declared key is deduplicated in the batch
    * and every conflicting base row displaced — so [[Upsert]] skips
    * the check there (REPLACE resolution never raises UNIQUE in
    * SQLite either).
    *
    * Divergence (error choice, not values): with a single row
    * violating both a CHECK and a UNIQUE constraint, SQLite reports
    * the CHECK (its per-row order) where this pre-write scan reports
    * UNIQUE first; either way the statement aborts with a real
    * constraint error. */
  def assertUnique(spark: SparkSession, table: String,
                   merged: DataFrame,
                   probe0: => Option[DataFrame] = None): Unit =
    assertUniqueOn(uniqueKeys(spark, table, merged.columns.toSeq), merged,
      probe0)

  /** [[assertUnique]] over the given keys only. */
  def assertUniqueOn(keys: Seq[UniqueKey], merged: DataFrame,
                     probe0: => Option[DataFrame] = None): Unit = {
    if (keys.isEmpty) return
    val probe = probe0 // forced once, only when keys exist
    keys.foreach { k =>
      // scale guard: a new duplicate must involve a key the STATEMENT
      // wrote — with `probe` (the incoming/updated slice) the count
      // runs over the semi-joined sliver, O(batch) instead of
      // O(table) per key (rows already in the table passed this check
      // at their own write). SQLite's index probe has the same cost
      // shape.
      val scoped = probe.fold(merged.filter(k.live)) { p =>
        val written = k.tuples(p)
        merged.join(written, k.matches(written), "left_semi")
      }
      val dup = scoped.groupBy(k.exprs.map(expr): _*)
        .count().filter(col("count") > 1L).limit(1)
      if (!dup.isEmpty)
        throw new IllegalArgumentException(
          s"UNIQUE constraint failed: ${k.label}")
    }
  }

  /** Drop `df` rows whose live key already exists in `base` — the
    * skip/displacement primitive of DO NOTHING / OR IGNORE / OR
    * REPLACE over one declared key. */
  def dropConflicting(df: DataFrame, base: DataFrame,
                      key: UniqueKey): DataFrame = {
    val taken = key.tuples(base)
    df.join(taken, key.matches(taken), "left_anti")
  }

  /** Batch-internal one-winner-per-key dedup, settled set-based from
    * SQLite's row-at-a-time processing: rows are position-tagged in
    * source order and each live key keeps its LATEST row (`keepLast`
    * — the REPLACE algorithm's outcome) or its EARLIEST (DO NOTHING /
    * OR IGNORE: the first row inserts, later conflictors skip); rows
    * whose key is not live pass through untouched. Applied per
    * declared key in declaration order — equivalent to SQLite's
    * sequential resolution for batches whose displacements don't chain
    * through already-displaced rows. */
  def dedupPerKey(spark: SparkSession, df: DataFrame,
                  keys: Seq[UniqueKey],
                  keepLast: Boolean): DataFrame = {
    if (keys.isEmpty) return df
    import org.apache.spark.sql.expressions.Window
    val pos = "__graft_upos"
    // a rowid-enabled table's slice already carries a `rowid` column —
    // stash it so the position tag can't collide (withSequentialRowid
    // appends a column of that name), and restore it after
    val stash = "__graft_upos_stash"
    val hadRowid = df.columns.exists(_.equalsIgnoreCase("rowid"))
    val dfIn = if (hadRowid) df.withColumnRenamed("rowid", stash) else df
    val tagged0 = Rowid.withSequentialRowid(spark, dfIn, 0L)
      .withColumnRenamed("rowid", pos)
    val tagged =
      if (hadRowid) tagged0.withColumnRenamed(stash, "rowid") else tagged0
    val resolved = keys.foldLeft(tagged) { (acc, k) =>
      // rows whose key is not live must not share a partition with
      // live rows on the same key value — they'd inflate the live
      // row's row_number past 1 and silently drop it. Partitioning on
      // the liveness flag keeps them apart.
      val w = Window.partitionBy((k.exprs.map(expr) :+
          k.live.cast(IntegerType)): _*)
        .orderBy(if (keepLast) col(pos).desc else col(pos).asc)
      acc.withColumn("__graft_urn",
          when(k.live, row_number().over(w)).otherwise(lit(1)))
        .filter(col("__graft_urn") === 1).drop("__graft_urn")
    }
    resolved.select(df.columns.map(c => col(Ddl.quote(c))): _*)
  }

  /** The REPLACE algorithm's NOT NULL step (measured): an incoming
    * NULL in a NOT NULL column takes the column's declared DEFAULT;
    * without one the row falls through to [[guard]]'s abort. */
  def fillReplaceDefaults(spark: SparkSession, table: String,
                          df: DataFrame): DataFrame = {
    val nn = SessionKeys.table(spark, table).notNulls
    if (nn.isEmpty) df
    else {
      val dflts = SessionKeys.table(spark, table).defaults
      val types = df.schema.fields
        .map(f => f.name.toLowerCase -> f.dataType).toMap
      nn.foldLeft(df) { (acc, c) =>
        dflts.get(c.toLowerCase) match {
          case Some((_, execSql)) =>
            val actual = df.columns.find(_.equalsIgnoreCase(c)).getOrElse(c)
            acc.withColumn(actual, coalesce(col(Ddl.quote(actual)),
              expr(execSql).cast(types(c.toLowerCase))))
          case None => acc
        }
      }
    }
  }
}
