package graft.exec

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import graft.text2sql.SqlDml

/** SQLite `INSERT OR REPLACE` semantics over immutable lake storage:
  * a copy-on-write merge. The update set replaces base rows that share
  * its key and appends the rest:
  *
  *   merged = updates ∪ (base ⟕anti updates on key)
  *
  * then the merged result publishes through [[Publish.commit]] (new
  * parquet generation, view re-bound). At 100 TB this is
  * the standard MERGE shape: the anti-join shuffles on the key (or
  * broadcasts the update set when small — AQE decides), only rewritten
  * files are produced, and no row ever crosses the driver.
  *
  * Key: SQLite resolves OR REPLACE against the table's PRIMARY KEY /
  * UNIQUE constraints. When the session declared one (`CREATE TABLE …
  * PRIMARY KEY`, `CREATE UNIQUE INDEX` — see [[SessionKeys]]) that key
  * is used, exactly SQLite's rule. Ingested tables (pandas `to_sql`,
  * reference pandasqlite.py:115) declare none — SQLite would then
  * degrade OR REPLACE to a plain append, which is almost never what
  * the question meant. Graft instead keys those on the LEADING column
  * (the id-like convention of every ingested CSV); documented
  * divergence, visible in the README table.
  */
object Upsert {

  /** Pure merge (no materialization) — updates win on key collision.
    * Update batches must not carry INTERNAL key conflicts: SQLite
    * resolves those by rowid order, which a distributed batch does not
    * have, so both rows survive here (same as its UNION ALL shape).
    */
  def merge(base: DataFrame, updates: DataFrame,
            keyCols: Seq[String]): DataFrame = {
    val aligned = updates.select(base.columns.map(col): _*)
    aligned.unionAll(
      base.join(aligned.select(keyCols.map(col): _*).distinct(),
        keyCols, "left_anti")
        // a USING join MOVES the key columns to the front of its
        // output — re-project to base order or the positional union
        // silently swaps columns whenever the key isn't the leading
        // column (declared PKs / unique indexes make that reachable)
        .select(base.columns.map(col): _*))
  }

  /** Execute a parsed INSERT statement against the session catalog —
    * `stmt.replace` selects OR REPLACE (merge: updates win on key) vs
    * plain INSERT (pure append: duplicate keys SURVIVE, exactly
    * SQLite's behavior on a table with no declared PRIMARY KEY).
    * Statement-atomic under trigger programs ([[Atomic]]): a
    * RAISE(ABORT) — or any mid-program failure — restores every
    * pre-statement binding. */
  def run(spark: SparkSession, stmt: SqlDml.Upsert): DataFrame =
    Atomic.statement(spark)(runStmt(spark, stmt))

  private def runStmt(spark: SparkSession, stmt: SqlDml.Upsert): DataFrame = {
    // a VIEW target routes to its INSTEAD OF triggers (or refuses —
    // SQLite's rule); the write machinery below never runs for views
    Triggers.interceptViewInsert(spark, stmt).foreach(df => return df)
    val verb = if (stmt.replace) "INSERT OR REPLACE" else "INSERT"
    // backtick-quote: ingested tables are hash-named (md5 hex) and may
    // start with a digit, which spark.table() would fail to PARSE —
    // a confusing error instead of "not registered"
    val quotedName = Ddl.quote(stmt.table)
    val base =
      try spark.table(quotedName)
      catch {
        case e: Exception => throw new IllegalArgumentException(
          s"$verb target '${stmt.table}' is not a registered " +
            s"table/view: ${e.getMessage}", e)
      }
    val src = spark.sql(stmt.sourceSql)
    // the emulated rowid column ([[Rowid]]) is NOT part of the
    // positional target schema (SQLite: INSERT binds declared columns;
    // rowid only participates when listed explicitly) — appended rows
    // get max+position below, SQLite's monotonic assignment
    val rowidAuto = Rowid.isEnabled(spark, stmt.table)
    // generated columns are not insertable: they leave the positional
    // target schema (SQLite binds VALUES to non-generated columns
    // only) and an explicit column-list mention is SQLite's own error
    // evaluation (dependency) order — raises SQLite's loop error on a
    // reference cycle, exactly at write time as SQLite does
    val genCols = Ddl.generatedForWrite(spark, stmt.table)
    val genNames = genCols.map(_._1).toSet
    stmt.cols.find(c => genNames(c.toLowerCase)).foreach(c =>
      throw new IllegalArgumentException(
        s"cannot INSERT into generated column \"$c\""))
    val visible =
      (if (rowidAuto) base.columns.filterNot(_.equalsIgnoreCase("rowid"))
       else base.columns).filterNot(c => genNames(c.toLowerCase))
    // the declared rowid-ALIAS column (single-column PRIMARY KEY
    // declared exactly INTEGER on a rowid table — SessionKeys registry)
    // — auto-assigned when the INSERT leaves it unlisted or NULL.
    // Deliberately NOT a schema-type heuristic: `INT PRIMARY KEY`
    // stores a NULL key, and a WITHOUT ROWID key never auto-assigns
    // (raises NOT NULL) — both measured SQLite behaviors.
    val intPk: Option[String] = SessionKeys.table(spark, stmt.table).rowidAlias
      .flatMap(c => base.columns.find(_.equalsIgnoreCase(c)))
    // DEFAULT VALUES: the source binds no target columns — every
    // column falls to its registered DEFAULT / NULL below, one row
    // per source row (trigger bodies fan it out per slice row)
    val isDefaultValues = stmt.defaultValues
    // bind source columns: the declared column list if present, else
    // positional against the visible target schema (SQLite's rule)
    val named0 =
      if (isDefaultValues) src
      else if (stmt.cols.nonEmpty) {
        if (stmt.cols.length != src.columns.length)
          throw new IllegalArgumentException(
            s"$verb INTO ${stmt.table}: ${stmt.cols.length} " +
              s"target columns but the source produces ${src.columns.length}")
        src.toDF(stmt.cols: _*)
      } else {
        if (visible.length != src.columns.length)
          throw new IllegalArgumentException(
            s"$verb INTO ${stmt.table}: table has " +
              s"${visible.length} columns but the source produces " +
              s"${src.columns.length}")
        src.toDF(visible.toIndexedSeq: _*)
      }
    // next auto-assigned key: past both the table's max and, for
    // AUTOINCREMENT tables, the sqlite_sequence high-water mark
    def seqAwareStart(maxExisting: Long): Long =
      math.max(maxExisting,
        if (SessionKeys.table(spark, stmt.table).autoincrement)
          SessionKeys.seqOf(spark, stmt.table)
        else 0L) + 1L
    // SQLite numbers each NULL INTEGER-PRIMARY-KEY row one past the
    // max key seen SO FAR — the table max / sqlite_sequence mark
    // (start-1) AND every key this statement already wrote, explicit
    // or assigned (measured: empty table, VALUES (5,'b'),(NULL,'c')
    // yields 5,6; (10,'a'),(NULL,'b'),(3,'c'),(NULL,'d') yields
    // 10,11,3,12). Closed form over source order: with c = running
    // NULL count and v = key - c at each explicit row, the assigned
    // value is c + max(start-1, running max of v) — assigned keys are
    // themselves monotone in that form, so they never push the running
    // max beyond it. The window is inherently one partition — the
    // price of SQLite's sequential numbering, paid only by batches
    // that actually carry a NULL key.
    def assignNullKeys(df: DataFrame, pk: String, start: Long): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions.{coalesce, greatest, max, sum, when}
      // zipWithIndex (the withSequentialRowid primitive) freezes the
      // source order deterministically across re-executions (slices,
      // RETURNING, and the merged write must all see the same ids)
      val tagged = Rowid.withSequentialRowid(spark, df, 0L)
        .withColumnRenamed("rowid", "__graft_pos")
      val w = Window.orderBy("__graft_pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val keyL = col(pk).cast(org.apache.spark.sql.types.LongType)
      val nullRank = sum(when(keyL.isNull, 1L).otherwise(0L)).over(w)
      val vMax = max(when(keyL.isNotNull, keyL - nullRank)).over(w)
      tagged.withColumn(pk, coalesce(keyL,
          nullRank + greatest(lit(start - 1),
            coalesce(vMax, lit(start - 1)))))
        .drop("__graft_pos")
    }
    // a VALUES batch answers on the driver from its own rows; any
    // other source takes one probe job
    def hasNullKey(df: DataFrame, pk: String): Boolean =
      df.queryExecution.optimizedPlan match {
        case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
          val i = l.output.indexWhere(_.name.equalsIgnoreCase(pk))
          l.data.exists(_.isNullAt(i))
        case _ => df.filter(col(pk).isNull).limit(1).count() > 0
      }
    val named =
      if (rowidAuto && !named0.columns.exists(_.equalsIgnoreCase("rowid")))
        Rowid.aliasOf(spark, stmt.table) match {
          case Some(pk) if named0.columns.exists(_.equalsIgnoreCase(pk)) =>
            // rowid IS the INTEGER PRIMARY KEY (SQLite's alias rule) —
            // supplied keys write through; NULL keys auto-assign
            val withKeys =
              if (!hasNullKey(named0, pk)) named0
              else assignNullKeys(named0, pk,
                seqAwareStart(Rowid.maxRowid(spark, stmt.table)))
            withKeys.withColumn("rowid",
              col(pk).cast(org.apache.spark.sql.types.LongType))
          case Some(pk) =>
            // SQLite auto-assigns the missing INTEGER PRIMARY KEY:
            // max(rowid)+position, seq-aware for AUTOINCREMENT
            Rowid.withSequentialRowid(spark, named0,
                seqAwareStart(Rowid.maxRowid(spark, stmt.table)))
              .withColumn(pk, col("rowid"))
          case None =>
            Rowid.withSequentialRowid(spark, named0,
              Rowid.maxRowid(spark, stmt.table) + 1L)
        }
      else intPk match {
        case Some(pk) =>
          // no rowid surface materialized, but a declared
          // single-column INTEGER PRIMARY KEY still auto-assigns —
          // when unlisted, and for the NULL rows of a listed one
          // (both SQLite's rule): max(existing)+position, seq-aware
          lazy val start = seqAwareStart {
            val r = base.agg(org.apache.spark.sql.functions
              .max(col(pk).cast(org.apache.spark.sql.types.LongType)))
              .first()
            if (r.isNullAt(0)) 0L else r.getLong(0)
          }
          if (!named0.columns.exists(_.equalsIgnoreCase(pk)))
            Rowid.withSequentialRowid(spark, named0, start)
              .withColumn(pk, col("rowid")).drop("rowid")
          else if (hasNullKey(named0, pk)) assignNullKeys(named0, pk, start)
          else named0
        case None => named0
      }
    val unknown = named.columns.map(_.toLowerCase).toSet --
      base.columns.map(_.toLowerCase).toSet -
      (if (isDefaultValues) "__graft_default_values" else "")
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(
        s"$verb INTO ${stmt.table}: no such column(s) " +
          unknown.mkString(", "))
    // full-width row per SQLite: unlisted columns take their declared
    // DEFAULT when one was registered (CREATE TABLE / ADD COLUMN —
    // SessionKeys), else NULL (the replaced row's old values do NOT
    // survive — OR REPLACE deletes and re-inserts), every column cast
    // to the lake schema's type
    val present = named.columns.map(_.toLowerCase).toSet
    val dflts = SessionKeys.table(spark, stmt.table).defaults
    // STRICT tables route every incoming value through the checked
    // cast (SQLite 3.37 type rules — exec.Strict); the storage class
    // is the SOURCE column's static type, default exprs resolve their
    // type once against an empty select
    val strictTypes = SessionKeys.table(spark, stmt.table).strict
    def strictOr(v: Column, src: => org.apache.spark.sql.types.DataType,
                 f: org.apache.spark.sql.types.StructField): Column =
      strictTypes.get(f.name.toLowerCase) match {
        case Some(decl) =>
          Strict.cast(v, src, decl, f.dataType, s"${stmt.table}.${f.name}")
        case _ => v.cast(f.dataType)
      }
    val aligned0 = named.select(base.schema.fields.map { f =>
      if (genNames(f.name.toLowerCase))
        lit(null).cast(f.dataType).as(f.name) // computed below
      else if (present.contains(f.name.toLowerCase))
        strictOr(col(f.name),
          named.schema.fields.find(_.name.equalsIgnoreCase(f.name))
            .map(_.dataType).getOrElse(f.dataType), f).as(f.name)
      else dflts.get(f.name.toLowerCase) match {
        case Some((_, execSql)) =>
          val v = org.apache.spark.sql.functions.expr(execSql)
          strictOr(v,
            spark.sql(s"SELECT ($execSql)").schema.head.dataType, f)
            .as(f.name)
        case None => lit(null).cast(f.dataType).as(f.name)
      }
    }.toIndexedSeq: _*)
    // generated columns compute in declaration order over the filled
    // row (chained references see earlier computed values — SQLite's
    // rule), then the row re-projects to the lake schema order
    val aligned =
      if (genCols.isEmpty) aligned0
      else {
        val types = base.schema.fields
          .map(f => f.name.toLowerCase -> f.dataType).toMap
        genCols.foldLeft(aligned0) { case (df, (c, _, ex, _)) =>
          val actual = base.columns.find(_.equalsIgnoreCase(c)).getOrElse(c)
          df.withColumn(actual,
            org.apache.spark.sql.functions.expr(ex).cast(types(c)))
        }.select(base.columns.map(col).toIndexedSeq: _*)
      }
    // constraint semantics ahead of the merge (exec.Constraints, all
    // measured): the bare-REPLACE algorithm substitutes a NOT NULL
    // column's declared DEFAULT for an incoming NULL; OR IGNORE SKIPS
    // rows violating NOT NULL/CHECK where an explicit ON CONFLICT DO
    // NOTHING does not (those still abort through the write-time
    // guard below)
    val resolved =
      if (stmt.replace && stmt.conflict.isEmpty)
        Constraints.fillReplaceDefaults(spark, stmt.table, aligned)
      else aligned
    val admitted =
      if (stmt.orIgnore)
        Constraints.filterViolating(spark, stmt.table, resolved)
      else resolved
    // the key a bare OR REPLACE / targetless ON CONFLICT resolves
    // against: a session-declared PRIMARY KEY / UNIQUE index when one
    // exists (SQLite's own rule), else the leading-column convention
    // (documented divergence for constraint-less ingested tables)
    lazy val defaultKey = SessionKeys.keyFor(spark, stmt.table)
      .map(_.map { k =>
        base.columns.find(_.equalsIgnoreCase(k)).getOrElse(
          throw new IllegalArgumentException(
            s"$verb INTO ${stmt.table}: declared key column $k is not " +
              s"in the table's current schema"))
      })
      .getOrElse(Seq(visible.head)) // never the emulated rowid
    // INSERT triggers fire over the inserted slice. OR REPLACE fires
    // INSERT only under recursive_triggers=OFF (SQLite fires the
    // implied deletes' triggers only under ON — that interleaving has
    // no set-based order here, so the ON+DELETE-trigger combination
    // declines visibly). ON CONFLICT DO UPDATE splits: the update half fires
    // UPDATE triggers (SQLite lang_upsert — the upsert's UPDATE
    // portion is trigger-visible as an UPDATE), the appended half
    // fires AFTER INSERT.
    if (stmt.replace && stmt.conflict.isEmpty &&
        Pragma.recursiveTriggers(spark) &&
        Triggers.anyFor(spark, stmt.table, "delete"))
      throw new UnsupportedOperationException(
        s"INSERT OR REPLACE into ${stmt.table} under PRAGMA " +
          s"recursive_triggers = ON fires the displaced rows' DELETE " +
          s"triggers in SQLite; this engine cannot interleave them " +
          s"set-based — DELETE the conflicting rows first, or run " +
          s"with recursive_triggers = 0")
    val insTrig = Triggers.anyFor(spark, stmt.table, "insert")
    // the full upsert-clause CHAIN (SQLite 3.35): head + rest; a
    // single-clause statement is a one-element chain
    val chainAll = stmt.conflict.toSeq ++ stmt.conflictRest
    val updAssignCols = chainAll.flatMap(_.assigns.map(_._1))
    val updTrig = chainAll.exists(_.assigns.nonEmpty) &&
      Triggers.anyFor(spark, stmt.table, "update", updAssignCols)
    // every session-DECLARED unique key (PK + column and expression
    // unique indexes) — empty for ingested tables, where none of the
    // uniqueness machinery below runs (the 100 TB path pays nothing)
    val declaredKeys =
      Constraints.uniqueKeys(spark, stmt.table, base.columns.toSeq)
    // the rows an OR REPLACE actually displaces (set by that branch;
    // feeds the ON DELETE cascade for displaced parents below)
    var replacedDisplaced: Option[DataFrame] = None
    // set by the two merges that keep one row per value of every
    // declared key by construction (targetless DO NOTHING / OR IGNORE
    // and bare REPLACE over declared keys): their uniqueness probe
    // below has nothing to find
    var uniqueByConstruction = false
    val (merged, affected, inserted, updOldNew) = stmt.conflict match {
      // clause CHAINS, and the targetless DO UPDATE form on a table
      // with SEVERAL declared keys (SQLite resolves it against
      // whichever constraint actually failed — the single-key join
      // below would miss a conflict on the others), route through the
      // first-matching-clause machinery
      case Some(c)
          if stmt.conflictRest.nonEmpty ||
            (c.keyCols.isEmpty && c.keyExprs.isEmpty &&
              c.assigns.nonEmpty && declaredKeys.size > 1) =>
        chainAll.filter(_.assigns.nonEmpty).foreach { cu =>
          Rowid.guardUpdateAssigns(spark, stmt.table,
            cu.assigns.map(_._1))
          cu.assigns.map(_._1).find(a => genNames(a.toLowerCase))
            .foreach(a => throw new IllegalArgumentException(
              s"cannot UPDATE generated column \"$a\""))
        }
        runChain(spark, stmt.table, base, admitted, chainAll,
          declaredKeys, verb)
      case Some(c) =>
        // an EXPRESSION target (`ON CONFLICT (lower(c))`) or a target
        // WHERE (a partial index's predicate) must MATCH a declared
        // unique index — SQLite's rule, with its no-match error; the
        // matched index's key then drives the resolution below
        val targetKey: Option[Constraints.UniqueKey] =
          if (c.keyExprs.nonEmpty || c.targetWhere.isDefined)
            Some(matchConflictTarget(spark, stmt.table, c, None))
          else None
        // the upsert clause (or OR IGNORE's implied DO NOTHING):
        // resolve the conflict key against the lake schema; no target
        // = the declared/leading default key
        val keys =
          if (targetKey.isDefined) Nil
          else if (c.keyCols.isEmpty) defaultKey
          else c.keyCols.map { k =>
            base.columns.find(_.equalsIgnoreCase(k)).getOrElse(
              throw new IllegalArgumentException(
                s"$verb INTO ${stmt.table} ON CONFLICT: no such column $k"))
          }
        if (c.assigns.isEmpty) {
          // DO NOTHING: conflicting incoming rows are discarded, the
          // rest append — base rows always survive untouched. The
          // targetless form (and OR IGNORE) covers EVERY declared
          // unique key (measured: bare DO NOTHING skips a second-key
          // conflict too); a TARGETED form covers only its key — a
          // conflict on another declared key still aborts, through
          // assertUnique below. Batch-internal duplicates on covered
          // keys keep the FIRST row (SQLite inserts it, later
          // conflictors skip); the constraint-less convention path
          // keeps its documented single-key anti-join.
          val keySets = targetKey match {
            case Some(tk) => Seq(tk)
            case None if c.keyCols.isEmpty && declaredKeys.nonEmpty =>
              uniqueByConstruction = true
              declaredKeys
            case None =>
              Seq(Constraints.collatedKey(spark, stmt.table, keys))
          }
          val batch =
            if (declaredKeys.isEmpty) admitted
            else Constraints.dedupPerKey(spark, admitted, keySets,
              keepLast = false)
          val appended = keySets.foldLeft(batch)(
            (df, k) => Constraints.dropConflicting(df, base, k))
            .select(base.columns.map(col): _*)
          (base.unionAll(appended), appended, appended, None)
        } else {
          // same rowid-desync guard as plain UPDATE: the emulated
          // rowid (or its INTEGER PRIMARY KEY alias) is not a valid
          // DO UPDATE assignment target
          Rowid.guardUpdateAssigns(spark, stmt.table, c.assigns.map(_._1))
          c.assigns.map(_._1).find(a => genNames(a.toLowerCase))
            .foreach(a => throw new IllegalArgumentException(
              s"cannot UPDATE generated column \"$a\""))
          val (m, a, upd, app) = doUpdate(base, admitted,
            targetKey.getOrElse(
              Constraints.collatedKey(spark, stmt.table, keys)),
            c, stmt.table)
          (m, a, app, Some(upd))
        }
      case None =>
        if (stmt.replace) {
          if (declaredKeys.isEmpty)
            // the constraint-less convention path: single-key merge
            // on the leading column (documented divergence)
            (merge(base, admitted, defaultKey), admitted, admitted, None)
          else {
            // REPLACE displaces base rows conflicting on ANY declared
            // unique key (measured: a two-key table loses BOTH old
            // rows), and batch-internal duplicates resolve LAST-wins
            // per key (SQLite's row-at-a-time outcome)
            val batch =
              Constraints.dedupPerKey(spark, admitted, declaredKeys,
                keepLast = true)
            val survivors = declaredKeys.foldLeft(base)(
              (b, k) => Constraints.dropConflicting(b, batch, k))
              .select(base.columns.map(col): _*)
            replacedDisplaced = Some(base.exceptAll(survivors))
            uniqueByConstruction = true
            (survivors.unionAll(batch), batch, batch, None)
          }
        }
        else (base.unionAll(admitted), admitted, admitted, None)
    }
    // RETURNING sees the affected slice with its FINAL values (SQLite
    // lang_returning: inserted rows, plus DO-UPDATE-updated rows);
    // [[Publish.commit]] materializes it BEFORE the re-bind so the
    // handed-back result can't be perturbed by later statements
    val ret = stmt.returning.map(Publish.returning(affected, "", _))
    // changes(): the affected slice (inserted rows; OR-IGNORE
    // survivors only; DO-UPDATE-updated + appended rows — the same
    // set RETURNING hands back, which is SQLite's count). Lazy: only
    // an actual changes() call pays the count.
    SessionChanges.record(spark, () => affected.count())
    // last_insert_rowid(): the max rowid this statement assigned, when
    // the target carries the emulated surface (None = inserted nothing
    // — the value stays, SQLite's rule). Deferred like the counter.
    if (affected.columns.exists(_.equalsIgnoreCase("rowid")))
      SessionChanges.recordInsertRowid(spark, () => {
        val r = affected.agg(
          org.apache.spark.sql.functions.max("rowid")).first()
        if (r.isNullAt(0)) None else Some(r.getLong(0))
      })
    // the NEW-image slices for INSERT triggers, analyzed against the
    // pre-rebind binding (lazy reads stay on the superseded
    // generation — copy-on-write). BEFORE fires per ATTEMPTED row:
    // SQLite runs BEFORE INSERT triggers ahead of conflict checking,
    // so OR IGNORE / DO NOTHING discards still fire them; AFTER fires
    // only for the rows actually inserted.
    def newImage(df: DataFrame) =
      df.select(org.apache.spark.sql.functions.struct(
        df.columns.map(col): _*).as("new"))
    // the attempted-rows slice persists once around both timings
    // (fire() skips its persist on a pre-persisted slice) — a plain
    // INSERT's before and after slices are the same frame, so the
    // source query is scanned once, not per timing
    val beforeSlice =
      if (!insTrig) None else Some(newImage(resolved).persist())
    val afterSlice =
      if (!insTrig) None
      else if (inserted eq resolved) beforeSlice
      else Some(newImage(inserted))
    // the DO-UPDATE half's old/new slice, persisted the same way
    val updSlice = if (!updTrig) None else updOldNew.map(_.persist())
    try {
      beforeSlice.foreach(sl =>
        Triggers.fireBefore(spark, stmt.table, "insert", Nil, sl))
      updSlice.foreach(sl =>
        Triggers.fireBefore(spark, stmt.table, "update", updAssignCols, sl))
      // PRAGMA foreign_keys=1: inserted rows must resolve EVERY FK
      // against the post-statement state (self-FKs see `merged`);
      // DO-UPDATE-updated rows re-validate only the FKs whose child
      // columns the assignments touch (SQLite skips unmodified
      // constraints — measured, as is OR IGNORE discarding conflict
      // rows before FK checks). A parent-key tuple this statement
      // removes (OR REPLACE = SQLite's delete+insert → ON DELETE;
      // DO UPDATE re-keying → ON UPDATE) must be unreferenced.
      val out = ForeignKeys.withPendingRebind(stmt.table) {
        ForeignKeys.assertChildRows(spark, stmt.table, inserted, merged)
        if (updAssignCols.nonEmpty)
          ForeignKeys.assertChildRows(spark, stmt.table, affected, merged,
            Some(updAssignCols.map(_.toLowerCase).toSet))
        // an ON CONFLICT clause OVERRIDES the OR REPLACE resolution
        // (the merge above took the conflict branch — base rows are
        // updated in place or kept, never displaced), so replace
        // semantics apply only to the bare form
        val effReplace = stmt.replace && stmt.conflict.isEmpty
        // a DO UPDATE re-keying a parent with executing ON UPDATE
        // actions defers the parent check until after the cascades
        // (run post-rebind, SQLite's sequencing; Atomic rolls back a
        // late failure)
        val fkMapNeeded = chainAll.exists(_.assigns.nonEmpty) &&
          ForeignKeys.anyUpdateActionsReferencing(spark, stmt.table)
        // append-only forms cannot remove parent keys — no check job
        if (effReplace ||
            (chainAll.exists(_.assigns.nonEmpty) && !fkMapNeeded))
          ForeignKeys.assertParentTransition(spark, stmt.table, base,
            merged, if (effReplace) "delete" else "update",
            assigned = Some(updAssignCols))
        // OR REPLACE's internal delete runs ON DELETE actions for the
        // DISPLACED rows (SQLite cascades even though the key is
        // re-inserted — measured; NO ACTION children are satisfied by
        // the re-inserted key, so assertParentTransition's net
        // old∖new view is exactly right for them). SELF-referential
        // actions settle IN-PLAN over the merged image and hand back
        // the adjusted table for the write below.
        val mergedFk =
          if (effReplace && Pragma.foreignKeys(spark))
            ForeignKeys.applyParentReplace(spark, stmt.table,
              replacedDisplaced.getOrElse(
                base.join(admitted.select(defaultKey.map(col): _*).distinct(),
                  defaultKey, "left_semi")), merged, admitted)
          else merged
        // post-state uniqueness over every declared key — SQLite's
        // `UNIQUE constraint failed: t.c` (plain INSERT duplicates, a
        // DO UPDATE re-keying into a collision, a targeted DO NOTHING
        // conflicting on another key — all abort here); probed by the
        // statement's own written slice, so the scan is O(batch). A
        // merge unique by construction skips the probe — unless a
        // self-FK action rewrote the merged image, which is checked
        // like any write
        if (!(uniqueByConstruction && (mergedFk eq merged)))
          Constraints.assertUnique(spark, stmt.table, mergedFk,
            Some(affected))
        val o = Publish.commit(spark, stmt.table, mergedFk, ret)
        if (fkMapNeeded) {
          updOldNew.foreach(m =>
            ForeignKeys.applyParentUpdate(spark, stmt.table, m))
          ForeignKeys.assertParentTransition(spark, stmt.table, base,
            merged, "update", actionsApplied = true)
        }
        o
      }
      afterSlice.foreach(sl =>
        Triggers.fire(spark, stmt.table, "insert", Nil, "after", sl))
      updSlice.foreach(sl =>
        Triggers.fire(spark, stmt.table, "update", updAssignCols,
          "after", sl))
      // AUTOINCREMENT bookkeeping: sqlite_sequence advances to the
      // largest id this statement ASSIGNED — SQLite assigns rowids
      // before conflict checking, so an OR IGNORE / DO NOTHING
      // discard still advances the sequence (measured: discarded row
      // leaves seq 2, the next insert takes 3). One narrow agg over
      // the attempted slice, only for declared AUTOINCREMENT tables.
      if (SessionKeys.table(spark, stmt.table).autoincrement)
        intPk.foreach { pk =>
          val r = resolved.agg(org.apache.spark.sql.functions
            .max(col(pk).cast(org.apache.spark.sql.types.LongType))).first()
          if (!r.isNullAt(0))
            SessionKeys.bumpSeq(spark, stmt.table, r.getLong(0))
        }
      out
    } finally {
      updSlice.foreach(_.unpersist())
      beforeSlice.foreach(_.unpersist())
    }
  }

  /** A targeted ON CONFLICT form naming expressions or a partial
    * index's WHERE must match a declared UNIQUE index — SQLite's rule
    * and its error text (both the target expressions and the WHERE
    * compare after the same dialect translation the DDL registration
    * applied, whitespace- and case-insensitively). */
  private def matchConflictTarget(spark: SparkSession, table: String,
                                  c: graft.text2sql.SqlDml.OnConflict,
                                  ordinal: Option[Int])
      : Constraints.UniqueKey = {
    def norm(raw: String): String =
      Ddl.generatedExecSql(raw).toLowerCase.filterNot(_.isWhitespace)
    val clauseWhere = c.targetWhere.map(norm)
    val hit: Option[Constraints.UniqueKey] =
      if (c.keyExprs.nonEmpty) {
        val clauseItems = c.keyExprs.map(norm)
        SessionKeys.uniqueExprIndexes(spark, table).find { case (_, es, w) =>
          es.map(_.toLowerCase.filterNot(_.isWhitespace)) == clauseItems &&
            w.map(_.toLowerCase.filterNot(_.isWhitespace)) == clauseWhere
        }.map { case (name, es, w) =>
          Constraints.UniqueKey(s"index '$name'", es, w)
        }
      } else {
        val clauseCols = c.keyCols.map(_.toLowerCase).sorted
        SessionKeys.uniqueColIndexes(spark, table).find { case (_, ks, w) =>
          ks.map(_.toLowerCase).sorted == clauseCols &&
            w.map(_.toLowerCase.filterNot(_.isWhitespace)) == clauseWhere
        }.map { case (name, ks, w) =>
          Constraints.collatedKey(spark, table, ks,
            SessionKeys.riderCollations(spark, name)).copy(where = w)
        }
      }
    hit.getOrElse(throw new IllegalArgumentException(noMatchError(ordinal)))
  }

  /** SQLite 3.40.1's exact no-match text; in a CHAIN the clause gets
    * its 1-based `ordinal` prefix (`1st`/`2nd`/… — measured). */
  private def noMatchError(ordinal: Option[Int]): String = {
    val ord = ordinal.map { i =>
      val suffix = i % 10 match {
        case 1 if i % 100 != 11 => "st"
        case 2 if i % 100 != 12 => "nd"
        case 3 if i % 100 != 13 => "rd"
        case _                  => "th"
      }
      s"$i$suffix "
    }.getOrElse("")
    s"${ord}ON CONFLICT clause does not match any PRIMARY KEY or " +
      "UNIQUE constraint"
  }

  /** `ON CONFLICT (key) DO UPDATE SET … [WHERE p]`: base rows whose
    * key matches an incoming row take the assignments (expressions see
    * the OLD row bare and the incoming row as `excluded.col`, exactly
    * SQLite's scoping); a false/NULL update-WHERE keeps the old row
    * and discards the incoming one; incoming rows with no base match
    * append as plain inserts. One left join + one anti-join — the
    * MERGE shape again, shuffling on the key only.
    *
    * The key is a [[Constraints.UniqueKey]]: plain column lists,
    * expression-index keys, and partial-index keys all resolve here;
    * an incoming row whose key is not live conflicts with nothing and
    * appends.
    *
    * Batch-internal key duplicates: SQLite resolves them sequentially
    * by rowid, an order a distributed batch does not have — one
    * arbitrary row per key drives the update (the same documented
    * caveat as [[merge]]).
    */
  private def doUpdate(base: DataFrame, incoming: DataFrame,
                       key: Constraints.UniqueKey,
                       c: graft.text2sql.SqlDml.OnConflict,
                       table: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.{expr, struct, when}
    import org.apache.spark.sql.types.BooleanType
    // one incoming row per live key drives the update, its columns
    // renamed so assignments read them as `excluded.col`
    val excl = key.tuples(incoming,
      incoming.columns.map(cn => col(cn).as("__excl_" + cn)).toIndexedSeq: _*)
    // alias the base side with the table name so qualified `t.col`
    // references in assignments resolve (dotted names can't alias);
    // bare key expressions resolve to the base side (the excl frame
    // carries only renamed columns)
    val b = if (table.contains(".")) base else base.as(table)
    val joined = b.join(excl, key.matches(excl), "left")
    val assigns: Map[String, String] = c.assigns.map { case (cn, ex) =>
      val res = base.columns.find(_.equalsIgnoreCase(cn)).getOrElse(
        throw new IllegalArgumentException(
          s"INSERT INTO $table ON CONFLICT DO UPDATE: no such column $cn"))
      res -> graft.text2sql.SqlDml.rewriteExcluded(ex)
    }.toMap // rightmost assignment wins on a repeated column (SQLite)
    val hit = key.matched(excl)
    val gate = c.updateWhere match {
      // NULL predicate skips the update, as in SQLite — `when` only
      // fires on TRUE, so the raw && carries that semantics. SQLite
      // coerces NON-boolean gates numerically (measured: WHERE '2'
      // and WHERE '0.5' fire, WHERE 'abc' and WHERE 0 skip), so a
      // text gate goes through try_cast-to-double ≠ 0 — non-numeric
      // text maps to NULL, observably the same skip as SQLite's 0.
      // Residue: SQLite's prefix coercion ('2abc' → 2 → fires) stays
      // a skip here — loud-free but documented, not silent wrongness
      // in the common shapes.
      case Some(w0) =>
        val w = graft.text2sql.SqlDml.rewriteExcluded(w0)
        val truthy = joined.select(expr(w)).schema.head.dataType match {
          case org.apache.spark.sql.types.BooleanType => expr(w)
          case org.apache.spark.sql.types.StringType =>
            expr(s"try_cast(($w) AS double)") =!= lit(0d)
          case _: org.apache.spark.sql.types.NumericType =>
            expr(w) =!= lit(0d)
          case _ => expr(w).cast(BooleanType)
        }
        hit && truthy
      case None    => hit
    }
    val strictTypes = SessionKeys.table(base.sparkSession, table).strict
    def assignCast(ex: String, f: org.apache.spark.sql.types.StructField)
        : Column =
      strictTypes.get(f.name.toLowerCase) match {
        case Some(decl) =>
          Strict.cast(expr(ex), joined.select(expr(ex)).schema.head.dataType,
            decl, f.dataType, s"$table.${f.name}")
        case None => expr(ex).cast(f.dataType)
      }
    val projected0 = joined.select((base.schema.fields.map { f =>
      assigns.get(f.name) match {
        case Some(ex) =>
          when(gate, assignCast(ex, f)).otherwise(b(f.name)).as(f.name)
        case None => b(f.name).as(f.name)
      }
    } :+ gate.as("__graft_hit")).toIndexedSeq: _*)
    // generated columns recompute from the post-assignment row — a
    // pure function of the row, so the unconditional recompute is
    // identity on non-fired rows and SQLite's value on fired ones
    val gens = Ddl.generatedForWrite(base.sparkSession, table)
    val types = base.schema.fields
      .map(f => f.name.toLowerCase -> f.dataType).toMap
    def recompute(df: DataFrame): DataFrame =
      if (gens.isEmpty) df
      else gens.foldLeft(df) { case (acc, (cn, _, ex, _)) =>
        val actual = base.columns.find(_.equalsIgnoreCase(cn)).getOrElse(cn)
        acc.withColumn(actual, expr(ex).cast(types(cn)))
      }.select(df.columns.map(col).toIndexedSeq: _*)
    val projected = recompute(projected0)
    // append = incoming rows whose live key has no base match, plus
    // every row whose key is not live
    val appended = Constraints.dropConflicting(incoming, base, key)
      .select(base.columns.map(col): _*)
    val merged = projected.drop("__graft_hit").unionAll(appended)
    // RETURNING's affected slice: gate-fired updates (new values) +
    // appended inserts (SQLite lang_returning reports both)
    val affected = projected.filter(col("__graft_hit") === lit(true))
      .drop("__graft_hit").unionAll(appended)
    // the UPDATE-trigger slice: old/new images of the gate-fired rows
    // (lazy — only built into a job when a trigger actually fires).
    // With generated columns the new image builds in two steps so the
    // recompute sees the POST-assignment values (flattened as plain
    // columns the generated exprs resolve against).
    val updOldNew = recompute(joined.filter(gate).select(
      (struct(base.columns.map(cn => b(cn).as(cn)).toIndexedSeq: _*)
        .as("__graft_old") +:
        base.schema.fields.map { f =>
          (assigns.get(f.name) match {
            case Some(ex) => assignCast(ex, f)
            case None     => b(f.name)
          }).as(f.name)
        }.toIndexedSeq): _*))
      .select(col("__graft_old").as("old"),
        struct(base.columns.map(col).toIndexedSeq: _*).as("new"))
    (merged, affected, updOldNew, appended)
  }

  /** SQLite 3.35 upsert-clause CHAINS, plus the targetless `DO
    * UPDATE` form on a multi-key table: each conflicting incoming row
    * routes to the FIRST clause (left to right) whose target key it
    * conflicts on, and that clause consumes the row entirely — a
    * gated-out DO UPDATE drops it, never passes it on (measured
    * against sqlite3 3.40.1: clause order decides when a row
    * conflicts on several keys, regardless of index declaration
    * order). Rows conflicting only on keys NO clause covers flow to
    * the append side and abort through the post-state uniqueness
    * scan with SQLite's `UNIQUE constraint failed` text — exactly
    * SQLite's unhandled-conflict outcome.
    *
    * Set-based shape: the batch pays one row-local key evaluation
    * plus one distinct-key left join per covered key (the same
    * O(batch)-probe shape the single-clause path uses), then each
    * clause's slice takes the existing DO NOTHING discard or
    * [[doUpdate]] merge. A targetless DO UPDATE sub-routes its slice
    * by the first conflicting key in DECLARATION order (SQLite's
    * constraint check order) and composes one [[doUpdate]] pass per
    * declared key sequentially — each pass reads the previous pass's
    * merged image, so two incoming rows hitting the same base row
    * through different keys settle like SQLite's row-at-a-time
    * updates. Batch-internal duplicates on covered keys keep their
    * FIRST row (the same documented stand-in for SQLite's rowid
    * order the single-clause path uses). At most ONE clause may be
    * DO UPDATE — a second would need its own trigger/assignment
    * slice interleaving; decline named. */
  private def runChain(spark: SparkSession, table: String,
                       base: DataFrame, admitted: DataFrame,
                       chain: Seq[graft.text2sql.SqlDml.OnConflict],
                       declaredKeys: Seq[Constraints.UniqueKey],
                       verb: String)
      : (DataFrame, DataFrame, DataFrame, Option[DataFrame]) = {
    import org.apache.spark.sql.functions.{col, lit, when}
    if (chain.count(_.assigns.nonEmpty) > 1)
      throw new UnsupportedOperationException(
        s"$verb INTO $table with multiple ON CONFLICT DO UPDATE " +
          "clauses is not supported (at most one DO UPDATE may appear " +
          "in the chain; use DO NOTHING for the additional targets)")
    // resolve each clause's covered key set: a targeted clause must
    // match a declared unique index (SQLite's rule and error); the
    // trailing targetless clause covers every declared key
    val clauseKeys: Seq[Seq[Constraints.UniqueKey]] =
      chain.zipWithIndex.map { case (c, i) =>
        if (c.keyCols.isEmpty && c.keyExprs.isEmpty) declaredKeys
        else {
          // SQLite prefixes chain no-match errors with the clause's
          // ordinal (`1st ON CONFLICT clause does not match …`)
          Seq(matchChainTarget(spark, table, c, i + 1))
        }
      }
    val covered: Seq[Constraints.UniqueKey] =
      clauseKeys.flatten.distinct
    // batch-internal duplicates on covered keys: first row wins
    val batch = Constraints.dedupPerKey(spark, admitted, covered,
      keepLast = false)
    // one hit flag per covered key (probe joins against base's
    // distinct live key tuples — O(batch) rows shuffled per key)
    val tagged = covered.zipWithIndex.foldLeft(batch) {
      case (df, (k, i)) => conflictFlag(df, base, k, s"__gcf$i")
    }
    def keyFlag(k: Constraints.UniqueKey): org.apache.spark.sql.Column =
      col(s"__gcf${covered.indexOf(k)}")
    // first clause (left to right) with a conflicting target
    val clauseIdx = chain.indices.foldRight(lit(-1)) { (ci, els) =>
      when(clauseKeys(ci).map(keyFlag).reduce(_ || _), lit(ci))
        .otherwise(els)
    }
    val routed = tagged.withColumn("__gclause", clauseIdx)
    val baseCols = base.columns.map(c => col(Ddl.quote(c))).toIndexedSeq
    def slice(ci: Int) =
      routed.filter(col("__gclause") === lit(ci))
    // rows matching no clause: genuine non-conflicts append; a row
    // conflicting only on an UNCOVERED key appends too and aborts in
    // the post-state uniqueness scan (SQLite's unhandled conflict)
    val appended = routed.filter(col("__gclause") === lit(-1))
      .select(baseCols: _*)
    var curBase = base
    var updFired: Option[DataFrame] = None
    var updOldNew: Option[DataFrame] = None
    var lateAppended: Option[DataFrame] = None
    chain.indices.foreach { ci =>
      val c = chain(ci)
      if (c.assigns.nonEmpty) {
        // the DO UPDATE clause: targeted = one pass on its key;
        // targetless = one pass per declared key in declaration
        // order over the first-hit sub-slices, composed sequentially
        val keysHere =
          if (clauseKeys(ci).size == 1) clauseKeys(ci)
          else declaredKeys
        val firstKeyIdx = keysHere.zipWithIndex.foldRight(lit(-1)) {
          case ((k, ki), els) => when(keyFlag(k), lit(ki)).otherwise(els)
        }
        val subTagged = slice(ci).withColumn("__gkfirst", firstKeyIdx)
        keysHere.zipWithIndex.foreach { case (k, ki) =>
          val sub = subTagged.filter(col("__gkfirst") === lit(ki))
            .select(baseCols: _*)
          val (m, _, upd, subApp) = doUpdate(curBase, sub, k, c, table)
          // sub rows conflicted on k against the ORIGINAL base, but an
          // EARLIER pass may have re-keyed that base row away — those
          // rows take doUpdate's append side (they insert, exactly as
          // they would at their turn in SQLite's row order) and must
          // ride the inserted/affected accumulators, or RETURNING,
          // changes(), and AFTER INSERT slices would undercount them;
          // merged (m) already contains them either way
          curBase = m
          lateAppended = Some(lateAppended
            .map(_.unionAll(subApp.select(baseCols: _*)))
            .getOrElse(subApp.select(baseCols: _*)))
          updOldNew = Some(updOldNew.map(_.unionByName(upd)).getOrElse(upd))
          val firedNew = upd.select(col("new.*"))
          updFired =
            Some(updFired.map(_.unionByName(firedNew)).getOrElse(firedNew))
        }
      }
      // DO NOTHING clauses consume their slice — nothing to do
    }
    // NOTE: lateAppended rows already live inside curBase (doUpdate's
    // merged includes its own append side) — they join the SLICE
    // accumulators only, never merged
    val appendedAll = lateAppended match {
      case Some(l) => appended.unionAll(l)
      case None    => appended
    }
    val merged = curBase.unionAll(appended)
    val affected = updFired match {
      case Some(u) => u.select(baseCols: _*).unionAll(appendedAll)
      case None    => appendedAll
    }
    (merged, affected, appendedAll, updOldNew)
  }

  /** A chain clause's target must name a declared unique index: the
    * PRIMARY KEY, a column-list unique index (partial or not), or an
    * expression index — matched with the same normalization
    * [[matchConflictTarget]] uses; SQLite's no-match error
    * otherwise. (The single-clause leading-column CONVENTION for
    * constraint-less ingested tables does not extend to chains —
    * SQLite itself rejects any target that matches no index.) */
  private def matchChainTarget(spark: SparkSession, table: String,
                               c: graft.text2sql.SqlDml.OnConflict,
                               ordinal: Int)
      : Constraints.UniqueKey = {
    if (c.keyExprs.nonEmpty || c.targetWhere.isDefined)
      matchConflictTarget(spark, table, c, Some(ordinal))
    else {
      val clauseCols = c.keyCols.map(_.toLowerCase).sorted
      val pkHit = SessionKeys.table(spark, table).pk
        .filter(_.map(_.toLowerCase).sorted == clauseCols)
        .map(ks => Constraints.collatedKey(spark, table, ks))
      pkHit.getOrElse(matchConflictTarget(spark, table, c, Some(ordinal)))
    }
  }

  /** Tag `df` with boolean `flag`: TRUE when the row's live key is
    * among base's — one left join against its distinct live key
    * tuples, no fanout. */
  private def conflictFlag(df: DataFrame, base: DataFrame,
                           key: Constraints.UniqueKey,
                           flag: String): DataFrame = {
    val taken = key.tuples(base)
    df.join(taken, key.matches(taken), "left")
      .withColumn(flag, key.matched(taken))
      .drop(taken.columns.toIndexedSeq: _*)
  }
}
