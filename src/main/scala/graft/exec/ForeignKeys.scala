package graft.exec

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.text2sql.SqlDml

/** Session-declared FOREIGN KEY constraints (delegated surface: the
  * reference's SQLite parses and — under `PRAGMA foreign_keys=ON` —
  * enforces any FK clause the model generates, pandasqlite.py:245-247).
  *
  * Declarations are part of the child table's [[SessionKeys.TableDecl]]
  * (registered at CREATE TABLE / ADD COLUMN), surface through `PRAGMA
  * foreign_key_list` / `foreign_key_check`, follow ALTER renames on
  * BOTH sides (measured: SQLite rewrites parent references on RENAME
  * TO and referenced-column names on RENAME COLUMN), die with a
  * dropped child column (measured: DROP COLUMN silently removes the FK
  * it participates in) and with DROP TABLE of the child; dropping a
  * PARENT leaves the dangling reference SQLite leaves
  * (foreign_key_check then flags every non-null child row —
  * measured).
  *
  * Enforcement (`PRAGMA foreign_keys = 1`) is set-based:
  *  - child INSERT/UPDATE: the statement's would-land rows with every
  *    FK column non-null anti-join the parent key set; a survivor ⇒
  *    "FOREIGN KEY constraint failed", the statement's error in
  *    sqlite3 3.40.1. One broadcast-friendly anti-join per declared
  *    FK over the AFFECTED slice only — the corpus never rescans.
  *  - parent DELETE / key UPDATE / OR REPLACE: keys REMOVED by the
  *    statement (old ∖ new) semi-join each child's references; a
  *    match ⇒ the same error under NO ACTION / RESTRICT (identical
  *    under immediate autocommit statements). Removed-key sets are
  *    bounded by the statement's write, not the table.
  *  - ON DELETE CASCADE / SET NULL / SET DEFAULT actions RUN
  *    ([[applyParentDelete]]): other child tables take internally-
  *    issued DML (triggers fire, recursion and accounting ride the
  *    normal statement path), a self-referential CASCADE settles
  *    in-plan to the fixpoint, and DROP TABLE cascades exactly like
  *    SQLite's implicit DELETE (all measured).
  *  - ON UPDATE CASCADE / SET NULL / SET DEFAULT actions RUN too
  *    ([[applyParentUpdate]]): the statement's old/new row mapping
  *    (the UPDATE-trigger slice shape) keys the child re-point —
  *    CASCADE through one UPDATE…FROM enrichment pass, SET NULL /
  *    SET DEFAULT through the shared ON DELETE machinery — executed
  *    AFTER the parent re-binds (SQLite's sequencing, so the child's
  *    own FK validation sees the new keys); self-referential ON
  *    UPDATE actions execute the same way, settling against the
  *    re-bound table ([[applyParentUpdate]], sqlite3-measured in
  *    ForeignKeySpec).
  * Timing parity (measured, sqlite3 3.40.1): SQLite too settles FK
  * state at the END of the statement — a multi-row INSERT whose later
  * rows create earlier rows' parents passes (`INSERT INTO tree VALUES
  * (4,5),(5,NULL)` succeeds), and `INSERT OR IGNORE` discards
  * unique-conflict rows BEFORE FK checking while erroring on
  * non-conflicting violators — exactly what checking the statement's
  * would-land slice produces.
  */
object ForeignKeys {

  /** SQLite's `foreign_key_list` id for declaration index `i` of `n`
    * FKs: ids count from 0 at the LAST declared constraint (measured
    * 3.40.1). */
  private def listId(n: Int, declIdx: Int): Int = n - 1 - declIdx

  /** FKs (from any child table, the declarations in [[SessionKeys]])
    * whose parent is `table`, with their child table names — the
    * parent-side enforcement set. */
  def referencing(spark: SparkSession, table: String)
      : Seq[(String, SqlDml.Fk)] =
    SessionKeys.tables(spark).toSeq.sortBy(_._1).flatMap { case (child, d) =>
      d.fks.filter(_.parent.equalsIgnoreCase(table)).map(child -> _)
    }

  // ------------------------------------------------ introspection

  private val listSchema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("seq", IntegerType, nullable = false),
    StructField("table", StringType, nullable = false),
    StructField("from", StringType, nullable = false),
    StructField("to", StringType, nullable = true),
    StructField("on_update", StringType, nullable = false),
    StructField("on_delete", StringType, nullable = false),
    StructField("match", StringType, nullable = false)))

  /** `PRAGMA foreign_key_list(T)` — SQLite 3.40.1's exact shape: one
    * row per FK column, ids in REVERSE declaration order, `to` NULL
    * for the short form, match always 'NONE'. */
  def foreignKeyList(spark: SparkSession, table: String): DataFrame = {
    val fks = SessionKeys.table(spark, table).fks
    val rows = fks.zipWithIndex.flatMap { case (fk, i) =>
      fk.cols.zipWithIndex.map { case (c, seq) =>
        Row(listId(fks.size, i), seq, fk.parent, c,
          if (fk.parentCols.isEmpty) null else fk.parentCols(seq),
          fk.onUpdate, fk.onDelete, "NONE")
      }
    }.sortBy(r => (r.getInt(0), r.getInt(1)))
    spark.createDataFrame(
      new java.util.ArrayList[Row](java.util.Arrays.asList(rows: _*)),
      listSchema)
  }

  // ------------------------------------------------ key resolution

  private def tableOpt(spark: SparkSession, name: String): Option[DataFrame] =
    try Some(spark.table(Ddl.quote(name)))
    catch { case scala.util.control.NonFatal(_) => None }

  /** The parent key columns an FK resolves against, SQLite's rule:
    * explicit `(pcols)` must be the parent's PRIMARY KEY or a UNIQUE
    * index; the short form takes the declared PRIMARY KEY. Anything
    * else is SQLite's measured 'foreign key mismatch' error. */
  private def resolveParentCols(spark: SparkSession, child: String,
                                fk: SqlDml.Fk,
                                parentDf: DataFrame): Seq[String] = {
    def mismatch(): Nothing =
      throw new IllegalArgumentException(
        s"""foreign key mismatch - "$child" referencing "${fk.parent}"""")
    val declared = SessionKeys.keyFor(spark, fk.parent)
    if (fk.parentCols.isEmpty) {
      val pk = SessionKeys.table(spark, fk.parent).pk.getOrElse(mismatch())
      // short form: the child column count must equal the parent PK's
      // arity (measured: a 1-column FK to a composite PK is SQLite's
      // mismatch error, not an enforcement against the leading column)
      if (pk.size != fk.cols.size) mismatch()
      pk
    } else {
      val pset = fk.parentCols.map(_.toLowerCase).toSet
      val ok = declared.exists(k =>
        k.map(_.toLowerCase).toSet == pset && k.size == fk.parentCols.size)
      val okIx = SessionKeys.indexesFor(spark, fk.parent).exists {
        case (_, i) =>
          i.unique && i.cols.map(_.toLowerCase).toSet == pset &&
            i.cols.size == fk.parentCols.size
      }
      if (!ok && !okIx) mismatch()
      // resolve case against the lake schema
      fk.parentCols.map { c =>
        parentDf.columns.find(_.equalsIgnoreCase(c)).getOrElse(mismatch())
      }
    }
  }

  /** [[resolveParentCols]] as a key. */
  private def parentKey(spark: SparkSession, child: String, fk: SqlDml.Fk,
                        parentDf: DataFrame): Constraints.UniqueKey =
    Constraints.plainKey(fk.parent,
      resolveParentCols(spark, child, fk, parentDf))

  /** `fk`'s child columns resolved against `df`'s schema, as a key;
    * a missing one is SQLite's 'foreign key mismatch' error. */
  private def childKey(fk: SqlDml.Fk, df: DataFrame, child: String,
                       parent: String): Constraints.UniqueKey =
    Constraints.plainKey(child, fk.cols.map { c =>
      df.columns.find(_.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"""foreign key mismatch - "$child" referencing "$parent""""))
    })

  /** `rows` whose live child tuple has no match among `parentDf`'s
    * parent key tuples. */
  private def orphansOf(rows: DataFrame, child: Constraints.UniqueKey,
                        parentDf: DataFrame,
                        parent: Constraints.UniqueKey): DataFrame = {
    val keys = parent.tuples(parentDf)
    // an anti-join keeps a tuple that is not live: it references nothing
    rows.filter(child.live).join(keys, child.matches(keys), "left_anti")
  }

  // ------------------------------------------------ foreign_key_check

  private val checkSchema = StructType(Seq(
    StructField("table", StringType, nullable = false),
    StructField("rowid", LongType, nullable = true),
    StructField("parent", StringType, nullable = false),
    StructField("fkid", LongType, nullable = false)))

  /** `PRAGMA foreign_key_check[(T)]`: every child row whose non-null
    * FK columns have no parent match, as (table, rowid, parent, fkid)
    * — fkid is the `foreign_key_list` id. A MISSING parent table flags
    * every non-null row (measured); a key mismatch raises SQLite's
    * error. Distributed: one anti-join per FK over the child; output
    * ordered (table, rowid, fkid) for determinism (SQLite emits
    * single-table checks in the same rowid-major order; the bare
    * form's cross-table order here is name-sorted). */
  def foreignKeyCheck(spark: SparkSession,
                      table: Option[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val tables = table match {
      case Some(t) =>
        // measured: sqlite3 errors on an unknown name (no main. prefix
        // here) and answers empty for an FK-less table
        if (tableOpt(spark, t).isEmpty)
          throw new IllegalArgumentException(s"no such table: $t")
        Seq(t)
      case None =>
        SessionKeys.tables(spark).filter(_._2.fks.nonEmpty).keys.toSeq.sorted
    }
    val parts = tables.flatMap { t =>
      val fks = SessionKeys.table(spark, t).fks
      if (fks.isEmpty) Nil
      else {
        Rowid.enable(spark, t) // the report column SQLite answers
        val child = tableOpt(spark, t).getOrElse(
          throw new IllegalArgumentException(s"no such table: main.$t"))
        val ridCol =
          if (child.columns.exists(_.equalsIgnoreCase("rowid")))
            col("rowid").cast(LongType)
          else lit(null).cast(LongType) // declared-rowid-shadowed edge
        fks.zipWithIndex.map { case (fk, i) =>
          val id = listId(fks.size, i).toLong
          val ck = childKey(fk, child, t, fk.parent)
          val violating = tableOpt(spark, fk.parent) match {
            case None => // missing parent: all non-null rows flag
              child.filter(ck.live)
            case Some(p) =>
              orphansOf(child, ck, p, parentKey(spark, t, fk, p))
          }
          violating.select(lit(t).as("table"), ridCol.as("rowid"),
            lit(fk.parent).as("parent"), lit(id).as("fkid"))
        }
      }
    }
    if (parts.isEmpty)
      spark.createDataFrame(
        java.util.Collections.emptyList[Row](), checkSchema)
    else
      parts.reduce(_ unionAll _).orderBy("table", "rowid", "fkid")
  }

  // ------------------------------------------------ enforcement

  private def fail(): Nothing =
    throw new IllegalArgumentException("FOREIGN KEY constraint failed")

  /** Child-side check: `rows` (the statement's would-land images for
    * the child table) must resolve every non-null FK tuple against the
    * POST-STATEMENT parent. `newSelf` carries the child table's own
    * new state so a self-referential FK resolves against it.
    * `touched = Some(cols)` restricts the check to FKs whose child
    * columns intersect the assigned set — SQLite skips constraints an
    * UPDATE does not modify (measured: re-pointing one FK column does
    * NOT re-validate a pre-existing dangle on another FK). */
  def assertChildRows(spark: SparkSession, table: String,
                      rows: DataFrame, newSelf: DataFrame,
                      touched: Option[Set[String]] = None): Unit = {
    val fks0 = SessionKeys.table(spark, table).fks
    val fks = touched match {
      case Some(cols) =>
        fks0.filter(_.cols.exists(c => cols.contains(c.toLowerCase)))
      case None => fks0
    }
    if (fks.isEmpty || !Pragma.foreignKeys(spark)) return
    fks.foreach { fk =>
      val parentDf =
        if (fk.parent.equalsIgnoreCase(table)) newSelf
        else tableOpt(spark, fk.parent).getOrElse(
          throw new IllegalArgumentException(
            s"no such table: main.${fk.parent}"))
      val pk = parentKey(spark, table, fk, parentDf)
      val ck = childKey(fk, rows, table, fk.parent)
      if (!orphansOf(rows, ck, parentDf, pk).isEmpty) fail()
    }
  }

  // -------------------------------------------- ON DELETE actions

  /** Tables whose copy-on-write re-bind is PENDING on this thread (the
    * statement computed `merged` but has not rebound yet). A cascade
    * chain that cycles back into one of these would be silently
    * overwritten by the pending re-bind — declined visibly instead
    * (same reasoning as the BEFORE-trigger cascade guard). */
  private val pendingRebinds = new ThreadLocal[List[String]] {
    override def initialValue(): List[String] = Nil
  }

  /** Run `f` with `table` marked rebind-pending (every DML statement
    * wraps its enforcement+write section in this). */
  def withPendingRebind[T](table: String)(f: => T): T = {
    pendingRebinds.set(table.toLowerCase :: pendingRebinds.get)
    try f finally pendingRebinds.set(pendingRebinds.get.tail)
  }

  /** Does any registered FK declare a cascade-style ON DELETE or ON
    * UPDATE action? — the [[Atomic]] snapshot gate: only executing
    * actions can make a trigger-less statement multi-write. */
  def anyActionFks(spark: SparkSession): Boolean =
    SessionKeys.tables(spark).values.exists(_.fks.exists(fk =>
      isAction(fk.onDelete) || isAction(fk.onUpdate)))

  /** True when enforcement is on and any FK referencing `table`
    * declares an executing ON UPDATE action — gates building the
    * old/new row mapping at the parent-update call sites. */
  def anyUpdateActionsReferencing(spark: SparkSession,
                                  table: String): Boolean =
    Pragma.foreignKeys(spark) && referencing(spark, table).exists {
      case (_, fk) => isAction(fk.onUpdate)
    }

  private def isAction(a: String): Boolean =
    a == "CASCADE" || a == "SET NULL" || a == "SET DEFAULT"

  /** Apply ON DELETE actions for keys `table`'s statement removes
    * (oldDf → newDf) and enforce NO ACTION/RESTRICT afterward —
    * SQLite's order (measured: a CASCADE that removes the referencing
    * row satisfies a sibling NO ACTION constraint). Returns the
    * possibly-REDUCED new state: a self-referential CASCADE removes
    * descendant rows in-plan (iterated to the fixpoint — SQLite's
    * row-at-a-time chain, settled set-based), and a self SET NULL
    * nulls the dangling references in-plan. Other child tables take
    * real internally-issued DML (their DELETE triggers fire and
    * total_changes() counts them, both measured); a cascade that
    * cycles back into a rebind-pending table declines visibly. */
  def applyParentDelete(spark: SparkSession, table: String,
                        oldDf: DataFrame, newDf: DataFrame): DataFrame = {
    if (!Pragma.foreignKeys(spark)) return newDf
    val refs = referencing(spark, table)
    if (refs.isEmpty) return newDf
    var current = newDf
    // actions first (self-FKs transform `current`; others issue DML)
    val (actions, checks) = refs.partition {
      case (_, fk) => isAction(fk.onDelete)
    }
    if (actions.nonEmpty) {
      // SELF actions settle first: a self-referential CASCADE grows
      // the removed-key set, and child-table cascades keyed on the
      // PRE-self set would strand rows referencing cascaded
      // descendants (SQLite deletes them — measured ordering)
      val (selfActs, childActs) = actions.partition {
        case (childName, _) => childName.equalsIgnoreCase(table)
      }
      selfActs.foreach { case (_, fk) =>
        val pk = parentKey(spark, table, fk, oldDf)
        current = applySelfAction(spark, table, fk, oldDf, current, pk)
      }
      childActs.foreach { case (childName, fk) =>
        val pk = parentKey(spark, childName, fk, oldDf)
        applyChildAction(spark, table, childName, fk, oldDf, current, pk)
      }
    }
    // NO ACTION / RESTRICT: check against the POST-action child state.
    // SET DEFAULT re-checks too — its substituted value must not be a
    // key this same statement removes (the child rewrite validated
    // against the parent's PRE-statement state)
    val recheck = checks ++ actions.filter {
      case (_, fk) => fk.onDelete == "SET DEFAULT"
    }
    recheck.foreach { case (childName, fk) =>
      val childNow =
        if (childName.equalsIgnoreCase(table)) Some(current)
        else tableOpt(spark, childName)
      childNow.foreach { childDf =>
        val pk = parentKey(spark, childName, fk, oldDf)
        if (removedReferenced(oldDf, current, pk, childDf,
            childKey(fk, childDf, childName, table))) fail()
      }
    }
    current
  }

  /** Child rows of `table` itself referencing removed keys: CASCADE
    * iterates survivors to the fixpoint (each round's removals expose
    * the next level — a tree delete); SET NULL / SET DEFAULT is one
    * projection pass (assignments remove no keys). The subject's own
    * DELETE triggers cannot fire over rows removed in-plan — declined
    * when any are registered (visible, never a silent skip). */
  private def applySelfAction(spark: SparkSession, table: String,
                              fk: SqlDml.Fk, oldDf: DataFrame,
                              merged: DataFrame,
                              parent: Constraints.UniqueKey): DataFrame =
    // follow ONLY the chain rooted at keys this statement removes:
    // frontier_0 = the statement's removed keys. A pre-existing
    // dangling row (its parent never existed) references no frontier
    // key and SURVIVES — measured: sqlite3 leaves it, flagged only by
    // foreign_key_check. Seeding from all dangling tuples instead
    // would silently delete it.
    applySelfActionKeys(spark, table, fk, merged, parent,
      removedKeys(oldDf, merged, parent), None)

  /** [[applySelfAction]] seeded with an EXPLICIT frontier — shared by
    * the DELETE route (frontier = the statement's removed keys) and
    * INSERT OR REPLACE (frontier = the DISPLACED keys, which the same
    * statement re-inserts, so removedKeys would see nothing — yet
    * SQLite cascades for them, measured). `written` (REPLACE route
    * only) carries the statement's own written rows: a cascade victim
    * holding one of their key tuples declines named, because SQLite
    * resolves that interaction in VALUES order — measured both ways:
    * (1,NULL),(2,1) keeps the re-inserted child, (2,1),(1,NULL)
    * cascades it away; same for the SET NULL arm's re-point. */
  private def applySelfActionKeys(spark: SparkSession, table: String,
                                  fk: SqlDml.Fk,
                                  merged: DataFrame,
                                  parent: Constraints.UniqueKey,
                                  frontier0: DataFrame,
                                  written: Option[DataFrame])
      : DataFrame = {
    import org.apache.spark.sql.functions.{expr, lit, when}
    val child = childKey(fk, merged, table, table)
    def guardWritten(hit: DataFrame, what: String): Unit =
      written.foreach { w =>
        // by key tuple NULL-safely: a written row whose parent key has
        // a NULL member (a nullable UNIQUE parent column) is still one
        // of the statement's rows, and a hit base row sharing that
        // tuple declines with it — conservative, never silent
        if (!parent.sameTuple(hit, w).isEmpty)
          throw new UnsupportedOperationException(
            s"INSERT OR REPLACE into $table: a self-referential ON " +
              s"DELETE ${fk.onDelete} $what a row this same statement " +
              s"writes — SQLite resolves that in VALUES order, which " +
              s"has no set-based equivalent; split the statement")
      }
    fk.onDelete match {
      case "CASCADE" =>
        // each round deletes rows referencing the frontier and the
        // victims' OWN keys form the next frontier (a tree delete).
        if (frontier0.isEmpty) merged // zero-removal: complete no-op
        else {
          // each round's survivor/frontier plans reference BOTH prior
          // trees — localCheckpoint per round keeps the plan constant-
          // depth instead of exponential, and superseded rounds'
          // checkpoint RDDs are released EXPLICITLY (unpersisting the
          // derived Dataset cannot free them — the same discipline as
          // ops/Dedup's connected components). Only the FINAL survivor
          // checkpoint stays for the caller's write (one bounded copy
          // per statement, GC'd with the session).
          var survivors = merged.localCheckpoint()
          var survRdd = ckptRddOf(survivors)
          var frontier = frontier0.localCheckpoint()
          var frontRdd = ckptRddOf(frontier) // backs the live frontier
          var extra = 0L
          var rounds = 0
          var guarded = false
          var done = false
          while (!done) {
            rounds += 1
            if (rounds > 1000)
              throw new UnsupportedOperationException(
                s"self-referential ON DELETE CASCADE on $table did " +
                  s"not settle within 1000 rounds; delete explicitly")
            val cur = survivors
            val hitCond = child.matches(frontier)
            val victims = cur.join(frontier, hitCond, "left_semi")
              .localCheckpoint()
            val vickRdd = ckptRddOf(victims)
            val vcount = victims.count()
            if (vcount == 0) {
              vickRdd.foreach(_.unpersist(false))
              done = true
            } else {
              // the subject's own DELETE triggers cannot fire over
              // rows removed in-plan — declined only when rows
              // actually cascade (a no-op cascade stays silent, and
              // DROP TABLE's implicit DELETE never fires triggers)
              if (!guarded) {
                guarded = true
                if (Triggers.anyFor(spark, table, "delete"))
                  throw new UnsupportedOperationException(
                    s"a self-referential ON DELETE CASCADE on $table " +
                      s"cannot fire the table's own DELETE triggers " +
                      s"over cascaded rows set-based; drop the " +
                      s"trigger or delete explicitly")
              }
              // a cascade victim the statement itself wrote is the
              // VALUES-order-dependent interaction — decline (REPLACE
              // route only; DELETE statements write no rows)
              guardWritten(victims, "would cascade into")
              extra += vcount
              val next = cur.join(frontier, hitCond, "left_anti")
                .localCheckpoint()
              val nextRdd = ckptRddOf(next)
              // next round's frontier is shallow over the victims'
              // checkpoint — keep that RDD, free the superseded ones
              frontier = parent.tuples(victims)
              survRdd.foreach(_.unpersist(false)); survRdd = nextRdd
              frontRdd.foreach(_.unpersist(false)); frontRdd = vickRdd
              survivors = next
            }
          }
          frontRdd.foreach(_.unpersist(false))
          // cascaded self-rows count toward total_changes() only
          if (extra > 0) {
            val cnt = extra
            SessionChanges.inTriggerBody {
              SessionChanges.record(spark, () => cnt)
            }
          }
          survivors
        }
      case _ => // SET NULL / SET DEFAULT: one projection pass
        val removed = frontier0
        // zero-removal: complete no-op — in particular the SET
        // DEFAULT re-validation below must not flag a PRE-EXISTING
        // dangle this statement never touched
        if (removed.isEmpty) return merged
        // a re-point hitting a statement-written row declines
        // (REPLACE route; measured order dependence — see Scaladoc)
        guardWritten(merged.join(removed, child.matches(removed),
          "left_semi"), "would re-point")
        val marked = merged.join(removed, child.matches(removed), "left_outer")
        val hit = child.matched(removed)
        val dflts = SessionKeys.table(spark, table).defaults
        val out = marked.select(merged.columns.map { c =>
          if (fk.cols.exists(_.equalsIgnoreCase(c))) {
            val repl =
              if (fk.onDelete == "SET NULL") lit(null)
              else dflts.get(c.toLowerCase).map(d => expr(d._2))
                .getOrElse(lit(null))
            when(hit, repl.cast(merged.schema(c).dataType))
              .otherwise(merged(Ddl.quote(c))).as(c)
          } else merged(Ddl.quote(c)).as(c)
        }.toIndexedSeq: _*)
        // SET DEFAULT must still resolve (measured: a default pointing
        // at a removed/missing key fails the statement)
        if (fk.onDelete == "SET DEFAULT")
          assertChildRows(spark, table, out, out,
            Some(fk.cols.map(_.toLowerCase).toSet))
        out
    }
  }

  /** Issue the cascading DML against another child table — a real
    * statement through [[Mutate]], so the child's triggers fire and
    * its own FKs cascade recursively (both measured). Accounting rides
    * the trigger-body bucket: total_changes() counts cascades,
    * changes() does not (measured). */
  private def applyChildAction(spark: SparkSession, table: String,
                               childName: String, fk: SqlDml.Fk,
                               oldDf: DataFrame, newDf: DataFrame,
                               parent: Constraints.UniqueKey): Unit =
    applyChildActionKeys(spark, table, childName, fk,
      removedKeys(oldDf, newDf, parent), fk.onDelete, "DELETE")

  /** The action keyed on an explicit removed-key set (parent key
    * [[Constraints.UniqueKey.tuples]]).
    * A statement that removes nothing cascades nothing — no child
    * rewrite, no spurious cycle decline (measured: a zero-row DELETE
    * on a cascade parent is a complete no-op in sqlite3). */
  private def applyChildActionKeys(spark: SparkSession, table: String,
                                   childName: String, fk: SqlDml.Fk,
                                   removed: DataFrame,
                                   action: String,
                                   averb: String): Unit = {
    if (removed.isEmpty) return
    if (pendingRebinds.get.contains(childName.toLowerCase))
      throw new UnsupportedOperationException(
        s"ON $averb $action on $childName → $table cascades " +
          s"back into a table this statement is rewriting; the " +
          s"set-based engine cannot interleave the writes — break the " +
          s"FK cycle or delete explicitly")
    val childDf = tableOpt(spark, childName).getOrElse(return)
    val child = childKey(fk, childDf, childName, table)
    Publish.withView(removed, "fkcas")(view => SessionChanges.inTriggerBody {
      val hitWhere = s"EXISTS (SELECT 1 FROM `$view` WHERE " +
        child.matchesSql(view, removed.columns.toSeq) + ")"
      action match {
        case "CASCADE" =>
          // reachable for DELETE only — UPDATE-cascade re-points
          // through the mapping join in [[applyParentUpdate]]
          Mutate.runDelete(spark,
            SqlDml.Delete(childName, Some(hitWhere), None, ""))
        case "SET NULL" =>
          Mutate.runUpdate(spark, SqlDml.Update(childName,
            fk.cols.map(c => c -> "NULL"), Some(hitWhere), None, ""))
        case "SET DEFAULT" =>
          val dflts = SessionKeys.table(spark, childName).defaults
          Mutate.runUpdate(spark, SqlDml.Update(childName,
            fk.cols.map(c =>
              c -> dflts.get(c.toLowerCase).map(_._2).getOrElse("NULL")),
            Some(hitWhere), None, ""))
      }
    })
  }

  /** Apply ON UPDATE actions for re-keyed parent rows — called AFTER
    * the parent re-bound (SQLite's sequencing: the cascaded child
    * re-point then validates against the NEW parent state). `mapping`
    * pairs each updated row's old/new images as `old`/`new` structs
    * (the UPDATE-trigger slice shape). CASCADE re-points child
    * references through an UPDATE…FROM against the (old key → new
    * key) map; SET NULL / SET DEFAULT reuse the ON DELETE machinery
    * keyed on the CHANGED old keys. Leftover danglers surface through
    * the caller's `assertParentTransition(actionsApplied = true)`
    * pass.
    *
    * SELF-referential actions execute too: this runs AFTER the parent
    * re-bound, so the "child" side of a self-FK is simply the current
    * (already-rebound) table state and the re-point is an ordinary
    * follow-up UPDATE against it — the same internally-issued DML any
    * other child takes, firing the table's own UPDATE triggers and
    * recursing through its FKs naturally (a re-point that re-keys
    * further parents maps again through this same path). Only a
    * cascade cycling into a STILL-rebind-pending table (the upsert
    * DO UPDATE route holds its flag through this call) declines. */
  def applyParentUpdate(spark: SparkSession, table: String,
                        mapping: DataFrame): Unit = {
    import org.apache.spark.sql.functions.col
    if (!Pragma.foreignKeys(spark)) return
    val refs = referencing(spark, table).filter {
      case (_, fk) => isAction(fk.onUpdate)
    }
    if (refs.isEmpty) return
    val parentDf = tableOpt(spark, table).getOrElse(return)
    refs.foreach { case (childName, fk) =>
      val pcols = resolveParentCols(spark, childName, fk, parentDf)
      // only rows whose KEY actually changed re-point anything
      val changed = mapping.filter(pcols.map(p =>
          !(col("old").getField(p) <=> col("new").getField(p)))
          .reduce(_ || _))
      val remap = changed
        .select(pcols.zipWithIndex.flatMap { case (p, i) =>
          Seq(col("old").getField(p).as(s"__fk_o$i"),
            col("new").getField(p).as(s"__fk_n$i"))
        }.toIndexedSeq: _*)
        .distinct()
      if (!remap.isEmpty) fk.onUpdate match {
        case "CASCADE" =>
          if (pendingRebinds.get.contains(childName.toLowerCase))
            throw new UnsupportedOperationException(
              s"ON UPDATE CASCADE on $childName → $table cascades " +
                s"back into a table this statement is rewriting; break " +
                s"the FK cycle or update explicitly")
          val childDf = tableOpt(spark, childName).getOrElse(return)
          val child = childKey(fk, childDf, childName, table)
          Publish.withView(remap, "fkcas")(view => SessionChanges.inTriggerBody {
            val joinWhere = child.matchesSql(view,
              pcols.indices.map(i => s"__fk_o$i"))
            // one enrichment-merge pass through the UPDATE…FROM route:
            // matched child rows take the NEW key, unmatched rows stay;
            // the child's own triggers fire and its FKs validate
            // against the already-rebound parent
            Mutate.runUpdate(spark, SqlDml.Update(childName,
              fk.cols.zipWithIndex.map { case (cc, i) =>
                cc -> s"`$view`.__fk_n$i"
              },
              Some(joinWhere), None, "", from = Some(s"`$view`")))
          })
        case act => // SET NULL / SET DEFAULT
          applyChildActionKeys(spark, table, childName, fk,
            Constraints.plainKey(table, pcols)
              .tuples(changed.select(col("old.*"))),
            act, "UPDATE")
      }
    }
  }

  /** `INSERT OR REPLACE`'s internal delete: SQLite runs ON DELETE
    * actions for DISPLACED rows even though the conflicting key is
    * re-inserted by the same statement (measured: REPLACE of a
    * cascade-referenced key EMPTIES the child), while NO ACTION
    * children are satisfied by the re-inserted key (also measured —
    * end-of-statement settling again). `displaced` is the set of base
    * rows the replace removes; `merged` the post-statement table image
    * (pre-write); `written` the statement's own written slice.
    * SELF-referential actions execute IN-PLAN over `merged` — the same
    * settle-to-fixpoint the DELETE route runs ([[applySelfActionKeys]],
    * frontier = the displaced keys) — and the adjusted merged image is
    * returned for the caller's materializing write. The one decline
    * left is a cascade/re-point landing on a row this same statement
    * writes: SQLite resolves that interaction in VALUES order
    * (measured both ways), which has no set-based equivalent. */
  def applyParentReplace(spark: SparkSession, table: String,
                         displaced0: DataFrame,
                         merged: DataFrame,
                         written: DataFrame): DataFrame = {
    if (!Pragma.foreignKeys(spark)) return merged
    val refs = referencing(spark, table).filter {
      case (_, fk) => isAction(fk.onDelete)
    }
    if (refs.isEmpty) return merged
    // materialize ONCE: the probe and every cascade read the same
    // displaced set (a non-deterministic insert source must not yield
    // different sets per consumer), and the lazy changes() thunks the
    // cascades record keep a recomputable leaf — so the checkpoint is
    // deliberately left for session GC, one bounded copy per REPLACE
    val displaced = displaced0.localCheckpoint()
    if (displaced.isEmpty) return merged // conflict-free: plain insert
    refs.foldLeft(merged) { case (cur, (childName, fk)) =>
      val pk = parentKey(spark, childName, fk, displaced)
      if (childName.equalsIgnoreCase(table))
        applySelfActionKeys(spark, table, fk, cur, pk, pk.tuples(displaced),
          Some(written))
      else {
        applyChildActionKeys(spark, table, childName, fk,
          pk.tuples(displaced), fk.onDelete, "DELETE")
        cur
      }
    }
  }

  /** This checkpointed Dataset's backing RDD (localCheckpoint leaves a
    * LogicalRDD leaf) — identified from the plan itself, never by
    * diffing the global RDD registry (ops/Dedup's rule: that would
    * capture RDDs cached concurrently by other queries). */
  private def ckptRddOf(df: DataFrame)
      : Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => Some(lr.rdd)
      case _ => None
    }

  /** The live key tuples `oldDf` has and `newDf` lacks. */
  private def removedKeys(oldDf: DataFrame, newDf: DataFrame,
                          parent: Constraints.UniqueKey): DataFrame =
    parent.tuples(oldDf).except(parent.tuples(newDf))

  /** Does any live child tuple of `childDf` reference a key removed by
    * oldDf → newDf? */
  private def removedReferenced(oldDf: DataFrame, newDf: DataFrame,
                                parent: Constraints.UniqueKey,
                                childDf: DataFrame,
                                child: Constraints.UniqueKey): Boolean = {
    val removed = removedKeys(oldDf, newDf, parent)
    !childDf.join(removed, child.matches(removed), "left_semi").isEmpty
  }

  /** True when none of the parent-key columns `fk` references is in
    * `changed`; false when the key cannot be named (no parent columns
    * and no declared PRIMARY KEY — the check then stays). */
  private def parentKeyUnchanged(spark: SparkSession, fk: SqlDml.Fk,
                                 changed: Set[String]): Boolean =
    (if (fk.parentCols.nonEmpty) Some(fk.parentCols)
     else SessionKeys.table(spark, fk.parent).pk)
      .exists(_.forall(c => !changed(c.toLowerCase)))

  /** Parent-side check before `table` rebinds from `oldDf` to `newDf`:
    * key tuples the statement REMOVES must not be referenced by any
    * child row — evaluated against the child's POST-statement state
    * (for a self-referential table that is `newDf`, so deleting a row
    * together with its referrers passes, as measured). `verb` selects
    * the declared action: "delete" → ON DELETE, "update" → ON UPDATE.
    * CASCADE / SET NULL / SET DEFAULT actions would have to rewrite
    * the child here — declined named; NO ACTION / RESTRICT enforce. */
  def assertParentTransition(spark: SparkSession, table: String,
                             oldDf: DataFrame, newDf: DataFrame,
                             verb: String,
                             actionsApplied: Boolean = false,
                             assigned: Option[Iterable[String]] = None)
      : Unit = {
    if (!Pragma.foreignKeys(spark)) return
    // an UPDATE re-checks only the FKs whose parent key it can change
    // (SQLite's fkParentIsModified); once actions ran, or for a
    // delete, every reference is checked
    val changed = assigned.filter(_ => verb == "update" && !actionsApplied)
      .map(Constraints.changeableCols(spark, table, _))
    val refs = referencing(spark, table).filterNot { case (_, fk) =>
      changed.exists(ch => parentKeyUnchanged(spark, fk, ch))
    }
    if (refs.isEmpty) return
    refs.foreach { case (childName, fk) =>
      val childNow =
        // after actions ran, a self-FK's child side is the CURRENT
        // (re-pointed) state, not the pre-cascade merged frame —
        // checking the stale frame would flag the very danglers the
        // executed cascade just fixed
        if (childName.equalsIgnoreCase(table) && actionsApplied)
          tableOpt(spark, childName)
        else if (childName.equalsIgnoreCase(table)) Some(newDf)
        else tableOpt(spark, childName)
      childNow.foreach { childDf =>
        val pk = parentKey(spark, childName, fk, oldDf)
        if (removedReferenced(oldDf, newDf, pk, childDf,
            childKey(fk, childDf, childName, table))) {
          val action = if (verb == "delete") fk.onDelete else fk.onUpdate
          // after [[applyParentUpdate]] ran the actions, any leftover
          // dangle is a genuine violation (SQLite's error), not an
          // unexecuted action
          if (!actionsApplied && action != "NO ACTION" &&
              action != "RESTRICT")
            throw new UnsupportedOperationException(
              s"ON ${verb.toUpperCase} $action on $childName → $table " +
                s"is not enforced set-based; run with PRAGMA " +
                s"foreign_keys = 0 and apply the child rewrite explicitly")
          fail()
        }
      }
    }
  }

}
