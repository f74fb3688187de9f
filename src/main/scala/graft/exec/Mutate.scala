package graft.exec

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.text2sql.SqlDml

/** SQLite `UPDATE` / `DELETE` semantics over immutable lake storage:
  * copy-on-write row rewrites (reference pandasqlite/pandasqlite.py:
  * 245-247 hands any generated statement to SQLite, so both verbs are
  * part of the delegated surface).
  *
  *   UPDATE t SET c = e WHERE p   →  SELECT CASE WHEN p' THEN e' ELSE c
  *                                   END AS c, <other cols> FROM t
  *   DELETE FROM t WHERE p        →  SELECT * FROM t WHERE NOT p'
  *
  * where p' = `coalesce((p), false)` — SQLite updates/deletes exactly
  * the rows whose predicate is TRUE; NULL-predicate rows are kept
  * untouched, which a bare `NOT p` would get wrong. Assignment
  * expressions all see the OLD row (SQLite lang_update.html — the
  * CASE-WHEN projection reads only base columns, so this holds by
  * construction) and are cast to the lake column's type, NULL on a
  * lenient-cast miss per the engine's documented CAST policy.
  *
  * The rewritten table publishes through [[Publish.commit]] (new
  * parquet generation, view re-bound). At 100 TB both shapes are
  * embarrassingly parallel — a single narrow scan-project(-filter)-write
  * pass, no shuffle, no driver data path.
  *
  * `RETURNING` evaluates over the affected slice (old rows for DELETE,
  * post-assignment rows for UPDATE, as SQLite defines) and is
  * materialized BEFORE the view re-binds so the handed-back result
  * cannot be perturbed by later statements.
  */
object Mutate {

  private def q(name: String) = Ddl.quote(name)

  /** SQLite refuses assignments to generated columns with its own
    * error text — every UPDATE route checks before rewriting. */
  private def guardGeneratedAssigns(spark: SparkSession, table: String,
                                    assignCols: Seq[String]): Unit = {
    val gens = SessionKeys.table(spark, table).generated.map(_._1).toSet
    assignCols.find(c => gens(c.toLowerCase)).foreach(c =>
      throw new IllegalArgumentException(
        s"cannot UPDATE generated column \"$c\""))
  }

  /** STRICT-table checked cast for the string-built UPDATE rewrites:
    * resolves the assignment expression's static type against the
    * target table (assignments read the OLD row), then emits the
    * [[Strict.castSql]] guard; non-STRICT tables keep the plain
    * lenient cast. */
  private def strictCastSql(spark: SparkSession, u: SqlDml.Update,
                            e: String,
                            f: org.apache.spark.sql.types.StructField)
      : String =
    SessionKeys.table(spark, u.table).strict.get(f.name.toLowerCase) match {
      case Some(decl) =>
        val src = spark.sql(
          s"${u.withPrefix} SELECT ($e) AS v FROM ${q(u.table)} LIMIT 0"
            .trim).schema.head.dataType
        Strict.castSql(e, src, decl, f.dataType.sql,
          s"${u.table}.${f.name}")
      case None => s"CAST(($e) AS ${f.dataType.sql})"
    }

  /** Recompute a table's generated columns over a post-assignment
    * row frame (pure function of the row — identity on untouched
    * rows, SQLite's value on assigned ones). Columns beyond the base
    * schema (e.g. __rid) pass through untouched. */
  private def recomputeGenerated(spark: SparkSession, table: String,
                                 base: DataFrame, df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    val gens = Ddl.generatedForWrite(spark, table)
    if (gens.isEmpty) df
    else {
      val types = base.schema.fields
        .map(f => f.name.toLowerCase -> f.dataType).toMap
      gens.foldLeft(df) { case (acc, (c, _, ex, _)) =>
        val actual = base.columns.find(_.equalsIgnoreCase(c)).getOrElse(c)
        acc.withColumn(actual, expr(ex).cast(types(c)))
      }.select(df.columns.map(c => col(q(c))).toIndexedSeq: _*)
    }
  }

  private def esc(n: String) = n.replace("'", "''")

  /** Declared collations fold inside the DML WHERE (the statement-
    * level fold must skip DML text — assignments are comparison-
    * shaped — but the WHERE fragment alone is pure predicate
    * context). Applied on the plain UPDATE / DELETE / LIMIT routes;
    * UPDATE … FROM keeps expression-level COLLATE only (a bare
    * reference there may belong to a FROM source this registry does
    * not see — documented README residue). */
  private def foldWhere(spark: SparkSession, table: String,
                        where: Option[String]): Option[String] =
    where.map(w => Collations.foldWhere(spark, table, w,
      Pragma.caseSensitiveLike(spark)))

  private def resolve(spark: SparkSession, table: String,
                      verb: String): DataFrame =
    try spark.table(q(table))
    catch {
      case e: Exception => throw new IllegalArgumentException(
        s"$verb target '$table' is not a registered table/view: " +
          e.getMessage, e)
    }

  /** The preamble every UPDATE route shares: resolve the target,
    * refuse unknown, rowid and generated assignment targets, and keep
    * the rightmost assignment per column (SQLite's rule). */
  private def updateTarget(spark: SparkSession, u: SqlDml.Update)
      : (DataFrame, Map[String, String]) = {
    val base = resolve(spark, u.table, "UPDATE")
    val known = base.schema.fields.map(_.name.toLowerCase).toSet
    val unknown = u.assigns.map(_._1).filterNot(c => known(c.toLowerCase))
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(
        s"UPDATE ${u.table}: no such column(s) ${unknown.mkString(", ")}")
    Rowid.guardUpdateAssigns(spark, u.table, u.assigns.map(_._1))
    guardGeneratedAssigns(spark, u.table, u.assigns.map(_._1))
    (base, u.assigns.map { case (c, e) => c.toLowerCase -> e }.toMap)
  }

  private val rid = "__graft_rid"

  /** Run `body` over the base tagged with a monotonic row id in column
    * `__graft_rid` — persisted, so every branch of the rewrite reads
    * one consistent id assignment — and registered under a scratch
    * view; both are released when `body` returns or throws. */
  private def withRowIds[T](base: DataFrame, tag: String)(
      body: (DataFrame, String) => T): T = {
    import org.apache.spark.sql.functions.monotonically_increasing_id
    val baseR = base.withColumn(rid, monotonically_increasing_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try Publish.withView(baseR, tag)(body(baseR, _))
    finally baseR.unpersist()
  }

  def runUpdate(spark: SparkSession, u: SqlDml.Update): DataFrame =
    Atomic.statement(spark)(runUpdateStmt(spark, u))

  private def runUpdateStmt(spark: SparkSession, u: SqlDml.Update): DataFrame = {
    // a VIEW target routes to its INSTEAD OF triggers (or refuses —
    // SQLite's rule); the copy-on-write rewrite never runs for views
    Triggers.interceptViewUpdate(spark, u).foreach(df => return df)
    // UPDATE OR <action> differs from plain UPDATE only on a
    // constraint violation; a table with no declared constraints or
    // keys can't raise one, so the statement IS a plain UPDATE there
    // (exactly SQLite). OR ABORT/ROLLBACK match this engine's
    // statement-atomic abort exactly and always execute. OR IGNORE
    // executes the NOT NULL/CHECK skip on the plain route AND the
    // UNIQUE-conflict skip against rows the statement does not touch
    // ([[runUpdateIgnoreKeys]] — an anti-join of the assigned key
    // images against the untouched slice); only intra-statement
    // collision chains (two updated rows interacting on a key) keep
    // the named decline, since their outcome depends on rowid order.
    // OR FAIL keeps rowid-order partial effects — decline named
    // wherever it could differ. OR REPLACE EXECUTES on the plain
    // route: NOT NULL defaults substitute into the assignments below
    // and declared-key displacement resolves set-based (the branch in
    // the merged computation); the FROM/LIMIT routes and the
    // trigger/FK interleavings SQLite reaches per-row decline named.
    val declaredKeysExist =
      SessionKeys.table(spark, u.table).pk.isDefined ||
        SessionKeys.uniqueColIndexes(spark, u.table).nonEmpty ||
        SessionKeys.uniqueExprIndexes(spark, u.table).nonEmpty
    u.orAction.foreach {
      case "IGNORE" =>
        if (declaredKeysExist) {
          // the skip/keep split below is computed once per statement;
          // compositions whose skip decision SQLite interleaves with
          // other per-row machinery decline named
          if (u.from.isDefined || u.limit.isDefined)
            throw new UnsupportedOperationException(
              "UPDATE OR IGNORE … " +
                (if (u.from.isDefined) "FROM" else "LIMIT") +
                " on a table with a declared unique key is not " +
                "supported; use the plain statement form")
          if (Ddl.generatedForWrite(spark, u.table).nonEmpty)
            throw new UnsupportedOperationException(
              "UPDATE OR IGNORE on a table with both a declared unique " +
                "key and generated columns is not supported")
          if (Triggers.anyFor(spark, u.table, "update", u.assigns.map(_._1)))
            throw new UnsupportedOperationException(
              "UPDATE OR IGNORE on a table with both a declared unique " +
                "key and UPDATE triggers is not supported (SQLite " +
                "interleaves the skip with per-row trigger firings)")
          if (ForeignKeys.anyUpdateActionsReferencing(spark, u.table))
            throw new UnsupportedOperationException(
              "UPDATE OR IGNORE on a parent table with executing ON " +
                "UPDATE foreign-key actions is not supported")
          if (u.returning.isDefined && u.withPrefix.trim.nonEmpty)
            throw new UnsupportedOperationException(
              "UPDATE OR IGNORE with both a WITH prefix and RETURNING " +
                "on a unique-keyed table is not supported")
        }
        if ((u.from.isDefined || u.limit.isDefined) &&
            Constraints.has(spark, u.table))
          throw new UnsupportedOperationException(
            "UPDATE OR IGNORE … " +
              (if (u.from.isDefined) "FROM" else "LIMIT") +
              " on a table with NOT NULL/CHECK constraints is not " +
              "supported; use the plain statement form")
      case "FAIL" =>
        // OR FAIL differs from plain UPDATE ONLY when a violation
        // occurs mid-statement (earlier rows keep their effects —
        // rowid-order partials). The plain route below probes for a
        // would-violation first ([[failWouldViolate]]): none → the
        // statement IS a plain UPDATE; one → decline named. The
        // FROM/LIMIT routes keep the upfront decline (their matched
        // slice shape differs).
        if ((u.from.isDefined || u.limit.isDefined) &&
            (declaredKeysExist || Constraints.has(spark, u.table)))
          throw new UnsupportedOperationException(
            "UPDATE OR FAIL … " +
              (if (u.from.isDefined) "FROM" else "LIMIT") +
              " on a table with declared constraints is not supported; " +
              "use the plain statement form")
        if (declaredKeysExist &&
            Ddl.generatedForWrite(spark, u.table).nonEmpty)
          throw new UnsupportedOperationException(
            "UPDATE OR FAIL on a table with both a declared unique " +
              "key and generated columns is not supported")
      case "REPLACE" =>
        if ((u.from.isDefined || u.limit.isDefined) &&
            (declaredKeysExist || Constraints.has(spark, u.table)))
          throw new UnsupportedOperationException(
            "UPDATE OR REPLACE … " +
              (if (u.from.isDefined) "FROM" else "LIMIT") +
              " on a table with declared constraints is not supported; " +
              "use the plain statement form")
        if (declaredKeysExist && Pragma.recursiveTriggers(spark) &&
            Triggers.anyFor(spark, u.table, "delete"))
          throw new UnsupportedOperationException(
            "UPDATE OR REPLACE with recursive_triggers = ON fires the " +
              "displaced rows' DELETE triggers in SQLite; this engine " +
              "cannot interleave them set-based — run with " +
              "recursive_triggers = 0")
        if (declaredKeysExist && Pragma.foreignKeys(spark) &&
            ForeignKeys.referencing(spark, u.table).nonEmpty)
          throw new UnsupportedOperationException(
            "UPDATE OR REPLACE on a parent table referenced by foreign " +
              "keys is not supported (displacement would have to " +
              "interleave the children's ON DELETE actions); use a " +
              "plain UPDATE")
      case _ => // ABORT / ROLLBACK: the statement-atomic abort is exact
    }
    if (u.limit.isDefined && u.from.isDefined)
      throw new UnsupportedOperationException(
        "UPDATE … FROM combined with LIMIT is not supported; split the " +
          "statement")
    if (u.limit.isDefined) return runUpdateLimit(spark, u)
    if (u.from.isDefined) return runUpdateFrom(spark, u)
    val (base, assigns0) = updateTarget(spark, u)
    // the REPLACE algorithm's NOT NULL step (lang_conflict.html): an
    // assignment producing NULL in a NOT NULL column takes the
    // column's declared DEFAULT; without one the write-time guard
    // aborts — both exactly SQLite. Identity for non-NULL results.
    val assigns =
      if (!u.orAction.contains("REPLACE")) assigns0
      else {
        val nn = SessionKeys.table(spark, u.table).notNulls
          .map(_.toLowerCase).toSet
        val dflts = SessionKeys.table(spark, u.table).defaults
        assigns0.map { case (c, e) =>
          c -> (dflts.get(c) match {
            case Some((_, execSql)) if nn(c) =>
              s"coalesce(($e), ($execSql))"
            case _ => e
          })
        }
      }
    // the declared unique keys these assignments can break
    // ([[Constraints.keysChangedBy]]): every other key keeps each row's
    // value, so no route below re-checks or resolves it
    val reachedKeys = Constraints.keysChangedBy(spark, u.table,
      base.columns.toSeq, assigns.keys)
    val gens = Ddl.generatedForWrite(spark, u.table)
    val cond0 = foldWhere(spark, u.table, u.where)
      .map(w => s"coalesce(($w), false)").getOrElse("true")
    // UPDATE OR IGNORE skips rows whose POST-assignment image violates
    // a NOT NULL/CHECK constraint — they keep their old values
    // (measured). The skip rides the WHERE: assignment expressions
    // read the OLD row, so the gate is expressible pre-projection.
    val cond = u.orAction match {
      case Some("IGNORE") if Constraints.has(spark, u.table) =>
        s"($cond0) AND " +
          s"(${Constraints.passesAfterAssignSql(spark, u.table, assigns)})"
      case _ => cond0
    }
    // UPDATE OR IGNORE on a unique-keyed table: the set-expressible
    // route (guards above declined the per-row-interleaved
    // compositions); with no key reached nothing can conflict, so the
    // statement is the plain route below
    if (u.orAction.contains("IGNORE") && reachedKeys.nonEmpty)
      return runUpdateIgnoreKeys(spark, u, base, assigns, cond, reachedKeys)
    // UPDATE OR FAIL: probe for a would-violation — none makes the
    // statement a plain UPDATE (SQLite: OR FAIL differs only when a
    // violation occurs); one declines named (its rowid-order partial
    // effects have no set-based equivalent)
    if (u.orAction.contains("FAIL") &&
        (reachedKeys.nonEmpty || Constraints.has(spark, u.table)))
      failWouldViolate(spark, u, base, assigns, cond0, reachedKeys)
    val proj = base.schema.fields.map { f =>
      assigns.get(f.name.toLowerCase) match {
        case Some(e) =>
          s"CASE WHEN $cond THEN ${strictCastSql(spark, u, e, f)} " +
            s"ELSE ${q(f.name)} END AS ${q(f.name)}"
        case None => q(f.name)
      }
    }
    // generated columns recompute from the POST-assignment row in
    // EVALUATION order: ONE nested select level per generated column,
    // so a generated expr referencing another generated column sees
    // that column's recomputed value (SQLite's dependency rule) —
    // identity on untouched rows. `carry` columns ride through every
    // level untouched (the trigger slice's old-image struct).
    def chainGen(sel: String, carry: Seq[String]): String =
      gens.foldLeft(sel) { case (inner, (c, _, ex, _)) =>
        val cols = carry ++ base.schema.fields.map { f =>
          if (f.name.equalsIgnoreCase(c))
            s"CAST(($ex) AS ${f.dataType.sql}) AS ${q(f.name)}"
          else q(f.name)
        }
        s"SELECT ${cols.mkString(", ")} FROM ($inner)"
      }
    val innerSel = s"SELECT ${proj.mkString(", ")} FROM ${q(u.table)}"
    // the new images of the WHERE-true rows, generated columns
    // recomputed — what the displacement, the child-FK check and the
    // uniqueness probe read
    lazy val updatedNew = {
      val updInner = s"$innerSel WHERE $cond"
      spark.sql((u.withPrefix + " " + (
        if (gens.isEmpty) updInner else chainGen(updInner, Nil))).trim)
    }
    // UPDATE OR REPLACE on a table with declared unique keys: SQLite
    // deletes every existing row a re-keyed row collides with and
    // completes the update (lang_conflict.html). Set-based: the
    // updated slice resolves batch-internal collisions LAST-wins per
    // key (SQLite's row-at-a-time outcome), then untouched rows
    // conflicting with it on ANY declared key drop — the same
    // displacement shape INSERT OR REPLACE uses ([[Upsert]]).
    val replaceKeys = if (u.orAction.contains("REPLACE")) reachedKeys else Nil
    val merged =
      if (replaceKeys.isEmpty)
        spark.sql((u.withPrefix + " " + (
          if (gens.isEmpty) innerSel else chainGen(innerSel, Nil))).trim)
      else {
        import org.apache.spark.sql.functions.col
        // batch-internal collision winner: SQLite keeps the LAST row
        // in rowid order. With a materialized rowid the order is
        // exact; without one the post-shuffle scan order of the
        // touched slice is arbitrary, so the full new-row image is
        // the DETERMINISTIC stand-in (same policy as UPDATE … FROM's
        // min(named_struct) pick — README divergence table)
        val ordered = base.columns.find(_.equalsIgnoreCase("rowid")) match {
          case Some(r) => updatedNew.orderBy(col(q(r)).asc)
          case None => updatedNew.orderBy(
            updatedNew.columns.map(c => col(q(c)).asc).toIndexedSeq: _*)
        }
        val batch = Constraints.dedupPerKey(spark, ordered,
          replaceKeys, keepLast = true)
        val untouched = spark.sql((u.withPrefix +
          s" SELECT * FROM ${q(u.table)} WHERE NOT ($cond)").trim)
        val cols = base.columns.map(c => col(q(c))).toIndexedSeq
        replaceKeys.foldLeft(untouched)(
            (b, k) => Constraints.dropConflicting(b, batch, k))
          .select(cols: _*)
          .unionAll(batch.select(cols: _*))
      }
    val ret = u.returning.map { r =>
      // RETURNING sees the NEW row values, affected rows only
      val retInner = s"SELECT ${proj.mkString(", ")} FROM ${q(u.table)} " +
        s"WHERE $cond"
      val retFrom =
        if (gens.isEmpty) s"($retInner)"
        else s"(${chainGen(retInner, Nil)})"
      spark.sql(s"${u.withPrefix} SELECT $r FROM $retFrom".trim)
    }
    // changes(): WHERE-true rows (SQLite counts matched rows even when
    // values are unchanged). Analyzed NOW against the old binding,
    // counted lazily — only a changes() call pays the narrow
    // filter-count scan.
    val cnt = spark.sql(
      s"${u.withPrefix} SELECT count(*) FROM ${q(u.table)} WHERE $cond".trim)
    SessionChanges.record(spark, () => cnt.first().getLong(0))
    // UPDATE triggers: the affected-row slice pairs each row's OLD and
    // NEW images as structs, built against the PRE-rebind binding
    // (analysis inlines the old plan, so the post-rebind lazy read
    // stays on the superseded generation — copy-on-write guarantees it
    // is still there). WHERE-true rows fire regardless of value
    // change, exactly SQLite.
    val setColNames = u.assigns.map(_._1)
    val trigNeeded = Triggers.anyFor(spark, u.table, "update", setColNames)
    // a child with an executing ON UPDATE action needs the same
    // old/new row mapping the trigger slice carries
    val fkMapNeeded = ForeignKeys.anyUpdateActionsReferencing(spark, u.table)
    val slice =
      if (!trigNeeded && !fkMapNeeded) None
      else {
        val oldS = base.schema.fields
          .map(f => s"'${esc(f.name)}', ${q(f.name)}").mkString(", ")
        // persisted ONCE around both timings (fire() skips its own
        // persist on a pre-persisted slice) — a table with BEFORE and
        // AFTER triggers pays the slice scan once, not twice
        val sliceSql =
          if (gens.isEmpty) {
            val newS = base.schema.fields.map { f =>
              val v = assigns.get(f.name.toLowerCase) match {
                case Some(e) => s"CAST(($e) AS ${f.dataType.sql})"
                case None    => q(f.name)
              }
              s"'${esc(f.name)}', $v"
            }.mkString(", ")
            s"SELECT named_struct($oldS) AS old, named_struct($newS) AS new" +
              s" FROM ${q(u.table)} WHERE $cond"
          } else {
            // flatten the post-assignment row, chain the generated
            // recomputes (one level per column, evaluation order), and
            // re-struct the NEW image from the fully recomputed row;
            // the old-image struct rides through every level untouched
            val flatNew = base.schema.fields.map { f =>
              val v = assigns.get(f.name.toLowerCase) match {
                case Some(e) => s"CAST(($e) AS ${f.dataType.sql})"
                case None    => q(f.name)
              }
              s"$v AS ${q(f.name)}"
            }.mkString(", ")
            val newS = base.schema.fields
              .map(f => s"'${esc(f.name)}', ${q(f.name)}").mkString(", ")
            val inner = s"SELECT named_struct($oldS) AS __graft_old, " +
              s"$flatNew FROM ${q(u.table)} WHERE $cond"
            s"SELECT __graft_old AS old, named_struct($newS) AS new FROM " +
              s"(${chainGen(inner, Seq("__graft_old"))})"
          }
        Some(spark.sql(s"${u.withPrefix} $sliceSql".trim).persist())
      }
    try {
      if (trigNeeded) slice.foreach(sl =>
        Triggers.fireBefore(spark, u.table, "update", setColNames, sl))
      // PRAGMA foreign_keys=1: assigned FK columns must still resolve
      // (new images of the WHERE-true rows), and re-keying a parent
      // must not orphan children — SQLite's end-of-statement outcome
      if (Pragma.foreignKeys(spark)) {
        // the new-image plan is only built when an FK column is
        // actually assigned (assertChildRows would skip anyway, but
        // its argument is strict)
        if (SessionKeys.table(spark, u.table).fks
            .exists(_.cols.exists(c => assigns.contains(c.toLowerCase))))
          ForeignKeys.assertChildRows(spark, u.table, updatedNew, merged,
            Some(assigns.keySet))
        // with executing ON UPDATE actions the parent check moves
        // AFTER the cascades (SQLite's sequencing); the Atomic
        // snapshot (gated on anyActionFks) rolls back a post-rebind
        // failure
        if (!fkMapNeeded)
          ForeignKeys.assertParentTransition(spark, u.table, base, merged,
            "update", assigned = Some(assigns.keys))
      }
      // re-keying into a collision aborts with SQLite's UNIQUE error;
      // probed by the updated slice (new images of WHERE-true rows),
      // so the scan is O(touched), never O(table)
      Constraints.assertUniqueOn(reachedKeys, merged, Some(updatedNew))
      val out = Publish.commit(spark, u.table, merged, ret)
      if (fkMapNeeded) {
        slice.foreach(sl =>
          ForeignKeys.applyParentUpdate(spark, u.table, sl))
        ForeignKeys.assertParentTransition(spark, u.table, base, merged,
          "update", actionsApplied = true)
      }
      if (trigNeeded) slice.foreach(sl =>
        Triggers.fire(spark, u.table, "update", setColNames, "after", sl))
      out
    } finally slice.foreach(_.unpersist())
  }

  /** Run `body` over the matched rows of an UPDATE as (old image
    * struct `__graft_old`, new image columns) — the trigger-slice
    * shape, one scan, persisted while `body` runs. */
  private def withMatchedPairs[T](spark: SparkSession, u: SqlDml.Update,
                                  base: DataFrame,
                                  assigns: Map[String, String], cond: String)(
      body: DataFrame => T): T = {
    val oldS = base.schema.fields
      .map(f => s"'${esc(f.name)}', ${q(f.name)}").mkString(", ")
    val flatNew = base.schema.fields.map { f =>
      val v = assigns.get(f.name.toLowerCase) match {
        case Some(e) => strictCastSql(spark, u, e, f)
        case None    => q(f.name)
      }
      s"$v AS ${q(f.name)}"
    }.mkString(", ")
    val pairs = spark.sql((u.withPrefix +
      s" SELECT named_struct($oldS) AS __graft_old, $flatNew" +
      s" FROM ${q(u.table)} WHERE $cond").trim).persist()
    try body(pairs) finally pairs.unpersist()
  }

  /** Probe the matched `pairs` ([[withMatchedPairs]]) for the two
    * intra-statement collisions on key `k` whose outcome depends on
    * SQLite's rowid processing order: two updated rows landing on one
    * new key value (`sharedNew` raises), or one landing on another's
    * pre-update key value (`ontoOld` raises). Both jobs are bounded by
    * the matched slice. */
  private def probeIntraCollisions(pairs: DataFrame,
                                   k: Constraints.UniqueKey)(
      sharedNew: => Nothing, ontoOld: => Nothing): Unit = {
    import org.apache.spark.sql.functions.{col, expr}
    if (!pairs.filter(k.live).groupBy(k.exprs.map(expr): _*).count()
        .filter(col("count") > 1L).limit(1).isEmpty) sharedNew
    val oldK = k.keyed(pairs.select(col("__graft_old").as("__graft_oldj"),
      col("__graft_old.*")), col("__graft_oldj"))
    val cross = pairs.join(oldK,
      k.matches(oldK) && !(col("__graft_old") <=> col("__graft_oldj")))
    if (!cross.limit(1).isEmpty) ontoOld
  }

  /** UPDATE OR IGNORE on a table with declared unique keys — the
    * set-expressible case (measured, sqlite3 3.40.1): a matched row
    * whose post-assignment key image collides with a row the statement
    * does NOT touch is SKIPPED (keeps its old values); everything else
    * updates. changes() and RETURNING cover only the applied rows, and
    * a key tuple with any NULL member never conflicts — all three
    * measured. The skip/keep split is ONE anti-join of the matched
    * slice's new key images against the untouched slice per key the
    * assignments reach (the same displacement join OR REPLACE builds,
    * direction reversed); what stays declined — checked here, named —
    * are the intra-statement interactions whose outcome depends on
    * SQLite's rowid processing order ([[probeIntraCollisions]]).
    *
    * At 100 TB: every job here is bounded by the statement's matched
    * slice (pairs), except the untouched-side key projection, which is
    * the same narrow distinct-key scan the OR REPLACE route and
    * assertUnique already pay. */
  private def runUpdateIgnoreKeys(spark: SparkSession, u: SqlDml.Update,
                                  base: DataFrame,
                                  assigns: Map[String, String], cond: String,
                                  keys: Seq[Constraints.UniqueKey])
      : DataFrame = {
    import org.apache.spark.sql.functions.col
    def decline(what: String): Nothing =
      throw new UnsupportedOperationException(
        s"UPDATE OR IGNORE: $what value; the per-row skip order has no " +
          "set-based equivalent — split the statement")
    withMatchedPairs(spark, u, base, assigns, cond) { pairs =>
      keys.foreach(k => probeIntraCollisions(pairs, k)(
        decline(s"two updated rows land on the same ${k.label}"),
        decline("an updated row lands on another updated row's " +
          s"pre-update ${k.label}")))
      val untouched = spark.sql((u.withPrefix +
        s" SELECT * FROM ${q(u.table)} WHERE NOT ($cond)").trim)
      val appliedPairs = keys.foldLeft(pairs)((acc, k) =>
        Constraints.dropConflicting(acc, untouched, k))
      val cols = base.columns.map(c => col(q(c))).toIndexedSeq
      val appliedNew = appliedPairs.select(cols: _*)
      // skipped rows keep their OLD images (null-safe struct identity:
      // the old key is unique table-wide, so the full old image is a
      // sound row identity; exact duplicates have identical new images
      // and land on the same side of the split)
      val skippedOld = pairs.join(
          appliedPairs.select(col("__graft_old").as("__graft_apl")),
          col("__graft_old") <=> col("__graft_apl"), "left_anti")
        .select(col("__graft_old.*")).select(cols: _*)
      val merged = untouched.select(cols: _*)
        .unionAll(skippedOld).unionAll(appliedNew)
      // RETURNING sees only the APPLIED rows' new values (measured)
      val ret = u.returning.map(Publish.returning(appliedNew, u.withPrefix, _))
      // changes() counts only the applied rows (measured)
      SessionChanges.record(spark, () => appliedPairs.count())
      if (Pragma.foreignKeys(spark)) {
        if (SessionKeys.table(spark, u.table).fks
            .exists(_.cols.exists(c => assigns.contains(c.toLowerCase))))
          ForeignKeys.assertChildRows(spark, u.table, appliedNew, merged,
            Some(assigns.keySet))
        ForeignKeys.assertParentTransition(spark, u.table, base, merged,
          "update", assigned = Some(assigns.keys))
      }
      Constraints.assertUniqueOn(keys, merged, Some(appliedNew))
      Publish.commit(spark, u.table, merged, ret)
    }
  }

  /** UPDATE OR FAIL's would-violation probe. SQLite's OR FAIL differs
    * from plain UPDATE (= OR ABORT) only when a constraint violation
    * occurs mid-statement: earlier rows keep their effects — a
    * rowid-order partial outcome with no set-based equivalent. So the
    * statement executes as a plain UPDATE exactly when NO violation
    * would occur, and declines named otherwise — checked here before
    * the rewrite: (a) a matched row whose post-assignment image fails
    * NOT NULL/CHECK, (b) any conflict the assignments would create on
    * a key they reach (`keys`): against the untouched slice, or
    * between matched rows ([[probeIntraCollisions]]). All probes are
    * bounded by the statement's matched slice plus the same narrow
    * untouched-key projection the OR IGNORE / OR REPLACE routes pay. */
  private def failWouldViolate(spark: SparkSession, u: SqlDml.Update,
                               base: DataFrame,
                               assigns: Map[String, String],
                               cond0: String,
                               keys: Seq[Constraints.UniqueKey]): Unit = {
    def decline(what: String): Nothing =
      throw new UnsupportedOperationException(
        s"UPDATE OR FAIL: the statement would hit $what mid-statement; " +
          "its rowid-order partial effects have no set-based " +
          "equivalent — use a plain UPDATE (atomic abort) or OR IGNORE")
    if (Constraints.has(spark, u.table)) {
      val bad = spark.sql((u.withPrefix +
        s" SELECT 1 FROM ${q(u.table)} WHERE ($cond0) AND NOT " +
        s"(${Constraints.passesAfterAssignSql(spark, u.table, assigns)})" +
        " LIMIT 1").trim)
      if (!bad.isEmpty) decline("a NOT NULL/CHECK violation")
    }
    if (keys.isEmpty) return
    withMatchedPairs(spark, u, base, assigns, cond0) { pairs =>
      val untouched = spark.sql((u.withPrefix +
        s" SELECT * FROM ${q(u.table)} WHERE NOT ($cond0)").trim)
      keys.foreach { k =>
        // conflicts the assignments would create against rows the
        // statement does not touch: a matched row whose new key an
        // untouched row holds
        val taken = k.tuples(untouched)
        if (!pairs.join(taken, k.matches(taken), "left_semi").isEmpty)
          decline(s"a UNIQUE conflict on ${k.label}")
        probeIntraCollisions(pairs, k)(
          decline(s"two rows landing on one ${k.label} value"),
          decline(s"a row landing on another's pre-update ${k.label} value"))
      }
    }
  }

  /** SQLite's UPDATE-FROM join form (lang_update.html §2): each target
    * row joins the FROM sources under WHERE; matched rows take the
    * assignments (expressions see the joined row), unmatched rows stay.
    * SQLite uses "one arbitrarily chosen" join row when several match a
    * target row — here the choice is the DETERMINISTIC minimum of the
    * assigned row image (`min(named_struct(…))`), a valid instance of
    * "arbitrary" that keeps reruns and the oracle stable.
    *
    * Shape: the base gains a monotonic row id (persisted so both the
    * matched and untouched branches read one consistent id assignment),
    * the join+pick aggregates per id — one shuffle on the join, one on
    * the group — and the rewrite is `(base ⟕anti matched) ∪ matched`.
    * At 100 TB this is the standard enrichment-merge shape; no row
    * crosses the driver.
    */
  private def runUpdateFrom(spark: SparkSession, u: SqlDml.Update): DataFrame = {
    import org.apache.spark.sql.functions.col
    val (base, assigns) = updateTarget(spark, u)
    withRowIds(base, "updf_src") { (baseR, bview) =>
      // alias the rid-tagged base AS the target table name so both
      // bare and `table.col`-qualified references resolve against it
      // (the original view stays registered — a self-reference in the
      // FROM list reads the old state, as SQLite's does)
      val alias = q(u.table)
      val cond = u.where.map(w => s"coalesce(($w), false)").getOrElse("true")
      // STRICT tables: each assignment routes through the checked cast
      // (SQLite 3.37 type rules); the expression's static type resolves
      // against the JOINED frame — target alias plus the FROM sources
      val strictTypes = SessionKeys.table(spark, u.table).strict
      def castOf(e: String, f: org.apache.spark.sql.types.StructField)
          : String =
        strictTypes.get(f.name.toLowerCase) match {
          case Some(decl) =>
            val src = spark.sql(
              (s"${u.withPrefix} SELECT ($e) AS v FROM `$bview` AS $alias, " +
                s"${u.from.get} LIMIT 0").trim).schema.head.dataType
            Strict.castSql(e, src, decl, f.dataType.sql,
              s"${u.table}.${f.name}")
          case None => s"CAST(($e) AS ${f.dataType.sql})"
        }
      val pickFields = base.schema.fields.map { f =>
        val v = assigns.get(f.name.toLowerCase) match {
          case Some(e) => castOf(e, f)
          case None    => s"$alias.${q(f.name)}"
        }
        s"'${f.name.replace("'", "''")}', $v"
      }.mkString(", ")
      val matched = recomputeGenerated(spark, u.table, base, spark.sql(
        s"""${u.withPrefix}
           |SELECT __rid, __pick.* FROM (
           |  SELECT $alias.`$rid` AS __rid,
           |         min(named_struct($pickFields)) AS __pick
           |  FROM `$bview` AS $alias, ${u.from.get}
           |  WHERE $cond
           |  GROUP BY $alias.`$rid`
           |)""".stripMargin.trim))
      val untouched = baseR
        .join(matched.select(col("__rid").as(rid)), Seq(rid), "left_anti")
        .drop(rid)
      val merged = untouched.unionByName(matched.drop("__rid"))
      val ret = u.returning.map(
        Publish.returning(matched.drop("__rid"), u.withPrefix, _))
      // changes(): one count per matched target row (the captured
      // plan stays computable after the view drops / cache release)
      SessionChanges.record(spark, () => matched.count())
      // UPDATE … FROM fires this table's UPDATE triggers like the
      // plain form (trigger bodies themselves route through here, so
      // this is also what makes CASCADING updates fire): OLD = the
      // matched base row, NEW = the picked row image (multi-matches
      // already resolved to the deterministic minimum). Pre-rebind
      // plans; persisted once around both timings.
      val setColNames = u.assigns.map(_._1)
      val slice =
        if (!Triggers.anyFor(spark, u.table, "update", setColNames)) None
        else {
          import org.apache.spark.sql.functions.struct
          val o = baseR.as("graft_updf_o")
          val n = matched.as("graft_updf_n")
          Some(o.join(n,
              col(s"graft_updf_o.`$rid`") === col("graft_updf_n.__rid"))
            .select(
              struct(base.columns.map(c =>
                col(s"graft_updf_o.`$c`").as(c)).toIndexedSeq: _*).as("old"),
              struct(base.columns.map(c =>
                col(s"graft_updf_n.`$c`").as(c)).toIndexedSeq: _*).as("new"))
            .persist())
        }
      try {
        slice.foreach(sl => Triggers.fireBefore(spark, u.table, "update",
          setColNames, sl))
        // FK enforcement over the matched picks (see runUpdateStmt)
        if (Pragma.foreignKeys(spark)) {
          ForeignKeys.assertChildRows(spark, u.table,
            matched.drop("__rid"), merged, Some(assigns.keySet))
          ForeignKeys.assertParentTransition(spark, u.table, base, merged,
            "update", assigned = Some(assigns.keys))
        }
        Constraints.assertUniqueOn(
          Constraints.keysChangedBy(spark, u.table, base.columns.toSeq,
            assigns.keys),
          merged, Some(matched.drop("__rid")))
        val out = Publish.commit(spark, u.table, merged, ret)
        slice.foreach(sl => Triggers.fire(spark, u.table, "update",
          setColNames, "after", sl))
        out
      } finally slice.foreach(_.unpersist())
    }
  }

  def runDelete(spark: SparkSession, d: SqlDml.Delete): DataFrame =
    Atomic.statement(spark)(runDeleteStmt(spark, d))

  private def runDeleteStmt(spark: SparkSession, d: SqlDml.Delete): DataFrame = {
    Triggers.interceptViewDelete(spark, d).foreach(df => return df)
    if (d.limit.isDefined) return runDeleteLimit(spark, d)
    resolve(spark, d.table, "DELETE") // existence check, targeted error
    val cond = foldWhere(spark, d.table, d.where)
      .map(w => s"coalesce(($w), false)").getOrElse("true")
    val merged = spark.sql(
      s"${d.withPrefix} SELECT * FROM ${q(d.table)} WHERE NOT ($cond)".trim)
    val ret = d.returning.map { r =>
      // RETURNING sees the deleted (old) rows
      spark.sql((s"${d.withPrefix} SELECT $r FROM " +
        s"(SELECT * FROM ${q(d.table)} WHERE $cond)").trim)
    }
    // changes(): deleted = WHERE-true rows, counted lazily (see
    // runUpdate)
    val cnt = spark.sql(
      s"${d.withPrefix} SELECT count(*) FROM ${q(d.table)} WHERE $cond".trim)
    SessionChanges.record(spark, () => cnt.first().getLong(0))
    // DELETE triggers: OLD images of the WHERE-true rows (see the
    // UPDATE path for the pre-rebind slice + persist-once rationale)
    val slice =
      if (!Triggers.anyFor(spark, d.table, "delete")) None
      else {
        val base = spark.table(q(d.table))
        val oldS = base.schema.fields
          .map(f => s"'${esc(f.name)}', ${q(f.name)}").mkString(", ")
        Some(spark.sql((s"${d.withPrefix} SELECT named_struct($oldS) AS old" +
          s" FROM ${q(d.table)} WHERE $cond").trim).persist())
      }
    try {
      slice.foreach(sl =>
        Triggers.fireBefore(spark, d.table, "delete", Nil, sl))
      // PRAGMA foreign_keys=1: ON DELETE actions run (cascade /
      // set-null child rewrites — self-referential ones reduce the
      // merged plan in place), then NO ACTION refusals; the subject
      // is rebind-pending until the write lands so a cascade cycling
      // back declines visibly
      val out = ForeignKeys.withPendingRebind(d.table) {
        val merged2 = ForeignKeys.applyParentDelete(spark, d.table,
          spark.table(q(d.table)), merged)
        Publish.commit(spark, d.table, merged2, ret)
      }
      slice.foreach(sl =>
        Triggers.fire(spark, d.table, "delete", Nil, "after", sl))
      out
    } finally slice.foreach(_.unpersist())
  }

  /** A LIMIT/OFFSET expression must be a constant integer (SQLite
    * evaluates it once, before the scan). */
  private def evalConst(spark: SparkSession, e: String,
                        what: String): Long = {
    val row =
      try spark.sql(s"SELECT CAST(($e) AS BIGINT)").first()
      catch {
        case ex: Exception => throw new IllegalArgumentException(
          s"$what expression '$e' is not a constant integer: " +
            ex.getMessage, ex)
      }
    if (row.isNullAt(0))
      throw new IllegalArgumentException(
        s"$what expression '$e' evaluated to NULL")
    row.getLong(0)
  }

  /** The rid set a `… [ORDER BY o] LIMIT n [OFFSET m]` DML statement
    * touches: WHERE-true rows, ordered by (o, rid) — rid breaks ties,
    * a deterministic instance of SQLite's "arbitrary" — skipping the
    * first `m`, capped at `n`. The `LIMIT n+m` clause keeps the scan a
    * TakeOrderedAndProject (bounded executor-side heaps, no global
    * sort); the offset skip is a row_number window over that ≤ n+m-row
    * slice. A negative `n` means no cap (SQLite's rule); the rare
    * no-cap-with-offset combination falls back to a global-order
    * window. Returns None when the statement is effectively
    * un-limited (negative n, no offset) — callers use their plain
    * path. */
  private def limitedRids(spark: SparkSession, bview: String,
                          withPrefix: String, cond: String,
                          orderBy: Option[String], n: Long, m0: Long)
      : Option[DataFrame] = {
    val m = m0 max 0L
    // negative n = no cap (SQLite); a cap beyond Int range can't ride
    // a LIMIT clause (Spark limits are Int) — same no-cap treatment
    if ((n < 0 || n + m > Int.MaxValue) && m == 0) return None
    val nEff = if (n < 0 || n + m > Int.MaxValue) -1L else n
    val obys = orderBy.map(o => s"$o, `$rid`").getOrElse(s"`$rid`")
    val capped =
      if (nEff < 0)
        s"""$withPrefix SELECT `$rid` AS __rid, * FROM `$bview`
           |WHERE $cond""".stripMargin
      else
        s"""$withPrefix SELECT `$rid` AS __rid, * FROM `$bview`
           |WHERE $cond ORDER BY $obys LIMIT ${nEff + m}""".stripMargin
    val top = spark.sql(capped.trim)
    // re-rank inside the capped slice on the same total order; the
    // first m ranks are the OFFSET skip. The window re-reads the order
    // columns through the carried `*`, so arbitrary order expressions
    // stay resolvable.
    Some(Publish.withView(top, "dml_lim")(rvw => spark.sql(
      s"""SELECT __rid FROM (
         |  SELECT __rid, row_number() OVER (ORDER BY $obys) AS __rn
         |  FROM `$rvw`
         |) WHERE __rn > $m ${if (nEff >= 0) s"AND __rn <= ${m + nEff}" else ""}"""
        .stripMargin)))
  }

  /** `DELETE … [ORDER BY …] LIMIT n [OFFSET m]`
    * (SQLITE_ENABLE_UPDATE_DELETE_LIMIT, enabled in the Python-bundled
    * SQLite the reference runs on): remove at most n WHERE-true rows
    * in the given order. */
  private def runDeleteLimit(spark: SparkSession, d: SqlDml.Delete): DataFrame = {
    import org.apache.spark.sql.functions.col
    declineTriggered(spark, d.table, "delete", Nil, "DELETE … LIMIT")
    val base = resolve(spark, d.table, "DELETE")
    val cond = foldWhere(spark, d.table, d.where)
      .map(w => s"coalesce(($w), false)").getOrElse("true")
    val n = evalConst(spark, d.limit.get, "DELETE LIMIT")
    val m = d.offset.map(evalConst(spark, _, "DELETE OFFSET")).getOrElse(0L)
    withRowIds(base, "dmll_src") { (baseR, bview) =>
      limitedRids(spark, bview, d.withPrefix, cond, d.orderBy, n, m) match {
        case None =>
          // effectively un-limited: the plain path (no rid pass)
          runDelete(spark, d.copy(limit = None, offset = None,
            orderBy = None))
        case Some(victims) =>
          val vk = victims.select(col("__rid").as(rid))
          SessionChanges.record(spark, () => vk.count()) // ≤ n rows
          val merged = baseR.join(vk, Seq(rid), "left_anti")
            .select(base.columns.map(col): _*)
          val ret = d.returning.map(Publish.returning(
            baseR.join(vk, Seq(rid), "left_semi")
              .select(base.columns.map(col): _*), d.withPrefix, _))
          ForeignKeys.withPendingRebind(d.table) {
            val merged2 =
              ForeignKeys.applyParentDelete(spark, d.table, base, merged)
            Publish.commit(spark, d.table, merged2, ret)
          }
      }
    }
  }

  /** `UPDATE … SET … [ORDER BY …] LIMIT n [OFFSET m]`: assignments
    * apply to at most n WHERE-true rows in the given order; every
    * other row survives unchanged. */
  private def runUpdateLimit(spark: SparkSession, u: SqlDml.Update): DataFrame = {
    import org.apache.spark.sql.functions.col
    declineTriggered(spark, u.table, "update", u.assigns.map(_._1),
      "UPDATE … LIMIT")
    val (base, assigns) = updateTarget(spark, u)
    val cond = foldWhere(spark, u.table, u.where)
      .map(w => s"coalesce(($w), false)").getOrElse("true")
    val n = evalConst(spark, u.limit.get, "UPDATE LIMIT")
    val m = u.offset.map(evalConst(spark, _, "UPDATE OFFSET")).getOrElse(0L)
    withRowIds(base, "updl_src") { (baseR, bview) =>
      limitedRids(spark, bview, u.withPrefix, cond, u.orderBy, n, m) match {
        case None =>
          runUpdate(spark, u.copy(limit = None, offset = None,
            orderBy = None))
        case Some(victims) =>
          val vk = victims.select(col("__rid").as(rid))
          SessionChanges.record(spark, () => vk.count()) // ≤ n rows
          // victims all satisfy the WHERE — assignments apply
          // unconditionally, reading the OLD row (SQLite rule)
          val proj = base.schema.fields.map { f =>
            assigns.get(f.name.toLowerCase) match {
              case Some(e) =>
                s"${strictCastSql(spark, u, e, f)} AS ${q(f.name)}"
              case None => q(f.name)
            }
          }
          val updated = recomputeGenerated(spark, u.table, base,
            Publish.withView(baseR.join(vk, Seq(rid), "left_semi"),
              "updl_vic")(vv => spark.sql(
                s"${u.withPrefix} SELECT ${proj.mkString(", ")} FROM `$vv`"
                  .trim)))
          val untouched = baseR.join(vk, Seq(rid), "left_anti")
            .select(base.columns.map(col): _*)
          val merged = untouched.unionByName(updated)
          val ret = u.returning.map(
            Publish.returning(updated, u.withPrefix, _))
          if (Pragma.foreignKeys(spark)) {
            ForeignKeys.assertChildRows(spark, u.table, updated, merged,
              Some(assigns.keySet))
            ForeignKeys.assertParentTransition(spark, u.table, base, merged,
              "update", assigned = Some(assigns.keys))
          }
          Constraints.assertUniqueOn(
            Constraints.keysChangedBy(spark, u.table, base.columns.toSeq,
              assigns.keys),
            merged, Some(updated))
          Publish.commit(spark, u.table, merged, ret)
      }
    }
  }

  /** The LIMIT DML variants do not fire triggers (their affected-row
    * slices interleave with the ordering machinery this set-based
    * engine does not re-derive; trigger bodies never carry LIMIT —
    * declined at CREATE) — decline VISIBLY rather than silently skip
    * a registered trigger. UPDATE … FROM fires normally. */
  private def declineTriggered(spark: SparkSession, table: String,
                               event: String, setCols: Seq[String],
                               form: String): Unit =
    if (Triggers.anyFor(spark, table, event, setCols))
      throw new UnsupportedOperationException(
        s"$form does not fire the trigger(s) registered on $table; " +
          s"drop the trigger or use the plain statement form")
}
