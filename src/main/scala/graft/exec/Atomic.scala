package graft.exec

import org.apache.spark.sql.SparkSession
import graft.functions.GraftRaiseAbort

/** Statement-level atomicity for generated DML that fires trigger
  * programs — SQLite's abort-and-rollback contract (lang_createtrigger:
  * `RAISE(ABORT, …)` "undoes any changes made by the current SQL
  * statement", and any mid-statement error does the same under the
  * default ON CONFLICT ABORT).
  *
  * A set-based engine cannot undo a body statement that already
  * re-bound its table, but every rebind here is copy-on-write
  * ([[Publish]]): the pre-statement binding survives as a live
  * DataFrame over retained generations. So atomicity is a
  * snapshot-restore of references, not data: capture each session
  * relation's current DataFrame before the statement, re-register them
  * all if anything escapes. O(relations) driver metadata, zero data
  * movement — exactly the plan-pointer swap a lakehouse MERGE rollback
  * does.
  *
  * Scope: snapshots are taken only when the session has any trigger
  * registered (the only source of multi-write statements; a plain DML
  * statement's single rebind is already atomic — nothing after it can
  * fail). Nested body/cascade DML re-enters through the same wrapper
  * and must NOT re-snapshot: the ThreadLocal depth makes inner calls
  * pass-throughs, so one statement = one snapshot.
  *
  * Accounting on abort (measured against sqlite3 3.40): `changes()`
  * and `last_insert_rowid()` keep their pre-statement values —
  * restored; `total_changes()` KEEPS the counts of body statements
  * that completed before the raise even though their effects rolled
  * back — so the trigger-body bucket is deliberately not restored.
  */
object Atomic {

  private val depth = new ThreadLocal[Integer] {
    override def initialValue(): Integer = 0
  }

  /** Run one generated DML statement; restore pre-statement bindings
    * if an exception escapes and the session could have fired
    * triggers. A [[GraftRaiseAbort]] found in the failure's cause
    * chain (it is thrown inside executor tasks, so Spark wraps it) is
    * re-thrown as a fresh driver-side instance carrying exactly the
    * raise message — the error SQLite reports. */
  def statement[T](spark: SparkSession)(f: => T): T = {
    if (depth.get > 0) return f
    depth.set(1)
    try {
      // trigger programs and FK actions are the two sources of
      // multi-write statements — only they need the TABLE snapshot.
      // The counter/sequence cookies restore on EVERY failure though:
      // a failed statement has already recorded its lazy changes()
      // thunk, which SQLite's semantics say must keep the PREVIOUS
      // value — and worse, a thunk capturing the failed statement's
      // plan can itself raise (a STRICT-cast CASE in an UPDATE…FROM
      // pick) when a later changes() call evaluates it.
      if (!Triggers.any(spark) &&
          !(Pragma.foreignKeys(spark) && ForeignKeys.anyActionFks(spark))) {
        val counters = SessionChanges.snapshot(spark)
        val seqs = SessionKeys.snapshotAutoinc(spark)
        try f
        catch {
          case scala.util.control.NonFatal(e) =>
            SessionChanges.restore(spark, counters)
            SessionKeys.restoreAutoinc(spark, seqs)
            throw e
        }
      }
      else {
        val tables = spark.catalog.listTables().collect().toIndexedSeq
          .filter(_.isTemporary)
          .flatMap { t =>
            // a concurrent drop between list and capture is benign
            try Some(t.name -> spark.table(Ddl.quote(t.name)))
            catch { case scala.util.control.NonFatal(_) => None }
          }
        val counters = SessionChanges.snapshot(spark)
        val seqs = SessionKeys.snapshotAutoinc(spark)
        try f
        catch {
          case scala.util.control.NonFatal(e) =>
            tables.foreach { case (n, df) => df.createOrReplaceTempView(n) }
            SessionChanges.restore(spark, counters)
            // sqlite_sequence is transactional in SQLite — a body
            // statement's seq advance rolls back with the statement
            SessionKeys.restoreAutoinc(spark, seqs)
            var c: Throwable = e
            while (c != null && !c.isInstanceOf[GraftRaiseAbort])
              c = c.getCause
            c match {
              case r: GraftRaiseAbort =>
                throw new GraftRaiseAbort(r.getMessage)
              case _ => throw e
            }
        }
      }
    } finally depth.set(0)
  }
}
