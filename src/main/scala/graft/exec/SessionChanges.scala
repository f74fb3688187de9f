package graft.exec

import org.apache.spark.sql.SparkSession

/** Per-session affected-row accounting behind SQLite's `changes()` /
  * `total_changes()` functions (delegated surface: the reference's
  * SQLite answers them for free after any executed DML, and "how many
  * rows did that remove?" is a natural follow-up question).
  *
  * Counts are recorded as LAZY memoized thunks capturing the
  * pre-rebind plan of the affected slice: a DML statement pays the
  * counting job only if a later query actually calls `changes()` /
  * `total_changes()` — the rewrite itself stays one pass. The captured
  * plans stay computable after the view re-binds (analysis inlined the
  * old binding) and after scratch caches unpersist (lineage recompute);
  * superseded generation files are never deleted within a session.
  *
  * One State per SparkSession ([[graft.SessionLocal]]) — a stopped
  * session's counters (and the plan closures its thunks hold) are
  * released; the deferred list is bounded (oldest counts fold once 64
  * statements back up).
  */
object SessionChanges {

  private final class Entry(thunk: () => Long) {
    lazy val value: Long = thunk()
  }

  private final class State {
    // folded counts keep SEPARATE accumulators per bucket: a fold of
    // the main list during a statement must roll back with the
    // snapshot (else the restored pending vector re-adds the folded
    // entry — a double count), while trigger-body folds survive an
    // abort exactly like the unfolded trigger bucket does
    var accMain = 0L
    var accTrig = 0L
    var pending = Vector.empty[Entry]
    // trigger-body DML: counts toward total_changes() only (SQLite
    // lang_corefunc — changes() excludes trigger-program changes)
    var pendingTrig = Vector.empty[Entry]
    // last_insert_rowid(): folded value and deferred INSERT entries
    var rowidFolded: Option[Long] = None
    var rowidPending = Vector.empty[RowidEntry]
  }

  /** Depth of trigger-body execution on this thread. While > 0,
    * recorded counts feed total_changes() but not changes(), and
    * insert rowids are dropped — SQLite restores last_insert_rowid()
    * when a trigger completes. */
  private val triggerDepth = new ThreadLocal[Integer] {
    override def initialValue(): Integer = 0
  }

  /** Run `f` with trigger-body accounting (see [[triggerDepth]]). */
  def inTriggerBody[T](f: => T): T = {
    triggerDepth.set(triggerDepth.get + 1)
    try f finally triggerDepth.set(triggerDepth.get - 1)
  }

  private val state = graft.SessionLocal(new State)

  /** Record a DML statement's affected-row count (deferred). A count
    * recorded inside a trigger body lands in the total-only bucket. */
  def record(spark: SparkSession, thunk: () => Long): Unit = {
    val s = state(spark)
    s.synchronized {
      if (triggerDepth.get > 0) {
        s.pendingTrig :+= new Entry(thunk)
        while (s.pendingTrig.size > 64) {
          s.accTrig += s.pendingTrig.head.value
          s.pendingTrig = s.pendingTrig.tail
        }
      } else {
        s.pending :+= new Entry(thunk)
        while (s.pending.size > 64) {
          s.accMain += s.pending.head.value
          s.pending = s.pending.tail
        }
      }
    }
  }

  /** Rows changed by the most recent INSERT/UPDATE/DELETE (0 before
    * any ran — SQLite's value on a fresh connection). */
  def changes(spark: SparkSession): Long = {
    val s = state(spark)
    s.synchronized(s.pending.lastOption).map(_.value).getOrElse(0L)
  }

  /** Rows changed by every DML statement this session executed —
    * INCLUDING trigger-body statements (SQLite's total_changes()
    * counts them; changes() does not). */
  def totalChanges(spark: SparkSession): Long = {
    val s = state(spark)
    val (acc, pend, pendT) =
      s.synchronized((s.accMain + s.accTrig, s.pending, s.pendingTrig))
    acc + pend.map(_.value).sum + pendT.map(_.value).sum
  }

  // ---- statement-abort restore ([[Atomic]]) ---------------------------

  /** Opaque pre-statement counter state. Restoring covers `changes()`
    * and `last_insert_rowid()` (the main pending list WITH its folded
    * accumulator — a fold during the statement must not double-count
    * against the restored vector) but deliberately NOT the
    * trigger-body bucket or its accumulator: measured sqlite3 keeps
    * body statements that completed before an abort in
    * `total_changes()` even though their effects roll back. */
  final class Snapshot private[SessionChanges] (
      private[SessionChanges] val accMain: Long,
      private[SessionChanges] val pending: Vector[Entry],
      private[SessionChanges] val rowidFolded: Option[Long],
      private[SessionChanges] val rowidPending: Vector[RowidEntry])

  def snapshot(spark: SparkSession): Snapshot = {
    val s = state(spark)
    s.synchronized {
      new Snapshot(s.accMain, s.pending, s.rowidFolded, s.rowidPending)
    }
  }

  def restore(spark: SparkSession, snap: Snapshot): Unit = {
    val s = state(spark)
    s.synchronized {
      s.accMain = snap.accMain; s.pending = snap.pending
      s.rowidFolded = snap.rowidFolded; s.rowidPending = snap.rowidPending
    }
  }

  // ---- last_insert_rowid() --------------------------------------------

  private final class RowidEntry(thunk: () => Option[Long]) {
    lazy val value: Option[Long] = thunk()
  }

  /** Record an INSERT's max assigned rowid (deferred — the thunk runs
    * only if `last_insert_rowid()` is actually asked). `None` = the
    * statement inserted no rows (e.g. OR IGNORE all-conflict), which
    * leaves the value unchanged — SQLite's own rule. */
  def recordInsertRowid(spark: SparkSession, thunk: () => Option[Long]): Unit = {
    // a trigger-body INSERT does not move the session value — SQLite
    // reverts last_insert_rowid() when the trigger completes
    if (triggerDepth.get > 0) return
    val s = state(spark)
    s.synchronized {
      s.rowidPending :+= new RowidEntry(thunk)
      while (s.rowidPending.size > 64) {
        // same deferred-list bound as the change counters: the oldest
        // entry folds (paying its job) once 64 statements back up
        s.rowidFolded = s.rowidPending.head.value.orElse(s.rowidFolded)
        s.rowidPending = s.rowidPending.tail
      }
    }
  }

  /** The rowid of the most recently inserted row (0 before any INSERT
    * landed — SQLite's fresh-connection value). Walks newest-first so
    * only statements newer than the last successful insert pay their
    * deferred job. */
  def lastInsertRowid(spark: SparkSession): Long = {
    val s = state(spark)
    val (folded, pend) = s.synchronized((s.rowidFolded, s.rowidPending))
    pend.reverseIterator.flatMap(_.value).nextOption()
      .orElse(folded).getOrElse(0L)
  }
}
