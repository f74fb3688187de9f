package graft

import org.apache.spark.sql.SparkSession

/** One module's state per SparkSession: a module declares
  * `private val state = SessionLocal(new State)` and reads it with
  * `state(spark)`, which creates the value on the session's first use.
  * Each module keeps its own private State class; only the registry
  * is shared.
  *
  * Every SessionLocal keeps its values in the one weak-keyed session
  * map below, under its lock. Callers still synchronize on the value
  * they get back, so access stays serialized per session.
  *
  * Release is decided here: the first time a session is seen, every
  * session whose SparkContext has stopped is dropped with all of its
  * values. A weak key alone never clears for a session whose values
  * hold it strongly (a persisted DataFrame holds its own session).
  */
final class SessionLocal[T] private (init: => T) {
  def apply(spark: SparkSession): T = SessionLocal.sessions.synchronized {
    SessionLocal.valuesOf(spark).computeIfAbsent(this, _ => init)
      .asInstanceOf[T]
  }
}

object SessionLocal {
  def apply[T](init: => T): SessionLocal[T] = new SessionLocal(init)

  private val sessions =
    new java.util.WeakHashMap[SparkSession,
      java.util.IdentityHashMap[SessionLocal[_], Any]]()

  // caller holds the lock
  private def valuesOf(spark: SparkSession)
      : java.util.IdentityHashMap[SessionLocal[_], Any] = {
    var values = sessions.get(spark)
    if (values == null) {
      sessions.keySet.removeIf(_.sparkContext.isStopped)
      values = new java.util.IdentityHashMap[SessionLocal[_], Any]()
      sessions.put(spark, values)
    }
    values
  }

  /** How many module values the registry holds for `spark`. */
  private[graft] def entries(spark: SparkSession): Int =
    sessions.synchronized {
      val values = sessions.get(spark)
      if (values == null) 0 else values.size
    }
}
