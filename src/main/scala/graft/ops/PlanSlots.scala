package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Explicit lifecycle for the per-invocation persists inside library
  * entry points (MinHash signatures, BM25's tokenized projection, knn
  * probe sets, ...).
  *
  * The pattern those operators share: an intermediate is persisted so
  * the one returned plan reads it from cache instead of recomputing a
  * subtree per consumer, and a REPEAT invocation over the same corpus
  * reuses the materialized blocks via Spark's CacheManager
  * canonicalized-plan matching (the declared warm-run semantics of the
  * bench: run 1 of a key pays materialization, runs 2-6 may not). The
  * problem was the missing other half of the lifecycle: nothing ever
  * unpersisted, so a long-lived shared session accumulated one cache
  * entry per distinct corpus ever passed to any entry point.
  *
  * This registry bounds that to ONE live entry per (session, slot):
  * each entry point persists through [[persist]] with a slot name; a
  * new invocation whose plan canonicalizes differently from the slot's
  * current occupant unpersists the old blocks first, while a same-plan
  * reinvocation keeps them (unpersisting would drop the very blocks
  * the CacheManager is about to serve it). Slots are per session
  * ([[graft.SessionLocal]]): once a session's SparkContext stops, its
  * slots are dropped the next time a new session is seen, so they no
  * longer pin the session or its DataFrames. A live but abandoned
  * child session is not released: Spark's own CacheManager holds its
  * persisted plans, and so the session, while their blocks are cached.
  * Unpersist is non-blocking and safe under concurrency: a dropped
  * block is recomputed from lineage by any in-flight reader, so
  * interleaving two corpora on one slot costs recomputation, never
  * correctness.
  */
object PlanSlots {
  private val forSession = graft.SessionLocal(
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]())

  /** Persist `df` at `level` as slot `slot`'s live intermediate,
    * releasing the slot's previous occupant iff its plan differs. */
  def persist(slot: String, df: DataFrame,
              level: StorageLevel = StorageLevel.MEMORY_ONLY): DataFrame = {
    val m = forSession(df.sparkSession)
    val prev = m.put(slot, df)
    if (prev != null &&
        !prev.queryExecution.analyzed.sameResult(df.queryExecution.analyzed))
      prev.unpersist(false)
    df.persist(level)
  }

  /** The slot a session currently holds live (test/introspection). */
  def live(s: SparkSession, slot: String): Option[DataFrame] =
    Option(forSession(s).get(slot))

  /** Chainable form: `df.persistSlot("dedup.minHashPairs.sigs")`. */
  implicit class Slotted(private val df: DataFrame) extends AnyVal {
    def persistSlot(slot: String,
                    level: StorageLevel = StorageLevel.MEMORY_ONLY): DataFrame =
      PlanSlots.persist(slot, df, level)
  }
}
