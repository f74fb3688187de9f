package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** Structured Streaming wiring for the engine's time-window operators.
  *
  * The batch keys win_tumbling / win_sliding / win_session
  * (graft.ops.QueriesWindows) use exactly these transforms; under
  * `readStream` the same logical plan runs incrementally with
  * watermark-driven state eviction. That symmetry — one definition,
  * batch-verified by the DuckDB oracle, stream-executed with state —
  * is the Spark-native design (there is no streaming surface in the
  * reference; SURVEY.md §2B "Streaming" documents these as [X] keys).
  */
object StreamingOps {

  /** Tumbling-window aggregate with late-data watermark. Works on a
    * batch OR streaming DataFrame with (ts: timestamp, value: double).
    */
  def tumblingCounts(events: DataFrame, windowLen: String = "1 hour",
                     watermark: String = "10 minutes"): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", watermark)
              else events
    src.groupBy(window(col("ts"), windowLen))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("win_start"), col("n_events"), col("sum_value"))
  }

  /** Sliding-window aggregate (1h window every 15m by default). */
  def slidingCounts(events: DataFrame, windowLen: String = "1 hour",
                    slide: String = "15 minutes",
                    watermark: String = "10 minutes"): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", watermark)
              else events
    src.groupBy(window(col("ts"), windowLen, slide))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("win_start"), col("n_events"))
  }

  /** Streaming exact dedup with custom state and BOUNDED retention
    * (flatMapGroupsWithState — the KeyValueGroupedDataset custom-state
    * surface): per user, emit each event id once while the group's
    * state is alive; an EVENT-TIME TIMEOUT evicts the whole id set
    * once the watermark passes the group's last activity plus
    * `retentionMs`. That is the standard bounded-state dedup contract
    * (same as `dropDuplicatesWithinWatermark`): exact within the
    * retention horizon, state size O(active keys × ids per horizon)
    * instead of O(all ids ever) — the difference between a state store
    * that survives a year of stream and one that eats the cluster.
    */
  def streamingDedup(events: DataFrame, watermark: String = "10 minutes",
                     retentionMs: Long = 30L * 60 * 1000): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val isStreaming = events.isStreaming
    val src = if (isStreaming) events.withWatermark("ts", watermark)
              else events
    // ts must pass through UNTOUCHED: casting it would mint a new
    // column without the watermark tag and fail the event-time-timeout
    // analysis check
    src.select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("ts"))
      .as[(Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Array[Long], (Long, Long)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: Long, rows: Iterator[(Long, Long, java.sql.Timestamp)],
         state: GroupState[Array[Long]]) =>
          if (state.hasTimedOut) {
            state.remove() // watermark passed last activity + retention
            Iterator.empty
          } else {
            val seen = scala.collection.mutable.LinkedHashSet(
              state.getOption.getOrElse(Array.empty[Long]).toSeq: _*)
            var maxTs = Long.MinValue
            val out = rows.filter { case (_, eid, t) =>
              maxTs = math.max(maxTs, t.getTime)
              seen.add(eid)
            }.toVector
            state.update(seen.toArray)
            // batch execution has no watermark: getCurrentWatermarkMs
            // throws there, and timeouts never fire anyway
            if (isStreaming)
              // must stay above the current watermark or Spark rejects it
              state.setTimeoutTimestamp(
                math.max(maxTs + retentionMs, state.getCurrentWatermarkMs() + 1))
            out.iterator.map { case (u, e, _) => (u, e) }
          }
      }
      .toDF("user_id", "event_id")
  }

  /** Streaming SOFT-dedup weighting — the ingest-time twin of the
    * batch `ext_dedup_weights` key: every arriving document emits its
    * duplicate ordinal (the running count of its 128-bit content
    * digest so far) and the SoftDeDup training weight 1/ordinal, so a
    * downstream trainer can damp duplicated content without dropping
    * it. State is ONE long per active digest — 8 bytes, not the text —
    * with the same event-time eviction contract as [[streamingDedup]];
    * the emission is append-only.
    */
  def streamingDupWeights(docs: DataFrame,
                          watermark: String = "10 minutes",
                          retentionMs: Long = 30L * 60 * 1000): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val isStreaming = docs.isStreaming
    val src = if (isStreaming) docs.withWatermark("ts", watermark)
              else docs
    src.select(md5(col("text")).as("fp"), col("doc_id").cast("long"),
        col("ts"))
      .as[(String, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, (Long, Long, Double)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: String, rows: Iterator[(String, Long, java.sql.Timestamp)],
         state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var n = state.getOption.getOrElse(0L)
            var maxTs = Long.MinValue
            val out = rows.map { case (_, id, t) =>
              maxTs = math.max(maxTs, t.getTime)
              n += 1
              (id, n, 1.0 / n)
            }.toVector
            state.update(n)
            if (isStreaming)
              state.setTimeoutTimestamp(
                math.max(maxTs + retentionMs,
                  state.getCurrentWatermarkMs() + 1))
            out.iterator
          }
      }
      .toDF("doc_id", "n_copies", "weight")
  }

  /** Streaming NEAR-dup detection with bounded state — the ingest-time
    * variant of [[graft.ops.Dedup.minHashPairs]]: each arriving doc's
    * MinHash signature computes ROW-LOCALLY (the same codegen
    * expressions as the batch path), explodes to `bands` band-bucket
    * keys, and each bucket keeps its member signatures in keyed state
    * (flatMapGroupsWithState). A new doc emits (doc_id, dup_of,
    * sim_est) against every state member whose signature agrees on
    * ≥ `simThreshold` of the hash slots — the standard MinHash
    * Jaccard estimate; exact verification belongs to a downstream
    * batch join, exactly as banding precedes verification offline.
    * State is DOUBLY bounded: per-bucket membership caps at
    * `maxBucket` (identical content floods one bucket in every band —
    * the province of exact dedup upstream) and an event-time timeout
    * evicts buckets idle past `retentionMs` behind the watermark, so
    * the store is O(active buckets × cap), never O(stream history).
    * The same pair can surface from up to `bands` buckets; consumers
    * take DISTINCT (doc_id, dup_of) — kept out of this operator so the
    * emission stays append-only and stateless beyond the buckets.
    */
  def streamingNearDup(docs: DataFrame, watermark: String = "10 minutes",
                       retentionMs: Long = 30L * 60 * 1000,
                       shingleLen: Int = 8, numHashes: Int = 32,
                       bands: Int = 8, simThreshold: Double = 0.7,
                       maxBucket: Int = 64): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    implicit val stateEnc: org.apache.spark.sql.Encoder[Array[Array[Long]]] =
      Encoders.kryo[Array[Array[Long]]]
    val isStreaming = docs.isStreaming
    val src = if (isStreaming) docs.withWatermark("ts", watermark) else docs
    val rowsPerBand = numHashes / bands
    val sigs = src.select(col("doc_id").cast("long"), col("ts"),
        graft.functions.ShingleMinHash.shingle_minhash(lower(col("text")),
          typedLit[Array[Long]](Array.emptyLongArray), shingleLen, numHashes)
          .as("sig"))
      .filter(col("sig").isNotNull)
    val bandCols = (0 until bands).map { b =>
      xxhash64(lit(b), slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))
    }
    sigs
      .select(explode(array(bandCols: _*)).as("bk"),
        col("doc_id"), col("ts"), col("sig"))
      .as[(Long, Long, java.sql.Timestamp, Array[Long])]
      .groupByKey(_._1)
      // state member layout: Array(id, sig...) per member — flat
      // arrays keep the per-member layout primitive; the nested-array
      // state itself rides a kryo encoder (state is an opaque blob to
      // the store either way)
      .flatMapGroupsWithState[Array[Array[Long]], (Long, Long, Double)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: Long, rows: Iterator[(Long, Long, java.sql.Timestamp, Array[Long])],
         state: GroupState[Array[Array[Long]]]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var members = state.getOption.getOrElse(Array.empty[Array[Long]])
            val out = Vector.newBuilder[(Long, Long, Double)]
            var maxTs = Long.MinValue
            rows.foreach { case (_, id, t, sig) =>
              maxTs = math.max(maxTs, t.getTime)
              members.foreach { m =>
                if (m(0) != id) {
                  var eq = 0; var i = 0
                  while (i < numHashes) {
                    if (m(i + 1) == sig(i)) eq += 1
                    i += 1
                  }
                  val est = eq.toDouble / numHashes
                  if (est >= simThreshold) out += ((id, m(0), est))
                }
              }
              if (members.length < maxBucket && !members.exists(_(0) == id))
                members = members :+ (id +: sig)
            }
            state.update(members)
            if (isStreaming)
              state.setTimeoutTimestamp(
                math.max(maxTs + retentionMs, state.getCurrentWatermarkMs() + 1))
            out.result().iterator
          }
      }
      .toDF("doc_id", "dup_of", "sim_est")
  }

  /** Streaming sequence packing: assign arriving documents to
    * fixed-capacity context-window bins with PERSISTENT fill state per
    * pack group — the streaming face of [[graft.ops.Packing]] (a
    * training-ingest service packs documents as they arrive instead of
    * re-running batch packing per shard).
    *
    * Greedy first-fit in ARRIVAL order (the only order a stream has;
    * the batch operator's doc-id order is a batch luxury). State per
    * group is one (bin, fill) pair — O(groups) total regardless of
    * stream length, so no timeout/eviction is needed: this is that
    * rare stateful op whose state is bounded by construction.
    * Oversize docs occupy a bin alone, exactly the batch rule.
    */
  def streamingPacking(docs: DataFrame, capacity: Long = 8192L,
                       groups: Int = 32): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("n_toks").cast("long"))
      .as[(Long, Long)]
      .groupByKey { case (id, _) => ((id % groups) + groups) % groups }
      .flatMapGroupsWithState[(Long, Long), (Long, Long, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (grp: Long, rows: Iterator[(Long, Long)],
         state: GroupState[(Long, Long)]) =>
          var (bin, fill) = state.getOption.getOrElse((0L, -1L))
          val out = rows.map { case (id, toks) =>
            if (fill < 0L) fill = toks // first doc of the group ever
            else if (fill + toks <= capacity) fill += toks
            else { bin += 1L; fill = toks }
            (id, grp, bin, toks)
          }.toVector
          state.update((bin, fill))
          out.iterator
      }
      .toDF("doc_id", "grp", "bin", "toks")
  }

  /** Per-user running statistics on the arbitrary-state v2 API
    * (`transformWithState` + `StatefulProcessor`, Spark 4) — the
    * successor surface to flatMapGroupsWithState: typed per-key
    * `ValueState` in the state store, TTL-bounded (state for idle keys
    * expires after `ttl`), emitting the updated (count, sum, mean) per
    * key per micro-batch.
    */
  class UserStatsProcessor(ttl: java.time.Duration)
      extends StatefulProcessor[Long, (Long, Double), (Long, Long, Double, Double)] {
    @transient private var state: ValueState[(Long, Double)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      val ttlConf =
        if (timeMode == TimeMode.ProcessingTime()) new TTLConfig(ttl)
        else TTLConfig.NONE // TTL requires processing-time mode
      state = getHandle.getValueState[(Long, Double)](
        "stats", Encoders.product[(Long, Double)], ttlConf)
    }

    override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
                                 timerValues: TimerValues)
        : Iterator[(Long, Long, Double, Double)] = {
      var (n, s) = Option(state.get()).getOrElse((0L, 0.0))
      rows.foreach { case (_, v) => n += 1; s += v }
      state.update((n, s))
      Iterator.single((key, n, s, s / n))
    }
  }

  /** Running (count, sum, mean) of `value` per `user_id` via
    * transformWithState; with `TimeMode.ProcessingTime` the per-user
    * state TTLs out after `ttl` idle. Default is `TimeMode.None`
    * (no TTL): processing-time mode keeps scheduling timer micro-batches,
    * which never quiesces under `processAllAvailable()` in a test
    * harness — production queries with real triggers are unaffected. */
  def runningUserStats(events: DataFrame,
                       ttl: java.time.Duration = java.time.Duration.ofHours(1),
                       timeMode: TimeMode = TimeMode.None())
      : DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id").cast("long"), col("value").cast("double"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new UserStatsProcessor(ttl),
        timeMode, OutputMode.Update())
      .toDF("user_id", "n_events", "sum_value", "mean_value")
  }

  /** Streaming benchmark decontamination: flag incoming documents that
    * share any character shingle with a STATIC eval/benchmark set —
    * the ingest-time quarantine feed a training pipeline runs so
    * contaminated docs never reach the corpus. Shape: row-local hashed
    * shingling ([[graft.functions.ShingleHashes]]) → explode →
    * stream-static broadcast SEMI join against the eval shingles
    * (stateless — the static side is index-sized metadata, same as the
    * batch `ext_decontaminate` key) → `dropDuplicatesWithinWatermark`
    * so each contaminated doc is emitted ONCE with bounded state.
    * The clean complement is the batch left-anti of this feed (a
    * stream-side anti would need per-doc aggregation; quarantine
    * emission is the streaming-native contract).
    *
    * `evalShingles` must be a static (batch) DataFrame with a single
    * `s: bigint` column of hashed shingles — build it with
    * [[graft.ops.Dedup.hashedShingleSets]] over the benchmark corpus.
    */
  def contaminatedStream(docs: DataFrame, evalShingles: DataFrame,
                         shingleLen: Int = 8,
                         watermark: String = "10 minutes"): DataFrame = {
    val src = if (docs.isStreaming) docs.withWatermark("ts", watermark)
              else docs
    src.select(col("doc_id"), col("ts"),
        explode(graft.functions.ShingleHashes
          .shingle_hashes(lower(col("text")), shingleLen)).as("s"))
      .join(broadcast(evalShingles), Seq("s"), "left_semi")
      .select(col("doc_id"), col("ts"))
      .dropDuplicatesWithinWatermark("doc_id")
  }

  /** Watermarked stream-stream interval join: enrich each `right`
    * event with the `left` event it follows within `maxDelay` (the
    * impression→click / request→response pattern). BOTH sides carry a
    * watermark and the join predicate bounds event time on BOTH ends —
    * that pair of constraints is what lets Spark evict matched state;
    * an unbounded stream-stream join buffers both streams forever.
    * Inner join emits on match; `left_outer` additionally emits
    * null-padded left rows once the watermark proves no match can
    * arrive (the "impression with no click" feed).
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   watermark: String = "10 minutes",
                   maxDelay: String = "30 minutes",
                   joinType: String = "inner"): DataFrame = {
    val l = (if (left.isStreaming) left.withWatermark("ts", watermark) else left)
      .select(col("user_id"), col("ts").as("l_ts"), col("value").as("l_value"))
    val r = (if (right.isStreaming) right.withWatermark("ts", watermark) else right)
      .select(col("user_id").as("r_user"), col("ts").as("r_ts"))
    l.join(r,
      col("user_id") === col("r_user") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $maxDelay"),
      joinType)
      .select(col("user_id"), col("l_ts"), col("r_ts"), col("l_value"))
  }

  /** Session windows per key with a gap timeout. */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
                    watermark: String = "10 minutes"): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", watermark)
              else events
    src.groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("sess_start"),
        col("n_events"))
  }
}
