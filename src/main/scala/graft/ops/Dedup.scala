package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.PlanSlots.Slotted

/** Near-duplicate detection for large text corpora.
  *
  * Two families:
  *  - MinHash + LSH banding: shingle → k min-hashes (one scan, k
  *    partial-min aggregates) → band keys → bucket equi-join for
  *    candidates → exact Jaccard verification on candidates only.
  *    No cross join anywhere; every shuffle is on a content key, so
  *    the plan survives a 1000-executor corpus.
  *  - SimHash: token-hash bit-majority signature (64 aggregates, one
  *    scan), near-dups = small Hamming distance; banding on 16-bit
  *    sub-keys bounds the pair search the same way.
  *
  * All hash seeds are fixed constants → results are deterministic.
  */
object Dedup {

  /** Distinct character shingles per document: (id, s). Documents
    * shorter than the shingle length produce NO shingles (and thus no
    * signature / no pairs) — consistent with the exact-Jaccard oracle
    * semantics.
    */
  def shingles(docs: DataFrame, idCol: String, textCol: String,
               shingleLen: Int = 8): DataFrame =
    docs.select(col(idCol).as("id"), lower(col(textCol)).as("t"))
      .filter(length(col("t")) >= shingleLen)
      .select(col("id"), explode(array_distinct(expr(
        s"transform(sequence(1, length(t) - ${shingleLen - 1}), i -> substring(t, i, $shingleLen))")))
        .as("s"))

  /** Drop shingles whose document frequency exceeds `maxDf` — the
    * standard MinHash skew guard: one ultra-common shingle (site
    * boilerplate, a hot 8-gram) shared by f% of docs would otherwise
    * put f·N docs into one join bucket (an O((f·N)²) pair explosion).
    * Ubiquitous shingles carry no near-dup signal, so dropping them
    * from CANDIDATE GENERATION barely moves recall; verification stays
    * exact on the full sets. The hot set is tiny by construction
    * (df > maxDf) → broadcast anti-join, no skewed shuffle.
    */
  def dropHotShingles(sh: DataFrame, maxDf: Int): DataFrame =
    if (maxDf == Int.MaxValue) sh
    else {
      val hot = sh.groupBy("s").agg(count(lit(1)).as("df"))
        .filter(col("df") > maxDf).select("s")
      sh.join(broadcast(hot), Seq("s"), "left_anti")
    }

  /** (id, bk struct(band, h)) band-bucket keys for a signature table —
    * the banding step shared by pair generation and the materialized
    * index: the signature array is sliced into `bands` bands and each
    * slice hashed to one 64-bit key.
    */
  private def bandKeys(sigs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val rowsPerBand = numHashes / bands
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)).as("h"))
    }
    sigs.select(col("id"), explode(array(bandCols: _*)).as("bk"))
  }

  /** Candidate pairs via LSH banding: docs sharing any band bucket
    * become candidates. Shuffle key = (band index, hash of band slice).
    */
  def lshCandidates(sigs: DataFrame, numHashes: Int, bands: Int,
                    maxBucket: Int = Int.MaxValue): DataFrame =
    bucketPairs(bandKeys(sigs, numHashes, bands), maxBucket)

  /** Candidate (id1, id2) pairs from a (id, bk) bucket table — the
    * shared pair generator for every LSH-banding family (MinHash,
    * SimHash, sign-LSH embeddings). Uncapped: streaming bucket
    * self-join. Capped: ONE shuffle — gather each bucket's member ids
    * and emit the i<j pairs row-locally, with the size cap as a plain
    * filter. An over-cap bucket IS materialized before being dropped,
    * but that buffer is linear (8 B per id) where the join output it
    * prevents is quadratic. The skew guard: a bucket with b docs
    * yields b² pairs, so one boilerplate-heavy bucket (identical
    * content ⇒ identical signature ⇒ the whole duplicate cluster in
    * ONE bucket in EVERY band — web corpora have million-copy
    * clusters) would otherwise dominate the whole job. Capped buckets
    * are dropped; members of partially-similar buckets still collide
    * on their other, more selective bands, and IDENTICAL-content
    * clusters are the province of exact dedup, which a pipeline runs
    * FIRST precisely so near-dup banding never sees them.
    */
  def bucketPairs(buckets: DataFrame, maxBucket: Int): DataFrame =
    if (maxBucket == Int.MaxValue) {
      // uncapped: stream the bucket self-join — collecting a bucket's
      // ids into one aggregation row would buffer an UNBOUNDED hot
      // bucket in a single task
      buckets.as("a").join(buckets.as("b"),
          col("a.bk") === col("b.bk") && col("a.id") < col("b.id"))
        .select(col("a.id").as("id1"), col("b.id").as("id2"))
        .distinct()
    } else {
      buckets.groupBy("bk")
        .agg(array_sort(collect_list(col("id"))).as("ids"))
        .filter(size(col("ids")) >= 2 && size(col("ids")) <= maxBucket)
        .select(explode(expr(
          """flatten(transform(ids, (x, i) ->
               transform(slice(ids, i + 2, size(ids)),
                         y -> named_struct('id1', x, 'id2', y))))"""))
          .as("p"))
        .select(col("p.id1"), col("p.id2"))
        .distinct()
    }

  /** Exact Jaccard for a given pair set only (candidate verification):
    * per-doc shingle sets as arrays, one join per side, intersection
    * via array_intersect — no shingle-level join explosion.
    */
  def exactJaccard(sh: DataFrame, pairs: DataFrame): DataFrame = {
    // both join sides read the same aggregated set table — persist so
    // the shingle scan+aggregate runs once, not once per side.
    // MEMORY_ONLY (here and in every library entry point that persists
    // an intermediate into a caller-consumed result): memory-tier
    // blocks are LRU-evicted when cold and recomputed from lineage if
    // needed again, whereas MEMORY_AND_DISK blocks spilled to disk are
    // NEVER evicted — repeated calls in a long-lived shared session
    // would grow block storage unboundedly until session end.
    val sets = sh.groupBy("id").agg(collect_set(col("s")).as("sset"))
      .persistSlot("dedup.exactJaccard.sets")
    pairs
      .join(sets.as("c1"), col("id1") === col("c1.id"))
      .withColumnRenamed("sset", "set1").drop("id")
      .join(sets.as("c2"), col("id2") === col("c2.id"))
      .withColumnRenamed("sset", "set2").drop("id")
      .select(col("id1"), col("id2"),
        (size(array_intersect(col("set1"), col("set2"))).cast("double") /
          size(array_union(col("set1"), col("set2")))).as("jaccard"))
  }

  /** Distinct shingles kept as ONE ARRAY COLUMN per document, in the
    * compact HASHED representation: the shingle data never leaves its
    * document row, so Jaccard verification is a row-local array merge
    * with no shingle-level explode+groupBy shuffle anywhere. One fused
    * codegen loop ([[graft.functions.ShingleHashes]]) emits the
    * distinct 64-bit shingle hashes per document — 8 bytes per shingle
    * through every downstream cache, shuffle, and array op instead of
    * a k-char string, with zero per-window string allocation. Equality
    * (the only operation MinHash banding and Jaccard verification ever
    * apply to a shingle) is preserved modulo ~n²/2⁶⁴ collisions.
    */
  def hashedShingleSets(docs: DataFrame, idCol: String, textCol: String,
                        shingleLen: Int = 8): DataFrame =
    docs.select(col(idCol).as("id"),
        graft.functions.ShingleHashes
          .shingle_hashes(lower(col(textCol)), shingleLen).as("sset"))
      .filter(size(col("sset")) > 0)

  /** End-to-end MinHash LSH near-dup pairs at a Jaccard threshold.
    * `maxShingleDf` / `maxBucket` bound candidate-side skew (hot
    * shingles and oversized band buckets); the Jaccard VERIFICATION is
    * always on the full uncapped shingle sets, so output values are
    * unchanged — only recall of ubiquitous-content-only pairs (which
    * carry no near-dup signal) is traded for the quadratic-bucket
    * guard.
    *
    * Plan notes: ONE narrow table is built and PERSISTED per corpus —
    * (id, signature) via the FUSED [[graft.functions.ShingleMinHash]]
    * kernel (shingle + hot-subtract + MinHash in one compiled loop,
    * never materializing the distinct-shingle array) — so the whole
    * signature pass runs exactly once, at cache materialization
    * (MLlib's LSH similarity join persists its transformed input the
    * same way, and the block is LRU-evicted when cold). The census
    * runs FIRST on an uncached row-local shingle pass over the
    * document sample (its result is a literal inside the cached plan,
    * so it cannot read the cache it parameterizes). Zero shuffle before
    * banding: the first exchange in the pipeline is the banding
    * groupBy, which carries compact signatures, never raw shingles.
    * Verification is exact on full shingle sets, recomputed ONLY for
    * the semi-join-pruned candidate sliver of the corpus (bounded by
    * the band-bucket caps), then joined to the tiny candidate set.
    */
  def minHashPairs(docs: DataFrame, idCol: String, textCol: String,
                   shingleLen: Int = 8, numHashes: Int = 64, bands: Int = 16,
                   threshold: Double = 0.5,
                   maxShingleDf: Int = Int.MaxValue,
                   maxBucket: Int = Int.MaxValue): DataFrame = {
    // hot shingles are FEW by construction (df above a high cap):
    // collect them as bounded index metadata (like ANN centroids) and
    // subtract row-locally — one census pass, no per-row join stage.
    // The census runs on a DETERMINISTIC 1-in-10 document sample
    // (hash-of-id, not sample() — stable across partitionings): the df
    // threshold is an approximate skew guard, not a semantic filter,
    // and binomial concentration puts a hot shingle's sample-df above
    // the scaled threshold with overwhelming probability, while rare
    // shingles (the near-dup signal, df ≪ cap) can never cross it.
    // Verification below is exact on full sets regardless. Sampling is
    // only used when the scaled threshold stays ≥ 5 (below that,
    // binomial noise could drop the rare shingles that ARE the
    // signal — small caps census exactly, which is cheap at the
    // corpus sizes where small caps make sense). Measured: the full
    // census was the entire r2 bench regression (+1.6 s at sf0.1);
    // the sampled census re-shingles only 1/10 of the documents.
    //
    // r12 (optimization round): the census is embedded as a
    // NON-CORRELATED SCALAR SUBQUERY producing the hot array<bigint>,
    // instead of a driver-side collect that ran BEFORE the plan could
    // even be built. The collect form made every repeat invocation pay
    // the census job + an extra plan compile (measured ≈0.2-0.25 s per
    // run at sf0.1) just to rebuild a literal the cached table already
    // embeds; an r12-interim memo of that collect was removed as
    // against the every-invocation-computes contract. As a subquery
    // the census is PART of the persisted table's plan: it executes
    // exactly once, at cache materialization (the "fold the census
    // into the signature pass" the r11 verdict asked for), recomputes
    // whenever the cache is cold, and reuse rides on Spark's own
    // CacheManager — no module-level state anywhere. Trade-off: the
    // former over-cap log line (hot list truncated at 10000) is not
    // expressible from inside a plan; the cap itself still applies and
    // is documented here and in OPTIMIZATION_r12.md.
    val hotCol: Option[Column] =
      if (maxShingleDf == Int.MaxValue) None
      else {
        val censusRate = 10
        val sampled = maxShingleDf >= 5 * censusRate
        // row-local shingle pass over the sample, UNCACHED: the hot
        // array is a one-row subquery result inside the persisted
        // table's plan, so the census cannot read the cache it
        // parameterizes — and the sample's shingle arrays never need
        // to live past the one materialization job
        val censusSrc =
          if (sampled)
            hashedShingleSets(
              docs.filter(pmod(xxhash64(col(idCol)), lit(censusRate)) === 0),
              idCol, textCol, shingleLen)
          else hashedShingleSets(docs, idCol, textCol, shingleLen)
        // 2× margin on the scaled threshold: a shingle AT the cap has
        // sample-df ~ Binomial(cap, 1/10) with mean cap/10, and without
        // the margin ~40% of at-cap (legal) shingles would be
        // misclassified hot and lost from signatures; at 2× the
        // misdrop probability is <0.1%, while genuinely hot shingles
        // (df ≫ cap, the guard's target) still clear it easily. The
        // cost is that df in (cap, ~3.3·cap] may be censused as cool —
        // a perf-only outcome, bounded by the band-bucket caps.
        val thresh =
          if (sampled) (2L * maxShingleDf / censusRate).toInt
          else maxShingleDf
        // deterministic top-10000 (df desc, key asc) exactly as the
        // collect form ordered; collect_list order is irrelevant — the
        // array is a REMOVAL SET for array_except
        val hotDf = censusSrc
          .select(explode(col("sset")).as("s"))
          .groupBy("s").agg(count(lit(1)).as("df"))
          .filter(col("df") > thresh)
          .orderBy(desc("df"), asc("s")).limit(10000)
          .agg(collect_list(col("s")).as("hot"))
        Some(org.apache.spark.sql.GraftColumnBridge.column(
          org.apache.spark.sql.catalyst.expressions.ScalarSubquery(
            hotDf.queryExecution.analyzed)))
      }
    // signatures are ROW-LOCAL and FUSED (r13,
    // [[graft.functions.ShingleMinHash]]): one kernel shingles,
    // hot-subtracts and min-hashes each document — the staged
    // minhash_array(array_except(shingle_hashes(...), hot)) form
    // materialized every document's full distinct-shingle ARRAY into
    // the persisted table even though only the candidate sliver ever
    // needs its set again for verification. The persisted projection
    // narrows from (id, sset, sig) to (id, sig) — numHashes longs per
    // doc instead of ~8 B per shingle — so cache materialization skips
    // the per-doc array build/copy and the cache holds ~25× less. A
    // doc whose shingles were all hot yields a NULL signature and
    // drops out of banding, exactly as before (kernel equivalence is
    // pinned by ShingleMinHashSpec against the staged form).
    // MEMORY_ONLY: evictable (see exactJaccard) — a dropped block
    // re-runs the row-local fused projection, never a shuffle.
    val hotArr = hotCol.getOrElse(typedLit[Array[Long]](Array.emptyLongArray))
    val sigs = docs
      .select(col(idCol).as("id"),
        graft.functions.ShingleMinHash.shingle_minhash(
          lower(col(textCol)), hotArr, shingleLen, numHashes).as("sig"))
      .filter(col("sig").isNotNull)
      .persistSlot("dedup.minHashPairs.sigs")
    // the candidate-pair table feeds the returned pair stream AND (via
    // the id union) both verification semi-joins — without
    // materialization the banding explode + bucket aggregation + pair
    // distinct would execute once per reference (measured 5 copies in
    // the assembled plan, 3-6x the whole key). It is bounded SMALL by
    // the band/bucket caps (one row per surviving candidate pair), so
    // it rides the same slot-persist as the signatures: materialized
    // once per corpus, every reference (and every repeat invocation
    // over the same corpus) reads the blocks
    val cand = lshCandidates(sigs, numHashes, bands, maxBucket)
      .persistSlot("dedup.minHashPairs.cand")
    // verification stays EXACT on the full uncapped shingle sets, but
    // those sets are now recomputed ONLY for ids that reached the
    // candidate stage: a broadcast semi-join prunes the corpus to the
    // candidate sliver before re-shingling (candidates are bounded by
    // the band/bucket caps — orders of magnitude below the corpus).
    val candIds = cand.select(col("id1").as("cand_id"))
      .unionAll(cand.select(col("id2").as("cand_id")))
      .distinct()
    // the broadcast hints hold only while the bucket cap bounds the
    // sliver; uncapped, its size is unknown and AQE chooses the join
    def small(df: DataFrame) =
      if (maxBucket == Int.MaxValue) df else broadcast(df)
    // slot-persisted for the same reason as cand: the sliver's sets
    // feed BOTH sides of the verification join — one pruned scan +
    // shingle pass instead of one per side, bounded by the candidate
    // count
    val candSets = hashedShingleSets(
        docs.join(small(candIds), col(idCol) === col("cand_id"),
          "left_semi"),
        idCol, textCol, shingleLen)
      .persistSlot("dedup.minHashPairs.candSets")
    cand
      .join(small(candSets.as("c1")), col("id1") === col("c1.id"))
      .withColumnRenamed("sset", "set1").select("id1", "id2", "set1")
      .join(small(candSets.as("c2")), col("id2") === col("c2.id"))
      .withColumnRenamed("sset", "set2").select("id1", "id2", "set1", "set2")
      // shingle-hash sets are sorted distinct by construction → the
      // fused merge-pass expression (one loop, zero allocation) replaces
      // the two-hash-table intersect/union composition in the post-
      // banding hot path
      .select(col("id1"), col("id2"),
        graft.functions.JaccardSim.jaccard_sim(col("set1"), col("set2"))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Materialized MinHash band index of a corpus, for INCREMENTAL
    * near-dup checks: signatures and band-bucket keys are computed
    * ONCE per corpus and written as a flat (id, band, h) parquet
    * table, so each arriving batch pays only its own shingling plus a
    * join against the index — never a re-shingle or re-shuffle of the
    * corpus. The index is ~`bands` rows of 20 B per document — three
    * orders of magnitude smaller than corpus text at 100 TB.
    * Over-cap band buckets (identical-content clusters — the province
    * of exact dedup, which runs first) are dropped at BUILD time, so
    * no probe can ever fan out quadratically against them.
    */
  /** Materialized content-digest store for EXACT incremental dedup:
    * the corpus hashes once into a flat (fp) parquet table, each new
    * batch anti-joins its digests against the store, and admitted
    * batches [[digestStoreAdd]] their digests back — so corpus text is
    * never re-read per batch and the store is 16 bytes per document.
    * The exact-dedup counterpart of [[buildMinHashIndex]].
    */
  def buildDigestStore(corpus: DataFrame, textCol: String,
                       path: String): String = {
    // unhex → an actual 16-byte binary digest (md5() alone returns the
    // 32-char hex STRING — double the storage and shuffle width)
    corpus.filter(col(textCol).isNotNull)
      .select(unhex(md5(col(textCol))).as("fp")).distinct()
      .write.mode("overwrite").parquet(path)
    path
  }

  /** New-content filter: batch rows whose text digest is absent from
    * the store (and unique within the batch, keeping the min id —
    * a batch can carry its own duplicates). Null-text rows are
    * DROPPED, not admitted: md5(null) is null, null join keys never
    * match, and without the guard every null-text duplicate would
    * sail through on every batch while null digests pile up in the
    * store.
    */
  def digestStoreFilter(spark: org.apache.spark.sql.SparkSession,
                        path: String, batch: DataFrame,
                        idCol: String, textCol: String): DataFrame = {
    val store = spark.read.parquet(path)
    batch.filter(col(textCol).isNotNull)
      .select(col(idCol), unhex(md5(col(textCol))).as("fp"))
      .groupBy("fp").agg(min(col(idCol)).as(idCol))
      .join(store, Seq("fp"), "left_anti")
      .select(col(idCol), col("fp"))
  }

  /** Append admitted digests so the next batch dedups against them. */
  def digestStoreAdd(spark: org.apache.spark.sql.SparkSession,
                     path: String, admitted: DataFrame): Unit =
    admitted.select("fp").write.mode("append").parquet(path)

  /** Bloom-prefiltered variant of [[digestStoreFilter]] — the shape
    * for large, mostly-novel batches: the store's digests fold ONCE
    * into a compact Bloom sketch (Spark's own runtime-filter kernel,
    * `BloomFilterAggregate`), the sketch ships to every task as a
    * binary literal, and each batch row tests membership MAP-SIDE.
    * Sketch-negative rows are DEFINITELY new (Bloom has no false
    * negatives) and admit without ever touching the store; only the
    * maybe-sliver — true duplicates plus the fpp's false positives —
    * pays the exact anti-join. The result is EXACT and identical to
    * [[digestStoreFilter]]: the sketch routes work, it never decides.
    *
    * The one-row sketch collect is bounded by construction
    * (BloomFilterAggregate caps numBits; default sizing ≈ 1.2 MB per
    * million store digests at the ~3% default fpp). At a 1e9-digest
    * store you would size fpp up or shard the store — the knob is
    * `expectedItems`.
    */
  def digestStoreFilterBloom(spark: org.apache.spark.sql.SparkSession,
                             path: String, batch: DataFrame,
                             idCol: String, textCol: String,
                             expectedItems: Long = 0L): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val store = spark.read.parquet(path)
    val hashed = batch.filter(col(textCol).isNotNull)
      .select(col(idCol), unhex(md5(col(textCol))).as("fp"))
      .groupBy("fp").agg(min(col(idCol)).as(idCol))
    val items = if (expectedItems > 0) expectedItems
                else math.max(store.count(), 1L)
    val bloomAgg = GraftColumnBridge.column(
      new BloomFilterAggregate(
        GraftColumnBridge.expression(xxhash64(col("fp"))), items)
        .toAggregateExpression())
    val bf = store.agg(bloomAgg.as("bf")).head().getAs[Array[Byte]](0)
    if (bf == null) return hashed.select(col(idCol), col("fp")) // empty store
    def mightContain = GraftColumnBridge.column(BloomFilterMightContain(
      GraftColumnBridge.expression(lit(bf)),
      GraftColumnBridge.expression(xxhash64(col("fp")))))
    // both branches of the union read `hashed` — persist the narrow
    // (fp, id, maybe) projection so the batch source scans once, then
    // eagerly checkpoint the admitted result and RELEASE the cache
    // entry (a bare persist would outlive the call: cache-manager
    // entries never GC, so each batch invocation would leak one; the
    // checkpoint block is GC'd with the returned DataFrame — the
    // ckptRdd discipline of the cascade code)
    val flagged = hashed.withColumn("maybe", mightContain).persist()
    try
      flagged.filter(!col("maybe")).select(col(idCol), col("fp"))
        .unionAll(flagged.filter(col("maybe"))
          .join(store, Seq("fp"), "left_anti")
          .select(col(idCol), col("fp")))
        .localCheckpoint(true)
    finally flagged.unpersist(false)
  }

  /** Typed index handle: the banding parameters RIDE WITH the path so
    * a probe can never run with mismatched shingle/hash/band widths
    * (which would silently produce empty candidates) — same contract
    * as [[Similarity.IvfIndex]]/[[Similarity.LshIndex]].
    */
  final case class MinHashIndex(path: String, shingleLen: Int,
                                numHashes: Int, bands: Int)

  def buildMinHashIndex(corpus: DataFrame, idCol: String, textCol: String,
                        path: String, shingleLen: Int = 8,
                        numHashes: Int = 32, bands: Int = 8,
                        maxBucket: Int = 1000): MinHashIndex = {
    // finite DEFAULT bucket cap: the build-time drop below is the only
    // thing standing between an identical-content cluster in the corpus
    // and a quadratic probe-join fan-out — with Int.MaxValue as the
    // default, every caller that didn't think about skew (including the
    // declared incremental-fuzzy key) would build an unbounded index.
    // 1000 matches simHashPairs; pass Int.MaxValue explicitly to opt
    // out on a corpus known to be exact-deduped already.
    val sigs = corpus.select(col(idCol).as("id"),
        graft.functions.ShingleMinHash.shingle_minhash(lower(col(textCol)),
          typedLit[Array[Long]](Array.emptyLongArray), shingleLen, numHashes)
          .as("sig"))
      .filter(col("sig").isNotNull)
    val keys = bandKeys(sigs, numHashes, bands)
      .select(col("id"), col("bk.band").as("band"), col("bk.h").as("h"))
    val bounded =
      if (maxBucket == Int.MaxValue) keys
      else {
        val hot = keys.groupBy("band", "h")
          .agg(count(lit(1)).as("n")).filter(col("n") > maxBucket)
          .select("band", "h")
        keys.join(hot, Seq("band", "h"), "left_anti")
      }
    bounded.write.mode("overwrite").parquet(path)
    // a rebuild must not serve stale cached blocks to later probes
    invalidateIndexCache(corpus.sparkSession, path)
    MinHashIndex(path, shingleLen, numHashes, bands)
  }

  // Per-session cache of loaded band indexes: the index is built once
  // and probed many times (the incremental-ingest premise), but each
  // probe re-reading the flat parquet paid a cold scan per invocation
  // — visible as ~2.3 s of constant overhead on every
  // ext_dedup_incr_fuzzy_full bench iteration (r9 finding). The
  // narrow (id, band, h) projection persists once per (session, path)
  // and every later probe reads cached blocks.
  private val idxCacheFor = graft.SessionLocal(
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]())

  private def loadIndex(spark: org.apache.spark.sql.SparkSession,
                        path: String): DataFrame =
    idxCacheFor(spark).computeIfAbsent(path, p => {
      val df = spark.read.parquet(p)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df.count() // materialize once; probes hit cached blocks
      df
    })

  private def invalidateIndexCache(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val old = idxCacheFor(spark).remove(path)
    if (old != null) old.unpersist(false)
  }

  /** Probe a built MinHash index with a new batch: every batch doc's
    * band keys are joined against the index (batch ≪ corpus by the
    * incremental-ingest premise, so AQE broadcasts the batch side and
    * the index never shuffles), then candidates are verified with
    * EXACT Jaccard — corpus shingle sets are recomputed only for the
    * candidate ids (a semi-join-pruned sliver of the corpus), batch
    * sets are computed once and reused for signatures and
    * verification. Output: (corpus_id, batch_id, jaccard >= threshold).
    */
  def minHashProbe(spark: org.apache.spark.sql.SparkSession,
                   index: MinHashIndex, corpus: DataFrame, batch: DataFrame,
                   idCol: String, textCol: String,
                   threshold: Double = 0.5): DataFrame = {
    val shingleLen = index.shingleLen
    val numHashes = index.numHashes
    val bands = index.bands
    val idx = loadIndex(spark, index.path)
    val bsets = hashedShingleSets(batch, idCol, textCol, shingleLen)
      // MEMORY_ONLY: evictable (see exactJaccard), row-local recompute
      .persistSlot("dedup.minHashProbe.batchSets")
    val bsigs = bsets.select(col("id"),
        graft.functions.MinHashArray.minhash_array(col("sset"), numHashes).as("sig"))
      .filter(col("sig").isNotNull)
    val bkeys = bandKeys(bsigs, numHashes, bands)
      .select(col("id").as("batch_id"), col("bk.band").as("band"),
        col("bk.h").as("h"))
    val cand = idx.join(bkeys, Seq("band", "h"))
      .select(col("id").as("corpus_id"), col("batch_id")).distinct()
    val cids = cand.select("corpus_id").distinct()
    val csets = hashedShingleSets(
        corpus.join(cids, corpus(idCol) === cids("corpus_id"), "left_semi"),
        idCol, textCol, shingleLen)
      .select(col("id").as("corpus_id"), col("sset").as("set1"))
    val bsetsv = bsets.select(col("id").as("batch_id"), col("sset").as("set2"))
    cand.join(csets, "corpus_id").join(bsetsv, "batch_id")
      .select(col("corpus_id"), col("batch_id"),
        graft.functions.JaccardSim.jaccard_sim(col("set1"), col("set2"))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Connected components over a near-dup pair graph — the clustering
    * step a dedup pipeline runs after pair generation, so each
    * duplicate CLUSTER keeps one representative (its min id), not just
    * each pair. Each round does min-label propagation (every node
    * adopts the smallest label among itself and its neighbors — the
    * same driver-orchestrated loop of distributed joins
    * GraphX/GraphFrames connected-components runs) PLUS a
    * pointer-doubling shortcut (every node also adopts its LABEL's
    * label — labels are node ids, so this is a self-join on the label
    * table). The shortcut halves each node's distance-to-representative
    * per round, so convergence is O(log diameter) rounds instead of
    * O(diameter): a 1000-long near-dup chain converges in ~12 rounds,
    * not 1000, and the per-round driver `count()` action is paid
    * log-many times. Each round persists its labels and unpersists the
    * previous round to keep lineage flat.
    */
  def components(pairs: DataFrame, nodes: DataFrame,
                 maxIter: Int = 20): DataFrame =
    componentsWithIters(pairs, nodes, maxIter)._1

  /** [[components]] plus the number of rounds it took — exposed so the
    * convergence-rate claim is spec-assertable, not folklore. */
  private[graft] def componentsWithIters(pairs: DataFrame, nodes: DataFrame,
                                         maxIter: Int): (DataFrame, Int) = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val edges = pairs
      .select(col("id1").as("a"), col("id2").as("b"))
      .unionAll(pairs.select(col("id2").as("a"), col("id1").as("b")))
      .persist(lvl)
    var labels = nodes.select(col("id"), col("id").as("comp"))
      .persist(lvl)
    var changed = 1L
    var iter = 0
    // localCheckpoint blocks are NOT cache-manager entries, so
    // unpersisting the derived label Dataset cannot free them; track
    // each round's newly-persisted RDD ids and release the previous
    // round's explicitly (otherwise O(rounds) full label copies sit in
    // block storage until the driver happens to GC the references)
    var prevCkptRdd: Option[org.apache.spark.rdd.RDD[_]] = None
    while (changed > 0 && iter < maxIter) {
      val nbrMin = edges.join(labels, col("b") === col("id"))
        .groupBy(col("a")).agg(min(col("comp")).as("nbr"))
      // carry the incoming label through the round as `old` so the
      // fixpoint test below is a local filter over this round's
      // checkpointed output — NOT a shuffle join back against the
      // previous label table (one fewer distributed join per round)
      val propagated = labels.join(nbrMin, col("id") === col("a"), "left")
        .select(col("id"), col("comp").as("old"),
          least(col("comp"), coalesce(col("nbr"), col("comp"))).as("comp"))
        .persist(lvl)
      // pointer doubling: comp := comp(comp). Labels are always node
      // ids (mins over ids), so the self-join on the label table is
      // total; "left" keeps isolated nodes. Monotone (least), so the
      // fixpoint test below is unaffected. The self-join references
      // `propagated` TWICE, so without lineage truncation the logical
      // plan would DOUBLE every round — localCheckpoint materializes
      // the round's labels and cuts the plan back to a leaf (the same
      // reason GraphFrames checkpoints its CC iterations).
      val byId = propagated
        .select(col("id").as("pid"), col("comp").as("pcomp"))
      val updated = propagated.as("u")
        .join(byId.as("v"), col("u.comp") === col("v.pid"), "left")
        .select(col("u.id").as("id"), col("u.old").as("old"),
          least(col("u.comp"), coalesce(col("v.pcomp"), col("u.comp"))).as("comp"))
        .localCheckpoint(true)
      // identify THIS round's checkpoint RDD from the dataframe's own
      // plan (localCheckpoint leaves a LogicalRDD leaf) — never by
      // diffing the global persistent-RDD registry, which captures
      // (and would later force-unpersist) RDDs cached concurrently by
      // OTHER queries on a shared context
      val ckptRdd = updated.queryExecution.logical match {
        case lr: org.apache.spark.sql.execution.LogicalRDD => Some(lr.rdd)
        case _ => None
      }
      changed = updated.filter(col("comp") =!= col("old")).count()
      propagated.unpersist(false)
      labels.unpersist(false)
      prevCkptRdd.foreach(_.unpersist(false))
      prevCkptRdd = ckptRdd
      labels = updated.select(col("id"), col("comp"))
      iter += 1
    }
    edges.unpersist(false)
    if (changed > 0)
      // visible failure beats silently split components
      throw new IllegalStateException(
        s"components() did not converge in $maxIter iterations " +
          s"($changed labels still changing) — with pointer doubling " +
          s"that covers graphs of diameter ~2^$maxIter; raise maxIter " +
          "only for adversarially deep graphs")
    (labels, iter)
  }

  /** 64-bit SimHash per document from whitespace tokens: bit i of the
    * signature is the majority vote of token-hash bit i. One scan,
    * 64 sum aggregates, all codegen'd.
    */
  def simHash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs
      .select(col(idCol).as("id"),
        explode(expr(s"split(lower(trim($textCol)), '\\\\s+')")).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val bitSums: Seq[Column] = (0 until 64).map { i =>
      sum(when(expr(s"(h >> $i) & 1") === 1, 1).otherwise(-1)).as(s"b_$i")
    }
    val agg = toks.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until 64).map(i =>
        when(col(s"b_$i") > 0, expr(s"CAST(1 AS BIGINT) << $i")).otherwise(0L))
      .reduce(_.bitwiseOR(_))
    agg.select(col("id"), sig.as("simhash"))
  }

  /** SimHash near-dup pairs with Hamming distance <= maxDist.
    * Banding: split the 64-bit signature into 4 16-bit keys — any pair
    * within Hamming distance 3 shares at least one key (pigeonhole),
    * so the join is bucketed, never all-pairs. Band buckets above
    * `maxBucket` are dropped by the shared [[bucketPairs]] guard:
    * identical content has identical SimHash in EVERY band, so a
    * b-copy boilerplate cluster would otherwise emit 4·b² candidate
    * pairs — run exact dedup first; that is where identical clusters
    * belong.
    */
  def simHashPairs(sigs: DataFrame, maxDist: Int = 3,
                   maxBucket: Int = 1000): DataFrame = {
    require(maxDist <= 3, "4-band pigeonhole guarantees recall only for maxDist <= 3")
    // the signature table feeds banding plus both verification joins:
    // persist it so the (full-corpus aggregation) upstream runs once.
    // MEMORY_ONLY: evictable (see exactJaccard)
    val sg = sigs.persistSlot("dedup.simHashPairs.sigs")
    val banded = sg.select(col("id"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          expr(s"(simhash >> ${b * 16}) & 65535").as("key"))): _*)).as("bk"))
    bucketPairs(banded, maxBucket)
      .join(sg.select(col("id"), col("simhash").as("h1")), col("id1") === col("id"))
      .drop("id")
      .join(sg.select(col("id"), col("simhash").as("h2")), col("id2") === col("id"))
      .drop("id")
      .select(col("id1"), col("id2"), expr("bit_count(h1 ^ h2)").as("dist"))
      .filter(col("dist") <= maxDist)
  }

  /** Exact repeated-substring SPAN detection — the k-gram-anchored
    * formulation of suffix-array substring dedup (public algorithm:
    * Lee et al. 2021, "Deduplicating Training Data Makes Language
    * Models Better"; reference corpus ops delegate no analog, this is
    * part of the mandated 100 TB training-extension surface).
    *
    * A word k-gram is DUPLICATED when it occurs ≥ 2 times anywhere in
    * the corpus (cross-document or within-document, as in the paper).
    * Per document, consecutive duplicated gram starts merge into
    * maximal token intervals (two gram intervals [s, s+k-1] overlap or
    * touch iff the start gap is ≤ k — a gaps-and-islands pass), and
    * intervals shorter than `minSpanTokens` are dropped, so chance
    * k-gram collisions never surface as spans.
    *
    * Scale shape (the reason this beats pairwise approaches): volume
    * is LINEAR in corpus tokens end-to-end. Grams shuffle as 8-byte
    * xxhash64 keys (text never shuffles); the duplicated-gram set is
    * distinct-by-hash, so the join back fans each gram occurrence out
    * exactly once — a 10k-copy boilerplate cluster costs 10k rows
    * here, not 10k², with no cap needed. Two shuffles total (gram df,
    * per-doc window) + one narrow row-local gram projection.
    *
    * Returns (id, n_spans, dup_tokens, max_span) for documents with at
    * least one qualifying span; `dup_tokens` is exact merged-interval
    * coverage (never double-counts a token).
    */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                     k: Int = 5, minSpanTokens: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 2, "k-gram length must be at least 2")
    require(minSpanTokens >= k, "a span cannot be shorter than one gram")
    val grams = docs
      .select(col(idCol).as("id"),
        split(lower(col(textCol)), " ").as("w"))
      .filter(size(col("w")) >= k) // shorter docs produce no grams
      .select(col("id"), posexplode(expr(
        s"transform(sequence(1, size(w) - ${k - 1}), " +
          s"i -> xxhash64(concat_ws(' ', slice(w, i, $k))))")))
      .select(col("id"), (col("pos") + 1).as("pos"), col("col").as("gh"))
      // feeds the df aggregate AND the join back; MEMORY_ONLY so a
      // dropped block re-runs the row-local projection, never a shuffle
      .persistSlot("dedup.duplicateSpans.grams")
    val dup = grams.groupBy("gh").count()
      .filter(col("count") >= 2).select("gh")
    val byDoc = Window.partitionBy("id").orderBy("pos")
    grams.join(dup, Seq("gh")).select("id", "pos")
      .withColumn("island",
        when(col("pos") - lag("pos", 1).over(byDoc) <= k, lit(0))
          .otherwise(lit(1)))
      .withColumn("grp", sum("island").over(byDoc))
      .groupBy("id", "grp")
      .agg((max("pos") - min("pos") + k).as("span_tokens"))
      .filter(col("span_tokens") >= minSpanTokens)
      .groupBy("id")
      .agg(count(lit(1)).as("n_spans"),
        sum("span_tokens").as("dup_tokens"),
        max("span_tokens").as("max_span"))
  }
}
