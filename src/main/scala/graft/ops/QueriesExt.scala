package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.PlanSlots.Slotted

/** Extension operators [X] (SURVEY.md §2C): the LLM-training-data
  * pipeline surface — dedup, similarity search, text analysis,
  * multimodal binary plumbing — each expressed as a declarative plan
  * that scales (shingle-join instead of cross-join for near-dup;
  * broadcast query vector for ANN; single-scan token analytics via
  * codegen'd higher-order array functions).
  *
  * Non-SQL-expressible variants (MinHash LSH banding, SimHash,
  * IVF-style ANN) live in graft.ops.{Dedup,Similarity} with ScalaTest
  * specs; the keys here are the DuckDB-verifiable core.
  */
object QueriesExt {
  type Q = (SparkSession, String) => DataFrame
  private def t(n: String)(s: SparkSession, d: String) = Tables.t(s, d, n)

  /** ONE definition of the planted curation corpus (synthetic PII on
    * every 7th doc, a duplicate block, an eval holdout) shared by the
    * pipeline and stats keys — their reconciliation invariant (`kept`
    * counts match pipeline survivors) only means something if both
    * read the identical corpus.
    */
  private def curationFixture(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val base = t("documents")(s, d)
      .withColumn("txt", when(col("doc_id") % 7 === 0,
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com or 555-0142"))).otherwise(col("text")))
    val corpus0 = base.filter(col("doc_id") % 50 =!= 0)
      .select(col("doc_id"), col("txt").as("text"))
    val corpus = corpus0.unionAll(
      corpus0.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))
    val evalSet = base.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id"), col("txt").as("text"))
    (corpus, evalSet)
  }

  /** Seed rows for the topic-clustering keys: fixed corpus vec_ids so
    * the assignment is a pure function of the dataset (no RNG, no
    * Lloyd iterations) and the DuckDB oracle can replay it exactly. */
  private val ClusterSeeds = Seq(7L, 113L, 211L, 331L)

  /** Seeded spherical cluster assignment: (vec_id, cluster, sim) with
    * cluster = the seed vec_id of the most-cosine-similar seed.
    * Driver-side collect is k=4 rows by construction (bounded); the
    * centroids become broadcast literals and the scan is map-only —
    * the same shape `Similarity.ivfAssign` uses, reused here with the
    * seed id (not the cell index) as the visible label. Similarity is
    * rounded to 6 dp BEFORE the argmax so the Spark and oracle tie
    * rules see identical numbers. */
  private def clusterAssign(s: SparkSession, d: String): DataFrame = {
    val emb = t("embeddings")(s, d)
    val seeds = emb.filter(col("vec_id").isin(ClusterSeeds: _*))
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    val cands = seeds.map { case (sid, v) =>
      val se = array(v.map(x => lit(x)): _*).cast("array<float>")
      struct(
        round(graft.functions.GraftFunctions.cosine_sim(col("embedding"), se), 6)
          .as("sim"),
        lit(-sid).as("negid"))
    }
    emb.withColumn("best", array_max(array(cands.toSeq: _*)))
      .select(col("vec_id"),
        (col("best")("negid") * -1).as("cluster"),
        col("best")("sim").as("sim"))
  }

  /** Per-(dataset, params) ANN index memo — one build per JVM, stable
    * on-disk path, concurrent same-key invocations serialized. */
  private val annIndex =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** ONE builder per (index kind, dataset) — every consumer key goes
    * through these, so build parameters cannot drift between the
    * sibling keys sharing a memoized index (a second inline copy with
    * different nCentroids/nBits would be silently ignored by
    * whichever key ran second). */
  private def ivfIndexFor(s: SparkSession, d: String): Similarity.IvfIndex =
    annIndex.computeIfAbsent(s"ivf_${TableIds.idFor(d)}",
      key => Similarity.buildIvfIndex(
        t("embeddings")(s, d).select("vec_id", "embedding")
          .filter(col("vec_id") =!= 0),
        "vec_id", "embedding", s"target/ann_index/$key", nCentroids = 16))
      .asInstanceOf[Similarity.IvfIndex]

  private def lshIndexFor(s: SparkSession, d: String): Similarity.LshIndex =
    annIndex.computeIfAbsent(s"lsh_${TableIds.idFor(d)}",
      key => Similarity.buildLshIndex(
        t("embeddings")(s, d).select("vec_id", "embedding")
          .filter(col("vec_id") =!= 0),
        "vec_id", "embedding", s"target/ann_index/$key", dim = 64, nBits = 8))
      .asInstanceOf[Similarity.LshIndex]

  private def ivfFullIndexFor(s: SparkSession, d: String): Similarity.IvfIndex =
    annIndex.computeIfAbsent(s"ivf_full_${TableIds.idFor(d)}",
      key => Similarity.buildIvfIndex(
        s.read.parquet(expandedEmbDir(s, d)), "vec_id", "embedding",
        s"target/ann_index/$key", nCentroids = 64))
      .asInstanceOf[Similarity.IvfIndex]

  /** Bench-scale embedding corpus, materialized ONCE per dataset: the
    * base embeddings × 20 deterministic perturbed copies (distinct
    * directions — each copy scales AND shifts elementwise), written as
    * parquet so the bench-scale similarity keys SCAN a stored corpus
    * like any real serving path (never re-synthesize per query). At
    * sf0.1 this is ~100k vectors — enough that partition-pruned ANN
    * probes separate from a full brute-force scan, which at the raw
    * 5k-vector table is job-overhead-bound for both.
    */
  private def expandedEmbDir(s: SparkSession, d: String): String = {
    val dir = s"target/graft_tmp/emb_expanded_${TableIds.idFor(d)}"
    if (!Tables.writeComplete(dir)) synchronized {
      if (!Tables.writeComplete(dir)) {
        val base = t("embeddings")(s, d).filter(col("vec_id") =!= 0)
        (0 until 20).map { k =>
          base.select((col("vec_id") + lit(k.toLong * 1000000L)).as("vec_id"),
            transform(col("embedding"),
              x => x * lit((1.0 + 0.03 * k).toFloat) + lit((0.01 * k).toFloat))
              .cast("array<float>").as("embedding"))
        }.reduce(_.unionAll(_))
          // r12 measured NON-change: one file per union branch (20)
          // caps scan parallelism at 20 tasks on 32 cores; writing the
          // fixture at defaultParallelism (32 smaller files → 32 scan
          // tasks) was tried to close that gap and showed NO measurable
          // win — matched-methodology samples overlap entirely
          // (ext_knn_join_full min6 0.68-1.00 s for 20 files vs
          // 0.84-0.91 s for 32; the key's run variance swamps the
          // layout). At this corpus size per-task fixed costs
          // (broadcast relation per task, codegen init, parquet footer
          // per file) eat the extra wave parallelism, so the simpler
          // layout stays; at real corpus sizes file splitting provides
          // scan parallelism naturally, so nothing to fix for scale.
          .write.mode("overwrite").parquet(dir)
      }
    }
    dir
  }

  /** Bench warm-up hook: force the ONE-TIME fixture materializations
    * — the expanded ~100k-vector embedding corpus and the memoized
    * ANN indexes over it — so the bench's timed runs measure the
    * probe/scan they claim to measure, not fixture setup. (r7
    * evidence: the first timed ext_sim_search_ivf_indexed_full run
    * paid the whole index build — spread max 16.6 s against a 0.235 s
    * median.) Queries outside the bench are unaffected: the same
    * memos make this a no-op wherever the fixtures already exist. */
  def warmFixtures(s: SparkSession, d: String): Unit = {
    expandedEmbDir(s, d)
    ivfFullIndexFor(s, d)
    ivfIndexFor(s, d)
    lshIndexFor(s, d)
    fullMinHashIndexFor(s, d)
  }

  /** The FULL-corpus MinHash band index (built once per sf dir, cached
    * like the ANN indexes) — the fixture behind
    * `ext_dedup_incr_fuzzy_full`'s probe-cost-follows-the-batch
    * measurement. */
  private def fullMinHashIndexFor(s: SparkSession, d: String): Dedup.MinHashIndex =
    annIndex.computeIfAbsent(s"mhfull_${TableIds.idFor(d)}",
      key => Dedup.buildMinHashIndex(
        t("documents")(s, d).select(col("doc_id"), col("text")),
        "doc_id", "text", s"target/ann_index/$key",
        numHashes = 32, bands = 8))
      .asInstanceOf[Dedup.MinHashIndex]

  val queries: Map[String, Q] = Map(
    // exact dedup: duplicates synthesized (every 10th doc re-appended),
    // then hash-groupBy on content — the 100 TB pattern (shuffle on a
    // content key, min-id as canonical representative)
    "ext_dedup_exact" -> ((s, d) => {
      val docs = t("documents")(s, d)
      val withDups = docs.unionAll(docs.filter(col("doc_id") % 10 === 0))
      // group by the content digest, not the content: the shuffle
      // moves 16-byte keys instead of full documents — the difference
      // between shuffling 100 TB of text and ~2% of it
      withDups.groupBy(md5(col("text")))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
        .select("doc_id", "n_copies")
        .orderBy("doc_id")
    }),

    // URL-CANONICALIZATION DEDUP: the CommonCrawl-style first pass —
    // exact dedup AFTER normalizing scheme/host case, the scheme's
    // default port, utm_* tracking params, fragments and trailing
    // slashes. The corpus has no URL column, so one is synthesized
    // deterministically from (source, doc_id) WITH planted
    // non-canonical variants (upper-case scheme+host every 3rd doc,
    // an explicit :443 every 4th, a trailing slash every 2nd, utm
    // params every 5th, a fragment every 7th); doc_id % 100 forces
    // genuine collisions post-canonicalization. Every normalization is
    // a row-local codegen regex/HOF — the only shuffle is the final
    // group-by, and it moves the short canonical key, never the
    // document.
    "ext_dedup_url" -> ((s, d) => {
      val url = concat(
        when(col("doc_id") % 3 === 0, lit("HTTPS://WWW."))
          .otherwise(lit("https://www.")),
        col("source"), lit(".Example.COM"),
        when(col("doc_id") % 4 === 0, lit(":443")).otherwise(lit("")),
        lit("/docs/"), (col("doc_id") % 100).cast("string"),
        when(col("doc_id") % 2 === 0, lit("/")).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          lit("?utm_source=feed&utm_campaign=c1&ref=r"))
          .otherwise(lit("?ref=r")),
        when(col("doc_id") % 7 === 0, lit("#section-2")).otherwise(lit("")))
      val noFrag = regexp_replace(url, "#.*$", "")
      val scheme = lower(regexp_extract(noFrag,
        "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
      val host = lower(regexp_extract(noFrag,
        "^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)", 1))
      val port = regexp_extract(noFrag,
        "^[A-Za-z][A-Za-z0-9+.-]*://[^/:?#]+:([0-9]+)", 1)
      val path = regexp_replace(
        regexp_extract(noFrag,
          "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)", 1),
        "/+$", "")
      val keptQ = array_join(
        filter(split(regexp_extract(noFrag, "\\?(.*)$", 1), "&"),
          p => !p.startsWith("utm_") && p =!= lit("")), "&")
      val keepPort = port =!= "" &&
        !(scheme === "https" && port === "443") &&
        !(scheme === "http" && port === "80")
      val canonical = concat(scheme, lit("://"), host,
        when(keepPort, concat(lit(":"), port)).otherwise(lit("")),
        path,
        when(keptQ =!= "", concat(lit("?"), keptQ)).otherwise(lit("")))
      t("documents")(s, d)
        .withColumn("canonical_url", canonical)
        .groupBy("canonical_url")
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n"))
        .orderBy("canonical_url")
    }),

    // n-gram Jaccard near-dup: candidates via frequency-capped shingle
    // equi-join (a hot shingle shared by f% of docs would otherwise
    // create an O((f·N)²) bucket), exact Jaccard verified on the FULL
    // shingle sets so values match the uncapped oracle. Recall is
    // intact because any Jaccard-qualifying pair shares rare shingles
    // (verified on this corpus: every oracle pair shares a shingle
    // with doc-frequency ≤ 8, far under the cap of 50).
    "ext_dedup_ngram" -> ((s, d) => {
      val docs = t("documents")(s, d).filter(col("doc_id") < 100)
      val sh = Dedup.shingles(docs, "doc_id", "text")
      // candidate generation joins on 8-byte shingle HASHES (the
      // compact representation — equality is all a candidate join
      // needs); Jaccard verification below stays on the full string
      // shingle sets, so output values match the string-based oracle
      // even in the (~n²/2⁶⁴) event of a hash collision
      val hsh = Dedup.hashedShingleSets(docs, "doc_id", "text")
        .select(col("id"), explode(col("sset")).as("s"))
      // persisted: the candidate self-join reads the df-capped shingle
      // table on both sides — one shingling pass, not two
      // MEMORY_ONLY: evictable (see Dedup.exactJaccard)
      val cand = Dedup.dropHotShingles(hsh, maxDf = 50)
        .persistSlot("ext.dedupNgram.shingles")
      val pairs = cand.as("a").join(cand.as("b"),
          col("a.s") === col("b.s") && col("a.id") < col("b.id"))
        .select(col("a.id").as("id1"), col("b.id").as("id2"))
        .distinct()
      Dedup.exactJaccard(sh, pairs)
        .filter(col("jaccard") >= 0.09)
        .select(col("id1").as("d1"), col("id2").as("d2"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy("d1", "d2")
    }),

    // brute-force cosine top-k against a query vector (vec_id 0).
    // The query embedding is a driver-side constant (a genuine query
    // parameter, not a collect-of-the-data) folded into the plan, so
    // the scan side streams once with no shuffle: score → TakeOrdered.
    "ext_sim_search" -> ((s, d) => {
      val emb = t("embeddings")(s, d)
      val q: Seq[Float] = emb.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0)
      val qArr = array(q.map(v => lit(v)): _*)
      val scored = emb.filter(col("vec_id") =!= 0)
        .withColumn("qe", qArr)
        .withColumn("sim",
          expr("""aggregate(zip_with(embedding, qe, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)
                  / (sqrt(aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 0D, (acc, v) -> acc + v))
                   * sqrt(aggregate(transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 0D, (acc, v) -> acc + v)))"""))
      scored.select(col("vec_id"), round(col("sim"), 6).as("sim"))
        .orderBy(desc("sim"), asc("vec_id")).limit(10)
    }),

    // same top-k via the native codegen Expression (graft.functions.
    // CosineSimilarity family) — one fused loop per row instead of
    // three higher-order array allocations; identical results, same
    // oracle. r12: the query norm is a driver constant (accumulated in
    // the fused kernel's exact double sequence), so each corpus row
    // pays dot + its own norm only — see DotProduct.
    "ext_sim_search_native" -> ((s, d) => {
      val emb = t("embeddings")(s, d)
      val q: Seq[Float] = emb.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0)
      val qArr = array(q.map(v => lit(v)): _*).cast("array<float>")
      var qsq = 0.0
      q.foreach { x => val xd = x.toDouble; qsq += xd * xd }
      // r13: corpus norm projected ONCE and referenced by name — the
      // inline vec_norm duplicated sqrt(dot_product(e, e)) into the
      // zero-guard and the divisor (see Similarity.bruteForceTopK)
      emb.filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("embedding"),
          graft.functions.GraftFunctions.vec_norm(col("embedding"))
            .as("cnorm"))
        .select(col("vec_id"),
          round(graft.functions.GraftFunctions.cosine_from_norms(
            col("embedding"), qArr,
            col("cnorm"), lit(math.sqrt(qsq))), 6).as("sim"))
        .orderBy(desc("sim"), asc("vec_id")).limit(10)
    }),

    // k-NN JOIN: every probe vector gets its k nearest corpus vectors
    // by cosine — the BATCH retrieval shape (nearest training examples
    // per eval item, dataset enrichment), vs ext_sim_search's single
    // query. The probe set is persisted (tiny by construction; in
    // production it is its own table) and broadcasts under the cross
    // join, so every scored pair is born and dies inside one corpus
    // partition; the per-probe top-k runs on the bounded-heap
    // GroupTopK operator — partial heaps per partition, then a final
    // heap after shuffling at most partitions·k rows per probe. The
    // |probe|·|corpus| score stream never materializes and never
    // globally sorts, which is what makes the brute-force shape viable
    // as the exact-verification baseline at scale (the ANN keys are
    // its sublinear path).
    "ext_knn_join" -> ((s, d) => {
      val emb = t("embeddings")(s, d)
      // norm-hoist: see ext_knn_join_full (bit-identical, DotProduct)
      val probes = emb.filter(col("vec_id") % 97 === 0)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_emb"),
          graft.functions.GraftFunctions.vec_norm(col("embedding")).as("pnorm"))
        // MEMORY_ONLY: evictable (see Dedup.exactJaccard)
        .persistSlot("ext.knnJoin.probes")
      val scored = emb.filter(col("vec_id") % 97 =!= 0)
        .withColumn("cnorm",
          graft.functions.GraftFunctions.vec_norm(col("embedding")))
        .crossJoin(broadcast(probes))
        .select(col("probe_id"), col("vec_id"),
          round(graft.functions.GraftFunctions.cosine_from_norms(
            col("embedding"), col("probe_emb"),
            col("cnorm"), col("pnorm")), 6).as("sim"))
      graft.plans.GroupTopKOps.topK(scored, Seq("probe_id"),
          Seq("sim" -> true, "vec_id" -> false), 5)
        .orderBy(asc("probe_id"), desc("sim"), asc("vec_id"))
    }),

    // embedding-cosine near-dup pairs via sign-LSH banding
    // (Similarity.lshNearDupPairs) — bucketed candidates + exact-cosine
    // verification, no all-pairs join anywhere. Corpus = embeddings
    // plus a rescaled copy of every 4th vector (×2 elementwise: exact
    // in float, direction-preserving → planted near-dups at cosine 1.0,
    // identical sign signatures → recall 1 by construction). The
    // background max pairwise cosine is ≈0.51, so the 0.9 threshold
    // isolates exactly the planted pairs — same answer as the oracle's
    // exact all-pairs formulation.
    // SEMANTIC decontamination: corpus vectors whose cosine to ANY
    // eval vector reaches the threshold are quarantined, with the
    // closest eval item attributed — catches the paraphrased benchmark
    // leakage that n-gram overlap (ext_decontaminate) misses. Eval
    // sets are index-sized next to a training corpus, so the eval side
    // persists + broadcasts and the similarity computes in one pass
    // over ONE corpus scan; only the flagged sliver (tiny by
    // construction) shuffles for the per-vector argmax. At 100 TB this
    // is a map-only job over the corpus. (If the eval set ever
    // outgrows a broadcast, the sign-LSH banding in Similarity is the
    // fallback pair generator.) Planted contamination: rescaled eval
    // copies (cosine exactly 1, the ext_dedup_embed fixture) on a
    // background whose max corpus-eval cosine is 0.45 — the 0.85
    // threshold separates them in closed form.
    "ext_decontaminate_semantic" -> ((s, d) => {
      val emb = t("embeddings")(s, d).select("vec_id", "embedding")
      val evalSet = emb.filter(col("vec_id") % 53 === 0)
        .select(col("vec_id").as("eval_id"), col("embedding").as("eval_emb"))
        // MEMORY_ONLY: evictable (see Dedup.exactJaccard)
        .persistSlot("ext.decontaminateSemantic.evalSet")
      val corpus = emb.filter(col("vec_id") % 53 =!= 0).unionAll(
        emb.filter(col("vec_id") % 53 === 0 && col("vec_id") % 106 =!= 0)
          .select((col("vec_id") + 20000).as("vec_id"),
            expr("transform(embedding, x -> CAST(x * CAST(2.0 AS FLOAT) AS FLOAT))")
              .as("embedding")))
      corpus.crossJoin(broadcast(evalSet))
        .select(col("vec_id"), col("eval_id"),
          round(graft.functions.GraftFunctions.cosine_sim(
            col("embedding"), col("eval_emb")), 6).as("sim"))
        .filter(col("sim") >= 0.85)
        .groupBy(col("vec_id"))
        .agg(max(struct(col("sim"), col("eval_id"))).as("m"))
        .select(col("vec_id"), col("m.eval_id").as("eval_id"),
          col("m.sim").as("sim"))
        .orderBy("vec_id")
    }),

    // TOPIC CLUSTERING (seeded spherical assignment): label every
    // vector with its most-cosine-similar seed centroid — the curation
    // primitive behind cluster-balanced mixing and SemDeDup-style
    // pruning. Seeds are fixed corpus rows (k=4 ids), so the answer is
    // exactly reproducible in SQL; the scale story is IVF assignment
    // (Similarity.ivfAssign): k broadcast literal centroids, ONE
    // map-only corpus scan, argmax row-local via a single array_max
    // over (sim, -seed) structs — no shuffle before the output sort.
    // Ties (none in the fixture, but the contract anyway) go to the
    // smallest seed id, mirrored by the oracle's ORDER BY sim DESC,
    // seed ASC.
    "ext_cluster_assign" -> ((s, d) => clusterAssign(s, d).orderBy("vec_id")),

    // Per-cluster census over the same assignment: cardinality and
    // cosine dispersion per topic — the balance report a mixing /
    // pruning step consumes. One extra k-row aggregation on top of the
    // map-only assignment.
    "ext_cluster_stats" -> ((s, d) =>
      clusterAssign(s, d).groupBy("cluster")
        .agg(count(lit(1)).as("n"),
          round(avg("sim"), 6).as("avg_sim"),
          min("sim").as("min_sim"),
          max("sim").as("max_sim"))
        .orderBy("cluster")),

    // CLUSTER-BALANCED SAMPLING: cap every topic cluster at the same
    // budget so no topic dominates the training mix — the
    // cluster-aware counterpart of ext_sample_exact_k. Selection is
    // content-hash-ranked (deterministic under re-sharding, unbiased
    // within a cluster) on the bounded-heap GroupTopK operator: at
    // most partitions·k rows per cluster ever shuffle, the map-only
    // assignment scan never does.
    "ext_cluster_balance" -> ((s, d) => {
      val ranked = clusterAssign(s, d)
        .select(col("vec_id"), col("cluster"),
          md5(col("vec_id").cast("string")).as("rk"))
      graft.plans.GroupTopKOps.topK(ranked, Seq("cluster"),
          Seq("rk" -> false, "vec_id" -> false), 60)
        .orderBy("cluster", "rk", "vec_id")
    }),

    "ext_dedup_embed" -> ((s, d) => {
      val emb = t("embeddings")(s, d).select("vec_id", "embedding")
      val corpus = emb.unionAll(
        emb.filter(col("vec_id") % 4 === 0)
          .select((col("vec_id") + 10000).as("vec_id"),
            expr("transform(embedding, x -> CAST(x * CAST(2.0 AS FLOAT) AS FLOAT))")
              .as("embedding")))
      Similarity.lshNearDupPairs(corpus, "vec_id", "embedding",
          dim = 64, threshold = 0.9)
        .select(col("v1"), col("v2"), round(col("sim"), 6).as("sim"))
        .orderBy("v1", "v2")
    }),

    // SemDeDup-style semantic dedup (Similarity.semanticDedup):
    // k-means cells → within-cell candidates → exact-cosine verify →
    // connected components → min-id representative. Same planted
    // corpus as ext_dedup_embed: rescaled copies share their source's
    // direction, hence its nearest centroid — same-cell by
    // construction, so recall on the planted pairs is 1 and the
    // background (max pairwise cosine ≈0.51) contributes nothing at
    // the 0.95 threshold. The semantic groups are therefore exactly
    // the planted (source, source+10000) pairs, which the oracle
    // states in closed form.
    "ext_dedup_semantic" -> ((s, d) => {
      val emb = t("embeddings")(s, d).select("vec_id", "embedding")
      val corpus = emb.unionAll(
        emb.filter(col("vec_id") % 4 === 0)
          .select((col("vec_id") + 10000).as("vec_id"),
            expr("transform(embedding, x -> CAST(x * CAST(2.0 AS FLOAT) AS FLOAT))")
              .as("embedding")))
      Similarity.semanticDedup(corpus, "vec_id", "embedding",
          nClusters = 8, threshold = 0.95)
        .orderBy("id")
    }),

    // TEXT NORMALIZATION: the stage-zero of every curation pipeline —
    // Unicode NFC (composed/decomposed accents must hash identically
    // before any exact or shingle dedup), C0/DEL control-char strip,
    // space/tab-run collapse, trim. NFC runs through the native
    // codegen UnicodeNormalize expression (Spark has no built-in;
    // quick-check fast path returns already-normalized — i.e. nearly
    // all — rows without copying), the rest are codegen'd regexes:
    // fully row-local, zero shuffle before the output sort. The corpus
    // is ASCII, so non-NFC input (combining accent), control bytes and
    // whitespace runs are PLANTED deterministically — the key
    // exercises real normalization, not identity.
    "ext_text_normalize" -> ((s, d) => {
      val raw = concat(col("text"),
        when(col("doc_id") % 3 === 0, lit(" cafe\u0301")).otherwise(lit("")),
        when(col("doc_id") % 4 === 0, lit("a\u0007\u0001b")).otherwise(lit("")),
        when(col("doc_id") % 2 === 0, lit("  x\t\ty ")).otherwise(lit("")))
      val nfc = graft.functions.UnicodeNormalize
        .nfc_normalize(raw)
      val noCtl = regexp_replace(nfc,
        "[\\x01-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", "")
      val collapsed = trim(regexp_replace(noCtl, "[ \\t]+", " "))
      t("documents")(s, d)
        .select(col("doc_id"), collapsed.as("norm_text"),
          (collapsed =!= col("text")).as("changed"))
        .orderBy("doc_id")
    }),

    // text quality scoring: single scan, all metrics codegen'd
    "ext_text_quality" -> ((s, d) =>
      t("documents")(s, d)
        .withColumn("toks", expr("split(trim(text), '\\\\s+')"))
        // raw per-row doubles: identical IEEE ops match bitwise across
        // engines, while round() at half-boundaries does not
        .select(col("doc_id"),
          length(col("text")).as("n_chars_m"),
          size(col("toks")).as("n_tokens"),
          (length(col("text")).cast("double") / size(col("toks")))
            .as("avg_tok_len"),
          expr("size(filter(toks, x -> x IN ('the', 'a', 'of', 'and', 'is')))")
            .as("n_stop"),
          expr("size(filter(toks, x -> x IN ('the', 'a', 'of', 'and', 'is'))) / CAST(size(toks) AS DOUBLE)")
            .as("stop_ratio"))
        .orderBy("doc_id")),

    // C4-style quality GATE — the actionable form of ext_text_quality:
    // apply token-count / token-shape / stopword-ratio thresholds
    // row-locally and emit a keep flag plus the FIRST failing reason
    // (ordered checks, deterministic). Pure projection: codegen'd,
    // no shuffle, the 100 TB filter that runs ahead of every
    // expensive dedup/embedding stage.
    "ext_quality_filter" -> ((s, d) =>
      // stats + gate come from Curation — the SAME definitions the
      // composed ext_curation_pipeline runs, so key and pipeline
      // cannot drift. Per-row computed doubles ship RAW (identical
      // IEEE ops match bitwise; round() at half-boundaries does not).
      Curation.qualityStats(t("documents")(s, d))
        .withColumn("drop_reason", Curation.dropReason(Curation.Config()))
        .select(col("doc_id"), col("n_tokens"),
          col("avg_tok_len"), col("stop_ratio"),
          (col("drop_reason") === "kept").as("keep"), col("drop_reason"))
        .orderBy("doc_id")),

    // n-gram-marker language ID heuristic (deterministic argmax)
    "ext_lang_id" -> ((s, d) =>
      t("documents")(s, d)
        .withColumn("toks", expr("split(lower(trim(text)), '\\\\s+')"))
        .withColumn("c_en", expr("size(filter(toks, x -> x IN ('the', 'and', 'of', 'is')))"))
        .withColumn("c_de", expr("size(filter(toks, x -> x IN ('der', 'die', 'und', 'ist')))"))
        .withColumn("c_fr", expr("size(filter(toks, x -> x IN ('le', 'la', 'et', 'est')))"))
        .withColumn("c_es", expr("size(filter(toks, x -> x IN ('el', 'los', 'y', 'es')))"))
        .select(col("doc_id"), col("c_en"), col("c_de"), col("c_fr"), col("c_es"),
          expr("""CASE WHEN c_en >= c_de AND c_en >= c_fr AND c_en >= c_es THEN 'en'
                       WHEN c_de >= c_fr AND c_de >= c_es THEN 'de'
                       WHEN c_fr >= c_es THEN 'fr'
                       ELSE 'es' END""").as("pred_lang"))
        .orderBy("doc_id")),

    // character-level Shannon entropy per document — the classic cheap
    // quality/compressibility signal (gibberish and boilerplate score
    // low). Entirely row-local higher-order expressions: one scan, no
    // shuffle. The fold runs over SORTED distinct characters so the
    // floating-point summation order is identical in both engines.
    "ext_text_entropy" -> ((s, d) =>
      t("documents")(s, d)
        .select(col("doc_id"), lower(col("text")).as("t"))
        .filter(length(col("t")) >= 1)
        .withColumn("cs",
          expr("transform(sequence(1, length(t)), i -> substring(t, i, 1))"))
        .select(col("doc_id"),
          round(expr(
            """aggregate(
                 transform(array_sort(array_distinct(cs)),
                   c -> size(filter(cs, x -> x = c)) / CAST(size(cs) AS DOUBLE)),
                 0D, (acc, p) -> acc - p * log2(p))"""), 6).as("entropy"))
        .orderBy("doc_id")),

    // token counting: whitespace + BPE-ish estimate (chars/4)
    "ext_token_count" -> ((s, d) =>
      t("documents")(s, d).select(col("doc_id"),
        expr("size(split(trim(text), '\\\\s+'))").as("n_ws_tokens"),
        length(col("text")).as("n_chars_m"),
        ceil(length(col("text")).cast("double") / 4.0).cast("int").as("n_bpe_est"),
        // GPT-2-style pre-tokenizer segments (the BPE-ish count): a
        // codegen'd regexp_count, row-local, portable Unicode classes
        regexp_count(col("text"),
          lit(" ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"))
          .cast("int").as("n_bpe_tokens"))
        .orderBy("doc_id")),

    // document fingerprinting: md5 over whitespace-normalized text
    "ext_fingerprint" -> ((s, d) =>
      t("documents")(s, d).select(col("doc_id"),
        md5(regexp_replace(lower(col("text")), "\\s+", " ")).as("fp_full"),
        md5(substring(regexp_replace(lower(col("text")), "\\s+", " "), 1, 100))
          .as("fp_head"))
        .orderBy("doc_id")),

    // MinHash LSH near-dup dedup (graft.ops.Dedup): corpus = documents
    // plus a mutated copy of every 4th doc (planted near-dups at
    // Jaccard ≈ 0.9+). LSH banding finds candidates, exact Jaccard
    // verifies — with the corpus's wide gap (planted ≈ 0.9 vs background
    // ≤ 0.15) the LSH output equals the exact-threshold oracle.
    "ext_dedup_minhash" -> ((s, d) => {
      val docs = t("documents")(s, d).filter(col("doc_id") < 250)
        .select(col("doc_id"), col("text"))
      val corpus = docs.unionAll(
        docs.filter(col("doc_id") % 4 === 0)
          .select((col("doc_id") + 10000).as("doc_id"),
            concat(col("text"), lit(" zzz")).as("text")))
      // 32 hashes / 8 bands: recall at the planted gap (j≈0.9 vs ≤0.15)
      // is 1-(1-0.9⁴)⁸ ≈ 0.9998 — same output, half the codegen width.
      // Skew guards active (hot shingles dropped from signatures,
      // oversized band buckets dropped): no-ops on this corpus's
      // result (planted pairs share ≥50 rare shingles), hard bounds
      // at corpus scale.
      Dedup.minHashPairs(corpus, "doc_id", "text", numHashes = 32, bands = 8,
        maxShingleDf = 150, maxBucket = 64)
        .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id1", "id2")
    }),

    // Repeated-substring SPAN detection (Lee et al. 2021 style,
    // k-gram anchored — Dedup.duplicateSpans): corpus = documents plus
    // an injected copy of every 5th doc behind a fixed 6-word
    // preamble. The copied body surfaces as one long merged span in
    // BOTH the original and the copy; the preamble — identical across
    // all injected docs — yields only a 6-token island, below the
    // 10-token floor, pinning the threshold behavior in the oracle.
    "ext_dedup_spans" -> ((s, d) => {
      val docs = t("documents")(s, d).select(col("doc_id"), col("text"))
      val corpus = docs.unionAll(
        docs.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 20000).as("doc_id"),
            concat(lit("injected preamble marker one two three "),
              col("text")).as("text")))
      Dedup.duplicateSpans(corpus, "doc_id", "text", k = 5,
          minSpanTokens = 10)
        .select(col("id").as("doc_id"), col("n_spans"),
          col("dup_tokens"), col("max_span"))
        .orderBy("doc_id")
    }),

    // BENCH-scale brute-force cosine top-k over the materialized
    // ~100k-vector expanded corpus (fused codegen kernel) — the exact
    // baseline the indexed probe below is measured against. Rows-only
    // (derived corpus, no DuckDB analog); recall of the indexed probe
    // vs this exact scan is bounded in SimilaritySpec on the raw table.
    "ext_sim_search_full" -> ((s, d) => {
      val emb = t("embeddings")(s, d)
      val q: Seq[Float] = emb.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0)
      Similarity.bruteForceTopK(s.read.parquet(expandedEmbDir(s, d)),
          "vec_id", "embedding", q, k = 10)
        .select(col("vec_id"), round(col("sim"), 6).as("sim"))
        .orderBy(desc("sim"), asc("vec_id"))
    }),

    // BENCH-scale indexed ANN over the same expanded corpus: 64-cell
    // IVF index built once (memoized), probe scans the 6 best cells —
    // a partition-pruned read of ~9% of the corpus. THIS pair of keys
    // is where "indexed probe beats brute force" becomes a measured
    // number instead of an asymptotic claim; at the raw 5k-vector
    // table both sides are Spark job overhead.
    "ext_sim_search_ivf_indexed_full" -> ((s, d) => {
      val emb = t("embeddings")(s, d)
      val q: Seq[Float] = emb.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0)
      val dir = expandedEmbDir(s, d)
      val idx = ivfFullIndexFor(s, d)
      Similarity.ivfProbe(s, idx, "vec_id", "embedding", q, k = 10, nProbe = 6)
        .select(col("vec_id"), round(col("sim"), 6).as("sim"))
        .orderBy(desc("sim"), asc("vec_id"))
    }),

    // BENCH-scale variant of ext_dedup_minhash: the FULL documents
    // table (5,000 rows at sf0.1) + a mutated copy of every 4th doc —
    // no doc_id cap. The capped sibling key exists because its
    // oracle (an O(n²) recursive exact-Jaccard) is only tractable on a
    // sliver; this key is what the 100 TB plan actually runs, so the
    // BENCH headline measures IT: census, banding, bucket caps, and
    // candidate verification at full corpus scale, not plan overhead
    // on 313 docs. Rows-only correctness (no oracle, by design);
    // planted-pair recall is asserted in QueriesSpec/DedupSpec.
    "ext_dedup_minhash_full" -> ((s, d) => {
      val docs = t("documents")(s, d).select(col("doc_id"), col("text"))
      val corpus = docs.unionAll(
        docs.filter(col("doc_id") % 4 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"),
            concat(col("text"), lit(" zzz")).as("text")))
      Dedup.minHashPairs(corpus, "doc_id", "text", numHashes = 32, bands = 8,
        maxShingleDf = 300, maxBucket = 64)
        .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id1", "id2")
    }),

    // duplicate CLUSTERS: near-dup pairs → connected components → each
    // doc labeled with its cluster representative (min id). The step a
    // real dedup pipeline runs after pair generation; oracle computes
    // the same reachability with a recursive CTE over the exact-Jaccard
    // pair graph.
    "ext_dedup_clusters" -> ((s, d) => {
      val docs = t("documents")(s, d).select(col("doc_id"), col("text"))
      val corpus = docs.unionAll(
        docs.filter(col("doc_id") % 4 === 0)
          .select((col("doc_id") + 10000).as("doc_id"),
            concat(col("text"), lit(" zzz")).as("text")))
      val pairs = Dedup.minHashPairs(corpus, "doc_id", "text",
          numHashes = 32, bands = 8, maxShingleDf = 300, maxBucket = 64)
        .select("id1", "id2")
      Dedup.components(pairs, corpus.select(col("doc_id").as("id")))
        .select(col("id").as("doc_id"), col("comp"))
        .orderBy("doc_id", "comp")
    }),

    // QUALITY-AWARE CANONICAL SELECTION: keep the best document per
    // near-dup cluster instead of an arbitrary/min-id representative —
    // the production dedup shape (drop the truncated/boilerplated
    // variants, keep the richest). Reuses the ext_dedup_clusters
    // pipeline; the selection is ONE hash aggregation over (comp,
    // quality, id) — max(struct(q, -id)) picks highest quality with
    // the smallest id breaking ties, no window sort, text never
    // shuffles past the cluster join.
    "ext_dedup_canonical" -> ((s, d) => {
      val docs = t("documents")(s, d).select(col("doc_id"), col("text"))
      val corpus = docs.unionAll(
        docs.filter(col("doc_id") % 4 === 0)
          .select((col("doc_id") + 10000).as("doc_id"),
            concat(col("text"), lit(" zzz")).as("text")))
      val pairs = Dedup.minHashPairs(corpus, "doc_id", "text",
          numHashes = 32, bands = 8, maxShingleDf = 300, maxBucket = 64)
        .select("id1", "id2")
      val comps = Dedup.components(pairs,
        corpus.select(col("doc_id").as("id")))
      corpus.join(comps, corpus("doc_id") === comps("id"))
        .select(col("comp"), col("doc_id"),
          length(col("text")).cast("long").as("q"))
        .groupBy("comp")
        .agg(max(struct(col("q"), (-col("doc_id")).as("nid"))).as("m"))
        .select(col("comp"), (-col("m.nid")).as("doc_id"),
          col("m.q").as("q"))
        .orderBy("comp")
    }),

    // NEAR-DUP SOFT WEIGHTS: the fuzzy twin of ext_dedup_weights —
    // weight every document by 1/|near-dup cluster| instead of
    // dropping all but one representative (SoftDeDup over MinHash
    // components). Reuses the exact ext_dedup_clusters pipeline
    // (banded candidates → exact-Jaccard verify → connected
    // components); the weights are one count window over the
    // (id, comp) pairs — the text never shuffles again.
    "ext_dedup_soft" -> ((s, d) => {
      val docs = t("documents")(s, d).select(col("doc_id"), col("text"))
      val corpus = docs.unionAll(
        docs.filter(col("doc_id") % 4 === 0)
          .select((col("doc_id") + 10000).as("doc_id"),
            concat(col("text"), lit(" zzz")).as("text")))
      val pairs = Dedup.minHashPairs(corpus, "doc_id", "text",
          numHashes = 32, bands = 8, maxShingleDf = 300, maxBucket = 64)
        .select("id1", "id2")
      val comp = Dedup.components(pairs,
        corpus.select(col("doc_id").as("id")))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("comp")
      comp.withColumn("n_members", count(lit(1)).over(w))
        .select(col("id").as("doc_id"), col("n_members"),
          (lit(1.0) / col("n_members")).as("weight"))
        .orderBy("doc_id")
    }),

    // SimHash signatures + near-dup pairs (rows-only: xxhash64 has no
    // DuckDB equivalent; determinism covered by DedupSpec)
    "ext_dedup_simhash" -> ((s, d) => {
      val docs = t("documents")(s, d).select(col("doc_id"), col("text"))
      val corpus = docs.unionAll(
        docs.filter(col("doc_id") % 4 === 0)
          .select((col("doc_id") + 10000).as("doc_id"),
            concat(col("text"), lit(" zzz")).as("text")))
      val sigs = Dedup.simHash(corpus, "doc_id", "text")
      Dedup.simHashPairs(sigs, maxDist = 3).orderBy("id1", "id2")
    }),

    // LSH-bucketed approximate top-k (rows-only: seeded hyperplanes;
    // recall vs brute force covered by SimilaritySpec)
    "ext_sim_search_lsh" -> ((s, d) => {
      val emb = t("embeddings")(s, d)
      val q: Seq[Float] = emb.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0)
      Similarity.lshTopK(emb.filter(col("vec_id") =!= 0),
          "vec_id", "embedding", q, k = 10, nBits = 8, probes = 2)
        .select(col("vec_id"), round(col("sim"), 6).as("sim"))
        .orderBy(desc("sim"), asc("vec_id"))
    }),

    // IVF-bucketed approximate top-k (rows-only: centroid assignment
    // has no DuckDB analog; recall bounded by SimilaritySpec)
    "ext_sim_search_ivf" -> ((s, d) => {
      val emb = t("embeddings")(s, d)
      val q: Seq[Float] = emb.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0)
      Similarity.ivfTopK(emb.filter(col("vec_id") =!= 0),
          "vec_id", "embedding", q, k = 10, nCentroids = 16, nProbe = 6)
        .select(col("vec_id"), round(col("sim"), 6).as("sim"))
        .orderBy(desc("sim"), asc("vec_id"))
    }),

    // materialized-index ANN (rows-only): build writes the corpus
    // partitionBy(cell), probe reads ≤ nProbe partitions (pruning
    // asserted in SimilaritySpec). The build is the one-time index
    // cost a standing corpus amortizes; at 100 TB the probe is the
    // only per-query scan.
    "ext_sim_search_ivf_indexed" -> ((s, d) => {
      val emb = t("embeddings")(s, d).select("vec_id", "embedding")
      val q: Seq[Float] = emb.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0)
      // built ONCE per (dataset, params) and memoized: a stable path
      // avoids the unbounded per-invocation index directories a UUID
      // path would leak, and the memo serializes concurrent
      // invocations of the same key (no overwrite race in-JVM)
      val idx = ivfIndexFor(s, d)
      Similarity.ivfProbe(s, idx, "vec_id", "embedding", q, k = 10, nProbe = 6)
        .select(col("vec_id"), round(col("sim"), 6).as("sim"))
        .orderBy(desc("sim"), asc("vec_id"))
    }),

    // the SCALE path for ext_knn_join: the same batch retrieval over
    // the materialized IVF index — probe cells rank row-local, the
    // exploded (probe, cell) set broadcasts, dynamic partition
    // pruning keeps the index scan to the ranked cells, GroupTopK
    // bounds the heaps. Approximate (nProbe of 16 cells) → rows-only;
    // recall vs the exact ext_knn_join is pinned in SimilaritySpec.
    // Probe-set members are excluded from candidates (self-match
    // filter), aligning the candidate corpus with ext_knn_join's.
    "ext_knn_join_ivf" -> ((s, d) => {
      val emb = t("embeddings")(s, d).select("vec_id", "embedding")
      val idx = ivfIndexFor(s, d)
      val probes = emb.filter(col("vec_id") % 97 === 0)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_emb"))
        // MEMORY_ONLY: evictable (see Dedup.exactJaccard); also keeps
        // the DPP subquery from re-printing a second probe-side scan
        .persistSlot("ext.knnJoinIvf.probes")
      Similarity.ivfKnnJoin(s, idx, probes, "probe_id", "probe_emb",
          k = 5, nProbe = 6,
          candidateFilter = Some(col("vec_id") % 97 =!= 0))
        .orderBy(asc("probe_id"), desc("sim"), asc("vec_id"))
    }),

    // BENCH-scale batch retrieval over the expanded corpus (~40k
    // vectors at sf0.1): the exact GroupTopK knn join vs the
    // DPP-pruned IVF variant — the pair that turns "the batch probe
    // prunes" into a measured number. ~180 probes (vec_id % 11): batch
    // retrieval's real regime is MANY probes, where scoring volume
    // (probes × corpus for brute force, probes × nProbe/nCells × corpus
    // for IVF) dominates — at a handful of probes both sides are
    // job-overhead-bound and the 10× candidate reduction is invisible.
    // rows-only (derived corpus).
    "ext_knn_join_full" -> ((s, d) => {
      val emb = t("embeddings")(s, d)
      // norm-hoist (guide §1.2 step 2): norms are per-row, so compute
      // the probe norm once per probe (inside the broadcast) and the
      // corpus norm once per corpus row, and give the probes×corpus
      // pair loop just the dot — a third of the fused kernel's flops
      // on the one genuinely compute-bound stage of this key.
      // Bit-identical for the uniform-dim corpus (see DotProduct).
      val probes = emb.filter(col("vec_id") % 11 === 0)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_emb"),
          graft.functions.GraftFunctions.vec_norm(col("embedding")).as("pnorm"))
        // MEMORY_ONLY: evictable (see Dedup.exactJaccard)
        .persistSlot("ext.knnJoinFull.probes")
      val scored = s.read.parquet(expandedEmbDir(s, d))
        .withColumn("cnorm",
          graft.functions.GraftFunctions.vec_norm(col("embedding")))
        .crossJoin(broadcast(probes))
        .select(col("probe_id"), col("vec_id"),
          round(graft.functions.GraftFunctions.cosine_from_norms(
            col("embedding"), col("probe_emb"),
            col("cnorm"), col("pnorm")), 6).as("sim"))
      graft.plans.GroupTopKOps.topK(scored, Seq("probe_id"),
          Seq("sim" -> true, "vec_id" -> false), 10)
        .orderBy(asc("probe_id"), desc("sim"), asc("vec_id"))
    }),

    "ext_knn_join_ivf_full" -> ((s, d) => {
      val emb = t("embeddings")(s, d)
      val dir = expandedEmbDir(s, d)
      val idx = ivfFullIndexFor(s, d)
      val probes = emb.filter(col("vec_id") % 11 === 0)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_emb"))
        // MEMORY_ONLY: evictable (see Dedup.exactJaccard)
        .persistSlot("ext.knnJoinIvfFull.probes")
      Similarity.ivfKnnJoin(s, idx, probes, "probe_id", "probe_emb",
          k = 10, nProbe = 6)
        .orderBy(asc("probe_id"), desc("sim"), asc("vec_id"))
    }),

    // the LSH twin of ext_knn_join_ivf: probes hash to their sign
    // bucket row-local and expand the Hamming-1 ball via a literal
    // mask array — no centroids, no retrain, append-stable buckets.
    // rows-only; recall + DPP pinned in SimilaritySpec.
    "ext_knn_join_lsh" -> ((s, d) => {
      val emb = t("embeddings")(s, d).select("vec_id", "embedding")
      val idx = lshIndexFor(s, d)
      val probes = emb.filter(col("vec_id") % 97 === 0)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_emb"))
        // MEMORY_ONLY: evictable (see Dedup.exactJaccard)
        .persistSlot("ext.knnJoinLsh.probes")
      Similarity.lshKnnJoin(s, idx, probes, "probe_id", "probe_emb",
          k = 5, radius = 2,
          candidateFilter = Some(col("vec_id") % 97 =!= 0))
        .orderBy(asc("probe_id"), desc("sim"), asc("vec_id"))
    }),

    "ext_sim_search_lsh_indexed" -> ((s, d) => {
      val emb = t("embeddings")(s, d).select("vec_id", "embedding")
      val q: Seq[Float] = emb.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0)
      val idx = lshIndexFor(s, d)
      Similarity.lshProbe(s, idx, "vec_id", "embedding", q, k = 10, probes = 2)
        .select(col("vec_id"), round(col("sim"), 6).as("sim"))
        .orderBy(desc("sim"), asc("vec_id"))
    }),

    // REAL multimodal decode (rows-only): each document is rendered to
    // an 8×8 PNG through the JDK's ImageIO codec (mapPartitions), then
    // DECODED BACK through the same codec — width/height/channel means
    // are genuine pixel statistics of a genuine binary image column,
    // deterministic because the pixels derive only from the text bytes
    "ext_multimodal_features" -> ((s, d) => {
      val media = Multimodal.asPngMedia(
        t("documents")(s, d), "doc_id", "text")
      Multimodal.decodeImageStats(media)
        .select(col("media_id"), col("width"), col("height"), col("channels"),
          round(col("mean_r"), 4).as("mean_r"),
          round(col("mean_g"), 4).as("mean_g"),
          round(col("mean_b"), 4).as("mean_b"),
          col("decoded"))
        .orderBy("media_id")
    }),

    // REAL image resize (rows-only): decode → box-filter area average
    // (exact integer block sums — no Graphics2D hint variance) →
    // PNG re-encode, all row-local in mapPartitions. The stage a
    // pipeline runs to normalize resolution BEFORE expensive
    // embedding/captioning; output payloads shrink quadratically.
    "ext_multimodal_resize" -> ((s, d) => {
      val media = Multimodal.asPngMedia(
        t("documents")(s, d), "doc_id", "text")
      Multimodal.resizeImages(media, 4, 4)
        .select(col("media_id"), col("width_in"), col("height_in"),
          col("width_out"), col("height_out"), col("n_bytes_out"),
          round(col("mean_r"), 4).as("mean_r"),
          round(col("mean_g"), 4).as("mean_g"),
          round(col("mean_b"), 4).as("mean_b"),
          col("decoded"))
        .orderBy("media_id")
    }),

    // perceptual image hashing (rows-only): decode → 8×8 box-filter
    // grayscale → 64-bit aHash, all row-local; deterministic because
    // the box filter uses exact integer area sums (no Graphics2D)
    "ext_multimodal_phash" -> ((s, d) => {
      val media = Multimodal.asPngMedia(
        t("documents")(s, d), "doc_id", "text")
      Multimodal.imagePhash(media).orderBy("media_id")
    }),

    // image near-dup (rows-only): phash banding (4×16-bit keys) →
    // capped bucket pairs → Hamming verify — the multimodal face of
    // the SimHash pipeline. The fixture plants exact image copies
    // (re-keyed +100000): every planted pair MUST surface at Hamming
    // 0, asserted in MultimodalSpec; the key returns the pair list
    "ext_image_neardup" -> ((s, d) => {
      val docs = t("documents")(s, d).select("doc_id", "text")
        .where(col("doc_id") < 300)
      val planted = docs.where(col("doc_id") < 30)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"))
      val media = Multimodal.asPngMedia(
        docs.unionAll(planted), "doc_id", "text")
      Multimodal.imageNearDup(media, maxHamming = 6)
        .orderBy("id1", "id2")
    }),

    // REAL audio decode (rows-only): each document is rendered to a
    // mono 16-bit PCM WAV through the JDK's javax.sound codec
    // (mapPartitions), then DECODED BACK through the same codec —
    // sample rate / frame count / RMS are genuine stats of a genuine
    // audio binary column, deterministic because the tone derives
    // only from (doc_id, text length)
    "ext_multimodal_audio" -> ((s, d) => {
      val media = Multimodal.asWavMedia(t("documents")(s, d), "doc_id", "text")
      Multimodal.decodeAudioStats(media)
        .select(col("media_id"), col("sample_rate"), col("channels"),
          col("bits"), col("n_frames"),
          round(col("duration_ms"), 3).as("duration_ms"),
          round(col("rms"), 2).as("rms"), col("decoded"))
        .orderBy("media_id")
    }),

    // embedding conditioning for ANN/index storage: L2-normalize (so
    // cosine = dot product) and symmetric int8 quantization (so a 64-d
    // float vector stores in 64 bytes + one scale). Row-local
    // higher-order expressions, no shuffle; floor-based quantization
    // avoids engine-specific round-half behavior. checksum = sum of
    // quantized codes (deterministic integer arithmetic).
    "ext_embed_normalize" -> ((s, d) =>
      t("embeddings")(s, d)
        .withColumn("nrm", expr(
          "sqrt(aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 0D, (acc, v) -> acc + v))"))
        .withColumn("maxabs", expr(
          "aggregate(transform(embedding, x -> abs(CAST(x AS DOUBLE))), 0D, (acc, v) -> greatest(acc, v))"))
        .select(col("vec_id"),
          round(col("nrm"), 6).as("nrm"),
          round(expr("CAST(element_at(embedding, 1) AS DOUBLE) / nrm"), 6).as("n0"),
          expr("""aggregate(transform(embedding,
                    x -> CAST(FLOOR(CAST(x AS DOUBLE) * 127.0 / maxabs) AS BIGINT)),
                  CAST(0 AS BIGINT), (acc, v) -> acc + v)""").as("q_checksum"))
        .orderBy("vec_id")),

    // benchmark decontamination: drop/flag training docs that share any
    // 8-gram shingle with the eval set (here: every 50th doc stands in
    // for the benchmark). The 100 TB shape: eval benchmarks are TINY
    // relative to the corpus, so their distinct shingles broadcast and
    // the contamination check is a broadcast semi-join — one corpus
    // scan, no shuffle of corpus shingles.
    "ext_decontaminate" -> ((s, d) => {
      val sh = Dedup.shingles(t("documents")(s, d), "doc_id", "text")
      val evalSh = sh.filter(col("id") % 50 === 0).select("s").distinct()
      sh.filter(col("id") % 50 =!= 0)
        .join(broadcast(evalSh), Seq("s"))
        .groupBy(col("id").as("doc_id"))
        .agg(countDistinct(col("s")).as("n_shared"))
        .select(col("doc_id"), col("n_shared"))
        .orderBy("doc_id")
    }),

    // decontamination ATTRIBUTION report: not just "doc is
    // contaminated" but WHICH eval doc it overlaps and by how many
    // distinct shingles — the audit trail a real decontamination run
    // files next to its drop list. Same broadcast shape as
    // ext_decontaminate (the eval side is bounded by construction);
    // the per-pair aggregate keys on (corpus doc, eval doc), so the
    // shuffle carries only matched shingle hits.
    "ext_decontaminate_report" -> ((s, d) => {
      val sh = Dedup.shingles(t("documents")(s, d), "doc_id", "text")
      val evalSh = sh.filter(col("id") % 50 === 0)
        .select(col("id").as("eval_id"), col("s")).distinct()
      sh.filter(col("id") % 50 =!= 0)
        .join(broadcast(evalSh), Seq("s"))
        .groupBy(col("id").as("doc_id"), col("eval_id"))
        .agg(countDistinct(col("s")).as("n_shared"))
        .filter(col("n_shared") >= 20)
        .orderBy("doc_id", "eval_id")
    }),

    // PII redaction: emails/phones replaced row-locally with typed
    // placeholder tokens (deterministic synthetic PII planted on every
    // 7th doc so the oracle sees identical input). Pure regex
    // projection — codegen'd, no shuffle, embarrassingly parallel at
    // any scale.
    "ext_pii_redact" -> ((s, d) => {
      // THE redaction rules — shared with Curation.Config so the
      // standalone key and the composed pipeline cannot drift
      val emailRe = Curation.Config().emailRe
      val phoneRe = Curation.Config().phoneRe
      t("documents")(s, d)
        .withColumn("txt", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" contact user"), col("doc_id"),
            lit("@example.com or 555-0142"))).otherwise(col("text")))
        .select(col("doc_id"),
          regexp_count(col("txt"), lit(emailRe)).as("n_email"),
          regexp_count(col("txt"), lit(phoneRe)).as("n_phone"),
          regexp_replace(regexp_replace(col("txt"), emailRe, "[EMAIL]"),
            phoneRe, "[PHONE]").as("red_text"))
        .orderBy("doc_id")
    }),

    // deterministic content-keyed train/val/test split: bucket by the
    // first hex char of md5(text) — 12/2/2 of 16. Content hashing (not
    // doc_id, not rand()) is what real pipelines use: the assignment
    // survives re-sharding, re-ordering, and re-ingestion, and
    // duplicate texts land in the SAME split (no eval leakage).
    // Row-local projection; no shuffle.
    "ext_split_hash" -> ((s, d) =>
      t("documents")(s, d)
        .withColumn("h", substring(md5(col("text")), 1, 1))
        .select(col("doc_id"),
          when(col("h").isin("c", "d"), "val")
            .when(col("h").isin("e", "f"), "test")
            .otherwise("train").as("split"))
        .orderBy("doc_id")),

    // sequence packing: assign docs to fixed token-budget bins (512)
    // by running prefix sum of whitespace token counts. Packing is
    // inherently sequential, so the 100 TB shape shards first (8
    // hash shards here) and packs WITHIN each shard — the window's
    // partition key — keeping every window state bounded and parallel
    // instead of one global running sum.
    "ext_seq_pack" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("shard").orderBy("doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      t("documents")(s, d)
        .select(col("doc_id"),
          pmod(col("doc_id"), lit(8)).as("shard"),
          expr("size(split(trim(text), '\\\\s+'))").as("n_tokens"))
        .withColumn("bin",
          floor(coalesce(sum(col("n_tokens")).over(w), lit(0L)) / 512).cast("long"))
        .orderBy("doc_id")
    }),

    // multimodal binary-column plumbing: opaque bytes + typed metadata;
    // decode/feature-extract stubs live in graft.ops.Multimodal
    "ext_multimodal_bin" -> ((s, d) =>
      t("documents")(s, d)
        .withColumn("bin", expr("encode(text, 'UTF-8')"))
        .select(col("doc_id"),
          expr("octet_length(bin)").as("n_bytes"),
          substring(hex(col("bin")), 1, 8).as("head_hex"),
          lit("text/plain").as("media_type"))
        .orderBy("doc_id")),

    // frame-sampling plumbing over the binary column (every stride-th
    // 16-byte block as a "frame"): the explode-to-(media, frame_idx)
    // shape real video frame extraction uses, with the block slice
    // standing in for the codec (none in this environment). The
    // arithmetic is deterministic, so unlike the codec stages this one
    // is fully oracle-verified.
    "ext_multimodal_frames" -> ((s, d) =>
      Multimodal.sampleFrames(
        Multimodal.asMedia(t("documents")(s, d), "doc_id", "text"))
        .orderBy("media_id", "frame_idx")),

    // The WHOLE curation pipeline as one declarative plan
    // (graft.ops.Curation): quality gate → exact dedup →
    // decontamination → PII redaction → content-keyed split, composed
    // from the individually-verified stages. Corpus has planted PII
    // (every 7th doc), planted re-crawled duplicates (every 10th,
    // re-ingested under a new id), and the eval set is every 50th doc
    // — so every stage provably removes/transforms something.
    "ext_curation_pipeline" -> ((s, d) => {
      val (corpus, evalSet) = curationFixture(s, d)
      Curation.curate(corpus, evalSet)
        .select(col("doc_id"), col("split"), col("n_tokens"),
          md5(col("red_text")).as("red_fp"))
        .orderBy("doc_id")
    }),

    // Per-stage accounting for the same pipeline (Curation.
    // stageOutcome): every input doc attributed to the single stage
    // that removed it, aggregated to stage counts — the observability
    // feed logged next to the curated output. Same planted corpus as
    // ext_curation_pipeline.
    "ext_curation_stats" -> ((s, d) => {
      val (corpus, evalSet) = curationFixture(s, d)
      Curation.stageOutcome(corpus, evalSet)
        .groupBy("stage_outcome").agg(count(lit(1)).as("n"))
        .orderBy("stage_outcome")
    }),

    // Line-level boilerplate removal (the CCNet/RefinedWeb pattern):
    // web pages repeat nav headers / cookie banners / footers across
    // millions of documents; drop any line whose corpus frequency
    // exceeds a threshold, keep each doc's unique content in order.
    // Structure is planted deterministically (docs are single-line)
    // so the oracle sees identical input: a global header on every
    // page, a banner on every 3rd, one of 5 footer variants.
    // Scale shape: the census shuffles 16-byte line DIGESTS (never
    // line text), the above-threshold hot set is by construction
    // small (boilerplate ≫ threshold, content ≪), so the removal
    // join is a broadcast anti-join — the full text never shuffles.
    "ext_dedup_lines" -> ((s, d) => {
      val pages = t("documents")(s, d).select(col("doc_id"),
        concat_ws("\n",
          lit("HEADER site navigation menu home about"),
          col("text"),
          when(col("doc_id") % 3 === 0, lit("COOKIE consent banner accept decline")),
          concat(lit("FOOTER copyright mirror "), (col("doc_id") % 5).cast("string"))
        ).as("page"))
      val lines = pages.select(col("doc_id"),
          size(split(col("page"), "\n")).as("n_lines"),
          posexplode(split(col("page"), "\n")).as(Seq("pos", "line")))
        .withColumn("lfp", md5(col("line")))
      val hot = lines.groupBy("lfp").agg(count(lit(1)).as("n"))
        .filter(col("n") > 10).select("lfp")
      lines.join(broadcast(hot), Seq("lfp"), "left_anti")
        .groupBy("doc_id")
        .agg(
          concat_ws("\n", transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            x => x.getField("line"))).as("clean_text"),
          count(lit(1)).cast("int").as("n_kept"),
          (first(col("n_lines")) - count(lit(1))).cast("int").as("n_removed"))
        .orderBy("doc_id")
    }),

    // Incremental dedup: ingest a new batch against the digest store
    // of an existing corpus — the steady-state form of exact dedup (a
    // growing corpus deduplicates each delivery, not the world from
    // scratch). New batch = 50 re-crawled copies of corpus docs plus
    // 100 genuinely new docs; survivors are exactly the new content.
    // Scale shape: a shuffled (NOT broadcast) anti-join on 16-byte
    // digests — the corpus side is the whole history and at 100 TB
    // lives as a materialized digest table that each delivery joins
    // against; the batch's text never shuffles, only its digests.
    "ext_dedup_incremental" -> ((s, d) => {
      val docs = t("documents")(s, d)
      val corpusFp = docs.filter(col("doc_id") < 400)
        .select(md5(col("text")).as("fp")).distinct()
      val newBatch = docs
        .filter(col("doc_id") % 8 === 0 && col("doc_id") < 400)
        .unionAll(docs.filter(col("doc_id") >= 400))
        .select((col("doc_id") + 10000).as("doc_id"), md5(col("text")).as("fp"))
      newBatch.join(corpusFp, Seq("fp"), "left_anti")
        .select("doc_id", "fp")
        .orderBy("doc_id")
    }),

    // SOFT DEDUPLICATION (reweighting): instead of dropping exact
    // duplicates, every document carries training weight
    // 1/|duplicate group| — duplicated content stops dominating the
    // loss while the corpus distribution survives (the SoftDeDup
    // alternative to hard dropping). Corpus plants dup groups of size
    // 2 and 3. ONE shuffle of (doc_id, 16-byte digest) pairs for the
    // count window; the text itself never moves.
    "ext_dedup_weights" -> ((s, d) => {
      val docs = t("documents")(s, d)
      val corpus = docs.select(col("doc_id"), col("text"))
        .unionAll(docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 10000).as("doc_id"), col("text")))
        .unionAll(docs.filter(col("doc_id") % 20 === 0)
          .select((col("doc_id") + 20000).as("doc_id"), col("text")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(unhex(md5(col("text"))))
      corpus
        .withColumn("n_copies", count(lit(1)).over(w))
        .select(col("doc_id"), col("n_copies"),
          (lit(1.0) / col("n_copies")).as("weight"))
        .orderBy("doc_id")
    }),

    // DOMAIN-BLOCKLIST CURATION: the C4/RefinedWeb first pass — parse
    // the registrable domain out of each document's URL row-locally
    // and gate against a broadcast blocklist. The corpus has no URL
    // column, so one is synthesized from (source, doc_id) as in
    // ext_dedup_url. Zero shuffle before the output sort: the
    // blocklist is a tiny isin literal (a broadcast join at real
    // blocklist sizes), the domain parse is a codegen regex.
    "ext_domain_filter" -> ((s, d) => {
      val url = concat(lit("https://www."), col("source"),
        lit(".example.com"), lit("/docs/"), col("doc_id").cast("string"))
      val host = regexp_extract(url, "^https?://([^/]+)", 1)
      val domain = regexp_replace(host, "^www\\.", "")
      val blocked = Seq("src3.example.com", "src7.example.com",
        "src13.example.com")
      t("documents")(s, d)
        .withColumn("domain", domain)
        .select(col("doc_id"), col("domain"),
          (!col("domain").isin(blocked: _*)).as("kept"))
        .orderBy("doc_id")
    }),

    // BLOOM-PREFILTERED incremental exact dedup: same contract as
    // ext_dedup_incremental, different 100 TB shape — the digest
    // store folds once into a Bloom sketch (Spark's runtime-filter
    // BloomFilterAggregate) that every task tests MAP-SIDE, so
    // sketch-negative batch rows (definitely new; Bloom has no false
    // negatives) admit without the store join and only the
    // maybe-sliver pays the exact anti-join. Output is EXACT — the
    // oracle is the plain anti-join.
    "ext_dedup_bloom" -> ((s, d) => {
      val docs = t("documents")(s, d)
      val path = annIndex.computeIfAbsent(s"bloomstore_${TableIds.idFor(d)}",
        key => Dedup.buildDigestStore(docs.filter(col("doc_id") < 400),
          "text", s"target/ann_index/$key")).asInstanceOf[String]
      val batch = docs.filter(col("doc_id") % 8 === 0 && col("doc_id") < 400)
        .unionAll(docs.filter(col("doc_id") >= 400))
        .select((col("doc_id") + 10000).as("doc_id"), col("text"))
      Dedup.digestStoreFilterBloom(s, path, batch, "doc_id", "text")
        .select(col("doc_id"), lower(hex(col("fp"))).as("fp"))
        .orderBy("doc_id")
    }),

    // incremental FUZZY dedup: near-dups of a NEW batch against a
    // corpus whose MinHash band index was built ONCE and materialized
    // (Dedup.buildMinHashIndex). The corpus is never re-shingled or
    // re-shuffled per batch — the batch's band keys join the flat
    // (id, band, h) index, and exact-Jaccard verification touches only
    // the candidate sliver of the corpus. Batch = mutated copies of
    // every 5th corpus doc (planted near-dups, j ≈ 0.95) plus fresh
    // docs (planted non-matches). Oracle recomputes exact cross
    // Jaccard; LSH recall at the planted gap is ≈ 1 (32 hashes /
    // 8 bands, same envelope as ext_dedup_minhash).
    "ext_dedup_incr_fuzzy" -> ((s, d) => {
      val docs = t("documents")(s, d)
      val corpus = docs.filter(col("doc_id") < 300)
        .select(col("doc_id"), col("text"))
      val batch = docs.filter(col("doc_id") % 5 === 0 && col("doc_id") < 300)
        .select((col("doc_id") + 20000).as("doc_id"),
          concat(col("text"), lit(" qqq")).as("text"))
        .unionAll(docs.filter(col("doc_id") >= 300 && col("doc_id") < 350)
          .select((col("doc_id") + 20000).as("doc_id"), col("text")))
      val idx = annIndex.computeIfAbsent(s"mh_${TableIds.idFor(d)}",
        key => Dedup.buildMinHashIndex(corpus, "doc_id", "text",
          s"target/ann_index/$key", numHashes = 32, bands = 8))
        .asInstanceOf[Dedup.MinHashIndex]
      Dedup.minHashProbe(s, idx, corpus, batch, "doc_id", "text",
          threshold = 0.5)
        .select(col("corpus_id"), col("batch_id"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy("corpus_id", "batch_id")
    }),

    // incremental fuzzy dedup at BENCH scale: the band index covers
    // the FULL corpus (built once in the bench warm-up, like the ANN
    // indexes), the probe batch stays small. The 100 TB claim this
    // measures: a probe pays for ITS OWN shingles plus the
    // candidate sliver the band join selects — never for the corpus,
    // whose index was built once at ingest.
    "ext_dedup_incr_fuzzy_full" -> ((s, d) => {
      val docs = t("documents")(s, d).select(col("doc_id"), col("text"))
      val batch = docs.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 900000).as("doc_id"),
          concat(col("text"), lit(" qq")).as("text"))
      Dedup.minHashProbe(s, fullMinHashIndexFor(s, d), docs, batch,
          "doc_id", "text", threshold = 0.5)
        .select(col("corpus_id"), col("batch_id"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy("corpus_id", "batch_id")
    }),
  )

  val oracle: Map[String, String] = Map(
    "ext_dedup_exact" ->
      """SELECT doc_id, n_copies FROM (
           SELECT MIN(doc_id) AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_copies
           FROM (SELECT doc_id, text FROM documents
                 UNION ALL SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0)
           GROUP BY text)
         ORDER BY doc_id""",
    "ext_dedup_url" ->
      """WITH u AS (
           SELECT doc_id,
             (CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://WWW.' ELSE 'https://www.' END
              || source || '.Example.COM'
              || CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END
              || '/docs/' || CAST(doc_id % 100 AS VARCHAR)
              || CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END
              || CASE WHEN doc_id % 5 = 0 THEN '?utm_source=feed&utm_campaign=c1&ref=r' ELSE '?ref=r' END
              || CASE WHEN doc_id % 7 = 0 THEN '#section-2' ELSE '' END) AS url
           FROM documents),
         nf AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS nfu FROM u),
         parts AS (
           SELECT doc_id,
             lower(regexp_extract(nfu, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
             lower(regexp_extract(nfu, '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1)) AS host,
             regexp_extract(nfu, '^[A-Za-z][A-Za-z0-9+.-]*://[^/:?#]+:([0-9]+)', 1) AS port,
             regexp_replace(regexp_extract(nfu,
               '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1), '/+$', '') AS path,
             array_to_string(list_filter(
               string_split(regexp_extract(nfu, '\?(.*)$', 1), '&'),
               p -> NOT starts_with(p, 'utm_') AND p <> ''), '&') AS q
           FROM nf),
         canon AS (
           SELECT doc_id, scheme || '://' || host ||
             CASE WHEN port <> '' AND NOT (scheme = 'https' AND port = '443')
                    AND NOT (scheme = 'http' AND port = '80')
                  THEN ':' || port ELSE '' END || path ||
             CASE WHEN q <> '' THEN '?' || q ELSE '' END AS canonical_url
           FROM parts)
         SELECT canonical_url, MIN(doc_id) AS keeper,
                CAST(COUNT(*) AS BIGINT) AS n
         FROM canon GROUP BY canonical_url ORDER BY canonical_url""",
    "ext_dedup_ngram" ->
      """WITH docs AS (SELECT doc_id, LOWER(text) AS t FROM documents WHERE doc_id < 100),
         sh AS (SELECT DISTINCT doc_id, SUBSTR(t, g.g, 8) AS s
                FROM docs, (SELECT UNNEST(GENERATE_SERIES(1, 10000)) AS g) g
                WHERE g.g <= LENGTH(t) - 7),
         cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
         inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
                   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
         SELECT d1, d2, ROUND(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 6) AS jaccard
         FROM inter
         JOIN cnt ca ON ca.doc_id = d1
         JOIN cnt cb ON cb.doc_id = d2
         WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.09
         ORDER BY d1, d2""",
    // same gram/island/threshold pipeline over gram STRINGS (the Spark
    // side shuffles xxhash64 of the same strings — equality semantics
    // match modulo astronomically-unlikely 64-bit collisions);
    // GENERATE_SERIES is BIGINT in DuckDB, so pos is cast to INTEGER
    // to mirror Spark's int positions
    "ext_dedup_spans" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 20000,
                  'injected preamble marker one two three ' || text
           FROM documents WHERE doc_id % 5 = 0),
         words AS (SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS w
                   FROM corpus),
         grams AS (SELECT doc_id, CAST(g AS INTEGER) AS pos,
                          ARRAY_TO_STRING(w[g:g+4], ' ') AS gram
                   FROM words,
                        (SELECT UNNEST(GENERATE_SERIES(1, 2000)) AS g) t(g)
                   WHERE g <= LEN(w) - 4),
         dup AS (SELECT gram FROM grams GROUP BY gram HAVING COUNT(*) >= 2),
         cov AS (SELECT doc_id, pos FROM grams
                 WHERE gram IN (SELECT gram FROM dup)),
         isl AS (SELECT doc_id, pos,
                        CASE WHEN pos - LAG(pos) OVER
                               (PARTITION BY doc_id ORDER BY pos) <= 5
                             THEN 0 ELSE 1 END AS f
                 FROM cov),
         grp AS (SELECT doc_id, pos,
                        SUM(f) OVER (PARTITION BY doc_id ORDER BY pos) AS g
                 FROM isl),
         runs AS (SELECT doc_id, g,
                         MAX(pos) - MIN(pos) + 5 AS span_tokens
                  FROM grp GROUP BY doc_id, g
                  HAVING MAX(pos) - MIN(pos) + 5 >= 10)
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
                CAST(SUM(span_tokens) AS BIGINT) AS dup_tokens,
                MAX(span_tokens) AS max_span
         FROM runs GROUP BY doc_id ORDER BY doc_id""",

    "ext_dedup_minhash" ->
      """WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 250),
         corpus AS (SELECT doc_id, text FROM base
                    UNION ALL
                    SELECT doc_id + 10000, text || ' zzz' FROM base WHERE doc_id % 4 = 0),
         docs AS (SELECT doc_id, LOWER(text) AS t FROM corpus),
         sh AS (SELECT DISTINCT doc_id, SUBSTR(t, g.g, 8) AS s
                FROM docs, (SELECT UNNEST(GENERATE_SERIES(1, 10000)) AS g) g
                WHERE g.g <= LENGTH(t) - 7),
         cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
         inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS i
                   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
         SELECT id1, id2, ROUND(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 6) AS jaccard
         FROM inter
         JOIN cnt ca ON ca.doc_id = id1
         JOIN cnt cb ON cb.doc_id = id2
         WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.5
         ORDER BY id1, id2""",
    "ext_dedup_clusters" ->
      """WITH RECURSIVE corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 10000, text || ' zzz' FROM documents WHERE doc_id % 4 = 0),
         docs AS (SELECT doc_id, LOWER(text) AS t FROM corpus),
         sh AS (SELECT DISTINCT doc_id, SUBSTR(t, g.g, 8) AS s
                FROM docs, (SELECT UNNEST(GENERATE_SERIES(1, 10000)) AS g) g
                WHERE g.g <= LENGTH(t) - 7),
         cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
         inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS i
                   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         pairs AS (SELECT id1, id2 FROM inter
                   JOIN cnt ca ON ca.doc_id = id1
                   JOIN cnt cb ON cb.doc_id = id2
                   WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.5),
         edges AS (SELECT id1 AS a, id2 AS b FROM pairs
                   UNION ALL SELECT id2, id1 FROM pairs),
         r(id, l) AS (
           SELECT doc_id, doc_id FROM corpus
           UNION
           SELECT e.a, r.l FROM edges e JOIN r ON r.id = e.b)
         SELECT id AS doc_id, CAST(MIN(l) AS BIGINT) AS comp
         FROM r GROUP BY id ORDER BY doc_id, comp""",

    "ext_dedup_canonical" ->
      """WITH RECURSIVE corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 10000, text || ' zzz' FROM documents WHERE doc_id % 4 = 0),
         docs AS (SELECT doc_id, LOWER(text) AS t FROM corpus),
         sh AS (SELECT DISTINCT doc_id, SUBSTR(t, g.g, 8) AS s
                FROM docs, (SELECT UNNEST(GENERATE_SERIES(1, 10000)) AS g) g
                WHERE g.g <= LENGTH(t) - 7),
         cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
         inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS i
                   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         pairs AS (SELECT id1, id2 FROM inter
                   JOIN cnt ca ON ca.doc_id = id1
                   JOIN cnt cb ON cb.doc_id = id2
                   WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.5),
         edges AS (SELECT id1 AS a, id2 AS b FROM pairs
                   UNION ALL SELECT id2, id1 FROM pairs),
         r(id, l) AS (
           SELECT doc_id, doc_id FROM corpus
           UNION
           SELECT e.a, r.l FROM edges e JOIN r ON r.id = e.b),
         comps AS (SELECT id AS doc_id, CAST(MIN(l) AS BIGINT) AS comp
                   FROM r GROUP BY id),
         scored AS (SELECT comps.comp, corpus.doc_id,
                           CAST(LENGTH(corpus.text) AS BIGINT) AS q
                    FROM corpus JOIN comps ON comps.doc_id = corpus.doc_id)
         SELECT comp, doc_id, q FROM (
           SELECT comp, doc_id, q,
                  ROW_NUMBER() OVER (PARTITION BY comp
                                     ORDER BY q DESC, doc_id ASC) AS rn
           FROM scored) WHERE rn = 1 ORDER BY comp""",

    "ext_dedup_soft" ->
      """WITH RECURSIVE corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 10000, text || ' zzz' FROM documents WHERE doc_id % 4 = 0),
         docs AS (SELECT doc_id, LOWER(text) AS t FROM corpus),
         sh AS (SELECT DISTINCT doc_id, SUBSTR(t, g.g, 8) AS s
                FROM docs, (SELECT UNNEST(GENERATE_SERIES(1, 10000)) AS g) g
                WHERE g.g <= LENGTH(t) - 7),
         cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
         inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS i
                   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         pairs AS (SELECT id1, id2 FROM inter
                   JOIN cnt ca ON ca.doc_id = id1
                   JOIN cnt cb ON cb.doc_id = id2
                   WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.5),
         edges AS (SELECT id1 AS a, id2 AS b FROM pairs
                   UNION ALL SELECT id2, id1 FROM pairs),
         r(id, l) AS (
           SELECT doc_id, doc_id FROM corpus
           UNION
           SELECT e.a, r.l FROM edges e JOIN r ON r.id = e.b),
         comp AS (
           SELECT id AS doc_id, MIN(l) AS comp FROM r GROUP BY id)
         SELECT doc_id,
           CAST(COUNT(*) OVER (PARTITION BY comp) AS BIGINT) AS n_members,
           CAST(1.0 AS DOUBLE) /
             COUNT(*) OVER (PARTITION BY comp) AS weight
         FROM comp ORDER BY doc_id""",

    "ext_knn_join" ->
      """WITH probes AS (
           SELECT vec_id AS probe_id, embedding AS pe
           FROM embeddings WHERE vec_id % 97 = 0),
         scored AS (
           SELECT probe_id, vec_id, ROUND(
             list_aggregate(list_apply(list_zip(embedding, pe),
               z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), 'sum') /
             (SQRT(list_aggregate(list_apply(embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) *
              SQRT(list_aggregate(list_apply(pe,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))), 6) AS sim
           FROM embeddings, probes WHERE vec_id % 97 != 0)
         SELECT probe_id, vec_id, sim FROM (
           SELECT probe_id, vec_id, sim,
             ROW_NUMBER() OVER (PARTITION BY probe_id
               ORDER BY sim DESC, vec_id) AS rn
           FROM scored) WHERE rn <= 5
         ORDER BY probe_id, sim DESC, vec_id""",
    "ext_sim_search" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         SELECT vec_id, ROUND(
           list_aggregate(list_apply(list_zip(embedding, qe),
             z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), 'sum') /
           (SQRT(list_aggregate(list_apply(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) *
            SQRT(list_aggregate(list_apply(qe,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))), 6) AS sim
         FROM embeddings, q WHERE vec_id != 0
         ORDER BY sim DESC, vec_id LIMIT 10""",
    "ext_cluster_assign" ->
      """WITH seeds AS (
           SELECT vec_id AS seed, embedding AS se FROM embeddings
           WHERE vec_id IN (7, 113, 211, 331)),
         scored AS (
           SELECT e.vec_id, s.seed, ROUND(
             list_aggregate(list_apply(list_zip(e.embedding, s.se),
               z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), 'sum') /
             (SQRT(list_aggregate(list_apply(e.embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) *
              SQRT(list_aggregate(list_apply(s.se,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))), 6) AS sim
           FROM embeddings e, seeds s),
         best AS (
           SELECT vec_id, seed, sim, ROW_NUMBER() OVER
             (PARTITION BY vec_id ORDER BY sim DESC, seed ASC) AS rn
           FROM scored)
         SELECT vec_id, seed AS cluster, sim FROM best WHERE rn = 1
         ORDER BY vec_id""",
    "ext_cluster_stats" ->
      """WITH seeds AS (
           SELECT vec_id AS seed, embedding AS se FROM embeddings
           WHERE vec_id IN (7, 113, 211, 331)),
         scored AS (
           SELECT e.vec_id, s.seed, ROUND(
             list_aggregate(list_apply(list_zip(e.embedding, s.se),
               z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), 'sum') /
             (SQRT(list_aggregate(list_apply(e.embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) *
              SQRT(list_aggregate(list_apply(s.se,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))), 6) AS sim
           FROM embeddings e, seeds s),
         best AS (
           SELECT vec_id, seed, sim, ROW_NUMBER() OVER
             (PARTITION BY vec_id ORDER BY sim DESC, seed ASC) AS rn
           FROM scored)
         SELECT seed AS cluster, CAST(COUNT(*) AS BIGINT) AS n,
                ROUND(AVG(sim), 6) AS avg_sim,
                MIN(sim) AS min_sim, MAX(sim) AS max_sim
         FROM best WHERE rn = 1 GROUP BY seed ORDER BY seed""",
    "ext_cluster_balance" ->
      """WITH seeds AS (
           SELECT vec_id AS seed, embedding AS se FROM embeddings
           WHERE vec_id IN (7, 113, 211, 331)),
         scored AS (
           SELECT e.vec_id, s.seed, ROUND(
             list_aggregate(list_apply(list_zip(e.embedding, s.se),
               z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), 'sum') /
             (SQRT(list_aggregate(list_apply(e.embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) *
              SQRT(list_aggregate(list_apply(s.se,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))), 6) AS sim
           FROM embeddings e, seeds s),
         best AS (
           SELECT vec_id, seed, sim, ROW_NUMBER() OVER
             (PARTITION BY vec_id ORDER BY sim DESC, seed ASC) AS rn
           FROM scored),
         assigned AS (
           SELECT vec_id, seed AS cluster,
             md5(CAST(vec_id AS VARCHAR)) AS rk
           FROM best WHERE rn = 1),
         ranked AS (
           SELECT vec_id, cluster, rk, ROW_NUMBER() OVER
             (PARTITION BY cluster ORDER BY rk, vec_id) AS rn
           FROM assigned)
         SELECT vec_id, cluster, rk FROM ranked WHERE rn <= 60
         ORDER BY cluster, rk, vec_id""",
    "ext_sim_search_native" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         SELECT vec_id, ROUND(
           list_aggregate(list_apply(list_zip(embedding, qe),
             z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), 'sum') /
           (SQRT(list_aggregate(list_apply(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) *
            SQRT(list_aggregate(list_apply(qe,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))), 6) AS sim
         FROM embeddings, q WHERE vec_id != 0
         ORDER BY sim DESC, vec_id LIMIT 10""",
    "ext_decontaminate_semantic" ->
      """WITH ev AS (
           SELECT vec_id AS eval_id, embedding AS ee
           FROM embeddings WHERE vec_id % 53 = 0),
         corpus AS (
           SELECT vec_id, embedding FROM embeddings WHERE vec_id % 53 != 0
           UNION ALL
           SELECT vec_id + 20000,
             list_apply(embedding, x -> CAST(x * CAST(2.0 AS FLOAT) AS FLOAT))
           FROM embeddings WHERE vec_id % 53 = 0 AND vec_id % 106 != 0),
         scored AS (
           SELECT vec_id, eval_id, ROUND(
             list_aggregate(list_apply(list_zip(embedding, ee),
               z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), 'sum') /
             (SQRT(list_aggregate(list_apply(embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) *
              SQRT(list_aggregate(list_apply(ee,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))), 6) AS sim
           FROM corpus, ev)
         SELECT vec_id, eval_id, sim FROM (
           SELECT vec_id, eval_id, sim,
             ROW_NUMBER() OVER (PARTITION BY vec_id
               ORDER BY sim DESC, eval_id DESC) AS rn
           FROM scored WHERE sim >= 0.85)
         WHERE rn = 1
         ORDER BY vec_id""",
    "ext_dedup_embed" ->
      """WITH corpus AS (
           SELECT vec_id, embedding FROM embeddings
           UNION ALL
           SELECT vec_id + 10000,
             list_apply(embedding, x -> CAST(x * CAST(2.0 AS FLOAT) AS FLOAT))
           FROM embeddings WHERE vec_id % 4 = 0),
         n AS (SELECT vec_id, embedding,
             SQRT(list_aggregate(list_apply(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS nrm
           FROM corpus)
         SELECT a.vec_id AS v1, b.vec_id AS v2, ROUND(
           list_aggregate(list_apply(list_zip(a.embedding, b.embedding),
             z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), 'sum')
           / (a.nrm * b.nrm), 6) AS sim
         FROM n a JOIN n b ON a.vec_id < b.vec_id
         WHERE list_aggregate(list_apply(list_zip(a.embedding, b.embedding),
             z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), 'sum')
           / (a.nrm * b.nrm) >= 0.9
         ORDER BY v1, v2""",
    // the semantic groups in closed form: every rescaled copy pairs
    // with its source (rep = id - 10000, pruned), every original is
    // its own kept representative — valid because the background max
    // pairwise cosine (≈0.51) is far under the 0.95 threshold and
    // planted copies share their source's cell by construction
    "ext_dedup_semantic" ->
      """WITH corpus AS (
           SELECT vec_id FROM embeddings
           UNION ALL
           SELECT vec_id + 10000 FROM embeddings WHERE vec_id % 4 = 0)
         SELECT vec_id AS id,
           CASE WHEN vec_id >= 10000 THEN vec_id - 10000
                ELSE vec_id END AS rep,
           vec_id < 10000 AS kept
         FROM corpus ORDER BY id""",
    "ext_text_normalize" ->
      """WITH raw AS (
           SELECT doc_id, text, text
             || CASE WHEN doc_id % 3 = 0 THEN ' cafe' || chr(769) ELSE '' END
             || CASE WHEN doc_id % 4 = 0 THEN 'a' || chr(7) || chr(1) || 'b' ELSE '' END
             || CASE WHEN doc_id % 2 = 0 THEN '  x' || chr(9) || chr(9) || 'y ' ELSE '' END
             AS r
           FROM documents),
         n AS (SELECT doc_id, text, TRIM(regexp_replace(regexp_replace(
             nfc_normalize(r),
             '[\x01-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
             '[ \t]+', ' ', 'g')) AS norm_text
           FROM raw)
         SELECT doc_id, norm_text, norm_text <> text AS changed
         FROM n ORDER BY doc_id""",
    "ext_text_quality" ->
      """SELECT doc_id,
           CAST(LENGTH(text) AS INTEGER) AS n_chars_m,
           CAST(LEN(regexp_split_to_array(TRIM(text), '\s+')) AS INTEGER) AS n_tokens,
           CAST(LENGTH(text) AS DOUBLE) / LEN(regexp_split_to_array(TRIM(text), '\s+')) AS avg_tok_len,
           CAST(LEN(list_filter(regexp_split_to_array(TRIM(text), '\s+'),
             x -> x IN ('the', 'a', 'of', 'and', 'is'))) AS INTEGER) AS n_stop,
           CAST(LEN(list_filter(regexp_split_to_array(TRIM(text), '\s+'),
             x -> x IN ('the', 'a', 'of', 'and', 'is'))) AS DOUBLE)
             / LEN(regexp_split_to_array(TRIM(text), '\s+')) AS stop_ratio
         FROM documents ORDER BY doc_id""",
    "ext_quality_filter" ->
      """WITH q AS (SELECT doc_id,
           CAST(LEN(regexp_split_to_array(TRIM(text), '\s+')) AS INTEGER) AS n_tokens,
           CAST(LENGTH(text) AS DOUBLE)
             / LEN(regexp_split_to_array(TRIM(text), '\s+')) AS avg_tok_len,
           CAST(LEN(list_filter(regexp_split_to_array(TRIM(text), '\s+'),
             x -> x IN ('the', 'a', 'of', 'and', 'is'))) AS DOUBLE)
             / LEN(regexp_split_to_array(TRIM(text), '\s+')) AS stop_ratio
         FROM documents),
         r AS (SELECT doc_id, n_tokens, avg_tok_len, stop_ratio,
           CASE WHEN n_tokens < 20 THEN 'too_short'
                WHEN n_tokens > 1000 THEN 'too_long'
                WHEN avg_tok_len < 3.0 OR avg_tok_len > 12.0 THEN 'token_shape'
                WHEN stop_ratio < 0.05 THEN 'low_stopword'
                ELSE 'kept' END AS drop_reason
         FROM q)
         SELECT doc_id, n_tokens, avg_tok_len, stop_ratio,
           drop_reason = 'kept' AS keep, drop_reason
         FROM r ORDER BY doc_id""",
    "ext_lang_id" ->
      """WITH t AS (SELECT doc_id,
             regexp_split_to_array(LOWER(TRIM(text)), '\s+') AS toks
           FROM documents),
         c AS (SELECT doc_id,
             CAST(LEN(list_filter(toks, x -> x IN ('the', 'and', 'of', 'is'))) AS INTEGER) AS c_en,
             CAST(LEN(list_filter(toks, x -> x IN ('der', 'die', 'und', 'ist'))) AS INTEGER) AS c_de,
             CAST(LEN(list_filter(toks, x -> x IN ('le', 'la', 'et', 'est'))) AS INTEGER) AS c_fr,
             CAST(LEN(list_filter(toks, x -> x IN ('el', 'los', 'y', 'es'))) AS INTEGER) AS c_es
           FROM t)
         SELECT doc_id, c_en, c_de, c_fr, c_es,
           CASE WHEN c_en >= c_de AND c_en >= c_fr AND c_en >= c_es THEN 'en'
                WHEN c_de >= c_fr AND c_de >= c_es THEN 'de'
                WHEN c_fr >= c_es THEN 'fr'
                ELSE 'es' END AS pred_lang
         FROM c ORDER BY doc_id""",
    "ext_text_entropy" ->
      """WITH t0 AS (SELECT doc_id, LOWER(text) AS t FROM documents
                     WHERE LENGTH(text) >= 1),
         t1 AS (SELECT doc_id,
                  list_transform(generate_series(1, LENGTH(t)),
                                 i -> SUBSTR(t, i, 1)) AS cs
                FROM t0)
         SELECT doc_id, ROUND(0.0 - list_aggregate(
             list_transform(
               list_transform(list_sort(list_distinct(cs)),
                 c -> len(list_filter(cs, x -> x = c)) / CAST(len(cs) AS DOUBLE)),
               p -> p * log2(p)), 'sum'), 6) AS entropy
         FROM t1 ORDER BY doc_id""",

    "ext_token_count" ->
      """SELECT doc_id,
           CAST(LEN(regexp_split_to_array(TRIM(text), '\s+')) AS INTEGER) AS n_ws_tokens,
           CAST(LENGTH(text) AS INTEGER) AS n_chars_m,
           CAST(CEIL(CAST(LENGTH(text) AS DOUBLE) / 4.0) AS INTEGER) AS n_bpe_est,
           CAST(LEN(regexp_extract_all(text,
             ' ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+')) AS INTEGER)
             AS n_bpe_tokens
         FROM documents ORDER BY doc_id""",
    "ext_fingerprint" ->
      """SELECT doc_id,
           MD5(regexp_replace(LOWER(text), '\s+', ' ', 'g')) AS fp_full,
           MD5(SUBSTR(regexp_replace(LOWER(text), '\s+', ' ', 'g'), 1, 100)) AS fp_head
         FROM documents ORDER BY doc_id""",
    "ext_embed_normalize" ->
      """WITH e AS (SELECT vec_id, embedding,
           SQRT(list_aggregate(list_apply(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS nrm,
           list_aggregate(list_apply(embedding,
             x -> ABS(CAST(x AS DOUBLE))), 'max') AS maxabs
           FROM embeddings)
         SELECT vec_id,
           ROUND(nrm, 6) AS nrm,
           ROUND(CAST(embedding[1] AS DOUBLE) / nrm, 6) AS n0,
           CAST(list_aggregate(list_apply(embedding,
             x -> CAST(FLOOR(CAST(x AS DOUBLE) * 127.0 / maxabs) AS BIGINT)),
             'sum') AS BIGINT) AS q_checksum
         FROM e ORDER BY vec_id""",
    "ext_decontaminate" ->
      """WITH docs AS (SELECT doc_id, LOWER(text) AS t FROM documents),
         sh AS (SELECT DISTINCT doc_id, SUBSTR(t, g.g, 8) AS s
                FROM docs, (SELECT UNNEST(GENERATE_SERIES(1, 10000)) AS g) g
                WHERE g.g <= LENGTH(t) - 7),
         ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0)
         SELECT a.doc_id, CAST(COUNT(DISTINCT a.s) AS BIGINT) AS n_shared
         FROM sh a JOIN ev ON a.s = ev.s
         WHERE a.doc_id % 50 != 0
         GROUP BY a.doc_id ORDER BY a.doc_id""",
    "ext_decontaminate_report" ->
      """WITH docs AS (SELECT doc_id, LOWER(text) AS t FROM documents),
         sh AS (SELECT DISTINCT doc_id, SUBSTR(t, g.g, 8) AS s
                FROM docs, (SELECT UNNEST(GENERATE_SERIES(1, 10000)) AS g) g
                WHERE g.g <= LENGTH(t) - 7),
         ev AS (SELECT DISTINCT doc_id AS eval_id, s FROM sh
                WHERE doc_id % 50 = 0)
         SELECT a.doc_id, ev.eval_id,
           CAST(COUNT(DISTINCT a.s) AS BIGINT) AS n_shared
         FROM sh a JOIN ev ON a.s = ev.s
         WHERE a.doc_id % 50 != 0
         GROUP BY a.doc_id, ev.eval_id
         HAVING COUNT(DISTINCT a.s) >= 20
         ORDER BY a.doc_id, ev.eval_id""",
    "ext_pii_redact" ->
      """WITH w AS (SELECT doc_id,
           CASE WHEN doc_id % 7 = 0
                THEN text || ' contact user' || doc_id || '@example.com or 555-0142'
                ELSE text END AS txt
           FROM documents)
         SELECT doc_id,
           CAST(LEN(regexp_extract_all(txt, '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS INTEGER) AS n_email,
           CAST(LEN(regexp_extract_all(txt, '555-[0-9]{4}')) AS INTEGER) AS n_phone,
           regexp_replace(
             regexp_replace(txt, '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '[EMAIL]', 'g'),
             '555-[0-9]{4}', '[PHONE]', 'g') AS red_text
         FROM w ORDER BY doc_id""",
    "ext_split_hash" ->
      """SELECT doc_id,
           CASE WHEN SUBSTR(md5(text), 1, 1) IN ('c', 'd') THEN 'val'
                WHEN SUBSTR(md5(text), 1, 1) IN ('e', 'f') THEN 'test'
                ELSE 'train' END AS split
         FROM documents ORDER BY doc_id""",
    "ext_seq_pack" ->
      """SELECT doc_id, doc_id % 8 AS shard,
           CAST(LEN(regexp_split_to_array(TRIM(text), '\s+')) AS INTEGER) AS n_tokens,
           CAST(FLOOR(COALESCE(SUM(LEN(regexp_split_to_array(TRIM(text), '\s+'))) OVER (
             PARTITION BY doc_id % 8 ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512.0) AS BIGINT) AS bin
         FROM documents ORDER BY doc_id""",
    "ext_multimodal_bin" ->
      """SELECT doc_id,
           CAST(OCTET_LENGTH(ENCODE(text)) AS INTEGER) AS n_bytes,
           SUBSTR(HEX(ENCODE(text)), 1, 8) AS head_hex,
           'text/plain' AS media_type
         FROM documents ORDER BY doc_id""",
    "ext_multimodal_frames" ->
      """WITH m AS (SELECT doc_id AS media_id, ENCODE(text) AS bin
             FROM documents),
          f AS (SELECT media_id, bin,
             UNNEST(RANGE(0, GREATEST(CAST(FLOOR(OCTET_LENGTH(bin) / 16.0 / 4)
               AS INTEGER) - 1, 0) + 1)) AS frame_idx
             FROM m)
        SELECT media_id, CAST(frame_idx AS INTEGER) AS frame_idx,
          SUBSTR(HEX(bin), CAST(frame_idx * 4 * 32 + 1 AS INTEGER), 32)
            AS frame_hex
        FROM f ORDER BY media_id, frame_idx""",
    "ext_curation_pipeline" ->
      """WITH base AS (
           SELECT doc_id,
             CASE WHEN doc_id % 7 = 0
               THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com or 555-0142'
               ELSE text END AS text
           FROM documents),
         corpus0 AS (SELECT doc_id, text FROM base WHERE doc_id % 50 != 0),
         corpus AS (SELECT doc_id, text FROM corpus0
                    UNION ALL
                    SELECT doc_id + 10000, text FROM corpus0 WHERE doc_id % 10 = 0),
         ev AS (SELECT doc_id, text FROM base WHERE doc_id % 50 = 0),
         q AS (SELECT doc_id, text,
             CAST(LEN(regexp_split_to_array(TRIM(text), '\s+')) AS INTEGER) AS n_tokens,
             CAST(LENGTH(text) AS DOUBLE)
               / LEN(regexp_split_to_array(TRIM(text), '\s+')) AS avg_tok_len,
             CAST(LEN(list_filter(regexp_split_to_array(TRIM(text), '\s+'),
               x -> x IN ('the', 'a', 'of', 'and', 'is'))) AS DOUBLE)
               / LEN(regexp_split_to_array(TRIM(text), '\s+')) AS stop_ratio
           FROM corpus),
         ok AS (SELECT doc_id, text, n_tokens FROM q
                WHERE n_tokens BETWEEN 20 AND 1000
                  AND avg_tok_len BETWEEN 3.0 AND 12.0
                  AND stop_ratio >= 0.05),
         reps AS (SELECT MIN(doc_id) AS doc_id FROM ok GROUP BY MD5(text)),
         dd AS (SELECT o.* FROM ok o JOIN reps r USING (doc_id)),
         evsh AS (SELECT DISTINCT SUBSTR(LOWER(text), g.g, 8) AS s
                  FROM ev, (SELECT UNNEST(GENERATE_SERIES(1, 10000)) AS g) g
                  WHERE g.g <= LENGTH(text) - 7),
         csh AS (SELECT DISTINCT d.doc_id, SUBSTR(LOWER(d.text), g.g, 8) AS s
                 FROM dd d, (SELECT UNNEST(GENERATE_SERIES(1, 10000)) AS g) g
                 WHERE g.g <= LENGTH(d.text) - 7),
         contam AS (SELECT doc_id FROM csh JOIN evsh USING (s)
                    GROUP BY doc_id HAVING COUNT(*) >= 150),
         clean AS (SELECT * FROM dd
                   WHERE doc_id NOT IN (SELECT doc_id FROM contam))
         SELECT doc_id,
           CASE WHEN SUBSTR(MD5(text), 1, 1) IN ('c', 'd') THEN 'val'
                WHEN SUBSTR(MD5(text), 1, 1) IN ('e', 'f') THEN 'test'
                ELSE 'train' END AS split,
           n_tokens,
           MD5(regexp_replace(regexp_replace(text,
             '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '[EMAIL]', 'g'),
             '555-[0-9]{4}', '[PHONE]', 'g')) AS red_fp
         FROM clean ORDER BY doc_id""",
    "ext_curation_stats" ->
      """WITH base AS (
           SELECT doc_id,
             CASE WHEN doc_id % 7 = 0
               THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com or 555-0142'
               ELSE text END AS text
           FROM documents),
         corpus0 AS (SELECT doc_id, text FROM base WHERE doc_id % 50 != 0),
         corpus AS (SELECT doc_id, text FROM corpus0
                    UNION ALL
                    SELECT doc_id + 10000, text FROM corpus0 WHERE doc_id % 10 = 0),
         ev AS (SELECT doc_id, text FROM base WHERE doc_id % 50 = 0),
         q AS (SELECT doc_id, text,
             CAST(LEN(regexp_split_to_array(TRIM(text), '\s+')) AS INTEGER) AS n_tokens,
             CAST(LENGTH(text) AS DOUBLE)
               / LEN(regexp_split_to_array(TRIM(text), '\s+')) AS avg_tok_len,
             CAST(LEN(list_filter(regexp_split_to_array(TRIM(text), '\s+'),
               x -> x IN ('the', 'a', 'of', 'and', 'is'))) AS DOUBLE)
               / LEN(regexp_split_to_array(TRIM(text), '\s+')) AS stop_ratio
           FROM corpus),
         g AS (SELECT doc_id, text,
             CASE WHEN n_tokens < 20 THEN 'too_short'
                  WHEN n_tokens > 1000 THEN 'too_long'
                  WHEN avg_tok_len < 3.0 OR avg_tok_len > 12.0 THEN 'token_shape'
                  WHEN stop_ratio < 0.05 THEN 'low_stopword'
                  ELSE 'kept' END AS gate
           FROM q),
         ok AS (SELECT doc_id, text FROM g WHERE gate = 'kept'),
         reps AS (SELECT MIN(doc_id) AS doc_id FROM ok GROUP BY MD5(text)),
         evsh AS (SELECT DISTINCT SUBSTR(LOWER(text), gg.g, 8) AS s
                  FROM ev, (SELECT UNNEST(GENERATE_SERIES(1, 10000)) AS g) gg
                  WHERE gg.g <= LENGTH(text) - 7),
         csh AS (SELECT DISTINCT o.doc_id, SUBSTR(LOWER(o.text), gg.g, 8) AS s
                 FROM ok o, (SELECT UNNEST(GENERATE_SERIES(1, 10000)) AS g) gg
                 WHERE gg.g <= LENGTH(o.text) - 7),
         contam AS (SELECT doc_id FROM csh JOIN evsh USING (s)
                    GROUP BY doc_id HAVING COUNT(*) >= 150),
         outcome AS (SELECT doc_id,
             CASE WHEN gate != 'kept' THEN gate
                  WHEN doc_id NOT IN (SELECT doc_id FROM reps) THEN 'duplicate'
                  WHEN doc_id IN (SELECT doc_id FROM contam) THEN 'contaminated'
                  ELSE 'kept' END AS stage_outcome
           FROM g)
         SELECT stage_outcome, CAST(COUNT(*) AS BIGINT) AS n
         FROM outcome GROUP BY 1 ORDER BY stage_outcome""",
    "ext_dedup_lines" ->
      """WITH pages AS (
           SELECT doc_id, CONCAT_WS(CHR(10),
             'HEADER site navigation menu home about',
             text,
             CASE WHEN doc_id % 3 = 0
               THEN 'COOKIE consent banner accept decline' END,
             'FOOTER copyright mirror ' || CAST(doc_id % 5 AS VARCHAR)) AS page
           FROM documents),
         lines AS (
           SELECT p.doc_id, g.g - 1 AS pos,
             STR_SPLIT(p.page, CHR(10))[g.g] AS line,
             LEN(STR_SPLIT(p.page, CHR(10))) AS n_lines
           FROM pages p, (SELECT UNNEST(GENERATE_SERIES(1, 1000)) AS g) g
           WHERE g.g <= LEN(STR_SPLIT(p.page, CHR(10)))),
         hot AS (SELECT MD5(line) AS lfp FROM lines
                 GROUP BY MD5(line) HAVING COUNT(*) > 10)
         SELECT doc_id,
           STRING_AGG(line, CHR(10) ORDER BY pos) AS clean_text,
           CAST(COUNT(*) AS INTEGER) AS n_kept,
           CAST(MAX(n_lines) - COUNT(*) AS INTEGER) AS n_removed
         FROM lines WHERE MD5(line) NOT IN (SELECT lfp FROM hot)
         GROUP BY doc_id ORDER BY doc_id""",
    "ext_dedup_weights" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id + 10000, text FROM documents
             WHERE doc_id % 10 = 0
           UNION ALL SELECT doc_id + 20000, text FROM documents
             WHERE doc_id % 20 = 0),
         w AS (
           SELECT doc_id,
             CAST(COUNT(*) OVER (PARTITION BY MD5(text)) AS BIGINT)
               AS n_copies
           FROM corpus)
         SELECT doc_id, n_copies,
           CAST(1.0 AS DOUBLE) / n_copies AS weight
         FROM w ORDER BY doc_id""",
    "ext_domain_filter" ->
      """WITH u AS (
           SELECT doc_id,
             'https://www.' || source || '.example.com/docs/'
               || CAST(doc_id AS VARCHAR) AS url
           FROM documents),
         p AS (
           SELECT doc_id, regexp_replace(
             regexp_extract(url, '^https?://([^/]+)', 1),
             '^www\.', '') AS domain
           FROM u)
         SELECT doc_id, domain,
           domain NOT IN ('src3.example.com', 'src7.example.com',
                          'src13.example.com') AS kept
         FROM p ORDER BY doc_id""",
    "ext_dedup_bloom" ->
      """WITH corpus AS (
           SELECT DISTINCT MD5(text) AS fp FROM documents
           WHERE doc_id < 400 AND text IS NOT NULL),
         batch AS (
           SELECT doc_id + 10000 AS doc_id, text FROM documents
           WHERE (doc_id % 8 = 0 AND doc_id < 400) OR doc_id >= 400),
         hashed AS (
           SELECT MD5(text) AS fp, MIN(doc_id) AS doc_id FROM batch
           WHERE text IS NOT NULL GROUP BY 1)
         SELECT doc_id, fp FROM hashed
         WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fp = hashed.fp)
         ORDER BY doc_id""",
    "ext_dedup_incremental" ->
      """WITH corpus AS (
           SELECT DISTINCT MD5(text) AS fp FROM documents WHERE doc_id < 400),
         nb AS (
           SELECT doc_id + 10000 AS doc_id, MD5(text) AS fp FROM documents
           WHERE (doc_id % 8 = 0 AND doc_id < 400) OR doc_id >= 400)
         SELECT doc_id, fp FROM nb
         WHERE fp NOT IN (SELECT fp FROM corpus)
         ORDER BY doc_id""",
    "ext_dedup_incr_fuzzy" ->
      """WITH corpus AS (
           SELECT doc_id, LOWER(text) AS t FROM documents WHERE doc_id < 300),
         batch AS (
           SELECT doc_id + 20000 AS doc_id, LOWER(text || ' qqq') AS t
           FROM documents WHERE doc_id % 5 = 0 AND doc_id < 300
           UNION ALL
           SELECT doc_id + 20000, LOWER(text) FROM documents
           WHERE doc_id >= 300 AND doc_id < 350),
         csh AS (SELECT DISTINCT doc_id, SUBSTR(t, g.g, 8) AS s
                 FROM corpus, (SELECT UNNEST(GENERATE_SERIES(1, 10000)) AS g) g
                 WHERE g.g <= LENGTH(t) - 7),
         bsh AS (SELECT DISTINCT doc_id, SUBSTR(t, g.g, 8) AS s
                 FROM batch, (SELECT UNNEST(GENERATE_SERIES(1, 10000)) AS g) g
                 WHERE g.g <= LENGTH(t) - 7),
         ccnt AS (SELECT doc_id, COUNT(*) AS n FROM csh GROUP BY 1),
         bcnt AS (SELECT doc_id, COUNT(*) AS n FROM bsh GROUP BY 1),
         inter AS (SELECT c.doc_id AS corpus_id, b.doc_id AS batch_id,
                     COUNT(*) AS i
                   FROM csh c JOIN bsh b ON c.s = b.s
                   GROUP BY 1, 2)
         SELECT corpus_id, batch_id,
           ROUND(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 6) AS jaccard
         FROM inter
         JOIN ccnt ca ON ca.doc_id = corpus_id
         JOIN bcnt cb ON cb.doc_id = batch_id
         WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.5
         ORDER BY corpus_id, batch_id""",
  )
}
