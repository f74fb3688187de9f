package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.PlanSlots.Slotted

/** Training-data curation operators beyond the dedup/similarity core
  * (SURVEY.md §2C): within-document repetition filtering (Gopher-style
  * quality gates), deterministic stratified sampling, per-source corpus
  * stats, vocabulary construction, TF-over-DF term salience, and the
  * global training-order shuffle. Every key has a DuckDB oracle; every
  * per-row computation is a row-local projection (no shuffle except
  * where aggregation semantics demand one).
  *
  * Portability notes baked into the SQL/plans:
  *  - all fractional scores are a SINGLE double division (IEEE-exact in
  *    both engines) on integer inputs — no libm calls, no half-even
  *    rounding exposure;
  *  - deterministic "randomness" comes from md5 (available in both
  *    engines) — content-keyed, so assignments survive re-sharding and
  *    re-ingestion.
  */
object QueriesTrain {
  type Q = (SparkSession, String) => DataFrame
  private def t(n: String)(s: SparkSession, d: String) = Tables.t(s, d, n)

  /** BM25 relevance of the fixed 3-term query over every matching
    * document — shared by ext_bm25 (the ranked list) and
    * ext_rank_fusion (the lexical arm), so the two keys cannot
    * drift. Corpus tokenizes ONCE into a persisted narrow
    * (doc_id, dl, hits) projection; df and global stats broadcast
    * back; per-doc score is one aggregation. k1=1.2, b=0.75.
    *
    * CONTRACT (ADVICE r12): `doc_id` must be unique in the documents
    * table. Since the r12 row-local rewrite dropped the final
    * groupBy(doc_id), a duplicate doc_id would emit duplicate scored
    * rows and break the doc_id-unique-per-arm assumption of the RRF
    * fusion in ext_rank_fusion. The fixture pins uniqueness in
    * QueriesTrainSpec; re-adding a defensive groupBy would put an
    * exchange back into a deliberately map-only scoring pass.
    */
  private def bm25Scores(s: SparkSession, d: String): DataFrame = {
    val terms = Seq("spark", "join", "window")
    // r12 (guide §2.3/§2.4): the query term set is FIXED and tiny, so
    // per-doc term frequencies are ROW-LOCAL — size(filter(toks, = t))
    // per term — and the only global state BM25 needs is one broadcast
    // row (n_docs, sum_dl, df per term). The previous shape exploded
    // the hits, shuffled (doc_id, dl, tok) into a tf aggregation, ran
    // a second aggregation job for df, and joined both back; this one
    // runs zero explodes, zero per-doc exchanges, and exactly one
    // 1-row aggregation. Scale-neutral: at any corpus size the scoring
    // pass is map-only + TakeOrdered in every consumer.
    // Numerics: each per-term score is the SAME expression tree as
    // before ((tf*2.2), the idf log, the dl normalization); the per-doc
    // sum is now a fixed-order 3-term add instead of a shuffle-order
    // SUM over ≤3 rows — both absorbed by the same round(..., 6),
    // oracle-verified at every SF. Terms with tf = 0 contribute an
    // exact 0.0 (idf is finite, tf*2.2 = 0), so adding all three terms
    // unconditionally reproduces the hits-only row set filtered below.
    val slim = t("documents")(s, d)
      .select(col("doc_id"),
        expr("split(trim(lower(text)), '\\\\s+')").as("toks"))
      .select(Seq(col("doc_id"), size(col("toks")).as("dl")) ++
        terms.zipWithIndex.map { case (tm, i) =>
          expr(s"size(filter(toks, t -> t = '$tm'))").cast("long").as(s"tf$i")
        }: _*)
      // MEMORY_ONLY: evictable (see Dedup.exactJaccard); shared by the
      // stats pass and the scoring pass so the corpus tokenizes once
      .persistSlot("train.bm25.slim")
    val stats = slim.agg(count(lit(1)).as("n_docs"),
      (Seq(sum("dl").as("sum_dl")) ++
        terms.indices.map(i =>
          sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))): _*)
    def scoreT(i: Int): org.apache.spark.sql.Column = {
      val tf = col(s"tf$i")
      val idf = log((col("n_docs") - col(s"df$i") + 0.5) /
        (col(s"df$i") + 0.5) + 1.0)
      idf * (tf * 2.2) /
        (tf + lit(1.2) * (lit(0.25) + lit(0.75) *
          ((col("dl") * col("n_docs")).cast("double") / col("sum_dl"))))
    }
    slim.filter(terms.indices.map(i => col(s"tf$i")).reduce(_ + _) > 0)
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        round(terms.indices.map(scoreT).reduce(_ + _), 6).as("bm25"))
  }

  val queries: Map[String, Q] = Map(
    // Gopher-style within-document repetition gate: fraction of
    // duplicate words and duplicate word-bigrams, each 1 - distinct/n.
    // Everything is computed INSIDE the row (split + array ops over
    // the token array): zero shuffle at any corpus size, which is why
    // repetition filters are the cheapest quality gate a pipeline runs.
    "ext_repetition_filter" -> ((s, d) =>
      t("documents")(s, d)
        .select(col("doc_id"),
          expr("split(trim(lower(text)), '\\\\s+')").as("toks"))
        .select(col("doc_id"),
          size(col("toks")).as("n_toks"),
          (lit(1.0) - size(array_distinct(col("toks"))).cast("double") /
            size(col("toks"))).as("dup_word_frac"),
          expr("""CASE WHEN size(toks) < 2 THEN array()
                  ELSE transform(sequence(1, size(toks) - 1),
                                 i -> concat(toks[i - 1], ' ', toks[i])) END""")
            .as("bg"))
        .select(col("doc_id"), col("n_toks"), col("dup_word_frac"),
          when(size(col("bg")) === 0, lit(0.0))
            .otherwise(lit(1.0) - size(array_distinct(col("bg"))).cast("double") /
              size(col("bg"))).as("dup_bigram_frac"))
        .withColumn("keep",
          col("dup_word_frac") <= 0.5 && col("dup_bigram_frac") <= 0.1)
        .orderBy("doc_id")),

    // deterministic per-language stratified sampling: a 0..255 bucket
    // from the first two hex chars of md5(text), kept when under the
    // language's rate (en 64/256, zh 128/256, rest 256/256). Content
    // hashing (not rand()) makes the sample reproducible and
    // duplicate-consistent; the rate table is a row-local CASE here —
    // at scale, an external rates dim joins in as a broadcast.
    // EXACT-k per-class sampling: precisely k docs per language, the
    // selection keyed on the content hash — deterministic under
    // re-sharding and row reordering (a rate-based sample can't hit an
    // exact budget; ORDER BY rand() isn't reproducible across runs).
    // The per-group selection runs on the bounded-heap GroupTopK
    // operator: partial heaps per partition, at most partitions·k rows
    // shuffle per language — never a full per-group sort. This is the
    // fixed-budget curation op ("exactly 100k docs per language into
    // the mix") next to the rate-based ext_stratified_sample.
    "ext_sample_exact_k" -> ((s, d) => {
      val ranked = t("documents")(s, d)
        .select(col("doc_id"), col("lang"), md5(col("text")).as("rk"))
      graft.plans.GroupTopKOps.topK(ranked, Seq("lang"),
          Seq("rk" -> false, "doc_id" -> false), 5)
        .orderBy("lang", "rk", "doc_id")
    }),

    // TOKEN-LENGTH BUCKETING: the pre-packing efficiency step —
    // group documents into fixed token-length bands so the packer
    // fills context windows from same-scale docs (mixing a 10-token
    // doc into a bin of 900-token docs wastes the window's tail).
    // Buckets are FIXED boundaries (powers of two), so the assignment
    // is row-local — no quantile pass, no shuffle before the census.
    "ext_length_bucket" -> ((s, d) =>
      t("documents")(s, d)
        .withColumn("n_tokens",
          size(expr("split(trim(text), '\\\\s+')")))
        .withColumn("bucket",
          when(col("n_tokens") <= 16, 16)
            .when(col("n_tokens") <= 32, 32)
            .when(col("n_tokens") <= 64, 64)
            .when(col("n_tokens") <= 128, 128)
            .when(col("n_tokens") <= 256, 256)
            .otherwise(512).cast("bigint"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens").cast("bigint")).as("sum_tokens"),
          min("n_tokens").as("min_tokens"),
          max("n_tokens").as("max_tokens"))
        .orderBy("bucket")),

    "ext_stratified_sample" -> ((s, d) =>
      t("documents")(s, d)
        .withColumn("bucket",
          expr("""(instr('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 16
                  + instr('0123456789abcdef', substr(md5(text), 2, 1)) - 1"""))
        .withColumn("rate",
          when(col("lang") === "en", 64)
            .when(col("lang") === "zh", 128)
            .otherwise(256))
        .filter(col("bucket") < col("rate"))
        .select(col("doc_id"), col("lang"), col("bucket").cast("bigint").as("bucket"))
        .orderBy("doc_id")),

    // availability-aware dataset mixing: target class shares (50/30/20
    // across three source classes) become per-class acceptance rates by
    // integer water-filling — scale = min_c(cnt_c·10/w_c) caps the
    // output at what the scarcest class can supply, take_c =
    // scale·w_c/10 — then the rate is enforced ROW-LOCALLY by
    // content-hash bucket (accept iff bucket·cnt_c < take_c·256, i.e.
    // take_c/cnt_c quantized to 256ths). The only aggregation is the
    // 3-row class census, broadcast back; the sampling decision never
    // shuffles the corpus. Hash acceptance carries binomial ±2%
    // share quantization — the documented price of a shuffle-free
    // deterministic sample (an exact-count roster would need a global
    // per-class sort).
    "ext_dataset_mix" -> ((s, d) => {
      val docs = t("documents")(s, d)
        .withColumn("cls",
          pmod(substring(col("source"), 4, 10).cast("int"), lit(3)))
        .withColumn("w", when(col("cls") === 0, 5)
          .when(col("cls") === 1, 3).otherwise(2))
      val census = docs.groupBy("cls", "w").agg(count(lit(1)).as("cnt"))
        .withColumn("scale10", floor(col("cnt") * 10 / col("w")))
      val minScale = census.agg(min("scale10").as("min10"))
      val mixPlan = census.crossJoin(broadcast(minScale))
        .withColumn("take", floor(col("min10") * col("w") / 10))
        .select(col("cls"), col("cnt"), col("take"))
      docs
        .withColumn("bucket",
          expr("""(instr('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 16
                  + instr('0123456789abcdef', substr(md5(text), 2, 1)) - 1"""))
        .join(broadcast(mixPlan), "cls")
        .filter(col("bucket") * col("cnt") < col("take") * 256)
        .select(col("doc_id"), col("cls").cast("bigint").as("cls"),
          col("bucket").cast("bigint").as("bucket"))
        .orderBy("doc_id")
    }),

    // per-source (domain) corpus census: the by-container view a
    // curator reads before setting sampling weights. One hash
    // aggregation (partial map-side combine) + one unpartitioned
    // window for the corpus share — the window input is ONE ROW PER
    // SOURCE (already aggregated), so the single-task exchange it
    // implies is metadata-sized at any corpus scale.
    "ext_domain_stats" -> ((s, d) =>
      t("documents")(s, d)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("total_chars"),
          // exact integer sum, then ONE double division — Spark's avg()
          // over longs accumulates the sum as double, which diverges from
          // DuckDB's exact bigint sum once total chars pass 2^53
          (sum("n_chars").cast("double") / count(lit(1))).as("avg_chars"),
          countDistinct("lang").as("n_langs"))
        .withColumn("share",
          col("n_docs").cast("double") / sum("n_docs").over(Window.partitionBy()))
        .orderBy("source")),

    // vocabulary construction: token -> corpus frequency, min-count 5,
    // top 100. The canonical two-phase pattern: explode is row-local,
    // the groupBy combines map-side (shuffle carries (token, partial
    // count), never raw text), TakeOrderedAndProject bounds the
    // driver-side result.
    "ext_vocab_topk" -> ((s, d) =>
      t("documents")(s, d)
        .select(explode(expr("split(trim(lower(text)), '\\\\s+')")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("freq"))
        .filter(col("freq") >= 5)
        .orderBy(desc("freq"), asc("tok"))
        .limit(100)),

    // TF-over-DF term salience, top-3 terms per document. tf and df
    // are two aggregations over the same exploded token stream; the
    // df side collapses to ONE ROW PER VOCAB TERM before the join, so
    // at corpus scale it is the broadcast side (AQE picks that here).
    // salience = tf/df is one integer-input double division —
    // bit-identical across engines, no log() portability exposure.
    "ext_tfidf" -> ((s, d) => {
      // tf is persisted: the df branch and the salience join both read
      // it, so the corpus tokenizes ONCE and the cached intermediate
      // is the compact per-(doc, term) aggregate, not raw tokens
      val tf = t("documents")(s, d)
        .select(col("doc_id"),
          explode(expr("split(trim(lower(text)), '\\\\s+')")).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        // MEMORY_ONLY: evictable (see Dedup.exactJaccard)
        .persistSlot("train.keyTerms.tf")
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("salience").desc, col("term").asc)
      tf.join(df, "term")
        .withColumn("salience", col("tf").cast("double") / col("df"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("term"), col("tf"), col("df"), col("salience"))
        .orderBy("doc_id", "term")
    }),

    // global training-order shuffle: a deterministic pseudorandom
    // permutation by md5 of the doc key. The ORDER BY is the point:
    // it plans as a sampled RANGE exchange + per-partition sort — the
    // scalable global shuffle (no single-task sort, no rand()
    // non-reproducibility); writing the result with
    // repartitionByRange(...).sortWithinPartitions(...) (see
    // opt_range_sorted_sink) ships the same order to disk.
    "ext_global_shuffle" -> ((s, d) =>
      t("documents")(s, d)
        .select(col("doc_id"),
          md5(col("doc_id").cast("string")).as("shuffle_key"))
        .orderBy("shuffle_key")),

    // corpus bigram counts — the n-gram LM statistic (and the raw input
    // to contamination n-gram overlap checks). Same two-phase shape as
    // ext_vocab_topk one order up: the bigram expansion is row-local
    // (HOF over the token array, no join), the groupBy combines
    // map-side so the shuffle carries (bigram, partial count), and
    // TakeOrderedAndProject bounds the result. At 100 TB the min-count
    // filter is what keeps the long tail from dominating the shuffle —
    // it runs AFTER the combine, where the tail is already one row per
    // distinct bigram per partition.
    "ext_ngram_counts" -> ((s, d) =>
      t("documents")(s, d)
        .select(expr("split(trim(lower(text)), '\\\\s+')").as("toks"))
        .select(explode(
          expr("""CASE WHEN size(toks) < 2 THEN array()
                  ELSE transform(sequence(1, size(toks) - 1),
                                 i -> concat(toks[i - 1], ' ', toks[i])) END"""))
          .as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("freq"))
        .filter(col("freq") >= 3)
        .orderBy(desc("freq"), asc("bigram"))
        .limit(100)),

    // hashed linear quality classifier — the fastText-style scoring
    // mechanism (hashed token → weight lookup, linear sum, threshold)
    // with a content-derived integer weight table standing in for
    // learned weights (md5 byte → [-128,127]; a trained model ships
    // its weights as a broadcast map, same plan shape). Everything is
    // ONE row-local HOF chain: transform looks the weight up per
    // token, aggregate folds an exact bigint sum — zero shuffle, zero
    // UDFs, and the score is one double division at the end, so the
    // oracle matches bitwise at any corpus size.
    "ext_quality_classifier" -> ((s, d) =>
      t("documents")(s, d)
        .select(col("doc_id"),
          expr("split(trim(lower(text)), '\\\\s+')").as("toks"))
        .select(col("doc_id"),
          size(col("toks")).cast("bigint").as("n_toks"),
          expr("""aggregate(
                    transform(toks, t -> CAST(
                      (instr('0123456789abcdef', substr(md5(t), 1, 1)) - 1) * 16
                      + instr('0123456789abcdef', substr(md5(t), 2, 1)) - 1 - 128
                      AS BIGINT)),
                    CAST(0 AS BIGINT), (acc, x) -> acc + x)""").as("score_raw"))
        .withColumn("score",
          col("score_raw").cast("double") / col("n_toks"))
        .withColumn("keep", col("score") > 0)
        .orderBy("doc_id")),

    // per-language document-length distribution: the histogram a curator
    // reads before setting length cutoffs. Exact interpolated quantiles —
    // one sort-based aggregate per language group; languages are a
    // bounded set, so per-group gather is safe at any corpus size.
    "ext_length_quantiles" -> ((s, d) =>
      t("documents")(s, d).groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          min("n_chars").as("min_chars"),
          percentile(col("n_chars"), lit(0.25)).as("p25"),
          percentile(col("n_chars"), lit(0.5)).as("p50"),
          percentile(col("n_chars"), lit(0.9)).as("p90"),
          max("n_chars").as("max_chars"))
        .orderBy("lang")),

    // token-rarity score: mean corpus frequency of a document's tokens
    // (low = rare vocabulary — gibberish, code, or genuinely novel text;
    // high = boilerplate). Same two-aggregation shape as ext_tfidf: the
    // frequency side collapses to one row per vocab term before the join
    // (broadcast side under AQE at corpus scale), and the per-doc score
    // is an exact bigint sum followed by ONE double division — no
    // summation-order or libm exposure on either engine.
    "ext_rarity_score" -> ((s, d) => {
      // one tokenize pass: the per-(doc, token) counts are the compact
      // persisted intermediate; corpus frequency is their sum by token
      // and the per-doc sums weight each token's frequency by its
      // in-doc count — identical to summing over raw occurrences
      val tf = t("documents")(s, d)
        .select(col("doc_id"),
          explode(expr("split(trim(lower(text)), '\\\\s+')")).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
        // MEMORY_ONLY: evictable (see Dedup.exactJaccard)
        .persistSlot("train.rarity.tf")
      val freq = tf.groupBy("tok").agg(sum("cnt").as("freq"))
      tf.join(freq, "tok")
        .groupBy("doc_id")
        .agg(sum("cnt").as("n_toks"),
          sum(col("cnt") * col("freq")).as("sum_freq"))
        .withColumn("avg_tok_freq",
          col("sum_freq").cast("double") / col("n_toks"))
        .orderBy("doc_id")
    }),

    // BM25 relevance against a fixed query (k1=1.2, b=0.75) — the
    // retrieval-style stage that targets a corpus slice at a topic
    // (query-relevant curation, eval-set mining). The corpus text is
    // scanned and tokenized ONCE into a persisted narrow projection
    // (doc_id, length, query-term hits — no text, no full token
    // array); the tf, document-frequency, and global-length-stats
    // branches all read that cache, so none of them re-reads or
    // re-splits the corpus. df (≤ |query| rows) and the stats (1 row)
    // join back as broadcasts. Every factor is ordered identically in
    // both engines: exact integer products, then one double division
    // per factor, so the only cross-engine exposure is the per-doc
    // 3-term sum, absorbed by round(..., 6).
    // CCNet/Gopher-style LM fluency score: the corpus's OWN bigram
    // model scores each document by mean log P(w2 | w1) with
    // P = c(w1 w2) / c(w1 ·) over corpus-wide counts — garbled or
    // boilerplate-heavy text lands in the tails, which is exactly how
    // perplexity bucketing (CCNet head/middle/tail) selects training
    // data. The corpus tokenizes ONCE into a persisted narrow bigram
    // projection with three consumers (both count aggregations + the
    // scoring join); the model (distinct-bigram sized, ≪ corpus)
    // joins back on the bigram key. Counts shuffle on vocab-sized
    // keys, the score is one avg per doc: the canonical distributed
    // LM-scoring shape at any corpus size. mean_logp is monotone in
    // perplexity (ppl = exp(-mean_logp)); rounded like every
    // cross-engine aggregate to absorb summation-order noise.
    "ext_perplexity" -> ((s, d) => {
      val bigrams = t("documents")(s, d)
        .select(col("doc_id"),
          expr("split(trim(lower(text)), '\\\\s+')").as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"), explode(expr(
          """transform(sequence(1, size(toks) - 1),
             i -> struct(toks[i - 1] AS w1, toks[i] AS w2))""")).as("bg"))
        .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
        // MEMORY_ONLY: evictable (see Dedup.exactJaccard)
        .persistSlot("train.bigrams.pairs")
      val c12 = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      val c1 = bigrams.groupBy("w1").agg(count(lit(1)).as("c1"))
      val model = c12.join(c1, "w1")
        .select(col("w1"), col("w2"),
          log(col("c12").cast("double") / col("c1")).as("logp"))
      bigrams.join(model, Seq("w1", "w2"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
             round(avg(col("logp")), 6).as("mean_logp"))
        .orderBy("doc_id")
    }),

    "ext_bm25" -> ((s, d) =>
      bm25Scores(s, d)
        .orderBy(desc("bm25"), asc("doc_id"))
        .limit(50)),

    // HYBRID RETRIEVAL (reciprocal-rank fusion): fuse the lexical
    // (BM25) and semantic (embedding-cosine) views of the corpus —
    // the standard retrieval front-end of RAG-style decontamination
    // and dedup triage, where either arm alone misses paraphrases or
    // rare terms. Each arm is an independent top-k retrieval (one
    // corpus scan → TakeOrdered, never a global sort); the rank
    // window then runs over the k-ROW lists only, and the fusion
    // full-outer join touches 2k rows — driver-scale constants, so
    // the whole fusion stage is O(k) regardless of corpus size.
    // RRF_k = 60 (Cormack et al. 2009); a missing arm contributes 0.
    "ext_rank_fusion" -> ((s, d) => {
      val k = 50
      val wLex = Window.orderBy(desc("bm25"), asc("doc_id"))
      val lex = bm25Scores(s, d)
        .orderBy(desc("bm25"), asc("doc_id")).limit(k)
        .withColumn("r_lex", row_number().over(wLex).cast("bigint"))
        .select(col("doc_id"), col("r_lex"))
      val emb = t("embeddings")(s, d)
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("qe"))
      val wSem = Window.orderBy(desc("sim"), asc("doc_id"))
      val sem = emb.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
        .select(col("vec_id").as("doc_id"),
          round(graft.functions.GraftFunctions
            .cosine_sim(col("embedding"), col("qe")), 6).as("sim"))
        .orderBy(desc("sim"), asc("doc_id")).limit(k)
        .withColumn("r_sem", row_number().over(wSem).cast("bigint"))
        .select(col("doc_id"), col("r_sem"))
      // fuse the arms by UNION + one hash aggregation instead of a
      // FULL OUTER join: doc_id is unique within each k-row arm (both
      // are ranked lists), so max-of-one-value per arm reproduces the
      // outer join's row set and nulls exactly — with ONE exchange of
      // ≤2k rows where the join needed an exchange per side plus the
      // join itself (guide §2.4, remove shuffles outright; measured
      // -2 jobs / -1 exchange at sf0.1). Scale-neutral: both shapes
      // are O(k) after the arms' TakeOrdered.
      lex.select(col("doc_id"), col("r_lex"),
          lit(null).cast("bigint").as("r_sem"))
        .unionAll(sem.select(col("doc_id"),
          lit(null).cast("bigint").as("r_lex"), col("r_sem")))
        .groupBy("doc_id")
        .agg(max(col("r_lex")).as("r_lex"), max(col("r_sem")).as("r_sem"))
        .select(col("doc_id"), col("r_lex"), col("r_sem"),
          round(coalesce(lit(1.0) / (lit(60) + col("r_lex")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("r_sem")), lit(0.0)), 6)
            .as("rrf"))
        .orderBy(desc("rrf"), asc("doc_id"))
        .limit(20)
    }),

    // document chunking: fixed 200-char windows with 50-char overlap
    // (stride 150) — the standard pre-embedding split. Row-local
    // explode (chunk count derives from the row's own length), no
    // shuffle but the presentation sort; chunk CONTENT rides as md5 so
    // the oracle verifies every byte of every chunk without shipping
    // the text twice. Last chunk may run short; ≤200-char docs yield
    // exactly one chunk.
    "ext_chunk_split" -> ((s, d) =>
      t("documents")(s, d)
        .select(col("doc_id"), col("text"),
          expr("greatest(0L, CAST(ceil((length(text) - 200) / 150.0) AS BIGINT))")
            .as("n_extra"))
        .select(col("doc_id"),
          explode(expr("sequence(0L, n_extra)")).as("chunk_idx"),
          expr("substring(text, CAST(chunk_idx * 150 + 1 AS INT), 200)")
            .as("chunk"))
        .select(col("doc_id"), col("chunk_idx"),
          length(col("chunk")).cast("long").as("chunk_len"),
          md5(col("chunk")).as("chunk_hash"))
        .orderBy("doc_id", "chunk_idx")),

    // token-budget selection: keep the best documents per source until
    // the source's token budget is spent — curation under a fixed
    // training-token budget. One window pass: running token sum per
    // source in quality order (length proxy desc, doc_id tiebreak),
    // kept while the PREFIX INCLUDING the doc fits. One shuffle
    // (the source partition), no join, no driver path; at 100 TB the
    // window runs per source partition exactly like any ranked
    // selection.
    "ext_token_budget" -> ((s, d) => {
      val w = Window.partitionBy("source")
        .orderBy(desc("n_chars"), asc("doc_id"))
      t("documents")(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("cum_toks", sum("n_chars").over(w))
        .filter(col("cum_toks") <= 4000L)
        .orderBy("doc_id")
    }),

    // sequence packing: EXACT greedy first-fit of documents into
    // 8192-unit context windows (n_chars as the token proxy — the real
    // pipeline swaps in its tokenizer's counts), sharded into 32
    // deterministic pack groups so the inherently-sequential greedy
    // scan runs in parallel per group ([[Packing]]). Complements
    // QueriesExt's ext_seq_pack, the pure-window cumsum APPROXIMATION
    // (floor(prefix/cap) — documents may straddle bin boundaries);
    // this key never overfills a bin. The oracle replays the exact
    // recursion as a recursive CTE — bin assignments hash-match.
    "ext_seq_packing" -> ((s, d) =>
      Packing.packGreedy(t("documents")(s, d), "doc_id", "n_chars",
          capacity = 8192L, groups = 32)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    // DSIR-style data selection (Xie et al. 2023, "Data Selection for
    // Language Models via Importance Resampling"): score each raw
    // document by the log importance weight of its hashed-feature
    // counts under a TARGET model vs the RAW corpus model, keep the
    // top of the ranking. Features are md5-prefix hash buckets (256 —
    // engine-portable; the paper hashes n-grams the same way), models
    // are add-one-smoothed bucket frequencies: target = the trusted
    // domain slice (here the English documents), raw = everything.
    // ONE tokenize pass persists per-(doc, bucket) counts; both model
    // branches and the scoring join read that cache. The models are
    // ≤256 rows — broadcast — so scoring is map-side; the only
    // shuffles are the two bounded model aggregations and the per-doc
    // rollup. logw is an exact-count-weighted sum of ≤256 log terms,
    // rounded; ranking orders by the ROUNDED value with a doc_id
    // tie-break so the cut is engine-stable. At 100 TB: corpus scans
    // once, model fits in a closure, selection is a TakeOrdered.
    "ext_dsir_select" -> ((s, d) => {
      val tf = t("documents")(s, d)
        .select(col("doc_id"), col("lang"),
          explode(expr("split(trim(lower(text)), '\\\\s+')")).as("tok"))
        .select(col("doc_id"), col("lang"),
          expr("substring(md5(tok), 1, 2)").as("b"))
        .groupBy("doc_id", "lang", "b").agg(count(lit(1)).as("cnt"))
        // MEMORY_ONLY: evictable (see Dedup.exactJaccard)
        .persistSlot("train.dsir.buckets")
      val raw = tf.groupBy("b").agg(sum("cnt").as("cr"))
      val tgt = tf.filter(col("lang") === "en")
        .groupBy("b").agg(sum("cnt").as("ct"))
      val model = raw.join(tgt, Seq("b"), "left")
        .select(col("b"), coalesce(col("ct"), lit(0L)).as("ct"), col("cr"))
      val tots = model.agg(sum("ct").as("st"), sum("cr").as("sr"))
      tf.join(broadcast(model), "b")
        .crossJoin(broadcast(tots))
        .withColumn("logw_t",
          col("cnt") * (log((col("ct") + 1.0) / (col("st") + 256.0))
            - log((col("cr") + 1.0) / (col("sr") + 256.0))))
        .groupBy("doc_id")
        .agg(sum("cnt").as("n_toks"), round(sum("logw_t"), 6).as("logw"))
        .orderBy(desc("logw"), asc("doc_id"))
        .limit(100)
    }),
  )

  val oracle: Map[String, String] = Map(
    "ext_repetition_filter" ->
      """WITH w AS (SELECT doc_id,
              regexp_split_to_array(trim(lower(text)), '\s+') AS toks
            FROM documents),
          g AS (SELECT doc_id, len(toks) AS n_toks,
              1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS dup_word_frac,
              CASE WHEN len(toks) < 2 THEN []
                   ELSE list_transform(range(1, len(toks)),
                                       i -> toks[i] || ' ' || toks[i + 1]) END AS bg
            FROM w)
        SELECT doc_id, CAST(n_toks AS INTEGER) AS n_toks, dup_word_frac,
          CASE WHEN len(bg) = 0 THEN 0.0
               ELSE 1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg) END
            AS dup_bigram_frac,
          (dup_word_frac <= 0.5 AND
           CASE WHEN len(bg) = 0 THEN 0.0
                ELSE 1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg) END <= 0.1)
            AS keep
        FROM g ORDER BY doc_id""",

    "ext_sample_exact_k" ->
      """SELECT doc_id, lang, rk FROM (
           SELECT doc_id, lang, md5(text) AS rk,
             ROW_NUMBER() OVER (PARTITION BY lang
               ORDER BY md5(text), doc_id) AS rn
           FROM documents) WHERE rn <= 5
         ORDER BY lang, rk, doc_id""",

    "ext_length_bucket" ->
      """WITH t AS (
           SELECT CAST(len(string_split_regex(trim(text), '\s+'))
                    AS INTEGER) AS n_tokens
           FROM documents),
         b AS (
           SELECT n_tokens, CAST(CASE
               WHEN n_tokens <= 16 THEN 16
               WHEN n_tokens <= 32 THEN 32
               WHEN n_tokens <= 64 THEN 64
               WHEN n_tokens <= 128 THEN 128
               WHEN n_tokens <= 256 THEN 256
               ELSE 512 END AS BIGINT) AS bucket
           FROM t)
         SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           MIN(n_tokens) AS min_tokens, MAX(n_tokens) AS max_tokens
         FROM b GROUP BY bucket ORDER BY bucket""",

    "ext_stratified_sample" ->
      """WITH w AS (SELECT doc_id, lang,
              (strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 16
                + strpos('0123456789abcdef', substr(md5(text), 2, 1)) - 1 AS bucket
            FROM documents)
        SELECT doc_id, lang, CAST(bucket AS BIGINT) AS bucket
        FROM w
        WHERE bucket < CASE lang WHEN 'en' THEN 64 WHEN 'zh' THEN 128 ELSE 256 END
        ORDER BY doc_id""",

    "ext_dataset_mix" ->
      """WITH dw AS (
           SELECT doc_id, text,
             CAST(SUBSTR(source, 4) AS INTEGER) % 3 AS cls,
             CASE CAST(SUBSTR(source, 4) AS INTEGER) % 3
               WHEN 0 THEN 5 WHEN 1 THEN 3 ELSE 2 END AS w
           FROM documents),
         census AS (
           SELECT cls, w, COUNT(*) AS cnt, FLOOR(COUNT(*) * 10 / w) AS scale10
           FROM dw GROUP BY 1, 2),
         m AS (SELECT MIN(scale10) AS min10 FROM census),
         plan AS (
           SELECT cls, cnt, FLOOR(min10 * w / 10) AS take
           FROM census CROSS JOIN m),
         b AS (
           SELECT doc_id, cls,
             (strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 16
               + strpos('0123456789abcdef', substr(md5(text), 2, 1)) - 1 AS bucket
           FROM dw)
         SELECT b.doc_id, CAST(b.cls AS BIGINT) AS cls,
           CAST(b.bucket AS BIGINT) AS bucket
         FROM b JOIN plan ON b.cls = plan.cls
         WHERE b.bucket * plan.cnt < plan.take * 256
         ORDER BY doc_id""",

    "ext_domain_stats" ->
      """WITH g AS (SELECT source,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(n_chars) AS BIGINT) AS total_chars,
              CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars,
              CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
            FROM documents GROUP BY source)
        SELECT source, n_docs, total_chars, avg_chars, n_langs,
          CAST(n_docs AS DOUBLE) / CAST(sum(n_docs) OVER () AS BIGINT) AS share
        FROM g ORDER BY source""",

    "ext_vocab_topk" ->
      """SELECT tok, CAST(count(*) AS BIGINT) AS freq
        FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
              FROM documents)
        GROUP BY tok HAVING count(*) >= 5
        ORDER BY freq DESC, tok LIMIT 100""",

    "ext_tfidf" ->
      """WITH tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
            FROM (SELECT doc_id,
                    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
                  FROM documents)
            GROUP BY doc_id, term),
          df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
          s AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
                  CAST(tf.tf AS DOUBLE) / df.df AS salience,
                  row_number() OVER (PARTITION BY tf.doc_id
                                     ORDER BY CAST(tf.tf AS DOUBLE) / df.df DESC,
                                              tf.term) AS rk
            FROM tf JOIN df USING (term))
        SELECT doc_id, term, tf, df, salience FROM s WHERE rk <= 3
        ORDER BY doc_id, term""",

    "ext_global_shuffle" ->
      """SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS shuffle_key
        FROM documents ORDER BY shuffle_key""",

    "ext_ngram_counts" ->
      """WITH w AS (SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS toks
            FROM documents),
          b AS (SELECT unnest(CASE WHEN len(toks) < 2 THEN []
                ELSE list_transform(range(1, len(toks)),
                                    i -> toks[i] || ' ' || toks[i + 1]) END) AS bigram
            FROM w)
        SELECT bigram, CAST(count(*) AS BIGINT) AS freq
        FROM b GROUP BY bigram HAVING count(*) >= 3
        ORDER BY freq DESC, bigram LIMIT 100""",

    "ext_quality_classifier" ->
      """WITH w AS (SELECT doc_id,
              regexp_split_to_array(trim(lower(text)), '\s+') AS toks
            FROM documents),
          g AS (SELECT doc_id,
              CAST(len(toks) AS BIGINT) AS n_toks,
              CAST(list_sum(list_transform(toks, t ->
                (strpos('0123456789abcdef', substr(md5(t), 1, 1)) - 1) * 16
                + strpos('0123456789abcdef', substr(md5(t), 2, 1)) - 1 - 128))
                AS BIGINT) AS score_raw
            FROM w)
        SELECT doc_id, n_toks, score_raw,
          CAST(score_raw AS DOUBLE) / n_toks AS score,
          (CAST(score_raw AS DOUBLE) / n_toks) > 0 AS keep
        FROM g ORDER BY doc_id""",

    "ext_length_quantiles" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(min(n_chars) AS BIGINT) AS min_chars,
          QUANTILE_CONT(n_chars, 0.25) AS p25,
          QUANTILE_CONT(n_chars, 0.5) AS p50,
          QUANTILE_CONT(n_chars, 0.9) AS p90,
          CAST(max(n_chars) AS BIGINT) AS max_chars
        FROM documents GROUP BY lang ORDER BY lang""",

    "ext_rarity_score" ->
      """WITH toks AS (SELECT doc_id,
              unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
            FROM documents),
          freq AS (SELECT tok, CAST(count(*) AS BIGINT) AS freq
            FROM toks GROUP BY tok)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
          CAST(sum(freq) AS BIGINT) AS sum_freq,
          CAST(sum(freq) AS DOUBLE) / count(*) AS avg_tok_freq
        FROM toks JOIN freq USING (tok)
        GROUP BY doc_id ORDER BY doc_id""",
    // the same bigram model in closed form: parallel unnests zip the
    // left/right token lists into bigram rows
    "ext_perplexity" ->
      """WITH w AS (
           SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
           FROM documents),
         e AS (
           SELECT doc_id,
             UNNEST(list_transform(range(1, len(toks)), i -> toks[i])) AS w1,
             UNNEST(list_transform(range(1, len(toks)), i -> toks[i + 1])) AS w2
           FROM w WHERE len(toks) >= 2),
         c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM e GROUP BY 1, 2),
         c1 AS (SELECT w1, COUNT(*) AS c1 FROM e GROUP BY 1)
         SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(AVG(LN(CAST(c12.c12 AS DOUBLE) / c1.c1)), 6) AS mean_logp
         FROM e JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
         GROUP BY e.doc_id ORDER BY e.doc_id""",

    "ext_bm25" ->
      """WITH d2 AS (
           SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
           FROM documents),
         d3 AS (SELECT doc_id, len(toks) AS dl, toks FROM d2),
         hits AS (
           SELECT doc_id, dl,
             UNNEST(list_filter(toks,
               t -> t IN ('spark', 'join', 'window'))) AS tok
           FROM d3),
         tf AS (SELECT doc_id, dl, tok, COUNT(*) AS tf
                FROM hits GROUP BY 1, 2, 3),
         stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM d3),
         dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1)
         SELECT doc_id,
           ROUND(CAST(SUM(
             LN((n_docs - df + 0.5) / (df + 0.5) + 1.0) * (tf * 2.2) /
               (tf + 1.2 * (0.25 + 0.75 *
                 (CAST(dl * n_docs AS DOUBLE) / sum_dl)))) AS DOUBLE), 6)
             AS bm25
         FROM tf JOIN dfreq USING (tok) CROSS JOIN stats
         GROUP BY doc_id
         ORDER BY bm25 DESC, doc_id LIMIT 50""",

    "ext_rank_fusion" ->
      """WITH d2 AS (
           SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
           FROM documents),
         d3 AS (SELECT doc_id, len(toks) AS dl, toks FROM d2),
         hits AS (
           SELECT doc_id, dl,
             UNNEST(list_filter(toks,
               t -> t IN ('spark', 'join', 'window'))) AS tok
           FROM d3),
         tf AS (SELECT doc_id, dl, tok, COUNT(*) AS tf
                FROM hits GROUP BY 1, 2, 3),
         stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM d3),
         dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
         bm AS (
           SELECT doc_id,
             ROUND(CAST(SUM(
               LN((n_docs - df + 0.5) / (df + 0.5) + 1.0) * (tf * 2.2) /
                 (tf + 1.2 * (0.25 + 0.75 *
                   (CAST(dl * n_docs AS DOUBLE) / sum_dl)))) AS DOUBLE), 6)
               AS bm25
           FROM tf JOIN dfreq USING (tok) CROSS JOIN stats
           GROUP BY doc_id
           ORDER BY bm25 DESC, doc_id LIMIT 50),
         lex AS (
           SELECT doc_id, ROW_NUMBER() OVER
             (ORDER BY bm25 DESC, doc_id) AS r_lex
           FROM bm),
         q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         sc AS (
           SELECT vec_id AS doc_id, ROUND(
             list_aggregate(list_apply(list_zip(embedding, qe),
               z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), 'sum') /
             (SQRT(list_aggregate(list_apply(embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) *
              SQRT(list_aggregate(list_apply(qe,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))), 6) AS sim
           FROM embeddings, q WHERE vec_id != 0
           ORDER BY sim DESC, doc_id LIMIT 50),
         sem AS (
           SELECT doc_id, ROW_NUMBER() OVER
             (ORDER BY sim DESC, doc_id) AS r_sem
           FROM sc)
         SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id, r_lex, r_sem,
           ROUND(COALESCE(CAST(1.0 AS DOUBLE) / (60 + r_lex), 0.0) +
                 COALESCE(CAST(1.0 AS DOUBLE) / (60 + r_sem), 0.0), 6) AS rrf
         FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
         ORDER BY rrf DESC, doc_id LIMIT 20""",

    "ext_chunk_split" ->
      """WITH c AS (
           SELECT doc_id, text,
                  GREATEST(0, CAST(ceil((length(text) - 200) / 150.0)
                                   AS BIGINT)) AS n_extra
           FROM documents),
         e AS (
           SELECT doc_id, text,
                  UNNEST(generate_series(0, n_extra)) AS chunk_idx
           FROM c),
         s AS (
           SELECT doc_id, chunk_idx,
                  substr(text, CAST(chunk_idx * 150 + 1 AS INTEGER), 200)
                    AS chunk
           FROM e)
         SELECT doc_id, chunk_idx,
                CAST(length(chunk) AS BIGINT) AS chunk_len,
                md5(chunk) AS chunk_hash
         FROM s ORDER BY doc_id, chunk_idx""",

    "ext_token_budget" ->
      """SELECT doc_id, source, n_chars, cum_toks FROM (
           SELECT doc_id, source, n_chars,
                  CAST(SUM(n_chars) OVER (PARTITION BY source
                                          ORDER BY n_chars DESC, doc_id)
                       AS BIGINT) AS cum_toks
           FROM documents)
         WHERE cum_toks <= 4000
         ORDER BY doc_id""",

    // the identical greedy recursion, replayed per pack group: row n
    // joins row n-1's bin when it fits, else opens the next bin
    "ext_seq_packing" ->
      """WITH RECURSIVE base AS (
           SELECT doc_id, CAST(n_chars AS BIGINT) AS toks,
                  CAST(doc_id % 32 AS INTEGER) AS grp,
                  row_number() OVER (PARTITION BY doc_id % 32
                                     ORDER BY doc_id) AS rn
           FROM documents
           WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL),
         r AS (
           SELECT grp, rn, doc_id, toks, toks AS fill,
                  CAST(0 AS BIGINT) AS bin
           FROM base WHERE rn = 1
           UNION ALL
           SELECT b.grp, b.rn, b.doc_id, b.toks,
                  CASE WHEN r.fill + b.toks <= 8192
                       THEN r.fill + b.toks ELSE b.toks END,
                  CASE WHEN r.fill + b.toks <= 8192
                       THEN r.bin ELSE r.bin + 1 END
           FROM r JOIN base b ON b.grp = r.grp AND b.rn = r.rn + 1)
         SELECT doc_id, grp, bin, toks FROM r ORDER BY doc_id""",

    // the same hashed-feature importance weight in closed form (LN =
    // Spark's natural log; DuckDB LOG is base 10)
    "ext_dsir_select" ->
      """WITH tf AS (
           SELECT doc_id, lang, substr(md5(tok), 1, 2) AS b,
                  COUNT(*) AS cnt
           FROM (SELECT doc_id, lang,
                   unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
                     AS tok
                 FROM documents)
           GROUP BY 1, 2, 3),
         raw AS (SELECT b, SUM(cnt) AS cr FROM tf GROUP BY 1),
         tgt AS (SELECT b, SUM(cnt) AS ct FROM tf WHERE lang = 'en'
                 GROUP BY 1),
         model AS (
           SELECT raw.b, COALESCE(tgt.ct, 0) AS ct, raw.cr
           FROM raw LEFT JOIN tgt ON raw.b = tgt.b),
         tots AS (SELECT SUM(ct) AS st, SUM(cr) AS sr FROM model)
         SELECT tf.doc_id,
           CAST(SUM(tf.cnt) AS BIGINT) AS n_toks,
           ROUND(SUM(tf.cnt * (LN((model.ct + 1.0) / (tots.st + 256.0))
             - LN((model.cr + 1.0) / (tots.sr + 256.0)))), 6) AS logw
         FROM tf JOIN model ON tf.b = model.b CROSS JOIN tots
         GROUP BY tf.doc_id
         ORDER BY logw DESC, doc_id LIMIT 100"""
  )
}
