package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  // (id, sig) signature table of the fused kernel, no hot subtraction
  private def signatures(docs: org.apache.spark.sql.DataFrame, numHashes: Int) =
    docs.select(col("doc_id").as("id"),
        graft.functions.ShingleMinHash.shingle_minhash(lower(col("text")),
          typedLit[Array[Long]](Array.emptyLongArray), 8, numHashes).as("sig"))
      .filter(col("sig").isNotNull)

  private def corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy dog again and again!"), // near-dup of 1
    (3L, "completely different content about spark query engines at scale"),
    (4L, "unrelated text mentioning partitions shuffles and broadcast joins"),
  ).toDF("doc_id", "text")

  test("minHashPairs finds the planted near-dup pair and nothing else") {
    val pairs = Dedup.minHashPairs(corpus, "doc_id", "text", threshold = 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("minhash jaccard estimate is close to exact jaccard") {
    val sh = Dedup.shingles(corpus, "doc_id", "text")
    val exact = Dedup.exactJaccard(sh,
        Seq((1L, 2L)).toDF("id1", "id2"))
      .select("jaccard").as[Double].head()
    assert(exact > 0.8, s"planted pair exact jaccard $exact")
  }

  test("simHash is deterministic and separates dups from others") {
    val sigs1 = Dedup.simHash(corpus, "doc_id", "text").collect().toSet
    val sigs2 = Dedup.simHash(corpus, "doc_id", "text").collect().toSet
    assert(sigs1 == sigs2)
    // exact duplicate text → identical signature → Hamming distance 0;
    // a one-token edit (1↔2) stays far closer than unrelated docs
    val dup = corpus.unionAll(
      Seq((5L, "the quick brown fox jumps over the lazy dog again and again"))
        .toDF("doc_id", "text"))
    val pairs = Dedup.simHashPairs(Dedup.simHash(dup, "doc_id", "text"), maxDist = 3)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 5L)))
    assert(!pairs.contains((3L, 4L)))
    val sigMap = Dedup.simHash(dup, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    def dist(a: Long, b: Long) = java.lang.Long.bitCount(sigMap(a) ^ sigMap(b))
    assert(dist(1L, 2L) < dist(3L, 4L), s"${dist(1L, 2L)} vs ${dist(3L, 4L)}")
  }

  test("documents shorter than the shingle length produce no shingles") {
    val tiny = Seq((1L, "abc"), (2L, "long enough text here")).toDF("doc_id", "text")
    val sh = Dedup.shingles(tiny, "doc_id", "text", shingleLen = 8)
    assert(sh.filter($"id" === 1L).count() == 0)
    assert(sh.filter($"id" === 2L).count() > 0)
  }

  test("dropHotShingles bounds the shingle join key frequency") {
    // 30 docs all sharing one planted boilerplate suffix → its
    // shingles have doc-frequency 30, each doc keeps its unique body
    val docs = (1 to 30)
      .map(i => (i.toLong, s"unique body number $i ... SHARED-BOILERPLATE-SUFFIX"))
      .toDF("doc_id", "text")
    val sh = Dedup.shingles(docs, "doc_id", "text")
    val rawMax = sh.groupBy("s").count().agg(max("count")).as[Long].head()
    assert(rawMax == 30L, s"planted hot shingle df $rawMax")
    val capped = Dedup.dropHotShingles(sh, maxDf = 10)
    val capMax = capped.groupBy("s").count().agg(max("count")).as[Long].head()
    assert(capMax <= 10L, s"post-cap max df $capMax")
    // the capped join's worst bucket is now 10 docs, not 30 — and the
    // unique bodies survive (recall material is intact)
    assert(capped.count() > 0)
  }

  test("lshCandidates bucket cap drops oversized buckets only") {
    // 40 identical docs: every band bucket holds all 40 → uncapped
    // candidates are the full 40·39/2 quadratic blowup
    val clones = (1 to 40).map(i =>
      (i.toLong, "exactly the same text in every single clone document here"))
      .toDF("doc_id", "text")
    val sigs = signatures(clones, numHashes = 32)
    val uncapped = Dedup.lshCandidates(sigs, 32, 8).count()
    assert(uncapped == 40L * 39 / 2, s"uncapped $uncapped")
    val capped = Dedup.lshCandidates(sigs, 32, 8, maxBucket = 8).count()
    assert(capped == 0L, s"capped $capped")
    // a small legit cluster under the cap is untouched
    val small = (1 to 5).map(i =>
      (i.toLong, "another identical cluster of documents for the cap test"))
      .toDF("doc_id", "text")
    val sigsSmall = signatures(small, numHashes = 32)
    assert(Dedup.lshCandidates(sigsSmall, 32, 8, maxBucket = 8).count() == 10L)
  }

  test("minHashPairs skew guards are output-neutral on normal corpora") {
    val plain = Dedup.minHashPairs(corpus, "doc_id", "text", threshold = 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val guarded = Dedup.minHashPairs(corpus, "doc_id", "text", threshold = 0.5,
        maxShingleDf = 3, maxBucket = 16)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(plain == guarded)
  }

  test("minHashPairs forces no broadcast when the bucket cap is unbounded") {
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, ResolvedHint}
    def broadcastHints(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collect {
        case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) => h
      }.size
    // default cap: the candidate sliver is unbounded, so neither the
    // candIds semi-join nor the two candSets joins carries a hint
    assert(broadcastHints(Dedup.minHashPairs(corpus, "doc_id", "text")) == 0)
    // a finite cap bounds the sliver: both candSets join sides are
    // hinted, and each copy's candIds semi-join inside them
    assert(broadcastHints(Dedup.minHashPairs(corpus, "doc_id", "text",
      maxBucket = 16)) == 4)
  }

  test("simHashPairs and lshNearDupPairs bound a 500-copy cluster's buckets") {
    // identical content ⇒ identical signature in EVERY band: a 500-copy
    // boilerplate cluster would emit 4·500²/2 SimHash candidate pairs
    // and 16·500²/2 sign-LSH candidate pairs without the bucket cap.
    // With the cap the oversized buckets are dropped entirely — such
    // clusters are exact-dedup's job (hash-groupBy), run FIRST in a
    // real pipeline, so near-dup banding never sees them.
    val clones = (1 to 500).map(i =>
      (i.toLong, "exactly the same boilerplate in every copy of this document"))
      .toDF("doc_id", "text")
    val sigs = Dedup.simHash(clones, "doc_id", "text")
    assert(Dedup.simHashPairs(sigs, maxDist = 3, maxBucket = 100).count() == 0L)
    // a legit small cluster under the cap is untouched
    val few = clones.filter($"doc_id" <= 5)
    val fewSigs = Dedup.simHash(few, "doc_id", "text")
    assert(Dedup.simHashPairs(fewSigs, maxDist = 3, maxBucket = 100).count() == 10L)

    // embedding path: 500 identical vectors, all in one bucket per band
    val vecs = (1 to 500).map(i => (i.toLong, Array.fill(8)(0.5f)))
      .toDF("vec_id", "embedding")
    val capped = Similarity.lshNearDupPairs(vecs, "vec_id", "embedding",
      dim = 8, threshold = 0.9, nBits = 16, bands = 4, maxBucket = 100)
    assert(capped.count() == 0L)
    val fewVecs = vecs.filter($"vec_id" <= 5)
    val under = Similarity.lshNearDupPairs(fewVecs, "vec_id", "embedding",
      dim = 8, threshold = 0.9, nBits = 16, bands = 4, maxBucket = 100)
    assert(under.count() == 10L)
  }

  test("a 2000-copy mega-cluster stays bounded across minhash/simhash/embed paths") {
    // bench-scale skew stress: identical content lands the whole
    // cluster in ONE bucket of EVERY band, so without the caps each
    // path would emit ~bands·2000²/2 ≈ 32M candidate pairs. With the
    // caps the clone buckets are dropped entirely (exact dedup's job —
    // it runs first in a real pipeline) while organic near-dups in the
    // background corpus are still found. Asserts candidate counts
    // bounded by f(maxBucket) AND a generous wall-clock bound that the
    // uncapped quadratic path would blow through.
    val t0 = System.nanoTime()
    val clones = (1 to 2000).map(i =>
      (i.toLong, "exactly the same boilerplate in every copy of this mega cluster document"))
    val distinct = (1 to 100).map(i =>
      (10000L + i, s"distinct background document number $i discussing topic-$i in its own words"))
    val nearDup = Seq(
      (20001L, "an organic near duplicate pair planted in the background corpus here"),
      (20002L, "an organic near duplicate pair planted in the background corpus here!"),
      // identical twin pair: Hamming distance 0 by construction, so
      // the simhash recall assertion is deterministic (a one-token
      // edit's distance depends on the flipped token's hash bits)
      (20003L, "a deterministic identical twin pair for the simhash recall check"),
      (20004L, "a deterministic identical twin pair for the simhash recall check"))
    val docs = (clones ++ distinct ++ nearDup).toDF("doc_id", "text")

    // minhash: clone buckets (2000 > cap) are dropped at candidate
    // generation; every surviving bucket holds ≤ maxBucket ids
    val maxBucket = 100
    val bands = 16
    val sigs = signatures(docs, numHashes = 64)
    val cand = Dedup.lshCandidates(sigs, 64, bands, maxBucket)
      .as[(Long, Long)].collect()
    assert(!cand.exists(p => p._1 <= 2000 && p._2 <= 2000),
      "clone-clone candidates must be dropped by the bucket cap")
    assert(cand.length <= bands * maxBucket * (maxBucket - 1) / 2,
      s"candidate count ${cand.length} exceeds the f(maxBucket) bound")
    assert(cand.contains((20001L, 20002L)), "organic near-dup must survive the caps")
    val verified = Dedup.minHashPairs(docs, "doc_id", "text",
        threshold = 0.5, maxShingleDf = 500, maxBucket = maxBucket)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(verified.contains((20001L, 20002L)))
    assert(!verified.exists(p => p._1 <= 2000 && p._2 <= 2000))

    // simhash: identical signatures in all 4 bands → dropped
    val simPairs = Dedup.simHashPairs(
      Dedup.simHash(docs, "doc_id", "text"), maxDist = 3, maxBucket = maxBucket)
      .as[(Long, Long, Int)].collect()
    assert(!simPairs.exists(p => p._1 <= 2000 && p._2 <= 2000))
    assert(simPairs.exists(p => (p._1, p._2) == (20003L, 20004L)),
      "the under-cap identical twin pair must survive the bucket cap")

    // embeddings: 2000 identical vectors share every sign-LSH bucket
    val vecs = ((1 to 2000).map(i => (i.toLong, Array.fill(8)(0.5f))) ++
      (1 to 50).map(i => (30000L + i, Array.tabulate(8)(j => math.sin(i * 8 + j).toFloat))))
      .toDF("vec_id", "embedding")
    val embPairs = Similarity.lshNearDupPairs(vecs, "vec_id", "embedding",
      dim = 8, threshold = 0.9, nBits = 16, bands = 4, maxBucket = maxBucket)
    assert(!embPairs.select("v1", "v2").as[(Long, Long)].collect()
      .exists(p => p._1 <= 2000 && p._2 <= 2000))

    // incremental index path: the finite DEFAULT maxBucket (1000) must
    // drop the clone band keys at BUILD time, so a clone batch probe
    // fans out to zero candidates instead of 2000× per band
    val idxPath = "target/graft_tmp/dedup_megacluster_idx"
    val idx = Dedup.buildMinHashIndex(docs, "doc_id", "text", idxPath)
    val probe = Dedup.minHashProbe(spark, idx, docs,
      Seq((99999L, "exactly the same boilerplate in every copy of this mega cluster document"))
        .toDF("doc_id", "text"), "doc_id", "text")
    assert(probe.count() == 0L,
      "clone band keys must be absent from an index built with the default cap")

    val elapsed = (System.nanoTime() - t0) / 1e9
    // generous CI bound: the capped paths run in seconds; the uncapped
    // quadratic path (32M-pair verify joins, four times over) would not
    assert(elapsed < 300.0, s"mega-cluster stress took ${elapsed}s")
  }

  test("components with pointer doubling converges in ≤ half the rounds") {
    // a 17-node chain has diameter 16: pure min-label propagation
    // needs 16 rounds for node 16 to learn label 0; pointer doubling
    // shortcuts distance-to-representative every round
    val n = 16
    val pairs = (0 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("id1", "id2")
    val nodes = (0L to n.toLong).toDF("id")
    val (labels, iters) = Dedup.componentsWithIters(pairs, nodes, maxIter = 20)
    val comp = labels.as[(Long, Long)].collect().toMap
    assert((0L to n.toLong).forall(comp(_) == 0L), comp)
    assert(iters <= n / 2, s"took $iters rounds for diameter $n (plain propagation: $n)")
  }

  test("components propagates labels transitively along chains") {
    // chain 1-2-3-4-5 (diameter 4 → several propagation rounds) plus
    // an isolated node 9 and a separate pair 7-8
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (7L, 8L))
      .toDF("id1", "id2")
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 7L, 8L, 9L).toDF("id")
    val comp = Dedup.components(pairs, nodes)
      .as[(Long, Long)].collect().toMap
    assert((1L to 5L).forall(comp(_) == 1L), comp)
    assert(comp(7L) == 7L && comp(8L) == 7L)
    assert(comp(9L) == 9L)
  }

  test("line dedup strips all planted boilerplate and keeps content intact") {
    val out = graft.SparkEntry.queries("ext_dedup_lines")(spark, sfDir)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    val src = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(out.keySet == src.keySet)
    out.foreach { case (id, (clean, kept, removed)) =>
      // header + footer always removed; banner too on every 3rd doc —
      // the unique content line is exactly what survives
      assert(clean == src(id), s"doc $id content corrupted")
      assert(kept == 1, s"doc $id kept $kept lines")
      assert(removed == (if (id % 3 == 0) 3 else 2), s"doc $id removed $removed")
    }
  }

  test("incremental dedup admits only genuinely new content") {
    val ids = graft.SparkEntry.queries("ext_dedup_incremental")(spark, sfDir)
      .select("doc_id").as[Long].collect().toSet
    assert(ids == (10400L to 10499L).toSet,
      s"expected exactly the 100 new docs, got ${ids.size}")
  }

  test("full-corpus incremental fuzzy probe recalls every planted mutant") {
    // the bench-scale key: every batch doc is a ' qq'-suffixed mutant
    // of doc_id % 50 == 0 — each must find its source (recall 1.0 at
    // this mutation size), keyed (source, source + 900000)
    val rows = graft.SparkEntry.queries("ext_dedup_incr_fuzzy_full")(spark, sfDir)
      .select("corpus_id", "batch_id").as[(Long, Long)].collect()
    val sources = spark.read
      .parquet(s"$sfDir/documents.parquet")
      .filter("doc_id % 50 = 0").select("doc_id").as[Long].collect().toSet
    val selfPairs = rows.filter { case (c, b) => b == c + 900000L }.map(_._1).toSet
    assert(sources.nonEmpty && selfPairs == sources,
      s"missing sources: ${(sources -- selfPairs).take(5)}")
  }

  test("minhash index probe finds planted mutations, rejects fresh docs, and drops hot buckets at build") {
    // distinct per-doc content (hex-expanded doc hash), so cross-doc
    // jaccard is ~0 and only the planted mutation is a true near-dup
    val corpus = (1L to 40L).map { i =>
      val words = (0 to 11).map(j => java.lang.Long.toHexString(i * 2654435761L + j * 40503L))
      (i, s"doc $i " + words.mkString(" "))
    }.toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("mhidx").toString
    val idx = Dedup.buildMinHashIndex(corpus, "doc_id", "text", s"$dir/idx")
    val src3 = (0 to 11).map(j => java.lang.Long.toHexString(3 * 2654435761L + j * 40503L))
    val batch = Seq(
      (101L, s"doc 3 " + src3.mkString(" ") + " x"), // near-dup of 3
      (102L, "entirely novel prose with no counterpart in the corpus at all"),
    ).toDF("doc_id", "text")
    val hits = Dedup.minHashProbe(spark, idx, corpus, batch,
        "doc_id", "text", threshold = 0.5)
      .select("corpus_id", "batch_id").as[(Long, Long)].collect().toSet
    assert(hits == Set((3L, 101L)), s"got $hits")

    // a 50-copy identical cluster exceeds maxBucket → its band rows are
    // dropped at BUILD time, so a probe against the cluster's content
    // generates ZERO candidates (exact dedup owns identical content)
    val boiler = (1L to 50L).map(i => (1000L + i, "same boilerplate text repeated everywhere"))
      .toDF("doc_id", "text")
    val hot = Dedup.buildMinHashIndex(boiler, "doc_id", "text", s"$dir/hot", maxBucket = 10)
    assert(spark.read.parquet(s"$dir/hot").isEmpty,
      "over-cap buckets must not survive the index build")
    val probe = Dedup.minHashProbe(spark, hot, boiler,
      Seq((2000L, "same boilerplate text repeated everywhere")).toDF("doc_id", "text"),
      "doc_id", "text", threshold = 0.5)
    assert(probe.isEmpty)
  }

  test("digest store: batches dedup against materialized history, adds accumulate") {
    val dir = java.nio.file.Files.createTempDirectory("digests").toString
    Dedup.buildDigestStore(corpus, "text", s"$dir/fp")
    // batch 1: one known text, one new (duplicated in-batch: min id wins)
    val b1 = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"), // in corpus
      (11L, "genuinely new content the corpus has never seen"),
      (12L, "genuinely new content the corpus has never seen"))
      .toDF("doc_id", "text")
    val a1 = Dedup.digestStoreFilter(spark, s"$dir/fp", b1, "doc_id", "text")
    assert(a1.select("doc_id").as[Long].collect().toSet == Set(11L))
    Dedup.digestStoreAdd(spark, s"$dir/fp", a1)
    // batch 2: the batch-1 admission is now history too
    val b2 = Seq(
      (20L, "genuinely new content the corpus has never seen"),
      (21L, "and one more fresh document for the second batch"))
      .toDF("doc_id", "text")
    val a2 = Dedup.digestStoreFilter(spark, s"$dir/fp", b2, "doc_id", "text")
    assert(a2.select("doc_id").as[Long].collect().toSet == Set(21L))
  }

  test("hashed shingles align with string shingles on supplementary characters") {
    // an emoji is ONE code point but TWO UTF-16 chars: hashed windows
    // must advance by code points (Spark substring semantics), never
    // split a surrogate pair, and cover the same window count
    val txt = "😀abcdefg hi 🚀xyzw"
    val docs = Seq((1L, txt)).toDF("doc_id", "text")
    // exact parity: every string shingle's XXH64 must appear in the
    // hashed set, and nothing else (a char-indexed window would hash
    // different byte spans and break set equality)
    val expected = Dedup.shingles(docs, "doc_id", "text")
      .select("s").distinct().as[String].collect().map { w =>
        val b = w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        org.apache.spark.sql.catalyst.expressions.XXH64
          .hashUnsafeBytes(b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
            b.length, 42L)
      }.toSet
    val hashed = Dedup.hashedShingleSets(docs, "doc_id", "text")
      .select(explode($"sset")).distinct().as[Long].collect().toSet
    assert(hashed == expected,
      s"hashed windows diverge from code-point string windows: " +
        s"${(hashed -- expected).size} extra, ${(expected -- hashed).size} missing")
  }

  test("exact dedup keeps one representative per distinct text") {
    val withDups = corpus.unionAll(corpus.filter($"doc_id" === 1L))
    val deduped = withDups.groupBy($"text")
      .agg(min($"doc_id").as("doc_id"), count(lit(1)).as("n"))
    assert(deduped.count() == 4)
    assert(deduped.filter($"n" === 2).select("doc_id").as[Long].head() == 1L)
  }

  test("duplicateSpans finds shared spans, merges islands, and respects the floor") {
    // doc 1: 12 unique words + a 12-word span copied into doc 2 at a
    // different offset; doc 3 repeats a 10-word span WITHIN itself;
    // doc 4 shares only a 6-word run with doc 5 (< 10-token floor);
    // doc 6 is shorter than one gram
    val span12 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val span10 = "one two three four five six seven eight nine ten"
    val run6 = "red orange yellow green blue indigo"
    val docs = Seq(
      (1L, s"u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11 u12 $span12"),
      (2L, s"$span12 v1 v2 v3 v4 v5"),
      (3L, s"$span10 w1 w2 w3 $span10"),
      (4L, s"x1 x2 $run6 x3 x4"),
      (5L, s"y1 y2 y3 $run6 y4"),
      (6L, "tiny doc here"),
    ).toDF("doc_id", "text")
    val out = Dedup.duplicateSpans(docs, "doc_id", "text",
        k = 5, minSpanTokens = 10)
      .orderBy("id")
      .as[(Long, Long, Long, Int)].collect().toSeq
    // docs 1 and 2 each carry the 12-token span exactly once; doc 3's
    // two copies are separated by 3 uncovered words (start gap 8 > k),
    // so they stay two DISTINCT 10-token spans; docs 4/5/6 produce
    // nothing
    assert(out == Seq((1L, 1L, 12L, 12), (2L, 1L, 12L, 12),
      (3L, 2L, 20L, 10)))
  }

  test("duplicateSpans join-back volume is linear in a mega-cluster, not quadratic") {
    // 2000 identical docs: every gram is duplicated, but the df-join
    // fans each gram OCCURRENCE out exactly once — the span output is
    // one row per doc, and the whole run completes at cluster size
    // where any pairwise path would enumerate ~2000²/2 pairs
    val text = "the same boilerplate sentence repeated across every " +
      "single document in this cluster forever and ever"
    val clones = (1 to 2000).map(i => (i.toLong, text)).toDF("doc_id", "text")
    val out = Dedup.duplicateSpans(clones, "doc_id", "text")
    assert(out.count() == 2000)
    assert(out.select("max_span").distinct().as[Int].collect().toSeq
      == Seq(15)) // every doc = one full-width 15-token span
  }

  test("URL-canonicalization dedup conserves rows and strips every variant") {
    val docs = Tables.t(spark, sfDir, "documents")
    val out = graft.SparkEntry.queries("ext_dedup_url")(spark, sfDir).cache()
    // partition property: every source row lands in exactly one group
    assert(out.agg(sum($"n")).as[Long].head() == docs.count())
    // canonical form: lowercase scheme+host, no default port, no utm_*
    // params, no fragment, no trailing slash
    val urls = out.select("canonical_url").as[String].collect()
    assert(urls.nonEmpty)
    urls.foreach { u =>
      assert(u.startsWith("https://www."), u)
      assert(!u.contains(":443") && !u.contains("utm_") &&
        !u.contains("#") && !u.endsWith("/"), u)
      assert(u.toLowerCase(java.util.Locale.ROOT)
        .substring(0, u.indexOf("/docs/")) ==
        u.substring(0, u.indexOf("/docs/")), s"host not lowercased: $u")
    }
    // the planted variants genuinely collide: fewer groups than rows
    assert(out.count() < docs.count())
    out.unpersist()
  }

  test("bloom-prefiltered incremental dedup is exactly the plain anti-join") {
    val docs = Tables.t(spark, sfDir, "documents")
    val bloom = graft.SparkEntry.queries("ext_dedup_bloom")(spark, sfDir)
    // reference: the non-bloom digest-store path over the same fixture
    val corpusFp = docs.filter($"doc_id" < 400)
      .select(md5($"text").as("fp")).distinct()
    val expected = docs.filter($"doc_id" % 8 === 0 && $"doc_id" < 400)
      .unionAll(docs.filter($"doc_id" >= 400))
      .select(($"doc_id" + 10000).as("doc_id"), md5($"text").as("fp"))
      .groupBy("fp").agg(min($"doc_id").as("doc_id"))
      .join(corpusFp, Seq("fp"), "left_anti")
      .select($"doc_id", $"fp")
    assert(bloom.count() == expected.count())
    assert(bloom.join(expected, Seq("doc_id", "fp"), "left_anti").count() == 0)
    // the planted duplicates (doc_id % 8, already in the corpus) were
    // all rejected; every admitted id is a genuinely-new >= 400 row
    assert(bloom.filter($"doc_id" < 10400).count() == 0)
    assert(bloom.count() > 0)
  }

  test("near-dup soft weights reconcile with the cluster sizes") {
    val soft = graft.SparkEntry.queries("ext_dedup_soft")(spark, sfDir)
      .as[(Long, Long, Double)].collect()
    val comps = graft.SparkEntry.queries("ext_dedup_clusters")(spark, sfDir)
      .as[(Long, Long)].collect()
    val sizes = comps.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val compOf = comps.toMap
    assert(soft.length == comps.length)
    soft.foreach { case (id, n, w) =>
      assert(n == sizes(compOf(id)), s"doc $id members $n")
      assert(w == 1.0 / n)
    }
    // the planted %4 mutants pair with their originals: some clusters > 1
    assert(soft.exists(_._2 > 1) && soft.exists(_._2 == 1))
  }

  test("empty digest store admits the whole batch through the bloom path") {
    val tmp = java.nio.file.Files.createTempDirectory("bloomstore").toString
    val empty = spark.range(0).selectExpr("CAST(NULL AS STRING) AS text")
    Dedup.buildDigestStore(empty, "text", s"$tmp/store")
    val batch = Seq((1L, "alpha"), (2L, "beta"), (3L, "alpha"))
      .toDF("id", "text")
    val out = Dedup.digestStoreFilterBloom(spark, s"$tmp/store", batch,
      "id", "text")
    // batch-internal dup keeps the min id; all content admitted
    assert(out.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }
}
