package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import scala.util.Random
import graft.ops.PlanSlots.Slotted

/** Similarity search over embedding columns (Array[Float]).
  *
  * Brute-force cosine is the exact baseline (one scan + TakeOrdered —
  * fine when the query side is a handful of vectors). The scale path
  * is random-hyperplane LSH: a deterministic seeded set of hyperplanes
  * maps each vector to a sign-bit bucket key; searching probes the
  * query's bucket (and optionally near buckets), turning top-k into a
  * bucketed scan of a small fraction of the corpus.
  */
object Similarity {

  /** Cosine similarity column between an embedding column and a fixed
    * query vector (folded into the plan as a literal array — no UDF,
    * stays inside whole-stage codegen via higher-order functions).
    */
  def cosineToQuery(embCol: Column, q: Seq[Float]): Column = {
    val qNorm = math.sqrt(q.map(v => v.toDouble * v.toDouble).sum)
    if (qNorm == 0.0) return lit(0.0) // zero query → sim 0 everywhere
    val qArr = array(q.map(lit(_)): _*)
    val dot = aggregate(
      zip_with(embCol, qArr, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val nrm = sqrt(aggregate(
      transform(embCol, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))
    // zero-norm rows score 0.0 (matching cos() and the fused
    // CosineSimilarity), never null / ANSI divide-by-zero
    when(nrm === 0.0, lit(0.0)).otherwise(dot / (nrm * lit(qNorm)))
  }

  /** Exact top-k by cosine: score scan → TakeOrderedAndProject. The
    * scoring uses the FUSED codegen kernel (cosine_sim) — this backs
    * every ANN probe's candidate scan; the deliberately-HOF baseline
    * lives inline in the ext_sim_search key, not here.
    */
  def bruteForceTopK(emb: DataFrame, idCol: String, embCol: String,
                     q: Seq[Float], k: Int): DataFrame = {
    // norm-hoist (guide §1.2 step 2): the query norm is a driver
    // constant — accumulate it in the exact per-index double sequence
    // the fused kernel uses (`ny += yi*yi`, float→double per element)
    // so the hoisted division is bit-identical for uniform-dim corpora
    // (see DotProduct). Per corpus row the kernel then does dot + row
    // norm instead of dot + both norms: a third fewer flops on the
    // scan that IS this operator's cost at corpus scale.
    var qsq = 0.0
    q.foreach { x => val xd = x.toDouble; qsq += xd * xd }
    val qnorm = math.sqrt(qsq)
    val e = col(embCol).cast("array<float>")
    // r13: the corpus norm is PROJECTED once and referenced by name in
    // cosine_from_norms' zero-guard AND divisor. Passing vec_norm(e)
    // inline built the sqrt(dot_product(e, e)) tree twice in one
    // projection, and conditional subexpression elimination is not
    // guaranteed to merge an always-evaluated guard with a
    // conditionally-evaluated divisor — the hoisted norm was computed
    // twice per row on every single-probe path. CollapseProject keeps
    // the extra Project because the alias is non-cheap and referenced
    // twice, so the plan shows ONE SQRT(dot_product) per row.
    emb.withColumn("__graft_norm", graft.functions.GraftFunctions.vec_norm(e))
      .withColumn("sim", graft.functions.GraftFunctions.cosine_from_norms(
        e, array(q.map(lit(_)): _*).cast("array<float>"),
        col("__graft_norm"), lit(qnorm)))
      .select(col(idCol), col("sim"))
      .orderBy(desc("sim"), asc(idCol))
      .limit(k)
  }

  /** Deterministic pseudo-random hyperplanes (seeded). */
  def hyperplanes(dim: Int, nBits: Int, seed: Long = 42L): Seq[Seq[Float]] = {
    val rnd = new Random(seed)
    Seq.fill(nBits)(Seq.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat))
  }

  /** Sign-bit LSH bucket key for an embedding column. */
  def lshKey(embCol: Column, planes: Seq[Seq[Float]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val pArr = array(p.map(lit(_)): _*)
      val dot = aggregate(
        zip_with(embCol, pArr, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v)
      when(dot >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** IVF (inverted-file) cell assignment: each vector goes to its
    * most-cosine-similar coarse centroid. Centroids are index
    * metadata (driver-side, like a query vector); here they are the
    * first `nCentroids` corpus vectors — a production build would
    * k-means them, the plumbing is identical. At scale the assigned
    * table is written partitioned by `cell`, so probing is partition
    * pruning.
    */
  def ivfAssign(emb: DataFrame, idCol: String, embCol: String,
                centroids: Seq[Seq[Float]]): DataFrame =
    // array_max on (sim, cid) structs picks the best cell per row
    emb.withColumn("cell",
      array_max(centroidCellStructs(col(embCol), centroids))
        .getField("cid"))

  /** The per-row (sim, cid) struct ARRAY over all centroids — THE
    * cell-scoring expression shared by index assignment ([[ivfAssign]])
    * and batch probe-cell ranking ([[ivfKnnJoin]]); a private copy in
    * either would let the two silently diverge and destroy recall.
    *
    * Shape history: r12 collapsed nCentroids separate
    * `cosine_sim(emb, array(dim lits))` branches (≈4,300 plan nodes at
    * 64×64, measured ≈0.3-0.5 s of driver plan time per invocation)
    * into one literal + `transform` HOF; r13 replaces the HOF with the
    * dedicated [[graft.functions.CentroidCellScores]] expression
    * because ArrayTransform is CodegenFallback — the lambda evaluated
    * cosine_sim through interpreted `nullSafeEval` with boxing, which
    * was fine at PROBE volume but ran over the FULL corpus in
    * [[buildIvfIndex]]/[[ivfAdd]] (~nCentroids interpreted evals per
    * corpus row on the scale-critical index-build path). The compiled
    * expression keeps O(1) plan nodes AND whole-stage codegen on both
    * paths; element order, struct shape and per-cell sims are
    * bit-identical to both prior forms (CentroidCellScoresSpec pins
    * equivalence against the HOF formulation, including null
    * embeddings and zero vectors). */
  private def centroidCellStructs(embCol: Column,
                                  centroids: Seq[Seq[Float]]): Column =
    graft.functions.CentroidCellScores.centroid_cell_scores(embCol, centroids)

  /** Driver-side sign-bit key for a query vector (the exact mirror of
    * the corpus-side [[lshKey]]). */
  private def signKey(planes: Seq[Seq[Float]], q: Seq[Float]): Long =
    planes.zipWithIndex.map { case (p, i) =>
      val dot = p.zip(q).map { case (a, b) => a.toDouble * b.toDouble }.sum
      if (dot >= 0) 1L << i else 0L
    }.sum

  /** Driver-side centroid ranking: indexes of the `nProbe` most
    * query-similar cells. */
  private def rankCells(centroids: Seq[Seq[Float]], q: Seq[Float],
                        nProbe: Int): Seq[Int] =
    centroids.zipWithIndex.map { case (c, i) => (cos(c, q), i) }
      .sortBy(-_._1).take(nProbe).map(_._2)

  private def cos(a: Seq[Float], b: Seq[Float]): Double = {
    val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
    val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
    if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
  }

  /** Spherical k-means coarse centroids from a BOUNDED deterministic
    * sample — the standard way ANN coarse quantizers are trained
    * (sample-train, never full-corpus): top-`sampleN` rows by content
    * hash (deterministic pseudo-random order, TakeOrdered — no full
    * sort), Lloyd iterations driver-side on the sample, centroids
    * normalized so cosine assignment = dot product. Balanced on real
    * data, unlike "first N vectors by id".
    */
  def kmeansCentroids(emb: DataFrame, embCol: String, k: Int,
                      iters: Int = 8, sampleN: Int = 2000): Seq[Seq[Float]] = {
    val sample: Array[Array[Double]] = emb.select(col(embCol))
      .filter(col(embCol).isNotNull)
      .orderBy(xxhash64(col(embCol)))
      .limit(sampleN)
      .collect().map(_.getSeq[Float](0).map(_.toDouble).toArray)
      // ragged vectors would AIOOBE the dot loops below — train on the
      // majority dimension only
      match { case arr =>
        if (arr.isEmpty) arr
        else {
          val dim0 = arr.groupBy(_.length).maxBy(_._2.length)._1
          arr.filter(_.length == dim0)
        }
      }
    require(sample.length >= k, s"need >= $k sample vectors, got ${sample.length}")
    val dim = sample.head.length
    def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }
    val pts = sample.map(normalize)
    // init: evenly spaced picks from the hash-shuffled sample
    var cents = Array.tabulate(k)(i => pts(i * pts.length / k).clone())
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      pts.foreach { p =>
        var best = 0; var bestDot = Double.MinValue
        var c = 0
        while (c < k) {
          var dot = 0.0; var i = 0
          while (i < dim) { dot += p(i) * cents(c)(i); i += 1 }
          if (dot > bestDot) { bestDot = dot; best = c }
          c += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += p(i); i += 1 }
        counts(best) += 1
      }
      cents = Array.tabulate(k)(c =>
        if (counts(c) == 0) cents(c) else normalize(sums(c)))
    }
    cents.map(_.map(_.toFloat).toSeq).toSeq
  }

  /** Materialized IVF index: parquet corpus written `partitionBy(cell)`
    * plus driver-side centroid metadata. Probing a built index is a
    * PARTITION-PRUNED scan — only the probed cells' files are read,
    * which is the entire point of IVF at corpus scale.
    */
  final case class IvfIndex(path: String, centroids: Seq[Seq[Float]])

  /** OPEN index handles: the resolved parquet relation (schema +
    * partition-directory listing) per (session, path), reused across
    * probes. Without this every probe re-runs partition discovery —
    * above `spark.sql.sources.parallelPartitionDiscovery.threshold`
    * (default 32) that is a whole distributed listing JOB per query,
    * which measured ~2× the probe's actual data scan. Every mutation
    * of a path (rebuild, append) invalidates its handle, so a probe
    * can never serve a stale file list. This is the contract real ANN
    * serving uses: indexes are opened once, probed many times.
    */
  private val openIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  private def openIndex(spark: org.apache.spark.sql.SparkSession,
                        path: String): DataFrame = {
    // keyed by path alone, with the handle's owning SESSION checked by
    // identity on every hit: a handle cached by a stopped (or merely
    // different) session is replaced, never served — and the map can
    // hold at most one entry per index path, so dead sessions cannot
    // pin an unbounded set of relations for the JVM's lifetime
    val cached = openIndexes.get(path)
    if (cached != null && (cached.sparkSession eq spark)) cached
    else {
      val df = spark.read.parquet(path)
      openIndexes.put(path, df)
      df
    }
  }

  private def invalidateIndex(path: String): Unit =
    openIndexes.remove(path)

  def buildIvfIndex(emb: DataFrame, idCol: String, embCol: String,
                    path: String, nCentroids: Int = 16): IvfIndex = {
    val centroids = kmeansCentroids(emb, embCol, nCentroids)
    // canonical 2-column layout: indexColumns (used by the append
    // path) reads the stored schema positionally, so the build must
    // never write extra or reordered columns.
    // repartition(cell) BEFORE partitionBy: without it every write
    // task emits one file into every cell it holds rows for (tasks ×
    // cells tiny files — measured 0.56 s probe vs 0.34 s brute force
    // at 100k vectors, the probe drowned in open/list overhead);
    // clustered, each cell is one compact file and the pruned probe
    // reads exactly nProbe of them
    ivfAssign(emb.select(col(idCol), col(embCol)), idCol, embCol, centroids)
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(path)
    invalidateIndex(path)
    IvfIndex(path, centroids)
  }

  /** INCREMENTAL index maintenance: assign a batch of new vectors to
    * the EXISTING centroids and append them into their cell
    * partitions (`append` + `partitionBy` touches only the cells the
    * batch lands in). The centroids deliberately do not move — probes
    * against old and new vectors stay consistent, and the periodic
    * full rebuild (when drift accumulates) is [[buildIvfIndex]]
    * again. This is the standard serving-index contract: cheap adds,
    * occasional retrain.
    */
  /** The stored (id, emb) column names of a built index — appends must
    * write EXACTLY this schema or parquet accumulates divergent files
    * that resolve to nulls on read. */
  private def indexColumns(emb: DataFrame, path: String): (String, String) = {
    val stored = emb.sparkSession.read.parquet(path)
      .schema.fieldNames.filterNot(_ == "cell")
    (stored(0), stored(1))
  }

  def ivfAdd(index: IvfIndex, emb: DataFrame,
             idCol: String, embCol: String): IvfIndex = {
    // project AND rename to the stored index schema: a batch with
    // extra columns or different names must not append divergent files
    val (sid, semb) = indexColumns(emb, index.path)
    ivfAssign(emb.select(col(idCol).as(sid), col(embCol).as(semb)),
        sid, semb, index.centroids)
      .write.mode("append").partitionBy("cell").parquet(index.path)
    invalidateIndex(index.path)
    index
  }

  /** Probe a built IVF index: rank cells by centroid similarity
    * driver-side (index metadata), scan only the best `nProbe`
    * partitions, brute-force within them.
    */
  def ivfProbe(spark: org.apache.spark.sql.SparkSession, index: IvfIndex,
               idCol: String, embCol: String,
               q: Seq[Float], k: Int, nProbe: Int = 4): DataFrame = {
    require(index.centroids.head.length == q.length,
      s"query dim ${q.length} != index dim ${index.centroids.head.length}")
    val probeCells = rankCells(index.centroids, q, nProbe)
    val corpus = openIndex(spark, index.path)
      .filter(col("cell").isin(probeCells: _*))
    bruteForceTopK(corpus, idCol, embCol, q, k)
  }

  /** BATCH k-NN join against a built IVF index: every probe ROW gets
    * its k nearest index vectors among its `nProbe` most-similar
    * cells — the many-query analogue of [[ivfProbe]] (dataset
    * enrichment / retrieval, not one ad-hoc lookup). Cell ranking is
    * row-local on the probe side (centroids are broadcast literals,
    * exactly [[ivfAssign]] generalized to top-nProbe); the exploded
    * (probe, cell) set broadcasts, and because the equi-join key is
    * the index's PARTITION column, dynamic partition pruning skips
    * every cell no probe ranked — the batch analogue of ivfProbe's
    * driver-side `isin`, with no driver collect of any probe data.
    * Per-probe top-k runs on the bounded-heap GroupTopK operator, so
    * the probes·candidates score stream never globally sorts.
    *
    * Returns (probeIdCol, index id col, sim) rows — the index id is
    * suffixed `_nn` if it would collide with probeIdCol; `sim` is
    * rounded to 6 places so downstream tie-breaks are
    * engine-portable. Probe columns are renamed internally, so probe
    * frames may freely use the index's own column names (the natural
    * self-retrieval call) or carry extra columns.
    */
  def ivfKnnJoin(spark: org.apache.spark.sql.SparkSession, index: IvfIndex,
                 probes: DataFrame, probeIdCol: String, probeEmbCol: String,
                 k: Int, nProbe: Int = 4,
                 candidateFilter: Option[Column] = None): DataFrame = {
    // top-nProbe cells per probe: sort the (sim, cid) structs desc and
    // slice — row-local, no shuffle on the probe side
    val ranked = probeFrame(probes, probeIdCol, probeEmbCol)
      .withColumn("cells", slice(reverse(array_sort(
        centroidCellStructs(col(ProbeEmb), index.centroids))),
        1, nProbe))
      .withColumn("cell", explode(col("cells").getField("cid")))
      .select(col(ProbeId), col(ProbeEmb), col("cell"))
    knnJoinTail(openIndex(spark, index.path), ranked,
      probeIdCol, k, candidateFilter)
  }

  /** Internal reserved probe column names: renaming at the boundary
    * lets probe frames collide freely with the stored index columns
    * (the natural self-retrieval call passes the index's own names)
    * and with the internal cell/qkey working columns. */
  private val ProbeId = "__graft_probe_id"
  private val ProbeEmb = "__graft_probe_emb"
  private val ProbeNorm = "__graft_probe_norm"

  private def probeFrame(probes: DataFrame, probeIdCol: String,
                         probeEmbCol: String): DataFrame =
    probes.select(col(probeIdCol).as(ProbeId), col(probeEmbCol).as(ProbeEmb))

  /** The shared back half of the batch knn joins: broadcast the
    * (probe, cell) set so DPP prunes the index scan, score candidates
    * on the fused kernel, per-probe top-k on bounded heaps.
    * candidateFilter (e.g. exclude self-matches — every real
    * retrieval pipeline needs it) applies BEFORE the heaps so
    * excluded candidates never occupy a slot; it sees the index
    * columns under their stored names. */
  private def knnJoinTail(idx: DataFrame, ranked: DataFrame,
                          probeIdCol: String, k: Int,
                          candidateFilter: Option[Column]): DataFrame = {
    val stored = idx.schema.fieldNames.filterNot(_ == "cell")
    val (sid, semb) = (stored(0), stored(1))
    val cellTyped = ranked.withColumn("cell",
      col("cell").cast(idx.schema("cell").dataType))
      // norm-hoist (guide §1.2 step 2, per-task work): each side's norm
      // is a function of its OWN row, so compute it once per probe /
      // once per candidate instead of inside every (probe, candidate)
      // pair — a third of the flops of the fused cosine kernel on the
      // probes×candidates score stream, bit-identical for the
      // uniform-dim vectors an ANN index requires (see DotProduct).
      .withColumn(ProbeNorm,
        graft.functions.GraftFunctions.vec_norm(col(ProbeEmb)))
    val scored0 = idx
      .withColumn("__graft_cand_norm",
        graft.functions.GraftFunctions.vec_norm(col(semb)))
      .join(broadcast(cellTyped), Seq("cell"))
    val scored = candidateFilter.fold(scored0)(scored0.filter)
      .select(col(ProbeId), col(sid),
        round(graft.functions.GraftFunctions.cosine_from_norms(
          col(semb), col(ProbeEmb),
          col("__graft_cand_norm"), col(ProbeNorm)), 6).as("sim"))
    val sidOut = if (sid == probeIdCol) s"${sid}_nn" else sid
    graft.plans.GroupTopKOps.topK(scored, Seq(ProbeId),
        Seq("sim" -> true, sid -> false), k)
      .select(col(ProbeId).as(probeIdCol), col(sid).as(sidOut), col("sim"))
  }

  /** Batch k-NN join against a built sign-LSH index: each probe ROW
    * hashes to its bucket (the seeded hyperplanes are index metadata,
    * broadcast as literals) and probes every cell within `radius`
    * bit-flips — the Hamming-ball masks depend only on (nBits,
    * radius), so they fold into a literal array and the ball expands
    * ROW-LOCAL with one explode. The rest is [[knnJoinTail]]: DPP
    * prunes the index scan to the union of probed buckets.
    */
  def lshKnnJoin(spark: org.apache.spark.sql.SparkSession, index: LshIndex,
                 probes: DataFrame, probeIdCol: String, probeEmbCol: String,
                 k: Int, radius: Int = 1,
                 candidateFilter: Option[Column] = None): DataFrame = {
    require(index.nBits >= 1 && index.nBits <= maxLshIndexBits,
      s"index nBits ${index.nBits} outside [1, $maxLshIndexBits]")
    val masks = (0L until (1L << index.nBits))
      .filter(m => java.lang.Long.bitCount(m) <= radius)
    val ranked = probeFrame(probes, probeIdCol, probeEmbCol)
      .withColumn("qkey", lshKey(col(ProbeEmb), index.planes))
      .withColumn("cell", explode(array(
        masks.map(m => col("qkey").bitwiseXOR(lit(m))): _*)))
      .select(col(ProbeId), col(ProbeEmb), col("cell"))
    knnJoinTail(openIndex(spark, index.path), ranked,
      probeIdCol, k, candidateFilter)
  }

  /** Materialized sign-LSH index: corpus written `partitionBy(cell)`
    * on the nBits-bit bucket key; probing reads only the partitions
    * within the multi-probe Hamming radius.
    */
  final case class LshIndex(path: String, planes: Seq[Seq[Float]], nBits: Int)

  /** An LSH partition layout wants FEW buckets (each is a filesystem
    * partition, and [[lshProbe]] enumerates the 2^nBits key space
    * driver-side to find the Hamming ball) — 20 bits = 1M keys is the
    * sane ceiling; beyond that the layout is wrong before the probe
    * even starts. */
  private val maxLshIndexBits = 20

  def buildLshIndex(emb: DataFrame, idCol: String, embCol: String,
                    path: String, dim: Int, nBits: Int = 8,
                    seed: Long = 42L): LshIndex = {
    require(nBits >= 1 && nBits <= maxLshIndexBits,
      s"nBits must be in [1, $maxLshIndexBits] for a partitioned LSH index, got $nBits")
    val planes = hyperplanes(dim, nBits, seed)
    // canonical 2-column layout + cell clustering — see buildIvfIndex
    emb.select(col(idCol), col(embCol))
      .withColumn("cell", lshKey(col(embCol), planes))
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(path)
    invalidateIndex(path)
    LshIndex(path, planes, nBits)
  }

  /** Incremental add for the LSH index: bucket keys are pure functions
    * of content (the seeded hyperplanes travel in the index metadata),
    * so appended vectors land in exactly the cells a fresh rebuild
    * would give them — unlike IVF there is no drift and no retrain;
    * the layout only ever needs compaction (the opt_compact_sink pattern)
    * of its busiest cells.
    */
  def lshAdd(index: LshIndex, emb: DataFrame,
             idCol: String, embCol: String): LshIndex = {
    // same projection + rename discipline as [[ivfAdd]]: only the
    // stored index schema may reach the appended files
    val (sid, semb) = indexColumns(emb, index.path)
    emb.select(col(idCol).as(sid), col(embCol).as(semb))
      .withColumn("cell", lshKey(col(semb), index.planes))
      .write.mode("append").partitionBy("cell").parquet(index.path)
    invalidateIndex(index.path)
    index
  }

  def lshProbe(spark: org.apache.spark.sql.SparkSession, index: LshIndex,
               idCol: String, embCol: String,
               q: Seq[Float], k: Int, probes: Int = 1): DataFrame = {
    require(index.nBits >= 1 && index.nBits <= maxLshIndexBits,
      s"index nBits ${index.nBits} outside [1, $maxLshIndexBits] — rebuild with buildLshIndex")
    require(index.planes.head.length == q.length,
      s"query dim ${q.length} != index dim ${index.planes.head.length} — " +
        "a mismatch would silently probe the wrong cells")
    val qKey: Long = signKey(index.planes, q)
    // enumerate keys within the Hamming radius (index metadata — tiny
    // for the small nBits a partition layout wants) → IN-list on the
    // partition column → pruned scan
    val cells = (0L until (1L << index.nBits))
      .filter(c => java.lang.Long.bitCount(c ^ qKey) <= probes)
    val corpus = openIndex(spark, index.path)
      .filter(col("cell").isin(cells: _*))
    bruteForceTopK(corpus, idCol, embCol, q, k)
  }

  /** Approximate top-k via IVF: score the query against the
    * centroids, scan only the `nProbe` best cells brute-force.
    * (Query-time assignment variant; a standing corpus uses
    * [[buildIvfIndex]]/[[ivfProbe]] so the probe is partition-pruned.)
    */
  def ivfTopK(emb: DataFrame, idCol: String, embCol: String,
              q: Seq[Float], k: Int, nCentroids: Int = 16,
              nProbe: Int = 4): DataFrame = {
    val centroids = kmeansCentroids(emb, embCol, nCentroids)
    val probeCells = rankCells(centroids, q, nProbe).toSet
    val assigned = ivfAssign(emb, idCol, embCol, centroids)
    bruteForceTopK(
      assigned.filter(col("cell").isin(probeCells.toSeq: _*)),
      idCol, embCol, q, k)
  }

  /** Near-duplicate embedding PAIRS via sign-LSH banding — the
    * pairwise analog of [[Dedup.simHashPairs]], replacing the all-pairs
    * `v1 < v2` cross join that can never run at corpus scale.
    *
    * Shape: nBits sign bits per vector (seeded hyperplanes) → `bands`
    * band keys of nBits/bands bits → bucket equi-join on (band, key) →
    * DISTINCT candidate pairs → exact cosine on candidates only. Every
    * shuffle is on a band key or an id; no cartesian anywhere.
    *
    * Recall: a pair whose vectors lie in the same direction (true
    * duplicates — e.g. re-encoded/rescaled embeddings) has IDENTICAL
    * sign signatures, so it shares every band: recall 1 by
    * construction. For non-identical near-dups at cosine ≥ 0.9 the
    * per-band match probability is (1-θ/π)^r ≈ 0.857¹⁶ ≈ 0.084, and
    * 32 bands give 1-(1-0.084)³² ≈ 0.94 — the exact verification
    * keeps precision at 1 regardless.
    *
    * Band-key width is the SCALE parameter, not a tuning detail: with
    * r-bit keys a band has only 2^r buckets, so random (near-
    * orthogonal) vectors land ~N/2^r per bucket — at r=4 every bucket
    * saturates any cap once N ≳ 10⁵ and capped candidate generation
    * silently drops everything. The default r=16 (512 planes / 32
    * bands) holds ~65k buckets per band, pushing saturation out to
    * N ~ 2·10⁸ per... computing 512 sign bits per row is exactly why
    * [[graft.functions.SignBands]] exists (one fused loop; the HOF
    * formulation would need 512 lambdas and fall out of codegen).
    *
    * Skew guard: band buckets above `maxBucket` are dropped by the
    * shared [[Dedup.bucketPairs]] capped generator — identical
    * vectors share EVERY band bucket, so a b-copy duplicate cluster
    * (web corpora: b can be 10⁶) would otherwise emit bands·b²
    * candidate pairs from one task. Run exact dedup first (identical
    * bytes ⇒ hash-groupBy) so banding only ever sees near-dups;
    * the cap then bounds the residual worst case.
    */
  def lshNearDupPairs(emb: DataFrame, idCol: String, embCol: String,
                      dim: Int, threshold: Double, nBits: Int = 512,
                      bands: Int = 32, seed: Long = 42L,
                      maxBucket: Int = 4096): DataFrame = {
    require(nBits % bands == 0, "bands must divide nBits")
    val planes = hyperplanes(dim, nBits, seed)
      .map(_.map(_.toDouble).toArray).toArray
    // persisted ONCE, read by banding AND both verification sides: the
    // source scans once total. (Banding only needs band keys, but the
    // vectors are already cached for verification — deriving the
    // banding branch from the same cache costs nothing extra and
    // removes a whole source scan.) MEMORY_ONLY: evictable, row-local
    // recompute (see Dedup.exactJaccard).
    val withNorm = emb.select(col(idCol).as("id"), col(embCol).as("e"),
      sqrt(aggregate(transform(col(embCol), x => x.cast("double") * x.cast("double")),
        lit(0.0), (acc, v) => acc + v)).as("nrm"))
      .persistSlot("sim.lshNearDupPairs.vectors")
    val buckets = withNorm.select(col("id"),
        posexplode(graft.functions.SignBands.sign_bands(
          col("e").cast("array<float>"), planes, bands)).as(Seq("band", "key")))
      .select(col("id"), struct(col("band"), col("key")).as("bk"))
    val cand = Dedup.bucketPairs(buckets, maxBucket)
      .select(col("id1").as("v1"), col("id2").as("v2"))
    // verification re-joins vectors by id — candidates carry only ids
    // through the band join, so the wide vectors are never replicated
    // `bands` times through the shuffle
    cand
      .join(withNorm.as("x1"), col("v1") === col("x1.id"))
      .join(withNorm.as("x2"), col("v2") === col("x2.id"))
      .select(col("v1"), col("v2"),
        (aggregate(
          zip_with(col("x1.e"), col("x2.e"), (x, y) => x.cast("double") * y.cast("double")),
          lit(0.0), (acc, v) => acc + v) / (col("x1.nrm") * col("x2.nrm"))).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** SemDeDup-style semantic dedup (the published k-means formulation:
    * Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
    * through semantic deduplication"): spherical k-means partitions the
    * embedding space, candidate pairs are generated only WITHIN a
    * cluster, exact cosine verifies them, connected components group
    * the verified pairs, and the minimum id of each group survives as
    * its representative.
    *
    * Relation to [[lshNearDupPairs]]: one centroid assignment per
    * vector (a single row-local projection — no `bands`-way key
    * explosion), so the candidate stage shuffles each id ONCE, at the
    * cost of missing pairs that straddle a cluster boundary — exactly
    * the published recall trade-off. True duplicates (identical
    * direction, e.g. re-encoded/rescaled embeddings) share their
    * nearest centroid by construction, so dedup recall on them is 1.
    *
    * Scale shape: centroids are bounded driver metadata
    * ([[kmeansCentroids]], ≤2000-vector deterministic sample);
    * assignment is row-local; the only shuffles are the per-cell
    * pair generation (capped at `maxCluster` by the shared
    * [[Dedup.bucketPairs]] generator — an over-cap cell is dropped,
    * never exploded) and the id-keyed verification joins, which carry
    * ids only (vectors re-join by id, never replicated through the
    * candidate shuffle).
    *
    * Returns (id, rep, kept): every input id, its semantic-group
    * representative, and whether it survives the dedup.
    */
  def semanticDedup(emb: DataFrame, idCol: String, embCol: String,
                    nClusters: Int = 16, threshold: Double = 0.95,
                    maxCluster: Int = 4096): DataFrame = {
    val centroids = kmeansCentroids(emb, embCol, nClusters)
    // persisted ONCE, read by pair generation and both verify sides —
    // MEMORY_ONLY per the library-entry-point persist policy
    // (Dedup.exactJaccard): evictable, row-local recompute
    val assigned = ivfAssign(emb, idCol, embCol, centroids)
      .withColumn("nrm",
        sqrt(aggregate(transform(col(embCol), x => x.cast("double") * x.cast("double")),
          lit(0.0), (acc, v) => acc + v)))
      .persistSlot("sim.semanticDedup.assigned")
    val cand = Dedup.bucketPairs(
      assigned.select(col("cell").as("bk"), col(idCol).as("id")), maxCluster)
    val verified = cand
      .join(assigned.as("x1"), col("id1") === col(s"x1.$idCol"))
      .join(assigned.as("x2"), col("id2") === col(s"x2.$idCol"))
      .select(col("id1"), col("id2"),
        (aggregate(
          zip_with(col(s"x1.$embCol"), col(s"x2.$embCol"),
            (x, y) => x.cast("double") * y.cast("double")),
          lit(0.0), (acc, v) => acc + v) / (col("x1.nrm") * col("x2.nrm")))
          .as("sim"))
      .filter(col("sim") >= threshold)
    val nodes = assigned.select(col(idCol).as("id"))
    val comps = Dedup.components(verified, nodes)
    comps.groupBy("comp").agg(min(col("id")).as("rep"))
      .join(comps, "comp")
      .select(col("id"), col("rep"), (col("id") === col("rep")).as("kept"))
  }

  /** Approximate top-k: probe the buckets whose keys are within
    * Hamming distance `probes` of the query's key (multi-probe LSH).
    * At corpus scale the bucketed table would be written partitioned
    * by key so a probe is a partition-pruned scan.
    */
  def lshTopK(emb: DataFrame, idCol: String, embCol: String,
              q: Seq[Float], k: Int, nBits: Int = 12,
              probes: Int = 1, seed: Long = 42L): DataFrame = {
    require(nBits >= 1 && nBits <= 64,
      s"nBits must be in [1, 64] (a single sign-bit key), got $nBits — " +
        "shifts past 63 would silently alias bucket bits")
    val planes = hyperplanes(q.size, nBits, seed)
    val qKey: Long = signKey(planes, q)
    val keyed = emb.withColumn("lsh_key", lshKey(col(embCol), planes))
    val candidates = keyed.filter(
      expr(s"bit_count(lsh_key ^ ${qKey}L)") <= probes)
    bruteForceTopK(candidates, idCol, embCol, q, k)
  }
}
