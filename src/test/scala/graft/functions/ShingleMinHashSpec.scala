package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the fused shingle→hot-subtract→MinHash kernel to the staged
  * formulation it replaced:
  * `minhash_array(array_except(shingle_hashes(text, k), hot), n)`.
  * Any divergence (windowing, hashing, hot subtraction, the
  * empty→NULL contract) would silently change near-dup recall.
  */
class ShingleMinHashSpec extends SparkSpec {
  import spark.implicits._

  private val k = 8
  private val n = 32

  private def staged(text: org.apache.spark.sql.Column,
                     hot: org.apache.spark.sql.Column) =
    MinHashArray.minhash_array(
      array_except(ShingleHashes.shingle_hashes(text, k), hot), n)

  private val texts: Seq[String] = Seq(
    "the quick brown fox jumps over the lazy dog",
    "aaaaaaaaaaaaaaaaaaaaaaaa",        // heavy duplicate windows
    "short",                            // below shingle length → NULL
    "",                                 // empty → NULL
    "exactly8!",                        // one window + one more
    "ünïcödé ström with mültibyte çharacters flowing по реке 漢字漢字漢字",
    "mixed ascii with 漢 one wide char",
    null,                               // null text → NULL
    "the quick brown fox jumps over the lazy dog extended with more prose"
  ) ++ Seq.tabulate(40)(i => s"synthetic document number $i with shared boilerplate suffix common to all rows")

  test("bit-identical to minhash_array(array_except(shingle_hashes)) — " +
      "empty hot list") {
    val df = texts.toDF("text").select(
      staged(col("text"), typedLit[Array[Long]](Array.emptyLongArray)).as("expected"),
      ShingleMinHash.shingle_minhash(
        col("text"), typedLit[Array[Long]](Array.emptyLongArray), k, n).as("actual"))
    df.collect().foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1), s"null mismatch: $r")
      if (!r.isNullAt(0)) assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    }
  }

  test("bit-identical with a non-trivial hot list (incl. all-hot → NULL)") {
    // hot = every shingle of the boilerplate suffix → the synthetic
    // rows keep only their distinct prefix shingles; make one row
    // ALL-hot to pin the NULL contract
    val hotRow = "with shared boilerplate suffix common to all rows"
    val hot: Array[Long] = {
      val arr = ShingleHashes.computeRaw(
        org.apache.spark.unsafe.types.UTF8String.fromString(hotRow), k)
      arr
    }
    val df = (texts :+ hotRow).toDF("text").select(
      col("text"),
      staged(col("text"), typedLit[Array[Long]](hot)).as("expected"),
      ShingleMinHash.shingle_minhash(col("text"), typedLit[Array[Long]](hot), k, n).as("actual"))
    val rows = df.collect()
    rows.foreach { r =>
      assert(r.isNullAt(1) == r.isNullAt(2), s"null mismatch: $r")
      if (!r.isNullAt(1)) assert(r.getSeq[Long](1) == r.getSeq[Long](2))
    }
    // the all-hot row really exercised the NULL branch
    val allHot = rows.find(r => !r.isNullAt(0) && r.getString(0) == hotRow).get
    assert(allHot.isNullAt(2), "all-hot document must yield a NULL signature")
  }

  test("MinHashArray yields NULL on an empty array (doc drops out of banding)") {
    val df = Seq(("d1", Seq.empty[Long]), ("d2", Seq(1L, 2L, 3L)))
      .toDF("id", "sset")
      .select(col("id"), MinHashArray.minhash_array(col("sset"), 8).as("sig"))
    assert(df.filter(col("sig").isNull).select("id").as[String].collect().toSeq == Seq("d1"))
    assert(df.filter(col("sig").isNotNull).select("id").as[String].collect().toSeq == Seq("d2"))
  }

  test("minHashPairs end-to-end output is unchanged by the fusion " +
      "(planted near-dups at 313-doc scale)") {
    // mirror of the ext_dedup_minhash corpus shape on a local frame:
    // fused pipeline must find exactly the pairs the staged kernel
    // found — DedupSpec pins recall, this pins the refactor
    val base = (0L until 60L).map { i =>
      // long unique body per doc (seeded) over a short shared prefix:
      // background Jaccard stays far below the 0.5 threshold while the
      // planted " zzz" mutants sit near 0.95
      val unique = new scala.util.Random(i).alphanumeric.take(64).mkString
      (i, s"document number $i body $unique")
    }
    val corpus = (base ++ base.filter(_._1 % 4 == 0)
        .map { case (i, t) => (i + 10000L, t + " zzz") })
      .toDF("doc_id", "text")
    val pairs = graft.ops.Dedup.minHashPairs(corpus, "doc_id", "text",
        numHashes = 32, bands = 8, threshold = 0.5,
        maxShingleDf = 150, maxBucket = 64)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val expected = base.filter(_._1 % 4 == 0).map(p => (p._1, p._1 + 10000L)).toSet
    assert(pairs == expected, s"planted pairs: got $pairs")
  }
}
