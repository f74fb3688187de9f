package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Dev-only timing probe (not part of the correctness surface): phase
  * timings for the minhash pipeline at the bench corpus. Run manually:
  * sbt "testOnly graft.ops.MinHashPerfProbe"
  */
class MinHashPerfProbe extends SparkSpec {

  private def corpus = {
    val docs = Tables.t(spark, "/root/testdata/sf0.1", "documents")
      .filter(col("doc_id") < 250).select(col("doc_id"), col("text"))
    docs.unionAll(
      docs.filter(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 10000).as("doc_id"),
          concat(col("text"), lit(" zzz")).as("text")))
  }

  test("phase timings") {
    assume(new java.io.File("/root/testdata/sf0.1").isDirectory)
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[probe] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    // warm
    corpus.count()
    t("hashed sets build+persist") {
      Dedup.hashedShingleSets(corpus, "doc_id", "text").persist().count()
    }
    val sets = Dedup.hashedShingleSets(corpus, "doc_id", "text").persist()
    sets.count()
    val sh = sets.select(col("id"), explode(col("sset")).as("s"))
    t("hot census") {
      sh.groupBy("s").agg(count(lit(1)).as("df")).filter(col("df") > 150).count()
    }
    val capped = t("anti-join count") { Dedup.dropHotShingles(sh, 150).count() }
    println(s"[probe] capped rows: $capped")
    val sigs = corpus.select(col("doc_id").as("id"),
        graft.functions.ShingleMinHash.shingle_minhash(lower(col("text")),
          typedLit[Array[Long]](Array.emptyLongArray), 8, 32).as("sig"))
      .filter(col("sig").isNotNull)
    t("signatures") { sigs.count() }
    val cand = Dedup.lshCandidates(sigs, 32, 8, maxBucket = 64)
    t("candidates") { cand.count() }
    t("full minHashPairs") {
      Dedup.minHashPairs(corpus, "doc_id", "text", numHashes = 32, bands = 8,
        maxShingleDf = 150, maxBucket = 64).count()
    }
    t("full minHashPairs unguarded") {
      Dedup.minHashPairs(corpus, "doc_id", "text", numHashes = 32, bands = 8).count()
    }
  }
}
