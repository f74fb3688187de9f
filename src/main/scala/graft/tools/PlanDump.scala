package graft.tools

/** Dump `.explain("formatted")` for named queries to files — the
  * optimization-round evidence artifacts (plans/rNN/<key>_<tag>.txt).
  *   runMain graft.tools.PlanDump <outDir> <tag> [key1,key2,...]
  * With no key list, dumps every bench headline key. Fixture
  * materialization (expanded corpus, ANN indexes) runs first so the
  * dumped plan is the PROBE plan the bench times, not the build.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.create("graft-plandump",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    graft.ops.QueriesExt.warmFixtures(spark, sfDir)
    val keys: Seq[String] =
      if (args.length > 2) args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else Seq(
        "agg_sum_avg_min_max", "agg_count_distinct", "join_inner", "join_left",
        "join_semi", "topk", "win_agg_frame", "win_session", "subq_exists",
        "cte", "ext_dedup_exact", "ext_dedup_minhash", "ext_dedup_minhash_full",
        "ext_sim_search", "ext_sim_search_native", "ext_sim_search_ivf_indexed",
        "ext_sim_search_full", "ext_sim_search_ivf_indexed_full",
        "ext_knn_join_full", "ext_knn_join_ivf_full", "ext_text_quality",
        "ext_fingerprint", "ext_seq_packing", "ext_dedup_incr_fuzzy_full",
        "ext_rank_fusion", "ext_text_normalize", "ext_dedup_weights")
    val dir = java.nio.file.Paths.get(outDir)
    java.nio.file.Files.createDirectories(dir)
    keys.foreach { key =>
      val fn = graft.SparkEntry.queries(key)
      val plan = fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.write(dir.resolve(s"${key}_$tag.txt"),
        plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plandump] wrote ${key}_$tag.txt (${plan.length} chars)")
    }
    spark.stop()
  }
}
