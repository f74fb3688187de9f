package graft.tools

import graft.exec.Runner
import graft.ingest.Ingestor
import graft.llm.StubLlm

/** The reference's demo script (reference test.py) re-expressed on
  * this engine: load the GO-sales CSVs, ingest with schema enrichment
  * through the (stub) LLM, translate a natural-language question to
  * SQL, execute, print sample rows. Run:
  *   sbt "runMain graft.tools.Demo"
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.create("graft-demo", 4)

    val goDir = args.headOption.getOrElse("/root/reference/sample_data")
    val cacheDir = java.nio.file.Files.createTempDirectory("graft_demo_cache_").toString

    // the reference demo flow, call for call (reference test.py):
    // load every CSV in the directory, ingest, ask, execute
    val dfs = graft.Graft.readCsvDir(spark, goDir)
    val probe = new StubLlm()
    val (pre, _) = graft.Graft.ingest(spark, dfs, llm = probe, cacheDir = cacheDir)
    // files sort as go_1k, go_methods, go_products, go_retailers
    val salesR = pre(0); val productsR = pre(2)

    // the flagship question (reference test.py:24), answered through
    // the full prompt→SQL→execute path with a deterministic model
    val question = "What is the most popular product?"
    val llm = new StubLlm(Map(question ->
      ("SELECT p.`Product`, SUM(s.`Quantity`) AS total_qty " +
        s"FROM `${salesR.hash}` s JOIN `${productsR.hash}` p " +
        "ON s.`Product_number` = p.`Product_number` " +
        "GROUP BY p.`Product` ORDER BY total_qty DESC, p.`Product` LIMIT 1")))

    val result = graft.Graft.ask(spark, question, pre, llm)
    println(s"QUESTION: $question")
    Runner.resultJson(result).foreach(r => println(s"ANSWER: $r"))
    println(s"INGESTED_TABLES=${pre.size}")
    pre.foreach(r => println(
      s"  table=`${r.hash.take(8)}…` cols=${r.columnTypes.size} " +
        s"curriculum=${r.sqlCurriculum.size}"))
    spark.stop()
  }
}
