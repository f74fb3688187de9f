package graft.ingest

import java.nio.file.Files

import graft.SparkSpec
import graft.llm.StubLlm
import graft.ops.Tables

/** Ingestion over the driver parquet tables — timestamps, JSON string
  * columns, and larger row counts than the GO CSVs; proves snapshot
  * serialization and metadata enrichment hold beyond the CSV path.
  */
class IngestParquetSpec extends SparkSpec {

  test("ingest parquet tables with timestamps and JSON columns") {
    val cacheDir = Files.createTempDirectory("graft_pq_cache_").toString
    val events = Tables.t(spark, sfDir, "events")
    val docs = Tables.t(spark, sfDir, "documents")

    val (results, hash) = Ingestor.ingest(spark, Seq(events, docs),
      llm = new StubLlm(), cacheDir = cacheDir)
    assert(results.size == 2)
    val Seq(eventsR, docsR) = results

    // snapshot holds typed values incl. timestamps rendered as strings
    assert(eventsR.valueFormat("ts").size == 5)
    assert(eventsR.valueFormat("value").head.isInstanceOf[java.lang.Double])
    assert(eventsR.columnKinds("ts") == "DATETIME")
    assert(eventsR.columnKinds("props") == "TEXT")
    assert(docsR.columnKinds("n_chars") == "NUMBER")

    // DDL renders parquet types
    assert(eventsR.ddl.contains("`ts` TIMESTAMP"))
    assert(eventsR.ddl.contains("`event_id` BIGINT"))
    assert(docsR.ddl.contains("`text` TEXT"))

    // the hash-named views are queryable
    val n = spark.sql(s"SELECT COUNT(*) AS n FROM `${eventsR.hash}`")
      .head().getLong(0)
    assert(n == events.count())

    // cache round-trip preserves everything through JSON
    val (cached, hash2) = Ingestor.ingest(spark, Seq(events, docs),
      llm = new StubLlm(), cacheDir = cacheDir)
    assert(hash2 == hash)
    assert(cached.map(_.ddl) == results.map(_.ddl))
    assert(cached.map(_.columnKinds) == results.map(_.columnKinds))

    // a cache hit re-registers each payload with the schema the hash
    // already covers: the same schema footer inference returns
    // (nullability included), and no job launched to register it
    val jobs = new graft.exec.JobSites(spark)
    try {
      cached.foreach { r =>
        val payload = java.nio.file.Paths.get(cacheDir, hash, r.hash).toString
        assert(spark.table(s"`${r.hash}`").schema ==
          spark.read.parquet(payload).schema)
      }
      val (_, sites) = jobs.during(Ingestor.ingest(spark, Seq(events, docs),
        llm = new StubLlm(), cacheDir = cacheDir))
      // the hash jobs remain; the per-table footer reads are gone
      assert(!sites.exists(_.startsWith("parquet at Ingestor.scala")), sites)
    } finally jobs.stop()
  }
}
