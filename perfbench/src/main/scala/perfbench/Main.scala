package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}
import graft.exec.Runner
import graft.ingest.{IngestResult, Ingestor}
import graft.llm.StubLlm
import graft.text2sql.{SqlDml, Text2Sql}

/** Benchmark harness: runs one workload against the library's public API
  * in a closed loop (one client, one driver thread) and writes the raw
  * samples, the answers to check and, when tracing, the per-layer
  * numbers and spans. `run.py` makes the inputs, checks the answers and
  * prints the metrics.
  *
  *   Main --inputs inputs.json --out result.json
  */
object Main {
  val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** One timed operation: a question, a statement, an ingest, a key run. */
  final case class Sample(id: String, kind: String, s: Double, ok: Boolean,
                          err: String = "", rows: Seq[String] = Nil,
                          count: Long = -1, measured: Boolean = true)

  final class Ctx(val spark: SparkSession, val in: JsonNode, val probe: Probe,
                  val rec: SparkRecorder, val work: Path) {
    val samples = ArrayBuffer[Sample]()
    /** Set-up time: from the JVM's start to the first measured request. */
    var setup = 0.0
    def ready(): Unit = setup = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val out = LinkedHashMap[String, Any]()
    val layers = LinkedHashMap[String, Double]()
    /** Measured blocks, fixed by the inputs, so every build under test
      * runs the same requests; `capS` only stops a run that overruns. */
    val blocks: Int = in.get("blocks").asInt()
    val capS: Double = in.get("cap_s").asDouble()
    val dataDir: String = in.get("data_dir").asText()
    def strs(field: String): Seq[String] =
      Option(in.get(field)).map(_.elements().asScala.map(_.asText()).toSeq)
        .getOrElse(Nil)
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Times `f` as one sample; a thrown error is a failed sample. Warm-up
    * samples are checked like the others but are not measured. */
  def timed(c: Ctx, id: String, kind: String, measured: Boolean = true)(
      f: => (Seq[String], Long)): Sample = {
    val t0 = System.nanoTime()
    val s =
      try {
        val (rows, n) = c.probe.request(kind, id)(f)
        Sample(id, kind, secs(t0), ok = true, rows = rows, count = n,
          measured = measured)
      } catch {
        case e: Throwable =>
          Sample(id, kind, secs(t0), ok = false,
            err = String.valueOf(e.getMessage).take(300), measured = measured)
      }
    c.samples += s
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val in = mapper.readTree(Paths.get(opts("inputs")).toFile)
    val trace = in.get("trace").asInt() == 1
    val spark = GraftSession.create("perfbench", in.get("cores").asInt())
    val rec = new SparkRecorder
    if (trace) rec.install(spark)
    val c = new Ctx(spark, in, new Probe(trace), rec,
      Paths.get(opts("out")).toAbsolutePath.getParent)
    in.get("workload").asText() match {
      case "ask" => Workloads.ask(c)
      case "dml" => Workloads.dml(c)
    }
    // queued listener events hold task metrics; on a slow host more of
    // them wait, so drain the bus before weighing the heap
    rec.drain(spark)
    c.out("retained_heap_mb") = retainedHeapMb()
    if (trace) {
      Layers.storage(c, "storage")
      c.layers("catalog.temp_views") =
        spark.catalog.listTables().collect().count(_.isTemporary).toDouble
      // the operator passes come after the workload's storage state is taken
      if (in.has("key_orders")) Workloads.operators(c)
      rec.drain(spark)
      Layers.compute(c)
      Layers.writeSpans(c, c.work.resolve("spans.jsonl"))
    }
    Workloads.dumpFinal(c)
    c.out("setup_s") = c.setup
    c.out("samples") = c.samples.toSeq
    c.out("layers") = c.layers
    Files.writeString(Paths.get(opts("out")), mapper.writeValueAsString(c.out))
    spark.stop()
  }

  /** Used heap after forced collections, in MiB: collections repeat
    * until the used heap stops shrinking, since the context cleaner
    * releases Spark state in the background between them. */
  def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    def used() = { System.gc(); Thread.sleep(100); rt.totalMemory() - rt.freeMemory() }
    var prev = used()
    var cur = used()
    var n = 2
    while (n < 10 && prev - cur > (256L << 10)) { prev = cur; cur = used(); n += 1 }
    cur / (1024.0 * 1024.0)
  }
}

object Workloads {
  import Main._

  val TpchTables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem")

  /** Logical table name → the quoted content-hash view ingest registered.
    * Generated SQL quotes it SQLite-style (text2sql resolves "…" names);
    * statements handed straight to runSql use backticks. */
  def bind(sql: String, hashes: Map[String, String], q: String = "\""): String =
    hashes.foldLeft(sql) { case (s, (t, h)) => s.replace(s"{$t}", q + h + q) }

  /** Cold ingest of the named inputs into a fresh cache directory, then
    * (for `ask`) the same DataFrames again: a cache hit. */
  def coldIngest(c: Ctx, llm: CountingLlm, tables: Seq[String], again: Boolean)
      : (Map[String, String], Seq[IngestResult]) = {
    val dfs = tables.map(t => c.spark.read.parquet(s"${c.dataDir}/$t.parquet"))
    val cache = c.work.resolve("cache").toString
    var res: Seq[IngestResult] = Nil
    val s = timed(c, "ingest", "ingest", measured = false) {
      res = Ingestor.ingest(c.spark, dfs, llm, cache)._1
      (Nil, res.size.toLong)
    }
    require(s.ok, s"ingest failed: ${s.err}")
    if (c.probe.tracing)
      c.layers("ingest.cache_bytes") = dirBytes(Paths.get(cache)).toDouble
    if (again) {
      // a cache hit still hashes every table before its lookup
      val r = timed(c, "reingest", "reingest", measured = false) {
        (Nil, Ingestor.ingest(c.spark, dfs, llm, cache)._1.size.toLong)
      }
      require(r.ok, s"reingest failed: ${r.err}")
    }
    (tables.zip(res.map(_.hash)).toMap, res)
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum

  /** Blocks of a seeded stream (every block has the same mix). Block 0
    * warms up; the next `c.blocks` are measured. A run past `c.capS`
    * stops after its current block (a safety net, not the run length). */
  def blocks(c: Ctx, field: String): Seq[Seq[JsonNode]] =
    c.in.get(field).elements().asScala.toSeq.groupBy(_.get("block").asInt())
      .toSeq.sortBy(_._1).map(_._2)

  def measure(c: Ctx, bs: Seq[Seq[JsonNode]])(run: (JsonNode, Boolean) => Unit): Unit = {
    bs.head.foreach(run(_, false))
    c.ready()
    val t0 = System.nanoTime()
    bs.slice(1, 1 + c.blocks).iterator.takeWhile(_ => secs(t0) < c.capS)
      .foreach(_.foreach(run(_, true)))
  }

  /** `ask`: the paper's path. Ingest (cold, then a cache hit), then a
    * seeded question stream through text2sql → runSql → resultJson. */
  def ask(c: Ctx): Unit = {
    val ingestLlm = new CountingLlm(new StubLlm(), c.probe)
    val (hashes, results) = coldIngest(c, ingestLlm, TpchTables, again = true)
    // a cache hit calls no model, so these are the cold ingest's
    c.layers("llm.ingest_calls") = ingestLlm.calls.toDouble
    c.layers("llm.ingest_prompt_chars") = ingestLlm.promptChars.toDouble
    val bs = blocks(c, "questions")
    // the "model knowledge": question → SQLite SQL over the ingested views
    val answers = bs.flatten.map(q =>
      q.get("text").asText() -> bind(q.get("sql").asText(), hashes)).toMap
    val llm = new CountingLlm(new StubLlm(answers), c.probe)
    var n = 0
    measure(c, bs) { (q, measured) =>
      timed(c, q.get("id").asText(), "ask", measured) {
        val sql = c.probe.span("text2sql")(
          Text2Sql.text2sql(q.get("text").asText(), results, llm))
        val df = c.probe.span("exec.run_sql")(Runner.runSql(c.spark, sql))
        if (c.probe.tracing) c.rec.record(df.queryExecution)
        (c.probe.span("exec.result")(Runner.resultJson(df)), -1L)
      }
      n += 1
    }
    c.layers("llm.ask_calls") = llm.calls.toDouble / n.max(1)
    c.layers("text2sql.prompt_chars") = llm.promptChars.toDouble / n.max(1)
  }

  /** Statement class, as the library's own DML detector sees it. */
  def stmtClass(sql: String): String = SqlDml.detect(sql) match {
    case Some(u: SqlDml.Upsert) =>
      if (u.conflict.isDefined) "upsert_conflict"
      else if (u.replace) "upsert"
      else "insert"
    case Some(_: SqlDml.Update) => "update"
    case Some(_: SqlDml.Delete) => "delete"
    case Some(_) => "ddl"
    case None => "read"
  }

  /** `dml`: PRIMARY KEY tables declared through runSql, then a seeded
    * mix of writes and reads on them. */
  def dml(c: Ctx): Unit = {
    val llm = new CountingLlm(new StubLlm(), c.probe)
    val (hashes, _) = coldIngest(c, llm, Seq("nation", "customer", "orders"), again = false)
    c.strs("setup_sql").foreach(d => Runner.runSql(c.spark, bind(d, hashes, "`")))
    measure(c, blocks(c, "statements")) { (st, measured) =>
      val sql = st.get("sql").asText()
      val kind = stmtClass(sql)
      timed(c, st.get("id").asText(), kind, measured) {
        val df = c.probe.span("exec.run_sql")(Runner.runSql(c.spark, sql))
        if (kind == "read") {
          if (c.probe.tracing) c.rec.record(df.queryExecution)
          (c.probe.span("exec.result")(Runner.resultJson(df)), -1L)
        } else (Nil, -1L)
      }
    }
  }

  /** The operator pass of a traced `ask` run, after its questions: the
    * execution-bound keys of the legacy bench, one pass per seeded key
    * order. The first pass is cold and builds the fixtures the keys need;
    * the rest are warm. Each key's result is dumped for the oracle check. */
  def operators(c: Ctx): Unit = {
    c.in.get("key_orders").elements().asScala.zipWithIndex.foreach { case (p, i) =>
      p.elements().asScala.map(_.asText()).foreach { key =>
        val fn = SparkEntry.queries(key)
        timed(c, s"$i:$key", "key", measured = false) {
          (Nil, c.probe.span("ops." + key)(fn(c.spark, c.dataDir).count()))
        }
      }
    }
    Layers.storage(c, "ops")
    val oracle = SparkEntry.oracleSql
    val keys = c.strs("keys").filter(oracle.contains)
    c.out("oracle_sql") = keys.map(k => k -> oracle(k)).toMap
    keys.foreach { k =>
      SparkEntry.queries(k)(c.spark, c.dataDir).write.mode("overwrite")
        .parquet(c.work.resolve("results").resolve(k).toString)
    }
  }

  /** After measuring: the final table states `run.py` checks (`dml`). */
  def dumpFinal(c: Ctx): Unit = if (c.in.has("final_tables")) {
    val fin = LinkedHashMap[String, Any]()
    c.in.get("final_tables").fields().asScala.foreach { e =>
      fin(e.getKey) = Runner.runSql(c.spark,
        s"SELECT * FROM ${e.getKey} ORDER BY ${e.getValue.asText()}")
        .toJSON.collect().toSeq
    }
    c.out("final") = fin
  }
}
