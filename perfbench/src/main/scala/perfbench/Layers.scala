package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.LinkedHashMap

import perfbench.Main.{Ctx, mapper}

/** Per-layer numbers of a traced run, derived from the spans the probe
  * recorded and the jobs and queries the Spark recorder saw. Jobs and
  * queries are attributed to the innermost span that was open when they
  * started (one driver thread, so time order is attribution). */
object Layers {
  private val NsPerMs = 1000000L

  /** Union length of intervals clipped to [lo, hi]. */
  def unionLen(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.map { case (s, e) => (s max lo, e min hi) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) {
          if (curE > curS) total += curE - curS
          curS = s; curE = e
        } else curE = curE max e
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** Cached bytes and persisted RDDs now, as `<prefix>.…`. */
  def storage(c: Ctx, prefix: String): Unit = {
    val sc = c.spark.sparkContext
    c.layers(s"$prefix.cached_bytes") =
      sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble
    c.layers(s"$prefix.persisted_rdds") = sc.getPersistentRDDs.size.toDouble
  }

  /** Spans plus one synthetic `spark.jobs` span per job, parented to the
    * innermost span open at the job's start. */
  def withJobs(c: Ctx): Seq[Span] = {
    val spans = c.probe.spans.toSeq
    val byStart = spans.sortBy(_.start)
    val jobs = c.rec.jobs.toSeq.sortBy(_.startMs).zipWithIndex.map { case (j, i) =>
      val s = j.startMs * NsPerMs
      val owner = byStart.filter(x => x.start <= s && s < x.end)
        .sortBy(x => -x.start).headOption
      Span(spans.size + i, "spark.jobs", s, j.endMs * NsPerMs,
        owner.map(_.id).getOrElse(-1), owner.map(_.request).getOrElse(""),
        j.callSite)
    }
    spans ++ jobs
  }

  def compute(c: Ctx): Unit = {
    val all = withJobs(c)
    val byId = all.map(s => s.id -> s).toMap
    val children = all.filter(_.parent >= 0).groupBy(_.parent)
    def root(s: Span): Span = if (s.parent < 0) s else root(byId(s.parent))
    // self time: own duration minus explicit children minus the union of
    // the jobs it issued directly (broadcast jobs may overlap)
    def self(s: Span): Long = {
      val ch = children.getOrElse(s.id, Nil)
      val (jobs, spans) = ch.partition(_.name == "spark.jobs")
      if (s.name == "spark.jobs") s.dur
      else s.dur - spans.map(_.dur).sum -
        unionLen(jobs.map(j => (j.start, j.end)), s.start, s.end)
    }
    val roots = all.filter(s => s.parent < 0 && s.name != "spark.jobs")
    // the measured requests: warm-up, ingest, re-ingest and operator keys are not
    val measuredIds = c.samples.filter(_.measured).map(_.id).toSet
    val req = roots.filter(r => measuredIds(r.request))
    val n = req.size.max(1).toDouble
    val reqIds = req.map(_.id).toSet
    def inReq(s: Span) = reqIds(root(s).id)

    // per-layer self time per measured request: these sum to the request time
    val selfBy = LinkedHashMap[String, Double]()
    all.filter(s => s.name != "spark.jobs" && inReq(s)).foreach { s =>
      val key = if (s.parent < 0) "request" else s.name
      selfBy(key) = selfBy.getOrElse(key, 0.0) + self(s) / 1e9
    }
    selfBy("spark.jobs") = req.map { r =>
      val sub = all.filter(s => s.name == "spark.jobs" && root(s).id == r.id)
      // jobs are attributed to their innermost span; their wall time is
      // the part of the request no other layer's self time covers
      sub.groupBy(_.parent).map { case (p, js) =>
        val ps = byId(p)
        unionLen(js.map(j => (j.start, j.end)), ps.start, ps.end)
      }.sum
    }.sum / 1e9
    selfBy.foreach { case (k, v) => c.layers(s"self.$k" + "_s") = v / n }
    c.layers("trace.request_s") = req.map(_.dur).sum / 1e9 / n

    // jobs that started inside one of the given root spans
    def jobsIn(rs: Seq[Span]): Seq[JobRec] = c.rec.jobs.toSeq.filter { j =>
      val s = j.startMs * NsPerMs
      rs.exists(r => r.start <= s && s < r.end)
    }

    // Spark execution, per measured request
    val jobsByReq = jobsIn(req)
    c.layers("spark.jobs") = jobsByReq.size / n
    c.layers("spark.stages") = jobsByReq.map(_.stages).sum / n
    c.layers("spark.tasks") = jobsByReq.map(_.tasks).sum / n
    c.layers("spark.job_s") = jobsByReq.map(j => j.endMs - j.startMs).sum / 1e3 / n
    c.layers("spark.task_run_s") = jobsByReq.map(_.taskRunMs).sum / 1e3 / n
    c.layers("spark.shuffle_read_bytes") = jobsByReq.map(_.shuffleRead).sum / n
    c.layers("spark.shuffle_write_bytes") = jobsByReq.map(_.shuffleWrite).sum / n
    c.layers("spark.spill_bytes") = jobsByReq.map(_.spill).sum / n
    c.layers("driver_gap_s") = req.map { r =>
      val js = c.rec.jobs.toSeq.map(j => (j.startMs * NsPerMs, j.endMs * NsPerMs))
      r.dur - unionLen(js, r.start, r.end)
    }.sum / 1e9 / n

    // Catalyst phases of the queries run inside measured requests
    val plans = c.rec.plans.toSeq.filter { p =>
      val s = p.startMs * NsPerMs
      req.exists(r => r.start - NsPerMs <= s && s < r.end)
    }
    c.layers("plan.analysis_s") = plans.map(_.analysisMs).sum / 1e3 / n
    c.layers("plan.optimization_s") = plans.map(_.optimizationMs).sum / 1e3 / n
    c.layers("plan.planning_s") = plans.map(_.planningMs).sum / 1e3 / n

    // the library's layers, per measured request
    c.layers("text2sql.s") = selfBy.getOrElse("text2sql", 0.0) / n
    c.layers("exec.run_sql_s") = all.filter(s => s.name == "exec.run_sql" && inReq(s))
      .map(_.dur).sum / 1e9 / n
    c.layers("exec.result_s") = all.filter(s => s.name == "exec.result" && inReq(s))
      .map(_.dur).sum / 1e9 / n
    for (k <- Seq("insert", "upsert", "upsert_conflict", "update", "delete")) {
      val rs = req.filter(_.name == k)
      c.layers(s"exec.${k}_s") =
        if (rs.isEmpty) 0.0 else rs.map(_.dur).sum / 1e9 / rs.size
    }
    val writes = req.filter(r => !Set("read", "ask")(r.name))
    if (writes.nonEmpty) {
      val wj = jobsIn(writes)
      c.layers("dml.jobs_per_stmt") = wj.size.toDouble / writes.size
      c.layers("dml.tasks_per_stmt") = wj.map(_.tasks).sum.toDouble / writes.size
    }

    // ingest: Spark jobs of the cold ingests and the cache hits, by the
    // module whose call issued them
    def ingestJobs(kind: String): (Int, Seq[JobRec]) = {
      val rs = roots.filter(_.name == kind)
      (rs.size, jobsIn(rs))
    }
    val (ni, ij) = ingestJobs("ingest")
    if (ni > 0) {
      def modS(m: String) = ij.filter(_.module == m)
        .map(j => j.endMs - j.startMs).sum / 1e3 / ni
      c.layers("ingest.jobs") = ij.size.toDouble / ni
      c.layers("ingest.hash_s") = modS("Hashing")
      c.layers("ingest.snapshot_s") = modS("Snapshot")
      c.layers("ingest.cache_write_s") = modS("Ingestor")
      val llmS = all.filter(s => s.name == "llm" && root(s).name == "ingest")
        .map(_.dur).sum / 1e9 / ni
      c.layers("llm.s") = llmS
    }
    val (nr, rj) = ingestJobs("reingest")
    if (nr > 0) {
      c.layers("ingest.reingest_jobs") = rj.size.toDouble / nr
      c.layers("ingest.reingest_s") = rj.map(j => j.endMs - j.startMs).sum / 1e3 / nr
    }
  }

  /** All spans, one JSON object per line, written once at the end. */
  def writeSpans(c: Ctx, path: Path): Unit = {
    val lines = withJobs(c).map(s => mapper.writeValueAsString(LinkedHashMap(
      "id" -> s.id, "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end,
      "parent" -> s.parent, "request" -> s.request, "site" -> s.site)))
    Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}
