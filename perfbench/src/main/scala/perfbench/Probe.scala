package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

import graft.llm.LlmCallback

/** One timed call into a layer. Times are epoch nanoseconds, so spans
  * line up with the millisecond timestamps of Spark's listener events. */
final case class Span(id: Int, name: String, start: Long, end: Long,
                      parent: Int, request: String, site: String = "") {
  def dur: Long = end - start
}

/** A finished Spark job with its completed stages' task metrics. */
final case class JobRec(callSite: String, startMs: Long, endMs: Long,
                        stages: Int, tasks: Long, taskRunMs: Long,
                        shuffleRead: Long, shuffleWrite: Long, spill: Long) {
  def module: String = callSite.split(" at ").lastOption
    .map(_.takeWhile(_ != '.')).getOrElse("")
}

/** Catalyst phase times of one executed query, from its tracker. */
final case class PlanRec(startMs: Long, analysisMs: Long,
                         optimizationMs: Long, planningMs: Long)

/** Spark-side recorder: every job with its call site (`count at
  * Hashing.scala:42` attributes the job to the module that issued it)
  * and stage metrics, and every executed query's planning phases. */
final class SparkRecorder extends SparkListener with QueryExecutionListener {
  private case class Open(callSite: String, start: Long, stageIds: Seq[Int])
  private case class StageM(tasks: Int, runMs: Long, read: Long, write: Long,
                            spill: Long)
  private val open = scala.collection.mutable.Map[Int, Open]()
  private val execSite = scala.collection.mutable.Map[Long, String]()
  private val stageMs = scala.collection.mutable.Map[Int, StageM]()
  val jobs = ArrayBuffer[JobRec]()
  val plans = ArrayBuffer[PlanRec]()

  // a SQL execution's description is its action's call site; the jobs it
  // runs (AQE submits them from other threads) carry its id
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized {
      execSite(x.executionId) = x.rootExecutionId.flatMap(execSite.get)
        .getOrElse(x.description)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    // outside SQL, the final stage is named by the job's call site
    val site = exec.flatMap(id => execSite.get(id.toLong)).getOrElse(
      if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
    open(e.jobId) = Open(site, e.time, e.stageIds)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val si = e.stageInfo
      val tm = si.taskMetrics
      if (tm != null)
        stageMs(si.stageId) = StageM(si.numTasks, tm.executorRunTime,
          tm.shuffleReadMetrics.totalBytesRead,
          tm.shuffleWriteMetrics.bytesWritten,
          tm.memoryBytesSpilled + tm.diskBytesSpilled)
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { o =>
      val st = o.stageIds.flatMap(stageMs.remove)
      jobs += JobRec(o.callSite, o.start, e.time, st.size,
        st.map(_.tasks.toLong).sum, st.map(_.runMs).sum, st.map(_.read).sum,
        st.map(_.write).sum, st.map(_.spill).sum)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = record(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()

  /** Phases of one query execution (also used for the eagerly analysed
    * DataFrame that `Runner.runSql` returns, which no action reports). */
  def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    val start = ph.values.map(_.startTimeMs).reduceOption(_ min _).getOrElse(0L)
    synchronized { plans += PlanRec(start, ms("analysis"), ms("optimization"), ms("planning")) }
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def drain(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
}

/** Wraps calls into the library's layers. With tracing off a call runs
  * bare; with tracing on it records a span (name, start, end, parent,
  * request id) in memory, written out once at the end of the run. */
final class Probe(val tracing: Boolean) {
  // epoch ns = nanoTime + offset, fixed once so spans stay monotonic
  private val offset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = System.nanoTime() + offset

  val spans = ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var request = ""

  def span[T](name: String)(f: => T): T =
    if (!tracing) f
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += null
      stack = id :: stack
      val t0 = now()
      try f
      finally {
        spans(id) = Span(id, name, t0, now(), parent, request)
        stack = stack.tail
      }
    }

  /** A root span: one question, statement, key run or ingest. */
  def request[T](kind: String, id: String)(f: => T): T = {
    request = id
    try span(kind)(f) finally request = ""
  }
}

/** The LLM callback the workloads hand to the library: counts calls and
  * prompt characters per phase and, when tracing, records an `llm` span. */
final class CountingLlm(inner: LlmCallback, probe: Probe) extends LlmCallback {
  var calls = 0L
  var promptChars = 0L
  def apply(prompt: String): String = probe.span("llm") {
    calls += 1
    promptChars += prompt.length
    inner(prompt)
  }
}
