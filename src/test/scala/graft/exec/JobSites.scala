package graft.exec

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Counts the Spark jobs a block of code issues, by call site. A job
  * run for a SQL execution takes the call site of the action that
  * started the execution (`isEmpty at Constraints.scala:305`, the
  * execution's description), so jobs AQE submits from other threads
  * are attributed to the right source file; any other job takes the
  * name of its final stage. */
final class JobSites(spark: SparkSession) extends SparkListener {
  private val execSite = mutable.Map[Long, String]()
  private val sites = mutable.ArrayBuffer[String]()
  private val fence = "graft-jobsites-fence"
  @volatile private var fences = 0

  spark.sparkContext.addSparkListener(this)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized {
      execSite(x.executionId) = x.rootExecutionId.flatMap(execSite.get)
        .getOrElse(x.description)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    if (props.flatMap(p => Option(p.getProperty("spark.job.description")))
        .contains(fence)) fences += 1
    else {
      val exec = props.flatMap(p =>
        Option(p.getProperty("spark.sql.execution.id")))
      sites += exec.flatMap(id => execSite.get(id.toLong)).getOrElse(
        if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
    }
  }

  /** Wait until the listener has seen every job started so far: the
    * bus delivers events in order, so a fence job's start arriving
    * means every earlier job's start has. */
  private def drain(): Unit = {
    val want = fences + 1
    val sc = spark.sparkContext
    sc.setJobDescription(fence)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setJobDescription(null)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (fences < want && System.nanoTime() < deadline) Thread.sleep(5)
    assert(fences >= want, "listener bus did not deliver the fence job")
  }

  /** Run `body`; return its result and the call sites of the jobs it
    * issued. */
  def during[T](body: => T): (T, Seq[String]) = {
    drain()
    val from = synchronized(sites.size)
    val out = body
    drain()
    (out, synchronized(sites.drop(from).toSeq))
  }

  /** The number of jobs `body` issued from source file `file`. */
  def jobsFrom(file: String)(body: => Any): Int =
    during(body)._2.count(_.contains(s" at $file:"))

  def stop(): Unit = spark.sparkContext.removeSparkListener(this)
}
