package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one JVM, forked by sbt). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.create("graft-spec", 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A reference session without the engine's extensions, on the shared
    * session's SparkContext and confs: the "rule off" side of the specs
    * that compare a rule's answers with Spark's own. The only session
    * not built by [[GraftSession.create]].
    */
  lazy val plain: SparkSession = {
    val shared = session
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try SparkSession.builder().getOrCreate()
    finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }
}
