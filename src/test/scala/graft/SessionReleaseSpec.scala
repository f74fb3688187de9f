package graft

import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.exec.{Runner, SessionViews}
import graft.ops.Dedup
import graft.text2sql.SqlDialect

/** A stopped session's per-session state is released: once session A
  * has stopped and a new session B is seen, [[SessionLocal]] holds
  * nothing of A. Stopping a session stops the SparkContext the suite's
  * specs share, so the scenario runs in a child JVM
  * ([[SessionReleaseChild]]) on this JVM's classpath and flags. */
class SessionReleaseSpec extends AnyFunSuite {

  test("a stopped session's keys, triggers, views and slots are released") {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val flags = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    val wd = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("").toAbsolutePath, "session-release").toFile
    val cmd = Seq(javaBin) ++ flags ++ Seq("-Xmx512m",
      "-cp", System.getProperty("java.class.path"),
      "graft.SessionReleaseChild")
    val log = new java.io.File(wd, "child.log")
    val proc = new ProcessBuilder(cmd.asJava).directory(wd)
      .redirectErrorStream(true).redirectOutput(log).start()
    val finished = proc.waitFor(5, TimeUnit.MINUTES)
    if (!finished) proc.destroyForcibly()
    val out = new String(java.nio.file.Files.readAllBytes(log.toPath), "UTF-8")
    assert(finished, s"child JVM timed out:\n${out.takeRight(4000)}")
    assert(proc.exitValue() == 0,
      s"child JVM exited ${proc.exitValue()}:\n${out.takeRight(4000)}")
    assert(out.contains("[release] ok"), out.takeRight(4000))
  }
}

/** The child side of [[SessionReleaseSpec]]: exits non-zero unless
  * SessionLocal holds state for A while it runs and none after A stops
  * and B is seen. */
object SessionReleaseChild {
  private def session(): SparkSession = {
    val s = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val a = session()
    def sql(q: String) = Runner.runSql(a, SqlDialect.translate(q))
    sql("CREATE TABLE rel_t (id INTEGER PRIMARY KEY, v TEXT)")
    sql("CREATE TABLE rel_log (id INTEGER)")
    sql("CREATE TRIGGER rel_tr AFTER INSERT ON rel_t BEGIN " +
      "INSERT INTO rel_log VALUES (NEW.id); END")
    sql("INSERT INTO rel_t VALUES (1, 'one'), (2, 'two')")
    sql("CREATE VIEW rel_v AS SELECT v FROM rel_t")
    val docs = a.range(20).select(col("id").as("doc_id"),
      concat(lit("a shared document body number "), col("id") % 5)
        .as("text"))
    Dedup.minHashPairs(docs, "doc_id", "text", numHashes = 16, bands = 4)
      .count()
    val held = SessionLocal.entries(a)
    a.stop()

    val b = session()
    SessionViews.isView(b, "rel_v")
    val left = SessionLocal.entries(a)
    println(s"[release] entries: A while live $held, A after B is seen " +
      s"$left, B ${SessionLocal.entries(b)}")
    b.stop()
    if (held == 0 || left != 0) sys.exit(1)
    println("[release] ok")
    sys.exit(0)
  }
}
