package graft.exec

import org.apache.spark.sql.SparkSession

/** Which session relation names are VIEWS (CREATE [TEMP] VIEW through
  * the generated-SQL path) — Spark's catalog holds both views and the
  * engine's materialized tables as temporary views, so SQLite's
  * table-vs-view distinctions (DML refusal, DROP TABLE/VIEW keyword
  * matching, ALTER refusal, INSTEAD OF trigger targeting) need the
  * engine's own record, one per session ([[graft.SessionLocal]]).
  * Relations registered through the raw Spark API are treated as
  * tables — the same generated-SQL-path scoping as triggers. */
object SessionViews {

  private val state = graft.SessionLocal(
    scala.collection.mutable.LinkedHashMap.empty[String, String])

  /** Register a view with its CREATE text (shown by sqlite_master). */
  def add(spark: SparkSession, name: String, sql: String): Unit = {
    val s = state(spark); s.synchronized { s(name.toLowerCase) = sql; () }
  }

  def remove(spark: SparkSession, name: String): Unit = {
    val s = state(spark); s.synchronized { s.remove(name.toLowerCase); () }
  }

  def isView(spark: SparkSession, name: String): Boolean = {
    val s = state(spark); s.synchronized(s.contains(name.toLowerCase))
  }

  /** The stored CREATE VIEW text, when `name` is a view. */
  def createSql(spark: SparkSession, name: String): Option[String] = {
    val s = state(spark); s.synchronized(s.get(name.toLowerCase))
  }
}
