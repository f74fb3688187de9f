package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver test tables (TESTDATA.md).
  *
  * All tables are parquet under `$dir/<name>.parquet`. At 100 TB each
  * "file" would be a partitioned directory; `spark.read.parquet` handles
  * both transparently, and every query below relies on Catalyst pushing
  * filters/projections into the scan rather than pre-materializing.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** True iff `dir` holds a COMPLETED Spark write — the `_SUCCESS`
    * marker, not merely an existing directory. An interrupted first
    * write leaves a directory containing `_temporary/` or partial part
    * files; a bare isDirectory guard would then skip the rewrite and
    * read the poisoned layout forever.
    */
  def writeComplete(dir: String): Boolean =
    new java.io.File(dir, "_SUCCESS").isFile

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Some generator versions write events.ts as parquet
    // TIMESTAMP(NANOS), which Spark has no native type for: read the
    // raw int64 nanos and truncate to micros (UTC session) — same
    // truncation DuckDB applies internally. Set once per session, not
    // per call.
    if (spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
          .forall(_ != "true"))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$dir/$name.parquet")
    // The source annotation is isAdjustedToUTC=false → the column is a
    // wall-clock (NTZ) timestamp; keep it NTZ so derived timestamps
    // round-trip with the same semantics. TIMESTAMP(MICROS) sources
    // already read as a native timestamp type — normalize to NTZ and
    // skip the nanos rewrite (schema-dispatched, so one build serves
    // both generator versions).
    if (name == "events") {
      val tsType = df.schema("ts").dataType
      if (tsType == org.apache.spark.sql.types.LongType)
        df.withColumn("ts", org.apache.spark.sql.functions
          .expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
      else
        df.withColumn("ts", org.apache.spark.sql.functions
          .col("ts").cast(org.apache.spark.sql.types.TimestampNTZType))
    } else df
  }

  private val registered = graft.SessionLocal(
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]())

  /** Register every test table as a temp view so `spark.sql` queries
    * (subqueries, CTEs, SQL-dialect keys) can refer to them by name —
    * the Spark analog of the reference materializing every DataFrame
    * into one SQLite database (pandasqlite.py:77,115). Idempotent per
    * (session, dir): repeat calls don't re-list or re-read footers.
    */
  def registerAll(spark: SparkSession, dir: String): Unit = {
    if (registered(spark).add(dir))
      all.foreach(n => t(spark, dir, n).createOrReplaceTempView(n))
  }
}
