package graft

import org.apache.spark.sql.SparkSession

/** The one recipe for a session: every main and the spec harness build
  * theirs here, and [[graft.plans.GraftExtensions]] is the only way the
  * engine's functions, rules and strategies enter it. `Runner.runSql`
  * and `GroupTopKOps.topK` raise on a session built without it.
  *
  * Local mode here; on a cluster the same SQL confs apply (set master/
  * memory via spark-submit). The choices and why:
  *  - shuffle.partitions ≈ total cores locally; at 100 TB size so a
  *    post-shuffle partition is a few hundred MB (AQE coalesces
  *    small ones at runtime anyway).
  *  - AQE on: runtime re-planning (broadcast conversion, skew-join
  *    splitting, partition coalescing) is the safety net for every
  *    plan in this library.
  *  - skewJoin on: splits oversized shuffle partitions on join keys.
  *  - maxPartitionBytes 128 MB: scan tasks sized for executor memory;
  *    spill-aware rather than spill-prone.
  *  - UTC session timezone: deterministic date/time semantics.
  *  - codegen.cache.maxEntries 256 (static, so it must be set before
  *    the session starts; Spark's default is 100): Spark keeps each
  *    generated class once per class loader, and the driver and the
  *    executor threads use different loaders, so every plan shape
  *    holds two entries. One perfbench session's shapes, ingest
  *    included, measured 188 (`ask`) and 165 (`dml`) entries, more
  *    than 100, so the default LRU evicted classes the next question
  *    needed and Janino compiled them again. With literals
  *    parameterized ([[graft.plans.ParameterizeLiterals]]) the
  *    resident set follows plan shapes, not literal values; 256
  *    leaves room for the cache's segmented eviction at about 29 KiB
  *    of heap per resident class.
  */
object GraftSession {
  def create(appName: String = "graft",
             cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      // SQLite-dialect native functions, regex-prefix pushdown rule,
      // literal parameterization of generated code
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (128L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.codegen.cache.maxEntries", "256")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
