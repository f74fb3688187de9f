package graft.exec

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The copy-on-write publish step every write shares. Lake files are
  * immutable, so no statement changes a table in place: it writes the
  * table's next state to a fresh GENERATION directory, reads it back
  * and re-binds the temp view — the table-state transition SQLite
  * performs in place (the reference hands every generated write to
  * SQLite, pandasqlite.py:245-247).
  *
  * Every generation gets its own directory, so a statement never
  * overwrites a path an earlier binding still reads (a second write to
  * a table reads the files the first one wrote). Superseded
  * generations stay on disk for the session: a caller's DataFrame, a
  * deferred `changes()` count or an [[Atomic]] snapshot may still read
  * them. The read-back carries the written frame's schema, so
  * publishing pays the write's jobs and no footer-inference job.
  *
  * Scratch temp views come from the same counter as
  * `graft_<tag>_g<n>` — the `graft_` namespace [[Pragma]] keeps out of
  * the catalog surface. They only name a plan for SQL text, so each
  * lives only while the code building that SQL runs ([[withView]]).
  */
object Publish {

  private val generation = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Run `body` with `df` registered under a fresh scratch view name,
    * `graft_<tag>_g<n>`; the name is unregistered when `body` returns
    * or throws. Only the name goes: `Catalog.dropTempView` would also
    * uncache the plan it names, which is `df`'s own — a slice the
    * caller persisted around two trigger firings would lose its cache
    * after the first and re-scan its source for the second. */
  def withView[T](df: DataFrame, tag: String)(body: String => T): T = {
    val name = s"graft_${tag}_g${generation.incrementAndGet()}"
    df.createOrReplaceTempView(name)
    try body(name)
    finally df.sparkSession.sessionState.catalog.dropTempView(name)
  }

  /** `[WITH …] SELECT <exprs> FROM <slice>` for a RETURNING list,
    * analyzed now — so it stays bound to the pre-rebind plans whatever
    * the statement re-binds later. */
  def returning(slice: DataFrame, withPrefix: String,
                exprs: String): DataFrame =
    withView(slice, "ret")(v =>
      slice.sparkSession.sql(s"$withPrefix SELECT $exprs FROM `$v`".trim))

  /** Write `df` to a new generation directory named after `label` and
    * read it back with the schema it was written with. */
  def materialize(spark: SparkSession, df: DataFrame,
                  label: String): DataFrame = {
    val dir = "target/graft_tmp/" + label.replaceAll("[^A-Za-z0-9_]", "_") +
      "_g" + generation.incrementAndGet()
    df.write.mode("overwrite").parquet(dir)
    spark.read.schema(df.schema).parquet(dir)
  }

  /** Publish a DML statement's result: materialize the RETURNING rows
    * first (their plan reads the old binding), then write the table's
    * new state under its NOT NULL/CHECK guard ([[Constraints.guard]] —
    * a violating row raises SQLite's error in the write and [[Atomic]]
    * rolls the statement back), re-bind the view and bump the table's
    * trigger version. Returns the RETURNING rows, else the new table
    * state. */
  def commit(spark: SparkSession, table: String, merged: DataFrame,
             ret: Option[DataFrame]): DataFrame = {
    val retOut = ret.map(materialize(spark, _, table + "_ret"))
    val out = materialize(spark, Constraints.guard(spark, table, merged), table)
    out.createOrReplaceTempView(table)
    Triggers.bumpVersion(spark, table)
    retOut.getOrElse(out)
  }
}
