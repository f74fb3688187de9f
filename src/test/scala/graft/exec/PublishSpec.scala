package graft.exec

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import graft.SparkSpec
import graft.text2sql.SqlDialect

/** Every write publishes its table version through one copy-on-write
  * step that reads the new generation back with the schema it wrote.
  * For one statement of each kind: the rebound view's schema, and the
  * RETURNING frame's, equal what footer inference reads over the same
  * files (nullability and metadata included), and every `parquet at`
  * job the statement issues comes from one call site — the write. */
class PublishSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  private def sql(q: String) =
    Runner.runSql(spark, SqlDialect.translate(q))

  private var n = 0
  private def fresh(): String = { n += 1; s"pub_t$n" }

  private lazy val jobs = new JobSites(spark)
  override protected def afterAll(): Unit = {
    jobs.stop()
    super.afterAll()
  }

  /** Footer inference over the directory holding `df`'s files. */
  private def footer(df: DataFrame) = {
    val files = df.inputFiles
    assert(files.nonEmpty)
    spark.read.parquet(new Path(files.head).getParent.toString).schema
  }

  /** Run write `q`; check `table`'s rebound view (and, with
    * `returning`, the statement's result) against footer inference
    * and the statement's `parquet at` jobs against the one write site.
    * Returns the statement's result. */
  private def publishes(q: String, table: String,
                        returning: Boolean = false): DataFrame = {
    val (out, sites) = jobs.during(sql(q))
    val parquetSites = sites.filter(_.startsWith("parquet at ")).distinct
    assert(parquetSites.size == 1, s"$q issued parquet jobs at $parquetSites")
    assert(parquetSites.head.contains(" at Publish.scala:"), parquetSites)
    val view = spark.table(table)
    assert(view.schema == footer(view), q)
    if (returning) {
      assert(out.count() > 0, q)
      assert(out.schema == footer(out), q)
    }
    out
  }

  private def table(): String = {
    val t = fresh()
    sql(s"CREATE TABLE $t(id INT PRIMARY KEY, v INT NOT NULL, " +
      s"w TEXT, d DOUBLE)")
    sql(s"INSERT INTO $t VALUES (1, 10, 'a', 0.5), (2, 20, 'b', 1.5), " +
      s"(3, 30, 'c', 2.5), (4, 40, 'd', 3.5)")
    t
  }

  test("INSERT, INSERT OR REPLACE and ON CONFLICT DO UPDATE read their " +
      "generation back with the written schema") {
    val t = table()
    publishes(s"INSERT INTO $t VALUES (5, 50, 'e', 4.5)", t)
    publishes(s"INSERT OR REPLACE INTO $t VALUES (5, 51, 'e', 4.5)", t)
    publishes(s"INSERT INTO $t VALUES (5, 52, 'x', 0.0) " +
      s"ON CONFLICT (id) DO UPDATE SET v = excluded.v", t)
    assert(sql(s"SELECT v FROM $t WHERE id = 5").collect().map(_.getLong(0))
      .toSeq == Seq(52L))
  }

  test("UPDATE (plain, FROM, LIMIT, OR IGNORE) reads its generation " +
      "back with the written schema") {
    val t = table()
    val s = fresh()
    sql(s"CREATE TABLE $s(id INT, nv INT)")
    sql(s"INSERT INTO $s VALUES (1, 100), (3, 300)")
    publishes(s"UPDATE $t SET v = v + 1 WHERE id = 2", t)
    publishes(s"UPDATE $t SET v = $s.nv FROM $s WHERE $t.id = $s.id", t)
    publishes(s"UPDATE $t SET w = 'z' ORDER BY id DESC LIMIT 1", t)
    publishes(s"UPDATE OR IGNORE $t SET id = id + 10 WHERE id = 4", t)
    assert(sql(s"SELECT id, v, w FROM $t ORDER BY id").collect()
      .map(_.toSeq).toSeq == Seq(Seq(1L, 100L, "a"), Seq(2L, 21L, "b"),
        Seq(3L, 300L, "c"), Seq(14L, 40L, "z")))
  }

  test("DELETE (plain, LIMIT) reads its generation back with the " +
      "written schema") {
    val t = table()
    publishes(s"DELETE FROM $t WHERE id = 1", t)
    publishes(s"DELETE FROM $t ORDER BY id DESC LIMIT 1", t)
    assert(sql(s"SELECT id FROM $t ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == Seq(2L, 3L))
  }

  test("CREATE TABLE … AS and the rowid enable read their generation " +
      "back with the written schema") {
    val t = table()
    val c = fresh()
    publishes(s"CREATE TABLE $c AS SELECT id, w, v * 2 AS v2, " +
      s"CAST(d AS DECIMAL(10, 2)) AS dd, DATE '2024-01-02' AS day " +
      s"FROM $t WHERE id > 1", c)
    publishes(s"SELECT rowid, w FROM $c", c)
    assert(spark.table(c).columns.exists(_.equalsIgnoreCase("rowid")))
  }

  test("RETURNING on an INSERT, an UPDATE and a DELETE reads its rows " +
      "back with the written schema") {
    val t = table()
    val ins = publishes(s"INSERT INTO $t VALUES (6, 60, 'f', 5.5) " +
      s"RETURNING id, v * 2 AS v2, w", t, returning = true)
    assert(ins.collect().map(_.toSeq).toSeq == Seq(Seq(6L, 120L, "f")))
    val upd = publishes(s"UPDATE $t SET d = d + 1 WHERE id = 6 " +
      s"RETURNING id, d", t, returning = true)
    assert(upd.collect().map(_.toSeq).toSeq == Seq(Seq(6L, 6.5)))
    val del = publishes(s"DELETE FROM $t WHERE id = 6 RETURNING *", t,
      returning = true)
    assert(del.collect().map(_.getLong(0)).toSeq == Seq(6L))
  }

  test("materialize keeps column metadata and relaxes nullability " +
      "exactly as footer inference does") {
    import org.apache.spark.sql.types.MetadataBuilder
    val df = spark.range(3)
      .selectExpr("id", "named_struct('a', id) AS s", "array(id) AS arr",
        "map('k', id) AS m")
      .withMetadata("id", new MetadataBuilder().putString("k", "v").build())
    assert(!df.schema("id").nullable && !df.schema("s").nullable)
    val out = Publish.materialize(spark, df, fresh())
    assert(out.schema == footer(out))
    assert(out.schema("id").metadata.getString("k") == "v")
    assert(out.schema.fields.forall(_.nullable))
    assert(out.orderBy("id").collect().map(_.getLong(0)).toSeq ==
      Seq(0L, 1L, 2L))
  }

  test("a persisted frame passed through withView stays cached after " +
      "its view drops") {
    val df = spark.range(5).selectExpr("id * 2 AS x").persist()
    try {
      assert(df.count() == 5L)
      val level = df.storageLevel
      assert(level.useMemory || level.useDisk)
      Publish.withView(df, "keep")(v =>
        assert(spark.sql(s"SELECT count(*) FROM `$v`").first().getLong(0) ==
          5L))
      assert(df.storageLevel == level)
      assert(!spark.catalog.listTables().collect()
        .exists(_.name.startsWith("graft_keep_")))
    } finally df.unpersist()
  }
}
