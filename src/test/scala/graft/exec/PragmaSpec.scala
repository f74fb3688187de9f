package graft.exec

import graft.SparkSpec

/** SQLite introspection surface: PRAGMA statements, the
  * pragma_table_info table-valued form, and the sqlite_master catalog
  * view — all through Runner.runSql, the path generated SQL takes. */
class PragmaSpec extends SparkSpec {

  private def freshView(name: String): Unit = {
    import spark.implicits._
    Seq((1L, "a", 2.5), (2L, "b", 3.5)).toDF("id", "tag", "score")
      .createOrReplaceTempView(name)
  }

  test("PRAGMA table_info renders SQLite-shaped rows from the catalog") {
    freshView("pragma_t1")
    val rows = Runner.runSql(spark, "PRAGMA table_info(pragma_t1);")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getInt(3), r.getInt(5)))
    // notnull mirrors catalog nullability: Scala primitive columns are
    // non-nullable (1), boxed/String columns nullable (0)
    assert(rows.toSeq == Seq(
      (0, "id", "BIGINT", 1, 0),
      (1, "tag", "TEXT", 0, 0),
      (2, "score", "DOUBLE", 1, 0)))
    // quoted name forms parse too
    assert(Runner.runSql(spark, "PRAGMA table_info('pragma_t1')").count() == 3)
    assert(Runner.runSql(spark, "PRAGMA table_info(\"pragma_t1\")").count() == 3)
  }

  test("pragma_table_info('t') works as a table-valued FROM source") {
    freshView("pragma_t2")
    val df = Runner.runSql(spark,
      "SELECT name FROM pragma_table_info('pragma_t2') " +
        "WHERE type = 'BIGINT' ORDER BY name")
    assert(df.collect().map(_.getString(0)).toSeq == Seq("id"))
    // composes inside a join against another introspection call
    val both = Runner.runSql(spark,
      "SELECT a.name FROM pragma_table_info('pragma_t2') a " +
        "JOIN pragma_table_info('pragma_t2') b ON a.cid = b.cid " +
        "ORDER BY a.cid")
    assert(both.count() == 3)
  }

  test("sqlite_master lists session tables with synthesized DDL") {
    freshView("pragma_t3")
    val df = Runner.runSql(spark,
      "SELECT type, name, tbl_name, sql FROM sqlite_master " +
        "WHERE name = 'pragma_t3'")
    val r = df.head()
    assert(r.getString(0) == "table" && r.getString(1) == "pragma_t3" &&
      r.getString(2) == "pragma_t3")
    val ddl = r.getString(3)
    assert(ddl.startsWith("CREATE TABLE `pragma_t3`"), ddl)
    assert(ddl.contains("`id` BIGINT") && ddl.contains("`tag` TEXT") &&
      ddl.contains("`score` DOUBLE"), ddl)
    // the classic model emission answers correctly
    val names = Runner.runSql(spark,
      "SELECT name FROM sqlite_master WHERE type='table' " +
        "AND name LIKE 'pragma_t%' ORDER BY name")
      .collect().map(_.getString(0)).toSeq
    assert(names.contains("pragma_t3"))
    // the view refreshes: a table created AFTER the first query appears
    freshView("pragma_t9")
    val again = Runner.runSql(spark,
      "SELECT name FROM sqlite_master WHERE name = 'pragma_t9'")
    assert(again.count() == 1)
  }

  test("transaction/maintenance statements are no-ops; ATTACH declines") {
    // SQLite executes these around reads as semantic no-ops — a model
    // wrapping its query in BEGIN/COMMIT must not hit a parse error
    for (s <- Seq("BEGIN", "BEGIN TRANSACTION;", "BEGIN IMMEDIATE",
        "COMMIT", "END TRANSACTION", "ROLLBACK", "ROLLBACK TO sp1",
        "SAVEPOINT sp1", "RELEASE SAVEPOINT sp1", "VACUUM",
        "ANALYZE", "ANALYZE pragma_t1", "REINDEX"))
      assert(Runner.runSql(spark, s).count() == 0, s)
    val e = intercept[UnsupportedOperationException] {
      Runner.runSql(spark, "ATTACH DATABASE 'x.db' AS other")
    }
    assert(e.getMessage.contains("ATTACH"), e.getMessage)
    // EXPLAIN QUERY PLAN maps to Spark's EXPLAIN report
    val plan = Runner.runSql(spark, "EXPLAIN QUERY PLAN SELECT 1 AS x")
      .head().getString(0)
    assert(plan.contains("Project") || plan.contains("Physical Plan"), plan)
    // names beginning with a no-op verb are NOT swallowed
    freshView("begin_like")
    assert(Runner.runSql(spark,
      "SELECT * FROM begin_like").count() == 2)
  }

  test("statements are routed past leading comments (sqlite3 runs both)") {
    freshView("pragma_c1")
    assert(Runner.runSql(spark, "-- columns\nPRAGMA table_info(pragma_c1)")
      .count() == 3)
    assert(Runner.runSql(spark, "/* tx */ BEGIN").count() == 0)
  }

  test("introspection names in comments and literals are no references") {
    import spark.implicits._
    Seq(1L).toDF("x").createOrReplaceTempView("pragma_pt")
    // sqlite3 3.40.1: [(1,)] for each
    for (q <- Seq(
        "SELECT x FROM pragma_pt -- see pragma_table_info('nosuch')",
        "SELECT x FROM pragma_pt /* pragma_table_xinfo('nosuch') */",
        "SELECT x FROM pragma_pt WHERE 'pragma_table_info(''nosuch'')' <> ''",
        "SELECT x FROM pragma_pt -- not sqlite_master, nor sqlite_sequence"))
      assert(Runner.runSql(spark, q).collect().map(_.getLong(0)).toSeq == Seq(1L), q)
    assert(!Pragma.referencesMaster("SELECT 1 -- sqlite_master"))
    assert(!Pragma.referencesSequence("SELECT 'sqlite_sequence'"))
    assert(Pragma.referencesMaster("SELECT name FROM /* c */ sqlite_master"))
    assert(Pragma.referencesSequence("SELECT * FROM sqlite_sequence"))
  }

  test("a comment after the statement's `;` or value is no part of it") {
    def fks = Runner.runSql(spark, "PRAGMA foreign_keys").head().getInt(0)
    try {
      // sqlite3 3.40.1 sets the value to 1 in both spellings
      assert(Runner.runSql(spark, "PRAGMA foreign_keys = 1; -- on").count() == 0)
      assert(fks == 1)
      Runner.runSql(spark, "PRAGMA foreign_keys = 0")
      Runner.runSql(spark, "PRAGMA foreign_keys = 1 /* on */")
      assert(fks == 1)
      Runner.runSql(spark, "PRAGMA foreign_keys = 0")
      Runner.runSql(spark, "PRAGMA foreign_keys(1) -- on")
      assert(fks == 1)
      assert(Runner.runSql(spark, "COMMIT; /* done */").count() == 0)
      // a second statement after the comment is still refused
      val e = intercept[UnsupportedOperationException] {
        Runner.runSql(spark, "PRAGMA foreign_keys = 0; -- off\nSELECT 1")
      }
      assert(e.getMessage.contains("one statement"), e.getMessage)
      assert(fks == 1)
    } finally Runner.runSql(spark, "PRAGMA foreign_keys = 0")
  }

  test("runSql uses SQLite evaluation semantics: 1/0 and bad casts → NULL") {
    // under Spark 4's default ANSI mode both of these are whole-query
    // runtime errors; the generated-SQL path must yield NULL per row,
    // as SQLite (the declared dialect) does
    val r = Runner.runSql(spark,
      "SELECT x / (x - 1) AS ratio, CAST(s AS INTEGER) AS n " +
        "FROM VALUES (1, 'abc'), (3, '7') AS t(x, s) ORDER BY x").collect()
    assert(r(0).isNullAt(0) && r(0).isNullAt(1)) // 1/0 → NULL, 'abc' → NULL
    assert(!r(1).isNullAt(0) && r(1).getInt(1) == 7)
    // the session conf is restored afterwards (default ANSI stays on)
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    // and restored even when the statement fails
    intercept[Exception] { Runner.runSql(spark, "SELECT FROM nonsense(") }
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
  }

  test("PRAGMA table_list summarizes the catalog; other pragmas decline") {
    freshView("pragma_t4")
    val tl = Runner.runSql(spark, "PRAGMA table_list")
    val row = tl.filter("name = 'pragma_t4'").head()
    assert(row.getString(0) == "main" && row.getString(2) == "table" &&
      row.getInt(3) == 3)
    // schema-qualified pragmas: `main.` normalizes away on every
    // pragma (SQLite accepts it), unknown schemas get SQLite's error
    assert(Runner.runSql(spark, "PRAGMA main.table_info(pragma_t4)")
      .count() == 3)
    assert(Runner.runSql(spark, "PRAGMA main.busy_timeout").columns.toSeq ==
      Seq("timeout"))
    val eDb = intercept[UnsupportedOperationException] {
      Runner.runSql(spark, "PRAGMA aux1.table_info(pragma_t4)")
    }
    assert(eDb.getMessage.contains("unknown database aux1"), eDb.getMessage)
    // unknown storage pragmas still decline with a targeted error
    val e = intercept[UnsupportedOperationException] {
      Runner.runSql(spark, "PRAGMA wal_autocheckpoint = 100")
    }
    assert(e.getMessage.contains("PRAGMA wal_autocheckpoint"), e.getMessage)
    assert(e.getMessage.contains("table_info"), e.getMessage)
  }

  test("storage-config pragmas track + echo exactly as SQLite 3.40.1 does") {
    // every (statement → columns/rows) pair below is pinned against
    // python sqlite3 3.40.1 on a file-backed database
    def rows(sql: String) = Runner.runSql(spark, sql).collect().toSeq
    // busy_timeout echoes one row (column `timeout`) from BOTH forms;
    // junk and negative values parse to 0
    assert(rows("PRAGMA busy_timeout = 5000").map(_.getLong(0)) == Seq(5000L))
    assert(Runner.runSql(spark, "PRAGMA busy_timeout").columns.toSeq ==
      Seq("timeout"))
    assert(rows("PRAGMA busy_timeout").map(_.getLong(0)) == Seq(5000L))
    assert(rows("PRAGMA busy_timeout = abc").map(_.getLong(0)) == Seq(0L))
    assert(rows("PRAGMA busy_timeout = -5").map(_.getLong(0)) == Seq(0L))
    // mmap_size echoes one row from both forms; junk and negatives
    // RESET to 0 (atoi semantics, measured with a nonzero current)
    assert(rows("PRAGMA mmap_size = 268435456").map(_.getLong(0)) ==
      Seq(268435456L))
    assert(rows("PRAGMA mmap_size").map(_.getLong(0)) == Seq(268435456L))
    assert(rows("PRAGMA mmap_size = -1").map(_.getLong(0)) == Seq(0L))
    assert(rows("PRAGMA mmap_size").map(_.getLong(0)) == Seq(0L))
    // journal_mode assignment answers the ACCEPTED mode; an
    // unrecognized mode answers the unchanged current mode
    assert(rows("PRAGMA journal_mode = WAL").map(_.getString(0)) == Seq("wal"))
    assert(rows("PRAGMA journal_mode = bogus").map(_.getString(0)) == Seq("wal"))
    assert(rows("PRAGMA journal_mode").map(_.getString(0)) == Seq("wal"))
    // the silent-assignment pragmas ANSWER their query form: no
    // write-ok/read-error asymmetry. synchronous: names map off=0
    // normal=1 full=2 extra=3, unknown word → 1
    assert(rows("PRAGMA synchronous = OFF").isEmpty)
    assert(rows("PRAGMA synchronous").map(_.getLong(0)) == Seq(0L))
    assert(rows("PRAGMA synchronous = extra").isEmpty)
    assert(rows("PRAGMA synchronous").map(_.getLong(0)) == Seq(3L))
    assert(rows("PRAGMA synchronous = bogus").isEmpty)
    assert(rows("PRAGMA synchronous").map(_.getLong(0)) == Seq(1L))
    assert(rows("PRAGMA cache_size = 500").isEmpty)
    assert(rows("PRAGMA cache_size").map(_.getLong(0)) == Seq(500L))
    assert(rows("PRAGMA temp_store = MEMORY").isEmpty)
    assert(rows("PRAGMA temp_store").map(_.getLong(0)) == Seq(2L))
    // page_size accepts only powers of two in [512, 65536]
    assert(rows("PRAGMA page_size = 5000").isEmpty)
    assert(rows("PRAGMA page_size").map(_.getLong(0)) == Seq(4096L))
    assert(rows("PRAGMA page_size = 8192").isEmpty)
    assert(rows("PRAGMA page_size").map(_.getLong(0)) == Seq(8192L))
    // foreign_keys: boolean parse (any nonzero integer is ON —
    // sqlite3GetBoolean), query reflects the assignment
    assert(rows("PRAGMA foreign_keys = ON").isEmpty)
    assert(rows("PRAGMA foreign_keys").map(_.getInt(0)) == Seq(1))
    assert(rows("PRAGMA foreign_keys = bogus").isEmpty)
    assert(rows("PRAGMA foreign_keys").map(_.getInt(0)) == Seq(0))
    assert(rows("PRAGMA foreign_keys = 2").isEmpty)
    assert(rows("PRAGMA foreign_keys").map(_.getInt(0)) == Seq(1))
    // the call form `PRAGMA x(v)` is SQLite's equivalent assignment
    // spelling — identical echo shapes (measured)
    assert(rows("PRAGMA foreign_keys(0)").isEmpty)
    assert(rows("PRAGMA foreign_keys").map(_.getInt(0)) == Seq(0))
    assert(rows("PRAGMA busy_timeout(750)").map(_.getLong(0)) == Seq(750L))
    assert(rows("PRAGMA journal_mode(delete)").map(_.getString(0)) ==
      Seq("delete"))
    // junk/negative mmap_size RESETS to 0 (atoi), never keeps current
    Runner.runSql(spark, "PRAGMA mmap_size = 4096")
    assert(rows("PRAGMA mmap_size = junk").map(_.getLong(0)) == Seq(0L))
    Runner.runSql(spark, "PRAGMA mmap_size = 4096")
    assert(rows("PRAGMA mmap_size = -1").map(_.getLong(0)) == Seq(0L))
    // synchronous: digit-led &7 (`= 9` → 1), negatives → default 1
    assert(rows("PRAGMA synchronous = 9").isEmpty)
    assert(rows("PRAGMA synchronous").map(_.getLong(0)) == Seq(1L))
    assert(rows("PRAGMA synchronous = -1").isEmpty)
    assert(rows("PRAGMA synchronous").map(_.getLong(0)) == Seq(1L))
    // temp_store clamps out-of-range to 0
    assert(rows("PRAGMA temp_store = 7").isEmpty)
    assert(rows("PRAGMA temp_store").map(_.getLong(0)) == Seq(0L))
    // temp. qualifies like main. (both schemas always exist in SQLite)
    assert(rows("PRAGMA temp.busy_timeout").map(_.getLong(0)) == Seq(750L))
    // query-form constants
    assert(rows("PRAGMA integrity_check").map(_.getString(0)) == Seq("ok"))
    assert(rows("PRAGMA quick_check").map(_.getString(0)) == Seq("ok"))
    assert(rows("PRAGMA encoding").map(_.getString(0)) == Seq("UTF-8"))
    val dbl = Runner.runSql(spark, "PRAGMA database_list").head()
    assert(dbl.getInt(0) == 0 && dbl.getString(1) == "main")
  }

  test("PRAGMA case_sensitive_like flips the LIKE translation (write-only)") {
    // write-only in SQLite: both forms answer nothing
    assert(Runner.runSql(spark, "PRAGMA case_sensitive_like = 1").count() == 0)
    assert(Runner.runSql(spark, "PRAGMA case_sensitive_like").count() == 0)
    assert(Pragma.caseSensitiveLike(spark))
    try {
      // flag ON: LIKE stays the BINARY comparison, and a COLLATE
      // NOCASE riding on it is still ignored (SQLite's LIKE honors no
      // collating sequences in either mode — measured: 0)
      val t = graft.text2sql.SqlDialect.translate(
        "SELECT 'ABC' LIKE 'abc' AS x, 'ABC' LIKE 'abc' COLLATE NOCASE AS y",
        caseSensitiveLike = true)
      val r = Runner.runSql(spark, t).head()
      assert(!r.getBoolean(0) && !r.getBoolean(1), t)
      // and the equality COLLATE NOCASE still folds under the flag
      val t2 = graft.text2sql.SqlDialect.translate(
        "SELECT 'ABC' = 'abc' COLLATE NOCASE AS x", caseSensitiveLike = true)
      assert(Runner.runSql(spark, t2).head().getBoolean(0), t2)
    } finally Runner.runSql(spark, "PRAGMA case_sensitive_like = 0")
    assert(!Pragma.caseSensitiveLike(spark))
    // flag OFF: the default ASCII-folding LIKE → ILIKE
    val t3 = graft.text2sql.SqlDialect.translate(
      "SELECT 'ABC' LIKE 'abc' AS x",
      graft.exec.Pragma.caseSensitiveLike(spark))
    assert(Runner.runSql(spark, t3).head().getBoolean(0), t3)
  }

  test("PRAGMA table_xinfo / collation_list answer SQLite 3.40.1's shapes") {
    Runner.runSql(spark, "DROP TABLE IF EXISTS pragma_xi")
    Runner.runSql(spark,
      "CREATE TABLE pragma_xi (a INTEGER PRIMARY KEY, b TEXT DEFAULT 'x')")
    // table_xinfo = table_info + hidden (0 = normal column); sqlite
    // 3.40.1 measures (0,'a','INTEGER',0,NULL,1,0), (1,'b','TEXT',
    // 0,"'x'",0,0) — the type column here reflects the LAKE schema
    // (INTEGER affinity lands in a 64-bit column → BIGINT), table_
    // info's existing documented convention
    val xi = Runner.runSql(spark, "PRAGMA table_xinfo(pragma_xi)")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        if (r.isNullAt(4)) null else r.getString(4), r.getInt(5),
        r.getInt(6))).toSeq
    assert(xi == Seq((0, "a", "BIGINT", null, 1, 0),
      (1, "b", "TEXT", "'x'", 0, 0)), xi)
    Runner.runSql(spark, "DROP TABLE pragma_xi")
    // collation_list: the three implemented collations in SQLite's
    // measured listing order
    val cl = Runner.runSql(spark, "PRAGMA collation_list")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(cl == Seq((0, "RTRIM"), (1, "NOCASE"), (2, "BINARY")))
  }

  test("PRAGMA query_only enforces; optimize/wal_checkpoint/locking_mode long tail") {
    def rows(sql: String) = Runner.runSql(spark, sql).collect().toSeq
    // optimize: answers nothing (both forms; tools emit it on close)
    assert(Runner.runSql(spark, "PRAGMA optimize").count() == 0)
    assert(Runner.runSql(spark, "PRAGMA optimize(0xfffe)").count() == 0)
    // wal_checkpoint: non-WAL echo (0, -1, -1), both forms (measured)
    assert(rows("PRAGMA wal_checkpoint")
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2))) == Seq((0, -1, -1)))
    assert(rows("PRAGMA wal_checkpoint(FULL)").map(_.getInt(2)) == Seq(-1))
    // locking_mode: assignment echoes the RESULTING mode; bogus keeps it
    assert(rows("PRAGMA locking_mode").map(_.getString(0)) == Seq("normal"))
    assert(rows("PRAGMA locking_mode = EXCLUSIVE").map(_.getString(0))
      == Seq("exclusive"))
    assert(rows("PRAGMA locking_mode = bogus").map(_.getString(0))
      == Seq("exclusive"))
    Runner.runSql(spark, "PRAGMA locking_mode = NORMAL")
    // secure_delete: echoing assignment, FAST = 2, python-build default 1
    assert(rows("PRAGMA secure_delete").map(_.getLong(0)) == Seq(1L))
    assert(rows("PRAGMA secure_delete = 0").map(_.getLong(0)) == Seq(0L))
    assert(rows("PRAGMA secure_delete = FAST").map(_.getLong(0)) == Seq(2L))
    Runner.runSql(spark, "PRAGMA secure_delete = 1")
    // read_uncommitted: silent set, int echo
    assert(Runner.runSql(spark, "PRAGMA read_uncommitted = 1").count() == 0)
    assert(rows("PRAGMA read_uncommitted").map(_.getLong(0)) == Seq(1L))
    Runner.runSql(spark, "PRAGMA read_uncommitted = 0")
    // query_only: silent set, int echo, and ENFORCED on every write
    // route with SQLite's own error text
    import spark.implicits._
    Seq((1L, "x")).toDF("a", "b").createOrReplaceTempView("qo_t")
    assert(Runner.runSql(spark, "PRAGMA query_only = 1").count() == 0)
    assert(rows("PRAGMA query_only").map(_.getLong(0)) == Seq(1L))
    try {
      val e = intercept[UnsupportedOperationException] {
        Runner.runSql(spark, "INSERT INTO qo_t VALUES (2, 'y')") }
      assert(e.getMessage.contains("readonly database"), e.getMessage)
      intercept[UnsupportedOperationException] {
        Runner.runSql(spark, "CREATE TABLE qo_new (x INTEGER)") }
      intercept[UnsupportedOperationException] {
        Runner.runSql(spark, "DROP TABLE qo_t") }
      // reads stay fine
      assert(Runner.runSql(spark, "SELECT count(*) AS c FROM qo_t")
        .head().getLong(0) == 1L)
      // header-writing pragmas and storage maintenance refuse too
      // (measured: sqlite raises the readonly error on both)
      intercept[UnsupportedOperationException] {
        Runner.runSql(spark, "PRAGMA user_version = 7") }
      assert(rows("PRAGMA user_version").map(_.getLong(0)) == Seq(0L))
      intercept[UnsupportedOperationException] {
        Runner.runSql(spark, "ANALYZE") }
      // transaction wrappers stay no-ops (SQLite: BEGIN is fine)
      assert(Runner.runSql(spark, "BEGIN").count() == 0)
    } finally Runner.runSql(spark, "PRAGMA query_only = 0")
    Runner.runSql(spark, "INSERT INTO qo_t VALUES (2, 'y')")
    assert(Runner.runSql(spark, "SELECT count(*) AS c FROM qo_t")
      .head().getLong(0) == 2L)
  }

  test("PRAGMA user_version / application_id: silent set, int echo, 32-bit wrap") {
    def rows(sql: String) = Runner.runSql(spark, sql).collect().toSeq
    assert(rows("PRAGMA user_version").map(_.getLong(0)) == Seq(0L))
    assert(Runner.runSql(spark, "PRAGMA user_version = 42").count() == 0)
    assert(rows("PRAGMA user_version").map(_.getLong(0)) == Seq(42L))
    // 32-bit cookie wrap (sqlite 3.40.1: = 4294967296 reads back 0)
    Runner.runSql(spark, "PRAGMA user_version = 4294967296")
    assert(rows("PRAGMA user_version").map(_.getLong(0)) == Seq(0L))
    Runner.runSql(spark, "PRAGMA application_id(7)")
    assert(rows("PRAGMA application_id").map(_.getLong(0)) == Seq(7L))
    Runner.runSql(spark, "PRAGMA user_version = 0") // restore for reruns
    Runner.runSql(spark, "PRAGMA application_id = 0")
  }

  test("PRAGMA schema_version tracks one increment per schema change " +
       "(sqlite3-measured); no-op IF [NOT] EXISTS forms don't move it") {
    def v(): Long = Runner.runSql(spark, "PRAGMA schema_version")
      .collect().head.getLong(0)
    val v0 = v()
    Runner.runSql(spark, "CREATE TABLE sv_t (a INTEGER)")
    assert(v() == v0 + 1)
    Runner.runSql(spark, "CREATE INDEX sv_ix ON sv_t (a)")
    assert(v() == v0 + 2)
    Runner.runSql(spark, "ALTER TABLE sv_t ADD COLUMN b INTEGER")
    assert(v() == v0 + 3)
    Runner.runSql(spark,
      "CREATE TRIGGER sv_tg AFTER INSERT ON sv_t BEGIN SELECT 1; END")
    assert(v() == v0 + 4)
    // no-op forms leave the cookie alone (measured)
    Runner.runSql(spark, "CREATE TABLE IF NOT EXISTS sv_t (a INTEGER)")
    Runner.runSql(spark, "DROP TABLE IF EXISTS sv_nosuch")
    Runner.runSql(spark, "DROP INDEX IF EXISTS sv_noix")
    assert(v() == v0 + 4)
    // DROP TABLE (taking its index and trigger) is ONE schema change
    Runner.runSql(spark, "DROP TABLE sv_t")
    assert(v() == v0 + 5)
    // assignment sets the cookie like user_version (silent, echo after)
    Runner.runSql(spark, s"PRAGMA schema_version = ${v0 + 90}")
    assert(v() == v0 + 90)
    Runner.runSql(spark, s"PRAGMA schema_version = ${v0 + 5}") // restore
  }

  test("PRAGMA recursive_triggers: silent assignment, query echoes " +
      "the tracked flag (sqlite shape)") {
    def rows(sql: String) = Runner.runSql(spark, sql).collect().toSeq
    assert(Runner.runSql(spark, "PRAGMA recursive_triggers = 0").count() == 0)
    assert(Runner.runSql(spark, "PRAGMA recursive_triggers = OFF").count() == 0)
    assert(rows("PRAGMA recursive_triggers").map(_.getLong(0)) == Seq(0L))
    assert(Runner.runSql(spark, "PRAGMA recursive_triggers = ON").count() == 0)
    assert(rows("PRAGMA recursive_triggers").map(_.getLong(0)) == Seq(1L))
    Runner.runSql(spark, "PRAGMA recursive_triggers = 0")
    assert(rows("PRAGMA recursive_triggers").map(_.getLong(0)) == Seq(0L))
  }

  test("PRAGMA index_list/index_info reflect session-declared indexes; table_info reports the PK") {
    freshView("pragma_ix")
    // no indexes yet: empty list, not an error
    assert(Runner.runSql(spark, "PRAGMA index_list(pragma_ix)").count() == 0)
    Runner.runSql(spark, "CREATE UNIQUE INDEX pragma_ix_u ON pragma_ix (score)")
    Runner.runSql(spark, "CREATE INDEX pragma_ix_p ON pragma_ix (tag)")
    val il = Runner.runSql(spark, "PRAGMA index_list('pragma_ix')")
      .collect().map(r => (r.getString(1), r.getInt(2))).toSeq
    assert(il.toSet == Set(("pragma_ix_u", 1), ("pragma_ix_p", 0)))
    // index_info: (seqno, cid in table, column name) — score is column 2
    val ii = Runner.runSql(spark, "PRAGMA index_info(pragma_ix_u)")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2))).toSeq
    assert(ii == Seq((0, 2, "score")))
    // index_xinfo adds (desc, coll, key) and SQLite's trailing rowid
    // auxiliary row — (1, -1, null, 0, 'BINARY', 0), measured 3.40.1
    val ixi = Runner.runSql(spark, "PRAGMA index_xinfo(pragma_ix_u)")
      .collect().map(r => (r.getInt(0), r.getInt(1),
        if (r.isNullAt(2)) null else r.getString(2),
        r.getInt(3), r.getString(4), r.getInt(5))).toSeq
    assert(ixi == Seq((0, 2, "score", 0, "BINARY", 1),
      (1, -1, null, 0, "BINARY", 0)), ixi)
    // DESC / COLLATE riders survive into index_xinfo (measured:
    // (0,cid,'a',1,'BINARY',1), (1,cid,'b',0,'NOCASE',1), aux row)
    Runner.runSql(spark,
      "CREATE INDEX pragma_ix_r ON pragma_ix (id DESC, tag COLLATE NOCASE)")
    val ixr = Runner.runSql(spark, "PRAGMA index_xinfo(pragma_ix_r)")
      .collect().map(r => (r.getString(2), r.getInt(3), r.getString(4)))
      .toSeq.take(2)
    assert(ixr == Seq(("id", 1, "BINARY"), ("tag", 0, "NOCASE")), ixr)
    Runner.runSql(spark, "DROP INDEX pragma_ix_r")
    // the table-valued xinfo form rewrites like pragma_table_info
    val tvx = Runner.runSql(spark,
      "SELECT name, hidden FROM pragma_table_xinfo('pragma_ix') " +
        "ORDER BY name LIMIT 1").collect()
    assert(tvx.head.getString(0) == "id" && tvx.head.getInt(1) == 0)
    // unknown index: empty result (SQLite's behavior), not an error
    assert(Runner.runSql(spark, "PRAGMA index_info(no_such_ix)").count() == 0)
    // sqlite_master lists declared indexes (type 'index'), as SQLite's
    // catalog does
    val ix = Runner.runSql(spark,
      """SELECT name, tbl_name, sql FROM sqlite_master
         WHERE type = 'index' AND tbl_name = 'pragma_ix' ORDER BY name""")
      .collect().map(r => (r.getString(0), r.getString(2))).toSeq
    assert(ix.map(_._1) == Seq("pragma_ix_p", "pragma_ix_u"))
    assert(ix(1)._2 == "CREATE UNIQUE INDEX pragma_ix_u ON pragma_ix (score)")
    Runner.runSql(spark, "DROP INDEX pragma_ix_u")
    Runner.runSql(spark, "DROP INDEX pragma_ix_p")
    // a declared PRIMARY KEY surfaces in table_info's pk column,
    // 1-based in key order
    Runner.runSql(spark, "DROP TABLE IF EXISTS pragma_ct")
    Runner.runSql(spark,
      "CREATE TABLE pragma_ct (a TEXT, b INTEGER, c REAL, PRIMARY KEY (c, b))")
    val ti = Runner.runSql(spark, "PRAGMA table_info(pragma_ct)")
      .collect().map(r => (r.getString(1), r.getInt(5))).toSeq
    assert(ti == Seq(("a", 0), ("b", 2), ("c", 1)))
    // the synthesized sqlite_master DDL carries the declared PK (and
    // any DEFAULTs) for session-created tables
    val ddl = Runner.runSql(spark,
      "SELECT sql FROM sqlite_master WHERE name = 'pragma_ct'")
      .collect().head.getString(0)
    assert(ddl.contains("PRIMARY KEY (c, b)"), ddl)
    Runner.runSql(spark, "DROP TABLE pragma_ct")
    // a UNIQUE table constraint is NOT a PK: table_info reports pk=0,
    // the constraint surfaces as SQLite's automatic unique index
    // (origin 'u', sql NULL in sqlite_master), and the upsert key
    // still resolves against it
    Runner.runSql(spark, "DROP TABLE IF EXISTS pragma_uq")
    Runner.runSql(spark,
      "CREATE TABLE pragma_uq (a INTEGER, b TEXT, UNIQUE (b))")
    val uq = Runner.runSql(spark, "PRAGMA table_info(pragma_uq)")
      .collect().map(r => (r.getString(1), r.getInt(5))).toSeq
    assert(uq == Seq(("a", 0), ("b", 0)))
    val uil = Runner.runSql(spark, "PRAGMA index_list(pragma_uq)")
      .collect().map(r => (r.getString(1), r.getInt(2), r.getString(3))).toSeq
    assert(uil == Seq(("sqlite_autoindex_pragma_uq_1", 1, "u")))
    val usql = Runner.runSql(spark,
      "SELECT sql FROM sqlite_master WHERE name = 'sqlite_autoindex_pragma_uq_1'")
      .collect().head
    assert(usql.isNullAt(0))
    assert(graft.exec.SessionKeys.keyFor(spark, "pragma_uq")
      == Some(Seq("b")))
    Runner.runSql(spark, "DROP TABLE pragma_uq")
  }
}
