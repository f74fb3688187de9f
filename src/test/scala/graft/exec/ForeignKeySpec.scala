package graft.exec

import graft.SparkSpec
import graft.text2sql.SqlDialect

/** FOREIGN KEY declarations, introspection, and opt-in enforcement
  * (exec.ForeignKeys), through the full translate-and-run path.
  * Every row/error expectation is pinned against python sqlite3
  * 3.40.1 running the same statements in autocommit. */
class ForeignKeySpec extends SparkSpec
    with org.scalatest.BeforeAndAfterEach {

  private def sql(q: String) =
    Runner.runSql(spark, SqlDialect.translate(q))

  private def rowsOf(q: String): Seq[Seq[Any]] =
    sql(q).collect().map(_.toSeq.toSeq).toSeq

  private var n = 0
  private def fresh(): Int = { n += 1; n }

  override protected def afterEach(): Unit = {
    sql("PRAGMA foreign_keys = 0")
    super.afterEach()
  }

  test("foreign_key_list: reverse-declaration ids, composite seq, " +
       "short-form NULL `to`, actions, NONE match (sqlite3-pinned)") {
    val i = fresh()
    sql(s"CREATE TABLE flp$i (id INTEGER PRIMARY KEY, nm TEXT)")
    sql(s"""CREATE TABLE flc$i (a INTEGER, b INTEGER REFERENCES flp$i,
      c INTEGER,
      FOREIGN KEY (a) REFERENCES flp$i(id)
        ON DELETE CASCADE ON UPDATE SET NULL,
      FOREIGN KEY (c, a) REFERENCES flq$i(x, y))""")
    // sqlite3: [(0,0,'flq',c,x,...), (0,1,'flq',a,y,...),
    //           (1,0,'flp',a,id,SET NULL,CASCADE), (2,0,'flp',b,NULL)]
    assert(rowsOf(s"PRAGMA foreign_key_list(flc$i)") == Seq(
      Seq(0, 0, s"flq$i", "c", "x", "NO ACTION", "NO ACTION", "NONE"),
      Seq(0, 1, s"flq$i", "a", "y", "NO ACTION", "NO ACTION", "NONE"),
      Seq(1, 0, s"flp$i", "a", "id", "SET NULL", "CASCADE", "NONE"),
      Seq(2, 0, s"flp$i", "b", null, "NO ACTION", "NO ACTION", "NONE")))
    assert(rowsOf(s"PRAGMA foreign_key_list(flp$i)").isEmpty)
    // MATCH and DEFERRABLE clauses parse-accept and list identically
    // (sqlite3: MATCH is parsed-unimplemented, match column stays NONE)
    sql(s"""CREATE TABLE flm$i (a INTEGER REFERENCES flp$i(id) MATCH FULL
      DEFERRABLE INITIALLY DEFERRED)""")
    assert(rowsOf(s"PRAGMA foreign_key_list(flm$i)") == Seq(
      Seq(0, 0, s"flp$i", "a", "id", "NO ACTION", "NO ACTION", "NONE")))
    // the synthesized sqlite_master DDL carries the constraint
    val ddl = rowsOf(
      s"SELECT sql FROM sqlite_master WHERE name = 'flc$i'").head.head.toString
    assert(ddl.contains(s"FOREIGN KEY (a) REFERENCES flp$i (id) " +
      "ON DELETE CASCADE ON UPDATE SET NULL"), ddl)
  }

  test("foreign_key_check: orphan rows as (table, rowid, parent, fkid); " +
       "missing parent flags all non-null rows") {
    val i = fresh()
    sql(s"CREATE TABLE fcp$i (id INTEGER PRIMARY KEY)")
    sql(s"CREATE TABLE fcc$i (a INTEGER REFERENCES fcp$i, " +
      s"b INTEGER REFERENCES missing$i)")
    sql(s"INSERT INTO fcp$i VALUES (1)")
    // single-row statements with the rowid surface pre-enabled give
    // SQLite's sequential 1..3 (a multi-row VALUES materializes in
    // partition order — the rowid fixtures' documented convention);
    // b references a table that never existed → every non-null b
    // flags (sqlite3-measured)
    sql(s"SELECT rowid FROM fcc$i").collect()
    sql(s"INSERT INTO fcc$i VALUES (1, NULL)")
    sql(s"INSERT INTO fcc$i VALUES (2, NULL)")
    sql(s"INSERT INTO fcc$i VALUES (NULL, 5)")
    assert(rowsOf(s"PRAGMA foreign_key_check(fcc$i)") == Seq(
      Seq(s"fcc$i", 2L, s"fcp$i", 1L),
      Seq(s"fcc$i", 3L, s"missing$i", 0L)))
    // the bare form covers every declaring table
    assert(rowsOf(s"PRAGMA foreign_key_check").nonEmpty)
    // a clean table answers zero rows
    val j = fresh()
    sql(s"CREATE TABLE fcp$j (id INTEGER PRIMARY KEY)")
    sql(s"CREATE TABLE fcc$j (a INTEGER REFERENCES fcp$j)")
    sql(s"INSERT INTO fcp$j VALUES (7)")
    sql(s"INSERT INTO fcc$j VALUES (7), (NULL)")
    assert(rowsOf(s"PRAGMA foreign_key_check(fcc$j)").isEmpty)
  }

  test("enforcement: child INSERT/UPDATE violations fail with SQLite's " +
       "error; NULLs pass; valid references land") {
    val i = fresh()
    sql(s"CREATE TABLE ep$i (id INTEGER PRIMARY KEY)")
    sql(s"CREATE TABLE ec$i (a INTEGER REFERENCES ep$i, t TEXT)")
    sql(s"INSERT INTO ep$i VALUES (1), (2)")
    sql("PRAGMA foreign_keys = 1")
    val e = intercept[IllegalArgumentException] {
      sql(s"INSERT INTO ec$i VALUES (9, 'x')")
    }
    assert(e.getMessage == "FOREIGN KEY constraint failed")
    assert(sql(s"SELECT * FROM ec$i").count() == 0)
    sql(s"INSERT INTO ec$i VALUES (1, 'ok'), (NULL, 'null-ok')")
    assert(sql(s"SELECT * FROM ec$i").count() == 2)
    val e2 = intercept[IllegalArgumentException] {
      sql(s"UPDATE ec$i SET a = 77 WHERE t = 'ok'")
    }
    assert(e2.getMessage == "FOREIGN KEY constraint failed")
    sql(s"UPDATE ec$i SET a = 2 WHERE t = 'ok'") // valid re-point
    assert(rowsOf(s"SELECT a FROM ec$i WHERE t = 'ok'") == Seq(Seq(2L)))
    // enforcement off: the same violation is admitted (and then
    // visible to foreign_key_check)
    sql("PRAGMA foreign_keys = 0")
    sql(s"INSERT INTO ec$i VALUES (9, 'dangle')")
    assert(sql(s"PRAGMA foreign_key_check(ec$i)").count() == 1)
  }

  test("enforcement: parent DELETE / key UPDATE refuse while referenced; " +
       "unreferenced rows mutate freely") {
    val i = fresh()
    sql(s"CREATE TABLE pp$i (id INTEGER PRIMARY KEY)")
    sql(s"CREATE TABLE pc$i (a INTEGER REFERENCES pp$i)")
    sql(s"INSERT INTO pp$i VALUES (1), (2)")
    sql(s"INSERT INTO pc$i VALUES (1)")
    sql("PRAGMA foreign_keys = 1")
    val e = intercept[IllegalArgumentException] { sql(s"DELETE FROM pp$i") }
    assert(e.getMessage == "FOREIGN KEY constraint failed")
    assert(sql(s"SELECT * FROM pp$i").count() == 2) // rolled back whole
    sql(s"DELETE FROM pp$i WHERE id = 2") // unreferenced: fine
    val e2 = intercept[IllegalArgumentException] {
      sql(s"UPDATE pp$i SET id = 9 WHERE id = 1")
    }
    assert(e2.getMessage == "FOREIGN KEY constraint failed")
    // DROP of a referenced parent refuses (sqlite3: the implicit
    // DELETE raises); the child table itself drops fine
    val e3 = intercept[IllegalArgumentException] { sql(s"DROP TABLE pp$i") }
    assert(e3.getMessage == "FOREIGN KEY constraint failed")
    sql(s"DROP TABLE pc$i")
    sql(s"DROP TABLE pp$i") // no referencing children left
  }

  test("enforcement matches sqlite3's statement-end timing: forward " +
       "self-references pass, OR IGNORE discards before FK checks") {
    val i = fresh()
    sql(s"CREATE TABLE tr$i (id INTEGER PRIMARY KEY, par INTEGER " +
      s"REFERENCES tr$i)")
    sql("PRAGMA foreign_keys = 1")
    // sqlite3-measured: (4,5),(5,NULL) succeeds — row 4's parent is
    // created later in the same statement
    sql(s"INSERT INTO tr$i VALUES (4, 5), (5, NULL)")
    assert(sql(s"SELECT * FROM tr$i").count() == 2)
    intercept[IllegalArgumentException] {
      sql(s"INSERT INTO tr$i VALUES (6, 99)")
    }
    // OR IGNORE: a unique-conflict row that ALSO violates the FK is
    // discarded silently; a NON-conflicting violator still errors
    val j = fresh()
    sql(s"CREATE TABLE oip$j (id INTEGER PRIMARY KEY)")
    sql(s"CREATE TABLE oic$j (k INTEGER PRIMARY KEY, " +
      s"a INTEGER REFERENCES oip$j)")
    sql(s"INSERT INTO oip$j VALUES (1)")
    sql(s"INSERT INTO oic$j VALUES (10, 1)")
    sql(s"INSERT OR IGNORE INTO oic$j VALUES (10, 99)") // discarded
    assert(rowsOf(s"SELECT k, a FROM oic$j") == Seq(Seq(10L, 1L)))
    val e = intercept[IllegalArgumentException] {
      sql(s"INSERT OR IGNORE INTO oic$j VALUES (11, 99)")
    }
    assert(e.getMessage == "FOREIGN KEY constraint failed")
  }

  test("ON DELETE CASCADE executes on the parent-side DELETE; " +
       "mismatch and missing-parent errors use SQLite's texts") {
    val i = fresh()
    sql(s"CREATE TABLE cp$i (id INTEGER PRIMARY KEY)")
    sql(s"CREATE TABLE cc$i (a INTEGER REFERENCES cp$i ON DELETE CASCADE)")
    sql(s"INSERT INTO cp$i VALUES (1)")
    sql(s"INSERT INTO cc$i VALUES (1)")
    sql("PRAGMA foreign_keys = 1")
    sql(s"DELETE FROM cp$i")
    assert(sql(s"SELECT * FROM cc$i").count() == 0)
    // referencing a parent with no declared key: SQLite's mismatch text
    val j = fresh()
    sql(s"CREATE TABLE mp$j (x INTEGER)")
    sql(s"CREATE TABLE mc$j (a INTEGER REFERENCES mp$j)")
    val e2 = intercept[IllegalArgumentException] {
      sql(s"INSERT INTO mc$j VALUES (1)")
    }
    assert(e2.getMessage ==
      s"""foreign key mismatch - "mc$j" referencing "mp$j"""")
    // a parent table that does not exist: SQLite's no-such-table text
    val k = fresh()
    sql(s"CREATE TABLE nc$k (a INTEGER REFERENCES nosuch$k)")
    val e3 = intercept[IllegalArgumentException] {
      sql(s"INSERT INTO nc$k VALUES (1)")
    }
    assert(e3.getMessage == s"no such table: main.nosuch$k")
  }

  test("ALTER follows both sides; dropping a child FK column drops " +
       "its constraint (all sqlite3-measured)") {
    val i = fresh()
    sql(s"CREATE TABLE ap$i (k INTEGER PRIMARY KEY)")
    sql(s"CREATE TABLE ac$i (a INTEGER REFERENCES ap$i(k), b INTEGER)")
    sql(s"ALTER TABLE ap$i RENAME TO apx$i")
    assert(rowsOf(s"PRAGMA foreign_key_list(ac$i)") == Seq(
      Seq(0, 0, s"apx$i", "a", "k", "NO ACTION", "NO ACTION", "NONE")))
    sql(s"ALTER TABLE apx$i RENAME COLUMN k TO kk")
    assert(rowsOf(s"PRAGMA foreign_key_list(ac$i)") == Seq(
      Seq(0, 0, s"apx$i", "a", "kk", "NO ACTION", "NO ACTION", "NONE")))
    sql(s"ALTER TABLE ac$i RENAME COLUMN a TO aa")
    assert(rowsOf(s"PRAGMA foreign_key_list(ac$i)") == Seq(
      Seq(0, 0, s"apx$i", "aa", "kk", "NO ACTION", "NO ACTION", "NONE")))
    sql(s"ALTER TABLE ac$i DROP COLUMN aa")
    assert(rowsOf(s"PRAGMA foreign_key_list(ac$i)").isEmpty)
    // enforcement keeps working against the renamed parent
    val j = fresh()
    sql(s"CREATE TABLE bp$j (k INTEGER PRIMARY KEY)")
    sql(s"CREATE TABLE bc$j (a INTEGER REFERENCES bp$j(k))")
    sql(s"ALTER TABLE bp$j RENAME TO bpx$j")
    sql(s"INSERT INTO bpx$j VALUES (3)")
    sql("PRAGMA foreign_keys = 1")
    sql(s"INSERT INTO bc$j VALUES (3)")
    intercept[IllegalArgumentException] {
      sql(s"INSERT INTO bc$j VALUES (4)")
    }
  }

  test("self-referential DELETE removes referrers with their parents " +
       "(post-statement child state, sqlite3-measured)") {
    val i = fresh()
    sql(s"CREATE TABLE st$i (id INTEGER PRIMARY KEY, par INTEGER " +
      s"REFERENCES st$i)")
    sql(s"INSERT INTO st$i VALUES (1, NULL), (2, 1)")
    sql("PRAGMA foreign_keys = 1")
    // deleting the whole table removes row (2,1) together with its
    // parent — sqlite3 succeeds; a stale-child check would refuse
    sql(s"DELETE FROM st$i")
    assert(sql(s"SELECT * FROM st$i").count() == 0)
  }

  test("ON UPDATE actions drive parent-key UPDATEs (not ON DELETE); " +
       "CASCADE re-points the child references") {
    val i = fresh()
    sql(s"CREATE TABLE up$i (id INTEGER PRIMARY KEY)")
    sql(s"CREATE TABLE uc$i (a INTEGER REFERENCES up$i " +
      s"ON DELETE CASCADE)") // ON UPDATE stays NO ACTION
    sql(s"INSERT INTO up$i VALUES (1)")
    sql(s"INSERT INTO uc$i VALUES (1)")
    sql("PRAGMA foreign_keys = 1")
    // re-keying consults ON UPDATE (NO ACTION) → SQLite's constraint
    // error, NOT the ON DELETE CASCADE decline
    val e = intercept[IllegalArgumentException] {
      sql(s"UPDATE up$i SET id = 2 WHERE id = 1")
    }
    assert(e.getMessage == "FOREIGN KEY constraint failed")
    val j = fresh()
    sql(s"CREATE TABLE vp$j (id INTEGER PRIMARY KEY)")
    sql(s"CREATE TABLE vc$j (a INTEGER REFERENCES vp$j " +
      s"ON UPDATE CASCADE)")
    sql(s"INSERT INTO vp$j VALUES (1)")
    sql(s"INSERT INTO vc$j VALUES (1)")
    sql(s"UPDATE vp$j SET id = 2 WHERE id = 1")
    assert(rowsOf(s"SELECT a FROM vc$j") == Seq(Seq(2L)))
  }

  test("ON UPDATE CASCADE / SET NULL / SET DEFAULT execute on a " +
       "parent re-key (measured matrix); NULL references stay put") {
    val i = fresh()
    sql(s"CREATE TABLE mp$i (id INT PRIMARY KEY, v TEXT)")
    sql(s"CREATE TABLE mc$i (cid INT, pid INT REFERENCES mp$i(id) " +
      s"ON UPDATE CASCADE)")
    sql(s"CREATE TABLE mn$i (nid INT, pid INT REFERENCES mp$i(id) " +
      s"ON UPDATE SET NULL)")
    sql(s"CREATE TABLE md$i (did INT, pid INT DEFAULT 2 " +
      s"REFERENCES mp$i(id) ON UPDATE SET DEFAULT)")
    sql(s"INSERT INTO mp$i VALUES (1,'a'),(2,'b')")
    sql(s"INSERT INTO mc$i VALUES (10,1),(20,2),(30,NULL)")
    sql(s"INSERT INTO mn$i VALUES (40,1)")
    sql(s"INSERT INTO md$i VALUES (50,1)")
    sql("PRAGMA foreign_keys = 1")
    sql(s"UPDATE mp$i SET id = 5 WHERE id = 1")
    assert(rowsOf(s"SELECT cid, pid FROM mc$i ORDER BY cid") ==
      Seq(Seq(10L, 5L), Seq(20L, 2L), Seq(30L, null)))
    assert(rowsOf(s"SELECT nid, pid FROM mn$i") == Seq(Seq(40L, null)))
    assert(rowsOf(s"SELECT did, pid FROM md$i") == Seq(Seq(50L, 2L)))
    // non-key parent updates cascade nothing
    sql(s"UPDATE mp$i SET v = 'z' WHERE id = 5")
    assert(rowsOf(s"SELECT cid, pid FROM mc$i ORDER BY cid") ==
      Seq(Seq(10L, 5L), Seq(20L, 2L), Seq(30L, null)))
  }

  test("an upsert DO UPDATE re-keying the parent cascades ON UPDATE " +
       "too (measured)") {
    val i = fresh()
    sql(s"CREATE TABLE qp$i (id INT PRIMARY KEY, v TEXT UNIQUE)")
    sql(s"CREATE TABLE qc$i (cid INT, pid INT REFERENCES qp$i(id) " +
      s"ON UPDATE CASCADE)")
    sql(s"INSERT INTO qp$i VALUES (1,'a')")
    sql(s"INSERT INTO qc$i VALUES (10,1)")
    sql("PRAGMA foreign_keys = 1")
    sql(s"INSERT INTO qp$i VALUES (2,'a') " +
      s"ON CONFLICT(v) DO UPDATE SET id = 9")
    assert(rowsOf(s"SELECT cid, pid FROM qc$i") == Seq(Seq(10L, 9L)))
  }

  test("self-referential ON UPDATE CASCADE re-points the table's own " +
       "children to the re-keyed parent (sqlite3-measured)") {
    val i = fresh()
    sql(s"CREATE TABLE sp$i (id INT PRIMARY KEY, " +
      s"par INT REFERENCES sp$i(id) ON UPDATE CASCADE)")
    sql(s"INSERT INTO sp$i VALUES (1, NULL), (2, 1), (3, 2), (4, 1)")
    sql("PRAGMA foreign_keys = 1")
    sql(s"UPDATE sp$i SET id = 10 WHERE id = 1")
    assert(rowsOf(s"SELECT id, par FROM sp$i ORDER BY id") ==
      Seq(Seq(2L, 10L), Seq(3L, 2L), Seq(4L, 10L), Seq(10L, null)))
    // untouched keys cascade nothing; a non-key update runs plain
    sql(s"UPDATE sp$i SET par = 2 WHERE id = 4")
    assert(rowsOf(s"SELECT par FROM sp$i WHERE id = 4") == Seq(Seq(2L)))
  }

  test("self-referential ON UPDATE SET NULL nulls the table's own " +
       "dangling references (sqlite3-measured)") {
    val i = fresh()
    sql(s"CREATE TABLE sn$i (id INT PRIMARY KEY, " +
      s"par INT REFERENCES sn$i(id) ON UPDATE SET NULL)")
    sql(s"INSERT INTO sn$i VALUES (1, NULL), (2, 1), (3, 2)")
    sql("PRAGMA foreign_keys = 1")
    sql(s"UPDATE sn$i SET id = 5 WHERE id = 1")
    assert(rowsOf(s"SELECT id, par FROM sn$i ORDER BY id") ==
      Seq(Seq(2L, null), Seq(3L, 2L), Seq(5L, null)))
  }

  test("updates skip FKs whose columns are unmodified; dangling-only " +
       "children do not block DROP of the parent (sqlite3-measured)") {
    val i = fresh()
    sql(s"CREATE TABLE wp1$i (id INTEGER PRIMARY KEY)")
    sql(s"CREATE TABLE wp2$i (id INTEGER PRIMARY KEY)")
    sql(s"CREATE TABLE wt$i (a INTEGER REFERENCES wp1$i, " +
      s"b INTEGER REFERENCES wp2$i, v TEXT)")
    sql(s"INSERT INTO wp1$i VALUES (1)")
    sql(s"INSERT INTO wt$i VALUES (1, 555, 'x')") // b dangles (fk off)
    sql("PRAGMA foreign_keys = 1")
    // touching only `a` leaves the dangling `b` unchecked (measured)
    sql(s"UPDATE wt$i SET a = 1 WHERE v = 'x'")
    sql(s"UPDATE wt$i SET v = 'y'") // no FK column touched at all
    // wp2 has no key the dangling reference hits → drop succeeds
    sql(s"DROP TABLE wp2$i")
    // wp1 IS referenced → refuses
    val e = intercept[IllegalArgumentException] { sql(s"DROP TABLE wp1$i") }
    assert(e.getMessage == "FOREIGN KEY constraint failed")
  }

  test("ALTER TABLE ADD COLUMN REFERENCES registers and enforces; " +
       "fkcheck on an unknown table errors, FK-less table is clean") {
    val i = fresh()
    sql(s"CREATE TABLE gp$i (id INTEGER PRIMARY KEY)")
    sql(s"CREATE TABLE gc$i (a INTEGER REFERENCES gp$i)")
    sql(s"ALTER TABLE gc$i ADD COLUMN pid INTEGER REFERENCES gp$i(id)")
    // measured: the added column's FK is the newest → id 0
    assert(rowsOf(s"PRAGMA foreign_key_list(gc$i)") == Seq(
      Seq(0, 0, s"gp$i", "pid", "id", "NO ACTION", "NO ACTION", "NONE"),
      Seq(1, 0, s"gp$i", "a", null, "NO ACTION", "NO ACTION", "NONE")))
    sql(s"INSERT INTO gp$i VALUES (1)")
    sql("PRAGMA foreign_keys = 1")
    sql(s"INSERT INTO gc$i VALUES (1, 1)")
    val e = intercept[IllegalArgumentException] {
      sql(s"INSERT INTO gc$i VALUES (1, 99)")
    }
    assert(e.getMessage == "FOREIGN KEY constraint failed")
    // pragma edges (both sqlite3-measured)
    val e2 = intercept[IllegalArgumentException] {
      sql(s"PRAGMA foreign_key_check(fk_nosuch$i)")
    }
    assert(e2.getMessage == s"no such table: fk_nosuch$i")
    assert(rowsOf(s"PRAGMA foreign_key_check(gp$i)").isEmpty)
    // short-form arity against a composite PK: SQLite's mismatch text
    val j = fresh()
    sql(s"CREATE TABLE hp$j (x INTEGER, y INTEGER, PRIMARY KEY (x, y))")
    sql(s"CREATE TABLE hc$j (a INTEGER, FOREIGN KEY (a) REFERENCES hp$j)")
    val e3 = intercept[IllegalArgumentException] {
      sql(s"INSERT INTO hc$j VALUES (1)")
    }
    assert(e3.getMessage ==
      s"""foreign key mismatch - "hc$j" referencing "hp$j"""")
  }

  test("ON DELETE CASCADE removes referencing rows, fires the child's " +
       "triggers, and counts only in total_changes (sqlite3-measured)") {
    val i = fresh()
    sql(s"CREATE TABLE kp$i (id INTEGER PRIMARY KEY)")
    sql(s"CREATE TABLE kc$i (a INTEGER REFERENCES kp$i ON DELETE CASCADE," +
      s" v TEXT)")
    sql(s"CREATE TABLE klog$i (ev TEXT)")
    sql(s"CREATE TRIGGER ktg$i AFTER DELETE ON kc$i BEGIN " +
      s"INSERT INTO klog$i VALUES (OLD.v); END")
    sql(s"INSERT INTO kp$i VALUES (1), (2)")
    sql(s"INSERT INTO kc$i VALUES (1, 'a'), (1, 'b'), (2, 'c')")
    sql("PRAGMA foreign_keys = 1")
    val tot0 = rowsOf("SELECT total_changes() AS t").head.head
      .asInstanceOf[Long]
    sql(s"DELETE FROM kp$i WHERE id = 1")
    // sqlite3 3.40.1: changes()=1 (direct row only); total delta = 5
    // (1 parent + 2 cascaded children + 2 trigger-body inserts);
    // child triggers fire even with recursive_triggers OFF
    assert(rowsOf("SELECT changes() AS c") == Seq(Seq(1L)))
    assert(rowsOf("SELECT total_changes() AS t") == Seq(Seq(tot0 + 5L)))
    assert(rowsOf(s"SELECT a, v FROM kc$i") == Seq(Seq(2L, "c")))
    assert(rowsOf(s"SELECT ev FROM klog$i ORDER BY ev") ==
      Seq(Seq("a"), Seq("b")))
  }

  test("cascade chains span tables; DROP TABLE cascades like the " +
       "implicit DELETE (sqlite3-measured)") {
    val i = fresh()
    sql(s"CREATE TABLE ca$i (id INTEGER PRIMARY KEY)")
    sql(s"CREATE TABLE cb$i (id INTEGER PRIMARY KEY, " +
      s"aid INTEGER REFERENCES ca$i ON DELETE CASCADE)")
    sql(s"CREATE TABLE cz$i (bid INTEGER REFERENCES cb$i " +
      s"ON DELETE CASCADE, v TEXT)")
    sql(s"INSERT INTO ca$i VALUES (1), (2)")
    sql(s"INSERT INTO cb$i VALUES (10, 1), (20, 2)")
    sql(s"INSERT INTO cz$i VALUES (10, 'x'), (20, 'y')")
    sql("PRAGMA foreign_keys = 1")
    sql(s"DELETE FROM ca$i WHERE id = 1") // → cb 10 → cz 'x'
    assert(rowsOf(s"SELECT id FROM cb$i") == Seq(Seq(20L)))
    assert(rowsOf(s"SELECT v FROM cz$i") == Seq(Seq("y")))
    sql(s"DROP TABLE ca$i") // implicit DELETE cascades the rest
    assert(sql(s"SELECT * FROM cb$i").count() == 0)
    assert(sql(s"SELECT * FROM cz$i").count() == 0)
  }

  test("self-referential ON DELETE CASCADE settles transitively " +
       "(tree delete, sqlite3-measured)") {
    val i = fresh()
    sql(s"CREATE TABLE tree$i (id INTEGER PRIMARY KEY, " +
      s"par INTEGER REFERENCES tree$i ON DELETE CASCADE)")
    sql(s"INSERT INTO tree$i VALUES (1, NULL), (2, 1), (3, 2), (4, 3), " +
      s"(9, NULL), (10, 9)")
    sql("PRAGMA foreign_keys = 1")
    val tot0 = rowsOf("SELECT total_changes() AS t").head.head
      .asInstanceOf[Long]
    sql(s"DELETE FROM tree$i WHERE id = 1") // 2, 3, 4 follow
    assert(rowsOf(s"SELECT id FROM tree$i ORDER BY id") ==
      Seq(Seq(9L), Seq(10L)))
    assert(rowsOf("SELECT changes() AS c") == Seq(Seq(1L)))
    assert(rowsOf("SELECT total_changes() AS t") == Seq(Seq(tot0 + 4L)))
  }

  test("ON DELETE SET NULL / SET DEFAULT rewrite the reference; a " +
       "default pointing at no key fails the statement (measured)") {
    val i = fresh()
    sql(s"CREATE TABLE sp$i (id INTEGER PRIMARY KEY)")
    sql(s"CREATE TABLE sn$i (a INTEGER DEFAULT 7 REFERENCES sp$i " +
      s"ON DELETE SET DEFAULT, b INTEGER REFERENCES sp$i " +
      s"ON DELETE SET NULL, v TEXT)")
    sql(s"INSERT INTO sp$i VALUES (1), (7)")
    sql(s"INSERT INTO sn$i VALUES (1, 1, 'q')")
    sql("PRAGMA foreign_keys = 1")
    sql(s"DELETE FROM sp$i WHERE id = 1")
    assert(rowsOf(s"SELECT a, b, v FROM sn$i") == Seq(Seq(7L, null, "q")))
    // SET DEFAULT whose default key is absent: statement fails whole
    val j = fresh()
    sql(s"CREATE TABLE dp$j (id INTEGER PRIMARY KEY)")
    sql(s"CREATE TABLE dn$j (a INTEGER DEFAULT 99 REFERENCES dp$j " +
      s"ON DELETE SET DEFAULT)")
    sql(s"INSERT INTO dp$j VALUES (2)")
    sql(s"INSERT INTO dn$j VALUES (2)")
    val e = intercept[IllegalArgumentException] {
      sql(s"DELETE FROM dp$j WHERE id = 2")
    }
    assert(e.getMessage == "FOREIGN KEY constraint failed")
    assert(rowsOf(s"SELECT id FROM dp$j") == Seq(Seq(2L))) // rolled back
    assert(rowsOf(s"SELECT a FROM dn$j") == Seq(Seq(2L)))
  }

  test("a CASCADE satisfies a sibling NO ACTION constraint; one in " +
       "another table still blocks (both sqlite3-measured)") {
    val i = fresh()
    sql(s"CREATE TABLE xp$i (id INTEGER PRIMARY KEY)")
    sql(s"CREATE TABLE xd$i (b INTEGER REFERENCES xp$i, " +
      s"a INTEGER REFERENCES xp$i ON DELETE CASCADE)")
    sql(s"INSERT INTO xp$i VALUES (1)")
    sql(s"INSERT INTO xd$i VALUES (1, 1)")
    sql("PRAGMA foreign_keys = 1")
    sql(s"DELETE FROM xp$i WHERE id = 1") // cascade removes the row
    assert(sql(s"SELECT * FROM xd$i").count() == 0)
    val j = fresh()
    sql(s"CREATE TABLE yp$j (id INTEGER PRIMARY KEY)")
    sql(s"CREATE TABLE ye1$j (a INTEGER REFERENCES yp$j " +
      s"ON DELETE CASCADE)")
    sql(s"CREATE TABLE ye2$j (b INTEGER REFERENCES yp$j)")
    sql(s"INSERT INTO yp$j VALUES (1)")
    sql(s"INSERT INTO ye1$j VALUES (1)")
    sql(s"INSERT INTO ye2$j VALUES (1)")
    val e = intercept[IllegalArgumentException] { sql(s"DELETE FROM yp$j") }
    assert(e.getMessage == "FOREIGN KEY constraint failed")
    // the whole statement rolled back, INCLUDING the ye1 cascade
    assert(sql(s"SELECT * FROM ye1$j").count() == 1)
    assert(sql(s"SELECT * FROM yp$j").count() == 1)
  }

  test("self-cascade follows only the removed-key chain: pre-existing " +
       "dangles survive, cross-table cascades see descendants") {
    val i = fresh()
    sql(s"CREATE TABLE rt$i (id INTEGER PRIMARY KEY, " +
      s"par INTEGER REFERENCES rt$i ON DELETE CASCADE)")
    sql(s"INSERT INTO rt$i VALUES (1, NULL), (2, 1), (5, 999)") // 5 dangles
    sql(s"CREATE TABLE ra$i (x INTEGER REFERENCES rt$i " +
      s"ON DELETE CASCADE)")
    sql(s"INSERT INTO ra$i VALUES (2)") // references the DESCENDANT
    sql("PRAGMA foreign_keys = 1")
    sql(s"DELETE FROM rt$i WHERE id = 1")
    // sqlite3: rows 1 and 2 go; the pre-existing dangle (5,999) stays
    // (only foreign_key_check flags it); ra's row referencing the
    // self-cascaded descendant 2 goes too
    assert(rowsOf(s"SELECT id FROM rt$i") == Seq(Seq(5L)))
    assert(sql(s"SELECT * FROM ra$i").count() == 0)
    // a DELETE matching nothing is a complete no-op — no cascade, no
    // trigger-guard, the dangle untouched
    sql(s"DELETE FROM rt$i WHERE id = -1")
    assert(rowsOf(s"SELECT id FROM rt$i") == Seq(Seq(5L)))
  }

  test("zero-removal statements skip actions; DROP of an empty " +
       "self-cascade table with a DELETE trigger succeeds") {
    val i = fresh()
    sql(s"CREATE TABLE zp$i (id INTEGER PRIMARY KEY)")
    sql(s"CREATE TABLE zc$i (a INTEGER REFERENCES zp$i " +
      s"ON DELETE CASCADE)")
    sql(s"INSERT INTO zp$i VALUES (1)")
    sql(s"INSERT INTO zc$i VALUES (1)")
    sql("PRAGMA foreign_keys = 1")
    sql(s"DELETE FROM zp$i WHERE id = 77") // matches nothing
    assert(sql(s"SELECT * FROM zc$i").count() == 1)
    // self-cascade + own DELETE trigger: fine while nothing cascades
    val j = fresh()
    sql(s"CREATE TABLE zt$j (id INTEGER PRIMARY KEY, " +
      s"par INTEGER REFERENCES zt$j ON DELETE CASCADE)")
    sql(s"CREATE TABLE zl$j (ev TEXT)")
    sql(s"CREATE TRIGGER ztg$j AFTER DELETE ON zt$j BEGIN " +
      s"INSERT INTO zl$j VALUES ('d'); END")
    sql(s"INSERT INTO zt$j VALUES (1, NULL)") // no referrers
    sql(s"DELETE FROM zt$j WHERE id = 1") // removes a key, cascades 0 rows
    assert(sql(s"SELECT * FROM zt$j").count() == 0)
    sql(s"DROP TABLE zt$j") // empty now — implicit DELETE is a no-op
  }

  test("deep self-cascade chains settle (80-level linked list)") {
    val i = fresh()
    sql(s"CREATE TABLE dt$i (id INTEGER PRIMARY KEY, " +
      s"par INTEGER REFERENCES dt$i ON DELETE CASCADE)")
    val rows = (0 to 80).map(k =>
      if (k == 0) "(0, NULL)" else s"($k, ${k - 1})").mkString(", ")
    sql(s"INSERT INTO dt$i VALUES $rows")
    sql("PRAGMA foreign_keys = 1")
    sql(s"DELETE FROM dt$i WHERE id = 0")
    assert(sql(s"SELECT * FROM dt$i").count() == 0)
  }

  test("INSERT OR REPLACE cascades the displaced row's children even " +
       "though the key is re-inserted (sqlite3-measured)") {
    val i = fresh()
    sql(s"CREATE TABLE op$i (id INTEGER PRIMARY KEY, v TEXT)")
    sql(s"CREATE TABLE oc$i (a INTEGER REFERENCES op$i " +
      s"ON DELETE CASCADE)")
    sql(s"CREATE TABLE on$i (b INTEGER REFERENCES op$i)")
    sql(s"INSERT INTO op$i VALUES (1, 'x')")
    sql(s"INSERT INTO oc$i VALUES (1)")
    sql(s"INSERT INTO on$i VALUES (1)")
    sql("PRAGMA foreign_keys = 1")
    sql(s"INSERT OR REPLACE INTO op$i VALUES (1, 'y')")
    // the cascade child empties; the NO ACTION child is satisfied by
    // the re-inserted key (end-of-statement settling, both measured)
    assert(sql(s"SELECT * FROM oc$i").count() == 0)
    assert(sql(s"SELECT * FROM on$i").count() == 1)
    assert(rowsOf(s"SELECT v FROM op$i") == Seq(Seq("y")))
    // a replace hitting NO conflicting key cascades nothing
    sql(s"INSERT INTO oc$i VALUES (1)")
    sql(s"INSERT OR REPLACE INTO op$i VALUES (2, 'z')")
    assert(sql(s"SELECT * FROM oc$i").count() == 1)
    // an ON CONFLICT clause OVERRIDES the replace resolution — the
    // parent row is kept/updated in place, never displaced, so the
    // cascade child SURVIVES (both sqlite3-measured)
    sql(s"INSERT OR REPLACE INTO op$i VALUES (1, 'q') " +
      s"ON CONFLICT(id) DO NOTHING")
    assert(sql(s"SELECT * FROM oc$i").count() == 1)
    assert(rowsOf(s"SELECT v FROM op$i WHERE id = 1") == Seq(Seq("y")))
    sql(s"INSERT OR REPLACE INTO op$i VALUES (1, 'w') " +
      s"ON CONFLICT(id) DO UPDATE SET v = excluded.v")
    assert(sql(s"SELECT * FROM oc$i").count() == 1)
    assert(rowsOf(s"SELECT v FROM op$i WHERE id = 1") == Seq(Seq("w")))
    // a conflict-free replace into a SELF-cascade table is a plain
    // insert (measured); a real displacement EXECUTES the self-cascade
    // in-plan (frontier = the displaced keys)
    val k = fresh()
    sql(s"CREATE TABLE sr$k (id INTEGER PRIMARY KEY, " +
      s"par INTEGER REFERENCES sr$k ON DELETE CASCADE)")
    sql(s"INSERT INTO sr$k VALUES (1, NULL)")
    sql(s"INSERT OR REPLACE INTO sr$k VALUES (10, NULL)")
    assert(sql(s"SELECT * FROM sr$k").count() == 2)
    // childless displacement: cascade is a no-op, the replace lands
    sql(s"INSERT OR REPLACE INTO sr$k VALUES (1, NULL)")
    assert(sql(s"SELECT * FROM sr$k").count() == 2)
    // a zero-row DELETE on a SET DEFAULT self-FK with a pre-existing
    // dangle is a complete no-op (the re-validation must not flag it)
    val m = fresh()
    sql(s"CREATE TABLE sd$m (id INTEGER PRIMARY KEY, " +
      s"par INTEGER DEFAULT 1 REFERENCES sd$m ON DELETE SET DEFAULT)")
    sql("PRAGMA foreign_keys = 0")
    sql(s"INSERT INTO sd$m VALUES (5, 999)") // dangling
    sql("PRAGMA foreign_keys = 1")
    sql(s"DELETE FROM sd$m WHERE id = -1")
    assert(rowsOf(s"SELECT id, par FROM sd$m") == Seq(Seq(5L, 999L)))
  }

  test("self-referential INSERT OR REPLACE cascade executes: the " +
      "displaced key's subtree empties transitively, SET NULL " +
      "re-points untouched children — both measured; only a cascade " +
      "landing on a statement-written row declines (measured " +
      "VALUES-order dependence)") {
    def tree(act: String): String = {
      val i = fresh()
      sql(s"CREATE TABLE tr$i (id INTEGER PRIMARY KEY, " +
        s"par INTEGER REFERENCES tr$i ON DELETE $act, v TEXT)")
      sql(s"INSERT INTO tr$i VALUES (1, NULL, 'root'), (2, 1, 'a'), " +
        s"(3, 2, 'b'), (4, NULL, 'other')")
      sql("PRAGMA foreign_keys = 1")
      s"tr$i"
    }
    // measured: replacing the root empties its subtree transitively
    // (2 via par=1, then 3 via par=2), total_changes counts cascades
    val t1 = tree("CASCADE")
    sql(s"INSERT OR REPLACE INTO $t1 VALUES (1, NULL, 'root2')")
    assert(rowsOf(s"SELECT id, v FROM $t1 ORDER BY id") ==
      Seq(Seq(1L, "root2"), Seq(4L, "other")))
    // measured: replacing a mid node cascades only below it
    val t2 = tree("CASCADE")
    sql(s"INSERT OR REPLACE INTO $t2 VALUES (2, 1, 'a2')")
    assert(rowsOf(s"SELECT id, v FROM $t2 ORDER BY id") ==
      Seq(Seq(1L, "root"), Seq(2L, "a2"), Seq(4L, "other")))
    // measured: SET NULL re-points the displaced key's direct
    // children, grandchildren stay
    val t3 = tree("SET NULL")
    sql(s"INSERT OR REPLACE INTO $t3 VALUES (1, NULL, 'r2')")
    assert(rowsOf(s"SELECT id, par FROM $t3 ORDER BY id") ==
      Seq(Seq(1L, null), Seq(2L, null), Seq(3L, 2L), Seq(4L, null)))
    // measured order dependence: (1,NULL),(2,1) keeps the re-inserted
    // child in sqlite3 while (2,1),(1,NULL) cascades it away — the
    // written-row interaction declines named, table untouched
    val t4 = tree("CASCADE")
    val e = intercept[UnsupportedOperationException] {
      sql(s"INSERT OR REPLACE INTO $t4 VALUES (1, NULL, 'root2'), " +
        s"(2, 1, 'a2')")
    }
    assert(e.getMessage.contains("VALUES order"), e.getMessage)
    assert(rowsOf(s"SELECT id, v FROM $t4 ORDER BY id") ==
      Seq(Seq(1L, "root"), Seq(2L, "a"), Seq(3L, "b"), Seq(4L, "other")))
    // same decline for a SET NULL re-point of a written row
    val t5 = tree("SET NULL")
    val e2 = intercept[UnsupportedOperationException] {
      sql(s"INSERT OR REPLACE INTO $t5 VALUES (1, NULL, 'r2'), " +
        s"(5, 1, 'x')")
    }
    assert(e2.getMessage.contains("VALUES order"), e2.getMessage)
  }

  test("self-referential INSERT OR REPLACE through a nullable UNIQUE " +
      "parent key: a written row whose parent key is NULL is still " +
      "recognised as written, so the order-dependent cascade and " +
      "re-point decline instead of diverging") {
    // sqlite3 3.40.1: VALUES (1,5,NULL),(2,NULL,5) keeps (2,NULL,5)
    // under both actions; the reverse order re-points it (SET NULL) or
    // deletes it (CASCADE)
    Seq("SET NULL", "CASCADE").foreach { act =>
      val i = fresh()
      sql(s"CREATE TABLE nu$i (id INTEGER PRIMARY KEY, k INTEGER UNIQUE, " +
        s"p INTEGER REFERENCES nu$i(k) ON DELETE $act)")
      sql(s"INSERT INTO nu$i VALUES (1, 5, NULL), (3, 7, NULL)")
      sql("PRAGMA foreign_keys = 1")
      val e = intercept[UnsupportedOperationException] {
        sql(s"INSERT OR REPLACE INTO nu$i VALUES (1, 5, NULL), (2, NULL, 5)")
      }
      assert(e.getMessage.contains("VALUES order"), s"$act: ${e.getMessage}")
      assert(rowsOf(s"SELECT id, k, p FROM nu$i ORDER BY id") ==
        Seq(Seq(1L, 5L, null), Seq(3L, 7L, null)), act)
      sql("PRAGMA foreign_keys = 0")
    }
  }

  test("composite FK enforces on the declared multi-column key; " +
       "any NULL component passes (SQLite's rule)") {
    val i = fresh()
    sql(s"CREATE TABLE kp$i (x INTEGER, y INTEGER, PRIMARY KEY (x, y))")
    sql(s"CREATE TABLE kc$i (c1 INTEGER, c2 INTEGER, " +
      s"FOREIGN KEY (c1, c2) REFERENCES kp$i(x, y))")
    sql(s"INSERT INTO kp$i VALUES (1, 10), (2, 20)")
    sql("PRAGMA foreign_keys = 1")
    sql(s"INSERT INTO kc$i VALUES (1, 10), (NULL, 999), (999, NULL)")
    assert(sql(s"SELECT * FROM kc$i").count() == 3)
    val e = intercept[IllegalArgumentException] {
      sql(s"INSERT INTO kc$i VALUES (1, 20)") // cross-pairing: no match
    }
    assert(e.getMessage == "FOREIGN KEY constraint failed")
  }

  test("a parent UPDATE assigning no referenced key column issues no " +
       "FK check job; re-keying a referenced parent still refuses") {
    val i = fresh()
    sql(s"CREATE TABLE np$i (id INTEGER PRIMARY KEY, nm TEXT)")
    sql(s"CREATE TABLE nc$i (a INTEGER REFERENCES np$i)")
    sql(s"INSERT INTO np$i VALUES (1, 'x'), (2, 'y')")
    sql(s"INSERT INTO nc$i VALUES (1)")
    sql("PRAGMA foreign_keys = 1")
    val jobs = new JobSites(spark)
    try {
      assert(jobs.jobsFrom("ForeignKeys.scala")(
        sql(s"UPDATE np$i SET nm = 'z' WHERE id = 1")) == 0)
      // an upsert's DO UPDATE follows the same rule
      assert(jobs.jobsFrom("ForeignKeys.scala")(
        sql(s"INSERT INTO np$i VALUES (2, 'w') " +
          "ON CONFLICT(id) DO UPDATE SET nm = excluded.nm")) == 0)
      assert(rowsOf(s"SELECT id, nm FROM np$i ORDER BY id") ==
        Seq(Seq(1L, "z"), Seq(2L, "w")))
      val e = intercept[IllegalArgumentException] {
        sql(s"UPDATE np$i SET id = 9 WHERE id = 1")
      }
      assert(e.getMessage == "FOREIGN KEY constraint failed")
      assert(rowsOf(s"SELECT id FROM np$i ORDER BY id") ==
        Seq(Seq(1L), Seq(2L)))
      // an unreferenced parent re-keys freely, checked by FK jobs
      assert(jobs.jobsFrom("ForeignKeys.scala")(
        sql(s"UPDATE np$i SET id = 8 WHERE id = 2")) > 0)
    } finally jobs.stop()
  }
}
