package graft.plans

import graft.SparkSpec
import graft.text2sql.SqlDialect
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry

/** [[SqliteFunctions]] is the one home of SQLite function semantics:
  * the translator leaves a call to each of its names verbatim and only
  * renames the calls whose name Spark owns, and no registered name
  * shadows a Spark built-in. */
class SqliteFunctionsSpec extends SparkSpec {

  private val names = SqliteFunctions.names

  private def call(name: String, arity: Int) =
    s"SELECT $name(${(1 to arity).map(i => s"a$i").mkString(", ")}) FROM t"

  test("the translator leaves a call to every registered name verbatim") {
    assert(names.contains("strftime") && names.contains("json_group_object"))
    for (n <- names; k <- 0 to 3)
      assert(SqlDialect.translate(call(n, k)) == call(n, k), s"$n/$k")
    // the seven names both forms once implemented, DISTINCT included
    for (n <- Seq("iif", "julianday", "unixepoch", "total", "group_concat",
                  "unicode", "glob"))
      assert(names.contains(n), n)
  }

  test("a call whose name Spark owns is only renamed, to a registered name") {
    for ((name, (applies, target)) <- SqlDialect.renames; k <- 0 to 3) {
      val want = if (applies(k)) call(target, k) else call(name, k)
      assert(SqlDialect.translate(call(name, k)) == want, s"$name/$k")
      if (applies(k)) assert(names.contains(target), target)
    }
    assert(SqlDialect.translate("SELECT group_concat(DISTINCT a, '|') FROM t") ==
      "SELECT sqlite_group_concat_distinct(a, '|') FROM t")
    assert(names.contains("sqlite_group_concat_distinct"))
  }

  test("no registered name shadows a Spark built-in") {
    for (n <- names)
      assert(!FunctionRegistry.builtin.functionExists(FunctionIdentifier(n)) ||
        n.startsWith("sqlite_") || n.startsWith("graft_"), n)
    // the names the translator renames away ARE Spark's
    for (n <- SqlDialect.renames.keys)
      assert(FunctionRegistry.builtin.functionExists(FunctionIdentifier(n)), n)
  }

  test("every rename target resolves in a GraftSession.create session") {
    val registry = spark.sessionState.functionRegistry
    for ((_, (_, target)) <- SqlDialect.renames)
      assert(registry.functionExists(FunctionIdentifier(target)), target)
    assert(registry.functionExists(FunctionIdentifier("sqlite_group_concat_distinct")))
  }
}
