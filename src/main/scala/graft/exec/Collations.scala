package graft.exec

import org.apache.spark.sql.SparkSession
import graft.text2sql.{SqlDialect, SqlText}
import graft.text2sql.SqlText.{isWordChar, keywordAt, skipWs}

/** Column-DECLARED collations for the generated-SQL path. SQLite's
  * rule (datatype3.html §7.1): a bare comparison over a column
  * declared `COLLATE NOCASE` / `RTRIM` uses that collation, as do
  * ORDER BY and GROUP BY terms naming the column. The declarations
  * register at CREATE TABLE / ADD COLUMN ([[SessionKeys]]); this pass
  * makes them ACT by injecting the declared `COLLATE <name>` rider
  * after qualifying references and re-running the dialect translator,
  * whose existing expression-level COLLATE machinery
  * ([[SqlDialect]] rewriteCollate) then folds the comparison — the
  * same path an explicit `x = 'a' COLLATE NOCASE` takes, so declared
  * and expression-level collations can never disagree.
  *
  * Folded positions (the ones SQLite reaches through the column's
  * collation AND the translator models): a comparison operand
  * (`=`, `==`, `!=`, `<>`, `<`, `>`, `<=`, `>=`, either side), the
  * left side of `[NOT] IN (scalar list | SELECT …)` / `[NOT] BETWEEN`
  * (the translator then folds every list member / the wrapped
  * subquery result / both bounds — SQLite's operand propagation,
  * datatype3.html §7.1), a bare ORDER BY / GROUP BY term (ASC/DESC
  * riders fine), and — when a GROUP BY term folds — bare same-column
  * references in the select list / HAVING (grouping and projection
  * must agree or Spark rejects the plan).
  * Function-WRAPPED terms stay BINARY — SQLite's own rule (measured:
  * only unary + preserves a column's collation through a wrap, and
  * that shape folds here via its comparison position), so no rider is
  * injected there. Documented divergences, README table: an
  * unqualified reference is folded when ANY referenced table declares
  * the name — same-named columns with CONFLICTING declared collations
  * across referenced tables skip the fold entirely (never guess).
  * An explicit `COLLATE` already decorating the reference wins
  * (SQLite's override rule) — no injection happens there.
  *
  * Cost: one cheap registry check per statement; the token scan and
  * re-translate run only when a referenced table actually declares a
  * collation. Ingested lake tables never do.
  */
object Collations {

  /** Every table with declared collations: lowercased table →
    * (lowercased column → collation). */
  private def declared(spark: SparkSession): Map[String, Map[String, String]] =
    SessionKeys.tables(spark).collect {
      case (t, d) if d.collates.nonEmpty => t -> d.collates
    }

  def fold(spark: SparkSession, sql: String, csLike: Boolean): String = {
    val all = declared(spark)
    if (all.isEmpty) return sql
    // declaration/DDL text never folds; PRAGMAs answer from registries
    val head = skipWs(sql, 0)
    if (Seq("create", "alter", "drop", "pragma").exists(keywordAt(sql, head, _)))
      return sql
    // an explicit COLLATE anywhere in the statement takes precedence
    // (SQLite's override rule); rather than model the per-comparison
    // precedence textually, a statement that spells any COLLATE keeps
    // exactly its spelled collations — documented in the README table.
    // A spelled BINARY survives translation as the /*graft_binary*/
    // marker ([[SqlDialect]] rewriteCollate); NOCASE/RTRIM survive as
    // their lower()/rtrim() folds plus, in undecorated contexts, the
    // verbatim keyword.
    if (referencesWord(sql, "collate") ||
        sql.contains("/*graft_binary*/")) return sql
    // a CTE shadows a same-named session table for the whole statement
    // (SQLite scoping — the Rowid pass applies the same rule): its
    // columns carry no declared collation
    val ctes = graft.text2sql.RowidRewrite.cteNames(sql)
    val referenced = all.filter { case (t, _) =>
      !ctes.contains(t) && referencesWord(sql, t)
    }
    if (referenced.isEmpty) return sql
    // column -> (collation, declaring tables) over the referenced
    // tables; conflicting declarations for one name drop the name
    // (never guess)
    val byCol: Map[String, (String, Set[String])] =
      referenced.toSeq.flatMap { case (t, m) => m.toSeq.map {
        case (c, v) => (c, v, t)
      } }.groupBy(_._1).flatMap { case (c, vs) =>
        val distinct = vs.map(_._2).toSet
        if (distinct.size == 1)
          Some(c -> (distinct.head, vs.map(_._3).toSet))
        else None
      }
    if (byCol.isEmpty) return sql
    val injected = inject(sql, byCol)
    if (injected == sql) sql
    else SqlDialect.translate(injected, csLike)
  }

  /** Fold declared collations inside a DML WHERE fragment (UPDATE /
    * DELETE route — [[Mutate]]). The statement-level [[fold]] must not
    * see DML text (`SET a = b` is textually comparison-shaped), but
    * the WHERE fragment alone is pure predicate context: comparison
    * and [NOT] IN / BETWEEN positions fold exactly as on the query
    * route. `table` is the statement's target — its declared
    * collations apply even when the fragment never names it; other
    * referenced session tables merge in under the same
    * conflicting-declaration skip the query route uses. */
  def foldWhere(spark: SparkSession, table: String, fragment: String,
                csLike: Boolean): String = {
    val all = declared(spark)
    if (all.isEmpty) return fragment
    if (referencesWord(fragment, "collate") ||
        fragment.contains("/*graft_binary*/")) return fragment
    val t = table.toLowerCase
    val referenced = all.filter { case (tn, _) =>
      tn == t || referencesWord(fragment, tn)
    }
    if (referenced.isEmpty) return fragment
    val byCol: Map[String, (String, Set[String])] =
      referenced.toSeq.flatMap { case (tn, m) => m.toSeq.map {
        case (c, v) => (c, v, tn)
      } }.groupBy(_._1).flatMap { case (c, vs) =>
        val distinct = vs.map(_._2).toSet
        if (distinct.size == 1)
          Some(c -> (distinct.head, vs.map(_._3).toSet))
        else None
      }
    if (byCol.isEmpty) return fragment
    val injected = walk(fragment, byCol, Set.empty)._2
    if (injected == fragment) fragment
    else SqlDialect.translate(s"SELECT ($injected)", csLike)
      .stripPrefix("SELECT ").trim
  }

  /** Word-boundary reference scan (in code). */
  private def referencesWord(sql: String, word: String): Boolean =
    SqlText.find(sql, 0)(keywordAt(sql, _, word)) >= 0

  private def isCmpAt(sql: String, i: Int): Boolean = {
    if (i >= sql.length) return false
    val two = if (i + 2 <= sql.length) sql.substring(i, i + 2) else ""
    if (Seq("==", "!=", "<>", "<=", ">=").contains(two)) return true
    val one = sql.charAt(i)
    // a lone < or > (not part of <<, >>, <>, <=, >=, handled above)
    (one == '=' || one == '<' || one == '>') &&
      !(one == '<' && i + 1 < sql.length && sql.charAt(i + 1) == '<') &&
      !(one == '>' && i + 1 < sql.length && sql.charAt(i + 1) == '>')
  }

  private def isCmpEndingAt(sql: String, endExcl: Int): Boolean = {
    if (endExcl >= 2 &&
        Seq("==", "!=", "<>", "<=", ">=")
          .contains(sql.substring(endExcl - 2, endExcl))) return true
    if (endExcl >= 1) {
      val c = sql.charAt(endExcl - 1)
      (c == '=' || c == '<' || c == '>') &&
        !(endExcl >= 2 && (sql.charAt(endExcl - 2) == '<' ||
          sql.charAt(endExcl - 2) == '>'))
    } else false
  }

  /** Inject `COLLATE <name>` after foldable references to collated
    * columns. The scan tracks paren depth and an ORDER BY / GROUP BY
    * scope at its depth, skips quoted regions, and never decorates a
    * reference that already carries a COLLATE, is a function call, or
    * is itself a qualifier (`x` in `x.y`). A QUALIFIED reference folds
    * only when the qualifier IS a declaring table's name — `u.x` with
    * `u` some other relation must not take `t`'s collation, and an
    * alias-qualified reference stays unfolded (conservative — README
    * divergence table).
    *
    * Foldable positions: comparison operands, `[NOT] IN` / `[NOT]
    * BETWEEN` left sides (SqlDialect then folds the list members /
    * bounds too), ORDER BY / GROUP BY terms. When a GROUP BY term
    * folds, bare references to the SAME column directly in the select
    * list or HAVING clause fold with it — `SELECT x, count(*) …
    * GROUP BY x` must group and project the same expression or Spark
    * rejects the plan (MISSING_AGGREGATION); a standalone select item
    * keeps its column name via an injected `AS`. SQLite's bare-column
    * representative is arbitrary-case; the fold's lowercased
    * representative is the documented deterministic stand-in (README
    * table). Runs in two passes: pass 1 discovers which columns fold
    * in a GROUP BY list, pass 2 emits. */
  private def inject(sql: String,
                     byCol: Map[String, (String, Set[String])]): String = {
    val gf = walk(sql, byCol, Set.empty)._1
    walk(sql, byCol, gf)._2
  }

  private def walk(sql: String, byCol: Map[String, (String, Set[String])],
                   groupFolded: Set[String]): (Set[String], String) = {
    val out = new java.lang.StringBuilder
    val gf = scala.collection.mutable.Set[String]()
    var i = 0
    var depth = 0
    var byDepth = -1    // ORDER/GROUP BY list scope, -1 = none
    var groupDepth = -1 // GROUP BY specifically (subset of byDepth)
    var havingDepth = -1
    var selStack: List[Int] = Nil // depths of open select-list scopes
    while (i < sql.length) {
      val c = sql.charAt(i)
      val opaque = SqlText.skipOpaque(sql, i)
      if (opaque > i) { out.append(sql, i, opaque); i = opaque }
      else if (c == '(') { depth += 1; out.append(c); i += 1 }
      else if (c == ')') {
        depth -= 1
        if (byDepth > depth) byDepth = -1
        if (groupDepth > depth) groupDepth = -1
        if (havingDepth > depth) havingDepth = -1
        if (selStack.nonEmpty && selStack.head > depth)
          selStack = selStack.tail
        out.append(c); i += 1
      } else if (isWordChar(c)) {
        var e = i
        while (e < sql.length && isWordChar(sql.charAt(e))) e += 1
        val w = sql.substring(i, e).toLowerCase
        // clause-scope bookkeeping
        if (w == "select") selStack = depth :: selStack
        else if (selStack.nonEmpty && depth == selStack.head &&
                 Set("from", "where", "group", "order", "having", "limit",
                   "union", "intersect", "except", "window")(w))
          selStack = selStack.tail
        if ((w == "order" || w == "group") &&
            keywordAt(sql, skipWs(sql, e), "by")) {
          byDepth = depth
          groupDepth = if (w == "group") depth else -1
        } else if (byDepth == depth &&
                 Set("limit", "having", "union", "intersect", "except",
                   "window", "from", "where")(w)) {
          byDepth = -1; groupDepth = -1
        }
        if (w == "having") havingDepth = depth
        else if (havingDepth == depth &&
                 Set("order", "limit", "union", "intersect", "except",
                   "window")(w)) havingDepth = -1
        byCol.get(w) match {
          case Some((collation, declaringTables)) =>
            val next = skipWs(sql, e)
            val prevEnd = {
              var p = i
              while (p > 0 && sql.charAt(p - 1).isWhitespace) p -= 1
              p
            }
            // a qualified reference folds only under a DECLARING
            // table's own name; alias/other-table qualifiers skip
            val qualifierOk =
              if (prevEnd == 0 || sql.charAt(prevEnd - 1) != '.') true
              else {
                var qe = prevEnd - 1
                while (qe > 0 && sql.charAt(qe - 1).isWhitespace) qe -= 1
                var qs = qe
                while (qs > 0 && isWordChar(sql.charAt(qs - 1))) qs -= 1
                qs < qe && declaringTables.contains(
                  sql.substring(qs, qe).toLowerCase)
              }
            val isQualifier = next < sql.length && sql.charAt(next) == '.'
            val isCall = next < sql.length && sql.charAt(next) == '('
            val alreadyCollated = keywordAt(sql, next, "collate")
            val cmpAfter = isCmpAt(sql, next)
            // `x IN (…)` / `x BETWEEN … AND …` / NOT variants: the
            // rider lets SqlDialect fold the whole membership test
            val inAfter = keywordAt(sql, next, "in") ||
              keywordAt(sql, next, "between") ||
              (keywordAt(sql, next, "not") && {
                val n = skipWs(sql, next + 3)
                keywordAt(sql, n, "in") || keywordAt(sql, n, "between")
              })
            // the operator-before test looks past a `qualifier.`
            // prefix (for `u = t.x` the operator sits before `t`)
            val opBeforeAt = {
              var p = prevEnd
              if (p > 0 && sql.charAt(p - 1) == '.') {
                p -= 1
                while (p > 0 && sql.charAt(p - 1).isWhitespace) p -= 1
                while (p > 0 && isWordChar(sql.charAt(p - 1))) p -= 1
                while (p > 0 && sql.charAt(p - 1).isWhitespace) p -= 1
              }
              p
            }
            val cmpBefore = isCmpEndingAt(sql, opBeforeAt)
            val inByList = byDepth == depth
            val inSelList = selStack.nonEmpty && depth == selStack.head
            val selHavFold = groupFolded.contains(w) &&
              (inSelList || depth == havingDepth)
            if (!isQualifier && !isCall && !alreadyCollated && qualifierOk &&
                (cmpAfter || cmpBefore || inByList || inAfter ||
                  selHavFold)) {
              if (inByList && groupDepth == depth) gf += w
              out.append(sql, i, e).append(" COLLATE ").append(collation)
              // a standalone, unaliased select item keeps its name:
              // `SELECT x,` → `SELECT x COLLATE C AS x,` so the fold's
              // lower(x) projects as column `x`, SQLite's output name
              if (selHavFold && inSelList &&
                  !(cmpAfter || cmpBefore || inAfter || inByList)) {
                val standalone = next >= sql.length ||
                  sql.charAt(next) == ',' || sql.charAt(next) == ')' ||
                  Seq("from", "where", "group", "order", "limit", "having",
                    "union", "intersect", "except", "window")
                    .exists(k => keywordAt(sql, next, k))
                if (standalone)
                  out.append(" AS ").append(sql, i, e)
              }
            } else out.append(sql, i, e)
          case None => out.append(sql, i, e)
        }
        i = e
      } else { out.append(c); i += 1 }
    }
    (gf.toSet, out.toString)
  }
}
