package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{CollectList, Sum}
import org.apache.spark.sql.types._

/** SQLite-dialect functions registered as NATIVE Catalyst expression
  * builders — the `SparkSessionExtensions.injectFunction` counterpart
  * to the lexical `text2sql.SqlDialect` translator.
  *
  * The translator rewrites generated SQL strings before parsing; this
  * module instead teaches the parser/analyzer the SQLite names
  * directly, so ad-hoc `spark.sql` with SQLite-isms (reference
  * delegation: generated SQL is "compliant to SQLite", reference
  * pandasqlite/pandasqlite.py:220-225) resolves without any string
  * rewriting — scoping, nesting, and quoting all handled by the real
  * parser rather than a scanner. Every builder expands to existing
  * codegen'd Catalyst expressions (no UDFs, whole-stage codegen
  * preserved; the aggregates are partial+final mergeable).
  *
  * Names that Spark already defines with identical semantics
  * (`printf`, `ifnull`, `instr`, `substr`, `char`) are NOT overridden.
  *
  * Deployment: [[GraftExtensions]] injects them when a session is
  * built, through `GraftSession.create` (library) or
  * `spark.sql.extensions=graft.plans.GraftExtensions` (cluster). A
  * session that is already running cannot receive them.
  */
object SqliteFunctions {

  private type Builder = Seq[Expression] => Expression

  /** SQLite time-value interpretation, shared by every temporal
    * builder: ISO text, or a JULIAN DAY number for numerics (see the
    * sqlite_timeval registration below for the full rationale —
    * julianday(2460374.5) must be ~identity, not an epoch-seconds
    * misread). */
  private def ts(e: Expression): Expression = e.dataType match {
    case TimestampType => e
    case TimestampNTZType | DateType => Cast(e, TimestampType)
    case NullType => Literal.create(null, TimestampType)
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | _: DecimalType => julianTs(e)
    // NUMERIC TEXT is a julian day too (SQLite: date('2024') =
    // '-4707-06-09') — and Spark's timestamp cast accepts bare
    // 4-digit strings as a YEAR, so the julian interpretation must
    // win the coalesce; ISO text fails the double cast and falls
    // through to the timestamp parse
    case _ => Coalesce(Seq(
      julianTs(Cast(e, DoubleType, None, EvalMode.TRY)),
      Cast(e, TimestampType, None, EvalMode.TRY)))
  }

  /** Julian day number → timestamp, ROUNDED to the nearest
    * millisecond as SQLite does — the double carries ~10µs of error
    * at modern dates, and truncating (SecondsToTimestamp's double
    * path) would land whole-second instants one second EARLY about
    * half the time. NULL outside SQLite's supported span
    * [0, 5373484.5] (to year 9999). */
  private def julianTs(x: Expression): Expression = {
    val d = Cast(x, DoubleType)
    val ms = Multiply(Subtract(d, Literal(2440587.5)), Literal(86400000.0))
    If(And(GreaterThanOrEqual(d, Literal(0.0)),
        LessThanOrEqual(d, Literal(5373484.5))),
      MicrosToTimestamp(Multiply(
        Cast(Round(ms, Literal(0)), LongType), Literal(1000L))),
      Literal.create(null, TimestampType))
  }

  private def arity(name: String, args: Seq[Expression], n: Int): Unit =
    if (args.length != n)
      throw new IllegalArgumentException(
        s"$name expects $n argument(s), got ${args.length}")

  /** (name, usage, builder) for each registered SQLite function. */
  private val fns: Seq[(String, String, Builder)] = Seq(
    ("iif", "iif(cond, a, b) - SQLite conditional", { args =>
      arity("iif", args, 3); If(args(0), args(1), args(2))
    }),

    // the fire-time rewrite of a trigger program's RAISE(ABORT|
    // ROLLBACK, 'msg') — evaluating it aborts the statement
    // (exec.Triggers rewrites; exec.Atomic restores bindings). Not a
    // user-facing SQLite name: RAISE() itself is refused outside a
    // trigger program with SQLite's own error text (exec.Runner).
    ("graft_raise", "graft_raise(msg) - abort the statement with msg", { args =>
      arity("graft_raise", args, 1)
      graft.functions.GraftRaise(Cast(args.head, StringType))
    }),

    // noon-based Julian Day number, same formula the dialect translator
    // and the fn_julianday oracle pin: 2440587.5 + epoch_micros/86.4e9
    ("julianday", "julianday(ts) - fractional Julian Day number", { args =>
      arity("julianday", args, 1)
      Add(Literal(2440587.5),
        Divide(Cast(UnixMicros(ts(args.head)), DoubleType), Literal(8.64e10)))
    }),

    ("unixepoch", "unixepoch(ts) - whole seconds since 1970-01-01", { args =>
      arity("unixepoch", args, 1); UnixSeconds(ts(args.head))
    }),

    // SQLite total(): like sum() over doubles but 0.0 (never NULL) on
    // empty/all-null input
    ("total", "total(x) - sum as double, 0.0 when empty", { args =>
      arity("total", args, 1)
      Coalesce(Seq(
        Sum(Cast(args.head, DoubleType)).toAggregateExpression(),
        Literal(0.0)))
    }),

    // sorted deterministic rendering of SQLite's "arbitrary order"
    // group_concat — same documented delta as the translator's
    // rewrite, INCLUDING its empty-group contract: SQLite returns
    // NULL (not '') when a group has no non-null values, so the empty
    // collected array maps to NULL, exactly as SqlDialect's
    // buildGroupConcat CASE does. (DISTINCT is not expressible
    // through an injectFunction builder — use the translator path.)
    ("group_concat", "group_concat(x[, sep]) - sorted, ',' default, NULL on empty", { args =>
      if (args.isEmpty || args.length > 2)
        throw new IllegalArgumentException(
          s"group_concat expects 1 or 2 arguments, got ${args.length}")
      val sep = if (args.length == 2) args(1) else Literal(",")
      val arr = new SortArray(
        CollectList(Cast(args.head, StringType)).toAggregateExpression())
      If(EqualTo(Size(arr), Literal(0)),
        Literal.create(null, StringType), ArrayJoin(arr, sep, None))
    }),

    ("unicode", "unicode(s) - code point of the first character", { args =>
      arity("unicode", args, 1); Ascii(args.head)
    }),

    // function form of the GLOB operator; the pattern must be a literal
    // (as in every generated-SQL use) so the regex compiles once
    ("glob", "glob(pattern, str) - SQLite glob match", { args =>
      arity("glob", args, 2)
      args.head match {
        case Literal(p, StringType) if p != null =>
          RLike(args(1), Literal(graft.functions.Glob.toRegex(p.toString)))
        case _ => throw new IllegalArgumentException(
          "glob(pattern, str) requires a literal pattern")
      }
    }),

    // SQLite typeof() → storage class of the VALUE. With a fixed lake
    // schema the class is static per expression TYPE; only nullness is
    // a runtime question, so the whole call folds to a null-guarded
    // literal (free at execution). Registered under a DISTINCT name:
    // Spark's own typeof() answers with Spark type names ('bigint',
    // 'string') — silently wrong values for SQLite-dialect SQL — and
    // the separate name keeps the translator's rewrite a textual
    // fixpoint ('typeof' inside 'sqlite_typeof' fails the
    // word-boundary match).
    ("sqlite_typeof", "sqlite_typeof(x) - SQLite storage class ('integer', 'real', 'text', 'blob', 'null')", { args =>
      arity("sqlite_typeof", args, 1)
      val e = args.head
      val cls = e.dataType match {
        case NullType => "null"
        case BooleanType | ByteType | ShortType | IntegerType |
             LongType => "integer"
        case FloatType | DoubleType | _: DecimalType => "real"
        case _: StringType | _: VarcharType | _: CharType => "text"
        case BinaryType => "blob"
        // pandas to_sql ships dates/times to SQLite as TEXT
        // (reference pandasqlite.py:115), so typed temporal columns
        // answer as the reference's tables would
        case DateType | TimestampType | TimestampNTZType => "text"
        case dt => throw new IllegalArgumentException(
          s"sqlite_typeof: no SQLite storage class for ${dt.sql}")
      }
      If(IsNull(e), Literal("null"), Literal(cls))
    }),

    // SQLite soundex() — the build the reference runs on compiles it
    // in (SQLITE_SOUNDEX; measured on sqlite3 3.40.1). Spark's own
    // soundex() is the US-census variant with different separator and
    // non-letter rules ('b-b': SQLite B100, census B000 — silently
    // wrong values untranslated), so the translated name routes to
    // the native byte-exact expression. Distinct name for the
    // translator fixpoint, same reasoning as sqlite_typeof.
    ("graft_soundex", "graft_soundex(x) - SQLite soundex(): 4-char phonetic code, '?000' on no-alpha/NULL", { args =>
      arity("graft_soundex", args, 1)
      val e = args.head
      val s = e.dataType match {
        case _: StringType => e
        case NullType      => Literal.create(null, StringType)
        // a blob soundexes its raw bytes; numerics their text
        // rendering (both measured — soundex(3.5) = '?000')
        case _             => Cast(e, StringType)
      }
      graft.functions.SqliteSoundex(s)
    }),

    // SQLite sign(): INTEGER -1/0/1 of the numeric interpretation —
    // non-numeric text and blobs yield NULL (NOT the 0.0 a plain CAST
    // coerces to), numeric text signs its value ('  7  ' → 1, both
    // measured). Spark's sign() answers DOUBLE and its text path
    // diverges, so the translated name routes here.
    ("graft_sign", "graft_sign(x) - SQLite sign(): -1/0/1 as INTEGER, NULL on non-numeric", { args =>
      arity("graft_sign", args, 1)
      val e = args.head
      e.dataType match {
        case NullType | BinaryType => Literal.create(null, LongType)
        case BooleanType => Cast(Signum(Cast(e, DoubleType)), LongType)
        case ByteType | ShortType | IntegerType | LongType | FloatType |
             DoubleType | _: DecimalType =>
          Cast(Signum(Cast(e, DoubleType)), LongType)
        case _ =>
          Cast(Signum(Cast(e, DoubleType, None, EvalMode.TRY)), LongType)
      }
    }),

    // SQLite hex(X): uppercase hex of X rendered as a BLOB — text
    // hexes its UTF-8 bytes, numerics hex their TEXT rendering
    // (hex(25) = '3235', where Spark's hex(25) = '19' — silently
    // wrong values untranslated), and NULL yields '' (the zero-length
    // blob rendering), never NULL. Distinct name for the translator
    // fixpoint, same reasoning as sqlite_typeof.
    ("sqlite_hex", "sqlite_hex(x) - SQLite hex(): uppercase hex of the value's blob rendering", { args =>
      arity("sqlite_hex", args, 1)
      val e = args.head
      val blob = e.dataType match {
        case BinaryType   => e
        case NullType     => Literal.create(null, BinaryType)
        case _: StringType => Cast(e, BinaryType)
        case _            => Cast(Cast(e, StringType), BinaryType)
      }
      Coalesce(Seq(Hex(blob), Literal("")))
    }),

    // SQLite quote(X): the SQL-literal rendering — text single-quoted
    // with '' doubling, numerics bare, blobs X'…', NULL the keyword.
    // Type-directed like sqlite_typeof; everything folds to existing
    // codegen'd expressions.
    ("sqlite_quote", "sqlite_quote(x) - SQLite quote(): SQL literal rendering of a value", { args =>
      arity("sqlite_quote", args, 1)
      val e = args.head
      val rendered = e.dataType match {
        case NullType   => Literal.create(null, StringType)
        case BinaryType =>
          Concat(Seq(Literal("X'"), Hex(e), Literal("'")))
        case BooleanType =>
          // SQLite stores booleans as INTEGER 0/1
          Cast(Cast(e, LongType), StringType)
        case ByteType | ShortType | IntegerType | LongType | FloatType |
             DoubleType | _: DecimalType => Cast(e, StringType)
        case _ => Concat(Seq(Literal("'"),
          StringReplace(Cast(e, StringType), Literal("'"), Literal("''")),
          Literal("'")))
      }
      Coalesce(Seq(rendered, Literal("NULL")))
    }),

    // SQLite changes()/total_changes(): affected-row counts of the
    // session's executed DML ([[graft.exec.SessionChanges]] — the
    // executors record a lazy count of the affected slice). The value
    // folds to a literal at ANALYSIS of the calling query, which is
    // exactly SQLite's timing (the count as of statement start).
    ("changes", "changes() - rows changed by the most recent INSERT/UPDATE/DELETE", { args =>
      arity("changes", args, 0)
      Literal(graft.exec.SessionChanges.changes(SparkSession.active))
    }),

    ("total_changes", "total_changes() - rows changed by all DML this session", { args =>
      arity("total_changes", args, 0)
      Literal(graft.exec.SessionChanges.totalChanges(SparkSession.active))
    }),

    // last_insert_rowid(): the max rowid the most recent INSERT into a
    // rowid-enabled table assigned ([[graft.exec.Rowid]] materializes
    // the surface lazily; [[graft.exec.SessionChanges]] records the
    // deferred value). Inserts into tables that never referenced the
    // rowid surface don't update it — documented README divergence
    // (those tables have no materialized rowids to report).
    ("last_insert_rowid", "last_insert_rowid() - rowid of the most recently inserted row", { args =>
      arity("last_insert_rowid", args, 0)
      Literal(graft.exec.SessionChanges.lastInsertRowid(SparkSession.active))
    }),

    // the SQLite dialect LEVEL graft emulates (documented in README):
    // a model probing the version before emitting version-gated SQL
    // gets a coherent answer instead of "undefined function"
    ("sqlite_version", "sqlite_version() - the emulated SQLite dialect level", { args =>
      arity("sqlite_version", args, 0)
      Literal("3.45.3")
    }),

    // ---- JSON1 mutation surface (graft.functions.SqliteJson) ----
    // Spark has no JSON mutation functions at all; these are native
    // expressions over a raw-token-preserving JSON tree (untouched
    // scalars keep their source text byte-for-byte, as SQLite's
    // editors do). Multi-pair calls fold left-to-right — SQLite's
    // sequential-edit rule — so each step is a fixed-arity codegen'd
    // expression.
    ("json_set", "json_set(json, path, value, ...) - set or insert at each path",
      jsonEditBuilder("json_set", 0)),
    ("json_insert", "json_insert(json, path, value, ...) - insert only where absent",
      jsonEditBuilder("json_insert", 1)),
    ("json_replace", "json_replace(json, path, value, ...) - replace only where present",
      jsonEditBuilder("json_replace", 2)),

    ("json_remove", "json_remove(json, path, ...) - remove each path; minifies with no paths", { args =>
      if (args.isEmpty) throw new IllegalArgumentException(
        "json_remove expects at least 1 argument")
      args.tail.foldLeft[Expression](
        if (args.length == 1)
          graft.functions.SqliteJsonMinify(Cast(args.head, StringType))
        else Cast(args.head, StringType)) { (acc, p) =>
        graft.functions.SqliteJsonRemove(acc, Cast(p, StringType))
      }
    }),

    ("json_type", "json_type(json[, path]) - SQLite JSON type name", { args =>
      if (args.isEmpty || args.length > 2)
        throw new IllegalArgumentException(
          s"json_type expects 1 or 2 arguments, got ${args.length}")
      // json_type(j) ≡ json_type(j, '$') — the root path, so a
      // genuine NULL path argument still yields NULL (SQLite's rule)
      val path = if (args.length == 2) Cast(args(1), StringType)
                 else Literal("$")
      graft.functions.SqliteJsonType(Cast(args.head, StringType), path)
    }),

    ("json_patch", "json_patch(a, b) - RFC-7386 merge patch", { args =>
      arity("json_patch", args, 2)
      graft.functions.SqliteJsonPatch(
        Cast(args(0), StringType), Cast(args(1), StringType))
    }),

    ("json_quote", "json_quote(x) - JSON rendering of an SQL value", { args =>
      arity("json_quote", args, 1)
      Coalesce(Seq(jsonValueExpr(args.head, "json_quote"), Literal("null")))
    }),

    // SQLite time-value interpretation for date()/time()/datetime()/
    // strftime() base arguments (no 'unixepoch' modifier): TEXT parses
    // as ISO-8601, and NUMERIC values — including numeric TEXT — are
    // JULIAN DAY numbers, never epoch seconds. A blind
    // CAST(x AS TIMESTAMP) reads a double as epoch seconds, so
    // date(julianday(a) + 30) — the stock date-arithmetic idiom —
    // silently answered a 1970 date before this dispatch. Type-directed
    // at analysis (the distinct-name fixpoint pattern of
    // sqlite_typeof); out-of-range julian values ([0, 5373484.5] is
    // SQLite's span to year 9999) yield NULL, as SQLite does.
    ("sqlite_timeval", "sqlite_timeval(x) - SQLite time-value: ISO text, or a julian day number", { args =>
      arity("sqlite_timeval", args, 1)
      ts(args.head)
    }),

    ("json_error_position", "json_error_position(x) - 0 if well-formed, else 1-based char position of the first error", { args =>
      arity("json_error_position", args, 1)
      graft.functions.SqliteJsonErrorPos(Cast(args.head, StringType))
    }),

    // table-valued json_each/json_tree double as scalar-registry
    // generators so LATERAL VIEW also resolves them
    ("json_each", "json_each(json[, path]) - one row per element of the path node",
      jsonEachBuilder("json_each", recursive = false)),
    ("json_tree", "json_tree(json[, path]) - the path node and every descendant, DFS",
      jsonEachBuilder("json_tree", recursive = true))
  )

  private def jsonEachBuilder(name: String, recursive: Boolean): Builder = { args =>
    if (args.isEmpty || args.length > 2)
      throw new IllegalArgumentException(
        s"$name expects 1 or 2 arguments, got ${args.length}")
    val path = if (args.length == 2) Cast(args(1), StringType) else Literal("$")
    graft.functions.SqliteJsonEachGen(
      Cast(args.head, StringType), path, recursive)
  }

  /** set/insert/replace builder: json then (path, value) pairs. */
  private def jsonEditBuilder(name: String, mode: Int): Builder = { args =>
    if (args.isEmpty || args.length % 2 == 0)
      throw new IllegalArgumentException(
        s"$name expects json plus (path, value) pairs, got ${args.length} arguments")
    if (args.length == 1)
      graft.functions.SqliteJsonMinify(Cast(args.head, StringType))
    else args.tail.grouped(2)
      .foldLeft[Expression](Cast(args.head, StringType)) { case (acc, Seq(p, v)) =>
      graft.functions.SqliteJsonEdit(acc, Cast(p, StringType),
        Coalesce(Seq(jsonValueExpr(v, name), Literal("null"))), mode)
    }
  }

  /** Render an SQL value expression as JSON text, type-directed —
    * SQLite's value→JSON rule. Results of JSON-producing calls splice
    * verbatim (the JSON-subtype rule): after translation `json(x)`
    * and `->` are `to_json(…)`, and this module's own editors carry
    * the subtype structurally. SQL NULL renders as JSON null via the
    * caller's Coalesce. Known divergence (README): REAL exponent
    * rendering follows Spark's cast ('1.0E20' vs SQLite '1.0e+20').
    */
  private def jsonValueExpr(e: Expression, fn: String): Expression = {
    def isJsonSubtyped(x: Expression): Boolean = x match {
      case _: graft.functions.SqliteJsonEdit |
           _: graft.functions.SqliteJsonRemove |
           _: graft.functions.SqliteJsonMinify |
           _: graft.functions.SqliteJsonPatch => true
      case _ => x.prettyName == "to_json"
    }
    e.dataType match {
      case _ if isJsonSubtyped(e) => e
      // extraction results (json_extract / `->` / `->>` all translate
      // to get_json_object for scalars): the subtype decision is a
      // RUNTIME question — containers and JSON scalars splice, text
      // quotes (graft.functions.SqliteJson.spliceOrQuote)
      case _ if e.prettyName == "get_json_object" =>
        graft.functions.SqliteJsonExtractedValue(e)
      case NullType => Literal.create(null, StringType)
      case BooleanType => Cast(Cast(e, LongType), StringType)
      case ByteType | ShortType | IntegerType | LongType |
           _: DecimalType => Cast(e, StringType)
      case FloatType | DoubleType =>
        // JSON cannot hold non-finite numbers; SQLite renders NaN and
        // ±Infinity REALs as JSON null rather than failing the edit
        val d = Cast(e, DoubleType)
        If(Or(IsNaN(d), Or(EqualTo(d, Literal(Double.PositiveInfinity)),
            EqualTo(d, Literal(Double.NegativeInfinity)))),
          Literal.create(null, StringType), Cast(e, StringType))
      case _: StringType | _: VarcharType | _: CharType =>
        graft.functions.SqliteJsonQuoteString(e)
      case DateType | TimestampType | TimestampNTZType =>
        graft.functions.SqliteJsonQuoteString(Cast(e, StringType))
      case BinaryType => throw new IllegalArgumentException(
        s"$fn: JSON cannot hold BLOB values")
      case dt => throw new IllegalArgumentException(
        s"$fn: cannot render ${dt.sql} as JSON")
    }
  }

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(getClass.getName, null, name, usage, "", "", "",
      "misc_funcs", "4.0.0", "", "built-in")

  /** FROM-position (table-valued) forms of json_each/json_tree: a
    * Generate over OneRowRelation, exactly how Spark registers its own
    * built-in TVFs (explode & co). The analyzer supplies lateral
    * correlation, so `FROM t, LATERAL json_each(t.col)` — the
    * translator inserts the LATERAL SQLite's comma form omits —
    * resolves each row's document. */
  private val tvfs: Seq[(String, String, Seq[Expression] =>
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Generate, OneRowRelation}
    Seq(("json_each", false), ("json_tree", true)).map { case (name, rec) =>
      (name, s"$name(json[, path]) - table-valued form",
        (args: Seq[Expression]) => Generate(
          jsonEachBuilder(name, rec)(args)
            .asInstanceOf[org.apache.spark.sql.catalyst.expressions.Generator],
          unrequiredChildIndex = Nil, outer = false, qualifier = None,
          generatorOutput = Nil, child = OneRowRelation()))
    }
  }

  /** Wiring through [[GraftExtensions]]. */
  def register(ext: SparkSessionExtensions): Unit = {
    fns.foreach { case (name, usage, b) =>
      ext.injectFunction((FunctionIdentifier(name), info(name, usage), b))
    }
    tvfs.foreach { case (name, usage, b) =>
      ext.injectTableFunction((FunctionIdentifier(name), info(name, usage), b))
    }
  }
}

/** The only way the engine's pieces enter a session: SQLite-dialect
  * functions, the engine's native dedup/similarity expressions as SQL
  * functions, the regex-prefix pushdown rule, the GroupTopK strategy,
  * and literal parameterization of generated code
  * ([[ParameterizeLiterals]]). `GraftSession.create` applies it; on a
  * cluster, set `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    SqliteFunctions.register(ext)
    GraftNativeFunctions.register(ext)
    ext.injectOptimizerRule(_ => RegexPrefixPushdown)
    ext.injectPlannerStrategy(_ => GroupTopKStrategy)
    ext.injectColumnar(_ => ParamLiteralsColumnarRule)
  }
}

object GraftExtensions {
  /** Raises unless `spark` was built with [[GraftExtensions]]. Reads the
    * session and changes nothing: a running session cannot receive a
    * columnar rule, so there is no partial wiring to fall back to.
    */
  private[graft] def require(spark: SparkSession): Unit =
    if (!spark.sessionState.columnarRules.contains(ParamLiteralsColumnarRule))
      throw new IllegalStateException(
        "this SparkSession was built without graft's extensions: build it " +
          "with graft.GraftSession.create, or start it with " +
          "spark.sql.extensions=graft.plans.GraftExtensions")
}

/** The engine's native codegen expressions exposed as SQL functions —
  * a notebook with only `spark.sql` still reaches the fused kernels.
  */
object GraftNativeFunctions {
  import org.apache.spark.sql.catalyst.expressions.{Expression, IntegerLiteral}

  private def litInt(e: Expression, fn: String): Int = e match {
    case IntegerLiteral(k) => k
    case _ => throw new IllegalArgumentException(
      s"$fn requires a literal integer argument, got ${e.sql}")
  }

  private def arity(fn: String, n: Int)(b: Seq[Expression] => Expression)
      : Seq[Expression] => Expression = es => {
    // a clear analysis-time message instead of IndexOutOfBounds from
    // the builder indexing es(1) on a 1-arg call
    if (es.length != n) throw new IllegalArgumentException(
      s"$fn expects $n arguments, got ${es.length}")
    b(es)
  }

  private val fns: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("cosine_sim", "cosine_sim(a, b) - fused cosine similarity of two float arrays",
      arity("cosine_sim", 2)(es => graft.functions.CosineSimilarity(es(0), es(1)))),
    ("jaccard_sim", "jaccard_sim(a, b) - merge-pass Jaccard of two sorted bigint arrays",
      arity("jaccard_sim", 2)(es => graft.functions.JaccardSim(es(0), es(1)))),
    ("shingle_hashes", "shingle_hashes(str, k) - distinct sorted XXH64 of every k-char window",
      arity("shingle_hashes", 2)(es =>
        graft.functions.ShingleHashes(es(0), litInt(es(1), "shingle_hashes")))),
    ("minhash_array", "minhash_array(arr, k) - k seeded min-hashes of a bigint array",
      arity("minhash_array", 2)(es =>
        graft.functions.MinHashArray(es(0), litInt(es(1), "minhash_array")))),
    ("nfc_normalize", "nfc_normalize(str) - Unicode NFC normalization (DuckDB-compatible name)",
      arity("nfc_normalize", 1)(es =>
        graft.functions.UnicodeNormalize(es(0), "NFC"))),
    ("unicode_normalize", "unicode_normalize(str, 'NFC'|'NFD'|'NFKC'|'NFKD') - Unicode normalization",
      arity("unicode_normalize", 2)(es =>
        graft.functions.UnicodeNormalize(es(0), litStr(es(1), "unicode_normalize")))))

  private def litStr(e: Expression, fn: String): String = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(s: org.apache.spark.unsafe.types.UTF8String, StringType) =>
      s.toString
    case _ => throw new IllegalArgumentException(
      s"$fn requires a literal string argument, got ${e.sql}")
  }

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(getClass.getName, null, name, usage, "", "", "",
      "misc_funcs", "4.0.0", "", "built-in")

  /** Wiring through [[GraftExtensions]]. */
  def register(ext: SparkSessionExtensions): Unit =
    fns.foreach { case (name, usage, b) =>
      ext.injectFunction((FunctionIdentifier(name), info(name, usage), b))
    }
}
