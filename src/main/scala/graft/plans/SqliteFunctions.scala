package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, caseSensitiveResolution}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{CollectList, CollectSet, Sum}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SQLite-dialect functions registered as NATIVE Catalyst expression
  * builders — the one place that decides what a SQLite function means.
  *
  * The reference hands generated SQL to SQLite verbatim (reference
  * pandasqlite/pandasqlite.py:220-225), so every SQLite function is
  * part of the surface. A builder sees its arguments resolved, so it
  * dispatches on their types at analysis; the real parser handles
  * scoping, nesting and quoting. Every builder expands to existing
  * codegen'd Catalyst expressions (no UDFs, whole-stage codegen
  * preserved; the aggregates are partial+final mergeable).
  *
  * No builder overrides a Spark built-in: Spark-dialect SQL keeps
  * Spark's own `date`, `concat`, `printf`, `char`, `trunc`, `hex`…
  * (same names, other semantics — `printf` is Java's Formatter, `char`
  * takes its argument mod 256). Those SQLite functions register under
  * a `sqlite_`/`graft_` name, and `text2sql.SqlDialect` renames the
  * calls in SQLite-dialect text to them.
  *
  * Deployment: [[GraftExtensions]] injects them when a session is
  * built, through `GraftSession.create` (library) or
  * `spark.sql.extensions=graft.plans.GraftExtensions` (cluster). A
  * session that is already running cannot receive them.
  */
object SqliteFunctions {

  private type Builder = Seq[Expression] => Expression

  /** SQLite time-value interpretation, shared by every temporal
    * builder: ISO text, or a JULIAN DAY number for numerics, never
    * epoch seconds. A blind CAST(x AS TIMESTAMP) reads a double as epoch
    * seconds, so date(julianday(a) + 30) — the stock date-arithmetic
    * idiom — would answer a 1970 date, and julianday(2460374.5) must be
    * ~identity. Out-of-range julian values ([0, 5373484.5] is SQLite's
    * span to year 9999) yield NULL, as SQLite does. */
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

  /** Timestamp → noon-based Julian Day number: 2440587.5 +
    * epoch_micros/86.4e9, the formula the fn_julianday oracle pins. */
  private def julian(e: Expression): Expression =
    Add(Literal(2440587.5),
      Divide(Cast(UnixMicros(e), DoubleType), Literal(8.64e10)))

  // SQLite date-modifier grammar (subset; anything else → NULL)
  private val shiftRe =
    """^([+-]?\d+(?:\.\d+)?)\s+(day|hour|minute|second|month|year)s?$""".r
  private val weekdayRe = """^weekday\s+([0-6])$""".r
  private val startOfRe = """^start\s+of\s+(day|month|year)$""".r
  private val secondsPer = Map("day" -> 86400, "hour" -> 3600, "minute" -> 60, "second" -> 1)

  /** A time value and its modifier chain (`date(x, mod, …)` and its
    * siblings) → one timestamp expression. No arguments or 'now' is the
    * current instant; a FIRST modifier 'unixepoch' reads the base as
    * Unix seconds. None where SQLite answers NULL: an unknown modifier,
    * or 'unixepoch' past the first position. Modifiers must be string
    * literals, and month/year shifts whole numbers.
    *
    * Known delta (README): month/year shifts CLAMP at month end
    * (`Mar 31 - 1 month = Feb 28`) where SQLite NORMALIZES (`= Mar 3`).
    */
  private def timeValue(fn: String, args: Seq[Expression]): Option[Expression] = {
    val mods = args.drop(1).map(m => text(m).map(_.trim.toLowerCase).getOrElse(
      throw new IllegalArgumentException(s"$fn: modifiers must be string literals")))
    val epoch = mods.headOption.contains("unixepoch")
    val base: Expression = args.headOption match {
      case None => CurrentTimestamp()
      case Some(b) if text(b).exists(_.equalsIgnoreCase("now")) => CurrentTimestamp()
      // fractional seconds honored (SQLite accepts them with subsec)
      case Some(b) if epoch => SecondsToTimestamp(Cast(b, DoubleType))
      case Some(b) => ts(b)
    }
    mods.drop(if (epoch) 1 else 0).foldLeft(Option(base)) {
      case (Some(e), shiftRe(n, unit)) => secondsPer.get(unit) match {
        case Some(s) =>
          val micros = (BigDecimal(n) * s * 1000000).setScale(0, BigDecimal.RoundingMode.HALF_UP)
          Some(TimestampAddInterval(e, Literal(micros.toLong, DayTimeIntervalType())))
        case None if n.contains('.') => throw new IllegalArgumentException(
          s"$fn: fractional month/year shifts are not supported")
        case None =>
          val months = n.toInt * (if (unit == "year") 12 else 1)
          Some(TimestampAddYMInterval(e, Literal(months, YearMonthIntervalType())))
      }
      case (Some(e), startOfRe(unit)) => Some(TruncTimestamp(Literal(unit.toUpperCase), e))
      // forward to the next weekday n (Sunday=0), same day if already
      case (Some(e), weekdayRe(n)) => Some(TimestampAddInterval(e, new MakeDTInterval(
        Cast(Remainder(Add(Subtract(Literal(n.toInt), Subtract(DayOfWeek(e), Literal(1))),
          Literal(7)), Literal(7)), IntegerType))))
      case (e, "localtime" | "utc" | "subsec" | "subsecond") => e // UTC session: no-op
      case _ => None
    }
  }

  /** date/time/datetime: the time value rendered with `pattern`. */
  private def rendered(fn: String, pattern: String): Builder = args =>
    timeValue(fn, args).map(e => DateFormatClass(e, Literal(pattern)): Expression)
      .getOrElse(Literal.create(null, StringType))

  /** strftime directives that a DateTimeFormatter pattern renders. */
  private val patterns = Map(
    'Y' -> "yyyy", 'm' -> "MM", 'd' -> "dd", 'H' -> "HH",
    'M' -> "mm", 'S' -> "ss", 'j' -> "DDD", 'f' -> "ss.SSS",
    'I' -> "hh", 'p' -> "a",
    // C-composite shorthands (SQLite ≥3.44 supports these directly)
    'F' -> "yyyy-MM-dd", 'T' -> "HH:mm:ss", 'R' -> "HH:mm")

  /** strftime directives with no DateTimeFormatter letter, computed
    * from the value.
    *
    * Week numbers (SQLite == C strftime): weeks run Sunday-first for
    * `%U`, Monday-first for `%W`; week 01 starts at the year's first
    * such day and everything before it is week 00. With 1-based
    * day-of-year j and week-start-based weekday w, the number is
    * `(j + 6 - w) div 7` — pinned arithmetic, no locale-dependent
    * WeekFields. The ISO year (`%G`/`%g`) is the year of the week's
    * Thursday. */
  private def computed(d: Char, e: Expression): Option[Expression] = {
    def str(x: Expression) = Cast(x, StringType)
    def pad(x: Expression, c: String) = StringLPad(str(x), Literal(2), Literal(c))
    def isoYear = Year(DateAdd(Cast(e, DateType), Subtract(Literal(3), WeekDay(e))))
    def week(w: Expression) =
      pad(new IntegralDivide(Subtract(Add(DayOfYear(e), Literal(6)), w), Literal(7)), "0")
    Some(d match {
      case 's' => str(UnixSeconds(e))
      case 'w' => str(Subtract(DayOfWeek(e), Literal(1)))
      case 'U' => week(Subtract(DayOfWeek(e), Literal(1)))
      case 'W' => week(WeekDay(e))
      case 'V' => pad(WeekOfYear(e), "0")
      case 'u' => str(Add(WeekDay(e), Literal(1)))
      case 'G' => str(isoYear)
      case 'g' => pad(Remainder(isoYear, Literal(100)), "0")
      case 'P' => Lower(DateFormatClass(e, Literal("a")))
      case 'J' => julianText(e)
      // space-padded hours and day (C %2d)
      case 'k' => pad(Hour(e), " ")
      case 'e' => pad(DayOfMonth(e), " ")
      case 'l' => pad(Add(Remainder(Add(Hour(e), Literal(11)), Literal(12)), Literal(1)), " ")
      case _ => return None
    })
  }

  /** `%J`: SQLite renders the Julian day with C "%.16g" — for the
    * 7-integer-digit JD range, 9 fraction digits with trailing zeros
    * (and a bare point) stripped. Java's %.9f would round the double's
    * SHORTEST decimal where C rounds its exact binary expansion, so
    * the digits are integer-assembled from floor(jd·10⁹ + 0.5): at
    * that magnitude ulp = 0.5, and floor is deterministic across
    * engines. */
  private def julianText(e: Expression): Expression = {
    val scaled = Cast(Floor(Add(Multiply(julian(e), Literal(1e9)), Literal(0.5))), LongType)
    new RegExpReplace(Concat(Seq(
      Cast(new IntegralDivide(scaled, Literal(1000000000L)), StringType), Literal("."),
      StringLPad(Cast(Remainder(scaled, Literal(1000000000L)), StringType),
        Literal(9), Literal("0")))), Literal("\\.?0+$"), Literal(""))
  }

  /** strftime(fmt, value, modifiers…). Runs of pattern directives and
    * literal text become `date_format` segments, computed directives
    * standalone expressions, concatenated in order (NULL-propagating,
    * so a NULL value gives NULL). An unknown directive or modifier
    * gives NULL, as in SQLite. */
  private def strftime(args: Seq[Expression]): Expression = {
    val fmt = args.headOption.flatMap(text).getOrElse(
      throw new IllegalArgumentException("strftime requires a literal format"))
    timeValue("strftime", args.tail).flatMap(formatted(fmt, _))
      .getOrElse(Literal.create(null, StringType))
  }

  private def formatted(fmt: String, e: Expression): Option[Expression] = {
    // pieces: Left(DateTimeFormatter pattern) | Right(expression)
    val pieces = scala.collection.mutable.ArrayBuffer.empty[Either[String, Expression]]
    def addPat(p: String): Unit = pieces.lastOption match {
      case Some(scala.util.Left(prev)) => pieces(pieces.length - 1) = scala.util.Left(prev + p)
      case _ => pieces += scala.util.Left(p)
    }
    val lit = new StringBuilder
    def flushLit(): Unit = if (lit.nonEmpty) {
      // quote literal runs so letters aren't read as pattern directives
      addPat("'" + lit.toString.replace("'", "''") + "'")
      lit.clear()
    }
    var i = 0
    while (i < fmt.length) {
      if (fmt.charAt(i) != '%') { lit.append(fmt.charAt(i)); i += 1 }
      else if (i + 1 == fmt.length) return None
      else {
        val d = fmt.charAt(i + 1)
        if (d == '%') lit.append('%')
        else {
          flushLit()
          patterns.get(d) match {
            case Some(p) => addPat(p)
            case None => computed(d, e) match {
              case Some(x) => pieces += scala.util.Right(x)
              case None => return None
            }
          }
        }
        i += 2
      }
    }
    flushLit()
    Some(pieces.map {
      case scala.util.Left(p)  => DateFormatClass(e, Literal(p))
      case scala.util.Right(x) => x
    }.toSeq match {
      case Seq()  => DateFormatClass(e, Literal("")) // empty format → ''
      case Seq(x) => x
      case xs     => Concat(xs)
    })
  }

  private val conversion = """%([-+ 0#,!]*)(\d*(?:\.\d*)?)(.?)""".r

  /** SQLite printf over Java's Formatter, which is strict where SQLite
    * is lenient (%f on an INTEGER throws, %i does not exist, `!` is
    * unknown). With a literal format, each conversion's argument gets
    * the cast SQLite applies (%d/%i/%u/%x/%o → BIGINT, %e/%f/%g →
    * DOUBLE), NULL takes SQLite's substitute (0, 0.0, ''), a missing
    * argument counts as NULL and extra ones are ignored. The SQL-
    * escaping conversions %q/%Q/%w and %c render as %s over a
    * transformed argument. Any other conversion is an error. A
    * non-literal format goes to Java's Formatter as-is. */
  private val printf: Builder = arity("printf", 1, orMore = true) { args =>
    text(args.head) match {
      case Some(fmt) => printfLiteral(fmt, args.tail)
      case None => FormatString(args: _*)
    }
  }

  private def printfLiteral(fmt: String, args: Seq[Expression]): Expression = {
    val kinds = scala.collection.mutable.ArrayBuffer.empty[Char]
    val javaFmt = conversion.replaceAllIn(fmt, { m =>
      val conv = m.group(3) match {
        case "%" => "%"
        case "d" | "i" | "u" => kinds += 'd'; "d"
        case k @ ("x" | "X" | "o") => kinds += 'd'; k
        case k @ ("e" | "E" | "f" | "g" | "G") => kinds += 'f'; k
        case k @ ("s" | "q" | "Q" | "w" | "c") => kinds += k.head; "s"
        case k => throw new IllegalArgumentException(
          s"printf: unsupported conversion '%$k'")
      }
      scala.util.matching.Regex.quoteReplacement(
        if (conv == "%") "%%" else "%" + m.group(1).replace("!", "") + m.group(2) + conv)
    })
    def nonNull(e: Expression, dflt: Literal) = Coalesce(Seq(e, dflt))
    def escaped(a: Expression, q: String) =
      nonNull(StringReplace(Cast(a, StringType), Literal(q), Literal(q + q)), Literal(""))
    val values = kinds.toSeq.zip(args.padTo(kinds.length, Literal(null))).map {
      case ('d', a) => nonNull(Cast(a, LongType), Literal(0L))
      case ('f', a) => nonNull(Cast(a, DoubleType), Literal(0.0))
      case ('q', a) => escaped(a, "'")
      case ('Q', a) => quote(Cast(a, StringType))
      case ('w', a) => escaped(a, "\"")
      // the first character; NULL and '' give U+0000 (measured)
      case ('c', a) => Substring(Concat(Seq(nonNull(Cast(a, StringType), Literal("")),
        Literal("\u0000"))), Literal(1), Literal(1))
      case (_, a) => nonNull(Cast(a, StringType), Literal(""))
    }
    FormatString(Literal(javaFmt) +: values: _*)
  }

  /** SQLite quote(X): the SQL-literal rendering — text single-quoted
    * with '' doubling, numerics bare, blobs X'…', NULL the keyword. */
  private def quote(e: Expression): Expression = {
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
  }

  /** sorted deterministic rendering of SQLite's "arbitrary order"
    * group_concat, NULL (not '') when a group has no non-null value.
    * DISTINCT cannot reach an injected builder whose result is not an
    * AggregateFunction, so `group_concat(DISTINCT x)` arrives renamed
    * to `sqlite_group_concat_distinct(x)`. */
  private def groupConcat(fn: String, distinct: Boolean): Builder = { args =>
    if (args.isEmpty || args.length > 2)
      throw new IllegalArgumentException(
        s"$fn expects 1 or 2 arguments, got ${args.length}")
    val x = Cast(args.head, StringType)
    val arr = new SortArray(
      (if (distinct) CollectSet(x) else CollectList(x)).toAggregateExpression())
    If(EqualTo(Size(arr), Literal(0)),
      Literal.create(null, StringType), ArrayJoin(arr, args.lift(1).getOrElse(Literal(",")), None))
  }

  /** The group's `vals`, ordered by `key`: SQLite's aggregate order is
    * arbitrary, a sorted one makes the distributed result
    * deterministic. */
  private def sortedBy(key: Expression, vals: Expression): Expression = {
    val rows = new SortArray(CollectList(CreateNamedStruct(Seq(
      Literal("k"), key, Literal("v"), vals))).toAggregateExpression())
    ExtractValue(rows, Literal("v"), caseSensitiveResolution)
  }

  /** A string literal's value. */
  private[plans] def text(e: Expression): Option[String] = e match {
    case Literal(v: UTF8String, _: StringType) => Some(v.toString)
    case _ => None
  }

  /** Spark's own builder for `name`, for the JSON and variant
    * expressions whose classes are runtime-replaceable wrappers. */
  private def builtin(name: String, args: Expression*): Expression =
    FunctionRegistry.builtin.lookupFunction(FunctionIdentifier(name), args)

  /** A condition as SQLite reads it: a number is true when nonzero
    * (text through its numeric value, so 'abc' is false). */
  private def truth(c: Expression): Expression = c.dataType match {
    case BooleanType | NullType => c
    case _ => Not(EqualTo(Cast(c, DoubleType, None, EvalMode.TRY), Literal(0.0)))
  }

  private def rand(): Expression =
    Rand(Literal(scala.util.Random.nextLong()), hideSeed = true)

  /** `b`, after a check of the argument count: a named analysis
    * error instead of IndexOutOfBounds from a builder indexing args. */
  private[plans] def arity(fn: String, n: Int, orMore: Boolean = false)
                          (b: Builder): Builder = { args =>
    if (args.length < n || (!orMore && args.length > n))
      throw new IllegalArgumentException(s"$fn expects ${if (orMore) "at least " else ""}" +
        s"$n arguments, got ${args.length}")
    b(args)
  }

  /** (name, usage, builder) for each registered SQLite function. */
  private val fns: Seq[(String, String, Builder)] = Seq(
    ("iif", "iif(cond, a[, b]) - SQLite conditional; NULL when cond is false and b is absent", {
      case Seq(c, a, b) => If(truth(c), a, b)
      // SQLite ≥3.48 two-argument form
      case Seq(c, a) => CaseWhen(Seq((truth(c), a)))
      case args => throw new IllegalArgumentException(
        s"iif expects 2 or 3 arguments, got ${args.length}")
    }),

    // the fire-time rewrite of a trigger program's RAISE(ABORT|
    // ROLLBACK, 'msg') — evaluating it aborts the statement
    // (exec.Triggers rewrites; exec.Atomic restores bindings). Not a
    // user-facing SQLite name: RAISE() itself is refused outside a
    // trigger program with SQLite's own error text (exec.Runner).
    ("graft_raise", "graft_raise(msg) - abort the statement with msg", arity("graft_raise", 1) { args =>
      graft.functions.GraftRaise(Cast(args.head, StringType))
    }),

    // ---- date and time: a time value plus modifiers (timeValue) ----
    ("sqlite_date", "sqlite_date(x, mods...) - SQLite date(): 'YYYY-MM-DD'",
      rendered("date", "yyyy-MM-dd")),
    ("sqlite_time", "sqlite_time(x, mods...) - SQLite time(): 'HH:MM:SS'",
      rendered("time", "HH:mm:ss")),
    ("datetime", "datetime(x, mods...) - 'YYYY-MM-DD HH:MM:SS'",
      rendered("datetime", "yyyy-MM-dd HH:mm:ss")),
    ("strftime", "strftime(fmt, x, mods...) - SQLite strftime", strftime),
    ("julianday", "julianday(x, mods...) - fractional Julian Day number", { args =>
      timeValue("julianday", args).map(julian).getOrElse(Literal.create(null, DoubleType))
    }),
    // SQLite ≥3.38: Unix seconds, FLOORED (a pre-1970 fraction rounds down)
    ("unixepoch", "unixepoch(x, mods...) - whole seconds since 1970-01-01", { args =>
      timeValue("unixepoch", args).map(e => UnixSeconds(e): Expression)
        .getOrElse(Literal.create(null, LongType))
    }),

    // SQLite total(): like sum() over doubles but 0.0 (never NULL) on
    // empty/all-null input
    ("total", "total(x) - sum as double, 0.0 when empty", arity("total", 1) { args =>
      Coalesce(Seq(
        Sum(Cast(args.head, DoubleType)).toAggregateExpression(),
        Literal(0.0)))
    }),

    ("group_concat", "group_concat(x[, sep]) - sorted, ',' default, NULL on empty",
      groupConcat("group_concat", distinct = false)),
    ("sqlite_group_concat_distinct", "sqlite_group_concat_distinct(x[, sep]) - group_concat(DISTINCT x[, sep])",
      groupConcat("group_concat", distinct = true)),

    // Spark's ascii() already answers the first code point; only the
    // empty string differs (SQLite: NULL, ascii: 0)
    ("unicode", "unicode(s) - code point of the first character, NULL on ''", arity("unicode", 1) { args =>
      If(EqualTo(Length(args.head), Literal(0)),
        Literal.create(null, IntegerType), Ascii(args.head))
    }),

    // SQLite char(): each argument an integer code point (NULL reads as
    // 0, one outside Unicode's range as U+FFFD); Spark's char() is
    // chr(), which takes its argument mod 256
    ("sqlite_char", "sqlite_char(n, ...) - SQLite char(): the string of the code points", { args =>
      FormatString(Literal("%c" * args.length) +: args.map { a =>
        val cp = Coalesce(Seq(Cast(a, LongType), Literal(0L)))
        Cast(If(Or(LessThan(cp, Literal(0L)), GreaterThan(cp, Literal(0x10FFFFL))),
          Literal(0xFFFDL), cp), IntegerType)
      }: _*)
    }),

    ("sqlite_printf", "sqlite_printf(fmt, ...) - SQLite printf()", printf),
    // format() is SQLite's printf alias (≥3.38); Spark has no format()
    ("format", "format(fmt, ...) - SQLite format(), an alias of printf()", printf),

    // numeric truncation toward zero (Spark's trunc is date-only); an
    // integer stays itself, as in SQLite
    ("sqlite_trunc", "sqlite_trunc(x) - truncate toward zero", arity("sqlite_trunc", 1) { args =>
      val x = args.head
      x.dataType match {
        case ByteType | ShortType | IntegerType | LongType => x
        case _ => If(GreaterThanOrEqual(x, Literal(0)),
          Cast(Floor(x), DoubleType), Cast(Ceil(x), DoubleType))
      }
    }),

    // scalar (multi-argument) min/max: SQLite returns NULL if ANY
    // argument is NULL; Spark's least/greatest skip NULLs
    ("sqlite_min", "sqlite_min(a, b, ...) - SQLite scalar min(), NULL if any argument is",
      scalarMinMax("sqlite_min", Least(_))),
    ("sqlite_max", "sqlite_max(a, b, ...) - SQLite scalar max(), NULL if any argument is",
      scalarMinMax("sqlite_max", Greatest(_))),

    // SQLite concat() skips NULL arguments; Spark's concat propagates
    // them — concat_ws with an empty separator is the exact semantics,
    // including '' (never NULL) when every argument is NULL
    ("sqlite_concat", "sqlite_concat(a, ...) - SQLite concat(): NULLs skipped", arity("sqlite_concat", 1, orMore = true) { args =>
      ConcatWs(Literal("") +: args)
    }),

    // SQLite 2-arg ltrim/rtrim/trim are (src, trimChars); Spark's
    // legacy 2-arg forms are (trimStr, src)
    ("sqlite_ltrim", "sqlite_ltrim(s, chars) - strip leading chars",
      trim2("sqlite_ltrim", (s, c) => StringTrimLeft(s, Some(c)))),
    ("sqlite_rtrim", "sqlite_rtrim(s, chars) - strip trailing chars",
      trim2("sqlite_rtrim", (s, c) => StringTrimRight(s, Some(c)))),
    ("sqlite_trim", "sqlite_trim(s, chars) - strip chars at both ends",
      trim2("sqlite_trim", (s, c) => StringTrim(s, Some(c)))),

    // SQLite random() returns a uniform 64-bit INTEGER, so `abs(random())
    // % n` (the idiomatic random pick) keeps its meaning. One
    // double-scaled draw can't make uniform LOW bits (the ulp near 2^63
    // is 2048), so two exact 32-bit draws compose: (hi-2^31)*2^32 + lo
    // spans exactly [-2^63, 2^63) with no BIGINT overflow.
    ("sqlite_random", "sqlite_random() - uniform 64-bit integer", arity("sqlite_random", 0) { args =>
      def word = Cast(Floor(Multiply(rand(), Literal(4294967296.0))), LongType)
      Add(Multiply(Subtract(word, Literal(2147483648L)), Literal(4294967296L)), word)
    }),

    // zeroblob(N): N zero bytes, non-positive N → empty
    ("zeroblob", "zeroblob(n) - n zero bytes", arity("zeroblob", 1) { args =>
      Unhex(StringRepeat(Literal("00"),
        Greatest(Seq(Cast(args.head, IntegerType), Literal(0)))))
    }),

    // randomblob(N): N uniform random bytes, one exact 8-bit draw each;
    // SQLite returns ONE byte for N < 1
    ("randomblob", "randomblob(n) - n random bytes", arity("randomblob", 1) { args =>
      val byte = FormatString(Literal("%02X"),
        Cast(Floor(Multiply(rand(), Literal(256.0))), LongType))
      val n = Greatest(Seq(Cast(args.head, IntegerType), Literal(1)))
      Unhex(ArrayJoin(ArrayTransform(new Sequence(Literal(1), n), LambdaFunction(byte,
        Seq(NamedLambdaVariable("i", IntegerType, nullable = false)))), Literal(""), None))
    }),

    // SQLite planner hints: identity on the value
    ("likely", "likely(x) - x", arity("likely", 1) { args => args.head }),
    ("unlikely", "unlikely(x) - x", arity("unlikely", 1) { args => args.head }),
    ("likelihood", "likelihood(x, p) - x", arity("likelihood", 2) { args => args.head }),

    // function form of the GLOB operator; the pattern must be a literal
    // (as in every generated-SQL use) so the regex compiles once
    ("glob", "glob(pattern, str) - SQLite glob match", arity("glob", 2) { args =>
      text(args.head) match {
        case Some(p) =>
          RLike(args(1), Literal(graft.functions.Glob.toRegex(p)))
        case None => throw new IllegalArgumentException(
          "glob(pattern, str) requires a literal pattern")
      }
    }),

    // SQLite typeof() → storage class of the VALUE. With a fixed lake
    // schema the class is static per expression TYPE; only nullness is
    // a runtime question, so the whole call folds to a null-guarded
    // literal (free at execution). Spark's own typeof() answers with
    // Spark type names ('bigint', 'string').
    ("sqlite_typeof", "sqlite_typeof(x) - SQLite storage class ('integer', 'real', 'text', 'blob', 'null')", arity("sqlite_typeof", 1) { args =>
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
    // non-letter rules ('b-b': SQLite B100, census B000).
    ("graft_soundex", "graft_soundex(x) - SQLite soundex(): 4-char phonetic code, '?000' on no-alpha/NULL", arity("graft_soundex", 1) { args =>
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
    // diverges.
    ("graft_sign", "graft_sign(x) - SQLite sign(): -1/0/1 as INTEGER, NULL on non-numeric", arity("graft_sign", 1) { args =>
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
    // (hex(25) = '3235', where Spark's hex(25) = '19'), and NULL
    // yields '' (the zero-length blob rendering), never NULL.
    ("sqlite_hex", "sqlite_hex(x) - SQLite hex(): uppercase hex of the value's blob rendering", arity("sqlite_hex", 1) { args =>
      val e = args.head
      val blob = e.dataType match {
        case BinaryType   => e
        case NullType     => Literal.create(null, BinaryType)
        case _: StringType => Cast(e, BinaryType)
        case _            => Cast(Cast(e, StringType), BinaryType)
      }
      Coalesce(Seq(Hex(blob), Literal("")))
    }),

    ("sqlite_quote", "sqlite_quote(x) - SQLite quote(): SQL literal rendering of a value",
      arity("sqlite_quote", 1)(args => quote(args.head))),

    // SQLite changes()/total_changes(): affected-row counts of the
    // session's executed DML ([[graft.exec.SessionChanges]] — the
    // executors record a lazy count of the affected slice). The value
    // folds to a literal at ANALYSIS of the calling query, which is
    // exactly SQLite's timing (the count as of statement start).
    ("changes", "changes() - rows changed by the most recent INSERT/UPDATE/DELETE", arity("changes", 0) { args =>
      Literal(graft.exec.SessionChanges.changes(SparkSession.active))
    }),

    ("total_changes", "total_changes() - rows changed by all DML this session", arity("total_changes", 0) { args =>
      Literal(graft.exec.SessionChanges.totalChanges(SparkSession.active))
    }),

    // last_insert_rowid(): the max rowid the most recent INSERT into a
    // rowid-enabled table assigned ([[graft.exec.Rowid]] materializes
    // the surface lazily; [[graft.exec.SessionChanges]] records the
    // deferred value). Inserts into tables that never referenced the
    // rowid surface don't update it — documented README divergence
    // (those tables have no materialized rowids to report).
    ("last_insert_rowid", "last_insert_rowid() - rowid of the most recently inserted row", arity("last_insert_rowid", 0) { args =>
      Literal(graft.exec.SessionChanges.lastInsertRowid(SparkSession.active))
    }),

    // the SQLite dialect LEVEL graft emulates (documented in README):
    // a model probing the version before emitting version-gated SQL
    // gets a coherent answer instead of "undefined function"
    ("sqlite_version", "sqlite_version() - the emulated SQLite dialect level", arity("sqlite_version", 0) { args =>
      Literal("3.45.3")
    }),

    // ---- JSON1 scalars and aggregates ----
    // json(X): validate + minify; malformed input raises, as SQLite's does
    ("json", "json(x) - validated, minified JSON text", arity("json", 1) { args =>
      builtin("to_json", builtin("parse_json", args.head))
    }),
    // Boolean (not SQLite's 0/1 — WHERE is the common position and
    // Spark filters need BOOLEAN); NULL input stays NULL per SQLite
    ("json_valid", "json_valid(x) - whether x is well-formed JSON", arity("json_valid", 1) { args =>
      If(IsNull(args.head), Literal.create(null, BooleanType),
        IsNotNull(builtin("try_parse_json", args.head)))
    }),
    // json_extract's SQL-value semantics are get_json_object's (strings
    // unquoted, objects/arrays as JSON text); residual delta: JSON
    // numbers/booleans come back as STRING '7'/'true' (README). Several
    // paths give a JSON array of the per-path values (missing → null).
    ("json_extract", "json_extract(json, path, ...) - the value at each path", arity("json_extract", 2, orMore = true) { args =>
      if (args.length == 2) GetJsonObject(args(0), args(1))
      else jsonText("[", "]", args.tail.map(p => Coalesce(Seq(builtin("to_json",
        builtin("variant_get", builtin("parse_json", args.head), p)), Literal("null")))))
    }),
    ("json_array", "json_array(x, ...) - a JSON array of the values", { args =>
      jsonText("[", "]", args.map(jsonElem(_, "json_array")))
    }),
    ("json_object", "json_object(label, value, ...) - a JSON object of the pairs", { args =>
      if (args.length % 2 != 0) throw new IllegalArgumentException(
        "json_object requires an even number of arguments")
      jsonText("{", "}", args.grouped(2).map { case Seq(k, v) =>
        Concat(Seq(jsonLabel(k), Literal(":"), jsonElem(v, "json_object")))
      }.toSeq)
    }),
    // the 2-argument (path) form; 1-argument json_array_length is
    // Spark's own (NULL, not SQLite's 0, on valid non-array JSON —
    // README)
    ("sqlite_json_array_length", "sqlite_json_array_length(json, path) - length of the array at path, 0 for a non-array", arity("sqlite_json_array_length", 2) { args =>
      val node = GetJsonObject(args(0), args(1))
      If(IsNull(node), Literal.create(null, IntegerType),
        Coalesce(Seq(builtin("json_array_length", node), Literal(0))))
    }),
    ("json_group_array", "json_group_array(x) - JSON array of the group's values, sorted", arity("json_group_array", 1) { args =>
      jsonText("[", "]", Seq(ArrayJoin(
        sortedBy(args.head, jsonElem(args.head, "json_group_array")), Literal(","), None)))
    }),
    ("json_group_object", "json_group_object(label, value) - JSON object of the group's pairs, sorted", arity("json_group_object", 2) { args =>
      val pair = Concat(Seq(jsonLabel(args(0)), Literal(":"),
        jsonElem(args(1), "json_group_object")))
      jsonText("{", "}", Seq(ArrayJoin(sortedBy(args(0), pair), Literal(","), None)))
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

    ("json_patch", "json_patch(a, b) - RFC-7386 merge patch", arity("json_patch", 2) { args =>
      graft.functions.SqliteJsonPatch(
        Cast(args(0), StringType), Cast(args(1), StringType))
    }),

    ("json_quote", "json_quote(x) - JSON rendering of an SQL value", arity("json_quote", 1) { args =>
      jsonElem(args.head, "json_quote")
    }),


    // the time value (ts above) as a function
    ("sqlite_timeval", "sqlite_timeval(x) - SQLite time-value: ISO text, or a julian day number",
      arity("sqlite_timeval", 1)(args => ts(args.head))),

    ("json_error_position", "json_error_position(x) - 0 if well-formed, else 1-based char position of the first error", arity("json_error_position", 1) { args =>
      graft.functions.SqliteJsonErrorPos(Cast(args.head, StringType))
    }),

    // table-valued json_each/json_tree double as scalar-registry
    // generators so LATERAL VIEW also resolves them
    ("json_each", "json_each(json[, path]) - one row per element of the path node",
      jsonEachBuilder("json_each", recursive = false)),
    ("json_tree", "json_tree(json[, path]) - the path node and every descendant, DFS",
      jsonEachBuilder("json_tree", recursive = true))
  )

  /** Every name this module registers (the table-valued forms reuse
    * two of them). */
  private[graft] def names: Seq[String] = fns.map(_._1)

  private def scalarMinMax(fn: String, pick: Seq[Expression] => Expression): Builder =
    arity(fn, 2, orMore = true) { args => If(args.map(a => IsNull(a): Expression).reduce(Or(_, _)),
      Literal.create(null, NullType), pick(args))
  }

  private def trim2(fn: String, f: (Expression, Expression) => Expression): Builder =
    arity(fn, 2)(args => f(args(0), args(1)))

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
      graft.functions.SqliteJsonEdit(acc, Cast(p, StringType), jsonElem(v, name), mode)
    }
  }

  /** A constructor's JSON text: `open`, the comma-joined parts,
    * `close`, marked as JSON for an enclosing constructor. */
  private def jsonText(open: String, close: String, parts: Seq[Expression]): Expression =
    JsonText(Concat(Seq(Literal(open), ConcatWs(Literal(",") +: parts), Literal(close))))

  /** One JSON element: the value's JSON rendering, SQL NULL as null. */
  private def jsonElem(e: Expression, fn: String): Expression =
    Coalesce(Seq(jsonValueExpr(e, fn), Literal("null")))

  /** An object label: text only, as SQLite requires. */
  private def jsonLabel(k: Expression): Expression = k.dataType match {
    case _: StringType => graft.functions.SqliteJsonQuoteString(k)
    case _ => throw new IllegalArgumentException("json_object() labels must be TEXT")
  }

  /** Render an SQL value expression as JSON text, type-directed —
    * SQLite's value→JSON rule, and the only one: every constructor,
    * aggregate and editor renders its elements here. Results of
    * JSON-producing calls splice verbatim (the JSON-subtype rule):
    * `json(x)` and `->` are `to_json(…)`, the constructors carry the
    * [[JsonText]] mark, and this module's editors carry the subtype
    * structurally. BOOLEAN renders as 1/0 (SQLite has no boolean).
    * SQL NULL renders as JSON null via the caller's Coalesce. Known
    * divergence (README): REAL exponent rendering follows Spark's cast
    * ('1.0E20' vs SQLite '1.0e+20').
    */
  private def jsonValueExpr(e: Expression, fn: String): Expression = {
    def isJsonSubtyped(x: Expression): Boolean = x match {
      case _: JsonText |
           _: graft.functions.SqliteJsonEdit |
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

  private[plans] def inject(ext: SparkSessionExtensions,
                             fns: Seq[(String, String, Builder)]): Unit =
    fns.foreach { case (name, usage, b) =>
      ext.injectFunction((FunctionIdentifier(name), info(name, usage), b))
    }

  /** Wiring through [[GraftExtensions]]. */
  def register(ext: SparkSessionExtensions): Unit = {
    inject(ext, fns)
    tvfs.foreach { case (name, usage, b) =>
      ext.injectTableFunction((FunctionIdentifier(name), info(name, usage), b))
    }
  }
}

/** JSON text a constructor built. It marks the SQLite JSON subtype during
  * analysis, so an enclosing constructor or editor splices it instead of
  * quoting it, and is replaced by its child before optimization.
  */
private[plans] case class JsonText(child: Expression)
    extends UnaryExpression with RuntimeReplaceable {
  override def replacement: Expression = child
  override def prettyName: String = "json"
  override protected def withNewChildInternal(c: Expression): JsonText = copy(child = c)
}

/** The only way the engine's pieces enter a session: SQLite-dialect
  * functions, the engine's native dedup/similarity expressions as SQL
  * functions, the statement evaluation mode ([[StatementEvalMode]]), the
  * regex-prefix pushdown rule, the GroupTopK strategy, and literal
  * parameterization of generated code ([[ParameterizeLiterals]]).
  * `GraftSession.create` applies it; on a cluster, set
  * `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    SqliteFunctions.register(ext)
    GraftNativeFunctions.register(ext)
    ext.injectPostHocResolutionRule(_ => StatementEvalMode)
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
  import SqliteFunctions.{arity, inject}

  private def litInt(e: Expression, fn: String): Int = e match {
    case IntegerLiteral(k) => k
    case _ => throw new IllegalArgumentException(
      s"$fn requires a literal integer argument, got ${e.sql}")
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

  private def litStr(e: Expression, fn: String): String =
    SqliteFunctions.text(e).getOrElse(throw new IllegalArgumentException(
      s"$fn requires a literal string argument, got ${e.sql}"))

  /** Wiring through [[GraftExtensions]]. */
  def register(ext: SparkSessionExtensions): Unit = inject(ext, fns)
}
