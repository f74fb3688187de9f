package graft.text2sql

/** SQLite's lexical rule — the only code that knows it. SQLite has one
  * tokenizer and treats these runs the same wherever they appear, so
  * every text rewrite scans through here:
  *  - a `'…'`, `"…"` or `` `…` `` run is opaque; a doubled quote inside
  *    it is an escape, and an unterminated run ends at the text's end;
  *  - a `--` line comment (up to its newline) and a `/*…*/` block
  *    comment (to the text's end when unterminated) are opaque;
  *  - everything else is code.
  *
  * A *code position* is an index outside every opaque run. Members
  * build only indexes and strings; what a quoted run or comment means
  * (identifier, literal, placeholder) stays with the caller.
  */
private[graft] object SqlText {

  def isWordChar(c: Char): Boolean = c.isLetterOrDigit || c == '_'

  /** Index just past the quoted run or comment starting at `i`, or `i`
    * itself when `i` is a code position. */
  def skipOpaque(s: String, i: Int): Int = {
    if (i >= s.length) return i
    s.charAt(i) match {
      case q @ ('\'' | '"' | '`') =>
        var j = i + 1
        while (j < s.length) {
          if (s.charAt(j) != q) j += 1
          else if (j + 1 < s.length && s.charAt(j + 1) == q) j += 2
          else return j + 1
        }
        s.length
      case '-' if s.startsWith("--", i) =>
        val e = s.indexOf('\n', i + 2); if (e < 0) s.length else e
      case '/' if s.startsWith("/*", i) =>
        val e = s.indexOf("*/", i + 2); if (e < 0) s.length else e + 2
      case _ => i
    }
  }

  /** First index at or after `from` that is neither whitespace nor
    * inside a comment. */
  def skipWs(s: String, from: Int): Int = {
    var i = from
    var more = true
    while (more && i < s.length) {
      val c = s.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '-' || c == '/') {
        val e = skipOpaque(s, i)
        if (e > i) i = e else more = false
      } else more = false
    }
    i
  }

  /** Index just past the last character before `end` that is neither
    * whitespace nor inside a comment, or 0: `skipWs` walking left. A
    * quoted run counts whole, so the result may be just past its
    * closing quote. `end` must not fall inside an opaque run. */
  def skipWsBack(s: String, end: Int): Int = {
    var last = 0
    var i = 0
    while (i < end) {
      val e = skipOpaque(s, i)
      if (e > i) {
        if (s.charAt(i) != '-' && s.charAt(i) != '/') last = e
        i = e
      } else {
        if (!s.charAt(i).isWhitespace) last = i + 1
        i += 1
      }
    }
    last
  }

  /** Start of the quoted run that ends just before `end`, or -1. */
  def quotedStart(s: String, end: Int): Int = {
    var i = 0
    while (i < end) {
      val e = skipOpaque(s, i)
      if (e == end && e > i && s.charAt(i) != '-' && s.charAt(i) != '/') return i
      i = if (e > i) e else i + 1
    }
    -1
  }

  /** Index of the `(` that the code `)` at `close` balances; -1 if
    * none. */
  def openParen(s: String, close: Int): Int = {
    var opens = List.empty[Int]
    var open = -1
    find(s, 0) { i =>
      if (i == close) open = opens.headOption.getOrElse(-1)
      else s.charAt(i) match {
        case '(' => opens ::= i
        case ')' => opens = opens.drop(1)
        case _ =>
      }
      i >= close
    }
    open
  }

  /** The first code position at or after `from` where `hit` holds, or
    * -1. `hit` sees every code position in order, so a caller may keep
    * state across calls. */
  def find(s: String, from: Int)(hit: Int => Boolean): Int =
    scan(s, from, topOnly = false)(hit)

  /** The first code position at or after `from`, at paren depth 0
    * relative to `from`, where `hit` holds, or -1. A `)` with no open
    * partner is ordinary code there. */
  def findTop(s: String, from: Int)(hit: Int => Boolean): Int =
    scan(s, from, topOnly = true)(hit)

  private def scan(s: String, from: Int, topOnly: Boolean)
                  (hit: Int => Boolean): Int = {
    var depth = 0
    var i = from
    while (i < s.length) {
      val e = skipOpaque(s, i)
      if (e > i) i = e
      else {
        if ((depth == 0 || !topOnly) && hit(i)) return i
        s.charAt(i) match {
          case '(' => depth += 1
          case ')' => if (depth > 0) depth -= 1
          case _ =>
        }
        i += 1
      }
    }
    -1
  }

  /** Index of the `)` balancing the `(` at `open`; -1 if unbalanced. */
  def closeParen(s: String, open: Int): Int =
    findTop(s, open + 1)(s.charAt(_) == ')')

  /** `s` split on its top-level commas. */
  def splitTop(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var start = 0
    var comma = findTop(s, 0)(s.charAt(_) == ',')
    while (comma >= 0) {
      out += s.substring(start, comma)
      start = comma + 1
      comma = findTop(s, start)(s.charAt(_) == ',')
    }
    out += s.substring(start)
    out.result()
  }

  /** `s` rebuilt left to right: opaque runs copy through verbatim, and
    * at each code position `at` may return a replacement text and the
    * index to resume from (past `i`); otherwise the character copies. */
  def rewrite(s: String)(at: Int => Option[(String, Int)]): String = {
    val out = new java.lang.StringBuilder
    var i = 0
    while (i < s.length) {
      val e = skipOpaque(s, i)
      if (e > i) { out.append(s, i, e); i = e }
      else at(i) match {
        case Some((repl, next)) => out.append(repl); i = next
        case None => out.append(s.charAt(i)); i += 1
      }
    }
    out.toString
  }

  /** `s` with each comment replaced by one space, so token boundaries
    * survive. */
  def stripComments(s: String): String = {
    val out = new java.lang.StringBuilder
    var i = 0
    while (i < s.length) {
      val e = skipOpaque(s, i)
      if (e == i) { out.append(s.charAt(i)); i += 1 }
      else {
        if (s.charAt(i) == '-' || s.charAt(i) == '/') out.append(' ')
        else out.append(s, i, e)
        i = e
      }
    }
    out.toString
  }

  /** Case-insensitive keyword match at `i` with word boundaries on
    * both sides. */
  def keywordAt(s: String, i: Int, kw: String): Boolean =
    s.regionMatches(true, i, kw, 0, kw.length) &&
      (i == 0 || !isWordChar(s.charAt(i - 1))) &&
      (i + kw.length >= s.length || !isWordChar(s.charAt(i + kw.length)))

  /** Does keyword `kw` occur in code, followed (past whitespace and
    * comments) by the character `next`? Covers the `NEW.` / `OLD.` /
    * `raise(` shapes trigger validation probes. */
  def keywordFollowedBy(s: String, kw: String, next: Char): Boolean =
    find(s, 0) { i =>
      keywordAt(s, i, kw) && {
        val j = skipWs(s, i + kw.length)
        j < s.length && s.charAt(j) == next
      }
    } >= 0
}
