package graft.dialect

import scala.util.matching.Regex

/** One left-to-right lexical pass over ClickHouse SQL text, and the
  * structural queries the dialect's rewrites ask of it.
  *
  * Lexical rules (ClickHouse's own, which the reference relies on by
  * handing every statement verbatim to embedded ClickHouse):
  *   - `'…'` string literals, `` `…` `` and `"…"` quoted identifiers.
  *     Inside all three, both escape forms hold: a backslash escapes
  *     the next character (`'O\'Brien'`) and a doubled quote stands for
  *     itself (`'O''Brien'`). An unterminated quote runs to the end.
  *   - `-- …` line comments run to the end of the line; `/* … */` block
  *     comments nest.
  *   - Every other position is *code*. Quote characters and comment
  *     markers are not code.
  *   - Depth counts code brackets: `(` and `[` up, `)` and `]` down.
  *     `depth(i)` is the depth before the character at `i`, so an
  *     opener and its closer differ by one and the text between them
  *     sits one deeper than the opener.
  *
  * A scan is built once per text and queried many times; every query
  * reads the recorded map and never re-lexes. A rewrite that edits the
  * text scans the edited text anew.
  */
final class SqlScan private (val text: String, depths: Array[Int],
                             code: Array[Boolean], closers: Array[Int]) {

  /** Bracket depth before position `i` (0 <= i <= text.length). */
  def depth(i: Int): Int = depths(i)

  /** Whether position `i` is code (outside literals, quoted
    * identifiers and comments). */
  def isCode(i: Int): Boolean = code(i)

  /** Index of the bracket closing the code bracket at `open`; -1 when
    * `open` is not a code opener or never closes. */
  def closing(open: Int): Int =
    if (open >= 0 && open < closers.length) closers(open) else -1

  /** The text of [from, until) cut at every code `sep` at the depth of
    * `from`. Joining the pieces with `sep` gives that text back; an
    * empty range is one empty piece. */
  def split(sep: Char, from: Int = 0, until: Int = text.length): Seq[String] = {
    val d = depths(from)
    val out = List.newBuilder[String]
    var start = from
    var i = from
    while (i < until) {
      if (code(i) && depths(i) == d && text.charAt(i) == sep) {
        out += text.substring(start, i)
        start = i + 1
      }
      i += 1
    }
    (out += text.substring(start, until)).result()
  }

  /** First code occurrence of `kw` at or after `from`, at the depth of
    * `from`, matched case-insensitively and bounded by non-identifier
    * characters on both sides; -1 if none. */
  def keyword(kw: String, from: Int = 0): Int = {
    val d = depths(from)
    var i = from
    while (i + kw.length <= text.length) {
      if (code(i) && depths(i) == d &&
          text.regionMatches(true, i, kw, 0, kw.length) &&
          (i == 0 || !SqlScan.identChar(text.charAt(i - 1))) &&
          (i + kw.length == text.length ||
            !SqlScan.identChar(text.charAt(i + kw.length)))) return i
      i += 1
    }
    -1
  }

  /** The text cut at every occurrence of keyword `kw` that
    * [[keyword]] finds from position 0; the keywords are dropped. */
  def splitKeyword(kw: String): Seq[String] = {
    val out = List.newBuilder[String]
    var start = 0
    var i = keyword(kw)
    while (i >= 0) {
      out += text.substring(start, i)
      start = i + kw.length
      i = keyword(kw, start)
    }
    (out += text.substring(start)).result()
  }

  /** Matches of `re` that start in code, left to right from `from`. A
    * match that starts outside code is skipped and the search resumes
    * one character later, so it never hides a code match it overlaps. */
  def codeMatches(re: Regex, from: Int = 0): Iterator[Regex.Match] = {
    val m = re.pattern.matcher(text)
    Iterator.unfold(from) { at =>
      var k = at
      var hit: Option[(Regex.Match, Int)] = None
      while (hit.isEmpty && k <= text.length && m.find(k)) {
        if (code(m.start))
          hit = Some((new Regex.Match(text, m, Nil).force,
            if (m.end > m.start) m.end else m.end + 1))
        else k = m.start + 1
      }
      hit
    }
  }

  /** The text with every code match of `re` replaced by `rep(match)`,
    * taken literally. */
  def replaceInCode(re: Regex, rep: Regex.Match => String): String = {
    val sb = new java.lang.StringBuilder
    var last = 0
    codeMatches(re).foreach { m =>
      sb.append(text, last, m.start).append(rep(m))
      last = m.end
    }
    sb.append(text, last, text.length).toString
  }

  /** The text with each call-like span replaced by `rep(match, closer)`:
    * a span is a code match of `re` that ends just past a bracket,
    * through that bracket's closer. Matches inside a replaced span, or
    * whose bracket never closes, stay as they are. */
  def replaceCalls(re: Regex)(rep: (Regex.Match, Int) => String): String = {
    val sb = new java.lang.StringBuilder
    var last = 0
    codeMatches(re).foreach { m =>
      val close = closing(m.end - 1)
      if (m.start >= last && close >= 0) {
        sb.append(text, last, m.start).append(rep(m, close))
        last = close + 1
      }
    }
    sb.append(text, last, text.length).toString
  }

  /** Start of the expression that ends at `at`: just past the nearest
    * code `,` at the depth of `at`, or just past the bracket enclosing
    * `at`; 0 when there is neither. */
  def exprStart(at: Int): Int = {
    val d = depths(at)
    var i = at - 1
    while (i >= 0) {
      if (code(i)) {
        val c = text.charAt(i)
        if ((c == ',' && depths(i) == d) ||
            ((c == '(' || c == '[') && depths(i) == d - 1)) return i + 1
      }
      i -= 1
    }
    0
  }
}

object SqlScan {

  private def identChar(c: Char): Boolean = Character.isLetterOrDigit(c) || c == '_'

  def apply(text: String): SqlScan = {
    val n = text.length
    val depths = new Array[Int](n + 1)
    val code = new Array[Boolean](n + 1)
    val closers = Array.fill(n)(-1)
    val opens = new Array[Int](n) // stack of unclosed openers
    var top = 0
    var d = 0
    var i = 0
    while (i < n) {
      val c = text.charAt(i)
      val skipTo = c match {
        case '\'' | '`' | '"' => quotedEnd(text, i)
        case '-' if text.startsWith("--", i) =>
          val nl = text.indexOf('\n', i)
          if (nl < 0) n else nl
        case '/' if text.startsWith("/*", i) => blockCommentEnd(text, i)
        case _ => -1
      }
      if (skipTo < 0) {
        depths(i) = d
        code(i) = true
        if (c == '(' || c == '[') { opens(top) = i; top += 1; d += 1 }
        else if (c == ')' || c == ']') {
          d -= 1
          if (top > 0) { top -= 1; closers(opens(top)) = i }
        }
        i += 1
      } else while (i < skipTo) { depths(i) = d; i += 1 }
    }
    depths(n) = d
    code(n) = true
    new SqlScan(text, depths, code, closers)
  }

  /** Index just past the quoted token that opens at `start`. */
  private def quotedEnd(s: String, start: Int): Int = {
    val q = s.charAt(start)
    var k = start + 1
    while (k < s.length) {
      val c = s.charAt(k)
      if (c == '\\') k += 2
      else if (c != q) k += 1
      else if (k + 1 < s.length && s.charAt(k + 1) == q) k += 2
      else return k + 1
    }
    s.length
  }

  /** Index just past the (nesting) block comment that opens at `start`. */
  private def blockCommentEnd(s: String, start: Int): Int = {
    var nest = 1
    var k = start + 2
    while (k < s.length && nest > 0) {
      if (s.startsWith("/*", k)) { nest += 1; k += 2 }
      else if (s.startsWith("*/", k)) { nest -= 1; k += 2 }
      else k += 1
    }
    math.min(k, s.length)
  }
}
