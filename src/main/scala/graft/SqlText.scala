package graft

import java.util.regex.MatchResult
import scala.util.matching.Regex

/** The SQL front-end's lexical scanner. One left-to-right pass classifies
  * every character of a SQL text as
  *   - code;
  *   - a string literal, `'…'` (a doubled `''` is a quote inside it);
  *   - a quoted identifier, `"…"` or `` `…` `` (doubling escapes the same way);
  *   - a comment, `--` to the end of the line or `/* … */` (not nested).
  * An unclosed string, identifier or block comment runs to the end of the
  * text. Each character also gets the bracket depth of the code around it:
  * `(`, `[` and `{` open a level, and a bracket itself sits at the outer
  * level. Statement splitting, comment stripping, parameter binding and the
  * dialect rewrites all read SQL through this one classification, so they
  * agree on what is code.
  */
final class SqlText(val text: String) {
  import SqlText._

  private[this] val n = text.length
  private[this] val kinds = new Array[Byte](n)
  // the first character of each string, identifier and comment
  private[this] val starts = new Array[Boolean](n)
  // the last string, identifier or block comment runs to the end unclosed
  private[this] var unclosed = false

  {
    var i = 0
    while (i < n) {
      val c = text.charAt(i)
      // a string, identifier or comment opening at i: its kind and end
      var kind = Code
      var end = i + 1
      if (c == '\'' || c == '"' || c == '`') {
        kind = if (c == '\'') Str else Ident
        var open = true
        while (end < n && open) {
          if (text.charAt(end) != c) end += 1
          else if (end + 1 < n && text.charAt(end + 1) == c) end += 2
          else { end += 1; open = false }
        }
        unclosed = open
      } else if (c == '-' && i + 1 < n && text.charAt(i + 1) == '-') {
        kind = Comment
        end = text.indexOf('\n', i)
        if (end < 0) end = n
      } else if (c == '/' && i + 1 < n && text.charAt(i + 1) == '*') {
        kind = Comment
        val e = text.indexOf("*/", i + 2)
        unclosed = e < 0
        end = if (e < 0) n else e + 2
      }
      if (kind != Code) {
        starts(i) = true
        java.util.Arrays.fill(kinds, i, end, kind)
      }
      i = end
    }
  }

  // bracket depth of each character and the matching bracket of each code
  // bracket (-1 for none), computed on first use
  private[this] lazy val (depths, partner) = {
    val depths = new Array[Int](n)
    val partner = new Array[Int](n)
    java.util.Arrays.fill(partner, -1)
    var opens = new Array[Int](16)
    var top = 0
    var depth = 0
    var i = 0
    while (i < n) {
      val c = text.charAt(i)
      if (kinds(i) == Code && isOpen(c)) {
        depths(i) = depth
        depth += 1
        if (top == opens.length) opens = java.util.Arrays.copyOf(opens, top * 2)
        opens(top) = i
        top += 1
      } else if (kinds(i) == Code && isClose(c)) {
        depth -= 1
        depths(i) = depth
        if (top > 0) {
          top -= 1
          partner(i) = opens(top)
          partner(opens(top)) = i
        }
      } else depths(i) = depth
      i += 1
    }
    (depths, partner)
  }

  def isCode(i: Int): Boolean = kinds(i) == Code

  /** Bracket depth of the code at `i` (of the code around it when `i` is
    * not code). */
  def depth(i: Int): Int = depths(i)

  /** The bracket matching the code bracket at `i`, or -1. */
  def matching(i: Int): Int = partner(i)

  /** The code and quoted identifiers outside every bracket, without the
    * brackets, strings and comments. */
  def outline: String = {
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      val c = text.charAt(i)
      if (depths(i) == 0 && (kinds(i) == Ident || kinds(i) == Code && !isOpen(c) && !isClose(c))) sb += c
      i += 1
    }
    sb.toString
  }

  /** The first code `c` at bracket depth 0, or -1. */
  def topLevelIndexOf(c: Char): Int =
    text.indices.find(i => text.charAt(i) == c && isCode(i) && depths(i) == 0).getOrElse(-1)

  /** The innermost unclosed code bracket before `i`, or -1. */
  def enclosingOpen(i: Int): Int = {
    var k = i - 1
    while (k >= 0 && !(isCode(k) && isOpen(text.charAt(k)) && depths(k) == depths(i) - 1)) k -= 1
    k
  }

  /** Where the string, identifier or comment holding `i` starts. */
  def spanStart(i: Int): Int = {
    var k = i
    while (!starts(k)) k -= 1
    k
  }

  /** Matches of `re` in `[from, until)` (searched as that substring) that
    * start at code. */
  def codeMatches(re: Regex, from: Int = 0, until: Int = n): Iterator[MatchResult] = {
    val m = re.pattern.matcher(text).region(from, until)
    Iterator.continually(m.find()).takeWhile(identity).map(_ => m.toMatchResult)
      .filter(r => isCode(r.start))
  }

  /** The first match of `re` at or after `from` that starts at code. */
  def find(re: Regex, from: Int = 0): Option[MatchResult] = codeMatches(re, from).nextOption()

  /** The text with each maximal run of code replaced by `f(run)`. */
  def mapCode(f: String => String): String =
    mapRuns((kind, _, run) => if (kind == Code) f(run) else run)

  /** The text with each code run's matches of `re` replaced. */
  def replaceCode(re: Regex, replacement: String): String =
    mapCode(run => re.pattern.matcher(run).replaceAll(replacement))

  /** The text with the body of each string literal (between its quotes)
    * replaced by `f(body)`. */
  def mapStringBodies(f: String => String): String = mapRuns { (kind, end, run) =>
    if (kind != Str) run
    else if (end == n && unclosed) "'" + f(run.substring(1))
    else "'" + f(run.substring(1, run.length - 1)) + "'"
  }

  /** The text without comments: a line comment goes (its newline stays),
    * a block comment becomes one space. */
  def withoutComments: String =
    mapRuns((kind, _, run) => if (kind != Comment) run else if (run.startsWith("/*")) " " else "")

  /** The trimmed, non-empty pieces between code `;`. */
  def statements: List[String] = pieces(';', 0, n, None)

  /** The trimmed, non-empty pieces of `[from, until)` between code commas
    * at bracket depth `level`. */
  def items(from: Int = 0, until: Int = n, level: Int = 0): List[String] =
    pieces(',', from, until, Some(level))

  /** The items inside the code bracket at `open` and its match. */
  def itemsIn(open: Int): List[String] = items(open + 1, partner(open), depths(open) + 1)

  private def pieces(sep: Char, from: Int, until: Int, level: Option[Int]): List[String] = {
    val out = List.newBuilder[String]
    var start = from
    var i = from
    while (i < until) {
      if (text.charAt(i) == sep && isCode(i) && level.forall(_ == depths(i))) {
        out += text.substring(start, i).trim
        start = i + 1
      }
      i += 1
    }
    out += text.substring(start, until).trim
    out.result().filter(_.nonEmpty)
  }

  /** `f(kind, end, run)` over the maximal code runs and each string,
    * identifier and comment, concatenated. */
  private def mapRuns(f: (Byte, Int, String) => String): String = {
    val sb = new StringBuilder(n + 16)
    var changed = false
    var start = 0
    while (start < n) {
      var end = start + 1
      while (end < n && kinds(end) == kinds(start) && !starts(end)) end += 1
      val run = text.substring(start, end)
      val out = f(kinds(start), end, run)
      if (out != run) changed = true
      sb ++= out
      start = end
    }
    if (changed) sb.toString else text
  }
}

object SqlText {
  private final val Code: Byte = 0
  private final val Str: Byte = 1
  private final val Ident: Byte = 2
  private final val Comment: Byte = 3

  private def isOpen(c: Char): Boolean = c == '(' || c == '[' || c == '{'
  private def isClose(c: Char): Boolean = c == ')' || c == ']' || c == '}'

  /** The trimmed, non-empty top-level comma items of `s`. */
  def items(s: String): List[String] = new SqlText(s).items()
}
