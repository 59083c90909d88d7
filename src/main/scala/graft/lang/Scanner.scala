package graft.lang

/** Token kinds for the Graft query language. */
sealed trait TokenKind
object TokenKind {
  case object Ident extends TokenKind // includes keywords (context-sensitive)
  case object BackquotedIdent extends TokenKind
  case object StringLit extends TokenKind
  case object LongLit extends TokenKind
  case object DoubleLit extends TokenKind
  case object Op extends TokenKind // punctuation / operators
  case object EOF extends TokenKind
}

/** `doc` is the text of the last closed `--- … ---` block before the
  * token, with no other token between them. */
final case class Token(kind: TokenKind, text: String, pos: Int,
    bol: Boolean = false, doc: String = "") {
  def is(s: String): Boolean =
    (kind == TokenKind.Ident && text.equalsIgnoreCase(s)) ||
      (kind == TokenKind.Op && text == s)
  def isEOF: Boolean = kind == TokenKind.EOF
}

/** Hand-written tokenizer. Strings accept single or double quotes (both are
  * string literals in the language; backquotes delimit identifiers). `--`
  * starts a line comment, `/* */` a block comment and `---` a doc block
  * closed by the next `---`; a doc block's trimmed text rides on the next
  * token (the reference attaches comments to the following node,
  * WvletParser.scala:72-125). Numbers: 123, 1.5, 1e-3, 50 (percent sign is
  * its own Op token).
  */
final class ScannerException(msg: String) extends Exception(msg)

object Scanner {
  private val multiCharOps =
    List("<=>", "!=", "<>", "<=", ">=", "::", "->", "||", "//", "==")

  def tokenize(src: String): Vector[Token] = {
    val out = Vector.newBuilder[Token]
    // (end, text) of each closed, non-empty doc block, in order
    val docs = List.newBuilder[(Int, String)]
    var i = 0
    val n = src.length
    while (i < n) {
      val c = src.charAt(i)
      if (c.isWhitespace) i += 1
      else if (src.startsWith("---", i)) {
        // `---` opens a doc block closed by the next `---`
        val end = src.indexOf("---", i + 3)
        if (end >= 0) {
          val doc = src.substring(i + 3, end).trim
          if (doc.nonEmpty) docs += ((end + 3, doc))
        }
        i = if (end < 0) n else end + 3
      } else if (c == '-' && i + 1 < n && src.charAt(i + 1) == '-') {
        while (i < n && src.charAt(i) != '\n') i += 1
      } else if (src.startsWith("/*", i)) {
        val end = src.indexOf("*/", i + 2)
        i = if (end < 0) n else end + 2
      } else if (c == '"' && src.startsWith("\"\"\"", i)) {
        // triple-quoted raw string (multi-line, no escape processing); a run
        // of >3 closing quotes keeps the extras in the content (Scala rule),
        // so sql"""select 1 as "id"""" parses with a trailing inner quote
        var end = src.indexOf("\"\"\"", i + 3)
        if (end < 0) throw new ScannerException(s"unterminated triple-quoted string at $i")
        while (end + 3 < n && src.charAt(end + 3) == '"') end += 1
        out += Token(TokenKind.StringLit, src.substring(i + 3, end), i)
        i = end + 3
      } else if (c == '\'' || c == '"') {
        val (s, next) = scanString(src, i, c)
        out += Token(TokenKind.StringLit, s, i)
        i = next
      } else if (c == '`') {
        val end = src.indexOf('`', i + 1)
        if (end < 0) throw new ScannerException(s"unterminated backquote at $i")
        out += Token(TokenKind.BackquotedIdent, src.substring(i + 1, end), i)
        i = end + 1
      } else if (c.isDigit || (c == '.' && i + 1 < n && src.charAt(i + 1).isDigit)) {
        val (tok, next) = scanNumber(src, i)
        out += tok
        i = next
      } else if (c.isLetter || c == '_') {
        var j = i + 1
        while (j < n && (src.charAt(j).isLetterOrDigit || src.charAt(j) == '_')) j += 1
        val word = src.substring(i, j)
        // s"..." / sql"""...""" string interpolation
        if ((word == "s" || word == "sql" || word == "json") && j < n &&
          src.startsWith("\"\"\"", j)) {
          var end = src.indexOf("\"\"\"", j + 3)
          if (end < 0) throw new ScannerException(s"unterminated triple-quoted string at $j")
          while (end + 3 < n && src.charAt(end + 3) == '"') end += 1
          out += Token(TokenKind.Ident, word, i)
          out += Token(TokenKind.StringLit, src.substring(j + 3, end), j)
          i = end + 3
        } else if ((word == "s" || word == "sql" || word == "json") && j < n &&
          (src.charAt(j) == '"' || src.charAt(j) == '\'')) {
          val q = src.charAt(j)
          val (s, next) = scanString(src, j, q)
          out += Token(TokenKind.Ident, word, i)
          out += Token(TokenKind.StringLit, s, j)
          i = next
        } else {
          out += Token(TokenKind.Ident, word, i)
          i = j
        }
      } else {
        multiCharOps.find(op => src.startsWith(op, i)) match {
          case Some(op) =>
            out += Token(TokenKind.Op, op, i); i += op.length
          case None =>
            out += Token(TokenKind.Op, c.toString, i); i += 1
        }
      }
    }
    out += Token(TokenKind.EOF, "<eof>", n)
    // annotate begin-of-line: a newline anywhere in the raw source between
    // a token's start and its predecessor's start. (A token-INTERNAL
    // newline — a multi-line triple-quoted string — can mark the next
    // token bol spuriously; the only consumer is the newline-sensitive
    // `delete` disambiguation, where that degrades to the safe reading.)
    // Each token also takes the last doc block that ends before it.
    val toks = out.result()
    var pending = docs.result()
    var prevPos = 0
    toks.map { t =>
      val bol = t.pos > 0 && src.lastIndexOf('\n', t.pos - 1) >= prevPos
      prevPos = t.pos
      val before = pending.takeWhile(_._1 <= t.pos)
      pending = pending.drop(before.length)
      if (bol || before.nonEmpty) t.copy(bol = bol, doc = before.lastOption.fold("")(_._2)) else t
    }
  }

  private def scanString(src: String, start: Int, quote: Char): (String, Int) = {
    val sb = new StringBuilder
    var i = start + 1
    val n = src.length
    var done = false
    while (i < n && !done) {
      val c = src.charAt(i)
      if (c == '\\' && i + 1 < n) {
        src.charAt(i + 1) match {
          case 'n' => sb += '\n'
          case 't' => sb += '\t'
          case 'r' => sb += '\r'
          case '\\' => sb += '\\'
          case '\'' => sb += '\''
          case '"' => sb += '"'
          case other => sb += '\\' += other
        }
        i += 2
      } else if (c == quote) {
        // '' escaping inside same-quote string
        if (i + 1 < n && src.charAt(i + 1) == quote) { sb += quote; i += 2 }
        else { done = true; i += 1 }
      } else { sb += c; i += 1 }
    }
    if (!done) throw new ScannerException(s"unterminated string at $start")
    (sb.toString, i)
  }

  private def scanNumber(src: String, start: Int): (Token, Int) = {
    var i = start
    val n = src.length
    var isDouble = false
    // '_' digit separators (100_000) are consumed and dropped
    def digits(): Unit =
      while (i < n && (src.charAt(i).isDigit ||
        (src.charAt(i) == '_' && i + 1 < n && src.charAt(i + 1).isDigit))) i += 1
    digits()
    if (i < n && src.charAt(i) == '.' && i + 1 < n && src.charAt(i + 1).isDigit) {
      isDouble = true
      i += 1
      digits()
    }
    if (i < n && (src.charAt(i) == 'e' || src.charAt(i) == 'E')) {
      var j = i + 1
      if (j < n && (src.charAt(j) == '+' || src.charAt(j) == '-')) j += 1
      if (j < n && src.charAt(j).isDigit) {
        isDouble = true
        i = j
        while (i < n && src.charAt(i).isDigit) i += 1
      }
    }
    val text = src.substring(start, i).replace("_", "")
    // float/double literal suffix (1.23f) — consumed, value kept as double
    if (i < n && (src.charAt(i) == 'f' || src.charAt(i) == 'F' ||
        src.charAt(i) == 'd' || src.charAt(i) == 'D') &&
      (i + 1 >= n || !(src.charAt(i + 1).isLetterOrDigit || src.charAt(i + 1) == '_'))) {
      return (Token(TokenKind.DoubleLit, text, start), i + 1)
    }
    val kind = if (isDouble) TokenKind.DoubleLit else TokenKind.LongLit
    (Token(kind, text, start), i)
  }
}
