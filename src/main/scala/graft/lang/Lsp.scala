package graft.lang

import org.apache.spark.sql.SparkSession

/** Editor/LSP services over the graft language: go-to-definition, hover,
  * and completion (reference surfaces: compiler/lsp/DefinitionProvider.scala,
  * HoverProvider.scala, CompletionProvider.scala — same request/response
  * shapes and edge-case contract, re-derived over this repo's scanner
  * token positions + statement spans + compile-only schema derivation
  * instead of the reference's typed-tree spans).
  *
  * All entry points take the document TEXT and a 1-based character offset,
  * never editor state: requests are stateless, so stale-snapshot bugs are
  * impossible by construction. Every provider is total on malformed or
  * incomplete input (scanner/parser failures degrade to name-level
  * resolution or parse-independent suggestions, never throw).
  */
object Lsp {

  final case class DefinitionResult(
      startLine: Int,
      startColumn: Int,
      endLine: Int,
      endColumn: Int,
      /** file containing the definition; None = the requested document */
      path: Option[String] = None)

  final case class HoverResult(
      text: String,
      startLine: Int,
      startColumn: Int,
      endLine: Int,
      endColumn: Int)

  final case class CompletionItem(label: String, kind: String, detail: String = "")

  /** Keywords never resolve as definitions/hovers (reference: keyword
    * cursor → None). Includes pipe-operator heads and join/modifier words. */
  private val keywords: Set[String] = Set(
    "from", "where", "select", "group", "by", "order", "add", "prepend",
    "agg", "transform", "exclude", "rename", "shift", "limit", "offset",
    "distinct", "dedup", "count", "sample", "concat", "intersect", "except",
    "join", "left", "right", "inner", "full", "cross", "asof", "on", "as",
    "in", "and", "or", "not", "is", "null", "like", "between", "case",
    "when", "then", "else", "end", "model", "type", "val", "def", "test",
    "should", "be", "contain", "debug", "describe", "show", "save", "append",
    "delete", "truncate", "to", "with", "pivot", "unpivot", "unnest",
    "asc", "desc", "nulls", "first", "last", "if", "over", "partition",
    "rows", "range", "subscribe", "flow", "stage", "call")

  // -------------------------------------------------------------------------
  // text/token utilities
  // -------------------------------------------------------------------------

  private def tokensOf(src: String): Vector[Token] =
    try Scanner.tokenize(src).filterNot(_.kind == TokenKind.EOF)
    catch { case _: ScannerException => Vector.empty }

  /** The identifier token containing 1-based `offset` (pos < offset <= end). */
  private def identAt(tokens: Vector[Token], offset: Int): Option[Token] =
    tokens.find(t => t.kind == TokenKind.Ident &&
      t.pos < offset && offset <= t.pos + t.text.length)

  /** (line, column), both 1-based, of 0-based char position `pos`. */
  private def lineCol(src: String, pos: Int): (Int, Int) = {
    var line = 1; var col = 1; var i = 0
    val n = math.min(pos, src.length)
    while (i < n) {
      if (src.charAt(i) == '\n') { line += 1; col = 1 } else col += 1
      i += 1
    }
    (line, col)
  }

  /** Definition sites in a token stream: (kind, name token) for every
    * `model|type|val|def <name>` pair. Token-level so it works on documents
    * the parser rejects (the reference's name fallback when typing fails). */
  private def definitionSites(tokens: Vector[Token]): Seq[(String, Token)] =
    tokens.sliding(2).collect {
      case Vector(kw, name)
          if name.kind == TokenKind.Ident &&
            Set("model", "type", "val", "def").contains(kw.text) &&
            !keywords.contains(name.text) =>
        (kw.text, name)
    }.toSeq

  /** End offset (exclusive) of the definition starting at `kwPos`: the
    * statement span containing it when the document parses, else the end of
    * a braced block / the name token's line. */
  private def definitionEnd(src: String, kwPos: Int): Int = {
    try {
      val (_, spans) = Parser.parseStatementsWithSpans(src)
      spans.find { case (a, b) => a <= kwPos && kwPos < b } match {
        case Some((_, b)) => return b
        case None => ()
      }
    } catch { case _: ParseException | _: ScannerException => () }
    val brace = src.indexOf('{', kwPos)
    val nl = src.indexOf('\n', kwPos)
    if (brace >= 0 && (nl < 0 || brace < nl)) {
      var depth = 0; var i = brace
      while (i < src.length) {
        src.charAt(i) match {
          case '{' => depth += 1
          case '}' => depth -= 1; if (depth == 0) return i + 1
          case _ => ()
        }
        i += 1
      }
      src.length
    } else if (nl >= 0) nl else src.length
  }

  // -------------------------------------------------------------------------
  // go-to-definition
  // -------------------------------------------------------------------------

  /** Resolve the reference under the cursor to its `model`/`type`/`val`/
    * `def` definition. Same-document definitions shadow workspace ones;
    * a cursor ON the definition's own name, on a keyword, on whitespace,
    * or on an unknown/stdlib name yields None.
    *
    * @param workspace (path → content) sibling files for cross-file jumps */
  def definition(
      content: String,
      offset: Int,
      workspace: Map[String, String] = Map.empty
  ): Option[DefinitionResult] = {
    val tokens = tokensOf(content)
    identAt(tokens, offset) match {
      case None => None
      case Some(tok) if keywords.contains(tok.text) => None
      case Some(tok) =>
        val name = tok.text
        val inDoc = definitionSites(tokens).find(_._2.text == name)
        inDoc match {
          case Some((_, nameTok)) if nameTok.pos == tok.pos =>
            None // cursor is the definition itself
          case Some((kw, nameTok)) =>
            // range starts at the defining keyword, which directly precedes
            // the name token in the token stream
            val kwPos = tokens(tokens.indexWhere(_.pos == nameTok.pos) - 1).pos
            val (sl, sc) = lineCol(content, kwPos)
            val (el, ec) = lineCol(content, definitionEnd(content, kwPos))
            Some(DefinitionResult(sl, sc, el, ec, None))
          case None =>
            workspace.iterator.flatMap { case (path, text) =>
              val wsTokens = tokensOf(text)
              definitionSites(wsTokens).find(_._2.text == name).map {
                case (_, nameTok) =>
                  val kwPos = wsTokens(
                    wsTokens.indexWhere(_.pos == nameTok.pos) - 1).pos
                  val (sl, sc) = lineCol(text, kwPos)
                  val (el, ec) = lineCol(text, definitionEnd(text, kwPos))
                  DefinitionResult(sl, sc, el, ec, Some(path))
              }
            }.nextOption()
        }
    }
  }

  /** Load a workspace directory's .wv files for [[definition]]. */
  def workspaceFiles(dir: String): Map[String, String] = {
    val d = new java.io.File(dir)
    if (!d.isDirectory) Map.empty
    // listFiles returns NULL on I/O errors or a TOCTOU delete — a 500 on
    // every go-to-definition is worse than an empty workspace
    else Option(d.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".wv")).map { f =>
      f.getPath -> new String(
        java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
    }.toMap
  }

  // -------------------------------------------------------------------------
  // hover
  // -------------------------------------------------------------------------

  /** Hover text for the node under the cursor: a model reference shows the
    * model's compiled schema; a column of the enclosing pipeline's input
    * shows `name: type`; a known table shows its schema. The returned range
    * is the hovered token's. */
  def hover(
      content: String,
      offset: Int,
      spark: SparkSession,
      dir: String
  ): Option[HoverResult] = {
    val tokens = tokensOf(content)
    identAt(tokens, offset) match {
      case None => None
      case Some(tok) if keywords.contains(tok.text) => None
      case Some(tok) =>
        val (sl, sc) = lineCol(content, tok.pos)
        val (el, ec) = lineCol(content, tok.pos + tok.text.length)
        def at(text: String) = Some(HoverResult(text, sl, sc, el, ec))
        val name = tok.text
        val isModel = definitionSites(tokens).exists {
          case (kw, t) => kw == "model" && t.text == name
        }
        if (isModel) {
          schemaOf(content, s"from $name", spark, dir)
            .map(s => s"model $name: $s").flatMap(at)
        } else {
          // column of the pipeline prefix above the cursor?
          val (line, _) = lineCol(content, tok.pos)
          prefixSchemaFields(content, line, spark, dir) match {
            case Some(fields) if fields.exists(_._1 == name) =>
              val t = fields.find(_._1 == name).get._2
              at(s"$name: $t")
            case _ =>
              // a bare table name?
              tableSchema(name, spark, dir) match {
                case Some(s) => at(s"table $name: $s")
                case None => None
              }
          }
        }
    }
  }

  // -------------------------------------------------------------------------
  // completion
  // -------------------------------------------------------------------------

  /** Completion candidates at the cursor. After a dot, ONLY members of the
    * resolved qualifier (alias → its relation's columns, table/type name →
    * its fields; unknown qualifier, decimal literal, or dot inside a
    * string/comment → nothing). Otherwise: keywords, in-file models and
    * defs (signature as detail), stdlib function names, and the columns of
    * the enclosing pipeline prefix — filtered by the partial word before
    * the cursor. */
  def complete(
      content: String,
      offset: Int,
      spark: SparkSession,
      dir: String
  ): Seq[CompletionItem] = {
    val upto = content.take(math.max(0, math.min(offset, content.length)))
    val tokens = tokensOf(upto)
    // partial word directly before the cursor (scanner-verified: its token
    // must END at the cursor, which also rejects cursors inside strings or
    // comments where the text scan would mislead)
    val partialTok = tokens.lastOption.filter(t =>
      t.kind == TokenKind.Ident && t.pos + t.text.length == upto.length &&
        upto.nonEmpty && !upto.takeRight(1).exists(_.isWhitespace))
    val prefix = partialTok.map(_.text.toLowerCase).getOrElse("")
    // dot context: [qual, ".", partial?] at the end of the token stream
    val beforePartial =
      if (partialTok.isDefined) tokens.dropRight(1) else tokens
    val dotQualifier = beforePartial.takeRight(2) match {
      case Vector(q, d)
          if d.kind == TokenKind.Op && d.text == "." &&
            q.kind == TokenKind.Ident &&
            // the dot must directly follow the qualifier and precede the
            // cursor/partial — rejects `1.5` (DoubleLit never splits) and
            // stripped strings/comments (their dots produce no Op token)
            q.pos + q.text.length == d.pos =>
        Some(q.text)
      case _ => None
    }

    def filtered(items: Seq[CompletionItem]): Seq[CompletionItem] =
      items.filter(i => prefix.isEmpty || i.label.toLowerCase.startsWith(prefix))
        .distinct.sortBy(_.label)

    dotQualifier match {
      case Some(qual) =>
        val members = memberCandidates(content, qual, spark, dir)
        if (members.nonEmpty)
          filtered(members.map(f => CompletionItem(f._1, "column", f._2)))
        else {
          // not a relation alias / type name: when the qualifier is a COLUMN
          // of the in-scope relation, offer the stdlib dot-METHODS
          // (`l_quantity.sum`, `text.split(' ')` — the language's signature
          // call form; reference CompletionProvider's function members).
          // Unknown identifiers still complete to nothing.
          val (cursorLine, _) = lineCol(content, math.max(0, offset - 1))
          val isColumn = prefixSchemaFields(content, cursorLine, spark, dir)
            .getOrElse(Nil).exists(_._1.equalsIgnoreCase(qual))
          if (isColumn)
            filtered((Stdlib.scalarMethods.keys ++ Stdlib.aggMethods.keys).toSeq
              .map(CompletionItem(_, "function")))
          else Nil
        }
      case None =>
        val kws = keywords.toSeq.map(CompletionItem(_, "keyword"))
        val fns = (Stdlib.scalarMethods.keys ++ Stdlib.aggMethods.keys ++
          Stdlib.aggFunctionNames ++ Stdlib.windowFunctionNames).toSeq
          .map(CompletionItem(_, "function"))
        val allTokens = tokensOf(content)
        val defs = definitionSites(allTokens).flatMap {
          case ("model", t) => Some(CompletionItem(t.text, "model"))
          case ("def", t) => Some(CompletionItem(t.text, "function",
            defSignature(content, t.text).getOrElse("")))
          case ("val", t) => Some(CompletionItem(t.text, "val"))
          case ("type", t) => Some(CompletionItem(t.text, "type"))
          case _ => None
        }
        // relation position — directly after `from` or a `join` word — also
        // offers table names (reference CompletionProvider: schema-bound
        // tables complete in a from clause). Candidates come from the data
        // directory's parquet tables and the session catalog; models/defs
        // are already in `defs`.
        val tbls = beforePartial.lastOption
          .filter(t => t.text == "from" || t.text == "join")
          .map(_ => tableCandidates(spark, dir) ++ tableFunctions)
          .getOrElse(Nil)
        val (cursorLine, _) = lineCol(content, math.max(0, offset - 1))
        val cols = prefixSchemaFields(content, cursorLine, spark, dir)
          .getOrElse(Nil).map(f => CompletionItem(f._1, "column", f._2))
        filtered(kws ++ fns ++ defs ++ tbls ++ cols)
    }
  }

  /** Native table functions (plus `unnest`, which lowers through its own
    * UnnestRel node), completable in relation position. */
  private val tableFunctions: Seq[CompletionItem] =
    (TableFunctions.entries.map(_.name) :+ "unnest")
      .map(CompletionItem(_, "table_function"))

  /** Table names completable in relation position: `dir`'s parquet tables
    * plus temp views / catalog tables of the current session. Both listings
    * are driver-local metadata reads (no Spark job). */
  private def tableCandidates(spark: SparkSession, dir: String): Seq[CompletionItem] = {
    val files =
      Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
        .collect { case f if f.getName.endsWith(".parquet") =>
          f.getName.stripSuffix(".parquet") }
        .toSeq
    val catalog =
      try spark.catalog.listTables().collect().toSeq.map(_.name)
      catch { case _: Throwable => Nil }
    (files.map(CompletionItem(_, "table", "parquet")) ++
      catalog.map(CompletionItem(_, "table", "catalog")))
  }

  // -------------------------------------------------------------------------
  // schema derivation (compile-only — never executes)
  // -------------------------------------------------------------------------

  /** Schema fields (name, type) of the pipeline prefix enclosing `line`:
    * the editor-selection `subquery` slice compiled without execution.
    * The statement's own declarations ride along as context. */
  private def prefixSchemaFields(
      content: String,
      line: Int,
      spark: SparkSession,
      dir: String
  ): Option[Seq[(String, String)]] = {
    def tryAt(l: Int): Option[Seq[(String, String)]] =
      try {
        val frag = Selection.selectText(content, "subquery", l)
        val df = graft.CompileApi.compileOnly(spark, frag, dir, None)
        Some(df.schema.fields.toSeq.map(f => f.name -> f.dataType.simpleString))
      } catch { case _: Throwable => None }
    // the cursor's own line is usually mid-edit ("select l_…") — when its
    // slice doesn't compile, the pipeline ABOVE the cursor is the input
    // relation whose columns the editor wants. Selection needs the WHOLE
    // document to parse; when it doesn't (the common mid-edit state), fall
    // back to raw line-prefixes, backing up at most 8 lines.
    def tryRaw(l: Int): Option[Seq[(String, String)]] =
      try {
        val frag = content.linesIterator.take(l).mkString("\n").trim
        if (frag.isEmpty) None
        else {
          val df = graft.CompileApi.compileOnly(spark, frag, dir, None)
          Some(df.schema.fields.toSeq.map(f => f.name -> f.dataType.simpleString))
        }
      } catch { case _: Throwable => None }
    tryAt(line)
      .orElse(if (line > 1) tryAt(line - 1) else None)
      .orElse((line to math.max(1, line - 8) by -1).iterator
        .flatMap(l => tryRaw(l)).nextOption())
  }

  private def schemaOf(
      context: String,
      query: String,
      spark: SparkSession,
      dir: String
  ): Option[String] =
    try {
      // declaration statements ride along verbatim (sliced from the source
      // by their spans) so model/type/val references resolve in the probe
      val declText = try {
        val (stmts, spans) = Parser.parseStatementsWithSpans(context)
        stmts.zip(spans).collect {
          case (_: ModelDef | _: ValDef | _: FuncDef | _: TypeDefStmt |
              _: PartialDef, (a, b)) =>
            context.substring(a, b)
        }.mkString("\n;\n")
      } catch { case _: ParseException | _: ScannerException => "" }
      val full = if (declText.isEmpty) query else s"$declText\n;\n$query"
      val df = graft.CompileApi.compileOnly(spark, full, dir, None)
      Some(df.schema.fields.map(f => s"${f.name}: ${f.dataType.simpleString}")
        .mkString("(", ", ", ")"))
    } catch { case _: Throwable => None }

  private def tableSchema(
      name: String,
      spark: SparkSession,
      dir: String
  ): Option[String] =
    try {
      val df = graft.Tables.read(spark, dir, name)
      Some(df.schema.fields.map(f => s"${f.name}: ${f.dataType.simpleString}")
        .mkString("(", ", ", ")"))
    } catch { case _: Throwable => None }

  /** Member fields of a dot qualifier: an `as`-alias of a relation in the
    * document, a schema-bound `type` definition's fields, an in-file model,
    * or a raw table name. Unknown → empty. */
  private def memberCandidates(
      content: String,
      qual: String,
      spark: SparkSession,
      dir: String
  ): Seq[(String, String)] = {
    val tokens = tokensOf(content)
    // `<relation> as <qual>`: resolve the relation token directly before
    // `as` (a table name or a values/braced block we can't cheaply type —
    // table names cover the editor cases)
    val aliasTarget = tokens.sliding(3).collectFirst {
      case Vector(rel, as, a)
          if as.text == "as" && a.text == qual && rel.kind == TokenKind.Ident &&
            !keywords.contains(rel.text) =>
        rel.text
    }
    // `type <qual> = { x: long ... }` field list; the document usually ends
    // in the mid-edit dot expression itself, so retry without trailing lines
    // until a prefix parses (at most 4 back)
    def typeFields: Option[Seq[(String, String)]] = {
      val lines = content.linesIterator.toVector
      (0 to math.min(4, lines.length - 1)).iterator.flatMap { drop =>
        try {
          Parser.parseStatements(lines.dropRight(drop).mkString("\n")).collectFirst {
            case t: TypeDefStmt if t.name == qual && t.fields.nonEmpty =>
              t.fields.map { case (n, ty) => (n, ty) }
          }
        } catch { case _: ParseException | _: ScannerException => None }
      }.nextOption()
    }
    def fieldsOfQuery(q: String): Option[Seq[(String, String)]] =
      try {
        val df = graft.CompileApi.compileOnly(spark, q, dir, None)
        Some(df.schema.fields.toSeq.map(f => f.name -> f.dataType.simpleString))
      } catch { case _: Throwable => None }

    aliasTarget.flatMap(t => fieldsOfQuery(s"from $t"))
      .orElse(typeFields)
      .orElse {
        val isModel = definitionSites(tokens).exists {
          case (kw, t) => kw == "model" && t.text == qual
        }
        if (isModel)
          try {
            val (stmts, spans) = Parser.parseStatementsWithSpans(content)
            val declText = stmts.zip(spans).collect {
              case (s: ModelDef, (a, b)) => content.substring(a, b)
            }.mkString("\n;\n")
            fieldsOfQuery(s"$declText\n;\nfrom $qual")
          } catch { case _: Throwable => None }
        else fieldsOfQuery(s"from $qual")
      }
      .getOrElse(Nil)
  }

  private def defSignature(content: String, name: String): Option[String] =
    try {
      Parser.parseStatements(content).collectFirst {
        case f: FuncDef if f.name == name =>
          s"def $name(${f.params.mkString(", ")})"
      }
    } catch { case _: ParseException | _: ScannerException => None }
}
