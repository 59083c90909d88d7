package graft.lang

final class ParseException(msg: String) extends Exception(msg)

/** Recursive-descent parser for the Graft flow-style query language.
  *
  * Grammar follows the reference language's pipe-operator design (dispatcher at
  * /root/reference/wvlet-lang/.../parser/WvletParser.scala:1782-1893): a query is a
  * source relation followed by a chain of pipe operators, each starting with a
  * keyword. Keywords are context-sensitive — any keyword is also usable as a
  * column name in expression position.
  */
object Parser {

  /** Interval unit keywords accepted after a string quantity
    * (`interval '3' month`). */
  private[lang] val intervalUnits: Set[String] = Set(
    "year", "years", "quarter", "quarters", "month", "months",
    "week", "weeks", "day", "days", "hour", "hours",
    "minute", "minutes", "second", "seconds",
    "millisecond", "milliseconds", "microsecond", "microseconds")

  /** Like [[parseStatements]] but also returns each statement's source
    * char span (start, endExclusive) — the editor-selection surface. */
  def parseStatementsWithSpans(src: String): (List[Statement], List[(Int, Int)]) = {
    val p = new Parser(Scanner.tokenize(src))
    val stmts = p.parseStatements()
    (stmts, p.statementSpans.toList)
  }

  def parseStatements(src: String): List[Statement] =
    new Parser(Scanner.tokenize(src)).parseStatements()
}

final class Parser(tokens: Vector[Token]) {
  private var pos = 0
  private var paramCounter = 0 // positional `?` placeholders seen so far

  private def peek: Token = tokens(pos)
  private def peek2: Token = tokens(math.min(pos + 1, tokens.length - 1))
  private def advance(): Token = { val t = tokens(pos); if (pos < tokens.length - 1) pos += 1; t }
  private def expectOp(op: String): Unit = {
    if (!(peek.kind == TokenKind.Op && peek.text == op))
      fail(s"expected '$op'")
    advance()
  }
  private def expectKw(kw: String): Unit = {
    if (!peek.is(kw)) fail(s"expected '$kw'")
    advance()
  }
  private def accept(s: String): Boolean =
    if (peek.is(s)) { advance(); true } else false
  private def fail(msg: String): Nothing =
    throw new ParseException(s"$msg, got '${peek.text}' at offset ${peek.pos}")

  private def identName(): String = peek.kind match {
    case TokenKind.Ident | TokenKind.BackquotedIdent => advance().text
    case _ => fail("expected identifier")
  }

  // -------------------------------------------------------------------------
  // Statements
  // -------------------------------------------------------------------------
  /** Source character span of each parsed statement, parallel to
    * parseStatements()' result: (startOffset, endOffsetExclusive). The end
    * is the next unconsumed token's start, so trailing trivia up to the
    * next statement belongs to the previous span — which is exactly the
    * editor-cursor containment rule selection wants. Statements expanded
    * from one source region (a `with a as {…}, b as {…} query` unit) share
    * that region's span. */
  val statementSpans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]

  def parseStatements(): List[Statement] = {
    val out = scala.collection.mutable.ListBuffer.empty[Statement]
    while (!peek.isEOF) {
      while (accept(";")) ()
      val spanStart = peek.pos
      val emittedBefore = out.size
      // package/import declarations: parsed and ignored (single-unit compile)
      if (peek.is("package") || peek.is("import")) {
        advance()
        identName()
        while (accept(".")) {
          if (peek.is("*")) advance() else identName()
        }
        if (accept("as")) identName()
      } else if (peek.is("with") && peek2.kind == TokenKind.Ident) {
        // CTE prefix: `with n[(cols)] as { q } [, m as [values]] <query>` —
        // each binding registers like a zero-arg model; the main query follows
        advance()
        var more = true
        while (more) {
          val n = identName()
          val cols = List.newBuilder[String]
          if (accept("(")) {
            cols += identName()
            while (accept(",")) cols += identName()
            expectOp(")")
          }
          expectKw("as")
          val r =
            if (accept("{")) { val q = parseRelation(); expectOp("}"); q }
            else if (peek.is("[")) parseValues()
            else parseRelation()
          val cs = cols.result()
          val body =
            if (cs.isEmpty) r
            else r match {
              case Values(rows, _, _) => Values(rows, Some(n), cs)
              case other => AliasedRelation(other, n, cs)
            }
          out += ModelDef(n, Nil, body)
          more = accept(",")
        }
      } else if (!peek.isEOF) out += parseStatement()
      val spanEnd = peek.pos
      var k = emittedBefore
      while (k < out.size) { statementSpans += ((spanStart, spanEnd)); k += 1 }
    }
    out.toList
  }

  private def parseStatement(): Statement = {
    if (peek.is("package") && peek2.kind == TokenKind.Ident) {
      advance()
      var n = identName()
      while (accept(".")) n = n + "." + identName()
      PackageDecl(n)
    } else if (peek.is("import") && peek2.kind == TokenKind.Ident) {
      advance()
      var n = identName()
      while (accept(".")) n = n + "." + identName()
      ImportStmt(n)
    } else if (peek.is("model")) parseModelDef()
    else if (peek.is("val") && peek2.kind == TokenKind.Ident) parseValDef()
    else if (peek.is("def") && peek2.kind == TokenKind.Ident) parseDef()
    else if (peek.is("flow") && peek2.kind == TokenKind.Ident) parseFlowDef()
    else if (peek.is("delete") && peek2.is("from")) {
      advance(); advance()
      val target = stringOrIdent()
      expectKw("where")
      DeleteStmt(target, expression())
    } else if (peek.is("alter") && peek2.is("table")) {
      advance(); advance()
      val ifExists = if (accept("if")) { expectKw("exists"); true } else false
      val table = stringOrIdent()
      def typeName(): String = {
        var t = identName()
        if (accept("(")) {
          val ps = List.newBuilder[String]
          ps += advance().text
          while (accept(",")) ps += advance().text
          expectOp(")")
          t = s"$t(${ps.result().mkString(",")})"
        }
        t
      }
      val op: AlterOp =
        if (accept("rename")) {
          if (accept("column")) {
            val o = identName(); expectKw("to"); RenameColumnOp(o, identName())
          } else { expectKw("to"); RenameTableTo(identName()) }
        } else if (accept("add")) {
          expectKw("column")
          val ine = if (accept("if")) { expectKw("not"); expectKw("exists"); true } else false
          val c = identName()
          AddColumnOp(c, typeName(), ine)
        } else if (accept("drop")) {
          expectKw("column")
          val ie = if (accept("if")) { expectKw("exists"); true } else false
          DropColumnOp(identName(), ie)
        } else if (accept("alter")) {
          expectKw("column"); val c = identName()
          expectKw("set"); expectKw("data"); expectKw("type")
          SetColumnTypeOp(c, typeName())
        } else if (accept("set")) {
          expectKw("properties")
          val props = List.newBuilder[(String, String)]
          def one(): Unit = {
            val k = identName()
            if (!accept("=")) expectOp(":")
            props += ((k, advance().text))
          }
          one(); while (accept(",")) one()
          SetPropertiesOp(props.result())
        } else fail("unsupported alter table operation")
      AlterTableStmt(table, ifExists, op)
    } else if (peek.is("truncate")) {
      advance(); accept("table")
      TruncateStmt(stringOrIdent())
    } else if (peek.is("create") && (peek2.is("table") || peek2.is("or"))) {
      advance()
      val orReplace = accept("or")
      if (orReplace) expectKw("replace")
      expectKw("table")
      val name = identName()
      val parts = List.newBuilder[String]
      if (accept("partitioned") || accept("partition")) {
        expectKw("by")
        val withParen = accept("(")
        parts += identName()
        while (accept(",")) parts += identName()
        if (withParen) expectOp(")")
      }
      expectKw("as")
      val rel =
        if (accept("{")) { val r = parseRelation(); expectOp("}"); r }
        else parseRelation()
      CreateTableAs(name, rel, orReplace, parts.result())
    } else if (peek.is("use") && peek2.kind == TokenKind.Ident) {
      advance()
      if (peek.is("schema") || peek.is("connector") || peek.is("catalog")) advance()
      var n = identName()
      while (accept(".")) n = n + "." + identName()
      UseStmt(n)
    } else if (peek.is("execute") && peek2.is("sql")) {
      advance(); advance()
      if (peek.kind != TokenKind.StringLit) fail("expected sql string after 'execute sql'")
      ExecuteStmt(advance().text)
    } else if (peek.is("update") && peek2.kind != TokenKind.EOF &&
        !peek2.is("(")) {
      advance()
      val target = stringOrIdent()
      expectKw("set")
      val sets = List.newBuilder[(String, Expr)]
      def one(): Unit = { val c = identName(); expectOp("="); sets += ((c, expression())) }
      one()
      while (accept(",")) one()
      val cond = if (accept("where")) Some(expression()) else None
      UpdateStmt(target, sets.result(), cond)
    } else if (peek.is("type") && peek2.kind == TokenKind.Ident) {
      advance()
      val name = identName()
      val location =
        if (accept("in")) {
          var loc = identName()
          while (accept(".")) loc = loc + "." + identName()
          Some(loc)
        } else None
      val parent = if (accept("extends")) Some(parseTypeName()) else None
      expectOp("=")
      expectOp("{")
      val fields = List.newBuilder[(String, String)]
      val defs = List.newBuilder[(String, Expr)]
      while (!peek.is("}")) {
        if (peek.is("def")) {
          // member method: `def name[: type] = <expr>` (sql-template or
          // plain expression body, reference cdp_types.wv)
          advance()
          val dname = identName()
          if (accept(":")) parseTypeName()
          expectOp("=")
          defs += ((dname, expression()))
        } else {
          val fname = identName()
          expectOp(":")
          fields += ((fname, parseTypeName()))
        }
        accept(",")
      }
      expectOp("}")
      TypeDefStmt(name, location, fields.result(), defs.result(), parent)
    } else if (peek.is("merge") && peek2.is("into")) {
      advance(); advance()
      val target = stringOrIdent()
      expectKw("using")
      val src =
        if (accept("{")) { val r = parseRelation(); expectOp("}"); r }
        else parseRelation()
      expectKw("on")
      val keys = List.newBuilder[String]
      keys += identName()
      while (accept(",")) keys += identName()
      var matchedDelete = false
      var notMatchedInsert = false
      var sawClause = false
      while (accept("when")) {
        sawClause = true
        if (accept("matched")) {
          expectKw("then")
          if (accept("delete")) matchedDelete = true else expectKw("update")
        } else {
          expectKw("not"); expectKw("matched"); expectKw("then"); expectKw("insert")
          notMatchedInsert = true
        }
      }
      // bare `merge into … on k` (no when-clauses) defaults to full upsert
      MergeInto(target, src, keys.result(), matchedDelete,
        notMatchedInsert || !sawClause)
    } else if (peek.is("insert") && peek2.is("into")) {
      advance(); advance()
      val target = stringOrIdent()
      val rel =
        if (accept("{")) { val r = parseRelation(); expectOp("}"); r }
        else parseRelation()
      SaveTo(rel, target, append = true)
    } else if (peek.is("insert") && peek2.is("overwrite")) {
      // `insert overwrite [into] target { query }` — replace the target's
      // contents (reference: InsertOverwrite, update.scala:89-94)
      advance(); advance()
      accept("into")
      val target = stringOrIdent()
      val rel =
        if (accept("{")) { val r = parseRelation(); expectOp("}"); r }
        else parseRelation()
      SaveTo(rel, target, append = false)
    } else {
      val rel = parseRelation()
      if (accept("save")) {
        expectKw("to")
        val target = stringOrIdent()
        val parts = List.newBuilder[String]
        if (accept("partition")) {
          expectKw("by")
          parts += identName()
          while (accept(",")) parts += identName()
        }
        // `with compression: 'zstd', row_group_size: 100_000,` writer options
        val opts = List.newBuilder[(String, String)]
        if (accept("with")) {
          def one(): Unit = {
            val k = identName()
            expectOp(":")
            val v = peek.kind match {
              case TokenKind.StringLit | TokenKind.LongLit | TokenKind.DoubleLit =>
                advance().text
              case _ if peek.is("[") =>
                // array option value (reference td-trino/create-table-with.wv:
                // `bucketed_on: ['id']`) — serialized as a comma-joined list
                advance()
                val items = List.newBuilder[String]
                if (!peek.is("]")) {
                  items += advance().text
                  while (accept(",")) if (!peek.is("]")) items += advance().text
                }
                expectOp("]")
                items.result().mkString(",")
              case _ => fail("expected save option value")
            }
            opts += ((k, v))
          }
          one()
          // tolerate a trailing comma before the next statement
          while (accept(",") && peek.kind == TokenKind.Ident && peek2.is(":")) one()
        }
        SaveTo(rel, target, append = false, parts.result(), opts.result())
      } else if (accept("append")) { expectKw("to"); SaveTo(rel, stringOrIdent(), append = true) }
      else QueryStatement(rel)
    }
  }

  private def stringOrIdent(): String = peek.kind match {
    case TokenKind.StringLit => advance().text
    case _ =>
      var n = identName()
      while (accept(".")) n = n + "." + identName()
      n
  }

  private def parseModelDef(): Statement = {
    // a `--- … ---` block right before `model` is the model's doc
    val doc = peek.doc
    expectKw("model")
    val name = identName()
    val params = List.newBuilder[(String, Option[Expr])]
    val sig = List.newBuilder[String]
    if (accept("(")) {
      var more = !peek.is(")")
      while (more) {
        val pname = identName()
        // `: type` annotation: kept only for the rendered signature
        // (schemas resolve at lowering); parseTypeName handles
        // parameterized types (decimal(10,2)) like val/def/flow params do
        val ptype = if (accept(":")) Some(parseTypeName()) else None
        val default = if (accept("=")) Some(expression()) else None
        params += ((pname, default))
        sig += (pname + ptype.map(":" + _).getOrElse(""))
        more = accept(",")
      }
      expectOp(")")
    }
    // optional schema-type annotation: `model weblogs: td_sdk_log = {…}` —
    // parsed and ignored (schemas resolve from the data at lowering)
    if (accept(":")) parseTypeName()
    expectOp("=")
    val body =
      if (accept("{")) { val r = parseRelation(); expectOp("}"); r }
      else parseRelation()
    ModelDef(name, params.result(), body, paramSig = sig.result().mkString(", "), doc = doc)
  }

  private def parseValDef(): Statement = {
    expectKw("val")
    val name = identName()
    if (accept("(")) {
      // table value constant: val t(c1[: type], c2) = [[…], …]
      val cols = List.newBuilder[String]
      def col(): Unit = {
        cols += identName()
        if (accept(":")) parseTypeName() // annotation parsed, types inferred
      }
      col()
      while (accept(",")) col()
      expectOp(")")
      expectOp("=")
      val rows = parseValues() match {
        case Values(r, _, _) => r
        case _ => fail("expected row values after table-value val")
      }
      ModelDef(name, Nil, Values(rows, Some(name), cols.result()))
    } else {
      expectOp("=")
      ValDef(name, expression())
    }
  }

  /** `flow Name(params) = { stage n [with {...}] [if gate] = body ... }` */
  private def parseFlowDef(): Statement = {
    expectKw("flow")
    val name = identName()
    val params = List.newBuilder[(String, Option[Expr])]
    if (accept("(")) {
      var more = !peek.is(")")
      while (more) {
        val pname = identName()
        if (accept(":")) parseTypeName()
        val default = if (accept("=")) Some(expression()) else None
        params += ((pname, default))
        more = accept(",")
      }
      expectOp(")")
    }
    // flow-level schedule/trigger metadata (declarative)
    val config = List.newBuilder[(String, Expr)]
    if (accept("with")) {
      expectOp("{")
      while (!peek.is("}")) {
        val key = identName()
        expectOp(":")
        config += ((key, expression()))
        accept(",")
      }
      expectOp("}")
    }
    var dependsOnFlow: Option[String] = None
    if (accept("depends")) { expectKw("on"); dependsOnFlow = Some(identName()) }
    var flowGate: Option[(String, String)] = None
    if (accept("if")) {
      val f = identName(); expectOp("."); flowGate = Some((f, identName().toLowerCase))
    }
    expectOp("=")
    expectOp("{")
    val stages = List.newBuilder[StageSpec]
    while (accept("stage")) {
      val sname = identName()
      var retries = 0
      var retryDelayMs = 50L
      var timeoutMs: Option[Long] = None
      var heartbeatMs: Option[Long] = None
      if (accept("with")) {
        expectOp("{")
        while (!peek.is("}")) {
          val key = identName()
          expectOp(":")
          key.toLowerCase match {
            case "retries" => retries = advance().text.toInt
            case "retry_delay" => retryDelayMs = parseDurationMs()
            case "timeout" => timeoutMs = Some(parseDurationMs())
            case "heartbeat" => heartbeatMs = Some(parseDurationMs())
            case _ => // unknown config (backoff, poll_interval…):
              // value (number [unit] | string | expr) parsed, ignored
              if (peek.kind == TokenKind.LongLit || peek.kind == TokenKind.DoubleLit) {
                advance()
                if (peek.kind == TokenKind.Ident && !peek2.is(":")) advance() // unit
              } else if (peek.kind == TokenKind.StringLit) advance()
              else { expression(); () }
          }
          accept(",")
        }
        expectOp("}")
      }
      val gate: Option[GateExpr] = if (accept("if")) Some(parseGateExpr()) else None
      expectOp("=")
      val body: Either[List[String], Relation] =
        if (peek.is("merge") && peek2.kind == TokenKind.Ident && !peek2.is("into")) {
          advance()
          val names = List.newBuilder[String]
          names += identName()
          while (accept(",")) names += identName()
          Left(names.result())
        } else Right(parseRelation())
      stages += StageSpec(sname, body, retries, retryDelayMs, gate,
        timeoutMs, heartbeatMs)
    }
    expectOp("}")
    FlowDefStmt(name, params.result(), stages.result(),
      config.result(), dependsOnFlow, flowGate)
  }

  /** Gate condition grammar: or < and < atom | (expr). */
  private def parseGateExpr(): GateExpr = {
    var e = parseGateAnd()
    while (accept("or")) e = GateOr(e, parseGateAnd())
    e
  }
  private def parseGateAnd(): GateExpr = {
    var e = parseGateAtom()
    while (accept("and")) e = GateAnd(e, parseGateAtom())
    e
  }
  private def parseGateAtom(): GateExpr =
    if (accept("(")) { val e = parseGateExpr(); expectOp(")"); e }
    else {
      val st = identName()
      expectOp(".")
      val state = identName().toLowerCase
      if (!Set("failed", "done", "success").contains(state))
        fail(s"unknown stage state '$state' (failed|done|success)")
      GateAtom(st, state)
    }

  /** `10ms` / `2s` / `'7 days'` → milliseconds. */
  private def parseDurationMs(): Long = {
    if (peek.kind == TokenKind.StringLit) {
      val parts = advance().text.trim.split("\\s+")
      val v = parts(0).toLong
      v * unitMs(if (parts.length > 1) parts(1) else "ms")
    } else {
      val v = advance().text.toLong
      val unit = if (peek.kind == TokenKind.Ident) advance().text else "ms"
      v * unitMs(unit)
    }
  }

  private def unitMs(u0: String): Long = {
    val u = u0.toLowerCase
    if (u == "ms" || u.startsWith("milli")) 1L
    else u.stripSuffix("s") match {
      case "" | "sec" | "second" => 1000L
      case "m" | "min" | "minute" => 60000L
      case "h" | "hr" | "hour" => 3600000L
      case "d" | "day" => 86400000L
      case _ => 1L
    }
  }

  /** Pipe-operator keywords that begin a partial-query body (vs a scalar
    * expression body) after `def name =`. */
  private val pipeOpKeywords = Set(
    "where", "select", "group", "agg", "order", "limit", "offset", "count",
    "dedup", "distinct", "sample", "add", "prepend", "transform", "exclude",
    "rename", "shift", "join", "inner", "left", "right", "full", "cross",
    "asof", "concat", "union", "intersect", "except", "pivot", "unpivot",
    "unnest", "describe", "test", "debug")

  /** `def f(x, y) = expr` (scalar, inlined), `def f[(params)] = where …`
    * (partial query over the piped-in relation), or
    * `def f(a: t) in <engine>: t = native` (engine-native function —
    * resolves through the engine's own registry, i.e. Spark's). */
  private def parseDef(): Statement = {
    expectKw("def")
    val name = identName()
    val params = List.newBuilder[String]
    var hasParens = false
    if (accept("(")) {
      hasParens = true
      if (!peek.is(")")) {
        def param(): Unit = {
          params += identName()
          if (accept(":")) parseTypeName() // annotation parsed and ignored
        }
        param()
        while (accept(",")) param()
      }
      expectOp(")")
    }
    val native = accept("in") && { identName(); true } // engine qualifier
    if (accept(":")) parseTypeName() // return-type annotation
    expectOp("=")
    if (native || peek.is("native")) {
      // `= native`: no inline body — calls fall through to the engine's own
      // function registry (Spark's), which is exactly call_function
      if (peek.is("native")) advance()
      return FuncDef(s"__native_$name", params.result(), NullLit())
    }
    val startsPipe = peek.kind == TokenKind.Ident &&
      pipeOpKeywords.contains(peek.text.toLowerCase) &&
      !(peek.is("count") && peek2.is("(")) // count(x) is an expression
    if (startsPipe) {
      var body: Relation = PipeInput
      var continue = true
      while (continue) {
        if (peek.kind == TokenKind.Op && peek.text == "|") advance()
        parsePipeOp(body) match {
          case Some(r) => body = r
          case None => continue = false
        }
      }
      PartialDef(name, params.result(), body)
    } else if (hasParens) FuncDef(name, params.result(), expression())
    else FuncDef(name, Nil, expression())
  }

  // -------------------------------------------------------------------------
  // Relations: source + pipe-operator chain
  // -------------------------------------------------------------------------
  def parseRelation(): Relation = {
    var rel = parseSource()
    var continue = true
    while (continue) {
      // optional leading `|` pipe
      if (peek.kind == TokenKind.Op && peek.text == "|") advance()
      rel = parsePipeOp(rel) match {
        case Some(r) => r
        case None => continue = false; rel
      }
    }
    rel
  }

  /** A source relation: `from ...`, `select ...` (front-select), `{ query }`. */
  private def parseSource(): Relation = {
    if (accept("from")) {
      var rel = parseFromItem()
      // implicit join: `from a, b`
      while (accept(",")) {
        val right = parseFromItem()
        rel = Join(rel, right, JoinKind.Cross, None, Nil, asof = false)
      }
      rel
    } else if (peek.is("select")) {
      // select without from: select over a single-row relation
      parseSelectOp(EmptyRelation)
    } else if (peek.is("{")) {
      advance()
      val r = parseRelation()
      expectOp("}")
      maybeAlias(BracedRelation(r))
    } else if (peek.is("call") && peek2.kind == TokenKind.Ident) {
      // `call connector.tool(name: value, …)` — 1-row invocation summary,
      // composable with pipe operators (reference WvletParser
      // callToolStatement)
      advance()
      val connector = identName()
      if (!accept(".")) fail("expected '.' after call connector name")
      val tool = identName()
      expectOp("(")
      val args = List.newBuilder[(String, Expr)]
      if (!peek.is(")")) {
        def one(): Unit = {
          val n = identName()
          if (!accept("=")) expectOp(":")
          args += ((n, expression()))
        }
        one()
        while (accept(",")) one()
      }
      expectOp(")")
      CallToolRel(connector, tool, args.result())
    } else if (peek.is("describe")) {
      advance()
      DescribeRel(parseFromItem())
    } else if (peek.is("explain")) {
      advance()
      val inner =
        if (peek.is("sql") && peek2.kind == TokenKind.StringLit) {
          advance(); RawSql(advance().text)
        } else if (peek.is("{")) {
          // braced child binds tightly: `explain { … } select …` pipes the
          // plan-text RELATION onward (the `plan` column is selectable),
          // whereas the unbraced form consumes the whole trailing pipeline
          advance(); val r = parseRelation(); expectOp("}"); BracedRelation(r)
        } else parseRelation()
      ExplainRel(inner)
    } else if (peek.is("run") && peek2.is("flow")) {
      advance(); advance()
      val name = identName()
      val args = List.newBuilder[(Option[String], Expr)]
      if (accept("(")) {
        var more = !peek.is(")")
        while (more) {
          // named (`p = v`) or positional argument
          if (peek.kind == TokenKind.Ident && peek2.kind == TokenKind.Op &&
            peek2.text == "=") {
            val pname = identName(); advance()
            args += ((Some(pname), expression()))
          } else args += ((None, expression()))
          more = accept(",")
        }
        expectOp(")")
      }
      RunFlow(name, args.result())
    } else if (peek.is("show")) {
      advance()
      val what = identName().toLowerCase
      // handled by lowering as catalog queries (reference: 18 Show variants,
      // relation.scala:1207-1296; info-schema synthesis SG:718-1080)
      def likeSuffix(): String =
        if (accept("like")) {
          if (peek.kind != TokenKind.StringLit) fail("expected like pattern string")
          s"?like=${advance().text}"
        } else ""
      what match {
        case "columns" =>
          if (!accept("from")) expectKw("in")
          var t = identName()
          while (accept(".")) t = t + "." + identName()
          TableRef(s"__show_columns:$t")
        case "create" =>
          // show create view <name> / show create table <name>
          if (!accept("view")) expectKw("table")
          var t = identName()
          while (accept(".")) t = t + "." + identName()
          TableRef(s"__show_create:$t")
        case "tables" if peek.is("in") || peek.is("from") =>
          advance()
          var s = identName()
          while (accept(".")) s = s + "." + identName()
          TableRef(s"__show_tables:$s" + likeSuffix())
        case "query" =>
          TableRef(s"__show_query:${identName()}")
        case other => TableRef(s"__show_$other" + likeSuffix())
      }
    } else fail("expected 'from', 'select' or '{'")
  }

  private def parseFromItem(): Relation = {
    val rel: Relation = peek.kind match {
      case TokenKind.StringLit => FileScan(advance().text)
      case TokenKind.Op if peek.text == "[" => parseValues()
      case TokenKind.Op if peek.text == "{" =>
        advance(); val r = parseRelation(); expectOp("}"); BracedRelation(r)
      case TokenKind.Ident if peek.is("sql") && peek2.kind == TokenKind.StringLit =>
        advance(); RawSql(advance().text)
      case TokenKind.Ident if peek.is("s") && peek2.kind == TokenKind.BackquotedIdent =>
        // from s`name_${i}` — interpolated table identifier
        advance()
        parseInterpolation(advance().text) match {
          case it: Interpolation => TableRefDyn(it)
          case _ => fail("expected interpolated identifier")
        }
      case TokenKind.Ident if peek.is("json") && peek2.kind == TokenKind.StringLit =>
        advance(); RawJson(advance().text)
      case TokenKind.Ident if peek.is("unnest") && peek2.is("(") =>
        advance(); expectOp("(")
        val e = expression()
        expectOp(")")
        val withOrd = if (accept("with")) { expectKw("ordinality"); true } else false
        UnnestRel(e, None, Nil, withOrd)
      case TokenKind.Ident | TokenKind.BackquotedIdent =>
        var name = advance().text
        if (peek.kind == TokenKind.Op && peek.text == "(" && !name.contains(".")) {
          // parameterized model invocation: from m(arg, ...)
          advance()
          val args = List.newBuilder[Expr]
          if (!peek.is(")")) {
            args += expression()
            while (accept(",")) args += expression()
          }
          expectOp(")")
          ModelRef(name, args.result())
        } else {
          var sub: Relation = null
          while (sub == null && accept(".")) {
            val seg = identName()
            // `tbl.subscribe(watermark_column = 'c', window_size = '1h')`
            if (seg.equalsIgnoreCase("subscribe") && peek.is("("))
              sub = parseSubscribe(TableRef(name))
            else name = name + "." + seg
          }
          if (sub != null) sub else TableRef(name)
        }
      case _ => fail("expected table, file path, values, or subquery")
    }
    maybeAlias(rel)
  }

  /** `(name = 'value', …)` / `(name: 'value', …)` subscription parameters
    * (reference: SubscribeParam, relation.scala:1140). */
  private def parseSubscribe(child: Relation): Relation = {
    expectOp("(")
    val params = List.newBuilder[(String, String)]
    if (!peek.is(")")) {
      def one(): Unit = {
        val pname = identName()
        if (!accept("=")) expectOp(":")
        if (accept("[")) {
          // list-valued parameter, e.g. dedup_keys: ['fp', 'url'] —
          // recorded comma-joined (subscription metadata stays string→string)
          val vs = List.newBuilder[String]
          def oneVal(): Unit = {
            if (peek.kind != TokenKind.StringLit)
              fail("expected string in subscribe list parameter")
            vs += advance().text
          }
          if (!peek.is("]")) { oneVal(); while (accept(",")) oneVal() }
          expectOp("]")
          params += ((pname.toLowerCase, vs.result().mkString(",")))
        } else {
          if (peek.kind != TokenKind.StringLit) fail("expected string subscribe parameter value")
          params += ((pname.toLowerCase, advance().text))
        }
      }
      one()
      while (accept(",")) one()
    }
    expectOp(")")
    SubscribeRel(child, params.result())
  }

  private def maybeAlias(rel: Relation): Relation = {
    if (accept("as")) {
      val alias = identName()
      val cols =
        if (accept("(")) {
          val cs = List.newBuilder[String]
          cs += identName()
          while (accept(",")) cs += identName()
          expectOp(")")
          cs.result()
        } else Nil
      rel match {
        case UnnestRel(e, _, _, ord) => UnnestRel(e, Some(alias), cols, ord)
        case Values(rows, _, _) => Values(rows, Some(alias), cols)
        case other => AliasedRelation(other, alias, cols)
      }
    } else rel
  }

  private def parseValues(): Relation = {
    expectOp("[")
    val rows = List.newBuilder[List[Expr]]
    if (!peek.is("]")) {
      var more = true
      while (more) {
        if (peek.is("[")) {
          advance()
          val row = List.newBuilder[Expr]
          if (!peek.is("]")) {
            row += expression()
            while (accept(",") && !peek.is("]")) row += expression()
          }
          expectOp("]")
          rows += row.result()
        } else {
          // single-column values: from [1, 2, 3]
          rows += List(expression())
        }
        more = accept(",")
        if (peek.is("]")) more = false
      }
    }
    expectOp("]")
    Values(rows.result(), None, Nil)
  }

  /** Dispatch one pipe operator; None = end of chain. */
  private def parsePipeOp(rel: Relation): Option[Relation] = {
    val t = peek
    if (t.kind == TokenKind.Op && t.text == "->") {
      // `| -> OtherFlow` jump marker (declarative orchestration)
      advance()
      return Some(OrchOp(rel, "jump", List(StringLit(identName()))))
    }
    if (t.kind != TokenKind.Ident) return None
    t.text.toLowerCase match {
      case "where" => advance(); Some(Filter(rel, expression()))
      case "delete" if !(peek2.is("from") && !peek2.bol) =>
        // terminal delete: `from t [where c] delete` — with one
        // disambiguation: `delete from T …` on ONE line is a new
        // DeleteStmt (consuming it as a terminal pipe deleted from the
        // wrong table), while `delete` followed by `from` on the NEXT
        // line is the corpus' terminal-delete-then-new-query shape
        // (spec/basic/delete.wv)
        advance(); Some(DeleteRel(rel))
      case "select" => Some(parseSelectOp(rel))
      case "group" =>
        advance(); expectKw("by")
        if (peek.is("grouping") && peek2.is("sets")) {
          advance(); advance()
          expectOp("(")
          def oneSet(): List[Expr] = {
            expectOp("(")
            val es = List.newBuilder[Expr]
            if (!peek.is(")")) {
              es += expression()
              while (accept(",")) es += expression()
            }
            expectOp(")")
            es.result()
          }
          val sets = List.newBuilder[List[Expr]]
          sets += oneSet()
          while (accept(",")) sets += oneSet()
          expectOp(")")
          val allSets = sets.result()
          // grouping keys = union of set members, in order of first appearance
          val keys = allSets.flatten.distinct.map(e => SelectItem(e, None))
          Some(GroupByStyled(rel, keys, GroupingStyle.Sets(allSets)))
        } else {
          val style =
            if (accept("rollup")) GroupingStyle.Rollup
            else if (accept("cube")) GroupingStyle.Cube
            else GroupingStyle.Plain
          val keys = parseSelectItems()
          Some(
            if (style == GroupingStyle.Plain) GroupBy(rel, keys)
            else GroupByStyled(rel, keys, style)
          )
        }
      case "agg" => advance(); Some(Agg(rel, parseSelectItems()))
      case "order" =>
        advance(); expectKw("by"); Some(Sort(rel, parseSortItems()))
      case "limit" =>
        advance()
        Some(Limit(rel, advance().text.toLong))
      case "offset" =>
        advance()
        Some(Offset(rel, advance().text.toLong))
      case "count" => advance(); Some(CountRel(rel))
      case "dedup" => advance(); Some(DedupRel(rel))
      case "distinct" => advance(); Some(Project(rel, List(SelectItem(Star(None), None)), distinct = true))
      case "sample" => advance(); Some(parseSample(rel))
      case "add" => advance(); Some(AddColumns(rel, parseSelectItems(), prepend = false))
      case "prepend" => advance(); Some(AddColumns(rel, parseSelectItems(), prepend = true))
      case "transform" => advance(); Some(TransformColumns(rel, parseSelectItems()))
      case "exclude" =>
        advance()
        val cols = List.newBuilder[String]
        cols += identName()
        while (accept(",")) cols += identName()
        Some(ExcludeColumns(rel, cols.result()))
      case "rename" =>
        advance()
        val renames = List.newBuilder[(String, String)]
        var more = true
        while (more) {
          val from = identName()
          expectKw("as")
          renames += ((from, identName()))
          more = accept(",")
        }
        Some(RenameColumns(rel, renames.result()))
      case "shift" =>
        advance()
        var toLeft = true
        if (accept("to")) {
          if (accept("right")) toLeft = false else expectKw("left")
        }
        val cols = List.newBuilder[String]
        cols += identName()
        while (accept(",")) cols += identName()
        Some(ShiftColumns(rel, cols.result(), toLeft))
      case "join" | "inner" | "left" | "right" | "full" | "cross" | "asof" | "natural" =>
        Some(parseJoin(rel))
      case "concat" =>
        advance()
        Some(SetOp(SetOpKind.Concat, rel, parseSetOperand(), distinct = false))
      case "union" =>
        advance()
        val all = accept("all")
        Some(SetOp(if (all) SetOpKind.Concat else SetOpKind.Union, rel, parseSetOperand(), !all))
      case "intersect" =>
        advance()
        val all = accept("all")
        Some(SetOp(SetOpKind.Intersect, rel, parseSetOperand(), !all))
      case "except" =>
        advance()
        val all = accept("all")
        Some(SetOp(SetOpKind.Except, rel, parseSetOperand(), !all))
      case "pivot" =>
        advance(); expectKw("on")
        val col = identName()
        val values =
          if (accept("in")) {
            expectOp("(")
            val vs = List.newBuilder[Expr]
            vs += expression()
            while (accept(",")) vs += expression()
            expectOp(")")
            vs.result()
          } else Nil
        val agg =
          if (accept("using")) Some(parseSelectItem())
          else None
        Some(Pivot(rel, col, values, agg))
      case "unpivot" =>
        advance()
        val valueCol = if (peek.is("for")) "value" else identName()
        expectKw("for")
        val varCol = identName()
        expectKw("in")
        expectOp("(")
        val cols = List.newBuilder[String]
        cols += identName()
        while (accept(",")) cols += identName()
        expectOp(")")
        Some(Unpivot(rel, valueCol, varCol, cols.result()))
      case "unnest" =>
        // lateral unnest: from t unnest(arr) as u(x)
        advance(); expectOp("(")
        val e = expression()
        expectOp(")")
        var alias: Option[String] = None
        var cols: List[String] = Nil
        if (accept("as")) {
          alias = Some(identName())
          if (accept("(")) {
            val cs = List.newBuilder[String]
            cs += identName()
            while (accept(",")) cs += identName()
            expectOp(")")
            cols = cs.result()
          }
        }
        Some(LateralUnnest(rel, e, alias, cols, withOrdinality = false))
      case "fork" if peek2.is("{") =>
        // parallel side branches (declarative; execution = reference parity)
        advance(); advance()
        val branches = List.newBuilder[(String, Relation)]
        while (accept("stage")) {
          val n = identName()
          expectOp("=")
          branches += ((n, parseRelation()))
        }
        expectOp("}")
        Some(ForkRel(rel, branches.result()))
      case "route" =>
        advance()
        val by = if (accept("by")) Some(expression()) else None
        expectOp("{")
        val cases = List.newBuilder[(Option[Expr], String)]
        var going = true
        while (going) {
          if (accept("case")) {
            val cond = expression()
            expectOp("->")
            cases += ((Some(cond), identName()))
          } else if (accept("else")) {
            expectOp("->")
            cases += ((None, identName()))
          } else going = false
        }
        expectOp("}")
        Some(RouteRel(rel, cases.result(), by))
      case "wait" if peek2.is("until") =>
        // `wait until <cond> [for '<timeout>']` — orchestration poll
        advance(); advance()
        val cond = expression()
        val timeout =
          if (accept("for")) List(expression()) else Nil
        Some(OrchOp(rel, "wait_until", cond :: timeout))
      case "wait" | "activate" if peek2.is("(") =>
        val kind = advance().text.toLowerCase
        advance()
        val args = List.newBuilder[Expr]
        if (!peek.is(")")) {
          def arg(): Unit = {
            // named arg (template: 'x') — name kept only for display
            if (peek.kind == TokenKind.Ident && peek2.kind == TokenKind.Op && peek2.text == ":") {
              advance(); advance()
            }
            args += expression()
          }
          arg()
          while (accept(",")) arg()
        }
        expectOp(")")
        Some(OrchOp(rel, kind, args.result()))
      case "end" if peek2.is("(") =>
        advance(); advance(); expectOp(")")
        Some(OrchOp(rel, "end", Nil))
      case "describe" => advance(); Some(DescribeRel(rel))
      case "test" =>
        advance()
        Some(TestRel(rel, parseTestAssertion()))
      case "debug" =>
        advance()
        // debug { <pipe ops> } — the body chain applies to the incoming
        // relation and is executed as a side task; main flow passes through
        if (accept("{")) {
          var body = rel
          var continue = true
          while (continue && !peek.is("}") && !peek.isEOF) {
            if (peek.kind == TokenKind.Op && peek.text == "|") advance()
            parsePipeOp(body) match {
              case Some(r2) => body = r2
              case None => continue = false
            }
          }
          // a debug branch may end in its own sink (reference debug-save.wv)
          if (accept("save")) { expectKw("to"); body = SaveRel(body, stringOrIdent(), append = false) }
          else if (accept("append")) { expectKw("to"); body = SaveRel(body, stringOrIdent(), append = true) }
          expectOp("}")
          Some(DebugRel(rel, body))
        } else Some(DebugRel(rel, rel))
      // statement starters / post-relation keywords end the pipe chain
      case "save" | "append" | "model" | "val" | "def" | "from" | "show"
          | "delete" | "truncate" | "insert" | "create" | "merge" | "alter"
          | "flow" | "stage" | "run" | "update" | "type" | "execute"
          | "explain" | "package" | "import" | "use" | "with" => None
      case _ =>
        // any other bare identifier in pipe position applies a partial-query
        // def (`from t | active` / `| older_than(20)`); resolution at lowering
        advance()
        val args = List.newBuilder[Expr]
        if (accept("(")) {
          if (!peek.is(")")) {
            args += expression()
            while (accept(",")) args += expression()
          }
          expectOp(")")
        }
        Some(PartialApply(rel, t.text, args.result()))
    }
  }

  private def parseSetOperand(): Relation = {
    if (peek.is("{")) {
      advance(); val r = parseRelation(); expectOp("}"); r
    } else if (peek.is("from") || peek.is("select")) parseRelation()
    else fail("expected '{' or 'from' after set operator")
  }

  private def parseSelectOp(rel: Relation): Relation = {
    expectKw("select")
    if (accept("distinct")) Project(rel, parseSelectItems(), distinct = true)
    else if (accept("as")) {
      if (peek.is("s") && peek2.kind == TokenKind.BackquotedIdent) {
        advance()
        parseInterpolation(advance().text) match {
          case it: Interpolation => SelectAsNamedDyn(rel, it)
          case _ => fail("expected interpolated identifier")
        }
      } else SelectAsNamed(rel, identName())
    }
    else if (peek.is("*") && (peek2.is("exclude"))) {
      advance(); advance()
      val withParen = accept("(")
      val cols = List.newBuilder[String]
      cols += identName()
      while (accept(",")) cols += identName()
      if (withParen) expectOp(")")
      ExcludeColumns(rel, cols.result())
    } else Project(rel, parseSelectItems(), distinct = false)
  }

  /** Keywords that cannot start a select item — a comma before one of these
    * is a trailing comma (allowed, reference WP trailing-comma handling). */
  private val selectItemStoppers: Set[String] = pipeOpKeywords ++ Set(
    "test", "save", "append", "from", "model", "val", "def", "flow", "show",
    "run", "delete", "truncate", "insert", "create", "merge", "update", "alter",
    "type", "execute", "stage")

  private def parseSelectItems(): List[SelectItem] = {
    val items = List.newBuilder[SelectItem]
    items += parseSelectItem()
    while (accept(",")) {
      if (peek.kind == TokenKind.Op && peek.text == "|") { /* trailing comma */ }
      else if (peek.isEOF || peek.is("}") || peek.is(")") ||
        (peek.kind == TokenKind.Ident && selectItemStoppers.contains(peek.text.toLowerCase) &&
          !peek2.is("("))) // `count(x)` etc. is still an item
        { /* trailing comma */ }
      else items += parseSelectItem()
    }
    items.result()
  }

  private def parseSelectItem(): SelectItem = {
    // `name = expr` binding form
    if ((peek.kind == TokenKind.Ident || peek.kind == TokenKind.BackquotedIdent) &&
      peek2.kind == TokenKind.Op && peek2.text == "=" &&
      !(tokens.lift(pos + 2).exists(t => t.kind == TokenKind.Op && t.text == "="))) {
      val name = advance().text
      advance() // =
      SelectItem(expression(), Some(name))
    } else {
      val e = expression()
      if (accept("as")) SelectItem(e, Some(identName()))
      else SelectItem(e, None)
    }
  }

  private def parseSortItems(): List[SortItem] = {
    val items = List.newBuilder[SortItem]
    items += parseSortItem()
    while (accept(",")) items += parseSortItem()
    items.result()
  }

  private def parseSortItem(): SortItem = {
    val e = expression()
    val desc = if (accept("desc")) true else { accept("asc"); false }
    val nulls =
      if (accept("nulls")) {
        if (accept("first")) Some(true)
        else { expectKw("last"); Some(false) }
      } else None
    SortItem(e, desc, nulls)
  }

  private def parseSample(rel: Relation): Relation = {
    // sample 10 | sample 50% | sample reservoir(2) | sample reservoir(50%) |
    // sample system(50%) | sample bernoulli(50%)
    def sizeAndPercent(): (Double, Boolean) = {
      val v = advance().text.toDouble
      val pct = accept("%")
      (v, pct)
    }
    if (peek.kind == TokenKind.LongLit || peek.kind == TokenKind.DoubleLit) {
      val (v, pct) = sizeAndPercent()
      SampleRel(rel, None, pct, v)
    } else {
      val method = identName().toLowerCase
      expectOp("(")
      val (v, pct) = sizeAndPercent()
      expectOp(")")
      SampleRel(rel, Some(method), pct, v)
    }
  }

  private def parseJoin(rel: Relation): Relation = {
    var asof = false
    var natural = false
    var kind: JoinKind = JoinKind.Inner
    if (accept("asof")) asof = true
    if (accept("natural")) natural = true
    if (accept("inner")) kind = JoinKind.Inner
    else if (accept("left")) { accept("outer"); kind = JoinKind.Left }
    else if (accept("right")) { accept("outer"); kind = JoinKind.Right }
    else if (accept("full")) { accept("outer"); kind = JoinKind.Full }
    else if (accept("cross")) kind = JoinKind.Cross
    if (!accept("join")) fail("expected 'join'")
    // correlated lateral subquery: [cross|inner|left] join lateral { ... }
    if (accept("lateral")) {
      val sub =
        if (accept("{")) { val r = parseRelation(); expectOp("}"); r }
        else fail("expected '{' after 'lateral'")
      val k = if (kind == JoinKind.Cross) JoinKind.Inner else kind
      var on: Option[Expr] = None
      if (accept("on")) on = Some(expression())
      return Join(rel, sub, k, on, Nil, asof = false, natural = false, lateral = true)
    }
    // lateral unnest via cross join unnest(...)
    if (kind == JoinKind.Cross && peek.is("unnest") && peek2.is("(")) {
      advance(); expectOp("(")
      val e = expression()
      expectOp(")")
      val withOrd = if (accept("with")) { expectKw("ordinality"); true } else false
      var alias: Option[String] = None
      var cols: List[String] = Nil
      if (accept("as")) {
        alias = Some(identName())
        if (accept("(")) {
          val cs = List.newBuilder[String]
          cs += identName()
          while (accept(",")) cs += identName()
          expectOp(")")
          cols = cs.result()
        }
      }
      return LateralUnnest(rel, e, alias, cols, withOrdinality = withOrd)
    }
    val right = parseFromItem()
    var on: Option[Expr] = None
    var using: List[String] = Nil
    if (accept("on")) {
      expression() match {
        // `on id` / `on k1, k2…` single-identifier shorthand = USING
        case Ident(n) =>
          val cols = List.newBuilder[String]
          cols += n
          while (accept(",")) cols += identName()
          using = cols.result()
        case cond => on = Some(cond)
      }
    }
    else if (accept("using")) {
      val withParen = accept("(")
      val cols = List.newBuilder[String]
      cols += identName()
      while (accept(",")) cols += identName()
      if (withParen) expectOp(")")
      using = cols.result()
    }
    if (kind == JoinKind.Cross) {
      // `cross join b on c` carries a condition — treat as an inner join
      // (the SQL generator renders it as JOIN … ON too); silently dropping
      // the condition produced an unfiltered |a|×|b| product
      if (on.isDefined || using.nonEmpty)
        Join(rel, right, JoinKind.Inner, on, using, asof, natural)
      else Join(rel, right, kind, None, Nil, asof = false)
    } else Join(rel, right, kind, on, using, asof, natural)
  }

  private def parseTestAssertion(): Expr = {
    // test <expr> should [not] be|contain <expr>
    // test <boolean-expr>            (e.g. `test _.size = 3`, `test 1 < 2`)
    val target = expression()
    if (accept("should")) {
      val negated = accept("not")
      val op =
        if (accept("be")) "be"
        else if (accept("contain")) "contain"
        else fail("expected 'be' or 'contain' in test assertion")
      val expected = expression()
      FunctionCall(s"__should_${if (negated) "not_" else ""}$op", List(target, expected))
    } else target match {
      case BinaryOp("=", l, r) => FunctionCall("__should_be", List(l, r))
      case BinaryOp("!=" | "<>", l, r) => FunctionCall("__should_not_be", List(l, r))
      case e @ (BinaryOp(_, _, _) | Not(_) | IsNull(_, _)) =>
        FunctionCall("__assert", List(e))
      case _ => fail("expected 'should', a comparison, or '=' in test assertion")
    }
  }

  // -------------------------------------------------------------------------
  // Expressions (precedence climbing)
  // -------------------------------------------------------------------------
  def expression(): Expr = orExpr()

  private def orExpr(): Expr = {
    var e = andExpr()
    while (peek.is("or")) { advance(); e = BinaryOp("or", e, andExpr()) }
    e
  }

  private def andExpr(): Expr = {
    var e = notExpr()
    while (peek.is("and")) { advance(); e = BinaryOp("and", e, notExpr()) }
    e
  }

  private def notExpr(): Expr =
    if (accept("not")) Not(notExpr()) else comparison()

  private def comparison(): Expr = {
    var e = additive()
    var continue = true
    while (continue) {
      if (peek.kind == TokenKind.Op && Set("=", "==", "!=", "<>", "<", "<=", ">", ">=", "<=>")(peek.text)) {
        val op = advance().text
        e = BinaryOp(if (op == "==") "=" else op, e, additive())
      } else if (peek.is("is")) {
        advance()
        val negated = accept("not")
        if (accept("null")) e = IsNull(e, negated)
        else if (accept("distinct")) { expectKw("from"); val r = additive()
          val eq = BinaryOp("<=>", e, r)
          e = if (negated) eq else Not(eq)
        } else {
          // `x is v` / `x is not v` — equality sugar (reference exprs)
          val r = additive()
          e = BinaryOp(if (negated) "!=" else "=", e, r)
        }
      } else if (peek.is("between") || (peek.is("not") && peek2.is("between"))) {
        val negated = accept("not")
        expectKw("between")
        val lo = additive()
        expectKw("and")
        val hi = additive()
        e = Between(e, lo, hi, negated)
      } else if (peek.is("in") || (peek.is("not") && peek2.is("in"))) {
        val negated = accept("not")
        expectKw("in")
        if (accept("{")) {
          val q = parseRelation()
          expectOp("}")
          e = InSubquery(e, q, negated)
        } else if (peek.is("(") && (peek2.is("from") || peek2.is("select"))) {
          advance()
          val q = parseRelation()
          expectOp(")")
          e = InSubquery(e, q, negated)
        } else {
          expectOp("(")
          val items = List.newBuilder[Expr]
          items += expression()
          while (accept(",")) items += expression()
          expectOp(")")
          e = InList(e, items.result(), negated)
        }
      } else if (peek.is("like") || (peek.is("not") && peek2.is("like"))) {
        val negated = accept("not")
        expectKw("like")
        e = LikeOp(e, additive(), negated)
      } else if (peek.is("rlike") || (peek.is("not") && peek2.is("rlike"))) {
        val negated = accept("not")
        expectKw("rlike")
        e = RLikeOp(e, additive(), negated)
      } else if (peek.is("contains")) {
        advance()
        e = FunctionCall("contains", List(e, additive()))
      } else continue = false
    }
    e
  }

  private def additive(): Expr = {
    var e = multiplicative()
    var continue = true
    while (continue) {
      if (peek.kind == TokenKind.Op && (peek.text == "+" || peek.text == "-" || peek.text == "||")) {
        val op = advance().text
        e = BinaryOp(op, e, multiplicative())
      } else continue = false
    }
    e
  }

  private def multiplicative(): Expr = {
    var e = unary()
    var continue = true
    while (continue) {
      if (peek.kind == TokenKind.Op && Set("*", "/", "//", "%")(peek.text)) {
        val op = advance().text
        e = BinaryOp(op, e, unary())
      } else continue = false
    }
    e
  }

  private def unary(): Expr =
    if (peek.kind == TokenKind.Op && peek.text == "-") { advance(); UnaryOp("-", unary()) }
    else if (peek.kind == TokenKind.Op && peek.text == "+") { advance(); unary() }
    else if (peek.kind == TokenKind.Op && peek.text == "!") { advance(); Not(unary()) }
    else postfix()

  private def postfix(): Expr = {
    var e = primary()
    var continue = true
    while (continue) {
      if (peek.kind == TokenKind.Op && peek.text == ".") {
        advance()
        // qualified star: t.* (valid only in select items; lowering of a
        // Star with a qualifier rejects other positions)
        if (peek.kind == TokenKind.Op && peek.text == "*") {
          advance()
          e match {
            case Ident(q) => return Star(Some(q))
            case _ => fail("expected identifier before .*")
          }
        }
        val name = identName()
        if (accept("(")) {
          // method-style subquery membership: x.in(from t …) / x.not_in(from t …)
          if ((name.equalsIgnoreCase("in") || name.equalsIgnoreCase("not_in")) &&
            (peek.is("from") || peek.is("select"))) {
            val q = parseRelation()
            expectOp(")")
            e = InSubquery(e, q, negated = name.equalsIgnoreCase("not_in"))
          } else {
            val args = List.newBuilder[Expr]
            if (!peek.is(")")) {
              args += expression()
              while (accept(",")) args += expression()
            }
            expectOp(")")
            e = MethodCall(e, name, args.result())
          }
        } else e = DotRef(e, name)
      } else if (peek.kind == TokenKind.Op && peek.text == "[") {
        advance()
        val idx = expression()
        expectOp("]")
        e = Subscript(e, idx)
      } else if (peek.kind == TokenKind.Op && peek.text == "::") {
        advance()
        e = Cast(e, parseTypeName(), isTry = false)
      } else if (peek.is("over")) {
        advance()
        e = WindowApply(e, parseWindowSpec())
      } else if (peek.is("at") && peek2.is("time")) {
        advance(); advance(); expectKw("zone")
        e = AtTimeZone(e, primary())
      } else continue = false
    }
    e
  }

  private def parseTypeName(): String = {
    var name = identName()
    // decimal(15,2) — also the reference's bracket form decimal[15,2]
    // (spec/tpch/schema.wv), normalized to the paren spelling
    if (accept("(")) {
      val params = List.newBuilder[String]
      params += advance().text
      while (accept(",")) params += advance().text
      expectOp(")")
      name = s"$name(${params.result().mkString(",")})"
    } else if (peek.is("[") && (peek2.kind == TokenKind.LongLit ||
        peek2.kind == TokenKind.Ident)) {
      advance()
      val params = List.newBuilder[String]
      params += advance().text
      while (accept(",")) params += advance().text
      expectOp("]")
      name = s"$name(${params.result().mkString(",")})"
    }
    name
  }

  private def parseWindowSpec(): WindowSpec = {
    expectOp("(")
    var partitionBy: List[Expr] = Nil
    var orderBy: List[SortItem] = Nil
    var frame: Option[WindowFrame] = None
    if (accept("partition")) {
      expectKw("by")
      val es = List.newBuilder[Expr]
      es += expression()
      while (accept(",")) es += expression()
      partitionBy = es.result()
    }
    if (accept("order")) {
      expectKw("by")
      orderBy = parseSortItems()
    }
    if (peek.is("rows") || peek.is("range")) {
      val isRows = advance().text.equalsIgnoreCase("rows")
      if (accept("[")) {
        // compact notation rows[-2, 0], rows[, 0]
        val start: Option[Long] =
          if (peek.is(",")) None
          else Some(signedLong())
        expectOp(",")
        val end: Option[Long] =
          if (peek.is("]")) None
          else Some(signedLong())
        expectOp("]")
        frame = Some(WindowFrame(isRows, start, end))
      } else {
        // SQL notation: BETWEEN x PRECEDING AND y FOLLOWING
        accept("between")
        val start = parseFrameBound()
        accept("and")
        val end = parseFrameBound()
        frame = Some(WindowFrame(isRows, start, end))
      }
    }
    expectOp(")")
    WindowSpec(partitionBy, orderBy, frame)
  }

  private def signedLong(): Long = {
    val neg = accept("-")
    val v = advance().text.toLong
    if (neg) -v else v
  }

  private def parseFrameBound(): Option[Long] = {
    if (accept("unbounded")) { advance(); None } // preceding/following
    else if (accept("current")) { expectKw("row"); Some(0L) }
    else {
      val v = signedLong()
      if (accept("preceding")) Some(-v)
      else { expectKw("following"); Some(v) }
    }
  }

  private def primary(): Expr = {
    val t = peek
    t.kind match {
      case TokenKind.LongLit => advance(); LongLit(t.text.toLong)
      case TokenKind.DoubleLit => advance(); DoubleLit(t.text.toDouble)
      case TokenKind.StringLit => advance(); StringLit(t.text)
      case TokenKind.BackquotedIdent =>
        advance()
        if (peek.kind == TokenKind.Op && peek.text == "(") {
          // backquoted function call: `sum`(1)
          advance()
          val args = List.newBuilder[Expr]
          if (!peek.is(")")) {
            args += expression()
            while (accept(",")) args += expression()
          }
          expectOp(")")
          FunctionCall(t.text, args.result())
        } else Ident(t.text)
      case TokenKind.Op if t.text == "(" =>
        advance()
        if (peek.is("from") || peek.is("select")) {
          val q = parseRelation()
          expectOp(")")
          ScalarSubquery(q)
        } else {
          val e = expression()
          if (peek.is(",")) {
            // `(a, b, …)` — lambda params when followed by `->`, else a
            // row-value tuple (for tuple-IN)
            val items = List.newBuilder[Expr]
            items += e
            while (accept(",")) items += expression()
            expectOp(")")
            val all = items.result()
            if (peek.kind == TokenKind.Op && peek.text == "->" &&
              all.forall(_.isInstanceOf[Ident])) {
              advance()
              LambdaExpr(all.map(_.asInstanceOf[Ident].name), expression())
            } else TupleLit(all)
          } else {
            expectOp(")")
            e
          }
        }
      case TokenKind.Op if t.text == "[" =>
        advance()
        val items = List.newBuilder[Expr]
        if (!peek.is("]")) {
          items += expression()
          var more = accept(",")
          while (more && !peek.is("]")) {
            items += expression()
            more = accept(",")
          }
        }
        expectOp("]")
        ArrayLit(items.result())
      case TokenKind.Op if t.text == "{" =>
        advance()
        // `{ from … }` in expression position is a scalar subquery block
        // (reference: WvletParser queryBlock-as-expression); `{k: v}` stays a
        // struct/map literal
        if (peek.is("from") || peek.is("select")) {
          val q = parseRelation()
          expectOp("}")
          return ScalarSubquery(q)
        }
        val entries = List.newBuilder[(Expr, Expr)]
        if (!peek.is("}")) {
          def entry(): Unit = {
            val k = expression()
            expectOp(":")
            entries += ((k, expression()))
          }
          entry()
          while (accept(",")) entry()
        }
        expectOp("}")
        val es = entries.result()
        // bare `{k: v}` is a STRUCT (field access via .k / ['k']); keys may
        // be identifiers or string literals; the explicit `map {…}` form
        // yields a map (reference struct.wv / map.wv semantics)
        val fieldNames = es.map {
          case (Ident(n), _) => Some(n)
          case (StringLit(s), _) => Some(s)
          case _ => None
        }
        if (es.nonEmpty && fieldNames.forall(_.isDefined))
          StructLit(fieldNames.map(_.get).zip(es.map(_._2)))
        else MapLit(es)
      case TokenKind.Op if t.text == "*" =>
        advance(); Star(None)
      case TokenKind.Op if t.text == "?" =>
        advance()
        paramCounter += 1
        ParamRef(paramCounter - 1)
      case TokenKind.Ident =>
        primaryIdent()
      case _ => fail("expected expression")
    }
  }

  private def primaryIdent(): Expr = {
    val t = advance()
    val lower = t.text.toLowerCase
    lower match {
      case "null" => NullLit()
      case "true" => BoolLit(true)
      case "false" => BoolLit(false)
      case "_" => Underscore
      case "s" if peek.kind == TokenKind.StringLit =>
        parseInterpolation(advance().text)
      case "sql" if peek.kind == TokenKind.StringLit =>
        // sql"…" fragment template in expression position (cdp_types.wv
        // member defs); placeholders substituted at inline time
        RawSqlExpr(advance().text)
      case "case" => parseCase()
      case "map" if peek.is("{") =>
        advance()
        val entries = List.newBuilder[(Expr, Expr)]
        if (!peek.is("}")) {
          def entry(): Unit = {
            val k = expression()
            expectOp(":")
            entries += ((k, expression()))
          }
          entry()
          while (accept(",")) entry()
        }
        expectOp("}")
        MapLit(entries.result())
      case "if" if peek.is("(") =>
        advance()
        val cond = expression()
        expectOp(",")
        val thenE = expression()
        val elseE = if (accept(",")) Some(expression()) else None
        expectOp(")")
        IfExpr(cond, thenE, elseE)
      case "if" =>
        // if <cond> then <v> [else if … ] [else <v>] expression form
        def ifChain(): Expr = {
          val cond = expression()
          expectKw("then")
          val thenE = expression()
          val elseE =
            if (accept("else")) {
              if (accept("if")) Some(ifChain()) else Some(expression())
            } else None
          IfExpr(cond, thenE, elseE)
        }
        ifChain()
      case "cast" | "try_cast" if peek.is("(") =>
        advance()
        val e = expression()
        expectKw("as")
        val tpe = parseTypeName()
        expectOp(")")
        Cast(e, tpe, isTry = lower == "try_cast")
      case "extract" if peek.is("(") =>
        advance()
        val field = identName()
        expectKw("from")
        val e = expression()
        expectOp(")")
        Extract(field, e)
      case "exists" if peek.is("{") || peek.is("(") =>
        val open = advance().text
        val q = parseRelation()
        expectOp(if (open == "{") "}" else ")")
        ExistsExpr(q)
      case "interval" if peek.kind == TokenKind.StringLit =>
        // two string forms: `interval '7 days'` (unit inside the string —
        // the next token is NOT part of the interval; greedily consuming
        // it ate a following `and`/EOF) and the SQL-standard
        // `interval '3' month` — the next token is consumed only when it
        // IS an interval unit keyword
        val amount = advance().text
        val unit =
          if (peek.kind == TokenKind.Ident &&
              Parser.intervalUnits(peek.text.toLowerCase)) Some(identName())
          else None
        FunctionCall("__interval",
          List(StringLit(unit.map(u => s"$amount $u").getOrElse(amount))))
      case "interval" if peek.kind == TokenKind.LongLit =>
        val amount = advance().text
        val unit = identName()
        FunctionCall("__interval", List(StringLit(s"$amount $unit")))
      case _ if peek.is("(") =>
        advance()
        var distinct = false
        val args = List.newBuilder[Expr]
        if (!peek.is(")")) {
          if (accept("distinct")) distinct = true
          args += expression()
          while (accept(",")) args += expression()
          // `order by` inside agg call (e.g. string_agg(x order by y)) — captured as sort arg
          if (accept("order")) {
            expectKw("by")
            val sorts = parseSortItems()
            sorts.foreach { s =>
              args += FunctionCall("__orderby", List(s.expr, BoolLit(s.descending)))
            }
          }
        }
        expectOp(")")
        var filter: Option[Expr] = None
        if (peek.is("filter")) {
          advance()
          expectOp("(")
          expectKw("where")
          filter = Some(expression())
          expectOp(")")
        }
        FunctionCall(t.text, args.result(), distinct, filter)
      case _ if peek.kind == TokenKind.Op && peek.text == "->" =>
        advance()
        LambdaExpr(List(t.text), expression())
      case _ => Ident(t.text)
    }
  }

  private def parseCase(): Expr = {
    val target =
      if (peek.is("when")) None
      else Some(expression())
    val branches = List.newBuilder[(Expr, Expr)]
    while (accept("when")) {
      val cond = expression()
      expectKw("then")
      branches += ((cond, expression()))
    }
    val otherwise = if (accept("else")) Some(expression()) else None
    accept("end")
    CaseWhen(target, branches.result(), otherwise)
  }

  /** s"hello ${name} x" → Interpolation(parts, args) */
  private def parseInterpolation(raw: String): Expr = {
    val parts = List.newBuilder[String]
    val args = List.newBuilder[Expr]
    val sb = new StringBuilder
    var i = 0
    while (i < raw.length) {
      if (raw.charAt(i) == '$' && i + 1 < raw.length && raw.charAt(i + 1) == '{') {
        parts += sb.toString; sb.clear()
        val end = raw.indexOf('}', i + 2)
        if (end < 0) throw new ParseException("unterminated ${} in interpolation")
        val inner = raw.substring(i + 2, end)
        args += new Parser(Scanner.tokenize(inner)).expression()
        i = end + 1
      } else if (raw.charAt(i) == '$' && i + 1 < raw.length &&
        (raw.charAt(i + 1).isLetter || raw.charAt(i + 1) == '_')) {
        parts += sb.toString; sb.clear()
        var j = i + 1
        while (j < raw.length && (raw.charAt(j).isLetterOrDigit || raw.charAt(j) == '_')) j += 1
        args += Ident(raw.substring(i + 1, j))
        i = j
      } else { sb += raw.charAt(i); i += 1 }
    }
    parts += sb.toString
    Interpolation(parts.result(), args.result())
  }
}
