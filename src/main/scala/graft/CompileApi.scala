package graft

import org.apache.spark.sql.SparkSession

/** JSON-in/JSON-out compile entry point — the reference's embeddable
  * compiler API (`wvlet_compile_query_json`, wvc/src/main/scala/wvlet/lang/
  * native/WvcLib.scala:81-126; arg grammar WvcMain.scala:16-52). The
  * reference compiles to SQL text for a target engine; this engine compiles
  * to a Catalyst plan, so a successful response carries the result schema
  * (DDL) and the analyzed plan instead of a SQL string. Errors follow the
  * reference's CompileResponse shape: statusCode, statusType
  * (UserError/InternalError), message, and — when recoverable from the
  * parser's offset — a source location with line/column/lineContent
  * (api/v1/compile/CompileResponse.scala). Compile-only: embedded `test`
  * assertions and `debug` branches are type-checked but never executed.
  *
  * Accepted args (JSON array of strings):
  *   ["-q", "from lineitem …"]       inline query text
  *   ["-f", "path/to/query.wv"]      query from a file
  *   ["-d", "/data/dir"]             table directory (default testdata sf0.001)
  *   ["--catalog", "catalog.wv"]     static catalog — compile with no data access
  *   ["-t", "duckdb"]                also emit dialect SQL text in the
  *                                   response's "sql" key (the reference's
  *                                   `-t dbtype`, WvcMain.scala:37-48;
  *                                   spark|duckdb|trino|hive)
  */
object CompileApi {

  def compileQueryJson(spark: SparkSession, argJson: String): String =
    server.Json.write(compileQueryEnvelope(spark, argJson))

  /** The un-serialized response envelope — `success` key tells the caller
    * which shape it got without re-parsing JSON. */
  def compileQueryEnvelope(spark: SparkSession, argJson: String): Map[String, Any] =
    try {
      val (text, dir, catalog, target) = parseArgs(argJson)
      try {
        val df = compileOnly(spark, text, dir, catalog)
        val base = Map(
          "success" -> true,
          "schema" -> df.schema.toDDL,
          "plan" -> df.queryExecution.analyzed.toString)
        // `-t dbtype`: the reference's response carries the generated SQL
        // (WvcLib CompileResponse.sql); here it rides next to schema/plan
        target match {
          case Some(t) => base + ("sql" ->
            graft.lang.WvToSql.generate(text, graft.lang.WvToSql.Target.parse(t)))
          case None => base
        }
      } catch {
        case e: graft.lang.WvToSql.Unsupported =>
          err("SQL_GENERATION_ERROR", "UserError", e.getMessage, None)
        case e: graft.lang.ParseException =>
          err("SYNTAX_ERROR", "UserError", e.getMessage, locationOf(e.getMessage, text))
        case e: graft.lang.ScannerException =>
          err("SYNTAX_ERROR", "UserError", e.getMessage, locationOf(e.getMessage, text))
        case e: graft.lang.LoweringException =>
          err("PLAN_ERROR", "UserError", e.getMessage, None)
        case e: org.apache.spark.sql.AnalysisException =>
          err("ANALYSIS_ERROR", "UserError", e.getMessage, None)
      }
    } catch {
      case e: IllegalArgumentException =>
        err("INVALID_ARGUMENT", "UserError", String.valueOf(e.getMessage), None)
      case e: Throwable =>
        err("INTERNAL_ERROR", "InternalError",
          Option(e.getMessage).getOrElse(e.getClass.getName), None)
    }

  /** Compile WITHOUT running embedded tests/debug branches (Graft.run would
    * execute them; compile must stay action-free). Shared by the JSON API,
    * `graft.Run --compile`, and the server's describe selection. */
  def compileOnly(spark: SparkSession, text: String, dir: String,
      catalog: Option[String]): org.apache.spark.sql.DataFrame = {
    val resolver: String => org.apache.spark.sql.DataFrame = catalog match {
      case Some(c) => graft.catalog.StaticCatalog.resolverFromFile(spark, c)
      case None => Tables.resolver(spark, dir)
    }
    compileOnlyWith(graft.lang.Lowering.Context(spark, resolver, dir), text)
  }

  /** Action-free compile against a caller-held context (session reuse).
    * Lowers with `analysisOnly` set so table functions whose lowering runs
    * a job or writes return empty frames of their declared schemas — an
    * LSP hover or schema probe never runs a job or writes to disk. */
  def compileOnlyWith(ctx0: graft.lang.Lowering.Context, text: String): org.apache.spark.sql.DataFrame = {
    import graft.lang._
    // copy shares the mutable maps (models/vals/…) with the caller's ctx,
    // so session-reuse state still accumulates where callers expect it; the
    // model frames are its own, as analysis-only frames skip their jobs
    val ctx = ctx0.copy(analysisOnly = true, modelFrames = scala.collection.mutable.Map.empty)
    val stmts = Parser.parseStatements(text)
    // write-effecting statements lower EAGERLY (save/delete/… execute inside
    // lowerStatements) — compile-only must refuse them rather than run them
    stmts.foreach {
      case s @ (_: SaveTo | _: DeleteStmt | _: TruncateStmt | _: UpdateStmt |
          _: AlterTableStmt | _: ExecuteStmt | _: MergeInto | _: CreateTableAs) =>
        throw new LoweringException(
          s"compile-only: '${s.getClass.getSimpleName}' writes data — submit it for execution instead")
      case QueryStatement(_: DeleteRel) =>
        throw new LoweringException(
          "compile-only: terminal delete writes data — submit it for execution instead")
      case _ => ()
    }
    val df = Lowering.lowerStatements(stmts, ctx)
      .getOrElse(ctx.spark.emptyDataFrame)
    // tests/debug branches are analyzed, never executed; drain them so a
    // reused session context doesn't run them on its next real query
    try (df +: (ctx.tests.map(_._1) ++ ctx.debugs)).foreach(
      _.queryExecution.assertAnalyzed())
    finally { ctx.tests.clear(); ctx.debugs.clear() }
    df
  }

  /** Returns (queryText, dataDir, catalogFile, targetDialect). */
  private def parseArgs(argJson: String): (String, String, Option[String], Option[String]) = {
    val args = server.Json.parse(argJson) match {
      case xs: Seq[_] => xs.iterator.map(String.valueOf(_)).toList
      case _ => throw new IllegalArgumentException("args must be a JSON array of strings")
    }
    var query: Option[String] = None
    var dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    var catalog: Option[String] = None
    var target: Option[String] = None
    var rest = args
    while (rest.nonEmpty) rest match {
      case "-q" :: q :: tl => query = Some(q); rest = tl
      case "-f" :: f :: tl =>
        query = Some(readFileArg("-f", f)); rest = tl
      case ("-d" | "-w") :: d :: tl => dir = d; rest = tl
      case ("-t" | "--target") :: t :: tl => target = Some(t); rest = tl
      case "--catalog" :: c :: tl =>
        readFileArg("--catalog", c) // fail early, as a user error
        catalog = Some(c); rest = tl
      case flag :: Nil if Set("-q", "-f", "-d", "-w", "-t", "--target", "--catalog")(flag) =>
        throw new IllegalArgumentException(s"$flag requires a value")
      case _ :: tl => rest = tl // unknown flags pass over (reference tolerates -x etc.)
      case Nil => ()
    }
    (query.getOrElse(throw new IllegalArgumentException("missing -q or -f")), dir, catalog,
      target)
  }

  /** A missing/unreadable file is a USER error (bad argument), not an
    * engine fault — surface it as INVALID_ARGUMENT, not INTERNAL_ERROR. */
  private def readFileArg(flag: String, path: String): String =
    try new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8)
    catch {
      case e: java.io.IOException =>
        throw new IllegalArgumentException(s"$flag: cannot read '$path' (${e.getClass.getSimpleName})")
    }

  /** The parser reports `… at offset N` (and the scanner `… at N`) —
    * recover line/column/lineContent against the submitted source
    * (reference ErrorLocation fields). */
  private def locationOf(message: String, src: String): Option[Map[String, Any]] = {
    val m = "at (?:offset )?(\\d+)".r.findFirstMatchIn(String.valueOf(message))
    m.flatMap { mm =>
      val off = mm.group(1).toInt
      if (off > src.length) None
      else {
        val upto = src.substring(0, off)
        val line = upto.count(_ == '\n') + 1
        val lastNl = upto.lastIndexOf('\n')
        val column = off - lastNl // 1-based
        val lineEnd = src.indexOf('\n', lastNl + 1)
        val content = src.substring(lastNl + 1, if (lineEnd < 0) src.length else lineEnd)
        Some(Map("line" -> line, "column" -> column, "lineContent" -> content))
      }
    }
  }

  private def err(code: String, statusType: String, msg: String,
      loc: Option[Map[String, Any]]): Map[String, Any] =
    Map("success" -> false, "error" ->
      (Map("statusCode" -> code, "statusType" -> statusType, "message" -> msg) ++
        loc.map("location" -> _)))
}
