package graft.server

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Instant
import java.util.concurrent.{ConcurrentHashMap, Executors}

/** HTTP query server — the Spark-native analogue of the reference's
  * `wvlet-server` frontend RPC surface (reference
  * wvlet-server/src/main/scala/wvlet/lang/server/WvletServer.scala,
  * FrontendApiImpl.scala:17-24; API contract
  * wvlet-api/src/main/scala/wvlet/lang/api/v1/frontend/FrontendApi.scala and
  * v1/query/{QueryRequest,QueryInfo}.scala). Same WHAT, different HOW: the
  * reference runs netty + its RPC framework and executes on DuckDB/Trino;
  * here a JDK built-in `HttpServer` (zero added dependencies — the build has
  * no HTTP/JSON libraries) fronts one shared SparkSession, and a query is
  * just a submitted Spark job.
  *
  * Endpoints (JSON in/out):
  *   - `GET  /api/v1/status` — version + uptime (FrontendApi.status)
  *   - `POST /api/v1/query` — submit `{query, maxRows?, sessionId?,
  *     querySelection?, line?}`, returns `{queryId}` immediately
  *     (FrontendApi.submitQuery: async submit + id, result read
  *     separately; querySelection/line are the editor-selection surface,
  *     QueryRequest.querySelection + linePosition — see lang/Selection)
  *   - `GET  /api/v1/query/{id}?pageToken=N` — status + schema + a page of
  *     rows (FrontendApi.getQueryInfo pagination via pageToken)
  *   - `DELETE /api/v1/query/{id}` — cancel a running query: jobs are
  *     tagged per-query with setJobGroup, so cancellation interrupts the
  *     in-flight Spark stages, not just the HTTP wait
  *   - `POST /api/v1/compile` — WvcLib compile_query_json over HTTP
  *     (graft.CompileApi envelope; 400 carries the error envelope)
  *   - `POST /api/v1/transpile` — `{sql}` → `{query}` (the `wvlet
  *     transpile` surface, SURVEY §3.3)
  *   - `POST /api/v1/fmt` — `{query}` → `{formatted}` (canonical printer)
  *
  * Scale posture:
  *   - `maxRows` (default 1000, cap 100k) is pushed INTO the plan as a
  *     `limit` before collect — the driver never materializes an unbounded
  *     result; Spark plans it as CollectLimit/TakeOrdered, so a server
  *     result page costs a bounded scan, not a full query materialization.
  *   - queries run on a thread pool against the one SparkSession — Spark
  *     schedules concurrent jobs fairly; per-query state lives in a
  *     ConcurrentHashMap and pagination re-reads the bounded collected page.
  *   - `sessionId` scopes a [[graft.lang.Lowering.Context]] per client (the
  *     reference's ScriptRunnerSessions.scala:99 contract: id-less requests
  *     share a default session), so `def`/`model`/`val` definitions persist
  *     across a client's requests without leaking between clients.
  */
object Server {

  /** Library version, reported by /api/v1/status and `graft.Run --version`. */
  val Version = "0.9"

  final case class QueryState(
      queryId: String,
      query: String,
      createdAt: Instant,
      var status: String, // running | finished | failed | cancelled
      var completedAt: Option[Instant] = None,
      var schema: Seq[(String, String)] = Nil,
      var rows: Seq[Seq[Any]] = Nil,
      var truncated: Boolean = false,
      var error: Option[String] = None)

  final class Instance(
      val server: HttpServer,
      private val pool: java.util.concurrent.ExecutorService,
      private val httpPool: java.util.concurrent.ExecutorService) {
    def port: Int = server.getAddress.getPort
    // HttpServer.stop does NOT shut down a caller-supplied executor — each
    // start/stop cycle would leak 4 live non-daemon dispatcher threads
    def stop(): Unit = { server.stop(0); pool.shutdownNow(); httpPool.shutdownNow() }
  }

  private val PageSize = 200
  private val MaxQueryStates = 256
  private val MaxSessions = 64

  def start(
      spark: SparkSession,
      dir: String,
      port: Int = 0,
      defaultMaxRows: Int = 1000,
      workDir: String = "."
  ): Instance = {
    val startNs = System.nanoTime()
    val queries = new ConcurrentHashMap[String, QueryState]()
    val sessions = new ConcurrentHashMap[String, graft.lang.Lowering.Context]()
    val sessionUsed = new ConcurrentHashMap[String, java.lang.Long]()
    def sessionCtx(id: String): graft.lang.Lowering.Context = {
      sessionUsed.put(id, System.nanoTime())
      // LRU-cap the session registry: each Context holds definition maps
      // for the life of the server otherwise
      if (sessions.size > MaxSessions) {
        import scala.jdk.CollectionConverters._
        sessionUsed.asScala.toSeq.sortBy(_._2.longValue())
          .take(sessions.size - MaxSessions)
          .foreach { case (sid, _) => sessions.remove(sid); sessionUsed.remove(sid) }
      }
      sessions.computeIfAbsent(id, _ =>
        graft.lang.Lowering.Context(spark, Tables0.resolver(spark, dir), basePath = dir))
    }
    /** Evict the oldest TERMINAL query states beyond the cap: each one
      * pins up to maxRows collected rows, and main() runs forever — an
      * unevicted map is an unbounded heap leak. Running queries are never
      * evicted. */
    def evictQueries(): Unit =
      if (queries.size > MaxQueryStates) {
        import scala.jdk.CollectionConverters._
        queries.values.asScala.toSeq
          .filter(_.completedAt.isDefined)
          .sortBy(_.completedAt.get)
          .take(queries.size - MaxQueryStates)
          .foreach(st => queries.remove(st.queryId))
      }
    val pool = Executors.newFixedThreadPool(
      math.max(2, Runtime.getRuntime.availableProcessors() / 4))
    val rnd = new java.util.Random()
    def newId(): String =
      synchronized { graft.functions.UlidExpression.generate(rnd).toString }

    val http = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)

    def send(ex: HttpExchange, code: Int, body: Map[String, Any]): Unit = {
      val bytes = Json.write(body).getBytes(UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json; charset=utf-8")
      ex.sendResponseHeaders(code, bytes.length.toLong)
      val os = ex.getResponseBody
      try os.write(bytes) finally os.close()
    }
    def readBody(ex: HttpExchange): String =
      new String(ex.getRequestBody.readAllBytes(), UTF_8)
    def handler(f: HttpExchange => Unit): HttpHandler = (ex: HttpExchange) =>
      try f(ex)
      catch {
        case e: Json.JsonParseException =>
          send(ex, 400, Map("error" -> s"bad request: ${e.getMessage}"))
        case e: Throwable =>
          send(ex, 500, Map("error" -> String.valueOf(e.getMessage)))
      }

    // async submit: record state, run the query + bounded collect on the
    // pool, answer with the id immediately (the reference's submitQuery /
    // getQueryInfo split)
    def submit(text: String, maxRows: Int, sid: String, ex: HttpExchange,
        selection: String = "all", line: Int = 1): Unit = {
      val st = QueryState(newId(), text, Instant.now(), "running")
      queries.put(st.queryId, st)
      evictQueries()
      pool.submit(new Runnable {
        // QueryState transitions synchronize on `st`: the DELETE handler's
        // running→cancelled and this worker's →finished/failed check-then-
        // act must not interleave (and the lock gives the queued-runnable
        // check cross-thread visibility — the vars aren't volatile)
        override def run(): Unit =
          try {
            // a cancel that raced ahead of this (queued) runnable wins:
            // don't start work the client already abandoned
            if (st.synchronized { st.status == "cancelled" }) return
            // every Spark job this query submits is tagged with its id so
            // DELETE /api/v1/query/{id} can cancel them mid-flight
            // (setJobGroup is thread-local — exactly one query runs per
            // pool thread at a time)
            spark.sparkContext.setJobGroup(st.queryId,
              text.linesIterator.nextOption().getOrElse("").take(120),
              interruptOnCancel = true)
            // editor selection (reference QuerySelection + linePosition):
            // slice the unit BEFORE execution; `describe` compiles and
            // renders the schema as rows WITHOUT executing the query
            val sel = Option(selection).getOrElse("").trim.toLowerCase
            val effective = graft.lang.Selection.selectText(text, sel, line)
            // one query at a time per session context: the ctx's definition
            // maps and pending test/debug buffers are plain mutable state,
            // and compileOnlyWith drains tests/debugs — concurrent requests
            // on the same sessionId must serialize or a describe could eat
            // a running query's pending assertions
            val ctx = sessionCtx(sid)
            val df = ctx.synchronized {
              // a cancel that landed while this query was WAITING on the
              // session lock must win here too — cancelJobGroup can't
              // reach jobs that were never submitted
              if (st.synchronized { st.status == "cancelled" }) return
              if (sel == "describe") {
                val described = graft.CompileApi.compileOnlyWith(ctx, effective)
                import spark.implicits._
                described.schema.fields.toSeq
                  .map(f => (f.name, f.dataType.simpleString, f.nullable))
                  .toDF("column_name", "column_type", "nullable")
              } else graft.Graft.runWith(ctx, effective)
            }
            if (df.columns.nonEmpty) {
              // limit+1 INSIDE the plan detects truncation without
              // counting (or materializing) the full result
              val collected = df.limit(maxRows + 1).collect()
              val schema = df.schema.fields.toSeq
                .map(f => f.name -> f.dataType.simpleString)
              val truncated = collected.length > maxRows
              val rows = collected.take(maxRows).toSeq
                .map(_.toSeq.map {
                  case null => null
                  case b: Array[Byte] => java.util.Base64.getEncoder.encodeToString(b)
                  case v => v
                })
              // result writes under the SAME lock the readers take: the
              // GET handler must never observe status=finished with stale
              // empty rows (plain var writes have no happens-before edge),
              // and a cancelled query must not retain its abandoned rows
              st.synchronized {
                if (st.status != "cancelled") {
                  st.schema = schema
                  st.truncated = truncated
                  st.rows = rows
                }
              }
            }
            // a cancel that arrived while the collect was finishing keeps
            // its terminal state — finished must not overwrite cancelled
            st.synchronized {
              if (st.status != "cancelled") {
                st.status = "finished"
                st.completedAt = Some(Instant.now())
              }
            }
          } catch {
            case e: Throwable =>
              // a cancel marks the state first, then interrupts the job —
              // the resulting SparkException must not overwrite it
              st.synchronized {
                if (st.status != "cancelled") {
                  st.status = "failed"
                  st.error = Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage)}")
                  st.completedAt = Some(Instant.now())
                }
              }
          } finally spark.sparkContext.clearJobGroup()
      })
      send(ex, 200, Map("queryId" -> st.queryId))
    }

    http.createContext("/api/v1/status", handler { ex =>
      send(ex, 200, Map(
        "version" -> Version,
        "upTimeMs" -> (System.nanoTime() - startNs) / 1000000L))
    })

    http.createContext("/api/v1/tables", handler { ex =>
      // catalog listing for the console's table explorer (reference
      // FrontendApi table metadata / wvlet-ui navigator): table names +
      // column types from the served data dir. Parquet footers only —
      // no data read; listed fresh per request so a new file shows up
      // without a restart (schema reads hit Spark's footer cache).
      val names = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .map(_.getName.stripSuffix(".parquet")).sorted
      val tables = names.toSeq.map { n =>
        val cols =
          try Tables0.resolver(spark, dir)(n).schema.fields.toSeq.map(f =>
            Map("name" -> f.name, "typeName" -> f.dataType.simpleString))
          catch { case _: Throwable => Seq.empty }
        Map("name" -> n, "columns" -> cols)
      }
      send(ex, 200, Map("tables" -> tables))
    })

    http.createContext("/api/v1/query", handler { ex =>
      val path = ex.getRequestURI.getPath.stripPrefix("/api/v1/query")
      (ex.getRequestMethod, path.stripPrefix("/")) match {
        case ("POST", "") =>
          val req = Json.parseObject(readBody(ex))
          req.get("query") match {
            case Some(text: String) if text.trim.nonEmpty =>
              val maxRows = req.get("maxRows") match {
                case Some(n: Number) => math.min(math.max(n.intValue(), 1), 100000)
                case _ => defaultMaxRows
              }
              val sid = req.get("sessionId") match {
                case Some(s: String) if s.nonEmpty => s
                case _ => "__default"
              }
              val selection = req.get("querySelection") match {
                case Some(s: String) if s.nonEmpty => s
                case _ => "all"
              }
              val line = req.get("line") match {
                case Some(n: Number) => math.max(n.intValue(), 1)
                case _ => 1
              }
              submit(text, maxRows, sid, ex, selection, line)
            case _ => send(ex, 400, Map("error" -> "missing 'query'"))
          }
        case ("DELETE", id) if id.nonEmpty =>
          Option(queries.get(id)) match {
            case None => send(ex, 404, Map("error" -> s"query '$id' not found"))
            case Some(st) =>
              // atomic running→cancelled (same lock as the worker's
              // terminal transitions); the cancel is the terminal decision
              // point, so it stamps completedAt — a cancelled-while-queued
              // query would otherwise never get one
              val won = st.synchronized {
                if (st.status == "running") {
                  st.status = "cancelled"
                  st.error = Some("cancelled by client")
                  st.completedAt = Some(Instant.now())
                  true
                } else false
              }
              if (won) {
                // ...AndFutureJobs: jobs the worker submits AFTER this call
                // (it may still be compiling) are cancelled too
                spark.sparkContext.cancelJobGroupAndFutureJobs(id)
                send(ex, 200, Map("queryId" -> id, "status" -> "cancelled"))
              } else {
                val status = st.synchronized(st.status)
                send(ex, 409, Map("error" -> s"query is $status", "status" -> status))
              }
          }
        case ("GET", id) if id.nonEmpty =>
          Option(queries.get(id)) match {
            case None => send(ex, 404, Map("error" -> s"query '$id' not found"))
            case Some(st) =>
              val pageOpt = Option(ex.getRequestURI.getQuery).getOrElse("")
                .split("&").collectFirst {
                  case kv if kv.startsWith("pageToken=") =>
                    kv.stripPrefix("pageToken=").toIntOption
                }.getOrElse(Some(0))
              pageOpt.filter(_ >= 0) match {
                case None =>
                  send(ex, 400, Map("error" -> "pageToken must be a non-negative integer"))
                case Some(page) =>
                  // one locked snapshot: the worker publishes rows+status
                  // under the same lock (see submit) — unlocked reads could
                  // see 'finished' with stale empty rows
                  val (status, completedAt, error, schema, rows, truncated) =
                    st.synchronized {
                      (st.status, st.completedAt, st.error, st.schema, st.rows, st.truncated)
                    }
                  val slice = rows.slice(page, page + PageSize)
                  val next = page + slice.length
                  send(ex, 200, Map(
                    "queryId" -> st.queryId,
                    "status" -> status,
                    "createdAt" -> st.createdAt.toString,
                    "completedAt" -> completedAt.map(_.toString),
                    "error" -> error,
                    "schema" -> schema.map { case (n, t) =>
                      Map("name" -> n, "typeName" -> t) },
                    "rows" -> slice,
                    "totalRows" -> rows.length,
                    "truncated" -> truncated,
                    "pageToken" -> (if (next < rows.length) next.toString else "")))
              }
          }
        case _ => send(ex, 405, Map("error" -> "method not allowed"))
      }
    })

    // read-only flow-run store view (reference FlowApiImpl.scala:37-55:
    // listRuns + getRun over the session's run store; both backends read
    // fresh state per call, so runs written by CLI/scheduler processes
    // against the same warehouse stay visible)
    lazy val flowStore = graft.flow.FlowRunStore.forSession(spark)
    def runSummary(r: graft.flow.FlowRunRecord): Map[String, Any] = Map(
      "runId" -> r.runId,
      "flowName" -> r.flowName,
      "state" -> r.state,
      "startedAtMillis" -> r.startedAtMillis,
      "finishedAtMillis" -> r.finishedAtMillis,
      "runTimeMillis" -> r.runTimeMillis)
    http.createContext("/api/v1/flows", handler { ex =>
      val path = ex.getRequestURI.getPath.stripPrefix("/api/v1/flows").stripPrefix("/")
      if (ex.getRequestMethod != "GET")
        send(ex, 405, Map("error" -> "method not allowed"))
      else if (path.isEmpty) {
        val params = Option(ex.getRequestURI.getQuery).getOrElse("").split("&")
          .collect { case kv if kv.contains("=") =>
            val Array(k, v) = kv.split("=", 2); k -> v }.toMap
        val flowName = params.get("flowName").filter(_.nonEmpty)
        val limit = params.get("limit").flatMap(_.toIntOption).getOrElse(100)
        val runs = flowStore.list()
          .filter(r => flowName.forall(_ == r.flowName))
          .take(math.max(limit, 0))
        send(ex, 200, Map("runs" -> runs.map(runSummary)))
      } else flowStore.get(path) match {
        case Some(r) =>
          send(ex, 200, runSummary(r) + ("stages" -> r.stages.map(s => Map(
            "name" -> s.name,
            "state" -> s.status,
            "attempts" -> s.attempts,
            "error" -> s.error))))
        case None => send(ex, 404, Map("error" -> s"flow run '$path' not found"))
      }
    })

    // workspace file browsing (reference FileApiImpl.scala:26-64: list dirs
    // + .wv scripts, read one file's content; the reference's saveFile is
    // itself unimplemented, so read-only IS the full surface). Paths are
    // validated against traversal (FileEntry.isSafeRelativePath contract:
    // no absolute paths, no `..` escaping the workspace root).
    def safeRel(p: String): Boolean =
      !p.startsWith("/") && {
        var depth = 0
        var ok = true
        p.split("/").iterator.filter(s => s.nonEmpty && s != ".").foreach {
          case ".." => depth -= 1; if (depth < 0) ok = false
          case _ => depth += 1
        }
        ok
      }
    def fileEntry(rel: String, withContent: Boolean): Map[String, Any] = {
      val f = new java.io.File(workDir, rel)
      val base = Map[String, Any](
        "name" -> f.getName,
        "path" -> rel,
        "exists" -> f.exists(),
        "isDirectory" -> f.isDirectory,
        "size" -> (if (f.isFile) f.length() else 0L),
        "lastUpdatedAtMillis" -> f.lastModified())
      if (withContent && f.isFile)
        base + ("content" -> new String(
          java.nio.file.Files.readAllBytes(f.toPath), UTF_8))
      else base
    }
    http.createContext("/api/v1/files", handler { ex =>
      val sub = ex.getRequestURI.getPath.stripPrefix("/api/v1/files").stripPrefix("/")
      val rel = Option(ex.getRequestURI.getQuery).getOrElse("").split("&")
        .collectFirst { case kv if kv.startsWith("path=") =>
          java.net.URLDecoder.decode(kv.stripPrefix("path="), "UTF-8") }
        .getOrElse("")
      if (ex.getRequestMethod != "GET")
        send(ex, 405, Map("error" -> "method not allowed"))
      else if (!safeRel(rel))
        send(ex, 400, Map("error" -> s"invalid path: $rel"))
      else sub match {
        case "" => // list: directories + .wv scripts, dotfiles hidden
          val d = new java.io.File(workDir, rel)
          val children = Option(d.listFiles()).getOrElse(Array.empty)
            .collect {
              case c if c.isDirectory && !c.getName.startsWith(".") => c.getName
              case c if c.getName.endsWith(".wv") => c.getName
            }.sorted
          send(ex, 200, Map("entries" -> children.toSeq.map(n =>
            fileEntry(if (rel.isEmpty) n else s"$rel/$n", withContent = false))))
        case "read" =>
          val f = new java.io.File(workDir, rel)
          if (!f.isFile) send(ex, 404, Map("error" -> s"no such file: $rel"))
          else send(ex, 200, fileEntry(rel, withContent = true))
        case other => send(ex, 404, Map("error" -> s"unknown files op '$other'"))
      }
    })

    http.createContext("/api/v1/transpile", handler { ex =>
      val req = Json.parseObject(readBody(ex))
      req.get("sql") match {
        case Some(sql: String) =>
          try send(ex, 200, Map("query" -> graft.lang.SqlToWvlet.transpile(sql, spark)))
          catch { case e: Throwable =>
            send(ex, 400, Map("error" -> String.valueOf(e.getMessage))) }
        case _ => send(ex, 400, Map("error" -> "missing 'sql'"))
      }
    })

    http.createContext("/api/v1/compile", handler { ex =>
      // WvcLib compile_query_json over HTTP: body {args: ["-q", …]} or
      // {query: "..."} shorthand; response is CompileApi's envelope verbatim
      val req = Json.parseObject(readBody(ex))
      val rawArgs: Option[List[String]] = req.get("args") match {
        case Some(xs: Seq[_]) => Some(xs.iterator.map(String.valueOf(_)).toList)
        case _ => req.get("query") match {
          case Some(q: String) => Some(List("-q", q, "-d", dir))
          case _ => None
        }
      }
      // file-reading args are sandboxed to the workspace, matching the
      // files endpoints' invariant (no absolute paths, no `..` escapes);
      // the unrestricted -f/-d forms are CLI-only
      def sandbox(args: List[String]): Either[String, List[String]] = {
        val b = List.newBuilder[String]
        var rest = args
        while (rest.nonEmpty) rest match {
          case ("-f" | "--catalog") :: p :: tl =>
            if (!safeRel(p)) return Left(s"path '$p' must be workspace-relative")
            b += rest.head += new java.io.File(workDir, p).getPath; rest = tl
          case "-d" :: _ :: tl => rest = tl // table dir is server-controlled
          case x :: tl => b += x; rest = tl
          case Nil => ()
        }
        Right(b.result() ::: List("-d", dir))
      }
      rawArgs match {
        case None => send(ex, 400, Map("error" -> "missing 'args' or 'query'"))
        case Some(a) => sandbox(a) match {
          case Left(msg) => send(ex, 400, Map("error" -> msg))
          case Right(clean) =>
            val env = graft.CompileApi.compileQueryEnvelope(spark, Json.write(clean))
            send(ex, if (env.get("success").contains(true)) 200 else 400, env)
        }
      }
    })

    http.createContext("/api/v1/to_sql", handler { ex =>
      // wv → SQL for a target dialect (the reverse of /transpile; the
      // reference's `wvlet compile -t <dbtype>` codegen surface). Optional
      // "target": spark (default) | duckdb | trino | hive.
      val req = Json.parseObject(readBody(ex))
      req.get("query") match {
        case Some(q: String) =>
          try send(ex, 200, Map("sql" -> graft.lang.WvToSql.generate(q,
            graft.lang.WvToSql.Target.parse(
              req.get("target").map(String.valueOf(_)).getOrElse("spark")))))
          catch { case e: Throwable =>
            send(ex, 400, Map("error" -> String.valueOf(e.getMessage))) }
        case _ => send(ex, 400, Map("error" -> "missing 'query'"))
      }
    })

    http.createContext("/api/v1/lsp", handler { ex =>
      // editor services (reference: compiler/lsp providers behind the LSP
      // server): {"op": "definition"|"hover"|"complete", "text": …,
      // "offset": 1-based char offset}. The workspace for cross-file
      // definition jumps is the server's --work-dir.
      val req = Json.parseObject(readBody(ex))
      (req.get("op"), req.get("text"), req.get("offset")) match {
        case (Some(op: String), Some(text: String), Some(off)) =>
          val offset = off match {
            case n: Number => n.intValue()
            case s: String => s.toInt
            case _ => 1
          }
          op match {
            case "definition" =>
              val ws = graft.lang.Lsp.workspaceFiles(workDir)
              graft.lang.Lsp.definition(text, offset, ws) match {
                case Some(d) => send(ex, 200, Map(
                  "startLine" -> d.startLine, "startColumn" -> d.startColumn,
                  "endLine" -> d.endLine, "endColumn" -> d.endColumn,
                  "path" -> d.path.orNull))
                case None => send(ex, 200, Map("found" -> false))
              }
            case "hover" =>
              graft.lang.Lsp.hover(text, offset, spark, dir) match {
                case Some(h) => send(ex, 200, Map(
                  "text" -> h.text,
                  "startLine" -> h.startLine, "startColumn" -> h.startColumn,
                  "endLine" -> h.endLine, "endColumn" -> h.endColumn))
                case None => send(ex, 200, Map("found" -> false))
              }
            case "complete" =>
              val items = graft.lang.Lsp.complete(text, offset, spark, dir)
                .take(100)
                .map(i => Map("label" -> i.label, "kind" -> i.kind,
                  "detail" -> i.detail))
              send(ex, 200, Map("items" -> items))
            case other =>
              send(ex, 400, Map("error" ->
                s"unknown op '$other' (expected definition, hover, complete)"))
          }
        case _ => send(ex, 400, Map("error" -> "missing 'op'/'text'/'offset'"))
      }
    })

    http.createContext("/api/v1/fmt", handler { ex =>
      val req = Json.parseObject(readBody(ex))
      req.get("query") match {
        case Some(q: String) =>
          try send(ex, 200, Map(
            "formatted" -> graft.lang.WvPrinter.print(graft.lang.Parser.parseStatements(q))))
          catch { case e: Throwable =>
            send(ex, 400, Map("error" -> String.valueOf(e.getMessage))) }
        case _ => send(ex, 400, Map("error" -> "missing 'query'"))
      }
    })

    // generated native-table-function reference (OperatorDocs: registry
    // signatures and examples + oracle rows + scale exponents — nothing
    // hand-maintained). JSON twin at /api/v1/operators for tools.
    http.createContext("/api/v1/operators", handler { ex =>
      val ops = OperatorDocs.build(spark, dir).map(d => Map(
        "name" -> d.name, "args" -> d.args, "example" -> d.example,
        "schema" -> d.schema, "oracleRows" -> d.oracleRows,
        "scaleExponents" -> d.scaleExponents))
      send(ex, 200, Map("operators" -> ops))
    })
    http.createContext("/operators", handler { ex =>
      val bytes = OperatorDocs.page(spark, dir).getBytes(UTF_8)
      ex.getResponseHeaders.set("Content-Type", "text/html; charset=utf-8")
      ex.sendResponseHeaders(200, bytes.length.toLong)
      val os = ex.getResponseBody
      try os.write(bytes) finally os.close()
    })

    // playground page (reference wvlet-ui-playground: demo-query navigator
    // + live compile-preview + result viewer, served over the same API)
    http.createContext("/playground", handler { ex =>
      val bytes = Playground.page.getBytes(UTF_8)
      ex.getResponseHeaders.set("Content-Type", "text/html; charset=utf-8")
      ex.sendResponseHeaders(200, bytes.length.toLong)
      val os = ex.getResponseBody
      try os.write(bytes) finally os.close()
    })

    // minimal browser console at the root (reference StaticContentApi /
    // wvlet-ui surface, collapsed to one embedded page over the same API)
    http.createContext("/", handler { ex =>
      if (ex.getRequestURI.getPath != "/")
        send(ex, 404, Map("error" -> "not found"))
      else {
        val bytes = WebUi.page.getBytes(UTF_8)
        ex.getResponseHeaders.set("Content-Type", "text/html; charset=utf-8")
        ex.sendResponseHeaders(200, bytes.length.toLong)
        val os = ex.getResponseBody
        try os.write(bytes) finally os.close()
      }
    })

    val httpPool = Executors.newFixedThreadPool(4)
    http.setExecutor(httpPool)
    http.start()
    new Instance(http, pool, httpPool)
  }

  /** Avoid a hard import cycle in object init order. */
  private object Tables0 {
    def resolver(spark: SparkSession, dir: String): String => DataFrame =
      graft.Tables.resolver(spark, dir)
  }

  def main(args: Array[String]): Unit = {
    var dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    var port = 8080
    var workDir = "."
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--dir" => dir = args(i + 1); i += 2
        case "--port" => port = args(i + 1).toInt; i += 2
        case "--work-dir" => workDir = args(i + 1); i += 2
        case other => System.err.println(s"unknown arg $other"); sys.exit(2)
      }
    }
    val spark = graft.Tables.localSession(
      graft.Tables.localCpus(Runtime.getRuntime.availableProcessors().toString),
      appName = Some("graft-server"))
    val inst = start(spark, dir, port, workDir = workDir)
    println(s"graft server listening on http://127.0.0.1:${inst.port} (tables from $dir)")
    Thread.currentThread().join()
  }
}
