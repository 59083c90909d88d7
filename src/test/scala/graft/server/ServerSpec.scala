package graft.server

import graft.SparkTestBase
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8

/** End-to-end exercise of the HTTP query server over the testdata tables:
  * async submit → poll → paged results, per-session definitions, error
  * surfacing, and the transpile/fmt endpoints. Uses only JDK
  * HttpURLConnection — the server itself must not require any client
  * library either. */
class ServerSpec extends SparkTestBase {

  private lazy val workDir: String = {
    val d = java.nio.file.Files.createTempDirectory("srv_ws")
    java.nio.file.Files.writeString(d.resolve("q1.wv"), "from region count")
    java.nio.file.Files.writeString(d.resolve("notes.txt"), "not a script")
    java.nio.file.Files.createDirectory(d.resolve("sub"))
    java.nio.file.Files.writeString(d.resolve("sub").resolve("q2.wv"), "from nation count")
    d.toString
  }

  private lazy val inst = Server.start(spark, sfDir, workDir = workDir)
  private def base = s"http://127.0.0.1:${inst.port}"

  override def afterAll(): Unit = {
    try inst.stop() finally super.afterAll()
  }

  private def http(method: String, path: String, body: Option[String] = None): (Int, Map[String, Any]) = {
    val conn = URI.create(s"$base$path").toURL.openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    conn.setConnectTimeout(10000)
    conn.setReadTimeout(60000)
    body.foreach { b =>
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type", "application/json")
      val os = conn.getOutputStream
      try os.write(b.getBytes(UTF_8)) finally os.close()
    }
    val code = conn.getResponseCode
    val is = if (code < 400) conn.getInputStream else conn.getErrorStream
    val text = new String(is.readAllBytes(), UTF_8)
    is.close()
    (code, Json.parseObject(text))
  }

  private def submit(query: String, extra: String = ""): String = {
    val (code, resp) = http("POST", "/api/v1/query",
      Some(s"""{"query": ${Json.quote(query)}$extra}"""))
    assert(code == 200, s"submit failed: $resp")
    resp("queryId").asInstanceOf[String]
  }

  private def poll(id: String, pageToken: String = ""): Map[String, Any] = {
    val q = if (pageToken.nonEmpty) s"?pageToken=$pageToken" else ""
    var resp = http("GET", s"/api/v1/query/$id$q")._2
    val deadline = System.nanoTime() + 120e9.toLong
    while (resp("status") == "running" && System.nanoTime() < deadline) {
      Thread.sleep(200)
      resp = http("GET", s"/api/v1/query/$id$q")._2
    }
    resp
  }

  test("root serves the console page; unknown paths are 404") {
    val conn = URI.create(s"$base/").toURL.openConnection().asInstanceOf[HttpURLConnection]
    assert(conn.getResponseCode == 200)
    val html = new String(conn.getInputStream.readAllBytes(), UTF_8)
    assert(html.contains("graft console") && html.contains("/api/v1/query"))
    // the embedded editor ships its own dependency-free highlighter: the
    // overlay pre + the language token rules must be in the page
    assert(html.contains("id=\"hl\"") && html.contains("TOKEN_RE"), "highlighter missing")
    assert(html.contains("tk-kw") && html.contains("subscribe"), "token rules missing")
    // workbench surfaces: table explorer, dialect SQL preview, history, CSV
    assert(html.contains("/api/v1/tables") && html.contains("id=\"tbls\""), "table explorer missing")
    assert(html.contains("id=\"dialect\"") && html.contains("duckdb"), "sql preview missing")
    assert(html.contains("graft_console_history"), "history missing")
    assert(html.contains("downloadCsv"), "csv export missing")
    assert(http("GET", "/no/such/page")._1 == 404)
  }

  test("playground page serves; every demo compiles to every dialect-or-refuses and runs") {
    // the page itself (reference wvlet-ui-playground: navigator + live
    // SQL preview + result viewer, over the same JSON API)
    val conn = URI.create(s"$base/playground").toURL.openConnection().asInstanceOf[HttpURLConnection]
    assert(conn.getResponseCode == 200)
    val html = new String(conn.getInputStream.readAllBytes(), UTF_8)
    assert(html.contains("graft playground") && html.contains("const DEMOS ="))
    assert(html.contains("/api/v1/to_sql") && html.contains("schedulePreview"),
      "live compile-preview missing")
    assert(html.contains("/api/v1/query"), "run surface missing")
    // every demo in the navigator must actually work over HTTP: compile to
    // Spark SQL via the preview endpoint AND execute with rows back
    Playground.demos.foreach { case (name, q) =>
      val (cCode, cResp) = http("POST", "/api/v1/to_sql",
        Some(s"""{"query": ${Json.quote(q)}, "target": "spark"}"""))
      if (Playground.sqlRefusingDemos.contains(name)) {
        // no SQL spelling (ASOF JOIN / the LLM table functions) — the
        // preview must refuse loudly (the page shows the compile error),
        // never emit wrong SQL; the run leg below still executes natively
        assert(cCode == 400 && cResp.contains("error"),
          s"demo $name should refuse in the spark preview: $cCode $cResp")
      } else {
        assert(cCode == 200, s"demo $name failed to compile: $cResp")
        assert(cResp("sql").asInstanceOf[String].nonEmpty, s"demo $name: empty sql")
      }
      val resp = poll(submit(q))
      assert(resp("status") == "finished", s"demo $name failed to run: $resp")
      assert(resp("rows").asInstanceOf[Seq[_]].nonEmpty, s"demo $name: no rows")
    }
    // and the preview dialect selector is honest: each demo either
    // compiles to the target or refuses loudly (400 envelope), never 500
    for ((name, q) <- Playground.demos; target <- Seq("duckdb", "trino", "hive")) {
      val (code, resp) = http("POST", "/api/v1/to_sql",
        Some(s"""{"query": ${Json.quote(q)}, "target": "$target"}"""))
      assert(code == 200 || code == 400, s"demo $name@$target: $code $resp")
    }
  }

  test("operators endpoints serve the generated reference over HTTP") {
    val (code, resp) = http("GET", "/api/v1/operators")
    assert(code == 200, s"got $resp")
    val ops = resp("operators").asInstanceOf[Seq[Map[String, Any]]]
    assert(ops.map(_("name").asInstanceOf[String]) ==
      graft.lang.TableFunctions.entries.map(_.name),
      "JSON operator list diverged from the registry")
    assert(ops.forall(_("args").asInstanceOf[String].nonEmpty))
    // the HTML page renders and carries every native
    val conn = URI.create(s"$base/operators").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("GET")
    val html = new String(conn.getInputStream.readAllBytes(), UTF_8)
    assert(conn.getResponseCode == 200)
    graft.lang.TableFunctions.entries.map(_.name).foreach(n =>
      assert(html.contains(s"<code>$n</code>"), s"page missing $n"))
  }

  test("tables endpoint lists the served dir's tables with column types") {
    val (code, resp) = http("GET", "/api/v1/tables")
    assert(code == 200, s"got $resp")
    val tables = resp("tables").asInstanceOf[Seq[Map[String, Any]]]
    val byName = tables.map(t => t("name").asInstanceOf[String] -> t).toMap
    assert(byName.contains("lineitem") && byName.contains("region"), s"got ${byName.keys}")
    val liCols = byName("lineitem")("columns").asInstanceOf[Seq[Map[String, Any]]]
      .map(c => c("name") -> c("typeName")).toMap
    assert(liCols.get("l_returnflag") == Some("string") &&
      liCols.get("l_quantity") == Some("double"), s"got $liCols")
  }

  test("status endpoint reports uptime") {
    val (code, resp) = http("GET", "/api/v1/status")
    assert(code == 200)
    assert(resp("upTimeMs").asInstanceOf[Number].longValue() >= 0L)
  }

  test("submit + poll returns schema and rows") {
    val id = submit("from region select r_regionkey, r_name order by r_regionkey")
    val resp = poll(id)
    assert(resp("status") == "finished", s"got $resp")
    val schema = resp("schema").asInstanceOf[Seq[Map[String, Any]]]
    assert(schema.map(_("name")) == Seq("r_regionkey", "r_name"))
    val rows = resp("rows").asInstanceOf[Seq[Seq[Any]]]
    assert(rows.length == 5)
    assert(rows.head(1) == "AFRICA")
    assert(resp("truncated") == false)
  }

  test("maxRows truncates inside the plan and pageToken pages results") {
    val id = submit("from lineitem select l_orderkey", ""","maxRows": 250""")
    val first = poll(id)
    assert(first("status") == "finished")
    assert(first("totalRows").asInstanceOf[Number].intValue() == 250)
    assert(first("truncated") == true)
    val rows1 = first("rows").asInstanceOf[Seq[Seq[Any]]]
    assert(rows1.length == 200) // first page
    val tok = first("pageToken").asInstanceOf[String]
    assert(tok == "200")
    val second = poll(id, tok)
    val rows2 = second("rows").asInstanceOf[Seq[Seq[Any]]]
    assert(rows2.length == 50)
    assert(second("pageToken") == "")
  }

  test("sessionId scopes definitions across requests") {
    val sid = ""","sessionId": "s1""""
    val defId = submit("model top_regions = { from region where r_regionkey < 2 }", sid)
    val defResp = poll(defId)
    assert(defResp("status") == "finished", s"got $defResp")
    val useId = submit("from top_regions count", sid)
    val useResp = poll(useId)
    assert(useResp("status") == "finished", s"got $useResp")
    assert(useResp("rows").asInstanceOf[Seq[Seq[Any]]].head.head
      .asInstanceOf[Number].longValue() == 2L)
    // a DIFFERENT session must not see the model
    val otherId = submit("from top_regions count", ""","sessionId": "s2"""")
    assert(poll(otherId)("status") == "failed")
  }

  test("a failing query surfaces its error") {
    val id = submit("from region select no_such_column")
    val resp = poll(id)
    assert(resp("status") == "failed")
    assert(resp("error").asInstanceOf[String].nonEmpty)
  }

  test("unknown query id is a 404; bad submit is a 400") {
    assert(http("GET", "/api/v1/query/nope")._1 == 404)
    assert(http("POST", "/api/v1/query", Some("""{"nope": 1}"""))._1 == 400)
    assert(http("POST", "/api/v1/query", Some("not json"))._1 == 400)
  }

  test("transpile endpoint converts SQL to the query language") {
    val (code, resp) = http("POST", "/api/v1/transpile",
      Some("""{"sql": "SELECT r_name FROM region WHERE r_regionkey = 1"}"""))
    assert(code == 200, s"got $resp")
    val wv = resp("query").asInstanceOf[String]
    assert(wv.contains("from region"), wv)
    // and the transpiled text actually runs
    val resp2 = poll(submit(wv))
    assert(resp2("status") == "finished")
    assert(resp2("rows").asInstanceOf[Seq[Seq[Any]]].head.head == "AMERICA")
  }

  test("flow endpoints list runs and expose stage detail") {
    // point the session's run store at a temp dir BEFORE the server's lazy
    // store initializes (first /flows request), then write a record the way
    // FlowRunner does
    val dir = java.nio.file.Files.createTempDirectory("srv_flows").toString
    spark.conf.set("graft.flow.runStoreDir", dir)
    try {
      val store = new graft.flow.FlowRunStore(java.nio.file.Paths.get(dir))
      store.save(graft.flow.FlowRunRecord(
        "run1", "nightly_etl", "success", 1000L, Some(3000L),
        List(graft.flow.StageRunRecord("extract", "success", 1, None))))
      store.save(graft.flow.FlowRunRecord(
        "run2", "other_flow", "failed", 2000L, Some(2500L),
        List(graft.flow.StageRunRecord("load", "failed", 3, Some("boom")))))
      val (code, resp) = http("GET", "/api/v1/flows")
      assert(code == 200)
      val runs = resp("runs").asInstanceOf[Seq[Map[String, Any]]]
      assert(runs.map(_("runId")).toSet == Set("run1", "run2"))
      val (codeF, filtered) = http("GET", "/api/v1/flows?flowName=nightly_etl")
      assert(codeF == 200)
      assert(filtered("runs").asInstanceOf[Seq[Map[String, Any]]].map(_("runId")) == Seq("run1"))
      val (codeD, detail) = http("GET", "/api/v1/flows/run2")
      assert(codeD == 200)
      assert(detail("state") == "failed")
      val stages = detail("stages").asInstanceOf[Seq[Map[String, Any]]]
      assert(stages.head("error") == "boom")
      assert(http("GET", "/api/v1/flows/nope")._1 == 404)
    } finally spark.conf.unset("graft.flow.runStoreDir")
  }

  test("files endpoints list .wv scripts and read content, rejecting escapes") {
    val (code, resp) = http("GET", "/api/v1/files")
    assert(code == 200)
    val entries = resp("entries").asInstanceOf[Seq[Map[String, Any]]]
    // q1.wv + sub/ listed; notes.txt (non-script) hidden
    assert(entries.map(_("name")).toSet == Set("q1.wv", "sub"))
    val (codeSub, subResp) = http("GET", "/api/v1/files?path=sub")
    assert(codeSub == 200)
    assert(subResp("entries").asInstanceOf[Seq[Map[String, Any]]]
      .map(_("path")) == Seq("sub/q2.wv"))
    val (codeR, read) = http("GET", "/api/v1/files/read?path=sub/q2.wv")
    assert(codeR == 200)
    assert(read("content") == "from nation count")
    assert(http("GET", "/api/v1/files/read?path=missing.wv")._1 == 404)
    assert(http("GET", "/api/v1/files?path=../secrets")._1 == 400)
    assert(http("GET", "/api/v1/files?path=%2Fetc")._1 == 400)
    assert(http("GET", "/api/v1/files?path=sub/../../up")._1 == 400)
  }

  test("fmt endpoint canonicalizes a query") {
    val (code, resp) = http("POST", "/api/v1/fmt",
      Some(Json.write(Map("query" -> "from   region\nselect    r_name"))))
    assert(code == 200, s"got $resp")
    assert(resp("formatted").asInstanceOf[String].contains("from region"))
    assert(http("POST", "/api/v1/fmt", Some("""{"query": "from ((("}"""))._1 == 400)
  }

  test("querySelection runs the statement at the cursor; describe returns schema rows") {
    val unit = "from region\nselect r_name\n;\nfrom nation\ngroup by n_regionkey\nagg n = _.count"
    // cursor on line 5 → the nation aggregation only
    val id = submit(unit, s""", "querySelection": "single", "line": 5""")
    val done = poll(id)
    assert(done("status") == "finished", s"got $done")
    val cols = done("schema").asInstanceOf[Seq[Map[String, Any]]].map(_("name"))
    assert(cols == Seq("n_regionkey", "n"))
    // describe at line 2 → schema of the region projection, no data rows
    val id2 = submit(unit, s""", "querySelection": "describe", "line": 2""")
    val done2 = poll(id2)
    assert(done2("status") == "finished", s"got $done2")
    val rows = done2("rows").asInstanceOf[Seq[Seq[Any]]]
    assert(rows.map(_.head) == Seq("r_name"))
  }

  test("DELETE cancels a running query via its job group") {
    // a cross join big enough to keep stages in flight for a while
    val slow = "from lineitem\ncross join lineitem as l2\ncross join lineitem as l3\nagg n = _.count"
    val id = submit(slow)
    Thread.sleep(500) // let the job start
    val (code, resp) = http("DELETE", s"/api/v1/query/$id")
    assert(code == 200 && resp("status") == "cancelled", s"got $code $resp")
    val fin = poll(id)
    assert(fin("status") == "cancelled", s"got $fin")
    // terminal states reject a second cancel
    assert(http("DELETE", s"/api/v1/query/$id")._1 == 409)
    assert(http("DELETE", "/api/v1/query/nope")._1 == 404)
  }

  test("to_sql endpoint generates executable Spark SQL") {
    val (code, resp) = http("POST", "/api/v1/to_sql",
      Some(Json.write(Map("query" -> "from region\ngroup by r_regionkey\nagg n = _.count"))))
    assert(code == 200, s"got $resp")
    val sql = resp("sql").asInstanceOf[String]
    assert(sql.toUpperCase.contains("GROUP BY"))
    assert(http("POST", "/api/v1/to_sql",
      Some(Json.write(Map("query" -> "from t asof join u on t.a <= u.a"))))._1 == 400)
    // dialect targets (the reference's `wvlet compile -t <dbtype>`)
    val (cd, duck) = http("POST", "/api/v1/to_sql", Some(Json.write(Map(
      "query" -> "from part select w = p_name.split(' ').array_sort", "target" -> "duckdb"))))
    assert(cd == 200 && duck("sql").asInstanceOf[String].contains("list_sort("), s"got $duck")
    assert(http("POST", "/api/v1/to_sql",
      Some(Json.write(Map("query" -> "from t", "target" -> "db2"))))._1 == 400)
  }

  test("lsp endpoint serves definition, hover, and completion") {
    val src = "model m = {\n  from lineitem\n}\nfrom m"
    val (c1, defn) = http("POST", "/api/v1/lsp", Some(Json.write(Map(
      "op" -> "definition", "text" -> src,
      "offset" -> (src.lastIndexOf("m") + 1)))))
    assert(c1 == 200 && defn.get("startLine") == Some(1), s"got $defn")
    val hoverSrc = "from lineitem\nselect l_quantity"
    val (c2, hov) = http("POST", "/api/v1/lsp", Some(Json.write(Map(
      "op" -> "hover", "text" -> hoverSrc,
      "offset" -> (hoverSrc.lastIndexOf("l_quantity") + 1)))))
    assert(c2 == 200 && hov.get("text") == Some("l_quantity: double"), s"got $hov")
    val (c3, comp) = http("POST", "/api/v1/lsp", Some(Json.write(Map(
      "op" -> "complete", "text" -> "from lineitem\nselect l_", "offset" -> 24))))
    assert(c3 == 200, s"got $comp")
    val labels = comp("items").asInstanceOf[Seq[Map[String, Any]]].map(_("label"))
    assert(labels.contains("l_quantity"))
    assert(http("POST", "/api/v1/lsp",
      Some(Json.write(Map("op" -> "nope", "text" -> "x", "offset" -> 1))))._1 == 400)
  }

  test("compile endpoint validates without executing; errors are 400 envelopes") {
    val (code, resp) = http("POST", "/api/v1/compile",
      Some(Json.write(Map("query" -> "from region group by r_name agg n = _.count"))))
    assert(code == 200, s"got $resp")
    assert(resp("success") == true)
    assert(resp("schema").asInstanceOf[String].contains("r_name"))
    val (badCode, badResp) = http("POST", "/api/v1/compile",
      Some(Json.write(Map("query" -> "from region select nope_col"))))
    assert(badCode == 400)
    val err = badResp("error").asInstanceOf[Map[String, Any]]
    assert(err("statusCode") == "ANALYSIS_ERROR")
    // file args are sandboxed to the workspace — absolute paths rejected
    val (escCode, escResp) = http("POST", "/api/v1/compile",
      Some(Json.write(Map("args" -> List("-f", "/etc/passwd")))))
    assert(escCode == 400 && String.valueOf(escResp("error")).contains("workspace-relative"))
    // a workspace-relative -f compiles the stored script
    val (wsCode, wsResp) = http("POST", "/api/v1/compile",
      Some(Json.write(Map("args" -> List("-f", "q1.wv")))))
    assert(wsCode == 200 && wsResp("success") == true, s"got $wsResp")
  }
}
