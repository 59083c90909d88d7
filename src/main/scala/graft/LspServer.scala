package graft

import java.io.{InputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import graft.server.Json
import org.apache.spark.sql.SparkSession

/** Stdio Language Server Protocol endpoint (reference: the wvlet-server
  * LSP transport over the compiler/lsp providers): Content-Length framed
  * JSON-RPC 2.0 on stdin/stdout, serving
  *
  *   - initialize / initialized / shutdown / exit
  *   - textDocument/didOpen, didChange, didClose (full-sync document store)
  *   - textDocument/definition  → Location (same doc or workspace file)
  *   - textDocument/hover       → markdown contents + range
  *   - textDocument/completion  → CompletionItem list ('.' trigger)
  *
  * `sbt 'runMain graft.LspServer [--dir tableDir] [--workspace dir]'`, or
  * point any LSP client at the process. The protocol loop is separated
  * from I/O (`handle`) so the spec drives it with framed byte streams.
  */
object LspServer {

  /** LSP CompletionItemKind codes for this engine's item kinds. */
  private val kindCodes = Map(
    "keyword" -> 14, "function" -> 3, "model" -> 9, "val" -> 6,
    "type" -> 7, "column" -> 5)

  final class Session(val dir: String, val workspaceDir: String) {
    val docs = scala.collection.mutable.Map.empty[String, String]
    var initialized = false
    var shutdownRequested = false
    lazy val spark: SparkSession = Tables.localSession(Tables.localCpus("4"), logLevel = "ERROR")
  }

  // -------------------------------------------------------------------------
  // protocol
  // -------------------------------------------------------------------------

  /** Handle one JSON-RPC message; Some(response) for requests, None for
    * notifications. Never throws: protocol errors become JSON-RPC errors. */
  def handle(msg: Map[String, Any], s: Session): Option[Map[String, Any]] = {
    val id = msg.get("id")
    def reply(result: Any): Option[Map[String, Any]] =
      id.map(i => Map("jsonrpc" -> "2.0", "id" -> i, "result" -> result))
    def replyError(code: Int, m: String): Option[Map[String, Any]] =
      id.map(i => Map("jsonrpc" -> "2.0", "id" -> i,
        "error" -> Map("code" -> code, "message" -> m)))
    val params = msg.get("params") match {
      case Some(p: Map[String, Any] @unchecked) => p
      case _ => Map.empty[String, Any]
    }
    try {
      msg.get("method") match {
        case Some("initialize") =>
          s.initialized = true
          reply(Map(
            "capabilities" -> Map(
              "textDocumentSync" -> 1, // full
              "definitionProvider" -> true,
              "hoverProvider" -> true,
              "completionProvider" -> Map("triggerCharacters" -> Seq("."))),
            "serverInfo" -> Map("name" -> "graft-lsp")))
        case Some("initialized") => None
        case Some("shutdown") =>
          s.shutdownRequested = true
          reply(null)
        case Some("exit") => None // loop exit handled by serve()
        case Some("textDocument/didOpen") =>
          docOf(params, "textDocument").foreach { td =>
            (td.get("uri"), td.get("text")) match {
              case (Some(u: String), Some(t: String)) => s.docs(u) = t
              case _ => ()
            }
          }
          None
        case Some("textDocument/didChange") =>
          val uri = uriOf(params)
          params.get("contentChanges") match {
            case Some(cs: Seq[Any] @unchecked) if cs.nonEmpty =>
              cs.last match {
                case m: Map[String, Any] @unchecked =>
                  m.get("text") match {
                    case Some(t: String) => uri.foreach(u => s.docs(u) = t)
                    case _ => ()
                  }
                case _ => ()
              }
            case _ => ()
          }
          None
        case Some("textDocument/didClose") =>
          uriOf(params).foreach(s.docs.remove)
          None
        case Some("textDocument/definition") =>
          val r = for {
            uri <- uriOf(params)
            text <- s.docs.get(uri)
            off <- offsetOf(params, text)
            d <- graft.lang.Lsp.definition(text, off,
              graft.lang.Lsp.workspaceFiles(s.workspaceDir))
          } yield Map(
            "uri" -> d.path.map(p => s"file://$p").getOrElse(uri),
            "range" -> rangeJson(d.startLine, d.startColumn, d.endLine, d.endColumn))
          reply(r.orNull)
        case Some("textDocument/hover") =>
          val r = for {
            uri <- uriOf(params)
            text <- s.docs.get(uri)
            off <- offsetOf(params, text)
            h <- graft.lang.Lsp.hover(text, off, s.spark, s.dir)
          } yield Map(
            "contents" -> Map("kind" -> "markdown", "value" -> s"```\n${h.text}\n```"),
            "range" -> rangeJson(h.startLine, h.startColumn, h.endLine, h.endColumn))
          reply(r.orNull)
        case Some("textDocument/completion") =>
          val items = for {
            uri <- uriOf(params)
            text <- s.docs.get(uri)
            off <- offsetOf(params, text)
          } yield graft.lang.Lsp.complete(text, off, s.spark, s.dir)
            .take(200)
            .map(i => Map(
              "label" -> i.label,
              "kind" -> kindCodes.getOrElse(i.kind, 1),
              "detail" -> i.detail))
          reply(items.getOrElse(Nil))
        case Some(other) =>
          replyError(-32601, s"method not found: $other")
        case None =>
          replyError(-32600, "missing method")
      }
    } catch {
      case e: Throwable =>
        replyError(-32603, String.valueOf(e.getMessage))
    }
  }

  private def docOf(params: Map[String, Any], key: String): Option[Map[String, Any]] =
    params.get(key) match {
      case Some(m: Map[String, Any] @unchecked) => Some(m)
      case _ => None
    }

  private def uriOf(params: Map[String, Any]): Option[String] =
    docOf(params, "textDocument").flatMap(_.get("uri")) match {
      case Some(u: String) => Some(u)
      case _ => None
    }

  /** LSP 0-based (line, character) → this repo's 1-based char offset. */
  private def offsetOf(params: Map[String, Any], text: String): Option[Int] =
    docOf(params, "position").flatMap { p =>
      (p.get("line"), p.get("character")) match {
        case (Some(l: Number), Some(c: Number)) =>
          val lines = text.split("\n", -1)
          val li = math.min(l.intValue(), lines.length - 1)
          val base = lines.take(li).map(_.length + 1).sum
          Some(base + math.min(c.intValue(), lines(li).length) + 1)
        case _ => None
      }
    }

  private def rangeJson(sl: Int, sc: Int, el: Int, ec: Int): Map[String, Any] =
    Map( // LSP positions are 0-based
      "start" -> Map("line" -> (sl - 1), "character" -> (sc - 1)),
      "end" -> Map("line" -> (el - 1), "character" -> (ec - 1)))

  // -------------------------------------------------------------------------
  // framing
  // -------------------------------------------------------------------------

  /** Blocking serve loop over Content-Length framed JSON-RPC. Returns when
    * the client sends `exit` or the stream ends. */
  def serve(in: InputStream, out: OutputStream, s: Session): Unit = {
    var running = true
    while (running) {
      readFrame(in) match {
        case None => running = false
        case Some(body) =>
          val msg = try Json.parseObject(body)
          catch { case _: Throwable => Map.empty[String, Any] }
          if (msg.get("method").contains("exit")) running = false
          else handle(msg, s).foreach(r => writeFrame(out, Json.write(r)))
      }
    }
  }

  private def readFrame(in: InputStream): Option[String] = {
    // headers terminated by \r\n\r\n (tolerates bare \n)
    var length = -1
    val line = new StringBuilder
    var c = in.read()
    while (c >= 0) {
      if (c == '\n') {
        val l = line.toString.stripSuffix("\r").trim
        line.clear()
        if (l.isEmpty) {
          if (length >= 0) {
            val buf = new Array[Byte](length)
            var off = 0
            while (off < length) {
              val n = in.read(buf, off, length - off)
              if (n < 0) return None
              off += n
            }
            return Some(new String(buf, UTF_8))
          }
        } else if (l.toLowerCase.startsWith("content-length:")) {
          length = l.substring("content-length:".length).trim.toInt
        }
      } else line.append(c.toChar)
      c = in.read()
    }
    None
  }

  private def writeFrame(out: OutputStream, body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    out.write(s"Content-Length: ${bytes.length}\r\n\r\n".getBytes(UTF_8))
    out.write(bytes)
    out.flush()
  }

  def main(args: Array[String]): Unit = {
    var dir = "/root/testdata/sf0.001"
    var workspace = "."
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--dir" if i + 1 < args.length => dir = args(i + 1); i += 2
        case "--workspace" if i + 1 < args.length => workspace = args(i + 1); i += 2
        case _ => i += 1
      }
    }
    serve(System.in, System.out, new Session(dir, workspace))
  }
}
