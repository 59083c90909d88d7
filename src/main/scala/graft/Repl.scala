package graft

import org.apache.spark.sql.SparkSession

/** Interactive REPL — the analogue of the reference's `wvlet` interactive
  * shell (runner/WvletScriptRunner.scala + ui/shell): read a flow-style
  * query, execute, print, repeat, with one persistent compiler session so
  * `model`/`val`/`def`/`type`/`flow` declarations accumulate across inputs.
  *
  * Protocol: statements may span lines; an empty line (or a line that is
  * just `;`) executes the buffer. Meta commands start with `:`:
  *   :help            this text
  *   :tables          list resolvable tables
  *   :explain         toggle printing the formatted physical plan
  *   :limit N         rows to show (default 20)
  *   :context         session summary: accumulated models/vals/defs/flows
  *   :describe        schema of the buffered (partial) pipeline, no execution
  *   :fragment        run the buffered pipeline without clearing the buffer
  *   :quit / :q       exit (EOF / ctrl-D also works)
  *
  * Usage: runMain graft.Repl [--dir DIR] [--limit N]
  */
object Repl {

  def main(args: Array[String]): Unit = {
    var dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    var limit = 20
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--dir" => dir = args(i + 1); i += 2
        case "--limit" => limit = args(i + 1).toInt; i += 2
        case other =>
          System.err.println(s"unknown argument: $other"); sys.exit(2)
      }
    }
    val spark = Tables.localSession(
      Tables.localCpus(Runtime.getRuntime.availableProcessors().toString),
      appName = Some("graft-repl"))
    println(s"graft interactive -- tables from $dir; empty line executes, :help for commands")
    if (System.console() != null) {
      // real terminal: raw mode + the LineEditor (history, cursor editing,
      // TAB completion wired to the Lsp engine) — the reference CLI's
      // JLine3 surface (wvlet-cli WvletREPL.scala, JLine3Terminal.scala)
      val sttyOk =
        try new ProcessBuilder("sh", "-c", "stty -icanon -echo < /dev/tty")
          .inheritIO().start().waitFor() == 0
        catch { case _: Throwable => false }
      val histPath = java.nio.file.Paths.get(
        sys.props.getOrElse("user.home", "."), ".graft_history")
      val editor = new graft.repl.LineEditor(
        System.in, System.out,
        completer = (text, cur) => graft.lang.Lsp.complete(text, cur, spark, dir)
          .map(_.label).distinct.take(30),
        historyFile = Some(histPath))
      try loop(spark, dir,
        (prompt, buffered) => editor.readLine(prompt, buffered), System.out, limit,
        history = () => editor.historyLines)
      finally if (sttyOk)
        try new ProcessBuilder("sh", "-c", "stty sane < /dev/tty")
          .inheritIO().start().waitFor()
        catch { case _: Throwable => () }
    } else {
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
      loop(spark, dir, in, System.out, limit)
    }
  }

  /** Plain-stream flavor (piped stdin, specs): no prompts, no editing. */
  def loop(
      spark: SparkSession,
      dir: String,
      in: java.io.BufferedReader,
      out: java.io.PrintStream,
      limit0: Int
  ): Unit = loop(spark, dir, (_, _) => Option(in.readLine()), out, limit0)

  def loop(
      spark: SparkSession,
      dir: String,
      in: java.io.BufferedReader,
      out: java.io.PrintStream
  ): Unit = loop(spark, dir, in, out, 20)

  /** The REPL loop, separated from main for testability: `nextLine` maps
    * (prompt, buffered-statement-text) to the next input line (None =
    * EOF); prints to `out`, returns on EOF or :quit. The prompt
    * distinguishes a fresh statement from a multi-line continuation; the
    * buffered text gives the line editor's completer the pipeline prefix
    * typed on earlier lines. */
  def loop(
      spark: SparkSession,
      dir: String,
      nextLine: (String, String) => Option[String],
      out: java.io.PrintStream,
      limit0: Int = 20,
      history: () => Seq[String] = () => Nil
  ): Unit = {
    val ctx = graft.lang.Lowering.Context(spark, Tables.resolver(spark, dir), basePath = dir)
    var limit = limit0
    var explain = false
    val buf = new StringBuilder

    def execute(): Unit = {
      val text = buf.toString
      buf.clear()
      if (text.trim.isEmpty) return
      try {
        val df = Graft.runWith(ctx, text)
        if (df.columns.nonEmpty) {
          if (explain) out.println(df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
          // show() prints via Scala's println — route Console.out at `out`
          Console.withOut(out) { df.show(limit, truncate = false) }
        } else out.println("ok")
      } catch {
        case e: graft.lang.ParseException => out.println(s"[parse error] ${e.getMessage}")
        case e: graft.lang.LoweringException => out.println(s"[plan error] ${e.getMessage}")
        case e: graft.lang.TestFailure => out.println(s"[test failed] ${e.getMessage}")
        case e: Throwable =>
          out.println(s"[error] ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.take(3).mkString(" ")}")
      }
    }

    def prompt: String = if (buf.isEmpty) "graft> " else "     | "
    var lineOpt = nextLine(prompt, buf.toString)
    while (lineOpt.isDefined) {
      val line = lineOpt.get
      line.trim match {
        case ":quit" | ":q" => execute(); return
        case ":help" =>
          out.println(":tables :context :explain :limit N :describe :fragment :history :quit -- empty line executes the buffer")
        case ":history" =>
          // the line editor's recall ring (terminal mode); empty when piped
          val h = history()
          if (h.isEmpty) out.println("no history")
          else h.takeRight(limit).foreach(out.println)
        case ":describe" =>
          // schema of the buffered (partial) pipeline without executing it —
          // the reference REPL's describe-line widget (WvletREPL.scala:197)
          if (buf.isEmpty) out.println("nothing buffered")
          else try {
            val df = CompileApi.compileOnlyWith(ctx, buf.toString)
            out.println(df.schema.treeString)
          } catch {
            case e: Throwable =>
              out.println(s"[describe error] ${String.valueOf(e.getMessage).linesIterator.take(2).mkString(" ")}")
          }
        case ":fragment" =>
          // run the buffered pipeline AS IS without clearing the buffer —
          // the reference REPL's subquery-run widget (WvletREPL.scala:219):
          // peek at intermediate results, keep typing the chain
          if (buf.isEmpty) out.println("nothing buffered")
          else try {
            val df = Graft.runWith(ctx, buf.toString)
            if (df.columns.nonEmpty) Console.withOut(out) { df.show(limit, truncate = false) }
            else out.println("ok")
          } catch {
            case e: Throwable =>
              out.println(s"[fragment error] ${String.valueOf(e.getMessage).linesIterator.take(2).mkString(" ")}")
          }
        case ":tables" =>
          out.println(Tables.names.mkString(", "))
        case ":context" =>
          // session-state summary (reference REPL `context` command,
          // WvletREPL.scala:312): what this persistent compiler session
          // has accumulated so far
          out.println(s"tables from: $dir")
          def show(kind: String, names: Iterable[String]): Unit =
            if (names.nonEmpty) out.println(s"$kind: ${names.toSeq.sorted.mkString(", ")}")
          show("models", ctx.models.keys)
          show("vals", ctx.vals.keys)
          show("defs", ctx.funcs.keys)
          show("partials", ctx.partials.keys)
          show("flows", ctx.flows.keys)
          show("types", ctx.typeBindings.keys)
          if (ctx.currentSchema.nonEmpty)
            out.println(s"schema: ${ctx.currentSchema.values.mkString(", ")}")
        case ":explain" =>
          explain = !explain; out.println(s"explain ${if (explain) "on" else "off"}")
        case l if l.startsWith(":limit") =>
          try {
            limit = l.stripPrefix(":limit").trim.toInt
            out.println(s"limit $limit")
          } catch {
            case _: NumberFormatException => out.println("usage: :limit N")
          }
        case "" | ";" => execute()
        case _ => buf.append(line).append('\n')
      }
      lineOpt = nextLine(prompt, buf.toString)
    }
    execute() // EOF flushes any pending input
  }
}
