package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{CompileApi, Graft, Tables}
import graft.lang.{Lowering, Parser}

/** One operation of a workload, as generated by the benchmark's Python side.
  * kind: `wv` (parse, lower, collect), `save` (a wv `save to`, which writes
  * while it lowers), `sql` (Graft.sqlScript, collect) or `compile`
  * (CompileApi.compileOnlyWith, never collected). */
final case class Op(i: Int, pass: Int, kind: String, key: String, text: String)

/** Closed-loop driver: one client thread sends the next op only after the
  * previous result is collected. The op list holds a warm-up pass (pass -1,
  * run untimed as part of set-up) and timed passes, each its own draw of
  * constants; timed ops run in order, pass after pass, until `--seconds`
  * have elapsed at the end of a block of `--block` ops; it stops with an
  * error if it runs out of passes. With `--trace 1` the first `--trace-ops`
  * ops of the first timed pass run instead, every op twice in a row, traced
  * and untraced in alternating order, so the trace's own cost can be read
  * off the difference and counts repeat exactly.
  *
  * Writes `ops.jsonl` (one line per op run), `rows.jsonl` (each distinct
  * result once, for the oracle check), `spans.jsonl` (traced runs: every
  * span with the Spark cost tied to it) and `summary.json` to `--out`; prints
  * one JSON line to stdout when done. */
object Driver {
  private val json = new ObjectMapper()

  final case class Args(
      ops: String, out: String, work: String, data: String, corpus: Option[String],
      seconds: Double, trace: Boolean, traceOps: Int, block: Int, launchedMs: Long,
      planOnly: Boolean)

  private def parseArgs(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m.getOrElse("ops", ""), m("out"), m("work"), m("data"), m.get("corpus"),
      m.getOrElse("seconds", "10").toDouble, m.getOrElse("trace", "0") == "1",
      m.getOrElse("trace-ops", "16").toInt, m("block").toInt,
      m.getOrElse("launched-ms", ManagementFactory.getRuntimeMXBean.getStartTime.toString).toLong,
      m.get("plan-only").contains("1"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val builder = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
    Tables.sessionConfigs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      if (args.planOnly) planOnly(spark, args)
      else new Run(spark, args, sessionS).run()
    } finally spark.stop()
  }

  /** Exchange and node counts of one SQL script's physical plan, without
    * executing it (the q14 self-test). */
  private def planOnly(spark: SparkSession, args: Args): Unit = {
    val text = new String(Files.readAllBytes(Paths.get(args.ops)), StandardCharsets.UTF_8)
    val df = Graft.sqlScript(spark, text, Some(args.data))
    val c = PlanStats.physical(df.queryExecution.executedPlan)
    println(json.writeValueAsString(Map(
      "event" -> "plan_counts", "physical_nodes" -> c.nodes,
      "shuffle_exchanges" -> c.shuffles, "broadcast_exchanges" -> c.broadcasts).asJava))
  }

  private[perfbench] def readOps(path: String): IndexedSeq[Op] =
    Files.readAllLines(Paths.get(path), StandardCharsets.UTF_8).asScala.filter(_.trim.nonEmpty)
      .map { line =>
        val n = json.readTree(line)
        Op(n.get("i").asInt, n.get("pass").asInt, n.get("kind").asText, n.get("key").asText, n.get("text").asText)
      }.toIndexedSeq

  /** A collected value as plain JSON data: decimals as doubles, dates and
    * timestamps as ISO strings (the JVM runs in UTC), structs and arrays as
    * lists. */
  private[perfbench] def jsonValue(v: Any): AnyRef = v match {
    case null => null
    case r: Row => r.toSeq.map(jsonValue).asJava
    case s: scala.collection.Seq[_] => s.map(jsonValue).asJava
    case d: java.math.BigDecimal => java.lang.Double.valueOf(d.doubleValue)
    case f: java.lang.Float => java.lang.Double.valueOf(f.doubleValue)
    case d: java.sql.Date => d.toLocalDate.toString
    case t: java.sql.Timestamp => t.toLocalDateTime.toString
    case x => x.asInstanceOf[AnyRef]
  }
}

/** One op's run: wall time, the error if it threw, the result columns and,
  * unless it is never collected, the rows. */
final case class Outcome(wallNanos: Long, error: Option[String], cols: Seq[String],
    rows: Option[Array[Row]])

/** Per-run state: the session, the passes, the traced aggregates. */
final class Run(spark: SparkSession, args: Driver.Args, sessionS: Double) {
  import Driver._

  private val json = new ObjectMapper()
  private val sc = spark.sparkContext
  private val ops = readOps(args.ops)
  private val scratch = new File(args.work, "scratch").getAbsolutePath
  private val corpusTables = Set("documents", "embeddings")
  private val opsOut = new PrintWriter(new java.io.FileWriter(new File(args.out, "ops.jsonl")), true)
  private val rowsOut = new PrintWriter(new File(args.out, "rows.jsonl"), "UTF-8")
  private val spansOut = new PrintWriter(new File(args.out, "spans.jsonl"), "UTF-8")
  private val seenResults = mutable.Set.empty[(String, String)]

  // traced-pass aggregates
  private val layerSelf = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val layerCalls = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var tracedOps, parseChars = 0L
  private var rootWall, childWall = 0.0
  // jobs per op run ("<op>:t" traced, "<op>:u" untraced), and the jobs the
  // layers count (compile's share of operators' jobs once)
  private val runJobs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private var layerJobs = 0L

  private def resolver(t: Tracer): String => DataFrame = name => t("tables") {
    if (name.startsWith("pb_scratch_")) Tables.readPath(spark, s"$scratch/$name.parquet")
    else if (args.corpus.isDefined && corpusTables(name)) Tables.read(spark, args.corpus.get, name)
    else if (Tables.names.contains(name)) Tables.read(spark, args.data, name)
    else throw new NoSuchElementException(s"no benchmark table '$name'")
  }

  private def runOp(op: Op, t: Tracer): Outcome = {
    t.op = op.i
    var df: DataFrame = null
    var rows: Option[Array[Row]] = None
    var physical = PlanStats.empty
    val start = System.nanoTime()
    val error = try {
      t("op") {
        op.kind match {
          case "wv" | "save" =>
            val stmts = t("lang.parse")(Parser.parseStatements(op.text))
            df = t("lang.lower")(Lowering.lowerStatements(stmts,
              Lowering.Context(spark, resolver(t), scratch)).getOrElse(spark.emptyDataFrame))
          case "sql" => df = t("sql")(Graft.sqlScript(spark, op.text, Some(args.data)))
          case "compile" =>
            df = t("compile")(CompileApi.compileOnlyWith(
              Lowering.Context(spark, resolver(t), args.data), op.text))
        }
        if (op.kind == "wv" || op.kind == "sql") {
          if (t.enabled) {
            t("catalyst.optimize")(df.queryExecution.optimizedPlan)
            val plan = t("catalyst.plan")(df.queryExecution.executedPlan)
            physical = PlanStats.physical(plan)
          }
          rows = Some(t("exec")(df.collect()))
        }
      }
      None
    } catch {
      case e: Throwable => Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(400)}")
    }
    val wall = System.nanoTime() - start
    if (t.enabled && error.isEmpty) {
      counts("lang.lower.analyzed_nodes") +=
        (if (op.kind == "wv") PlanStats.logicalNodes(df.queryExecution.analyzed) else 0)
      if (rows.isDefined) {
        counts("catalyst.optimize.plan_nodes") += PlanStats.logicalNodes(df.queryExecution.optimizedPlan)
        counts("catalyst.plan.physical_nodes") += physical.nodes
        counts("catalyst.plan.shuffle_exchanges") += physical.shuffles
        counts("catalyst.plan.broadcast_exchanges") += physical.broadcasts
        counts("exec.result_rows") += rows.get.length
      }
      if (op.kind == "wv" || op.kind == "save") parseChars += op.text.length
      if (op.kind == "sql") counts("sql.statements") += graft.perfbench.Access.sqlStatements(op.text)
    }
    val cols = if (df == null) Nil else df.schema.fieldNames.toSeq
    Outcome(wall, error, cols, rows)
  }

  /** Hash a result order-insensitively; write each distinct result once. */
  private def record(op: Op, pass: Int, traced: Boolean, o: Outcome): Unit = {
    val rec = new java.util.LinkedHashMap[String, AnyRef]()
    rec.put("pass", Int.box(pass)); rec.put("i", Int.box(op.i)); rec.put("key", op.key)
    rec.put("kind", op.kind); rec.put("traced", Boolean.box(traced))
    rec.put("wall_s", Double.box(o.wallNanos / 1e9))
    o.error.foreach(e => rec.put("error", e))
    if (o.error.isEmpty) {
      val lines = o.rows match {
        case Some(rs) => rs.map(r => json.writeValueAsString(jsonValue(r))).sorted
        case None if op.kind == "compile" => Array(json.writeValueAsString(o.cols.asJava))
        case None => Array.empty[String]
      }
      val md = java.security.MessageDigest.getInstance("SHA-256")
      md.update(json.writeValueAsString(o.cols.asJava).getBytes(StandardCharsets.UTF_8))
      lines.foreach(l => md.update((l + "\n").getBytes(StandardCharsets.UTF_8)))
      val hash = md.digest().map("%02x".format(_)).mkString
      rec.put("hash", hash); rec.put("rows", Int.box(o.rows.map(_.length).getOrElse(0)))
      if (seenResults.add((op.key, hash))) {
        val r = new java.util.LinkedHashMap[String, AnyRef]()
        r.put("key", op.key); r.put("hash", hash); r.put("cols", o.cols.asJava)
        r.put("rows", lines.toSeq.map(l => json.readTree(l)).asJava)
        rowsOut.println(json.writeValueAsString(r))
      }
    }
    opsOut.println(json.writeValueAsString(rec))
  }

  private def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def jitMillis: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  private def cpuNanos: Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  /** Folds one traced pass's spans and listener costs into the aggregates. */
  private def absorb(t: Tracer, listener: CostListener): Unit = {
    Bus.drain(sc)
    val self = t.selfSeconds
    val byId = t.spans.map(s => s.id -> s).toMap
    t.spans.foreach { s =>
      layerSelf(s.name) += self(s.id)
      layerCalls(s.name) += 1
      if (s.parent < 0) rootWall += s.seconds
      else if (byId(s.parent).parent < 0) childWall += s.seconds
    }
    val byLayer = mutable.Map.empty[String, Cost]
    val bySpan = mutable.Map.empty[Int, Cost]
    listener.synchronized {
      // span -1: the untraced runs of the same ops, which are not counted.
      // An operator's query runs some of its jobs (AQE stages, broadcasts)
      // on pool threads, whose call site names no program code: they count
      // as the operator's through the SQL execution they belong to.
      listener.costs.foreach { case (k, c) if k.span >= 0 =>
        val operators = k.operators || listener.operatorExecutions(k.execution)
        val layer = if (operators) "operators" else byId(k.span).name
        byLayer.getOrElseUpdate(layer, new Cost) += c
        layerJobs += c.jobs
        bySpan.getOrElseUpdate(k.span, new Cost) += c
        // compile-only jobs count against compile whichever code started them
        if (operators && byId(k.span).name == "compile")
          byLayer.getOrElseUpdate("compile", new Cost) += c
      case _ =>
      }
      listener.runJobs.foreach { case (run, n) => runJobs(run) += n }
    }
    t.spans.foreach { s =>
      val c = bySpan.getOrElse(s.id, new Cost)
      spansOut.println(json.writeValueAsString(Map(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_ns" -> s.start, "end_ns" -> s.end, "self_s" -> self(s.id),
        "jobs" -> c.jobs, "tasks" -> c.tasks, "task_cpu_s" -> c.taskCpuNanos / 1e9,
        "shuffle_write_bytes" -> c.shuffleWrite, "spill_bytes" -> c.spill).asJava))
    }
    byLayer.foreach { case (layer, c) =>
      counts(s"$layer.jobs") += c.jobs
      counts(s"$layer.job_s") += c.jobNanos / 1e9
      counts(s"$layer.stages") += c.stages
      counts(s"$layer.tasks") += c.tasks
      counts(s"$layer.failed_tasks") += c.failedTasks
      counts(s"$layer.task_cpu_s") += c.taskCpuNanos / 1e9
      counts(s"$layer.task_run_s") += c.taskRunMs / 1e3
      counts(s"$layer.task_wait_s") += c.taskWaitMs / 1e3
      counts(s"$layer.shuffle_write_mb") += c.shuffleWrite / 1048576.0
      counts(s"$layer.shuffle_read_mb") += c.shuffleRead / 1048576.0
      counts(s"$layer.spill_mb") += c.spill / 1048576.0
      counts(s"$layer.input_rows") += c.inputRows
      counts(s"$layer.bytes_written") += c.bytesWritten
    }
  }

  private val passes: Map[Int, IndexedSeq[Op]] = ops.groupBy(_.pass)
  private val draws = passes.keys.filter(_ >= 0).toSeq.sorted

  /** Runs ops in order until `stop()` holds at the end of a block of
    * `--block` ops; returns the untraced ops run, their wall seconds and CPU
    * nanos, and the wall seconds of the traced runs. */
  private def runOps(n: Int, ops: Seq[Op], trace: Boolean,
      stop: () => Boolean = () => false): (Int, Double, Long, Double) = {
    val plain = new Tracer(sc, enabled = false)
    val traced = new Tracer(sc, enabled = true)
    val listener = new CostListener
    if (trace) sc.addSparkListener(listener)
    var (done, plainWall, plainCpu, tracedWall) = (0, 0.0, 0L, 0.0)
    val it = ops.iterator.zipWithIndex
    while (it.hasNext && (done % args.block != 0 || done == 0 || !stop())) {
      val (op, j) = it.next()
      val order = if (!trace) Seq(false) else if (j % 2 == 0) Seq(true, false) else Seq(false, true)
      order.foreach { on =>
        if (trace) sc.setLocalProperty(CostListener.RunProperty, s"${op.i}:${if (on) "t" else "u"}")
        val c = cpuNanos
        val o = runOp(op, if (on) traced else plain)
        if (trace) sc.setLocalProperty(CostListener.RunProperty, null)
        if (on) tracedWall += o.wallNanos / 1e9
        else { plainWall += o.wallNanos / 1e9; plainCpu += cpuNanos - c }
        record(op, n, on, o)
      }
      done += 1
    }
    if (trace) {
      absorb(traced, listener)
      sc.removeSparkListener(listener)
      tracedOps += done
    }
    (done, plainWall, plainCpu, tracedWall)
  }

  def run(): Unit = {
    new File(scratch).mkdirs()
    val warm = System.nanoTime()
    runOps(-1, passes.getOrElse(-1, Nil), trace = false)
    // let the JIT finish what the warm-up queued before the clock starts
    // (for at most 5 s)
    val drainEnd = System.nanoTime() + 5000000000L
    var jit = jitMillis
    var idle = 0
    while (idle < 2 && System.nanoTime() < drainEnd) {
      Thread.sleep(200)
      val now = jitMillis
      idle = if (now == jit) idle + 1 else 0
      jit = now
    }
    val warmupS = (System.nanoTime() - warm) / 1e9
    val setupS = (System.currentTimeMillis() - args.launchedMs) / 1e3

    val (gc0, jit0) = (gcMillis, jitMillis)
    var cpuUntraced = 0L
    var untracedWall, tracedWall = 0.0
    var untracedOps = 0
    val timedStart = System.nanoTime()
    def elapsed = (System.nanoTime() - timedStart) / 1e9
    var n = 0
    var more = true
    while (more) {
      val ops = passes.getOrElse(n, throw new IllegalStateException(
        s"the op list holds ${draws.size} timed passes and the run needs more; generate more"))
      // traced: a fixed op count, so counts repeat exactly for a seed
      val (k, w, c, tw) =
        if (args.trace) runOps(n, ops.take(args.traceOps), trace = true)
        else runOps(n, ops, trace = false, stop = () => elapsed >= args.seconds)
      untracedWall += w; cpuUntraced += c; tracedWall += tw; untracedOps += k
      n += 1
      more = !args.trace && elapsed < args.seconds
    }
    val timedS = elapsed
    val gcS = (gcMillis - gc0) / 1e3
    val jitS = (jitMillis - jit0) / 1e3
    val heapAfterGc = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getCollectionUsage != null)
      .map(_.getCollectionUsage.getUsed).sum / 1048576.0
    opsOut.close(); rowsOut.close(); spansOut.close()
    // full GCs until the heap stops shrinking: what is left is retained
    val retained = Iterator.continually {
      System.gc(); Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.take(4).min

    val summary = new java.util.LinkedHashMap[String, AnyRef]()
    def put(k: String, v: Double): Unit = summary.put(k, Double.box(v))
    put("setup_s", setupS); put("session_s", sessionS); put("warmup_s", warmupS)
    put("timed_s", timedS); put("passes", n); put("ops_per_pass", passes(draws.head).size)
    put("untraced_wall_s", untracedWall); put("untraced_ops", untracedOps)
    put("untraced_cpu_s", cpuUntraced / 1e9)
    put("gc_s", gcS); put("jit_s", jitS); put("heap_after_gc_mb", heapAfterGc); put("retained_heap_mb", retained)
    put("cores", Runtime.getRuntime.availableProcessors())
    if (args.trace) {
      put("traced_wall_s", tracedWall); put("traced_ops", tracedOps); put("parse_chars", parseChars)
      put("span_root_s", rootWall); put("span_child_s", childWall); put("layer_jobs", layerJobs)
      val jobs = new java.util.TreeMap[String, AnyRef]()
      runJobs.foreach { case (k, v) => jobs.put(k, Long.box(v)) }
      summary.put("run_jobs", jobs)
      val layers = new java.util.TreeMap[String, AnyRef]()
      layerSelf.foreach { case (k, v) => layers.put(s"$k.self_s", Double.box(v)) }
      layerCalls.foreach { case (k, v) => layers.put(s"$k.calls", Double.box(v.toDouble)) }
      counts.foreach { case (k, v) => layers.put(k, Double.box(v)) }
      summary.put("layers", layers)
    }
    Files.write(Paths.get(args.out, "summary.json"),
      json.writeValueAsString(summary).getBytes(StandardCharsets.UTF_8))
    println(json.writeValueAsString(Map("event" -> "driver_done", "passes" -> n).asJava))
  }
}
