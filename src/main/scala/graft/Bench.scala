package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Times every catalog row: one warm run, then `SPARK_GRAFT_RUNS` timed
  * runs (default 3), and reports the median. The main forks a fresh JVM for
  * each chunk of [[ChunkSize]] rows (classpath and JVM flags inherited from
  * this process; build.sbt forks `run`, so java.class.path is the real app
  * classpath): one JVM running the whole suite accumulates heap, JIT and
  * codegen-cache state that inflated late heavy rows up to 3x over their
  * isolated medians (q_dedup_drop_clusters 19.3 s in-suite against 6.5-7.5 s
  * isolated on the same build). The parent prints one JSON line on stdout
  * and writes every row's runs to BENCH_DETAIL.json.
  */
object Bench {
  private[graft] val ChunkSize = 48

  /** A chunk's child still running after this is killed and its rows are
    * reported as failed. */
  private val ChunkTimeoutMin = 30L

  /** A row whose warm run took longer than [[HeavyRowWarmSec]] is timed
    * [[HeavyRowRuns]] times: multi-second rows (the dedup/cluster family)
    * spread up to 2x within one chunk, which a median of 3 does not settle. */
  private[graft] val HeavyRowWarmSec = 2.0
  private[graft] val HeavyRowRuns = 5

  private[graft] def runsFor(base: Int, warmSec: Double): Int =
    if (warmSec > HeavyRowWarmSec) base.max(HeavyRowRuns) else base

  /** The 1-, 5- and 15-minute load averages, stamped beside the timings. */
  private[graft] def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
      .split("\\s+").take(3).mkString(",")
    catch { case _: Throwable => "unavailable" }

  // explicit ROOT locale: the f-interpolator honors the default locale, and
  // a comma-decimal locale would make the chunk artifacts (and
  // BENCH_DETAIL.json) invalid JSON, so parseChunk would match no row
  private def s3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  private[graft] case class QResult(name: String, median: Double, runs: Seq[Double], failed: Boolean)

  /** Warm run, then [[runsFor]] timed runs per query, median reported; a
    * full GC every 25 queries, outside the timed regions. */
  private def runQueries(spark: SparkSession, sfDir: String, runs: Int,
      selected: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)]): Seq[QResult] = {
    var sinceGc = 0
    selected.map { case (name, fn) =>
      sinceGc += 1
      if (sinceGc >= 25) { sinceGc = 0; System.gc() }
      def once(): Option[Double] = {
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            None
        }
      }
      val warm = once()
      val timed: Seq[Double] = warm.fold(Seq.empty[Double])(w => (1 to runsFor(runs, w)).flatMap(_ => once()))
      val sec =
        if (timed.nonEmpty) timed.sorted.apply(timed.size / 2) // median (upper for even n)
        else warm.getOrElse(0.0)
      System.err.println(f"[bench] $name%-32s $sec%8.2f s")
      QResult(name, sec, timed, failed = timed.isEmpty)
    }
  }

  /** Session warm-up outside any timed region: JVM, codegen and
    * parquet-footer costs land here instead of in the first query. */
  private[graft] def warmUp(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1000).selectExpr("sum(id)").collect()
    try spark.read.parquet(s"$sfDir/region.parquet").count()
    catch { case _: Throwable => () }
  }

  /** The suite's row names, sorted. `SPARK_GRAFT_ONLY=<substr>[,<substr>…]`
    * keeps the rows whose name contains any of the substrings. */
  private def selectedQueries(): Seq[String] = {
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.exists(n.contains)))
      // *_property companions are correctness gates that re-run their
      // underlying operator plus a brute-force comparator — no perf signal
      .filterNot(_.endsWith("_property"))
  }

  private[graft] def detailJson(rs: Seq[QResult]): String =
    rs.map { r =>
      s""""${r.name}":{"median":${s3(r.median)},"runs":[${r.runs.map(s3).mkString(",")}]}"""
    }.mkString("{", ",", "}")

  // ---------------------------------------------------------------- child
  /** Child mode: run the query names listed in `chunkFile` (one per line)
    * and write a small JSON artifact to SPARK_GRAFT_CHUNK_OUT. Nothing on
    * stdout — the parent owns the stdout line. */
  private def runChunk(chunkFile: String): Unit = {
    val outPath = sys.env("SPARK_GRAFT_CHUNK_OUT")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt.max(1)
    val names = Files.readAllLines(Paths.get(chunkFile)).toArray(Array.empty[String]).toSeq
      .map(_.trim).filter(_.nonEmpty)
    val sel = names.flatMap(n => SparkEntry.queries.get(n).map(n -> _))
    val loadBefore = loadavg()
    val spark = Tables.localSession(Tables.localCpus("32"))
    warmUp(spark, sfDir)
    val rs = runQueries(spark, sfDir, runs, sel)
    Files.writeString(Paths.get(outPath), chunkJson(loadBefore, loadavg(), rs))
    spark.stop()
  }

  private[graft] def chunkJson(loadBefore: String, loadAfter: String, rs: Seq[QResult]): String =
    s"""{"load_before":"$loadBefore","load_after":"$loadAfter",""" +
      s""""failures":${rs.count(_.failed)},"queries":${detailJson(rs)}}"""

  /** The (load before, load after, rows) of a [[chunkJson]] artifact —
    * fixed shape, no general JSON needed. */
  private[graft] def parseChunk(json: String): (String, String, Seq[QResult]) = {
    def field(k: String): String =
      ("\"" + k + "\":\"([^\"]*)\"").r.findFirstMatchIn(json).map(_.group(1)).getOrElse("unavailable")
    val qre = """"([A-Za-z0-9_]+)":\{"median":([0-9.\-eE]+),"runs":\[([0-9.,\-eE]*)\]\}""".r
    val rs = qre.findAllMatchIn(json).map { m =>
      val runs = m.group(3).split(",").toSeq.filter(_.nonEmpty).map(_.toDouble)
      QResult(m.group(1), m.group(2).toDouble, runs, failed = runs.isEmpty)
    }.toSeq
    (field("load_before"), field("load_after"), rs)
  }

  // ----------------------------------------------------------- fork infra
  /** JVM flags of THIS process worth forwarding to a child measurement JVM:
    * module opens/exports, -X memory/GC, -D system props. */
  private def inheritedJvmArgs(): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val in = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toList
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < in.length) {
      val a = in(i)
      if ((a == "--add-opens" || a == "--add-exports" || a == "--add-modules") && i + 1 < in.length) {
        out += a += in(i + 1); i += 2
      } else if (a.startsWith("--add-opens=") || a.startsWith("--add-exports=") ||
                 a.startsWith("--add-modules=") ||
                 a.startsWith("-X") || a.startsWith("-D")) {
        out += a; i += 1
      } else i += 1
    }
    out.toSeq
  }

  /** Runs one chunk in a child JVM: its (load before, load after, rows), or
    * None when the child failed, hung or wrote no artifact. */
  private def forkChunk(names: Seq[String], idx: Int): Option[(String, String, Seq[QResult])] = {
    val tmpDir = Files.createTempDirectory("graft-bench")
    val listFile = tmpDir.resolve(s"chunk$idx.txt")
    val outFile = tmpDir.resolve(s"chunk$idx.json")
    Files.writeString(listFile, names.mkString("\n"))
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val cmd = Seq(javaBin) ++ inheritedJvmArgs() ++ Seq("-cp", System.getProperty("java.class.path"), "graft.Bench")
    val pb = new ProcessBuilder(cmd: _*)
    pb.environment().put("SPARK_GRAFT_CHUNK_FILE", listFile.toString)
    pb.environment().put("SPARK_GRAFT_CHUNK_OUT", outFile.toString)
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    pb.redirectOutput(ProcessBuilder.Redirect.DISCARD) // stdout is the parent's
    try {
      val p = pb.start()
      if (!p.waitFor(ChunkTimeoutMin, java.util.concurrent.TimeUnit.MINUTES)) {
        System.err.println(s"[bench] chunk $idx child hung >${ChunkTimeoutMin}m — killed, its rows fail")
        p.destroyForcibly().waitFor()
        None
      } else if (p.exitValue() != 0 || !Files.exists(outFile)) {
        System.err.println(s"[bench] chunk $idx child exited ${p.exitValue()} — its rows fail")
        None
      } else Some(parseChunk(Files.readString(outFile)))
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] chunk $idx fork failed: $e — its rows fail")
        None
    }
  }

  // --------------------------------------------------------------- parent
  def main(args: Array[String]): Unit = {
    sys.env.get("SPARK_GRAFT_CHUNK_FILE") match {
      case Some(f) => runChunk(f); return
      case None => ()
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Tables.localCpus("32")
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt.max(1)
    val loadBefore = loadavg()
    val chunkLoads = scala.collection.mutable.ArrayBuffer.empty[String]
    val results: Seq[QResult] = selectedQueries().grouped(ChunkSize).zipWithIndex.flatMap { case (chunk, idx) =>
      // a row missing from the child's artifact (the child died) fails
      val byName = forkChunk(chunk, idx) match {
        case Some((lb, la, rs)) => chunkLoads += s"$lb;$la"; rs.map(r => r.name -> r).toMap
        case None => chunkLoads += "failed"; Map.empty[String, QResult]
      }
      chunk.map(n => byName.getOrElse(n, QResult(n, 0.0, Nil, failed = true)))
    }.toSeq
    val loadAfter = loadavg()
    val failures = results.count(_.failed)
    val total = results.map(_.median).sum
    // stdout: ONE short JSON line (3-decimal seconds); the complete artifact
    // with per-run times and load stamps goes to BENCH_DETAIL.json
    val detail =
      s"""{"metric":"total","value":${s3(total)},"unit":"sec","sf":"$sfDir","cpus":"$cpus",""" +
        s""""runs_per_query":$runs,"loadavg_before":"$loadBefore","loadavg_after":"$loadAfter",""" +
        s""""chunk_size":$ChunkSize,"chunk_loads":[${chunkLoads.map(l => "\"" + l + "\"").mkString(",")}],""" +
        s""""failures":$failures,"queries":${detailJson(results)}}"""
    // one copy per cpu count as well, so a rerun at another width keeps
    // this run's per-row numbers
    Seq("BENCH_DETAIL.json", s"BENCH_DETAIL_c$cpus.json").foreach { f =>
      try Files.writeString(Paths.get(f), detail)
      catch { case e: Throwable => System.err.println(s"[bench] $f write failed: $e") }
    }
    println(s"""{"metric":"total","value":${s3(total)},"unit":"sec","n_queries":${results.size},"failures":$failures,"sf":"$sfDir","cpus":$cpus,"load":"$loadBefore;$loadAfter","detail":"BENCH_DETAIL.json"}""")
    if (failures > 0) System.err.println(s"[bench] $failures queries FAILED")
  }
}
