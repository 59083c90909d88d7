package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Headline bench. r11 lesson: a single JVM running ~287 queries
  * accumulates heap/JIT/codegen-cache state that inflated late-suite heavy
  * queries up to 3x over their isolated medians (q_dedup_drop_clusters
  * 19.3 s in-suite vs 6.5-7.5 s isolated on the SAME build), costing the
  * round a phantom 1.27x regression headline. GC-every-25 was not enough.
  * Fix: the default entrypoint is now an ORCHESTRATOR that forks a fresh
  * JVM per ~48-query chunk (classpath + JVM flags inherited from this
  * process — build.sbt forks `run`, so java.class.path is the real app
  * classpath). Each child is the old in-process bench over its subset;
  * the parent aggregates chunk artifacts into the same one-line stdout
  * contract + BENCH_DETAIL.json. SPARK_GRAFT_FORK=0 restores the legacy
  * single-JVM path (for isolation runs).
  */
object Bench {
  private def loadavg(): String = BenchGuard.loadavg()

  // explicit ROOT locale: the f-interpolator honors the default locale, and
  // a comma-decimal locale would make the chunk artifacts (and
  // BENCH_DETAIL.json) invalid JSON — parseChunk would then silently match
  // nothing and every chunk would re-run in the fallback JVM, quietly
  // defeating the fork-isolation design
  private def s3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  private[graft] case class QResult(name: String, median: Double, runs: Seq[Double], failed: Boolean,
      retimed: Option[Double] = None)

  /** The row's EFFECTIVE seconds: min(median, retimed). The retime pass is
    * a self-DEFENSE against load-inflated medians — r15's artifact showed
    * the unclamped substitution doing the opposite (q_tpcds_q22 "retimed"
    * 1.47 s UP to 2.16 s when ambient load ramped mid-retime, loadavg
    * 1.90→6.13), so a retime can only ever LOWER a row's effective number;
    * both raw values stay stamped in the artifact (r15 verdict #1). */
  private[graft] def effectiveSec(r: QResult): Double =
    r.retimed.fold(r.median)(math.min(_, r.median))

  /** One forked suite run: per-query results, per-chunk load stamps, and
    * which chunk each query ran in (provenance for BenchSettle's floors). */
  private[graft] case class SuiteRun(results: Seq[QResult], chunkLoads: Seq[String],
      chunkOf: Map[String, Int], freshControls: Seq[Double] = Nil)

  /** Bench rows that never change across rounds, spanning the cost range —
    * their ratio-to-floor is stamped in every artifact (`controls` /
    * `control_ratio`) so cross-round comparisons can be normalized for
    * ambient load without forensics (TUNING.md r14: unchanged control
    * queries read ~1.6x under load). Only ever CHANGE this list alongside
    * a fresh settled run. */
  private[graft] val controlRows: Seq[String] =
    Seq("q_count", "q_agg_pricing_summary", "q_decontaminate_flag")

  /** Variance defense for multi-second rows: a row whose settled floor
    * exceeds [[HeavyRowFloorSec]] is timed [[HeavyRowRuns]] times instead
    * of the suite default — the dedup/cluster family showed 2x
    * intra-chunk spread with median-of-3 four rounds straight ([10.96,
    * 9.05, 5.37] within ONE chunk in r16), triggering retimes and
    * false-alarm regression headlines that a median-of-5 settles for
    * ~40 s of extra suite time. Applied identically by Bench and
    * BenchSettle (both run through [[runQueries]]), so floors and
    * measurements stay like-for-like. */
  private[graft] val HeavyRowFloorSec = 2.0
  private[graft] val HeavyRowRuns = 5

  /** Floors below this are micro-rows: scheduling jitter dominates their
    * medians, so ratio-to-floor is noise, not signal — stamped without
    * the `floor_ratio` field (r17 verdict #8). */
  private[graft] val MicroFloorSec = 0.3
  private[graft] def runsFor(base: Int, floor: Option[Double]): Int =
    if (floor.exists(_ > HeavyRowFloorSec)) base.max(HeavyRowRuns) else base

  /** Memo-BYPASSING ambient-load control (optimization r19, verdict r18
    * "what's wrong" #2): the three control ROWS now benefit from the r18
    * read-plan/view memoization, so their ratio-to-floor no longer isolates
    * ambient load from product speedups. This control times a deliberately
    * fresh construct — `spark.read.parquet` straight through DataFrameReader
    * (new footer read + file index every call, no Tables memo) plus a full
    * scan aggregate — so it moves ONLY with machine load and Spark's own
    * metadata path, never with catalog-level caching. Median of 3; stamped
    * per chunk child and aggregated (geomean) into the artifacts as
    * `control_fresh`. Additions-only: the existing `controls` /
    * `control_ratio` stamps are unchanged. */
  private def freshControl(spark: SparkSession, sfDir: String): Option[Double] = {
    def once(): Option[Double] = {
      val t0 = System.nanoTime()
      try {
        spark.read.parquet(s"$sfDir/lineitem.parquet")
          .where("l_quantity > 0").selectExpr("count(*)").collect()
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case _: Throwable => None }
    }
    val runs = (1 to 3).flatMap(_ => once())
    if (runs.isEmpty) None else Some(runs.sorted.apply(runs.size / 2))
  }

  /** The measurement core: warm run + per-query timed runs (`runsOf`,
    * floors-aware — see [[runsFor]]), median reported, full GC every 25
    * queries outside timed regions. */
  private def runQueries(spark: SparkSession, sfDir: String, runsOf: String => Int,
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
      val timed: Seq[Double] =
        if (warm.isEmpty) Nil
        else (1 to runsOf(name)).flatMap(_ => once())
      val sec =
        if (timed.nonEmpty) timed.sorted.apply(timed.size / 2) // median (upper for even n)
        else warm.getOrElse(0.0)
      System.err.println(f"[bench] $name%-32s $sec%8.2f s")
      QResult(name, sec, timed, failed = timed.isEmpty)
    }
  }

  private def warmUp(spark: SparkSession, sfDir: String): Unit = {
    // session warm-up outside any timed region: JVM/codegen/parquet-footer
    // costs land here instead of inflating the chunk's first query
    spark.range(1000).selectExpr("sum(id)").collect()
    try spark.read.parquet(s"$sfDir/region.parquet").count()
    catch { case _: Throwable => () }
  }

  private def selectedQueries(): Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] = {
    // SPARK_GRAFT_ONLY=<substr>[,<substr>…] — comma-separated substrings
    // select the union (same contract as SPARK_GRAFT_SCALE_ONLY), so one
    // settle run can floor several unrelated new rows
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.contains)) }
      // *_property companions are correctness gates that re-run their
      // underlying operator plus a brute-force comparator — no perf signal
      .filterNot { case (n, _) => n.endsWith("_property") }
  }

  private def detailJson(rs: Seq[QResult], floors: Map[String, Double]): String =
    rs.map { r =>
      val retime = r.retimed.map(v => s""","retimed":${s3(v)}""").getOrElse("")
      // floor + floor_ratio stamped per row where a floor exists: rows
      // above 1.5x floor but under the 0.25 s absolute retime gate used to
      // read as unexplained — the ratio makes the artifact self-describing.
      // Micro-rows (floor < MicroFloorSec) keep the floor but NOT the
      // ratio: their absolute deltas sit below the retime significance
      // gate, so a 0.07 s floor reading 0.29 s stamps "4.1x" noise into
      // every artifact (r17: 13 such rows, all deltas < 0.55 s) — the >2x
      // list must stay a real signal
      val floor = floors.get(r.name).filter(_ > 0).map { f =>
        val ratio =
          if (f >= MicroFloorSec) s""","floor_ratio":${s3(r.median / f)}""" else ""
        s""","floor":${s3(f)}$ratio"""
      }.getOrElse("")
      s""""${r.name}":{"median":${s3(r.median)},"runs":[${r.runs.map(s3).mkString(",")}]$retime$floor}"""
    }.mkString("{", ",", "}")

  /** Pinned settled-median floors (BENCH_REFERENCE.json in the working
    * dir): the self-defense reference for the post-suite retime pass.
    * Written ONLY by graft.BenchSettle from a settled run (per-floor
    * provenance stamps; hand edits are forbidden — see TUNING.md for the
    * regeneration command). Absent file or malformed entries → no floors →
    * no retime (the legacy behavior).
    *
    * Parsing accepts both the provenanced shape
    * `"q_x":{"floor":1.2,...}` and the legacy flat `"q_x":1.2`, but only
    * for keys matching the suite's `q_…` naming — a metadata field
    * ("sf":0.1, "generated":...) can never become a floor — and callers
    * additionally intersect with the actual suite names. */
  private[graft] def referenceFloors(json: String): Map[String, Double] = {
    """"(q_[a-z0-9_]+)"\s*:\s*(?:\{\s*"floor"\s*:\s*)?([0-9][0-9.eE+\-]*)""".r
      .findAllMatchIn(json)
      .flatMap(m => m.group(2).toDoubleOption.map(m.group(1) -> _)).toMap
  }

  /** The sf the floors file was settled at (from _meta; legacy files
    * without _meta are assumed sf0.1, the historical default). Floors are
    * meaningless across sf — a 0.001-settled floor would flag every sf0.1
    * row as an outlier and retime the whole suite. */
  private[graft] def floorsSf(json: String): String =
    """"_meta"\s*:\s*\{[^}]*"sf"\s*:\s*"([^"]*)"""".r.findFirstMatchIn(json)
      .map(_.group(1)).getOrElse("/root/testdata/sf0.1")

  private[graft] def referenceFloorsFile(sfDir: String): Map[String, Double] = {
    val p = Paths.get("BENCH_REFERENCE.json")
    if (!Files.exists(p)) return Map.empty
    try {
      val json = Files.readString(p)
      if (floorsSf(json) != sfDir) {
        System.err.println(s"[bench] BENCH_REFERENCE.json settled at ${floorsSf(json)} " +
          s"but this run is $sfDir — floors ignored (regenerate via graft.BenchSettle)")
        Map.empty
      } else referenceFloors(json)
    } catch { case _: Throwable => Map.empty }
  }

  // ---------------------------------------------------------------- child
  /** Child mode: run the query names listed in `chunkFile` (one per line)
    * and write a small JSON artifact to SPARK_GRAFT_CHUNK_OUT. Nothing on
    * stdout — the parent owns the driver's stdout contract. */
  private def runChunk(chunkFile: String): Unit = {
    val outPath = sys.env("SPARK_GRAFT_CHUNK_OUT")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Tables.localCpus("32")
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt.max(1)
    val names = Files.readAllLines(Paths.get(chunkFile)).toArray(Array.empty[String]).toSeq
      .map(_.trim).filter(_.nonEmpty)
    val byName = SparkEntry.queries
    val sel = names.flatMap(n => byName.get(n).map(n -> _))
    // heavy rows (settled floor > HeavyRowFloorSec) get HeavyRowRuns timed
    // runs — the child inherits the parent's cwd, so the floors file
    // resolves here too; floorless rows keep the suite default
    val floors = referenceFloorsFile(sfDir)
    val runsOf = (n: String) => runsFor(runs, floors.get(n))
    val loadBefore = loadavg()
    val spark = Tables.localSession(cpus)
    warmUp(spark, sfDir)
    val rs = runQueries(spark, sfDir, runsOf, sel)
    val ctlFresh = freshControl(spark, sfDir)
    val loadAfter = loadavg()
    val ctlStamp = ctlFresh.map(v => s""""control_fresh":${s3(v)},""").getOrElse("")
    val json =
      s"""{"load_before":"$loadBefore","load_after":"$loadAfter",$ctlStamp""" +
        s""""failures":${rs.count(_.failed)},"queries":${detailJson(rs, Map.empty)}}"""
    Files.writeString(Paths.get(outPath), json)
    spark.stop()
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

  /** Fork one chunk; returns the parsed (loadBefore, loadAfter, results,
    * freshControl) or None if the child failed (parent then falls back
    * in-process). */
  private def forkChunk(names: Seq[String], idx: Int): Option[(String, String, Seq[QResult], Option[Double])] = {
    val tmpDir = Files.createTempDirectory("graft-bench")
    val listFile = tmpDir.resolve(s"chunk$idx.txt")
    val outFile = tmpDir.resolve(s"chunk$idx.json")
    Files.writeString(listFile, names.mkString("\n"))
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val cp = System.getProperty("java.class.path")
    val cmd = Seq(javaBin) ++ inheritedJvmArgs() ++ Seq("-cp", cp, "graft.Bench")
    val pb = new ProcessBuilder(cmd: _*)
    pb.environment().put("SPARK_GRAFT_CHUNK_FILE", listFile.toString)
    pb.environment().put("SPARK_GRAFT_CHUNK_OUT", outFile.toString)
    // the parent already did the quiet-wait; children must not re-wait
    pb.environment().put("SPARK_GRAFT_LOAD_MAX", "0")
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    pb.redirectOutput(ProcessBuilder.Redirect.DISCARD) // stdout is the parent's contract
    try {
      val p = pb.start()
      // bounded wait: one hung child must not wedge the whole bench — kill
      // it and let the parent finish the chunk in-process
      // toLongOption: a malformed env value degrades to the default instead
      // of aborting the whole bench run (the BenchGuard env convention)
      val timeoutMin = sys.env.get("SPARK_GRAFT_CHUNK_TIMEOUT_MIN")
        .flatMap(_.toLongOption).getOrElse(30L).max(1L)
      val finished = p.waitFor(timeoutMin, java.util.concurrent.TimeUnit.MINUTES)
      if (!finished) {
        System.err.println(s"[bench] chunk $idx child hung >${timeoutMin}m — killing, falling back in-process")
        p.destroyForcibly().waitFor()
        None
      } else if (p.exitValue() != 0 || !Files.exists(outFile)) {
        System.err.println(s"[bench] chunk $idx child exited ${p.exitValue()} — falling back in-process")
        None
      } else Some(parseChunk(Files.readString(outFile)))
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] chunk $idx fork failed: $e — falling back in-process")
        None
    }
  }

  /** Minimal parser for the chunk artifact this object itself writes —
    * fixed shape, no general JSON needed. */
  private def parseChunk(json: String): (String, String, Seq[QResult], Option[Double]) = {
    def field(k: String): String = {
      val m = ("\"" + k + "\":\"([^\"]*)\"").r.findFirstMatchIn(json)
      m.map(_.group(1)).getOrElse("unavailable")
    }
    val qre = """"([A-Za-z0-9_]+)":\{"median":([0-9.\-eE]+),"runs":\[([0-9.,\-eE]*)\]\}""".r
    val rs = qre.findAllMatchIn(json).map { m =>
      val runs = m.group(3).split(",").toSeq.filter(_.nonEmpty).map(_.toDouble)
      QResult(m.group(1), m.group(2).toDouble, runs, failed = runs.isEmpty)
    }.toSeq
    val ctl = """"control_fresh":([0-9.\-eE]+)""".r.findFirstMatchIn(json)
      .flatMap(_.group(1).toDoubleOption)
    (field("load_before"), field("load_after"), rs, ctl)
  }

  /** The fork-per-chunk suite loop, shared by the driver-facing main and
    * graft.BenchSettle (which runs it quiet and writes the floors file). */
  private[graft] def runForkedSuite(sfDir: String, cpus: String, runs: Int,
      chunkSize: Int, forking: Boolean): SuiteRun = {
    val selected = selectedQueries()
    val chunks = selected.grouped(chunkSize).toSeq
    // in-process fallback paths apply the same floors-aware run count the
    // forked children do (runsFor), keeping medians like-for-like
    val fallbackFloors = referenceFloorsFile(sfDir)
    val runsOf = (n: String) => runsFor(runs, fallbackFloors.get(n))

    // lazily-created session for legacy mode / per-chunk fallback only
    var fallbackSpark: Option[SparkSession] = None
    def sparkFallback(): SparkSession = fallbackSpark.getOrElse {
      val s = Tables.localSession(cpus); warmUp(s, sfDir); fallbackSpark = Some(s); s
    }

    val chunkLoads = scala.collection.mutable.ArrayBuffer.empty[String]
    val chunkOf = scala.collection.mutable.Map.empty[String, Int]
    val freshControls = scala.collection.mutable.ArrayBuffer.empty[Double]
    val results: Seq[QResult] = chunks.zipWithIndex.flatMap { case (chunk, idx) =>
      chunk.foreach { case (n, _) => chunkOf(n) = idx }
      // settle delay between chunks: the previous chunk's 32-thread child
      // leaves the 1-min loadavg high for ~2 min after it exits, and r12's
      // chunk 1 (the whole dedup family) started under loadavg 9.41. The
      // CPUs are actually idle by then, but an artifact that stamps every
      // chunk start <3.0 is auditable without that argument. Bounded so a
      // genuinely-busy machine degrades to the r12 behavior, stamped.
      val (chunkWait, _) =
        if (forking && idx > 0)
          BenchGuard.waitUntilQuiet(threshold = 3.0, maxWaitSec = 180, pollSec = 5)
        else (0L, false)
      val forked = if (forking) forkChunk(chunk.map(_._1), idx) else None
      forked match {
        case Some((lb, la, rs, ctl)) =>
          chunkLoads += s"wait=$chunkWait;$lb;$la"
          ctl.foreach(freshControls += _)
          // a child that died mid-chunk yields fewer rows than names —
          // finish the missing tail in-process so no query silently drops
          val have = rs.map(_.name).toSet
          val missing = chunk.filterNot { case (n, _) => have.contains(n) }
          if (missing.isEmpty) rs
          else rs ++ runQueries(sparkFallback(), sfDir, runsOf, missing)
        case None =>
          chunkLoads += "fallback"
          runQueries(sparkFallback(), sfDir, runsOf, chunk)
      }
    }
    fallbackSpark.foreach(_.stop())
    SuiteRun(results, chunkLoads.toSeq, chunkOf.toMap, freshControls.toSeq)
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
    val chunkSize = sys.env.getOrElse("SPARK_GRAFT_CHUNK_SIZE", "48").toInt.max(1)
    val forking = sys.env.getOrElse("SPARK_GRAFT_FORK", "1") != "0"
    // wait (bounded) for the machine to go quiet BEFORE any timing —
    // recording loadavg alone let three consecutive rounds ship
    // load-poisoned headline numbers
    val (waitedSec, gaveUp) = BenchGuard.waitUntilQuiet()
    val loadBefore = loadavg()
    val run = runForkedSuite(sfDir, cpus, runs, chunkSize, forking)
    val results = run.results
    val chunkLoads = run.chunkLoads

    // ---- self-defense retime pass (r13 verdict #1): the dedup family
    // showed load-inflated ~2x medians in TWO consecutive driver artifacts
    // while settled replays sat at r11 levels — an artifact that cries wolf
    // eventually masks a real regression. Any row whose median exceeds
    // 1.5x its pinned settled floor (BENCH_REFERENCE.json, maintained from
    // TUNING.md's settled runs) re-runs ONCE more in a final fresh JVM
    // after a quiet-wait; BOTH numbers are stamped per row (`median`,
    // `retimed`) with the retime loadavg, so the artifact carries its own
    // load forensics. The headline `value` stays the raw median sum
    // (cross-round comparability); `value_retimed` substitutes retimed
    // medians where taken.
    // floors restricted to the suite's own names (a floors-file key that is
    // not a suite query can never drive a retime); floorless rows are
    // warned LOUDLY and stamped — every row is supposed to carry a floor
    // from the last settled run (graft.BenchSettle), so a floorless row
    // means the floors file is stale for this round's new queries
    val suiteNames = results.map(_.name).toSet
    val floors = referenceFloorsFile(sfDir).filter { case (k, _) => suiteNames.contains(k) }
    val floorless = results.filterNot(r => floors.contains(r.name)).map(_.name).sorted
    if (floorless.nonEmpty)
      System.err.println(s"[bench] ${floorless.size} rows have NO settled floor (retime " +
        s"self-defense disabled for them — regenerate via graft.BenchSettle): " +
        floorless.mkString(", "))
    val outliers = results.filter { r =>
      !r.failed && floors.get(r.name).exists(f =>
        f > 0 && r.median > 1.5 * f && r.median - f > 0.25)
    }.map(_.name)
    val (results2, retimeStamp): (Seq[QResult], String) =
      if (outliers.isEmpty || !forking) (results, "")
      else {
        val (rtWait, _) = BenchGuard.waitUntilQuiet(threshold = 3.0, maxWaitSec = 300, pollSec = 5)
        val rtLoadBefore = loadavg()
        forkChunk(outliers, run.chunkLoads.size) match {
          case Some((_, rtLoadAfter, rts, _)) =>
            val byName = rts.filterNot(_.failed).map(r => r.name -> r.median).toMap
            (results.map(r => byName.get(r.name).fold(r)(v => r.copy(retimed = Some(v)))),
              s""""retime":{"n":${outliers.size},"wait_sec":$rtWait,""" +
                s""""load_before":"$rtLoadBefore","load_after":"$rtLoadAfter"},""")
          case None =>
            System.err.println("[bench] retime child failed — artifact keeps raw medians only")
            (results, s""""retime":{"n":${outliers.size},"failed":true},""")
        }
      }

    val loadAfter = loadavg()
    val failures = results2.count(_.failed)
    val total = results2.map(_.median).sum
    val totalRetimed = results2.map(effectiveSec).sum
    // control rows: never-changing queries whose ratio-to-floor calibrates
    // ambient load for cross-round comparison (geomean stamped as
    // control_ratio; 1.0 = as quiet as the settled run that set the floors)
    val controlRatios: Seq[(String, Double)] = controlRows.flatMap { n =>
      results2.find(r => r.name == n && !r.failed).flatMap(r =>
        floors.get(n).filter(_ > 0).map(f => n -> effectiveSec(r) / f))
    }
    val controlRatio: Option[Double] =
      if (controlRatios.isEmpty) None
      else Some(math.exp(controlRatios.map(c => math.log(c._2)).sum / controlRatios.size))
    val controlStamp =
      s""""controls":{${controlRatios.map { case (n, v) => s""""$n":${s3(v)}""" }.mkString(",")}},""" +
        controlRatio.map(v => s""""control_ratio":${s3(v)},""").getOrElse("")
    // memo-bypassing fresh-construct control (geomean of the per-chunk
    // medians): an ambient-load signal that product-level caching can never
    // touch — see freshControl
    val controlFresh: Option[Double] =
      if (run.freshControls.isEmpty) None
      else Some(math.exp(run.freshControls.map(math.log).sum / run.freshControls.size))
    val controlFreshStamp =
      controlFresh.map(v => s""""control_fresh":${s3(v)},"control_fresh_n":${run.freshControls.size},""").getOrElse("")
    // stdout contract: ONE short JSON line (the driver tail-captures stdout,
    // so the line is kept small — 3-decimal seconds); the complete artifact
    // with per-run times and load stamps goes to BENCH_DETAIL.json.
    val detail =
      s"""{"metric":"total","value":${s3(total)},"value_retimed":${s3(totalRetimed)},"unit":"sec","sf":"$sfDir","cpus":"$cpus",""" +
        s""""runs_per_query":$runs,"loadavg_before":"$loadBefore","loadavg_after":"$loadAfter",""" +
        s""""quiet_wait_sec":$waitedSec,"quiet_gave_up":$gaveUp,""" +
        s""""fork_per_chunk":$forking,"chunk_size":$chunkSize,""" +
        s""""chunk_loads":[${chunkLoads.map(l => "\"" + l + "\"").mkString(",")}],""" +
        retimeStamp + controlStamp + controlFreshStamp +
        s""""floorless":[${floorless.map(n => "\"" + n + "\"").mkString(",")}],""" +
        s""""failures":$failures,"queries":${detailJson(results2, floors)}}"""
    try Files.writeString(Paths.get("BENCH_DETAIL.json"), detail)
    catch { case e: Throwable => System.err.println(s"[bench] detail write failed: $e") }
    // per-cpu-count copy (optimization r19, verdict r18 "what's wrong" #1):
    // the r18 driver's 8-core rerun overwrote the 32-core BENCH_DETAIL.json
    // and destroyed the round's per-query ground truth — each cpu count now
    // ALSO lands in its own file, so reruns at another width can never
    // clobber this one. Additions-only: the stdout line and the legacy
    // BENCH_DETAIL.json are byte-compatible with prior rounds.
    try Files.writeString(Paths.get(s"BENCH_DETAIL_c$cpus.json"), detail)
    catch { case e: Throwable => System.err.println(s"[bench] per-cpu detail write failed: $e") }
    val controlOut = controlRatio.map(v => s""","control_ratio":${s3(v)}""").getOrElse("") +
      controlFresh.map(v => s""","control_fresh":${s3(v)}""").getOrElse("")
    println(s"""{"metric":"total","value":${s3(total)},"value_retimed":${s3(totalRetimed)},"unit":"sec","n_queries":${results2.size},"failures":$failures,"sf":"$sfDir","cpus":$cpus,"load":"$loadBefore;$loadAfter","quiet_wait":"$waitedSec;$gaveUp","retimed_n":${results2.count(_.retimed.isDefined)},"floorless_n":${floorless.size}$controlOut,"detail":"BENCH_DETAIL.json"}""")
    if (failures > 0) System.err.println(s"[bench] $failures queries FAILED")
  }
}
