package graft

import org.apache.spark.sql.execution.{ExplainMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import java.nio.file.{Files, Paths}

/** Optimization-round instrumentation: dump `.explain("formatted")` for
  * catalog queries (the `plans/rNN/<query>_{before,after}.txt` artifacts)
  * plus a per-query timing split — DataFrame CONSTRUCTION time (parse +
  * lower + analyze; for the build-once index/staging rows also their
  * memoized first-build cost) vs the timed ACTION (`.count()`, the bench's
  * methodology). Usage:
  *
  *   sbt "runMain graft.PlanDump plans/r18 _before q_tpcds_q14,q_sample"
  *
  * Args: <outDir> <suffix> [comma-separated names | substring filter
  * `~substr`]. Timings land in <outDir>/timings<suffix>.json (merged over
  * the names this run touched).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = if (args.length > 1) args(1) else "_before"
    val all = graft.catalog.QueryCatalog.queries
    val names: Seq[String] =
      if (args.length <= 2) all.keys.toSeq.sorted
      else if (args(2).startsWith("~")) all.keys.toSeq.filter(_.contains(args(2).drop(1))).sorted
      else args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Tables.localSession(Tables.localCpus("32"))
    Files.createDirectories(Paths.get(outDir))
    // so the first row's construct/count split is not JVM cold-start
    Bench.warmUp(spark, sfDir)
    def s3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val rows = scala.collection.mutable.ArrayBuffer.empty[String]
    names.foreach { name =>
      all.get(name) match {
        case None => System.err.println(s"[plandump] unknown query: $name")
        case Some(fn) =>
          try {
            spark.sparkContext.setJobDescription(s"plandump: $name construct")
            val t0 = System.nanoTime()
            val df = fn(spark, sfDir)
            val tConstruct = (System.nanoTime() - t0) / 1e9
            val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
            Files.writeString(Paths.get(outDir, s"$name$suffix.txt"), plan)
            val exchanges = exchangesOf(df.queryExecution.executedPlan)
            spark.sparkContext.setJobDescription(s"plandump: $name count")
            val t1 = System.nanoTime()
            val n = df.count()
            val tCount = (System.nanoTime() - t1) / 1e9
            // second count over a FRESH construction: the steady-state the
            // bench medians measure (memoized staging already built)
            val t2 = System.nanoTime()
            fn(spark, sfDir).count()
            val tWarm = (System.nanoTime() - t2) / 1e9
            spark.sparkContext.setJobDescription(null)
            System.err.println(f"[plandump] $name%-36s construct=$tConstruct%6.2f s  " +
              f"count1=$tCount%6.2f s  count2=$tWarm%6.2f s  rows=$n%8d  exchanges=$exchanges%2d")
            rows += s""""$name":{"construct":${s3(tConstruct)},"count1":${s3(tCount)},""" +
              s""""count2":${s3(tWarm)},"rows":$n,"exchanges":$exchanges}"""
          } catch {
            case e: Throwable =>
              System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
              rows += s""""$name":{"failed":${"\""}${Option(e.getMessage).getOrElse("?").take(120).replaceAll("[\"\\\\\n\r\t{}]", " ")}${"\""}}"""
          }
      }
    }
    // merge with any existing timings file (the doc contract): a partial
    // rerun updates only the names it touched instead of discarding prior
    // rows. Existing entries are parsed shallowly (name → raw JSON object),
    // which is exactly the shape this object writes.
    val outFile = Paths.get(outDir, s"timings$suffix.json")
    val prior: Map[String, String] =
      if (!Files.exists(outFile)) Map.empty
      else try {
        """"(q_[A-Za-z0-9_]+)":(\{[^{}]*\})""".r.findAllMatchIn(Files.readString(outFile))
          .map(m => m.group(1) -> m.group(2)).toMap
      } catch { case _: Throwable => Map.empty }
    val fresh = rows.map { r =>
      val name = r.takeWhile(_ != ':').stripPrefix("\"").stripSuffix("\"")
      name -> r.drop(r.indexOf(':') + 1)
    }.toMap
    val merged = (prior ++ fresh).toSeq.sortBy(_._1)
      .map { case (n, body) => s""""$n":$body""" }
    Files.writeString(outFile, merged.mkString("{", ",\n", "}"))
    spark.stop()
  }

  /** Shuffle and broadcast exchange nodes of a physical plan as AQE starts
    * it (its initial plan, every exchange already inserted), subquery plans
    * included — counted on the plan tree, not in explain text, which
    * prints each node twice. */
  private def exchangesOf(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchangesOf(a.executedPlan)
    case s: QueryStageExec => exchangesOf(s.plan)
    case _ =>
      val self = p match {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => 1
        case _ => 0
      }
      (p.children ++ p.subqueries).map(exchangesOf).sum + self
  }
}
