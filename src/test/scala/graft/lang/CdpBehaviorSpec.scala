package graft.lang

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame

/** Executes the reference's cdp_behavior suite (spec/cdp_behavior). The
  * reference itself only COMPILES this suite (CDPBehaviorTest.scala:23-24
  * checks resolved plans); here behavior.wv runs end-to-end — package and
  * import decls, typed models over glob parquet paths, type blocks with
  * dialect member defs, and the subscribe() table function — and the
  * is_valid_behavior member-def model executes for real. */
class CdpBehaviorSpec extends SparkTestBase {

  private val cdpDir = graft.catalog.ReferenceCorpus.path("spec/cdp_behavior")

  private def readFile(f: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$cdpDir/$f")))

  private def noTables(name: String): DataFrame =
    throw new IllegalArgumentException(s"unexpected table ref: $name")

  test("behavior.wv: subscribe query executes, metadata recorded") {
    val ctx = Lowering.Context(spark, noTables, basePath = cdpDir)
    val stmts = Parser.parseStatements(readFile("cdp_types.wv") + "\n" + readFile("behavior.wv"))
    val out = Lowering.lowerStatements(stmts, ctx).get
    // the subscription reads the weblogs model = data/weblogs/*.parquet
    val n = out.count()
    assert(n > 0, "behavior subscription returned no rows")
    val direct = spark.read.parquet(s"$cdpDir/data/weblogs").count()
    assert(n == direct, s"full-refresh batch semantics: $n vs $direct")
    // subscribe() metadata drives the incremental (streaming) path
    assert(ctx.subscriptions.toList == List(
      (Some("time"), Map("watermark_column" -> "time", "window_size" -> "1h"))))
  }

  test("is_valid_behavior type member def filters the fluentd model") {
    val text = readFile("cdp_types.wv") + "\n" + readFile("behavior.wv") +
      "\n;\nfrom behavior_weblog_fluentd_ja"
    val ctx = Lowering.Context(spark, noTables, basePath = cdpDir)
    val out = Lowering.lowerStatements(Parser.parseStatements(text), ctx).get
    val total = spark.read.parquet(s"$cdpDir/data/weblog_fluentd_ja").count()
    val kept = out.count()
    assert(kept > 0 && kept <= total, s"kept=$kept total=$total")
    // the filter is real: every kept row satisfies the member-def conjuncts
    import org.apache.spark.sql.{functions => F}
    assert(out.filter(F.col("time").isNull || F.col("td_client_id").isNull).count() == 0)
  }

  test("cdp_simple suite: behavior model with member-def filter executes") {
    val dir = graft.catalog.ReferenceCorpus.path("spec/cdp_simple")
    def read(f: String) = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$dir/$f")))
    val text = read("cdp_types_duckdb.wv") + "\n" + read("behavior.wv") +
      "\n;\nfrom behavior_weblogs"
    val ctx = Lowering.Context(spark, noTables, basePath = dir)
    val out = Lowering.lowerStatements(Parser.parseStatements(text), ctx).get
    val total = spark.read.parquet(s"$dir/data/weblogs").count()
    val kept = out.count()
    assert(kept > 0 && kept <= total, s"kept=$kept total=$total")
  }

  test("customer.wv and cdp_types.wv parse (compile surface, reference parity)") {
    // the reference's own test for this suite is compile-only — match it for
    // the files behavior.wv does not execute
    Parser.parseStatements(readFile("cdp_types.wv"))
    Parser.parseStatements(readFile("customer.wv"))
  }
}
