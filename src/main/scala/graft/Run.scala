package graft

import org.apache.spark.sql.SparkSession

/** CLI entry point — the analogue of the reference's `wvlet run`
  * (runner/WvletScriptRunner.scala): execute a flow-style query from a file
  * or inline `-e` text against a directory of parquet tables.
  *
  * Usage:
  *   runMain graft.Run -e "from lineitem count" [--dir /root/testdata/sf0.001] [--explain]
  *   runMain graft.Run query.wv [--dir DIR] [--json|--csv] [--limit N]
  */
object Run {
  def main(args: Array[String]): Unit = {
    var queryText: Option[String] = None
    var file: Option[String] = None
    var dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    var limit = 20
    var explain = false
    var format = "table"
    var transpile = false
    var fmt = false
    var toSql = false
    var target = "spark"
    var compileOnly = false
    var catalogFile: Option[String] = None
    var catalogExport: Option[String] = None
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "-e" => queryText = Some(args(i + 1)); i += 2
        case "--dir" => dir = args(i + 1); i += 2
        case "--limit" => limit = args(i + 1).toInt; i += 2
        case "--explain" => explain = true; i += 1
        case "--json" => format = "json"; i += 1
        case "--csv" => format = "csv"; i += 1
        case "--transpile" => transpile = true; i += 1
        case "--fmt" => fmt = true; i += 1
        case "--version" | "version" =>
          // reference WvletCli.version (wvlet-cli-core/src/main/scala/
          // wvlet/lang/cli/WvletCli.scala:24) — the default subcommand
          println(s"graft ${graft.server.Server.Version} (Spark ${org.apache.spark.SPARK_VERSION})")
          return
        case "--to-sql" => toSql = true; i += 1
        case "--target" | "-t" => target = args(i + 1); i += 2
        case "--compile" => compileOnly = true; i += 1
        case "--catalog" => catalogFile = Some(args(i + 1)); i += 2
        case "--catalog-export" => catalogExport = Some(args(i + 1)); i += 2
        case f => file = Some(f); i += 1
      }
    }
    if (catalogExport.isDefined) {
      // `wvlet catalog import` analogue (WvletCatalogCommand.scala:56-120,
      // #1881 offline validation): table schemas of --dir exported as `.wv`
      // type definitions; pair with `--compile --catalog FILE` to validate
      // queries with no data access at all
      val spark = localSession("graft-catalog")
      try {
        val out = catalogExport.get
        val names = graft.catalog.StaticCatalog.exportDir(spark, dir, out)
        println(s"wrote ${names.length} table types to $out: ${names.mkString(", ")}")
      } finally spark.stop()
      return
    }
    val text = queryText.orElse(file.map(f =>
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)),
        java.nio.charset.StandardCharsets.UTF_8))).getOrElse {
      System.err.println("usage: graft.Run (-e QUERY | FILE.wv) [--dir DIR] [--limit N] [--explain] [--json|--csv] [--fmt] [--transpile] [--compile [--catalog FILE.wv]] [--catalog-export OUT.wv]")
      sys.exit(2)
    }
    if (toSql) {
      // wv → SQL text for a target dialect (the reference's `wvlet compile
      // -t <dbtype>` codegen surface); no Spark session needed — pure AST
      // generation. `--target spark|duckdb|trino|hive`, default spark.
      try println(graft.lang.WvToSql.generate(text,
        graft.lang.WvToSql.Target.parse(target)))
      catch {
        case e: graft.lang.ParseException =>
          System.err.println(s"[parse error] ${e.getMessage}"); sys.exit(1)
        case e: graft.lang.WvToSql.Unsupported =>
          System.err.println(s"[to-sql error] ${e.getMessage}"); sys.exit(1)
      }
      return
    }
    if (fmt) {
      // canonical regeneration (the reference's WvletGenerator surface):
      // parse → print; no Spark session needed
      try println(graft.lang.WvPrinter.print(graft.lang.Parser.parseStatements(text)))
      catch {
        case e: graft.lang.ParseException =>
          System.err.println(s"[parse error] ${e.getMessage}"); sys.exit(1)
        case e: graft.lang.WvPrinter.Unprintable =>
          System.err.println(s"[fmt error] ${e.getMessage}"); sys.exit(1)
      }
      return
    }
    val spark = localSession("graft-run")
    try {
      if (transpile) {
        // SQL→wv migration surface (the reference's `wvlet transpile`):
        // each query statement prints as wvlet text; non-query statements
        // are passed over with a marker
        Graft.splitSqlStatements(text).foreach { stmt =>
          val normalized = graft.SqlDialect.normalize(spark, stmt)
          normalized.foreach { s =>
            try println(graft.lang.SqlToWvlet.transpile(s, spark) + "\n")
            catch {
              case e: graft.lang.SqlToWvlet.Unsupported =>
                System.err.println(s"-- skipped (${e.getMessage}): ${s.linesIterator.next().take(80)}")
            }
          }
        }
        spark.stop()
        return
      }
      if (compileOnly) {
        // `wvlet compile` analogue (WvletMain.scala:85-91): type-check and
        // plan the query WITHOUT executing anything — embedded test/debug
        // branches are analyzed, not run, so `--catalog` validates fully
        // offline against the static catalog's empty typed frames.
        // The flow-language parser backs this path; .sql/.md scripts run
        // through engines that execute commands eagerly and have no
        // action-free mode, so refuse rather than silently execute.
        if (file.exists(f => f.endsWith(".sql") || f.endsWith(".md"))) {
          System.err.println("[compile error] --compile supports .wv input only " +
            "(.sql/.md scripts execute statements eagerly)")
          spark.stop(); sys.exit(2)
        }
        val df = CompileApi.compileOnly(spark, text, dir, catalogFile)
        println(df.schema.treeString)
        // analyzed (not optimized): against a static catalog every input is
        // an empty LocalRelation and the optimizer folds the whole plan away
        println(df.queryExecution.analyzed.toString)
        spark.stop()
        return
      }
      val resolver: String => org.apache.spark.sql.DataFrame = catalogFile match {
        case Some(f) => graft.catalog.StaticCatalog.resolverFromFile(spark, f)
        case None => Tables.resolver(spark, dir)
      }
      val df =
        if (file.exists(_.endsWith(".sql"))) Graft.sqlScript(spark, text, Some(dir))
        else if (file.exists(_.endsWith(".md")))
          Graft.markdownScript(spark, text, resolver, basePath = dir)
        else Graft.run(spark, text, resolver, basePath = dir)
      if (explain) df.explain("formatted")
      format match {
        case "json" => df.limit(limit).toJSON.collect().foreach(println)
        case "csv" =>
          println(df.columns.mkString(","))
          df.limit(limit).collect().foreach(r => println(r.toSeq.mkString(",")))
        case _ => df.show(limit, truncate = false)
      }
    } catch {
      case e: graft.lang.ParseException =>
        System.err.println(s"[parse error] ${e.getMessage}"); sys.exit(1)
      case e: graft.lang.LoweringException =>
        System.err.println(s"[plan error] ${e.getMessage}"); sys.exit(1)
    } finally spark.stop()
  }

  private def localSession(appName: String): SparkSession =
    Tables.localSession(
      Tables.localCpus(Runtime.getRuntime.availableProcessors().toString), appName = Some(appName))
}
