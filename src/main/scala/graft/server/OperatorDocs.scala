package graft.server

import org.apache.spark.sql.SparkSession

/** The native-table-function reference page, built from the registry
  * (graft.lang.TableFunctions): each entry's name, signature and example;
  * its output schema from compiling the example (compile-only, with the
  * registry's example relations in scope); the catalog rows whose wv text
  * calls it (QueryCatalog.queryWvTexts); and those rows' scale exponents
  * from BENCH_SCALE.json (absent file → column omitted). */
object OperatorDocs {

  final case class OpDoc(
      name: String,
      args: String,
      example: String,
      schema: String,
      oracleRows: Seq[String],
      scaleExponents: Map[String, Double])

  private val cache = scala.collection.concurrent.TrieMap.empty[String, Seq[OpDoc]]

  def build(spark: SparkSession, dir: String): Seq[OpDoc] =
    cache.getOrElseUpdate(dir, {
      val exps = scaleExponents()
      val texts = graft.catalog.QueryCatalog.queryWvTexts
      graft.lang.TableFunctions.entries.map { e =>
        val name = e.name
        val callRe = ("""(?s).*\b""" + java.util.regex.Pattern.quote(name) + """\s*\(.*""").r
        val rows = texts.collect { case (n, t) if callRe.matches(t) => n }.toSeq.sorted
        OpDoc(name, e.signature, e.example, exampleSchema(spark, dir, e.example), rows,
          rows.flatMap(r => exps.get(r).map(r -> _)).toMap)
      }
    })

  /** Test hook: drop the per-dir cache (mirrors Subscribe.clearIndexCache). */
  def clearCache(): Unit = cache.clear()

  private def schemaOf(df: org.apache.spark.sql.DataFrame): String =
    df.schema.fields.map(f => s"${f.name}: ${f.dataType.simpleString}").mkString(", ")

  private def exampleSchema(spark: SparkSession, dir: String, example: String): String =
    try schemaOf(graft.CompileApi.compileOnly(
      spark, graft.lang.TableFunctions.examplePreamble + s"from $example", dir, None))
    catch { case _: Throwable => "" }

  /** Per-row scale exponents from BENCH_SCALE.json (machine-written by
    * graft.BenchScale); absent or malformed file → empty. */
  private[server] def scaleExponents(): Map[String, Double] = {
    val p = java.nio.file.Paths.get("BENCH_SCALE.json")
    if (!java.nio.file.Files.exists(p)) return Map.empty
    val json = try java.nio.file.Files.readString(p) catch { case _: Throwable => return Map.empty }
    """"(q_[a-z0-9_]+)"\s*:\s*\{[^{}]*"exponent"\s*:\s*(-?[0-9.eE+]+)""".r
      .findAllMatchIn(json)
      .flatMap(m => m.group(2).toDoubleOption.map(m.group(1) -> _)).toMap
  }

  /** Server-rendered HTML reference table (the /operators page). */
  def page(spark: SparkSession, dir: String): String = {
    def esc(s: String): String =
      s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    val rows = build(spark, dir).map { d =>
      val oracle = d.oracleRows.map { r =>
        val exp = d.scaleExponents.get(r).map(e => f" <span class=exp>exp $e%.2f</span>")
          .getOrElse("")
        s"<li><code>${esc(r)}</code>$exp</li>"
      }.mkString
      s"""<tr><td><code>${esc(d.name)}</code></td>
         |<td><code>${esc(d.args)}</code><div class=ex>e.g. <code>${esc(d.example)}</code></div></td>
         |<td><code>${esc(d.schema)}</code></td>
         |<td><ul>$oracle</ul></td></tr>""".stripMargin
    }.mkString("\n")
    s"""<!doctype html><html><head><meta charset="utf-8">
       |<title>graft · operator reference</title>
       |<style>
       |body{font:14px/1.5 system-ui,sans-serif;margin:2rem;max-width:1200px}
       |table{border-collapse:collapse;width:100%}
       |td,th{border:1px solid #ccc;padding:.4rem .6rem;vertical-align:top;text-align:left}
       |code{font:12px ui-monospace,monospace;word-break:break-word}
       |.ex{color:#666;margin-top:.3rem}.exp{color:#06c;font-size:11px}
       |ul{margin:0;padding-left:1.1rem}
       |</style></head><body>
       |<h1>Native table functions</h1>
       |<p>Generated from the table-function registry
       |(<code>TableFunctions</code>), the correctness catalog, and
       |BENCH_SCALE.json — nothing on this page is hand-maintained.</p>
       |<table><tr><th>function</th><th>signature</th><th>output schema</th>
       |<th>oracle rows · scale exponent</th></tr>
       |$rows
       |</table></body></html>""".stripMargin
  }
}
