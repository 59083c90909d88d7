package graft.lang

import graft.SparkTestBase
import graft.catalog.TpcdsSchema

/** Executes the reference's TPC-DS SQL corpus (spec/sql/tpc-ds, 99 queries)
  * through the SQL front-end against EMPTY typed tables. The reference only
  * parse-tests these (RunnerSpec.scala:137-139); executing them drives full
  * analysis, optimization, and physical planning on every query — the
  * strongest available no-data gate over the dialect + planner surface
  * (correlated subqueries, rollup/grouping(), window frames, INTERSECT,
  * date arithmetic, 20+-way joins).
  */
class RefSqlTpcdsSpec extends SparkTestBase {

  private val dir = graft.catalog.ReferenceCorpus.path("spec/sql/tpc-ds")

  test("tpc-ds corpus: all 99 queries plan and execute on typed empty tables") {
    val d = new java.io.File(dir)
    assume(d.isDirectory, "tpc-ds corpus not present")
    TpcdsSchema.createEmptyViews(spark)
    val files = d.listFiles().filter(_.getName.endsWith(".sql")).sortBy(_.getName)
    val failures = scala.collection.mutable.ListBuffer.empty[(String, String)]
    files.foreach { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath))
      try graft.Graft.sqlScript(spark, text, None).collect()
      catch {
        case e: Throwable =>
          failures += f.getName -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).replaceAll("\\s+", " ").take(160)}"
      }
    }
    info(s"${files.length - failures.size}/${files.length} queries executed")
    failures.foreach { case (f, m) => info(s"FAIL $f: $m") }
    assert(failures.isEmpty, s"${failures.size} queries failed:\n" +
      failures.map { case (f, m) => s"$f :: $m" }.mkString("\n"))
  }
}
