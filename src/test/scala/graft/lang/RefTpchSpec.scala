package graft.lang

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.DataFrame

/** Executes the reference's own TPC-H corpus (`spec/tpch/
  * q1.wv through q22.wv, run by the reference's RunnerSpec.scala:102 with
  * prepareTPCH=true) end-to-end against the reference's sf0.01 dbgen data
  * (parquet under spec/tpch/data — the driver testdata lacks partsupp and
  * several TPC-H columns, so the corpus runs on the data the reference
  * itself ships: parquet files under spec/tpch/data). Row-count
  * expectations below are the known TPC-H sf0.01
  * answer sizes, pinned from DuckDB runs of the equivalent SQL. */
class RefTpchSpec extends SparkTestBase {

  private val tpchDir = graft.catalog.ReferenceCorpus.path("spec/tpch")
  private val dataDir = s"$tpchDir/data"

  private def tpchTable(name: String): DataFrame =
    spark.read.parquet(s"$dataDir/$name.parquet")

  /** files we do not run, with reasons */
  private val excluded: Map[String, String] = Map(
  )

  private def runFile(fname: String): DataFrame = {
    val text = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$tpchDir/$fname")))
    graft.Graft.run(spark, text, tpchTable(_))
  }

  // expected result-set row counts at sf0.01 (LIMIT included), pinned from
  // DuckDB runs of the standard TPC-H SQL over the same parquet files
  private val expectedRows: Map[String, Long] = Map(
    "q1.wv" -> 4L, "q2.wv" -> 4L, "q3.wv" -> 10L, "q4.wv" -> 5L,
    "q5.wv" -> 5L, "q6.wv" -> 1L, "q7.wv" -> 4L, "q8.wv" -> 2L,
    "q9.wv" -> 173L, "q10.wv" -> 20L, "q11.wv" -> 359L, "q12.wv" -> 2L,
    "q13.wv" -> 32L, "q13-opt.wv" -> 32L, "q14.wv" -> 1L, "q15.wv" -> 1L,
    "q16.wv" -> 296L, "q17.wv" -> 1L, "q18.wv" -> 2L, "q19.wv" -> 1L,
    "q20.wv" -> 1L, "q21.wv" -> 1L, "q22.wv" -> 7L
  )

  test("tpch corpus: all files execute") {
    val files = new java.io.File(tpchDir).listFiles()
      .filter(f => f.getName.matches("q.*\\.wv")).map(_.getName).sorted
    val failures = scala.collection.mutable.ListBuffer.empty[(String, String)]
    files.foreach { f =>
      if (!excluded.contains(f)) {
        try {
          val n = runFile(f).count()
          info(s"$f -> $n rows")
          expectedRows.get(f).foreach(exp => assert(n == exp, s"$f expected $exp rows, got $n"))
        } catch {
          case e: Throwable =>
            failures += f -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        }
      }
    }
    failures.foreach { case (f, m) => info(s"FAIL $f: $m") }
    assert(failures.isEmpty, s"${failures.size} tpch files failed: ${failures.map(_._1).mkString(", ")}")
  }
}
