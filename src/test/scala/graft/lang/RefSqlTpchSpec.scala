package graft.lang

import graft.SparkTestBase

/** Executes the reference's SQL-dialect TPC-H corpus (spec/sql/tpc-h,
  * q1.sql…q22.sql — standard TPC-H text) through the SQL front-end against
  * the reference-shipped dbgen data. Result sizes are pinned to the same
  * DuckDB-derived answer counts as the `.wv` corpus (RefTpchSpec), so the
  * two front-ends are checked against each other as well. */
class RefSqlTpchSpec extends SparkTestBase {

  private val sqlDir = graft.catalog.ReferenceCorpus.path("spec/sql/tpc-h")
  private val dataDir = graft.catalog.ReferenceCorpus.path("spec/tpch/data")

  private val expectedRows = Map(
    "q1.sql" -> 4L, "q2.sql" -> 4L, "q3.sql" -> 10L, "q4.sql" -> 5L,
    "q5.sql" -> 5L, "q6.sql" -> 1L, "q7.sql" -> 4L, "q8.sql" -> 2L,
    "q9.sql" -> 173L, "q10.sql" -> 20L, "q11.sql" -> 359L, "q12.sql" -> 2L,
    "q13.sql" -> 32L, "q14.sql" -> 1L, "q15.sql" -> 1L, "q16.sql" -> 296L,
    "q17.sql" -> 1L, "q18.sql" -> 2L, "q19.sql" -> 1L, "q20.sql" -> 1L,
    "q21.sql" -> 1L, "q22.sql" -> 7L)

  test("sql tpc-h corpus: every query executes with the expected row count") {
    Seq("customer", "lineitem", "nation", "orders", "part", "partsupp",
      "region", "supplier").foreach { t =>
      spark.read.parquet(s"$dataDir/$t.parquet").createOrReplaceTempView(t)
    }
    val failures = scala.collection.mutable.ListBuffer.empty[(String, String)]
    expectedRows.toSeq.sortBy(_._1).foreach { case (f, want) =>
      val text = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$sqlDir/$f")))
      try {
        val n = graft.Graft.sqlScript(spark, text, None).count()
        if (n != want) failures += f -> s"expected $want rows, got $n"
      } catch {
        case e: Throwable =>
          failures += f -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).replaceAll("\\s+", " ").take(160)}"
      }
    }
    failures.foreach { case (f, m) => info(s"FAIL $f: $m") }
    assert(failures.isEmpty, s"${failures.size} sql tpc-h files failed")
  }
}
