package graft.lang

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import graft.SparkTestBase

/** Executes the reference's Trino-engine spec corpora — `spec/trino` (the
  * files wvlet runs against a live Trino testcontainer, TrinoRunnerSpec) and
  * `spec/td-trino` (Treasure-Data Trino dialect) — through the Spark
  * lowering. The reference needs a running Trino server for these; here they
  * run on the same single engine as everything else, which is the point:
  * dialect-portable semantics (pivot variants, samples, regexp, dot-method
  * calls on strings, bucketed CTAS `with bucketed_on/bucket_count`) are
  * engine-independent in this implementation.
  *
  * All 12 files run; none are excluded.
  */
class RefTrinoSpec extends SparkTestBase {

  private val dirs = Seq(
    graft.catalog.ReferenceCorpus.path("spec/trino"),
    graft.catalog.ReferenceCorpus.path("spec/td-trino"))

  private lazy val specFiles: Seq[Path] = dirs.flatMap { d =>
    val dir = Paths.get(d)
    if (!Files.isDirectory(dir)) Seq.empty
    else Files.list(dir).iterator().asScala
      .filter(_.toString.endsWith(".wv"))
      .toSeq.sortBy(_.toString)
  }

  test("trino spec corpora: every file passes its own assertions") {
    assume(specFiles.nonEmpty, "reference trino corpus not present")
    spark.sql("DROP TABLE IF EXISTS tmp_table")
    def rmrf(x: java.io.File): Unit = {
      if (x.isDirectory) x.listFiles().foreach(rmrf)
      x.delete()
    }
    rmrf(new java.io.File("spark-warehouse/tmp_table"))
    // files write relative paths (target/out.parquet, tmp_table) — keep the
    // reference tree read-only by rooting writes in a scratch dir
    val scratch = Files.createTempDirectory("graft_trinospec").toString

    val failures = specFiles.flatMap { f =>
      val name = f.getFileName.toString
      val src = new String(Files.readAllBytes(f), java.nio.charset.StandardCharsets.UTF_8)
      try {
        val ctx = Lowering.Context(spark,
          n => spark.read.parquet(s"${f.getParent}/$n.parquet"),
          basePath = scratch)
        val stmts = Parser.parseStatements(src)
        Lowering.lowerStatements(stmts, ctx)
        ctx.tests.foreach { case (df, assertion) => TestRunner.check(df, assertion) }
        None
      } catch {
        case e: Throwable =>
          Some(s"$name :: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(160)}")
      }
    }
    assert(failures.isEmpty,
      s"${failures.length} trino spec(s) failed:\n${failures.mkString("\n")}")
    info(s"${specFiles.length} trino spec files passed")
  }
}
