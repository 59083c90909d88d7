package graft.lang

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import graft.SparkTestBase

/** Executes the reference's showcase benchmark corpus (spec/benchmark —
  * five self-asserting .wv files demonstrating the language's
  * verifiability story: filter→aggregate, join-derived columns, windows,
  * multi-step pipelines, reconciliation with reused derived columns). Each
  * file embeds its own `test … should …` assertions over inline values, so
  * the gate needs no external data. */
class RefBenchmarkSpec extends SparkTestBase {

  private val specDir = graft.catalog.ReferenceCorpus.path("spec/benchmark")

  private lazy val specFiles: Seq[Path] = {
    val dir = Paths.get(specDir)
    if (!Files.isDirectory(dir)) Seq.empty
    else Files.list(dir).iterator().asScala
      .filter(_.toString.endsWith(".wv"))
      .toSeq.sortBy(_.toString)
  }

  test("reference benchmark corpus: every file passes its own assertions") {
    assume(specFiles.nonEmpty, "reference benchmark corpus not present")
    val failures = specFiles.flatMap { f =>
      val name = f.getFileName.toString
      val src = new String(Files.readAllBytes(f), java.nio.charset.StandardCharsets.UTF_8)
      try {
        val ctx = Lowering.Context(spark,
          n => graft.Tables.read(spark, sfDir, n), basePath = specDir)
        Lowering.lowerStatements(Parser.parseStatements(src), ctx)
        ctx.tests.foreach { case (df, assertion) => TestRunner.check(df, assertion) }
        None
      } catch {
        case e: Throwable =>
          Some(s"$name :: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      }
    }
    assert(failures.isEmpty,
      s"${failures.length} benchmark spec(s) failed:\n${failures.mkString("\n")}")
    info(s"${specFiles.length} benchmark spec files passed")
  }
}
