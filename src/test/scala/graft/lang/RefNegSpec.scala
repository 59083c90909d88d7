package graft.lang

import graft.SparkTestBase
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Runs the reference's NEGATIVE spec corpus (spec/neg): every file must
  * fail with a reported user error — never a StackOverflowError, an
  * infinite loop, or a silent success (reference: the corpus' own header
  * comments state the expectation per file). */
class RefNegSpec extends SparkTestBase {

  private val negDir = graft.catalog.ReferenceCorpus.path("spec/neg")

  private def files: Seq[java.nio.file.Path] =
    Files.walk(Paths.get(negDir)).iterator().asScala
      .filter(_.toString.endsWith(".wv")).toSeq.sortBy(_.toString)

  test("every negative spec fails with a user error, not a crash") {
    assume(Files.isDirectory(Paths.get(negDir)), "neg corpus not present")
    val problems = files.flatMap { f =>
      val name = f.getFileName.toString
      val src = new String(Files.readAllBytes(f), java.nio.charset.StandardCharsets.UTF_8)
      try {
        graft.Graft.run(spark, src,
          n => spark.read.parquet(s"$negDir/$n.parquet"),
          basePath = f.getParent.toString)
        Some(s"$name :: expected a failure but the file succeeded")
      } catch {
        case _: StackOverflowError =>
          Some(s"$name :: StackOverflowError — must be a reported user error")
        case e @ (_: ParseException | _: LoweringException | _: TestFailure) =>
          info(s"$name -> ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(90)}")
          None
        case e: Throwable =>
          // engine-level exceptions are acceptable only if they carry a
          // message a user can act on (no bare NPEs/overflows)
          if (e.getMessage == null) Some(s"$name :: ${e.getClass.getName} with no message")
          else {
            info(s"$name -> ${e.getClass.getSimpleName}: ${e.getMessage.take(90)}")
            None
          }
      }
    }
    assert(problems.isEmpty, problems.mkString("\n"))
  }
}
