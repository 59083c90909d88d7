package graft.lang

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Selection totality over the reference's own corpus: for every spec file
  * that parses, every cursor line, and every selection mode, selectText must
  * return a fragment that itself parses (or, for `all`, the original). This
  * is the gate that makes editor selections safe to wire to a UI — no
  * cursor position may crash or produce an unparseable slice. */
class SelectionFuzzSpec extends AnyFunSuite {

  private def wvFiles(dir: String): Seq[Path] = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) Seq.empty
    else Files.walk(d).iterator().asScala
      .filter(_.toString.endsWith(".wv")).toSeq.sortBy(_.toString)
  }

  test("every (file, line, mode) selection parses on spec/basic + spec/tpch") {
    val files = wvFiles(graft.catalog.ReferenceCorpus.path("spec/basic")) ++ wvFiles(graft.catalog.ReferenceCorpus.path("spec/tpch"))
    assume(files.nonEmpty, "reference corpus not present")
    var checked = 0
    val failures = scala.collection.mutable.ListBuffer.empty[String]
    files.foreach { f =>
      val src = new String(Files.readAllBytes(f), java.nio.charset.StandardCharsets.UTF_8)
      val parses =
        try { Parser.parseStatements(src); true }
        catch { case _: Throwable => false }
      if (parses) {
        val lines = src.count(_ == '\n') + 1
        for (line <- 1 to lines; mode <- Seq("single", "subquery", "describe", "allbefore")) {
          try {
            val frag = Selection.selectText(src, mode, line)
            Parser.parseStatements(frag)
            checked += 1
          } catch {
            case e: Throwable =>
              failures += s"${f.getFileName}:$line [$mode]: ${String.valueOf(e.getMessage).linesIterator.next()}"
          }
        }
      }
    }
    info(s"$checked selections verified, ${failures.size} failures")
    failures.take(10).foreach(m => info(s"FAIL $m"))
    assert(failures.isEmpty, s"${failures.size} selection failures; first: ${failures.headOption}")
  }
}
