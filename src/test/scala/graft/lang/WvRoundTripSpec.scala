package graft.lang

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** wv → text → wv round trip over the reference's own spec corpora
  * (reference parity: RoundTripSpecBasic / RoundTripSpecTPCH,
  * codegen/RoundTripSpec.scala:55-57 — parse, print with WvletGenerator,
  * re-parse, compare plans). Pure parser-level: AST equality after
  * parse∘print is the complete gate, because lowering is a function of the
  * AST alone. No Spark session needed. */
class WvRoundTripSpec extends AnyFunSuite {

  private def wvFiles(dir: String): Seq[Path] = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) Seq.empty
    else Files.walk(d).iterator().asScala
      .filter(_.toString.endsWith(".wv")).toSeq.sortBy(_.toString)
  }

  private def roundTrip(files: Seq[Path], minOk: Int, corpus: String): Unit = {
    assume(files.nonEmpty, s"$corpus corpus not present")
    var ok = 0
    val failed = scala.collection.mutable.ListBuffer.empty[(String, String)]
    files.foreach { f =>
      val src = new String(Files.readAllBytes(f), java.nio.charset.StandardCharsets.UTF_8)
      val stmts =
        try Parser.parseStatements(src)
        catch {
          case e: Throwable => // not parseable at all — report, out of scope
            failed += f.getFileName.toString -> s"parse: ${e.getMessage}"
            Nil
        }
      if (stmts.nonEmpty) {
        try {
          val printed = WvPrinter.print(stmts)
          val reparsed =
            try Parser.parseStatements(printed)
            catch {
              case e: Throwable => throw new IllegalStateException(
                s"re-parse: ${e.getMessage}\n--- printed ---\n$printed")
            }
          if (reparsed == stmts) ok += 1
          else {
            val diff = stmts.zip(reparsed).collectFirst {
              case (a, b) if a != b => s"first diff:\n  orig: $a\n  back: $b"
            }.getOrElse(s"statement count ${stmts.length} vs ${reparsed.length}")
            throw new IllegalStateException(s"AST mismatch — $diff\n--- printed ---\n$printed")
          }
        } catch {
          case e: WvPrinter.Unprintable => failed += f.getFileName.toString -> e.getMessage
          case e: IllegalStateException => failed += f.getFileName.toString -> e.getMessage
        }
      }
    }
    failed.foreach { case (f, why) => info(s"FAIL $f: ${why.linesIterator.next()}") }
    info(s"$corpus: $ok/${files.length} files round-trip")
    try Files.writeString(Paths.get(s"/tmp/wv_roundtrip_${corpus.replace('/', '_')}.txt"),
      failed.map { case (f, w) => s"===== $f\n$w" }.mkString("\n\n"))
    catch { case _: Throwable => () }
    assert(ok >= minOk,
      s"expected >=$minOk $corpus files to round-trip, got $ok; first failures:\n" +
        failed.take(10).map { case (f, w) => s"$f: ${w.linesIterator.next()}" }.mkString("\n"))
  }

  test("spec/basic: parse -> print -> re-parse is the identity on the AST") {
    roundTrip(wvFiles(graft.catalog.ReferenceCorpus.path("spec/basic")), minOk = 132, corpus = "basic")
  }

  test("spec/tpch: parse -> print -> re-parse is the identity on the AST") {
    roundTrip(wvFiles(graft.catalog.ReferenceCorpus.path("spec/tpch")), minOk = 25, corpus = "tpch")
  }
}
