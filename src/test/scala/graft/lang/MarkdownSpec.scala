package graft.lang

import java.nio.file.{Files, Paths}
import graft.{Graft, SparkTestBase}
import graft.lang.Markdown._

/** Markdown literate-query front-end, gated on the reference's own
  * spec/markdown corpus (ParserSpecMarkdown): every file parses into a
  * block list that reproduces the source byte-for-byte (the reference's
  * CST roundtrip contract), code blocks carry language + title attributes,
  * and the runnable blocks of a document execute end-to-end.
  */
class MarkdownSpec extends SparkTestBase {

  private val mdDir = graft.catalog.ReferenceCorpus.path("spec/markdown")

  private def mdFiles: Seq[java.io.File] = {
    val d = new java.io.File(mdDir)
    if (!d.isDirectory) Seq.empty
    else d.listFiles().filter(_.getName.endsWith(".md")).toSeq.sortBy(_.getName)
  }

  test("reference markdown corpus roundtrips byte-for-byte") {
    assume(mdFiles.nonEmpty, "markdown corpus not present")
    mdFiles.foreach { f =>
      val text = new String(Files.readAllBytes(f.toPath))
      val blocks = Markdown.parse(text)
      assert(blocks.map(_.raw).mkString == text, s"roundtrip failed: ${f.getName}")
    }
    info(s"${mdFiles.size} files roundtripped")
  }

  test("code blocks carry language and title attributes") {
    val text = new String(Files.readAllBytes(Paths.get(s"$mdDir/code-with-title.md")))
    val codes = Markdown.parse(text).collect { case c: Code => c }
    assert(codes.map(_.lang) == List(Some("wv"), Some("sql"), Some("python")))
    assert(codes.head.attrs("title") == "/query.wv")
    assert(codes(1).attrs("title") == "user_query.sql")
    assert(codes(2).attrs == Map("title" -> "main.py", "highlight" -> "1,3-5"))
    // only wv/sql are executable units
    assert(Markdown.queryBlocks(text).map(_._1) == List("wv", "sql"))
  }

  test("heading levels parse") {
    val text = new String(Files.readAllBytes(Paths.get(s"$mdDir/heading.md")))
    val hs = Markdown.parse(text).collect { case h: Heading => h.level }
    assert(hs.nonEmpty && hs.forall(l => l >= 1 && l <= 6))
  }

  test("a literate document executes its wv and sql blocks") {
    // code-with-title.md: a wv block reading sample.json, a sql block over
    // `users`, and a python block (skipped). Provision both inputs.
    val scratch = Files.createTempDirectory("graft_md").toString
    Files.write(Paths.get(s"$scratch/sample.json"),
      """{"id": 1, "name": "alice"}
        |{"id": 2, "name": "bob"}
        |""".stripMargin.getBytes)
    spark.sql(
      """CREATE OR REPLACE TEMP VIEW users AS
        |SELECT * FROM VALUES
        |  (1, 'alice', 'a@x.com', 'active',  TIMESTAMP'2024-01-02 00:00:00'),
        |  (2, 'bob',   'b@x.com', 'inactive',TIMESTAMP'2024-01-01 00:00:00')
        |AS t(id, name, email, status, created_at)""".stripMargin)
    val text = new String(Files.readAllBytes(Paths.get(s"$mdDir/code-with-title.md")))
    val out = Graft.markdownScript(spark, text,
      n => spark.table(n), basePath = scratch)
    // last executable block: the sql SELECT over users (1 active row)
    assert(out.collect().map(_.getString(1)).toSeq == Seq("alice"))
  }

  test("documents with no executable blocks are reported as user errors") {
    val text = new String(Files.readAllBytes(Paths.get(s"$mdDir/hello.md")))
    assertThrows[LoweringException] {
      Graft.markdownScript(spark, text, n => spark.table(n))
    }
  }
}
