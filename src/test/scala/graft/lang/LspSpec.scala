package graft.lang

import graft.SparkTestBase
import graft.lang.Lsp._

/** Mirrors the reference's LSP provider contract
  * (wvlet-lang/src/test/scala/wvlet/lang/compiler/lsp/
  * DefinitionProviderTest.scala / HoverProviderTest.scala /
  * CompletionProviderTest.scala) over this repo's providers, including the
  * spec/lsp workspace fixtures for cross-file navigation. */
class LspSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"
  private val lspWorkspace = graft.catalog.ReferenceCorpus.path("spec/lsp")

  // ----- definition ---------------------------------------------------------

  test("definition: model reference jumps to its model definition") {
    val src =
      """model my_model = {
        |  from [[1, "alice", 10]] as person(id, name, age)
        |}
        |from my_model""".stripMargin
    val offset = src.lastIndexOf("my_model") + 1
    val r = definition(src, offset)
    assert(r.map(_.startLine) == Some(1))
    assert(r.map(_.startColumn) == Some(1))
    assert(r.flatMap(_.path).isEmpty)
  }

  test("definition: type reference jumps to its type definition") {
    val src =
      """type point = {
        |  x: long
        |  y: long
        |}
        |type line = {
        |  start: point
        |  stop: point
        |}""".stripMargin
    val offset = src.indexOf("start: point") + "start: ".length + 1
    val r = definition(src, offset)
    assert(r.map(_.startLine) == Some(1))
    assert(r.map(_.startColumn) == Some(1))
  }

  test("definition: resolves by name when later statements are broken") {
    val src =
      """model my_model = {
        |  from [[1, "alice", 10]] as person(id, name, age)
        |}
        |from my_model
        |from [[1]] as t(x)
        |select does_not_exist""".stripMargin
    val offset = src.indexOf("from my_model") + "from ".length + 1
    assert(definition(src, offset).map(_.startLine) == Some(1))
  }

  test("definition: None on the definition itself, keywords, whitespace, unknowns") {
    val src =
      """model my_model = {
        |  from [[1]] as t(x)
        |}
        |from my_model""".stripMargin
    assert(definition(src, src.indexOf("my_model") + 1).isEmpty) // the def itself
    assert(definition(src, src.lastIndexOf("from") + 1).isEmpty) // keyword
    assert(definition(src + "   ", src.length + 2).isEmpty) // trailing ws
    assert(definition("from nowhere_defined", 8).isEmpty) // unknown
    assert(definition("", 1).isEmpty) // empty
    definition("from", 2) // incomplete input must not throw
  }

  test("definition: cross-file jumps into the workspace, same-doc shadows") {
    val ws = workspaceFiles(lspWorkspace)
    assert(ws.nonEmpty, "reference spec/lsp fixtures present")
    val src = "from shared_model"
    val r = definition(src, src.indexOf("shared_model") + 1, ws)
    assert(r.isDefined && r.flatMap(_.path).exists(_.endsWith("defs.wv")))
    val src2 = "type t = {\n  p: shared_point\n}"
    val r2 = definition(src2, src2.indexOf("shared_point") + 1, ws)
    assert(r2.isDefined && r2.flatMap(_.path).exists(_.endsWith("defs.wv")))
    // a same-document definition shadows the workspace one
    val shadowed =
      s"""model shared_model = {
         |  from [[1]] as t(x)
         |}
         |from shared_model""".stripMargin
    val r3 = definition(shadowed, shadowed.lastIndexOf("shared_model") + 1, ws)
    assert(r3.isDefined && r3.flatMap(_.path).isEmpty && r3.map(_.startLine) == Some(1))
  }

  test("definition: stdlib function names do not navigate") {
    val src = "from lineitem\nselect upper(l_returnflag)"
    assert(definition(src, src.indexOf("upper") + 1).isEmpty)
  }

  // ----- hover --------------------------------------------------------------

  test("hover: model reference shows the model schema") {
    val src =
      """model my_model = {
        |  from [[1, "alice", 10]] as person(id, name, age)
        |}
        |from my_model""".stripMargin
    val r = hover(src, src.lastIndexOf("my_model") + 1, spark, dir)
    assert(r.isDefined)
    assert(r.get.text.contains("my_model"))
    assert(r.get.text.contains("id") && r.get.text.contains("name"))
  }

  test("hover: column reference shows name and type, with the node's range") {
    val src = "from lineitem\nselect l_quantity"
    val off = src.indexOf("l_quantity", src.indexOf("select")) + 1
    val r = hover(src, off, spark, dir)
    assert(r.isDefined)
    assert(r.get.text == "l_quantity: double")
    assert(r.get.startLine == 2)
    assert(r.get.startColumn == "select ".length + 1)
  }

  test("hover: whitespace/empty/incomplete inputs are total") {
    assert(hover("from lineitem  ", 15, spark, dir).isEmpty)
    assert(hover("", 1, spark, dir).isEmpty)
    hover("from", 2, spark, dir) // no throw
    hover("from lineitem\nselect l_", 24, spark, dir) // no throw
  }

  // ----- completion ---------------------------------------------------------

  test("completion: keywords always offered") {
    val items = complete("fro", 3, spark, dir)
    assert(items.exists(i => i.label == "from" && i.kind == "keyword"))
  }

  test("completion: in-file model names") {
    val src =
      """model revenue = {
        |  from lineitem
        |}
        |from rev""".stripMargin
    val items = complete(src, src.length, spark, dir)
    assert(items.exists(i => i.label == "revenue" && i.kind == "model"))
  }

  test("completion: columns of an inline values relation") {
    val src = "from [[1, \"alice\"]] as person(id, name)\nselect "
    val items = complete(src, src.length, spark, dir)
    assert(items.exists(i => i.label == "id" && i.kind == "column"))
    assert(items.exists(_.label == "name"))
  }

  test("completion: columns of the input relation inside a select") {
    val src = "from lineitem\nselect l_"
    val items = complete(src, src.length, spark, dir)
    assert(items.exists(_.label == "l_quantity"))
    assert(items.exists(_.label == "l_returnflag"))
    // the l_ prefix filters out non-matching candidates
    assert(items.forall(_.label.startsWith("l_")))
  }

  test("completion: table names in relation position (from/join)") {
    val items = complete("from reg", 8, spark, dir)
    assert(items.exists(i => i.label == "region" && i.kind == "table"))
    // prefix filters non-matching tables
    assert(!items.exists(_.label == "lineitem"))
    val joinItems = complete("from orders join cust", 21, spark, dir)
    assert(joinItems.exists(i => i.label == "customer" && i.kind == "table"))
    // outside relation position, no table suggestions
    val sel = "from region select r"
    assert(!complete(sel, sel.length, spark, dir).exists(_.kind == "table"))
    // native table functions complete in relation position too
    val tf = complete("from simil", 10, spark, dir)
    assert(tf.exists(i => i.label == "similarity_topk" && i.kind == "table_function"))
    // EVERY registered native must complete behind its own typed prefix
    (TableFunctions.entries.map(_.name) :+ "unnest").foreach { n =>
      val src = s"from ${n.take(9)}"
      val got = complete(src, src.length, spark, dir)
      assert(got.exists(i => i.label == n && i.kind == "table_function"), s"missing $n")
    }
  }

  test("completion: incomplete inputs are total; past-EOF uses the nearest query") {
    complete("from", 4, spark, dir) // no throw
    complete("from lineitem\nselect l_", 24, spark, dir) // no throw
    val src = "from lineitem\n"
    val items = complete(src, src.length + 10, spark, dir)
    assert(items.exists(_.label == "l_quantity"))
  }

  test("completion: after a dot, only members of the aliased relation") {
    val src = "from orders as o\nselect o."
    val items = complete(src, src.length, spark, dir)
    assert(items.nonEmpty)
    assert(items.forall(_.kind == "column"))
    assert(items.exists(_.label == "o_totalprice"))
    assert(!items.exists(_.kind == "keyword"))
  }

  test("completion: dot members with a partial member name") {
    val src = "from orders as o\nselect o.o_t"
    val items = complete(src, src.length, spark, dir)
    assert(items.map(_.label) == Seq("o_totalprice"))
  }

  test("completion: type fields after a dot on a type name") {
    val src = "type point = {\n  x: long\n  y: long\n}\nfrom t\nselect point."
    val items = complete(src, src.length, spark, dir)
    assert(items.map(_.label).sorted == Seq("x", "y"))
  }

  test("completion: decimal literals and dots in strings are not member access") {
    val items = complete("from t\nselect 1.", 17, spark, dir)
    assert(!items.exists(_.kind == "column"))
    val items2 = complete("from t\nwhere x = 'a.", 21, spark, dir)
    assert(!items2.exists(_.kind == "column"))
  }

  test("completion: unknown qualifier yields no members") {
    val src = "from orders\nselect zzz_unknown."
    assert(complete(src, src.length, spark, dir).isEmpty)
  }

  test("completion: stdlib dot-methods after a column of the in-scope relation") {
    val src = "from lineitem\nselect l_quantity."
    val items = complete(src, src.length, spark, dir)
    assert(items.exists(_.label == "sum"), items.map(_.label).take(10).toString)
    assert(items.forall(_.kind == "function"))
    // with a partial method name the list narrows
    val src2 = "from lineitem\nselect l_quantity.su"
    val narrowed = complete(src2, src2.length, spark, dir)
    assert(narrowed.nonEmpty && narrowed.forall(_.label.startsWith("su")))
  }

  test("completion: broken documents keep workspace-independent suggestions") {
    val src = "model m = {\nfrom ???broken\nselect sel"
    val items = complete(src, src.length, spark, dir)
    assert(items.exists(_.label == "select"))
  }

  test("completion: function names and def signatures") {
    val items = complete("from t\nselect upp", 18, spark, dir)
    assert(items.exists(i => i.label == "upper" && i.kind == "function"))
    val src = "def tax(price, rate) = price * rate\nfrom t\nselect ta"
    val items2 = complete(src, src.length, spark, dir)
    val d = items2.find(_.label == "tax")
    assert(d.isDefined && d.get.detail == "def tax(price, rate)")
  }

  test("completion: stateless — serves the updated schema after a change") {
    val v1 = "from orders\nselect o_"
    val v2 = "from lineitem\nselect l_"
    assert(complete(v1, v1.length, spark, dir).exists(_.label == "o_totalprice"))
    assert(complete(v2, v2.length, spark, dir).exists(_.label == "l_quantity"))
    assert(!complete(v2, v2.length, spark, dir).exists(_.label == "o_totalprice"))
  }
}
