package graft.server

import graft.SparkTestBase

/** Pins the generated operator reference to the table-function registry:
  * every registry native appears exactly once with its signature, the
  * oracle-row mapping points at real catalog rows, and the page renders
  * without hand-maintained content. */
class OperatorDocsSpec extends SparkTestBase {

  private lazy val docs = {
    OperatorDocs.clearCache()
    OperatorDocs.build(spark, sfDir)
  }

  test("every registry native is documented exactly once, in registry order") {
    assert(docs.map(_.name) == graft.lang.TableFunctions.entries.map(_.name),
      "docs page diverged from the TableFunctions registry")
  }

  test("every entry carries a dispatch-derived signature") {
    val blank = docs.filter(_.args.trim.isEmpty)
    assert(blank.isEmpty, s"entries with no signature: ${blank.map(_.name).mkString(", ")}")
    // the registry's rendered signature, the text argument errors quote
    val odd = docs.filterNot(d =>
      d.args == graft.lang.TableFunctions.get(d.name).get.signature && d.args.startsWith("("))
    assert(odd.isEmpty,
      s"signatures not taken from the registry: ${odd.map(d => d.name + " -> " + d.args).mkString("; ")}")
  }

  test("oracle-row mapping points at real catalog rows with oracles") {
    val known = graft.SparkEntry.queries.keySet
    docs.foreach { d =>
      d.oracleRows.foreach(r => assert(known.contains(r),
        s"${d.name} maps to unknown row $r"))
    }
    // the flagship families must map to at least one oracled row each
    Seq("similarity_topk", "dedup_bloom", "perplexity_score", "contamination_report",
      "dsir_weight", "quality_classifier_score", "top_ngrams").foreach { op =>
      val doc = docs.find(_.name == op).get
      assert(doc.oracleRows.nonEmpty, s"$op has no mapped oracle row")
      assert(doc.oracleRows.exists(graft.SparkEntry.oracleSql.contains),
        s"$op maps to rows without oracle SQL: ${doc.oracleRows}")
    }
  }

  test("every entry a catalog row calls maps to that row by the row's text alone") {
    val texts = graft.catalog.QueryCatalog.queryWvTexts
    docs.foreach { d =>
      val call = ("\\b" + java.util.regex.Pattern.quote(d.name) + "\\s*\\(").r
      val callers = texts.collect { case (n, t) if call.findFirstIn(t).isDefined => n }.toSet
      assert(d.oracleRows.toSet == callers, s"${d.name}: mapped ${d.oracleRows}, called by $callers")
    }
    // the families whose rows called the Scala operators before they ran
    // wv text through the registry
    Map("similarity_topk" -> "q_similarity_topk_lsh", "dedup_ngram_jaccard" -> "q_dedup_ngram_jaccard",
      "dedup_phash" -> "q_dedup_phash", "connected_components" -> "q_dedup_clusters",
      "dedup_semantic_pairs" -> "q_dedup_semantic", "train_test_split" -> "q_curation_pipeline"
    ).foreach { case (op, row) =>
      assert(docs.find(_.name == op).get.oracleRows.contains(row), s"$op does not map to $row")
    }
  }

  test("schema probe resolves output schemas for the core operators") {
    // not every example can lower (path-typed args, placeholder relations
    // without aliases) — but the teaching set must show real schemas
    Seq("similarity_topk", "dedup_bloom", "perplexity_score", "top_ngrams",
      "contamination_report", "prototypicality_score").foreach { op =>
      val doc = docs.find(_.name == op).get
      assert(doc.schema.nonEmpty, s"$op example failed the schema probe")
    }
    val d = docs.find(_.name == "dedup_bloom").get
    assert(d.schema.contains("keep_id") && d.schema.contains("dup_count"), d.schema)
  }

  test("scale exponents parse from BENCH_SCALE.json when present") {
    val exps = OperatorDocs.scaleExponents()
    if (java.nio.file.Files.exists(java.nio.file.Paths.get("BENCH_SCALE.json"))) {
      assert(exps.nonEmpty, "BENCH_SCALE.json present but no exponents parsed")
      assert(exps.keys.forall(_.startsWith("q_")))
    }
  }

  test("the HTML page renders every native and nothing hand-maintained leaks") {
    val html = OperatorDocs.page(spark, sfDir)
    graft.lang.TableFunctions.entries.map(_.name).foreach { n =>
      assert(html.contains(s"<code>$n</code>"), s"page missing $n")
    }
  }
}
