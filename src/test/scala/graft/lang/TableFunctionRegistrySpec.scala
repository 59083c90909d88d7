package graft.lang

import graft.{CompileApi, SparkCost, SparkTestBase, Tables}

/** Drives every TableFunctions entry through its own example on the test
  * tables: compile-only lowering starts no Spark job and writes nothing, and
  * its schema is the schema of the executed lowering. The two playground
  * checks keep the demos on registered functions. */
class TableFunctionRegistrySpec extends SparkTestBase {

  private lazy val tmp = java.nio.file.Files.createTempDirectory("graft_tf").toString

  /** Examples name their index paths under /tmp; point them at this run's dir. */
  private def localize(example: String): String = example.replace("'/tmp/", s"'$tmp/")

  private def script(e: TableFunctions.Entry): String =
    TableFunctions.examplePreamble + "from " + localize(e.example)

  private def context() = Lowering.Context(spark, Tables.resolver(spark, sfDir), sfDir)

  private def bytesUnder(dir: String): Long = {
    val root = java.nio.file.Paths.get(dir)
    val s = java.nio.file.Files.walk(root)
    try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
    finally s.close()
  }

  /** The relations and indexes the examples read. */
  private lazy val fixtures: Unit = {
    Tables.names.foreach(Tables.read(spark, sfDir, _).schema)
    val conn = java.sql.DriverManager.getConnection("jdbc:derby:memory:graft;create=true")
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE people (id BIGINT NOT NULL, name VARCHAR(64))")
      st.execute("INSERT INTO people VALUES (1, 'a'), (2, 'b')")
    } finally conn.close()
    def run(q: String) = graft.Graft.run(spark, TableFunctions.examplePreamble + q,
      Tables.resolver(spark, sfDir))
    run(s"from ann_int8_index('embeddings', 'vec_id', 'embedding')").write.parquet(s"$tmp/int8_idx")
    run(s"from minhash_index('documents', 'doc_id', 'text')").write.parquet(s"$tmp/mh_idx")
    Seq("bm25_index", "ann_pq_index", "dedup_bloom_index").foreach { n =>
      run("from " + localize(TableFunctions.get(n).get.example)).collect()
    }
    graft.operators.Similarity.writeIvfInt8Index(spark.read.parquet(s"$tmp/int8_idx"),
      "vec_id", "q8", s"$tmp/ivf_idx", nlist = 8)
  }

  override def afterAll(): Unit = {
    try java.sql.DriverManager.getConnection("jdbc:derby:memory:graft;drop=true")
    catch { case _: java.sql.SQLException => () } // a successful drop reports 08006
    super.afterAll()
  }

  test("registry is sorted and duplicate-free") {
    val r = TableFunctions.entries.map(_.name)
    assert(r.distinct == r, "duplicate registry entries")
    assert(r.sorted == r, "keep the registry sorted — diffs stay reviewable")
  }

  test("every example compiles with no job and no write, to its executed schema") {
    fixtures
    val failures = TableFunctions.entries.flatMap { e =>
      val before = bytesUnder(tmp)
      val (compiled, cost) = SparkCost.of(spark)(CompileApi.compileOnlyWith(context(), script(e)))
      val written = bytesUnder(tmp) - before
      val executed = Lowering.lowerStatements(Parser.parseStatements(script(e)), context()).get
      Seq(
        Option.when(cost.jobs != 0)(s"${e.name}: compile-only started ${cost.jobs} job(s)"),
        Option.when(cost.bytesWritten != 0 || written != 0)(
          s"${e.name}: compile-only wrote ${cost.bytesWritten} B (${written} B on disk)"),
        Option.when(compiled.schema != executed.schema)(
          s"${e.name}: compile-only schema\n${compiled.schema.treeString}" +
            s"differs from the executed\n${executed.schema.treeString}")
      ).flatten
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("similarity_topk: every method compiles with no job, to its executed schema") {
    fixtures
    val embeddingMethods = Seq("brute", "lsh", "ivf", "ivf_kmeans", "int8", "pq", "pq_trained",
      "ivf_pq", "ivf_pq_trained", "lsh_int8").map(m => s"('embeddings', 'vec_id', 'embedding', 5, '$m')")
    val indexMethods = Seq("int8_index", "lsh_int8_index").map(m =>
      s"('int8_idx', 'vec_id', 'q8', 5, '$m')") ++ Seq(
      s"('$tmp/pq_idx', 'vec_id', 'codes', 5, 'pq_index')",
      s"('$tmp/ivf_idx', 'vec_id', 'q8', 5, 'ivf_int8_part', nprobe = 2)")
    val named = Seq(
      "('embeddings', 'vec_id', 'embedding', 5, 'ivf', nlist = 16, nprobe = 2, queries = 'evalvecs')",
      "('embeddings', 'vec_id', 'embedding', 5, 'pq_trained', 512, queries = 'evalvecs')",
      "('int8_idx', 'vec_id', 'q8', 5, 'lsh_int8_index', 8, 6, queries = 'int8_idx')")
    val failures = (embeddingMethods ++ indexMethods ++ named).flatMap { call =>
      val q = TableFunctions.examplePreamble + "from similarity_topk" + call
      val (compiled, cost) = SparkCost.of(spark)(CompileApi.compileOnlyWith(context(), q))
      val executed = Lowering.lowerStatements(Parser.parseStatements(q), context()).get
      Option.when(cost.jobs != 0 || compiled.schema != executed.schema)(
        s"$call: ${cost.jobs} job(s), ${compiled.schema.toDDL} vs ${executed.schema.toDDL}")
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("argument errors come from the signature") {
    def error(q: String) = intercept[LoweringException](CompileApi.compileOnly(
      spark, q, sfDir, None)).getMessage
    assert(error("from split_by_cluster('documents', 'doc_id')") ==
      TableFunctions.get("split_by_cluster").get.usage)
    assert(error("from top_ngrams('documents', 'text', 9, 5)") ==
      "top_ngrams: n must be an integer literal in [1, 8], got '9'")
    assert(error("from dedup_bloom('documents', 'doc_id', 'text', 1.5)") ==
      "dedup_bloom: fpp must be a number literal in (0, 1), got '1.5'")
    assert(error("from contaminated_docs('documents', 'documents', 'doc_id', 'text', 'gpt5')")
      .startsWith("contaminated_docs: n must be a positive integer literal or an n-gram preset"))
    assert(error("from similarity_topk('embeddings', 'vec_id', 'embedding', 5, 'brute', nlist = 8)") ==
      "similarity_topk: (nlist, nprobe) only apply to ivf methods, not 'brute'")
    assert(error("from similarity_topk('embeddings', 'vec_id', 'embedding', 5, 'ivf', tables = 4)") ==
      "similarity_topk: (planes, tables) only apply to lsh methods, not 'ivf'")
    assert(error("from train_test_split('documents', 'doc_id', 1.5)") ==
      "train_test_split: train_fraction must be a number literal in (0, 1), got '1.5'")
  }

  test("named arguments bind by parameter name after the positional ones") {
    def rows(q: String) = graft.Graft.query(spark, TableFunctions.examplePreamble + q,
      Tables.resolver(spark, sfDir)).collect().toSeq
    // queries = a 5-vector relation: exactly its ids are ranked
    val byQuery = rows("from similarity_topk('embeddings', 'vec_id', 'embedding', 3, " +
      "queries = 'evalvecs')").map(_.getAs[Long]("query_id")).distinct.sorted
    assert(byQuery == (0L until 5L))
    assert(rows("from dedup_ngram_jaccard('documents', 'doc_id', 'text', threshold = 0.12)") ==
      rows("from dedup_ngram_jaccard('documents', 'doc_id', 'text', 2, 0.12)"))
    // 'ivf_pq_trained' takes (nlist, nprobe): one cell probed whole ranks
    // every corpus vector, as 'pq_trained' over the same trained codebook does
    def ranked(call: String) = rows(s"from similarity_topk('embeddings', 'vec_id', " +
      s"'embedding', 3, $call) select query_id, corpus_id, rank order by query_id, rank")
    assert(ranked("'ivf_pq_trained', nlist = 1, nprobe = 1") == ranked("'pq_trained'"))
    assert(ranked("'ivf_pq_trained', nlist = 1, nprobe = 1") !=
      ranked("'ivf_pq_trained'"))
    // a name given positionally too, or one the signature lacks, fails to bind
    intercept[LoweringException](rows(
      "from dedup_ngram_jaccard('documents', 'doc_id', 'text', 2, n = 3)"))
  }

  test("every playground demo table function is a registry native") {
    // demos are creative content (can't be derived), but a demo referencing
    // a renamed/removed native must fail the build, not 500 the page
    val fnRe = """from\s+([a-z0-9_]+)\s*\(""".r
    graft.server.Playground.demos.foreach { case (name, q) =>
      fnRe.findAllMatchIn(q).map(_.group(1)).foreach { fn =>
        assert(fn == "unnest" || TableFunctions.get(fn).isDefined,
          s"demo $name references unknown table function $fn")
      }
    }
  }

  test("the LLM-operator teaching set has a demo per operator") {
    val text = graft.server.Playground.demos.map(_._2).mkString("\n")
    val teachingSet = Seq("similarity_topk", "split_by_cluster", "dedup_semantic",
      "perplexity_score", "perplexity_score_bigram", "select_token_budget",
      "contamination_report", "contamination_report_semantic", "vocab_profile",
      "mix_by_temperature",
      "bpe_count", "bpe_count_merges", "bpe_stats", "build_vocab", "bpe_train")
    teachingSet.foreach { fn =>
      assert(text.contains(s"$fn("), s"no playground demo exercises $fn")
    }
  }
}
