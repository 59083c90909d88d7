package graft

import org.apache.spark.sql.{functions => F}

/** Scale-proof bench: times the heavy operator family at the base SF and at
  * a ~Nx replicated corpus, and records the per-query scaling exponent
  * (log time-ratio / log row-ratio). The 100 TB claims in the operator
  * scaladocs are extrapolations from sf0.1 — this is the empirical check
  * that each heavy plan is ~linear in rows (exponent ≈ 1), not quadratic.
  *
  * Replication strategy: each of the N replicas remaps doc ids into a
  * disjoint range AND prefixes every token with a replica tag. Disjoint
  * token spaces mean zero cross-replica n-gram/shingle overlap, so the
  * near-duplicate pair structure of the base corpus is replicated N times
  * (organic linear growth) instead of turning every document into an
  * N-way cross-replica near-dup clique (artificial quadratic growth that
  * no real corpus has).
  *
  * Usage: `sbt 'runMain graft.BenchScale [baseDir] [replicas] [workDir]'`
  * → writes BENCH_SCALE.json. Single timed run per query per scale (the
  * heavy family runs minutes at the scaled SF; load stamps are recorded
  * so a loaded machine is visible in the artifact).
  */
object BenchScale {

  private val heavy = Seq(
    "q_dedup_ngram_jaccard",
    "q_dedup_minhash_lsh",
    "q_dedup_simhash",
    "q_dedup_clusters",
    "q_dedup_drop_clusters",
    "q_pack_sequences",
    "q_corpus_token_stats",
    "q_curation_pipeline",
    "q_events_session_rows",
    // the event-time family restored by the round-9 NTZ fix — streaming-
    // shaped plans must prove ~linear scaling too
    "q_events_sessionize",
    "q_subscribe_windowed_agg",
    "q_similarity_topk_lsh",
    "q_similarity_topk_ivf",
    // int8 path: O(corpus × fixed query set) scoring — exponent ≈ 1; the
    // quantized index is what makes this linear term 4× cheaper in bytes
    "q_similarity_topk_int8",
    // persisted-index twin: same scoring read back from the CTAS'd
    // array<tinyint> index (built once per dir, untimed via the per-JVM
    // memo) — the timed region is pure index-scan + score, proving the
    // 4×-smaller read path also scales linearly
    "q_similarity_topk_int8_index",
    "q_similarity_topk_lsh_int8_index",
    // bucket-partitioned posting index: the probed read is a static
    // partition filter, so scanned bytes stay ~constant as the index grows
    // — the strongest sub-linear shape in the family
    "q_similarity_topk_lsh_int8_part",
    "q_similarity_topk_ivf_int8_part",
    // round-9 dedup additions: span fingerprints (one uniform shuffle)
    // and SemDeDup (bucket join, nlist-bounded quadratic)
    "q_dedup_spans",
    "q_dedup_semantic",
    // incremental dedup against the persisted minhash index (built once
    // per dir via the per-JVM memo, untimed): the timed region is batch
    // shingling + the banded index probe — corpus text never re-read, so
    // the corpus term in the exponent is the signature scan only
    "q_dedup_incremental",
    // TPC-DS heavy set (r12 verdict task: the hardest join shapes need
    // 10x-growth evidence too). These run over the derived star schema;
    // the scaled corpus replicates the TPC-H FACTS (lineitem+orders, new
    // disjoint order-key ranges per replica) while dimensions stay fixed —
    // the realistic 100 TB shape (facts grow, dims don't). Exponents are
    // normalized by the LINEITEM row ratio, not documents.
    "q_tpcds_q14",
    "q_tpcds_q64",
    "q_tpcds_q72",
    // the index row's timed region is the checksum scan over the ALREADY
    // built index (the build memoizes per dir like every persisted-index
    // row) — recorded to pin that reading a 10x index stays ~flat; the
    // build itself is necessarily ~linear (one full text scan)
    "q_minhash_index",
    // r13 verdict task 6: the two new operators whose shapes the 100 TB
    // story leans on. split_by_cluster = pair discovery (postings
    // self-join, pair-linear) + components + one label left join — the
    // disjoint-token replicas grow the pair structure linearly, so the
    // exponent should track q_dedup_ngram_jaccard's (~1).
    "q_split_by_cluster",
    // decontaminate_semantic grows BOTH sides here (corpus and eval are
    // slices of the same replicated embeddings, replicas verbatim): the
    // brute corpus×eval pass would be ~quadratic (exponent ~2); the
    // distinct-eval compaction + centroid-bound pruning (r14) keep the
    // scored work corpus-proportional — exponent ~1 is the gate that the
    // semantic net stays sub-linear in eval size
    "q_decontaminate_semantic_flag",
    // unigram-LM perplexity scoring (r14): token-keyed model fit +
    // postings→model join — the token_stats shuffle shape, exponent ~1
    // expected (replica-tagged tokens grow the vocab linearly with the
    // corpus, so the model groupBy and the join both scale in rows)
    "q_perplexity_score",
    // token-budget prefix selection (r14; r15: single-scan): ONE
    // tokenization pass into a checkpointed narrow frame, bucket-local
    // cumsum over it, join back to the corpus; exponent ~1 is the gate
    // that the no-single-partition decomposition actually scales in rows
    "q_select_token_budget",
    // contamination audit (r14): eval-side broadcast fixed (doc_id < 3
    // never replicates into new ids), corpus-side shingling scan grows —
    // the measured exponent is the corpus term alone
    "q_contamination_report",
    // BPE counting (r15): pure codegen'd scan over the corpus bytes with a
    // fixed plan-shipped trie — exponent ~1 in corpus bytes, no shuffle;
    // the comparison row is the vocab-swapped budget selection whose
    // prefix-sum anatomy must stay unit-agnostic
    "q_bpe_count",
    "q_select_token_budget_bpe",
    // PQ ANN (r15): encode is a fused codegen'd pass (linear in corpus
    // rows), ADC ranking reads only the m-int code rows against a fixed
    // query set — the int8 family's ~flat shape with 21× smaller codes
    "q_similarity_topk_pq",
    // persisted PQ twin (build memoized per dir, untimed): the timed
    // region is the code-only index scan + SDC ranking — the 21×-smaller
    // read path must stay as flat as the int8-index row
    "q_similarity_topk_pq_index",
    // IVF-PQ composition: candidates cut by nprobe/nlist (IVF) AND scored
    // in O(m) code lookups (PQ) — the flattest composed shape in the family
    "q_similarity_topk_ivf_pq",
    // semantic audit transpose (r15): corpus-side scan through the shared
    // pruned candidate machinery, per-eval agg — the corpus term is the
    // whole cost (eval side fixed), exponent ~ the flag direction's
    "q_contamination_report_semantic",
    // temperature mix (r15): one bounded domain groupBy + the weightedMix
    // scan (filter + explode over the corpus) — expect ~flat
    "q_mix_temperature",
    // quality-first budget (r15): one range shuffle + bucket windows — the
    // gate that the boundary-independent range decomposition scales in
    // rows like the md5 form
    "q_select_token_budget_by",
    // merge-replay BPE (r15): pure codegen'd scan like bpe_count, with the
    // per-word encode loop as the only extra term
    "q_bpe_count_merges",
    // bigram perplexity (r15): the unigram shuffle anatomy plus a
    // pair-keyed model groupBy and a second postings join — replica-tagged
    // tokens grow bigram types linearly with the corpus, so exponent ~1 is
    // the gate that the pruned-model join chain scales in rows, not pairs²
    "q_perplexity_bigram",
    // trained PQ (r16): training is a BOUNDED driver sample (512 rows at
    // any corpus size), so the exponent measures encode (linear scan) +
    // fixed-query ADC only — expect the seeded pq row's ~flat shape
    "q_similarity_topk_pq_trained",
    "q_similarity_topk_ivf_pq_trained",
    // Kneser-Ney (r16): the bigram anatomy + two extra type-table
    // aggregations (vocab-sized results) — exponent should track
    // q_perplexity_bigram's ~1
    "q_perplexity_bigram_kn",
    // quality classifier (r16): training on the planted labeled set is
    // corpus-independent; scoring is one plan-shipped-weights scan —
    // expect ~1 in corpus rows with no shuffle term
    "q_quality_classifier",
    // GPT-2-pretok trainer/replay (r16): same one-scan word-table /
    // codegen'd-scan shapes as the words-stream rows
    "q_bpe_train_gpt2",
    "q_bpe_count_merges_gpt2",
    // prototypicality (r16): nlist-bounded collect + ONE shuffle-free
    // fused-kernel projection — the flattest possible shape (pure scan)
    "q_prototypicality",
    // DSIR (r16): two bucket-keyed groupBys with ≤4096-row results
    // broadcast back + one doc-keyed aggregation — expect ~1 in rows;
    // the _sample row adds only a TakeOrdered top-k on the same plan
    "q_dsir_weight",
    "q_dsir_sample",
    // heavy-hitter n-grams (r16): one gram-keyed groupBy over a 3x-wider
    // posting stream + TakeOrdered — the build_vocab shape, exponent ~1
    "q_top_ngrams",
    // bloom-pruned exact dedup (r17): two corpus scans + a shuffle of only
    // the bloom-hit tail — expect ~1 in rows with a small constant; the
    // point vs q_dedup_exact is the exchange VOLUME, not wall-clock at sf0.1
    "q_dedup_bloom",
    // BM25 retrieval (r17): postings + df groupBys (token-keyed partial
    // agg), broadcast query terms, per-query window over only term-sharing
    // docs — expect ~1 in corpus rows at a fixed query set
    "q_bm25_topk",
    // persisted-index twin: the fit is untimed (per-JVM memo), the timed
    // region is a partition-pruned postings probe — the sub-linear shape
    "q_bm25_topk_index",
    // incremental bloom dedup (r17): two corpus scans, zero corpus
    // shuffle — expect ~1 in corpus rows at a fixed batch
    "q_dedup_bloom_against",
    // per-doc tf-idf keywords (r17): postings + df groupBys + a per-doc
    // window — the token-keyed ~linear shape
    "q_keywords_tfidf",
    // incremental index maintenance (r18): build over 3/4 + append 1/4 is
    // memoized per dir (untimed); the timed region is the partition-pruned
    // serve over the appended index — must stay the bm25_topk_index shape
    "q_bm25_index_append",
    // streaming dedup-against (r18): corpus bloom fit once + a readStream
    // micro-batch loop of bloom probe + candidate-broadcast recheck —
    // expect ~1 in corpus rows (two scans per batch, zero corpus shuffle)
    "q_subscribe_dedup_against",
    // int8 index maintenance (r18): build+append memoized per dir
    // (untimed); the timed region is the quantized serve over the
    // appended index — must track q_similarity_topk_int8_index's shape
    "q_ann_int8_index_append",
    // PQ index maintenance (r18): frozen-codebook append memoized per dir
    // (untimed); the timed region is SDC serving over code rows only —
    // the pq_index shape
    "q_ann_pq_index_append",
    // persisted-bloom probe (r18): filter read back (one driver row), so
    // the timed region is batch probe + the exact candidate-broadcast
    // recheck — one corpus scan, zero corpus shuffle, expect ~1
    "q_dedup_bloom_against_index")

  def main(args: Array[String]): Unit = {
    val baseDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val replicas = args.lift(1).map(_.toInt).getOrElse(10)
    val workDir = args.lift(2).getOrElse("/tmp/graft_benchscale")
    val cpus = Tables.localCpus("32")
    val loadBefore = Bench.loadavg()
    val spark = Tables.localSession(cpus)

    // ---- materialize the scaled corpus (untimed) ----
    val base = Tables.read(spark, baseDir, "documents")
    val baseRows = base.count()
    val span = base.agg(F.max("doc_id")).head.getLong(0) + 1
    val rest = base.columns.filterNot(c => c == "doc_id" || c == "text")
    val scaled = (0 until replicas).map { i =>
      base.select(
        ((F.col("doc_id") + F.lit(i.toLong * span)).as("doc_id") +:
          // replica-tagged tokens: an alnum prefix FUSED onto every word
          // (the tokenizer reads maximal [a-z0-9]+ runs — a separator like
          // '_' would split the tag off and leave the base token shared)
          (if (i == 0) F.col("text")
           else F.regexp_replace(F.col("text"), "(\\w+)", s"zz${i}$$1")).as("text") +:
          rest.map(F.col).toSeq): _*)
    }.reduce(_ unionByName _)
    scaled.write.mode("overwrite").parquet(s"$workDir/documents.parquet")
    val bigRows = spark.read.parquet(s"$workDir/documents.parquet").count()
    System.err.println(s"[scale] base=$baseRows rows, scaled=$bigRows rows ($replicas replicas)")

    // events for the sessionization path: replicas remap user_id/event_id
    // into disjoint ranges (timestamps unchanged), so each replica carries
    // its own users and the session structure grows linearly — exactly how
    // a real activity stream scales (more users, same per-user cadence)
    val evBase = Tables.read(spark, baseDir, "events")
    val evSpan = evBase.agg(F.max("user_id")).head.getLong(0) + 1
    val evIdSpan = evBase.agg(F.max("event_id")).head.getLong(0) + 1
    val evRest = evBase.columns.filterNot(c => c == "user_id" || c == "event_id")
    (0 until replicas).map { i =>
      evBase.select(
        ((F.col("user_id") + F.lit(i.toLong * evSpan)).as("user_id") +:
          (F.col("event_id") + F.lit(i.toLong * evIdSpan)).as("event_id") +:
          evRest.map(F.col).toSeq): _*)
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$workDir/events.parquet")

    // embeddings for the ANN paths: vec_id remaps into disjoint ranges;
    // vectors repeat verbatim, so every LSH/IVF bucket densifies r× while
    // the 10 fixed query vectors stay put — the measured exponent is pure
    // corpus-side growth (bucket postings, probe fan-out), the quantity
    // that matters at 100 TB
    val emBase = Tables.read(spark, baseDir, "embeddings")
    val emSpan = emBase.agg(F.max("vec_id")).head.getLong(0) + 1
    val emRest = emBase.columns.filterNot(_ == "vec_id")
    (0 until replicas).map { i =>
      emBase.select(
        ((F.col("vec_id") + F.lit(i.toLong * emSpan)).as("vec_id") +:
          emRest.map(F.col).toSeq): _*)
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$workDir/embeddings.parquet")

    // TPC-H tables for the TPC-DS star derivation: FACTS replicate with
    // disjoint order-key ranges (same key-space shift on both sides keeps
    // every lineitem⋈orders join consistent); every other column verbatim,
    // so per-order structure, dates and prices — and therefore the star's
    // derived dimension domains — are unchanged. Dimension-feeding tables
    // copy as-is: at 100 TB facts grow, dims don't, and each customer/part
    // simply accumulates replicas× more activity.
    val liBase = Tables.read(spark, baseDir, "lineitem")
    val ordBase = Tables.read(spark, baseDir, "orders")
    val okSpan = ordBase.agg(F.max("o_orderkey")).head.getAs[Number](0).longValue() + 1
    (0 until replicas).map { i =>
      liBase.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(i.toLong * okSpan))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$workDir/lineitem.parquet")
    (0 until replicas).map { i =>
      ordBase.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(i.toLong * okSpan))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$workDir/orders.parquet")
    Seq("customer", "supplier", "part", "nation", "region").foreach { t =>
      Tables.read(spark, baseDir, t).write.mode("overwrite").parquet(s"$workDir/$t.parquet")
    }
    val liBaseRows = liBase.count()
    val liBigRows = spark.read.parquet(s"$workDir/lineitem.parquet").count()
    System.err.println(s"[scale] lineitem base=$liBaseRows rows, scaled=$liBigRows rows")

    def time(name: String, dir: String, partitions: Int): Double = {
      // partitions scale with the corpus — the 100 TB sizing policy
      // (shuffle partitions sized so each fits executor memory); pinning
      // them while data grows 10x measures spill, not the plan. AQE
      // coalesces the small ones back, so the extra partitions at scale
      // cost task overhead only.
      spark.conf.set("spark.sql.shuffle.partitions", partitions.toString)
      // one untimed warm run first: codegen/JIT/broadcast setup must not
      // land in the base-vs-scaled comparison (a cold base run vs a warm
      // scaled run produced nonsense sub-zero exponents)
      SparkEntry.queries(name)(spark, dir).count()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir).count()
      (System.nanoTime() - t0) / 1e9
    }

    // SPARK_GRAFT_SCALE_ONLY=<substr>[,<substr>…] runs a subset and MERGES
    // into the existing artifact (un-run rows keep their recorded
    // exponents) — new operators get their scale entry without re-running
    // the whole family; comma-separated substrings batch several new rows
    // into ONE scaled-corpus build
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val selected = heavy.filter(n => only.forall(_.exists(n.contains)))
    val results = selected.map { name =>
      val tSmall = time(name, baseDir, cpus.toInt)
      val tBig = time(name, workDir, cpus.toInt * replicas)
      // DS queries grow via the replicated TPC-H facts; everything else
      // via the replicated documents/events/embeddings corpus
      val rowRatio =
        if (name.startsWith("q_tpcds")) liBigRows.toDouble / liBaseRows
        else bigRows.toDouble / baseRows
      val exp = math.log(tBig / tSmall) / math.log(rowRatio)
      System.err.println(f"[scale] $name%-28s ${tSmall}%7.2f s -> ${tBig}%8.2f s  exponent ${exp}%5.2f")
      (name, tSmall, tBig, exp)
    }
    val loadAfter = Bench.loadavg()
    // ROOT locale, same hazard Bench.s3 fixed: the f-interpolator honors the
    // default locale, and a comma-decimal locale makes the JSON invalid
    def s3(v: Double) =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val fresh = results.map { case (n, a, b, e) =>
      n -> s""""$n":{"sec_base":${s3(a)},"sec_scaled":${s3(b)},"exponent":${s3(e)}}"""
    }
    // carried rows from the existing artifact (subset runs only)
    val carried: Seq[String] =
      if (only.isEmpty) Nil
      else {
        val p = java.nio.file.Paths.get("BENCH_SCALE.json")
        if (!java.nio.file.Files.exists(p)) Nil
        else {
          val oldJson = java.nio.file.Files.readString(p)
          val freshNames = fresh.map(_._1).toSet
          """"(q_[a-z0-9_]+)":(\{"sec_base":[^}]*\})""".r.findAllMatchIn(oldJson)
            .filterNot(m => freshNames.contains(m.group(1)))
            .map(m => s""""${m.group(1)}":${m.group(2)}""").toSeq
        }
      }
    val rows = (carried ++ fresh.map(_._2)).mkString("{", ",", "}")
    val json =
      s"""{"base_dir":"$baseDir","base_rows":$baseRows,"scaled_rows":$bigRows,""" +
        s""""replicas":$replicas,"cpus":"$cpus","loadavg_before":"$loadBefore",""" +
        s""""loadavg_after":"$loadAfter","queries":$rows}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH_SCALE.json"), json)
    println(json)
    spark.stop()
  }
}
