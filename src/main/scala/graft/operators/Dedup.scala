package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}
import graft.functions.TextFunctions

/** Deduplication operators for training-data pipelines, designed for
  * 100 TB scale: every variant is expressed as shuffle-bounded DataFrame
  * plans (explode → groupBy → join) with candidate generation *before*
  * pairwise verification, never an O(n²) cross join. No UDFs — all column
  * expressions stay inside whole-stage codegen.
  *
  * Variants (SURVEY §7 step 13 / BASELINE.json north star):
  *   - exact: hash groupBy on a normalized fingerprint
  *   - minhashLsh: shingle → minhash signature → banded LSH buckets →
  *     candidate pairs → exact-Jaccard verify
  *   - simhash: 64-bit simhash → chunk-pair pigeonhole blocking → hamming verify
  *   - ngramJaccard: exact set-similarity via df-capped posting join +
  *     exact verify (SQL-expressible — the DuckDB-oracle-checkable variant)
  *   - embeddingCosine: cosine near-dup over an embedding column
  */
object Dedup {

  /** Release the block-manager storage pinned by an eager
    * `localCheckpoint(true)` frame. `Dataset.unpersist` only clears
    * CacheManager entries, NOT the RDD blocks a local checkpoint stores —
    * without this, every checkpointed iteration/candidate frame stays
    * resident until driver GC, and a long-lived session (bench JVM, REPL,
    * flow run) accumulates dead blocks (r8's monotone dedup-cluster run
    * growth). Only call once nothing returned to the caller can still
    * recompute through the frame (i.e. after a downstream checkpoint cut
    * the lineage). */
  private def releaseCheckpoint(dfs: DataFrame*): Unit =
    dfs.foreach { df =>
      df.queryExecution.analyzed.foreach {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
        case _ => ()
      }
    }

  /** Spread a narrow input across the cluster before CPU-HEAVY per-row text
    * work (shingling HOFs — NOT for cheap maps like md5, where the extra
    * stage costs more than it saves). A small parquet file arrives as ONE
    * scan partition, serializing the shingling stage onto a single core
    * (measured: 17 s of an 18 s ngram run at sf0.1); at 100 TB inputs are
    * naturally multi-file but a filtered/coalesced upstream can still
    * collapse parallelism. ×2 the core count balances variable doc lengths
    * without paying for excess tiny tasks (each extra shuffle stage has
    * ~1 s fixed overhead in local mode). */
  private def spread(df: DataFrame, minBytesPerPart: Long = 0L): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism * 2
    val nParts = df.rdd.getNumPartitions
    if (nParts >= target) return df
    if (minBytesPerPart <= 0L) return df.repartition(target)
    // size gate (optimization r18, guide §1.2/§2.4): the repartition is only
    // worth its exchange round-trip (~1-1.5 s of fixed stage cost in local
    // mode) when a partition actually holds enough text to keep a core busy
    // longer than that. Plan statistics are free (no job): below
    // minBytesPerPart the serial CPU work is cheaper than the shuffle, so
    // pass the input through untouched. The threshold is PER CALLER — it
    // encodes that caller's measured CPU-per-byte (shingle hashing is
    // cheap; 128-hash minhash signatures are ~64x hotter and keep the
    // unconditional spread). Estimates that are unknown default to
    // Long.MaxValue upstream → spread (conservative).
    val estBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (estBytes <= minBytesPerPart * nParts) df else df.repartition(target)
  }

  /** [[spread]] threshold for the bigram-shingle hash kernel (measured at
    * sf0.1: the exchange round-trip cost ~1.5 s vs ~0.5 s of serial
    * hashing on a 584 KB single-partition input). System-property override
    * (`graft.shingleSpreadMinBytes`) exists so specs can force the
    * pass-through arm on a small fixture — at sf0.1 the gate otherwise
    * always spreads and the arm would ship spec-uncovered (r18 verdict
    * "what's wrong" #4). */
  private[graft] def ShingleSpreadMinBytes: Long =
    sys.props.get("graft.shingleSpreadMinBytes").flatMap(_.toLongOption)
      .getOrElse(16L << 20)

  /** Embedding-table size (plan statistics) below which the LSH pair
    * kernel keeps vectors ON the posting/candidate rows: under this the
    * whole table is broadcast-class small and two re-attach joins cost
    * more than the fat dedup exchange saves (measured ~0.9 s at sf0.1);
    * above it candidates travel as ids only. System-property override
    * (`graft.pairVecCarryMaxBytes`) lets specs force the ids-only arm on a
    * small fixture (r18 verdict "what's wrong" #4: the at-scale branch —
    * the actual 100 TB shape — must not be dead code under every test). */
  private[graft] def PairVecCarryMaxBytes: Long =
    sys.props.get("graft.pairVecCarryMaxBytes").flatMap(_.toLongOption)
      .getOrElse(256L << 20)


  /** Skew guard shared by every banded/bucketed pair generator: drop
    * postings in buckets larger than `cap` (0 = uncapped). A stop-shingle
    * bucket of size B contributes B²/2 candidate pairs — the cap bounds
    * the worst key while the dropped bucket's members still meet through
    * their other bands/buckets. */
  private def capBuckets(df: DataFrame, cap: Int, keys: String*): DataFrame =
    if (cap <= 0) df
    else df
      .withColumn("__bn", F.count(F.lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(keys.map(F.col): _*)))
      .filter(F.col("__bn") <= cap)
      .drop("__bn")

  // ---------------------------------------------------------------------------
  // Exact dedup
  // ---------------------------------------------------------------------------

  /** Exact dedup on normalized text: md5 fingerprint groupBy, keeping the
    * smallest id per group. One shuffle on the fingerprint (a uniform hash →
    * no skew); scales linearly. */
  /** Grouping key that keeps NULL-text rows UNIQUE: a null fingerprint
    * (failed fetch, empty payload) must not collapse every null-text row
    * into one "duplicate group" that drops all but one of them — null text
    * carries no content evidence of duplication. */
  private def fpOrUnique(fp: Column, id: Column): Column =
    F.coalesce(fp, F.concat(F.lit("__null__"), id.cast("string")))

  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val fp = TextFunctions.fingerprint(F.col(textCol))
    df.withColumn("__fp", fpOrUnique(fp, F.col(idCol)))
      .groupBy(F.col("__fp"))
      .agg(F.min(F.col(idCol)).as(idCol), F.count(F.lit(1)).as("dup_count"))
      .drop("__fp")
      .join(df, Seq(idCol))
  }

  /** Exact-dup groups only (fingerprint, kept id, count) — cheap audit view. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df
      .select(F.col(idCol),
        fpOrUnique(TextFunctions.fingerprint(F.col(textCol)), F.col(idCol)).as("fingerprint"))
      .groupBy("fingerprint")
      .agg(F.min(F.col(idCol)).as("keep_id"), F.count(F.lit(1)).as("dup_count"))

  // ---------------------------------------------------------------------------
  // Bloom-pruned exact dedup
  // ---------------------------------------------------------------------------

  /** Bloom bit budget: 2^29 bits = 64 MiB serialized per filter. Enough
    * for 1% fpp up to ~56M expected items (9.6 bits/item); past that the
    * EFFECTIVE fpp rises and the recheck absorbs more rows — pruning
    * degrades gracefully, results stay exact. The blob rides in the
    * stage's task binary (torrent-broadcast once per stage). */
  private[graft] val MaxBloomBits: Long = 1L << 29

  private def bloomSer(b: org.apache.spark.util.sketch.BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    b.writeTo(bos)
    bos.toByteArray
  }

  /** Conservative bytes/row for sizing blooms from plan statistics: BIAS
    * LOW (overestimate rows) — an oversized bloom just spends more of the
    * [[MaxBloomBits]]-capped space, while an undersized one raises the
    * EFFECTIVE fpp and pushes more rows through the exact recheck. Any
    * real document corpus compresses to well over 64 B/row, so the
    * estimate overshoots and the cap absorbs it. */
  private[graft] val EstBytesPerRow = 64L

  /** Row-count estimate for bloom sizing WITHOUT running a Spark job —
    * the old `df.count()` fallback was a third full corpus scan at 100 TB
    * (VERDICT r17 Wrong #2). Catalyst's plan statistics are free:
    * `rowCount` when CBO/ANALYZE stats exist, else the file-source
    * `sizeInBytes` over [[EstBytesPerRow]]. Sizing only tunes the bloom's
    * space/shuffle trade — results are exact for ANY estimate — so a
    * heuristic is safe where a scan is not. */
  private[graft] def estimateRows(df: DataFrame): Long = {
    val stats = df.queryExecution.optimizedPlan.stats
    stats.rowCount match {
      case Some(rc) => rc.min(BigInt(Long.MaxValue)).max(BigInt(1)).toLong
      case None =>
        (stats.sizeInBytes / EstBytesPerRow)
          .min(BigInt(Long.MaxValue)).max(BigInt(1024)).toLong
    }
  }

  /** Memory-bounded EXACT dedup with a bloom-pruned shuffle — the
    * Dolma-style tier of the exact family (Soldaini et al. 2024 dedup
    * documents through a bloom over normalized hashes). Same output
    * contract as [[exactGroups]] (fingerprint, keep_id, dup_count; the
    * oracle row reuses q_dedup_exact's SQL verbatim), different anatomy:
    *
    *   - one aggregation pass builds an equal-shape bloom PAIR
    *     (B1 = "seen", B2 = "seen ≥ 2×"): within a partition a
    *     fingerprint hitting B1 goes into B2; at merges
    *     B2 ∪= B1ₐ ∩ B1ᵦ — all bitwise OR/AND on same-shape filters, so
    *     B2 can only OVER-approximate the duplicated set (bloom false
    *     positives, never negatives);
    *   - the probe pass routes each row by one codegen'd
    *     [[graft.functions.BloomFunctions.mightContain]] test: a miss is
    *     DEFINITIVELY unique and is emitted shuffle-free as its own
    *     singleton group; hits (true dups + ~fpp·n false positives) go
    *     through the exact groupBy recheck.
    *
    * So where [[exactGroups]] shuffles all n (fingerprint, id) rows, this
    * shuffles only the duplicated tail — at a typical few-% dup rate the
    * exchange shrinks ~25–100× for ONE extra corpus scan (the bloom
    * build; sizing comes from [[estimateRows]]'s plan statistics or the
    * caller's `expectedItems`, never a count job). The bloom is bounded
    * at [[MaxBloomBits]] regardless of corpus size. Because the bloom
    * only PRUNES, fpp is a pure space/shuffle knob — any fpp returns
    * exactly [[exactGroups]]'s rows. */
  def bloomExactGroups(
      df: DataFrame,
      idCol: String,
      textCol: String,
      fpp: Double = 0.01,
      expectedItems: Option[Long] = None
  ): DataFrame = {
    require(fpp > 0.0 && fpp < 1.0, s"dedup_bloom: fpp must be in (0, 1), got $fpp")
    import org.apache.spark.util.sketch.BloomFilter
    val keyed = df.select(
      fpOrUnique(TextFunctions.fingerprint(F.col(textCol)), F.col(idCol)).as("fingerprint"),
      F.col(idCol))
    val n = expectedItems.getOrElse(estimateRows(df)).max(1L)
    val numBits = BloomFilter.optimalNumOfBits(n, fpp).min(MaxBloomBits).max(64L)
    // the build pass ships ONE serialized bloom pair per partition through
    // the treeReduce — on a very wide corpus scan (thousands of input
    // splits) that traffic would dominate, so cap the builder at 64
    // coalesced partitions (no shuffle; each task reads more splits, and
    // the per-task work is a pure scan + hash)
    val fpRdd = {
      val r = keyed.select("fingerprint").rdd
      if (r.getNumPartitions > 64) r.coalesce(64) else r
    }
    val parts = fpRdd.mapPartitions { it =>
      val b1 = BloomFilter.create(n, numBits)
      val b2 = BloomFilter.create(n, numBits)
      it.foreach { r =>
        val b = r.getString(0).getBytes(java.nio.charset.StandardCharsets.UTF_8)
        if (b1.mightContainBinary(b)) b2.putBinary(b) else b1.putBinary(b)
      }
      Iterator.single((bloomSer(b1), bloomSer(b2)))
    }
    if (parts.getNumPartitions == 0) return exactGroups(df, idCol, textCol)
    val (_, b2Bytes) = parts.treeReduce({ (a, b) =>
      val b1a = BloomFilter.readFrom(a._1)
      val b1b = BloomFilter.readFrom(b._1)
      val b2 = BloomFilter.readFrom(a._2)
      b2.mergeInPlace(BloomFilter.readFrom(b._2))
      val inter = BloomFilter.readFrom(a._1) // fresh copy — intersect mutates
      inter.intersectInPlace(b1b)
      b2.mergeInPlace(inter)
      b1a.mergeInPlace(b1b)
      (bloomSer(b1a), bloomSer(b2))
    }, depth = 2)
    val dupCand = graft.functions.BloomFunctions.mightContain(
      F.col("fingerprint"), new graft.functions.BytesBlob(b2Bytes))
    val uniques = keyed.filter(!dupCand)
      .select(F.col("fingerprint"), F.col(idCol).as("keep_id"),
        F.lit(1L).as("dup_count"))
    val rechecked = keyed.filter(dupCand)
      .groupBy("fingerprint")
      .agg(F.min(F.col(idCol)).as("keep_id"), F.count(F.lit(1)).as("dup_count"))
    uniques.unionAll(rechecked)
  }

  /** Exact INCREMENTAL dedup of a new batch against an existing corpus —
    * the actual Dolma deployment shape (is this crawl doc already in the
    * corpus?), and the place the bloom pays most: the corpus is SCANNED
    * twice (membership-bloom build + the exact recheck) but never
    * shuffled and never collected; only the batch's bloom HITS (true dups
    * + ~fpp·|batch| false positives) reach the recheck, which probes the
    * corpus with a broadcast hash join on the candidate fingerprints and
    * reduces to a candidate-sized match table. Results are EXACT — the
    * bloom admits no false negatives and false positives die in the
    * recheck join — so the oracle is a plain SQL fingerprint join.
    *
    * Null-text batch rows are NEVER duplicates (null carries no content
    * evidence — the [[fpOrUnique]] principle), and null-text corpus rows
    * contribute no fingerprints.
    *
    * Output: one row per batch row — (idCol, is_dup, dup_of) with dup_of
    * = the smallest corpus id sharing the normalized fingerprint (null
    * when novel). */
  def bloomDedupAgainst(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      fpp: Double = 0.01,
      expectedItems: Option[Long] = None
  ): DataFrame = {
    require(fpp > 0.0 && fpp < 1.0, s"dedup_bloom_against: fpp must be in (0, 1), got $fpp")
    bloomDedupAgainstWith(
      corpus, buildCorpusBloom(corpus, textCol, fpp, expectedItems),
      batch, idCol, textCol)
  }

  /** FIT half of [[bloomDedupAgainst]]: the corpus-membership bloom over
    * normalized text fingerprints, serialized — the persistable
    * cross-batch state a streaming deployment builds ONCE and probes
    * every micro-batch with ([[graft.streaming.Subscribe.dedupAgainstAppend]]).
    * None when the corpus has no partitions (probe degrades to
    * everything-novel). Extracted from the r17 single-shot operator as a
    * pure refactor — [[bloomDedupAgainst]] composes fit + score, so its
    * rows are unchanged by construction. */
  def buildCorpusBloom(
      corpus: DataFrame,
      textCol: String,
      fpp: Double = 0.01,
      expectedItems: Option[Long] = None
  ): Option[Array[Byte]] = {
    require(fpp > 0.0 && fpp < 1.0,
      s"buildCorpusBloom: fpp must be in (0, 1), got $fpp")
    import org.apache.spark.util.sketch.BloomFilter
    val n = expectedItems.getOrElse(estimateRows(corpus)).max(1L)
    val numBits = BloomFilter.optimalNumOfBits(n, fpp).min(MaxBloomBits).max(64L)
    buildCorpusBloomShaped(corpus, textCol, n, numBits)
  }

  /** [[buildCorpusBloom]] at an EXPLICIT (n, numBits) shape — same-shape
    * filters are merge-compatible, which is what the persisted bloom
    * index's append path needs: a batch bloom built at the stored shape
    * ORs into the stored blob losslessly. */
  private def buildCorpusBloomShaped(
      corpus: DataFrame,
      textCol: String,
      n: Long,
      numBits: Long
  ): Option[Array[Byte]] = {
    import org.apache.spark.util.sketch.BloomFilter
    val fpRdd = {
      val r = corpus.filter(F.col(textCol).isNotNull)
        .select(TextFunctions.fingerprint(F.col(textCol)).as("__fp")).rdd
      if (r.getNumPartitions > 64) r.coalesce(64) else r
    }
    val parts = fpRdd.mapPartitions { it =>
      val bf = BloomFilter.create(n, numBits)
      it.foreach(r =>
        bf.putBinary(r.getString(0).getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      Iterator.single(bloomSer(bf))
    }
    if (parts.getNumPartitions == 0) None
    else Some(parts.treeReduce({ (a, b) =>
      val bf = BloomFilter.readFrom(a)
      bf.mergeInPlace(BloomFilter.readFrom(b))
      bloomSer(bf)
    }, depth = 2))
  }

  /** Persist the corpus-membership bloom as a durable, APPENDABLE index —
    * the fifth persisted artifact family (BM25/MinHash/int8/PQ get their
    * postings/signatures/codes; the bloom dedup tier gets its filter).
    * One parquet row: (bloom binary — null for an empty corpus, n,
    * num_bits, fpp). A recurring crawl then probes via
    * [[bloomDedupAgainstIndex]] WITHOUT rebuilding the bloom (the old
    * per-session build scan), and maintains it via [[bloomIndexAppend]] —
    * blooms of one shape OR together losslessly, so the appended filter
    * is EXACTLY the filter a fresh build over corpus ∪ batch at the same
    * shape would produce (spec-gated byte-identical). Sizing comes from
    * plan statistics / `expectedItems` as in [[bloomExactGroups]]; an
    * appended index keeps its ORIGINAL shape (the standard bloom trade:
    * effective fpp rises as items exceed the original estimate — results
    * stay exact because the recheck decides). */
  def writeBloomIndex(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      fpp: Double = 0.01,
      expectedItems: Option[Long] = None
  ): Unit = {
    require(fpp > 0.0 && fpp < 1.0,
      s"dedup_bloom_index: fpp must be in (0, 1), got $fpp")
    import org.apache.spark.util.sketch.BloomFilter
    val n = expectedItems.getOrElse(estimateRows(corpus)).max(1L)
    val numBits = BloomFilter.optimalNumOfBits(n, fpp).min(MaxBloomBits).max(64L)
    val blob = buildCorpusBloomShaped(corpus, textCol, n, numBits).orNull
    val spark = corpus.sparkSession
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("bloom",
        org.apache.spark.sql.types.BinaryType, nullable = true),
      org.apache.spark.sql.types.StructField("n",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("num_bits",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("fpp",
        org.apache.spark.sql.types.DoubleType, nullable = false)))
    spark.createDataFrame(
        Seq(org.apache.spark.sql.Row(blob, n, numBits, fpp)).asJava, schema)
      .repartition(1)
      .write.mode("overwrite").parquet(path)
  }

  private def readBloomIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String
  ): (Option[Array[Byte]], Long, Long, Double) = {
    val row = graft.Tables.readPath(spark, path).head()
    val blob =
      if (row.isNullAt(row.fieldIndex("bloom"))) None
      else Some(row.getAs[Array[Byte]](row.fieldIndex("bloom")))
    (blob, row.getLong(row.fieldIndex("n")),
      row.getLong(row.fieldIndex("num_bits")),
      row.getDouble(row.fieldIndex("fpp")))
  }

  /** Merge a NEW batch's fingerprints into a persisted bloom index — the
    * nightly maintenance step: one batch-sized scan, no corpus re-read.
    * The batch bloom is built at the STORED shape, so the OR is lossless
    * and order-independent (build(a)∪build(b) ≡ build(a ∪ b), a bitwise
    * bloom identity at fixed shape). */
  def bloomIndexAppend(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      batch: DataFrame,
      idCol: String,
      textCol: String
  ): Unit = {
    import org.apache.spark.util.sketch.BloomFilter
    val (blob, n, numBits, fpp) = readBloomIndex(spark, path)
    val batchBlob = buildCorpusBloomShaped(batch, textCol, n, numBits)
    val merged: Option[Array[Byte]] = (blob, batchBlob) match {
      case (Some(a), Some(b)) =>
        val bf = BloomFilter.readFrom(a)
        bf.mergeInPlace(BloomFilter.readFrom(b))
        Some(bloomSer(bf))
      case (a, b) => a.orElse(b)
    }
    import scala.jdk.CollectionConverters._
    val schema = graft.Tables.readPath(spark, path).schema
    spark.createDataFrame(
        Seq(org.apache.spark.sql.Row(merged.orNull, n, numBits, fpp)).asJava, schema)
      .repartition(1)
      .write.mode("overwrite").parquet(path)
  }

  /** [[bloomDedupAgainst]] probing a PERSISTED bloom index: the filter is
    * read back (one driver row — the bounded class) instead of rebuilt,
    * so a recurring crawl pays only its own probe + the exact
    * candidate-broadcast recheck against the recheck corpus. The corpus
    * argument is the EXACTNESS source — it must cover every document the
    * bloom was built/appended over, or a pruned true-dup would surface as
    * novel. */
  def bloomDedupAgainstIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String
  ): DataFrame = {
    val (blob, _, _, _) = readBloomIndex(spark, path)
    bloomDedupAgainstWith(corpus, blob, batch, idCol, textCol)
  }

  /** SCORE half of [[bloomDedupAgainst]]: probe the batch against a
    * PRE-BUILT corpus bloom, then the exact broadcast recheck against the
    * corpus. Per invocation the corpus is scanned once (the recheck) and
    * shuffled never; the bloom rides the plan as a task-binary constant. */
  /** The corpus keyed for the exact recheck: (fingerprint, id) — the only
    * corpus columns the dedup ever reads. Exposed so the STREAMING sink can
    * compute+persist it once before the first trigger (the phashAgainst
    * pattern) instead of re-fingerprinting the corpus text every
    * micro-batch. */
  def corpusFingerprints(corpus: DataFrame, idCol: String, textCol: String): DataFrame =
    corpus.filter(F.col(textCol).isNotNull)
      .select(TextFunctions.fingerprint(F.col(textCol)).as("__fp"), F.col(idCol))

  def bloomDedupAgainstWith(
      corpus: DataFrame,
      bloomBytes: Option[Array[Byte]],
      batch: DataFrame,
      idCol: String,
      textCol: String
  ): DataFrame =
    bloomDedupAgainstKeyed(
      corpusFingerprints(corpus, idCol, textCol), bloomBytes, batch, idCol, textCol)

  /** [[bloomDedupAgainstWith]] over a pre-keyed corpus (see
    * [[corpusFingerprints]]). */
  def bloomDedupAgainstKeyed(
      cKeyed: DataFrame,
      bloomBytes: Option[Array[Byte]],
      batch: DataFrame,
      idCol: String,
      textCol: String
  ): DataFrame = {
    val bKeyed = batch.select(F.col(idCol),
      F.when(F.col(textCol).isNotNull, TextFunctions.fingerprint(F.col(textCol)))
        .as("__fp"))
    bloomBytes match {
      case None =>
        bKeyed.select(F.col(idCol), F.lit(false).as("is_dup"),
          F.lit(null).cast(bKeyed.schema(idCol).dataType).as("dup_of"))
      case Some(bytes) =>
        val hit = graft.functions.BloomFunctions.mightContain(
          F.col("__fp"), new graft.functions.BytesBlob(bytes))
        val cand = bKeyed.filter(F.col("__fp").isNotNull && hit)
          .select("__fp").distinct()
        // exact recheck: corpus scan + BROADCAST of the candidate
        // fingerprints (no corpus shuffle; the groupBy reduces a
        // candidate-sized frame)
        val matches = cKeyed.join(F.broadcast(cand), Seq("__fp"))
          .groupBy("__fp").agg(F.min(F.col(idCol)).as("dup_of"))
        bKeyed.join(F.broadcast(matches), Seq("__fp"), "left")
          .select(F.col(idCol), F.col("dup_of").isNotNull.as("is_dup"), F.col("dup_of"))
    }
  }

  /** Fully-LAZY exact form of [[bloomDedupAgainst]] — identical rows and
    * schema, no bloom (a plain fingerprint join). Two uses: the
    * analysis-only lowering path (a compile/LSP/docs schema probe of
    * dedup_bloom_against must not run the eager bloom-build jobs — ADVICE
    * r17), and the DuckDB oracle's semantics made executable in Spark. */
  def dedupAgainstExact(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String
  ): DataFrame = {
    val matches = corpus.filter(F.col(textCol).isNotNull)
      .select(TextFunctions.fingerprint(F.col(textCol)).as("__fp"), F.col(idCol))
      .groupBy("__fp").agg(F.min(F.col(idCol)).as("dup_of"))
    batch.select(F.col(idCol),
        F.when(F.col(textCol).isNotNull, TextFunctions.fingerprint(F.col(textCol)))
          .as("__fp"))
      .join(matches, Seq("__fp"), "left")
      .select(F.col(idCol), F.col("dup_of").isNotNull.as("is_dup"), F.col("dup_of"))
  }

  // ---------------------------------------------------------------------------
  // MinHash + LSH
  // ---------------------------------------------------------------------------

  /** Deterministic (a, b) parameters for the k minhash permutations
    * h_j(x) = (a_j·x + b_j) mod p — fixed seed so results are stable.
    * p = 2^31−1 (Mersenne) keeps a·x within a 64-bit long under ANSI
    * arithmetic: a, x < 2^31 ⇒ a·x < 2^62. */
  /** The fixed-seed (a, b) hash parameters — exposed so DuckDB oracles can
    * inline the exact same linear hashes (QueryCatalog builds the oracle
    * SQL from this list). */
  def minhashParamsFor(k: Int): Seq[(Long, Long)] = minhashParams(k)

  private def minhashParams(k: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42L)
    Seq.fill(k)((
      (math.abs(rnd.nextLong()) % (MersennePrime - 1)) + 1,
      math.abs(rnd.nextLong()) % MersennePrime))
  }
  private val MersennePrime = (1L << 31) - 1

  /** MinHash signature column: array of k minimums over the shingle hash set.
    * Entirely columnar — k × array_min(transform(...)) under one projection.
    *
    * NOTE: higher-order functions are interpreted per element in Spark —
    * fine for a handful of rows, but for table-scale signatures use
    * [[minhashSignatures]] (explode + codegen'd wide min-aggregate), which
    * is ~100× faster and shuffle-bounded. */
  def minhashSignature(text: Column, numHashes: Int = 128, shingleSize: Int = 3): Column = {
    // SAME shingle-hash kernel as the table-scale minhashSignatures /
    // buildMinhashIndex (FNV-1a + mix): a Column-computed signature must be
    // able to probe a table-built index — the previous xxhash64-based
    // kernel produced disjoint hash families, so mixed use silently
    // yielded zero collisions
    val hashes = graft.functions.TextHashExpressions.shingleHashes64(text, shingleSize)
    val sigs = minhashParams(numHashes).map { case (a, b) =>
      F.array_min(F.transform(hashes, x =>
        F.pmod(F.pmod(x, F.lit(MersennePrime)) * a + b, F.lit(MersennePrime))))
    }
    F.when(F.size(hashes) === 0, F.lit(null)).otherwise(F.array(sigs: _*))
  }

  /** Table-scale minhash signatures: (id, __m0 … __m{k-1}), one row per doc
    * with ≥1 shingle. Relational formulation: explode shingle hashes, then a
    * single hash-aggregate with k `min` columns — whole-stage codegen'd with
    * map-side partial aggregation, one shuffle on the doc id. */
  def minhashSignatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int,
      shingleSize: Int
  ): DataFrame = {
    val exploded = spread(df).select(
      F.col(idCol),
      F.explode(graft.functions.TextHashExpressions.shingleHashes64(F.col(textCol), shingleSize)).as("__h0"))
      .select(F.col(idCol), F.pmod(F.col("__h0"), F.lit(MersennePrime)).as("__h"))
    val mins = minhashParams(numHashes).zipWithIndex.map { case ((a, b), j) =>
      F.min(F.pmod(F.col("__h") * a + b, F.lit(MersennePrime))).as(s"__m$j")
    }
    exploded.groupBy(F.col(idCol)).agg(mins.head, mins.tail: _*)
  }

  /** Candidate near-dup pairs via banded LSH over minhash signatures.
    *
    * bands × rowsPerBand = numHashes; two docs collide when any band of
    * their signatures matches exactly. P(collide) ≈ 1-(1-s^r)^b.
    *
    * Plan shape: explode to (bandIdx, bandHash, id) postings — b rows per
    * doc — then self-join postings on (bandIdx, bandHash) with id < id2.
    * Shuffle cost O(b·n); buckets are hash-distributed. Pathological buckets
    * (identical boilerplate docs) are capped via `maxBucketSize` to bound the
    * quadratic in-bucket pair expansion — the standard guard at web scale.
    */
  def minhashLshPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      numHashes: Int = 128,
      bands: Int = 32,
      shingleSize: Int = 3,
      maxBucketSize: Int = 1000
  ): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val r = numHashes / bands
    val sig = minhashSignatures(df, idCol, textCol, numHashes, shingleSize)

    // band hash = xxhash64 over the band's r signature columns (variadic —
    // no intermediate array); postings carry ONLY (id, band_idx, band_hash),
    // not the shingle arrays: at 100 TB, shipping each doc's shingle set
    // through b=32 posting rows would multiply the shuffle by ~b×doc_size.
    val bandHashes = (0 until bands).map { bi =>
      F.xxhash64((bi * r until (bi + 1) * r).map(j => F.col(s"__m$j")): _*)
    }
    val parts = df.sparkSession.sparkContext.defaultParallelism
    val postings = sig.select(
      F.col(idCol),
      F.posexplode(F.array(bandHashes: _*)).as(Seq("band_idx", "band_hash")))
      // explicit numbered repartition: parallelizes the quadratic stage AND
      // pins the partition count — AQE would coalesce the tiny posting
      // shuffle (a few MB) into one partition and serialize the self-join.
      // (The ngram kernel's 4x-cores widening was MEASURED SLOWER here —
      // band buckets are already cap-bounded at 1000 and the posting set
      // is bands-fold smaller, so finer tasks are pure overhead.)
      .repartition(parts, F.col("band_idx"), F.col("band_hash"))

    // bucket-size guard: drop pathologically hot buckets (boilerplate
    // storms) via a window count over the SAME hash distribution the join
    // needs — no side job, no extra shuffle of the postings (a
    // groupBy+broadcast-anti-join formulation costs an extra job and ~1 s of
    // fixed stage overhead per query in local mode).
    val bucketed = capBuckets(postings, maxBucketSize, "band_idx", "band_hash")

    val left = bucketed.select(
      F.col("band_idx"), F.col("band_hash"), F.col(idCol).as("id_a"))
    val right = bucketed.select(
      F.col("band_idx"), F.col("band_hash"), F.col(idCol).as("id_b"))

    val candidates = left
      .join(right, Seq("band_idx", "band_hash"))
      .filter(F.col("id_a") < F.col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
      // materialize the (cap-bounded, small) pair list once: it feeds three
      // consumers below (the verify join and both sides of the id-prune
      // union) and would otherwise re-run the posting self-join per use
      .localCheckpoint(true)

    // verify candidates with exact Jaccard: re-join the shingle sets by id
    // (two equi-joins on the candidate ids — far smaller than the postings).
    // The shingle re-evaluation is PRUNED to docs that appear in some
    // candidate pair — verify CPU scales with the candidate set, not the
    // corpus (at 100 TB candidates are orders of magnitude smaller).
    val candIds = candidates.select(F.col("id_a").as("__cid"))
      .union(candidates.select(F.col("id_b").as("__cid")))
      .distinct()
    val prunedDocs = df.join(candIds, F.col(idCol) === F.col("__cid"), "left_semi")
    val shingleSets = spread(prunedDocs).select(
      F.col(idCol).as("__id"),
      graft.functions.TextHashExpressions.shingleHashes64(F.col(textCol), shingleSize).as("__sh"))
    val withSets = candidates
      .join(shingleSets.select(F.col("__id").as("id_a"), F.col("__sh").as("__sh_a")), Seq("id_a"))
      .join(shingleSets.select(F.col("__id").as("id_b"), F.col("__sh").as("__sh_b")), Seq("id_b"))
    val common = F.size(F.array_intersect(F.col("__sh_a"), F.col("__sh_b")))
    val union = F.size(F.col("__sh_a")) + F.size(F.col("__sh_b")) - common
    val verified = withSets
      .withColumn("jaccard", F.round(common.cast("double") / union, 6))
      .filter(F.col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
      // materialize the (threshold-filtered, small) verified pairs so the
      // candidate checkpoint's blocks can be released NOW rather than
      // pinned until driver GC — the r8 block-accumulation fix
      .localCheckpoint(true)
    releaseCheckpoint(candidates)
    verified
  }

  /** MinHash-LSH dedup: drop every doc that has a verified near-dup with a
    * smaller id (greedy canonical-representative policy — no iterative
    * connected components, one extra semi-join). */
  def minhashLsh(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      numHashes: Int = 128,
      bands: Int = 32,
      shingleSize: Int = 3
  ): DataFrame = {
    val losers = minhashLshPairs(df, idCol, textCol, threshold, numHashes, bands, shingleSize)
      .select(F.col("id_b").as(idCol))
      .distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  // ---------------------------------------------------------------------------
  // Persisted MinHash signature index + incremental (batch-vs-corpus) dedup
  // ---------------------------------------------------------------------------

  /** Build the CTAS-able MinHash signature index of a corpus: one row per
    * doc with >= 1 shingle, schema (idCol, sig array<long>) with
    * sig(j) = the j-th fixed-seed minhash (identical values to
    * [[minhashSignatures]]' __mj columns — the DuckDB oracle reproduces
    * them bit-for-bit).
    *
    * This is the offline step of incremental dedup at 100 TB: the corpus
    * text is shingled ONCE, and every later batch probes the stored
    * signatures (~numHashes×8 bytes/doc ≈ 0.5 KB vs the 5–50 KB raw doc).
    * A beyond-parity scale lever (the reference has no dedup operators —
    * this family is the training-data-pipeline surface), same
    * offline-build/online-probe shape as
    * [[graft.operators.Similarity.buildInt8Index]]. */
  def buildMinhashIndex(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 64,
      shingleSize: Int = 2
  ): DataFrame = {
    val sigs = minhashSignatures(df, idCol, textCol, numHashes, shingleSize)
    sigs.select(
      F.col(idCol),
      F.array((0 until numHashes).map(j => F.col(s"__m$j")): _*).as("sig"))
  }

  /** Incrementally append a NEW batch's signature rows to a persisted
    * MinHash index — the recurring-crawl maintenance path for the dedup
    * index family (the bm25_index_append twin; the index was build-once
    * before this, so a nightly batch forced a full corpus re-shingle).
    * Signatures are deterministic per doc (fixed-seed hash params), so an
    * appended index is ROW-IDENTICAL to a full rebuild over
    * corpus ∪ batch — probes (dedup_incremental[_pairs]) give bitwise the
    * rebuild's answers, and the corpus is never re-read (cost scales with
    * |batch|). Pre-existing index files are never touched (spec-gated).
    *
    * Payload-bearing indexes (extra corpus columns CTAS'd alongside
    * (id, sig)) are supported: every extra column must exist on the batch
    * or the append fails with a named error. `numHashes` must match the
    * index's signature width — checked against one index row (bounded
    * driver read). */
  def minhashIndexAppend(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 64,
      shingleSize: Int = 2
  ): Unit = {
    val idx = graft.Tables.readPath(spark, indexPath)
    val idxCols = idx.schema.fieldNames.toSeq
    require(idxCols.contains("sig"),
      s"minhash_index_append: '$indexPath' has no 'sig' column — not a MinHash index " +
        s"(build one with minhash_index / Dedup.buildMinhashIndex)")
    idx.select(F.size(F.col("sig")).as("k")).limit(1).collect().headOption.foreach { r =>
      require(r.getInt(0) == numHashes,
        s"minhash_index_append: index signatures have ${r.getInt(0)} components " +
          s"but num_hashes is $numHashes — probe compatibility would break")
    }
    val idName = idxCols.head
    val sigs = buildMinhashIndex(batch, idCol, textCol, numHashes, shingleSize)
    val joined = sigs.join(batch, Seq(idCol))
    val out = idxCols.map {
      case n if n == idName => F.col(idCol).as(n)
      case "sig" => F.col("sig")
      case n =>
        require(batch.columns.contains(n),
          s"minhash_index_append: index carries payload column '$n' the batch lacks")
        F.col(n)
    }
    joined.select(out: _*).write.mode("append").parquet(indexPath)
  }

  /** (batch_id, corpus_id, est_jaccard) near-dup links from a NEW batch of
    * documents into a persisted signature index (see
    * [[buildMinhashIndex]]). The batch is shingled fresh — the only text
    * scan in the query; the corpus side reads (id, sig) from the index and
    * never touches corpus text.
    *
    * Candidates: banded LSH — band hash = xxhash64 over the band's r
    * signature components, identical on both sides, so an index built at
    * (numHashes, shingleSize) MUST be probed with the same values (and the
    * same bands for the collision probability you expect). Verification:
    * the standard k-component MinHash estimator, est_jaccard =
    * |{j : sigA(j) = sigB(j)}| / k — computed from signatures alone (no
    * corpus text), granularity 1/k, an unbiased estimate of the true
    * shingle Jaccard. Postings carry only (id, band_idx, band_hash) —
    * 24-byte rows — and signatures are re-joined by id only for the
    * candidate set, so verify I/O scales with candidates, not the corpus.
    * Pathological corpus buckets (boilerplate storms) are capped via
    * `maxBucketSize`, same guard as [[minhashLshPairs]]. */
  def minhashIndexPairs(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      index: DataFrame,
      threshold: Double = 0.5,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 2,
      maxBucketSize: Int = 1000
  ): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val r = numHashes / bands
    val idxIdCol = index.columns.head
    val bsig = buildMinhashIndex(batch, idCol, textCol, numHashes, shingleSize)
      .select(F.col(idCol).as("batch_id"), F.col("sig"))
    val isig = index.select(F.col(idxIdCol).as("corpus_id"), F.col("sig"))

    def postings(df: DataFrame, idName: String): DataFrame = {
      val bandHashes = (0 until bands).map { bi =>
        F.xxhash64((bi * r until (bi + 1) * r).map(j => F.col("sig")(j)): _*)
      }
      df.select(
        F.col(idName),
        F.posexplode(F.array(bandHashes: _*)).as(Seq("band_idx", "band_hash")))
    }
    val parts = batch.sparkSession.sparkContext.defaultParallelism
    val bPost = postings(bsig, "batch_id")
      .repartition(parts, F.col("band_idx"), F.col("band_hash"))
    val cPost0 = postings(isig, "corpus_id")
      .repartition(parts, F.col("band_idx"), F.col("band_hash"))
    val cPost = capBuckets(cPost0, maxBucketSize, "band_idx", "band_hash")

    val candidates = bPost
      .join(cPost, Seq("band_idx", "band_hash"))
      .select("batch_id", "corpus_id")
      .dropDuplicates("batch_id", "corpus_id")

    // verify from signatures only: matches/k as a codegen'd constant-width
    // sum of per-component equality flags (no interpreted HOFs in the path)
    val withSigs = candidates
      .join(bsig.select(F.col("batch_id"), F.col("sig").as("__sig_a")), Seq("batch_id"))
      .join(isig.select(F.col("corpus_id"), F.col("sig").as("__sig_b")), Seq("corpus_id"))
    val matches = (0 until numHashes)
      .map(j => F.when(F.col("__sig_a")(j) === F.col("__sig_b")(j), 1).otherwise(0))
      .reduce(_ + _)
    withSigs
      .withColumn("est_jaccard", F.round(matches.cast("double") / numHashes, 6))
      .filter(F.col("est_jaccard") >= threshold)
      .select("batch_id", "corpus_id", "est_jaccard")
  }

  /** Incremental dedup: the batch rows that have NO near-dup in the
    * persisted corpus index — the daily-ingest shape (dedupe today's crawl
    * against yesterday's multi-TB corpus without re-shingling the corpus).
    * Intra-batch dups are deliberately NOT removed here (compose with
    * [[minhashLsh]] on the batch for that). */
  def dedupAgainstMinhashIndex(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      index: DataFrame,
      threshold: Double = 0.5,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 2
  ): DataFrame = {
    val flagged = minhashIndexPairs(
      batch, idCol, textCol, index, threshold, numHashes, bands, shingleSize)
      .select(F.col("batch_id").as(idCol)).distinct()
    batch.join(flagged, Seq(idCol), "left_anti")
  }

  // ---------------------------------------------------------------------------
  // SimHash
  // ---------------------------------------------------------------------------

  /** 64-bit SimHash over token hashes: per bit position, sum +1/-1 votes
    * across token hashes, take the sign. Columnar via nested
    * transform+aggregate (bit extraction through the SQL `shiftright`, which
    * accepts a column shift amount).
    *
    * NOTE: 64 interpreted higher-order `aggregate` passes per row — use only
    * on small/constant inputs. Table-scale: [[simhashTable]]. */
  def simhash(text: Column): Column = {
    // unigram token hashes from the SAME kernel as simhashTable — hamming
    // distances between Column-computed and table-computed signatures are
    // meaningful only if both use one hash family
    val hashes = graft.functions.TextHashExpressions.shingleHashes64(text, 1)
    val bits = F.transform(
      F.sequence(F.lit(0), F.lit(63)),
      i =>
        F.when(
          F.aggregate(
            hashes,
            F.lit(0L),
            (acc, h) =>
              acc + F.when(
                F.call_function("shiftright", h, i).bitwiseAND(F.lit(1L)) === 1L, 1L
              ).otherwise(-1L)
          ) > 0, F.lit(1L)).otherwise(F.lit(0L))
    )
    // fold bits into one long (bit 63 first)
    F.aggregate(F.reverse(bits), F.lit(0L), (acc, b) => F.shiftleft(acc, 1).bitwiseOR(b))
  }

  /** Table-scale simhash: (id, simhash) with one row per doc that has ≥1
    * token (token-less docs are dropped — an all-zero simhash would spuriously
    * pair every empty doc). Relational formulation: explode token hashes,
    * one hash-aggregate with 64 conditional-sum vote columns (whole-stage
    * codegen, map-side partial agg, one shuffle on id), then fold the vote
    * signs into a single 64-bit long in a projection. */
  /** Cores-aware distinct-signature threshold below which [[simhashPairs]]
    * takes the dense broadcast-signature path. Empirically tuned by a
    * dense-vs-banded sweep recorded in BENCH_SIMHASH_GATE.json (32 cores): the
    * codegen'd cross-join bit_count kernel measures ~3.7e8 comparisons
    * /s/core, and at D = 98k (1.5× the old fixed 64Ki gate) dense was
    * still 3× FASTER than the banded path while also being exact (the
    * banded bucket cap dropped ~5% of true pairs there). Budgeting ~2 s of
    * dense compute: D²/2 ≤ 2 s · 3.7e8 · cores → D ≤ √(1.5e9 · cores) —
    * ~2.2e5 on one 32-core node, growing with the cluster (the comparison
    * matrix is embarrassingly parallel). Hard cap 2²¹ signatures (16 MB
    * broadcast) so the signature list stays comfortably broadcastable no
    * matter how many cores argue for more. */
  def denseSigLimitFor(cores: Int): Long =
    math.min(math.sqrt(2.0 * 2.0 * 3.7e8 * cores).toLong, 1L << 21)

  def simhashTable(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val exploded = spread(df).select(
      F.col(idCol),
      F.explode(graft.functions.TextHashExpressions.shingleHashes64(F.col(textCol), 1)).as("__h"))
    val votes = (0 until 64).map { i =>
      F.sum(
        F.when(F.shiftright(F.col("__h"), i).bitwiseAND(F.lit(1L)) === 1L, 1L)
          .otherwise(-1L)).as(s"__b$i")
    }
    val agg = exploded.groupBy(F.col(idCol)).agg(votes.head, votes.tail: _*)
    val sim = (0 until 64)
      .map(i => F.when(F.col(s"__b$i") > 0, F.lit(1L << i)).otherwise(F.lit(0L)))
      .reduce(_.bitwiseOR(_))
    agg.select(F.col(idCol), sim.as("simhash"))
  }

  /** SimHash near-dup pairs with chunk-PAIR blocking: split the 64-bit hash
    * into `maxHamming + 2` disjoint chunks; if two hashes differ in at most
    * `maxHamming` bits, the differing bits occupy ≤ maxHamming chunks, so at
    * least TWO chunks agree — hence at least one of the C(numChunks, 2)
    * chunk pairs agrees on both members (pigeonhole, exact recall). Blocking
    * keys carry ~2·64/numChunks bits of entropy vs ~64/numChunks for
    * single-chunk blocking — at maxHamming=8 that is ~12.8 vs ~7.1 bits,
    * shrinking expected in-bucket pair counts by ~2⁶ per block at the cost of
    * C(h+2,2)/(h+1) ≈ 5× more posting rows (linear, not quadratic — the
    * right trade at scale). A `maxBucketSize` cap (as in ngramJaccardPairs)
    * drops pathological buckets (boilerplate storms) via a window count over
    * the join's own hash distribution — no side job, no extra shuffle. */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBucketSize: Int = 1000,
      denseSigLimit: Long = -1L // -1 → cores-aware default (denseSigLimitFor)
  ): DataFrame = {
    hammingPairs(simhashTable(df, idCol, textCol), idCol, "simhash",
      maxHamming, maxBucketSize, denseSigLimit)
  }

  /** Generic near-duplicate pairs over ANY 64-bit hash column — the
    * chunk-pair-blocked + dense-broadcast machinery [[simhashPairs]]
    * built, extracted so every hash family shares it (text simhash;
    * image pHash via [[phashPairs]]). Input: one (id, hash) row per
    * item; output (id_a, id_b, hamming), id_a < id_b.
    *
    * Path selection on DISTINCT-signature count. A dense near-dup corpus
    * (many docs, few distinct signatures — boilerplate storms, template
    * farms) is the blocked path's worst case: every true pair re-surfaces
    * from each of its agreeing chunk combos (up to C(numChunks,2) join rows
    * per pair), so join volume is multiplicity × true pairs. With few
    * distinct signatures the exact answer is cheaper at signature
    * granularity: broadcast the distinct-signature list (8 bytes each, ≤
    * 512 KB at the default limit), compare all signature pairs with a
    * codegen'd bit_count filter (D²/2 comparisons, embarrassingly
    * parallel), and only then expand members — each qualifying doc pair is
    * produced exactly ONCE, uncapped, exact. Blocking remains the
    * large-D path: distinct signatures grow ~linearly with a diverse
    * corpus while the dense path's D²/2 comparisons grow quadratically.
    * The gate is cores-aware and MEASURED, not analytical — see
    * [[denseSigLimitFor]] / BENCH_SIMHASH_GATE.json (dense was still 3×
    * faster, and exact, at 1.5× the old fixed 64Ki limit). */
  def hammingPairs(
      table: DataFrame,
      idCol: String,
      hashCol: String,
      maxHamming: Int,
      maxBucketSize: Int = 1000,
      denseSigLimit: Long = -1L // -1 → cores-aware default (denseSigLimitFor)
  ): DataFrame = {
    require(maxHamming >= 0, "maxHamming must be >= 0")
    require(maxHamming <= 14,
      "chunk-pair blocking needs numChunks = maxHamming + 2 <= 16 (>=4-bit chunks); " +
        "beyond hamming 14 the pigeonhole guarantee breaks")
    if (maxHamming == 0) return hammingExactPairs(table, idCol, hashCol, maxBucketSize)
    // (id, hash) is read multiple times by either path (and the path
    // choice itself needs a count) — materialize ONCE; n × 16-byte rows.
    // Released before returning (the result checkpoint cuts its lineage).
    val m = table.select(F.col(idCol), F.col(hashCol).as("simhash"))
      .localCheckpoint(true)
    val nDistinct = m.select("simhash").distinct().count()
    val gate =
      if (denseSigLimit >= 0) denseSigLimit
      else denseSigLimitFor(table.sparkSession.sparkContext.defaultParallelism)
    System.err.println(
      s"[dedup] hammingPairs($hashCol): $nDistinct distinct signatures → " +
        (if (nDistinct <= gate) "dense broadcast-signature path"
         else s"banded chunk-pair path (limit $gate)"))
    if (nDistinct <= gate) {
      val xor2 = F.col("sim_a").bitwiseXOR(F.col("sim_b"))
      // explicit numbered repartition on the streamed side: the distinct
      // output is a few hundred KB, which AQE would coalesce into ONE
      // partition and serialize the D²/2 comparisons onto a single core
      val parts0 = table.sparkSession.sparkContext.defaultParallelism
      val sigPairs = m.select(F.col("simhash").as("sim_a")).distinct()
        .repartition(parts0)
        .crossJoin(F.broadcast(m.select(F.col("simhash").as("sim_b")).distinct()))
        .filter(F.col("sim_a") < F.col("sim_b"))
        .withColumn("hamming", F.bit_count(xor2))
        .filter(F.col("hamming") <= maxHamming)
      // expand distinct-signature pairs to member doc pairs (each unordered
      // doc pair appears under exactly one ordered signature pair)
      val crossSig = sigPairs
        .join(m.select(F.col(idCol).as("__ida"), F.col("simhash").as("sim_a")), "sim_a")
        .join(m.select(F.col(idCol).as("__idb"), F.col("simhash").as("sim_b")), "sim_b")
        .select(
          F.least(F.col("__ida"), F.col("__idb")).as("id_a"),
          F.greatest(F.col("__ida"), F.col("__idb")).as("id_b"),
          F.col("hamming"))
      // equal-signature pairs (hamming 0): one self-join keyed on the
      // signature itself
      val l = m.select(F.col("simhash"), F.col(idCol).as("id_a"))
      val r = m.select(F.col("simhash"), F.col(idCol).as("id_b"))
      val eqSig = l.join(r, Seq("simhash"))
        .filter(F.col("id_a") < F.col("id_b"))
        .select(F.col("id_a"), F.col("id_b"), F.lit(0).as("hamming"))
      val out = eqSig.union(crossSig).localCheckpoint(true)
      releaseCheckpoint(m)
      return out
    }
    val numChunks = maxHamming + 2
    val bounds = (0 to numChunks).map(i => i * 64 / numChunks)
    val chunkCols = (0 until numChunks).map { i =>
      val width = bounds(i + 1) - bounds(i)
      val mask = if (width == 64) -1L else (1L << width) - 1
      F.shiftrightunsigned(F.col("simhash"), bounds(i)).bitwiseAND(F.lit(mask))
    }
    // one blocking key per chunk pair (i, j): combo index + both chunk values
    // packed into a single long (chunks are < 2^(64/numChunks) ≤ 2^32 wide
    // for numChunks ≥ 2, so k·2^52 + ca·2^26 + cb is collision-free for
    // numChunks ≥ 3, i.e. maxHamming ≥ 1; maxHamming = 0 takes the
    // equality-blocking path above)
    val pairKeys = for { i <- 0 until numChunks; j <- i + 1 until numChunks } yield (i, j)
    val keyCols = pairKeys.zipWithIndex.map { case ((i, j), k) =>
      F.lit(k.toLong) * F.lit(1L << 52) +
        chunkCols(i) * F.lit(1L << 26) + chunkCols(j)
    }
    // the blocked path reads the (already materialized) signature table once
    // for its postings; its result can be arbitrarily large, so it is NOT
    // checkpointed — m's blocks (n × 16 bytes) stay pinned until driver GC,
    // the one bounded residual of the path-choice count job
    val withSim = m
    val parts = table.sparkSession.sparkContext.defaultParallelism
    val posts = withSim.select(
      F.col(idCol), F.col("simhash"),
      F.explode(F.array(keyCols: _*)).as("bucket")
      // explicit numbered repartition, 4x cores — see ngramJaccardPairs
      // (bucket sizes are skewed; finer granularity spreads the quadratic
      // per-bucket work, optimization r18)
    ).repartition(parts * 4, F.col("bucket"))
    // bucket cap via window count over the join's own distribution (no side
    // job — see ngramJaccardPairs)
    val capped = capBuckets(posts, maxBucketSize, "bucket")
    val l = capped.select(F.col("bucket"), F.col(idCol).as("id_a"), F.col("simhash").as("sim_a"))
    val r = capped.select(F.col("bucket"), F.col(idCol).as("id_b"), F.col("simhash").as("sim_b"))
    // canonical-witness dedup: a qualifying pair collides in EVERY combo whose
    // two chunks are clean, so instead of a dropDuplicates shuffle over the
    // join output, emit the pair only from its first agreeing combo — fully
    // computable from sim_a XOR sim_b, a columnar filter with zero shuffle.
    // (If the first agreeing combo's bucket was cap-dropped, the pair is lost
    // even if a later bucket kept it — folded into the cap's recall trade.)
    val xorc = F.col("sim_a").bitwiseXOR(F.col("sim_b"))
    val chunkClean = (0 until numChunks).map { i =>
      val width = bounds(i + 1) - bounds(i)
      val mask = if (width == 64) -1L else (1L << width) - 1
      F.shiftrightunsigned(xorc, bounds(i)).bitwiseAND(F.lit(mask)) === 0L
    }
    val firstCombo = pairKeys.zipWithIndex.tail.foldLeft(
      F.when(chunkClean(pairKeys.head._1) && chunkClean(pairKeys.head._2), F.lit(0L))) {
      case (acc, ((i, j), k)) => acc.when(chunkClean(i) && chunkClean(j), F.lit(k.toLong))
    }
    l.join(r, Seq("bucket"))
      .filter(F.col("id_a") < F.col("id_b"))
      .withColumn("hamming", F.bit_count(xorc))
      .filter(F.col("hamming") <= maxHamming)
      .filter(F.shiftrightunsigned(F.col("bucket"), 52) === firstCombo)
      .select("id_a", "id_b", "hamming")
  }

  /** maxHamming = 0 degenerates to exact-duplicate detection on the full
    * 64-bit simhash: block on the fingerprint itself (one shuffle, uniform
    * 8-byte keys), no chunking or witness logic needed. */
  private def hammingExactPairs(
      table: DataFrame,
      idCol: String,
      hashCol: String,
      maxBucketSize: Int
  ): DataFrame = {
    val parts = table.sparkSession.sparkContext.defaultParallelism
    val posts = table
      .select(F.col(idCol), F.col(hashCol).as("simhash"))
      .repartition(parts, F.col("simhash"))
    val capped = capBuckets(posts, maxBucketSize, "simhash")
    val l = capped.select(F.col("simhash"), F.col(idCol).as("id_a"))
    val r = capped.select(F.col("simhash"), F.col(idCol).as("id_b"))
    l.join(r, Seq("simhash"))
      .filter(F.col("id_a") < F.col("id_b"))
      .withColumn("hamming", F.lit(0))
      .select("id_a", "id_b", "hamming")
  }

  /** Near-duplicate IMAGE pairs via perceptual hash — the LAION-style
    * pipeline tier the text family lacked (VERDICT r17 Next #6): one
    * [[Multimodal.phashImages]] decode pass (imperative codec kernel)
    * produces the 63-bit DCT pHash per asset, then the SAME
    * chunk-pair-blocked candidate machinery as text simhash
    * ([[hammingPairs]]) finds all pairs within `maxHamming` — no
    * cartesian, exact recall below the bucket cap. Undecodable payloads
    * carry no hash and can never pair. Output (id_a, id_b, hamming). */
  def phashPairs(
      df: DataFrame,
      idCol: String,
      payloadCol: String,
      maxHamming: Int = 3,
      maxBucketSize: Int = 1000,
      denseSigLimit: Long = -1L
  ): DataFrame = {
    val hashes = graft.operators.Multimodal.phashImages(df, idCol, payloadCol)
      .filter(F.col("decoded") && F.col("phash").isNotNull)
      .select(F.col("img_id").as(idCol), F.col("phash"))
    hammingPairs(hashes, idCol, "phash", maxHamming, maxBucketSize, denseSigLimit)
  }

  /** Incremental image dedup: near-dup links from a NEW batch of images
    * into a static corpus — the LAION-ingest twin of
    * [[bloomDedupAgainst]]/[[minhashIndexPairs]]. Both sides hash through
    * [[Multimodal.phashImages]]; candidates come from single-chunk
    * blocking (split the 64-bit hash into maxHamming+1 chunks — two
    * hashes within maxHamming differ in ≤ maxHamming chunks, so at least
    * one chunk agrees: pigeonhole, exact recall below the bucket cap),
    * verified with the codegen'd bit_count. Each qualifying pair is
    * emitted from its FIRST agreeing chunk only (computable from the xor
    * — no dedup shuffle). Output (batch_id, corpus_id, hamming);
    * undecodable payloads on either side never pair. */
  def phashAgainst(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      payloadCol: String,
      maxHamming: Int = 3,
      maxBucketSize: Int = 1000
  ): DataFrame =
    phashAgainstHashes(
      graft.operators.Multimodal.phashImages(corpus, idCol, payloadCol)
        .filter(F.col("decoded") && F.col("phash").isNotNull)
        .select(F.col("img_id").as("corpus_id"), F.col("phash")),
      batch, idCol, payloadCol, maxHamming, maxBucketSize)

  /** [[phashAgainst]] with the corpus side PRE-HASHED — a (corpus_id,
    * phash) frame. The split is what the streaming ingest loop needs: the
    * corpus decode (the expensive half) runs ONCE and the per-micro-batch
    * cost is the batch's own decode + the chunk-blocked join
    * ([[graft.streaming.Subscribe.phashAgainstAppend]]). Composes with
    * [[phashAgainst]] by construction (it routes through here). */
  def phashAgainstHashes(
      corpusHashes: DataFrame,
      batch: DataFrame,
      idCol: String,
      payloadCol: String,
      maxHamming: Int = 3,
      maxBucketSize: Int = 1000
  ): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      "dedup_phash_against: hamming_r must be in [0, 15] (single-chunk blocking " +
        "needs numChunks = hamming_r + 1 <= 16)")
    def hashes(df: DataFrame, outId: String): DataFrame =
      graft.operators.Multimodal.phashImages(df, idCol, payloadCol)
        .filter(F.col("decoded") && F.col("phash").isNotNull)
        .select(F.col("img_id").as(outId), F.col("phash"))
    if (maxHamming == 0) {
      // hamming 0 = hash equality: block on the full hash directly (the
      // packed chunk key cannot carry a 64-bit chunk next to its index
      // bits, and no witness logic is needed — one agreeing "chunk")
      val p0 = batch.sparkSession.sparkContext.defaultParallelism
      val c0 = capBuckets(
        corpusHashes.repartition(p0, F.col("phash")),
        maxBucketSize, "phash")
      return hashes(batch, "batch_id").join(c0, Seq("phash"))
        .select(F.col("batch_id"), F.col("corpus_id"), F.lit(0).as("hamming"))
    }
    val numChunks = maxHamming + 1
    val bounds = (0 to numChunks).map(i => i * 64 / numChunks)
    def chunk(col: org.apache.spark.sql.Column, i: Int): org.apache.spark.sql.Column = {
      val width = bounds(i + 1) - bounds(i)
      val mask = if (width == 64) -1L else (1L << width) - 1
      F.shiftrightunsigned(col, bounds(i)).bitwiseAND(F.lit(mask))
    }
    // one posting per chunk: key packs (chunk idx, chunk value) into a long
    // (chunk values are < 2^(64/numChunks) ≤ 2^32 for numChunks ≥ 2; the
    // idx rides the top bits)
    def postings(df: DataFrame, idName: String, hashName: String): DataFrame = {
      val keys = (0 until numChunks).map(i =>
        F.lit(i.toLong) * F.lit(1L << 40) + chunk(F.col(hashName), i))
      df.select(F.col(idName), F.col(hashName),
        F.explode(F.array(keys: _*)).as("bucket"))
    }
    val parts = batch.sparkSession.sparkContext.defaultParallelism
    val cPost = capBuckets(
      postings(corpusHashes, "corpus_id", "phash")
        .withColumnRenamed("phash", "__hc")
        .repartition(parts, F.col("bucket")),
      maxBucketSize, "bucket")
    val bPost = postings(hashes(batch, "batch_id"), "batch_id", "phash")
      .withColumnRenamed("phash", "__hb")
      .repartition(parts, F.col("bucket"))
    val xorc = F.col("__hb").bitwiseXOR(F.col("__hc"))
    // canonical witness: emit the pair only from its first clean chunk
    val firstClean = (1 until numChunks).foldLeft(
      F.when(chunk(xorc, 0) === 0L, F.lit(0L))) {
      case (acc, i) => acc.when(chunk(xorc, i) === 0L, F.lit(i.toLong))
    }
    bPost.join(cPost, Seq("bucket"))
      .withColumn("hamming", F.bit_count(xorc))
      .filter(F.col("hamming") <= maxHamming)
      .filter(F.shiftrightunsigned(F.col("bucket"), 40) === firstClean)
      .select("batch_id", "corpus_id", "hamming")
  }

  // ---------------------------------------------------------------------------
  // Exact n-gram Jaccard (oracle-checkable)
  // ---------------------------------------------------------------------------

  /** Exact word-n-gram Jaccard similarity pairs via posting-list join:
    * explode shingles, self-join on shingle, count common per pair, compute
    * |A∩B| / (|A|+|B|-|A∩B|). Exact below the df-cap (64-bit xxhash cannot
    * merge two shingles, p ≈ |vocab|²/2⁶⁵) and reproducible in ANSI SQL for
    * the DuckDB oracle when the cap is inactive.
    *
    * Scale anatomy:
    *   - postings carry (xxhash64(shingle), id) only — 8-byte join key, no
    *     doc-size payload; the self-join is the quadratic part (Σ df(s)²) so
    *     every byte per row multiplies; doc sizes re-attach after the pair
    *     aggregation via two joins against the tiny per-doc size table
    *   - `maxPostings` df-cap bounds the self-join to ≤ maxPostings·|postings|
    *     rows — linear at fixed cap
    *   - the explicit wide repartition on `shingle` both parallelizes the
    *     quadratic stage (a one-file scan would serialize it) and already
    *     satisfies the join's distribution requirement
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 2,
      threshold: Double = 0.5,
      maxPostings: Int = 10000
  ): DataFrame = {
    val parts = df.sparkSession.sparkContext.defaultParallelism
    // NOTE: no eager `size(...) > 0` filter here — Catalyst substitutes the
    // alias and pushes such a filter (with the whole shingling expression)
    // below the spread repartition into the narrow scan, serializing the
    // expensive HOF evaluation onto one core (measured: 7 s of a 20 s run).
    // explode() drops empty arrays on its own, which is all the filter did.
    val sh = spread(df, ShingleSpreadMinBytes).select(
      F.col(idCol).as("id"),
      graft.functions.TextHashExpressions.shingleHashes64(F.col(textCol), n).as("__sh"))
    // the per-doc shingle count rides ON the posting rows (8 bytes each):
    // attaching it here costs one long per posting through the shuffle but
    // removes a SECOND evaluation of the shingling expression (the
    // dominant CPU cost) and the two post-aggregation size joins the
    // previous `sizes` side-table needed
    val postings = sh.select(
      F.col("id"),
      F.size(F.col("__sh")).as("n"),
      F.explode(F.col("__sh")).as("shingle"))
      // explicit numbered repartition: parallelizes the quadratic stage AND
      // pins the partition count (AQE would coalesce the tiny posting
      // shuffle into one partition and serialize the self-join); also
      // already satisfies the join's distribution requirement. 4x the core
      // count (optimization r18, guide §2.5): shingle buckets are
      // Zipf-skewed, and at 1x a few hot-bucket partitions straggle while
      // the rest of the machine idles — 4x granularity measured 7.2 s →
      // 3.7-5.0 s on the full kernel at sf0.1, and the pair-agg partial
      // maps shrink with it.
      .repartition(parts * 4, F.col("shingle"))
    // df-cap (rare-shingle prefix filter, the maxBucketSize analogue): drop
    // postings of shingles hotter than maxPostings before the quadratic
    // self-join — one boilerplate shingle shared by 100k docs would
    // contribute 10¹⁰ pairs under a single join key. Pairs whose overlap is
    // exclusively capped-hot shingles are missed and `common` excludes
    // capped shingles — the standard recall trade, same as the LSH bucket
    // cap. Implemented as a window count over the join's own hash
    // distribution: no side job, no extra shuffle. (Optimization r18 note:
    // an agg-derived hot-list + anti-join variant measured the same at
    // sf0.1 and LOST the shared shingle exchange — Catalyst's
    // PushDownLeftSemiAntiJoin pushes the anti join below the repartition,
    // so the shingling re-ran serially per branch. The window stays.)
    val capped = capBuckets(postings, maxPostings, "shingle")
    val a = capped.select(F.col("shingle"),
      F.col("id").as("id_a"), F.col("n").as("n_a"))
    val b = capped.select(F.col("shingle"),
      F.col("id").as("id_b"), F.col("n").as("n_b"))
    // NOT hinted shuffle_hash: it measures ~15% faster at sf0.1 (skips the
    // SMJ sorts) but builds a corpus-scale per-partition hash map that
    // cannot spill — an OOM bet at 100 TB that sort-merge never makes
    a.join(b, Seq("shingle"))
      .filter(F.col("id_a") < F.col("id_b"))
      .groupBy("id_a", "id_b")
      // n_a/n_b are grouped-constant (functionally determined by the key)
      .agg(F.count(F.lit(1)).as("common"),
        F.any_value(F.col("n_a")).as("n_a"),
        F.any_value(F.col("n_b")).as("n_b"))
      .withColumn(
        "jaccard",
        F.round(F.col("common").cast("double") /
          (F.col("n_a") + F.col("n_b") - F.col("common")), 6))
      .filter(F.col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  // ---------------------------------------------------------------------------
  // Embedding cosine near-dup
  // ---------------------------------------------------------------------------

  /** Cosine similarity of two float-array columns, computed in double.
    * Sequential fold in index order — bit-for-bit reproducible. Backed by
    * the native codegen'd [[graft.functions.VectorExpressions]] expression
    * (the HOF zip_with/aggregate formulation is interpreted per element and
    * dominated the similarity joins). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.cosineSimilarity(a, b)

  /** Embedding near-dup pairs above a cosine threshold.
    *
    * Candidate generation uses random-hyperplane LSH (`planes` bits, docs
    * sharing a signature bucket are compared); set `bruteForce = true` for
    * the exact O(n²) reference path (only sane at small n / as an oracle).
    */
  def embeddingCosinePairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.95,
      planes: Int = 12,
      bruteForce: Boolean = false,
      tables: Int = 6,
      dim: Int = 0
  ): DataFrame = {
    // dim = 0 → infer from the data: the hyperplane signature dots over
    // min(dim, |vec|) components, so leaving the old fixed default (64) on
    // a 384/768-dim corpus silently bucketed on the first 64 dims only —
    // near-dups differing in those dims never met. One tiny driver read.
    val vecDim =
      if (dim > 0) dim
      else df.select(F.size(F.col(vecCol)).as("__d")).filter(F.col("__d") > 0)
        .head(1).headOption.map(_.getInt(0)).getOrElse(64)
    // NOTE on a rejected "optimization": precomputing per-row norms and
    // reducing the pair kernel to dot/(na*nb) measures NO faster here — the
    // fused one-pass CosineSimilarityExpr already reads each vector exactly
    // once per pair, so the kernel is memory-bound and the extra norm FLOPs
    // are free. Keep the simpler fused form.
    val base = df.select(F.col(idCol).as("id"), F.col(vecCol).as("vec"))
    val pairs =
      if (bruteForce) {
        val a = base.select(F.col("id").as("id_a"), F.col("vec").as("vec_a"))
        val b = base.select(F.col("id").as("id_b"), F.col("vec").as("vec_b"))
        a.join(b, F.col("id_a") < F.col("id_b"))
      } else {
        // multi-table hyperplane blocking: one 12-plane table catches a
        // 0.95-cosine pair with only p ≈ (1-θ/π)^planes ≈ 0.3 — measured
        // recall 0.68 on planted near-dups. With t independently-seeded
        // tables a pair collides somewhere with 1-(1-p)^t (t=6 → ~0.93
        // measured); candidates stay ~t·n·E[bucket]/2, and the exact-cosine
        // verify keeps the output exact (no false positives by construction)
        // bucket key = table id packed into the high bits of the signature:
        // an 8-byte long shuffle key instead of a ~20-byte UTF8 concat
        val withSig = base.withColumn("bucket", F.explode(F.array(
          (0 until tables).map(t =>
            Similarity.hyperplaneSignature(F.col("vec"), planes, dim = vecDim, seed = 11L + t)
              .bitwiseOR(F.lit(t.toLong << planes))): _*)))
        // Candidate-generation shape is SIZE-ADAPTIVE (optimization r18,
        // guide §2.3): the bucket self-join + dropDuplicates exchange carry
        // both full vectors per row only while the embedding table is
        // broadcast-class small (below PairVecCarryMaxBytes by plan
        // statistics — at sf0.1 the fat-row form measured ~0.9 s faster
        // because the ids-only form pays two extra re-attach join stages).
        // Past the threshold the exchanges ship (bucket, id) / (id, id)
        // only — ~60x fewer bytes at 128-dim, the minhashLshPairs
        // re-attach shape — and the two vectors are re-attached ONCE per
        // UNIQUE candidate pair by unhinted id-keyed joins AQE broadcasts
        // when the candidate set fits. Cosine stays once per unique pair.
        if (base.queryExecution.optimizedPlan.stats.sizeInBytes <= PairVecCarryMaxBytes) {
          val a = withSig.select(F.col("bucket"),
            F.col("id").as("id_a"), F.col("vec").as("vec_a"))
          val b = withSig.select(F.col("bucket"),
            F.col("id").as("id_b"), F.col("vec").as("vec_b"))
          a.join(b, Seq("bucket")).filter(F.col("id_a") < F.col("id_b"))
            .drop("bucket").dropDuplicates("id_a", "id_b")
        } else {
          // re-attach against an id-deduped side (r18 advice): with
          // duplicate input ids the fat branch keeps exactly one row per
          // (id_a, id_b) — a plain join here would fan each candidate out
          // per duplicate. One vector per id (arbitrary representative,
          // matching the fat branch's arbitrary dropDuplicates survivor);
          // on unique-id inputs — the documented precondition of every
          // caller — the branches are row-identical (EmbeddingBranchSpec).
          val uniq = base.dropDuplicates("id")
          val a = withSig.select(F.col("bucket"), F.col("id").as("id_a"))
          val b = withSig.select(F.col("bucket"), F.col("id").as("id_b"))
          a.join(b, Seq("bucket")).filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .dropDuplicates("id_a", "id_b")
            .join(uniq.select(F.col("id").as("id_a"), F.col("vec").as("vec_a")), Seq("id_a"))
            .join(uniq.select(F.col("id").as("id_b"), F.col("vec").as("vec_b")), Seq("id_b"))
        }
      }
    pairs
      .withColumn("cos_sim", F.round(cosine(F.col("vec_a"), F.col("vec_b")), 6))
      .filter(F.col("cos_sim") >= threshold)
      .select("id_a", "id_b", "cos_sim")
  }

  // ---------------------------------------------------------------------------
  // Cluster resolution: pairs → connected components
  // ---------------------------------------------------------------------------

  /** Resolve a near-duplicate PAIR list into duplicate CLUSTERS: connected
    * components by iterative min-label propagation. Every pair generator
    * above emits (id_a, id_b) edges; dedup-by-cluster then keeps one
    * representative per component (chains a~b, b~c collapse into one
    * cluster even when a~c was never emitted as a pair).
    *
    * Scale shape: each iteration is one shuffle (edges ⋈ labels, groupBy
    * min) — the standard large-graph pattern (HashToMin, Vassilvitskii et
    * al.); convergence needs O(diameter) rounds and near-dup graphs have
    * tiny diameters (clusters are quasi-cliques). Labels localCheckpoint
    * every few rounds to keep the growing lineage from re-executing the
    * pair join, and the convergence test is a metadata-cheap count of
    * changed labels, not a collect of the frame.
    *
    * Returns (id, cluster) sorted-input-stable: cluster = min member id.
    */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String = "id_a",
      bCol: String = "id_b",
      maxIter: Int = 20,
      driverEdgeLimit: Long = 2000000L
  ): DataFrame = {
    // undirected edge list, both directions (src -> dst) — materialized
    // ONCE: the loop reads it 2× per iteration, and the upstream pair
    // generator (a posting self-join) must not re-execute per round.
    // persist+count, NOT localCheckpoint (optimization r19, r18 verdict #5):
    // a locally-checkpointed frame pins blocks with TRUNCATED lineage — an
    // executor loss at 100 TB makes the whole job unrecoverable, and every
    // release spammed "cannot be recomputed after unpersisting" WARNs into
    // the bench tail. MEMORY_AND_DISK keeps the full lineage (recompute on
    // block loss) and is unpersisted before this call returns — both
    // consumers (the count gate + collect/loop) run inside this invocation,
    // so nothing cached ever crosses into a later run.
    val fwd = pairs.select(F.col(aCol).as("src"), F.col(bCol).as("dst"))
    val edges = fwd.union(fwd.select(F.col("dst").as("src"), F.col("src").as("dst")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Size-adaptive strategy, the same shape as AQE's runtime broadcast
    // decision: near-dup edge lists are orders of magnitude smaller than
    // the corpus (pairs survive candidate blocking AND verification), and
    // below `driverEdgeLimit` (≤ ~32 MB of longs at the default) a driver
    // union-find resolves components in one collect + one parallelize —
    // versus O(log d) iterations × several shuffles each, whose per-stage
    // fixed costs dominate at this size. The iterative HashToMin loop below
    // remains the path for genuinely large graphs.
    val idType = pairs.schema(pairs.schema.fieldIndex(aCol)).dataType
    val integralIds = idType == org.apache.spark.sql.types.LongType ||
      idType == org.apache.spark.sql.types.IntegerType ||
      idType == org.apache.spark.sql.types.ShortType
    val nDirEdges = edges.count()
    if (integralIds && nDirEdges <= driverEdgeLimit) {
      val spark = pairs.sparkSession
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        // path compression
        var c = x
        while (parent.getOrElse(c, c) != r) { val n = parent.getOrElse(c, c); parent(c) = r; c = n }
        r
      }
      // union by min: the representative is always the smallest member id,
      // matching the iterative path's min-label convergence exactly
      edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
        .collect().foreach { row =>
          val (a, b) = (row.getLong(0), row.getLong(1))
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) {
            if (ra < rb) parent(rb) = ra else parent(ra) = rb
          }
        }
      val nodes = parent.keySet ++ parent.values
      val labels = nodes.toSeq.map(id => (id, find(id)))
      edges.unpersist(false)
      import spark.implicits._
      return labels.toDF("id", "cluster")
        .select(F.col("id").cast(idType), F.col("cluster").cast(idType))
    }
    // seed labels with min(id, min neighbor) — one groupBy over the
    // materialized edges, equivalent to running the first neighbor-min
    // round before the loop starts (one fewer full round)
    var labels = edges.groupBy(F.col("src").as("id"))
      .agg(F.least(F.col("id"), F.min("dst")).as("lbl"))
    var iter = 0
    var converged = false
    // previous round's checkpointed frame — released once the NEXT round's
    // checkpoint has materialized (its blocks no longer feed anything)
    var prevCkpt: Option[DataFrame] = None
    while (iter < maxIter && !converged) {
      // each node adopts min(own label, neighbors' labels)
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(F.col("dst").as("id"))
        .agg(F.min("lbl").as("nlbl"))
      val newLbl = F.least(F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl")))
      val stepped = labels.join(viaNeighbors, Seq("id"), "left")
        .select(F.col("id"), F.col("lbl").as("__old"), newLbl.as("lbl"))
      // pointer jumping, applied twice per round: each node adopts the
      // label OF its label — labels are monotone decreasing and
      // label(x) <= x, so label(label(x)) is in the same component and no
      // larger. Two applications compress up to 4 hops per round, so
      // convergence takes O(log diameter / 2) rounds; at scale every round
      // is a full shuffle, so fewer rounds beat the extra (cheap,
      // same-keyed) join inside the round.
      // The changed-flag folds into the checkpointed frame: the convergence
      // test is a filter over materialized data, not a join job.
      def jump(df: DataFrame): DataFrame = {
        val ptr = df.select(F.col("id").as("lbl"), F.col("lbl").as("__lbl2"))
        df.join(ptr, Seq("lbl"), "left")
          .select(F.col("id"),
            F.coalesce(F.col("__lbl2"), F.col("lbl")).as("lbl"),
            F.col("__old"))
      }
      val jumped = jump(jump(stepped))
      val next = jumped
        .select(F.col("id"), F.col("lbl"),
          (F.col("lbl") =!= F.col("__old")).as("__chg"))
        .localCheckpoint(true) // cut lineage; also materializes per round
      converged = next.filter(F.col("__chg")).limit(1).count() == 0
      releaseCheckpoint(prevCkpt.toSeq: _*)
      prevCkpt = Some(next)
      labels = next.drop("__chg")
      iter += 1
    }
    // the final labels checkpoint is self-contained — the edge list's
    // cache can go (only the last, small, (id, lbl) frame stays pinned
    // for the caller's lazy consumption)
    if (iter > 0) edges.unpersist(false)
    labels.select(F.col("id"), F.col("lbl").as("cluster"))
  }

  /** One representative (min id) per duplicate cluster, unioned with all
    * never-paired rows: the end-to-end "drop near-duplicates" operator. */
  def dropDuplicateClusters(
      df: DataFrame,
      idCol: String,
      pairs: DataFrame
  ): DataFrame = {
    val clusters = connectedComponents(pairs)
    val losers = clusters.filter(F.col("id") =!= F.col("cluster"))
      .select(F.col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  // ---------------------------------------------------------------------------
  // Semantic dedup (SemDeDup)
  // ---------------------------------------------------------------------------

  /** SemDeDup candidate pairs ("SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", Abbas et al. 2023): cluster
    * embeddings to centroids, compare pairs only WITHIN a cluster, keep
    * pairs with cosine ≥ threshold. Uses the same deterministic md5-min
    * seed quantizer as [[Similarity.ivfSeededTopK]], so a DuckDB oracle
    * recomputes assignments bit-for-bit.
    *
    * Scale anatomy: assignment is one shuffle-free fused-kernel projection;
    * the pair join shuffles on `bucket`, so `nlist` is the parallelism AND
    * work knob — per-bucket pairing is O((n/nlist)²); scale nlist with the
    * corpus (the paper uses 50k clusters at web scale) to bound both skew
    * and quadratic work. Cross-cluster near-dups are missed by design —
    * that lossiness is the algorithm's published trade.
    *
    * Output: (bucket, id_a, id_b, cos_sim). */
  def semDedupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int = 32,
      threshold: Double = 0.9
  ): DataFrame = {
    val c = df.select(F.col(idCol).as("id"), F.col(vecCol).as("__v"))
    val cm = Similarity.seededCentroidMatrix(c, "id", "__v", nlist)
    val assigned = Similarity.seededAssign(c, "__v", cm)
    val a = assigned.select(
      F.col("bucket"), F.col("id").as("id_a"), F.col("__v").as("__va"))
    val b = assigned.select(
      F.col("bucket"), F.col("id").as("id_b"), F.col("__v").as("__vb"))
    a.join(b, Seq("bucket"))
      .filter(F.col("id_a") < F.col("id_b"))
      .withColumn("cos_sim", F.round(cosine(F.col("__va"), F.col("__vb")), 6))
      .filter(F.col("cos_sim") >= threshold)
      .select("bucket", "id_a", "id_b", "cos_sim")
  }

  /** End-to-end SemDeDup: drop all but one representative (min id, via the
    * shared connected-components path) of each within-cluster semantic
    * duplicate group. (The paper keeps the member least similar to its
    * centroid; min-id is this library's uniform representative rule across
    * every dedup family — documented divergence.) */
  def semDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int = 32,
      threshold: Double = 0.9
  ): DataFrame =
    dropDuplicateClusters(df, idCol,
      semDedupPairs(df, idCol, vecCol, nlist, threshold))

  // ---------------------------------------------------------------------------
  // Exact-substring (span-level) dedup
  // ---------------------------------------------------------------------------

  /** Exact-substring deduplication: remove token spans that repeat across
    * documents (the suffix-array dedup of "Deduplicating Training Data Makes
    * Language Models Better", approximated — as industrial distributed
    * pipelines do — with stride-1 fixed-length span fingerprints instead of
    * a global suffix array).
    *
    * Semantics: a token is DUPLICATED if it is covered by any `spanLen`-token
    * window whose content appears in ≥ `minDocs` distinct documents. The
    * cleaned text keeps only non-duplicated tokens (single-space joined);
    * docs shorter than `spanLen` tokens pass through whole.
    *
    * Shape at 100 TB: spans explode to ~1 row per token but are immediately
    * reduced to (id, pos, xxhash64) — 24-byte rows, never the span text; the
    * dup-span count is one uniform-hash shuffle with map-side partial
    * aggregation, and the join back to positions is a plain shuffle join the
    * AQE planner can broadcast when the dup set is small. Per-doc masking is
    * columnar (`exists` over the doc's dup-start list — bounded by doc
    * length, no UDF). 64-bit fingerprint collisions (birthday-bound ~4B
    * distinct spans) can only over-mask the rare colliding span — acceptable
    * for corpus cleaning; use spanLen≥8 so spans are specific.
    *
    * Output: (id, clean_text, n_tokens, dup_tokens, dup_token_frac). */
  def spanDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      spanLen: Int = 8,
      minDocs: Int = 2
  ): DataFrame = {
    require(spanLen >= 2, "spanLen must be >= 2")
    val toked = spread(df.select(
      F.col(idCol), TextFunctions.tokens(F.col(textCol)).as("__toks")))
    // (id, start, hash) for every stride-1 span; 1-based starts match slice().
    // NOTE: Spark's sequence(1, 0) is the DESCENDING [1, 0], not empty — the
    // inner filter drops starts whose window would overrun short docs.
    val spans = toked
      .select(F.col(idCol), F.explode(F.expr(
        s"""transform(
           |  filter(sequence(1, greatest(size(__toks) - $spanLen + 1, 1)),
           |         i -> i + $spanLen - 1 <= size(__toks)),
           |  i -> struct(i AS pos,
           |              xxhash64(array_join(slice(__toks, i, $spanLen), ' ')) AS h))
           |""".stripMargin)).as("__s"))
      .select(F.col(idCol), F.col("__s.pos").as("__pos"), F.col("__s.h").as("__h"))
    val dupSpans = spans
      .groupBy("__h")
      .agg(F.countDistinct(F.col(idCol)).as("__nd"))
      .filter(F.col("__nd") >= minDocs)
      .select("__h")
    val dupStarts = spans.join(dupSpans, Seq("__h"))
      .groupBy(F.col(idCol))
      .agg(F.collect_set(F.col("__pos")).as("__starts"))
    toked.join(dupStarts, Seq(idCol), "left")
      .select(
        F.col(idCol),
        F.col("__toks"),
        F.coalesce(F.col("__starts"), F.array()).as("__starts"))
      .select(
        F.col(idCol),
        F.expr(s"""array_join(
            |  filter(__toks, (t, j) ->
            |    NOT exists(__starts, s -> j + 1 >= s AND j + 1 < s + $spanLen)),
            |  ' ')""".stripMargin).as("clean_text"),
        F.size(F.col("__toks")).cast("long").as("n_tokens"),
        F.expr(s"""size(filter(__toks, (t, j) ->
            |  exists(__starts, s -> j + 1 >= s AND j + 1 < s + $spanLen)))
            |""".stripMargin).cast("long").as("dup_tokens"))
      .withColumn("dup_token_frac",
        F.round(F.when(F.col("n_tokens") === 0, 0.0)
          .otherwise(F.col("dup_tokens").cast("double") / F.col("n_tokens")), 6))
  }
}
