package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

/** Subscribe / incrementalize: watermark-bounded window and session
  * aggregation over an append-only stream, the reference's subscription
  * model (Subscribe relation.scala:1121-1141, rewritten by
  * Incrementalize.scala:27-107 + ExecutionPlanRewriter.scala:37-82 into a
  * watermark + window + staged-append plan).
  *
  * Spark-native mapping:
  *   - the subscription source is a Structured Streaming `readStream`
  *   - the incremental window and session state is Spark's watermark-bounded
  *     stateful aggregation (no hand-rolled state store)
  *   - the staged append is the parquet sink in append output mode: a window
  *     is written exactly once, when the watermark passes its end
  *   - re-running with `Trigger.AvailableNow` and the same checkpoint gives
  *     the reference's batch-triggered incremental refresh: each run
  *     processes only new files and appends only newly-finalized windows
  *
  * A language subscription lowers once for both modes
  * (`Lowering.lowerStreamingAgg` is the batch lowering with the stream in
  * place of the subscribed relation), and its group-by groups on the same
  * [[window]] column the [[tumbling]] builder uses, so batch/stream
  * equivalence holds by construction.
  */
object Subscribe {

  /** The event-time window a row falls in, Spark's window(): tumbling, or
    * hopping every `slide` (a divisor of the window), each row then landing
    * in window/slide overlapping windows — the standard smoothed-rate
    * shape. */
  def window(ts: Column, size: String, slide: Option[String] = None): Column =
    slide.fold(F.window(ts, size))(F.window(ts, size, _))

  /** A window struct's bounds as epoch-ms columns `<prefix>_start_ms` and
    * `<prefix>_end_ms` (portable output), the end moved back by
    * `endShiftMs`. */
  def msBounds(w: Column, prefix: String, endShiftMs: Long = 0L): Seq[Column] = {
    val end = graft.functions.EpochTime.unixMillis(w.getField("end"))
    Seq(
      graft.functions.EpochTime.unixMillis(w.getField("start")).as(s"${prefix}_start_ms"),
      (if (endShiftMs == 0L) end else end - endShiftMs).as(s"${prefix}_end_ms"))
  }

  /** Window aggregation, shared by batch and streaming plans: keys, aggs,
    * then window_start_ms/window_end_ms. */
  def tumbling(
      df: DataFrame,
      tsCol: String,
      windowDuration: String,
      keys: Seq[String],
      aggs: Seq[Column],
      slide: Option[String] = None
  ): DataFrame = {
    require(aggs.nonEmpty, "at least one aggregate required")
    df.groupBy(window(F.col(tsCol), windowDuration, slide).as("__w") +: keys.map(F.col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select(F.col("*") +: msBounds(F.col("__w"), "window"): _*)
      .drop("__w")
  }

  /** Streaming exact dedup on ingest: emit each key set (e.g. a content
    * fingerprint — `TextFunctions.fingerprint`) at most once within the
    * watermark horizon, the guard against re-crawled / re-queued documents
    * entering the corpus twice. State is BOUNDED: Spark's
    * dropDuplicatesWithinWatermark evicts keys once the watermark passes
    * them, which is what keeps this viable on an unbounded ingest stream —
    * global-history dedup stays the batch operator's job (Dedup.scala)
    * downstream. Emitted rows are unchanged (append mode safe). */
  def dedupStream(
      stream: DataFrame,
      tsCol: String,
      watermarkDelay: String,
      keyCols: Seq[String]
  ): DataFrame = {
    require(stream.isStreaming, "dedupStream requires a streaming DataFrame (readStream)")
    require(keyCols.nonEmpty, "at least one dedup key required")
    graft.functions.EpochTime.normalizeTs(stream, tsCol)
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)
  }

  /** Normalize a language duration spec ('1h', '30 min', '10 minutes') to
    * Spark's interval wording — the language accepts short units, Spark's
    * watermark/window parsers want the long form. */
  def duration(spec: String): String = {
    // ANCHORED match: an unanchored search silently misparsed compound or
    // decimal specs ('1.5h' matched as '5h', '1h30m' dropped the 30m) —
    // those must reject, not mis-window
    val m = """^(\d+)\s*([a-zA-Z]+)$""".r.findFirstMatchIn(spec.trim).getOrElse(
      throw new IllegalArgumentException(
        s"unrecognized duration '$spec' (expected '<integer> <unit>', e.g. '90 minutes')"))
    val unit = m.group(2).toLowerCase match {
      case "ms" => "milliseconds"
      case "s" | "sec" | "second" | "seconds" => "seconds"
      case "m" | "min" | "minute" | "minutes" => "minutes"
      case "h" | "hour" | "hours" => "hours"
      case "d" | "day" | "days" => "days"
      case u => throw new IllegalArgumentException(s"unrecognized duration unit '$u'")
    }
    s"${m.group(1)} $unit"
  }

  /** A language duration spec as epoch milliseconds. */
  def durationMs(spec: String): Long = {
    val Array(n, unit) = duration(spec).split(" ")
    n.toLong * (unit match {
      case "milliseconds" => 1L
      case "seconds" => 1000L
      case "minutes" => 60000L
      case "hours" => 3600000L
      case "days" => 86400000L
    })
  }

  /** Streaming incremental near-dup dedup: each micro-batch of ingested
    * documents is probed against a PERSISTED MinHash signature index
    * (see [[graft.operators.Dedup.buildMinhashIndex]]) and only the rows
    * with no near-dup in the corpus are appended to `outPath` — the
    * always-on flavor of the daily-ingest shape (dedupe the crawl stream
    * against the multi-TB corpus without ever re-shingling the corpus).
    *
    * Runs through foreachBatch because signature computation is a
    * per-document aggregation over exploded shingles — semantically a
    * per-batch (not cross-batch) computation, which foreachBatch expresses
    * exactly and keeps OFF the streaming state store (the probe is
    * stateless; the only state is the checkpoint's input log). The index
    * DataFrame is re-read per batch, so a concurrently-refreshed index
    * (e.g. a nightly CTAS) is picked up without restarting the query.
    * Exact intra-stream dups are [[dedupStream]]'s job upstream (bounded
    * watermark state); near-dup links WITHIN one batch are intentionally
    * kept (compose [[graft.operators.Dedup.minhashLsh]] on the staged
    * output for that). */
  def dedupIncrementalAppend(
      stream: DataFrame,
      idCol: String,
      textCol: String,
      index: DataFrame,
      outPath: String,
      checkpointPath: String,
      threshold: Double = 0.5,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 2,
      availableNow: Boolean = true
  ): StreamingQuery = {
    require(stream.isStreaming,
      "dedupIncrementalAppend requires a streaming DataFrame (readStream)")
    val w = stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        tuneBatchShuffle(batch, index)
        writeBatchIdempotent(
          graft.operators.Dedup.dedupAgainstMinhashIndex(
            batch, idCol, textCol, index, threshold, numHashes, bands, shingleSize),
          batchId, outPath)
      }
    (if (availableNow) w.trigger(Trigger.AvailableNow()) else w).start()
  }

  /** Stateless-scorer composition for streams — the scorer family's
    * (quality_classifier_score, perplexity_*, dsir_weight) streaming
    * parity path, mirroring [[dedupIncrementalAppend]]: each micro-batch
    * is scored by a BATCH scorer and written through the idempotent
    * per-batch sink. The scorer's model state must not depend on the
    * stream — plan-shipped constants (classifier weights, DSIR bucket
    * tables) or stream-static joins against a model fit ONCE on a static
    * corpus ([[graft.operators.CorpusStats.unigramModel]] →
    * `unigramNllAgainst`) — so scoring a corpus in N micro-batches
    * produces exactly the rows of scoring it in one batch
    * (batch-equivalence spec-gated in SubscribeSpec; the q_subscribe_scored
    * oracle re-derives the scores from the batch SQL). */
  def scoredAppend(
      stream: DataFrame,
      outPath: String,
      checkpointPath: String,
      scorer: DataFrame => DataFrame,
      availableNow: Boolean = true
  ): StreamingQuery = {
    require(stream.isStreaming,
      "scoredAppend requires a streaming DataFrame (readStream)")
    val w = stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        tuneBatchShuffle(batch)
        writeBatchIdempotent(scorer(batch), batchId, outPath)
      }
    (if (availableNow) w.trigger(Trigger.AvailableNow()) else w).start()
  }

  /** Streaming EXACT incremental dedup against a static corpus — the
    * Dolma crawl-ingest shape composed from the round's two halves:
    * [[graft.operators.Dedup.buildCorpusBloom]] runs ONCE, before the
    * stream starts (the persisted cross-batch state — every micro-batch
    * probes the same corpus bloom, nothing is re-fit per batch), and each
    * micro-batch goes through
    * [[graft.operators.Dedup.bloomDedupAgainstWith]]: the codegen'd bloom
    * probe plus the exact candidate-broadcast recheck against the corpus,
    * written through the idempotent per-batch sink. Because a batch row's
    * (is_dup, dup_of) depends only on the STATIC corpus, the union of the
    * per-batch outputs equals the one-shot batch operator's rows for any
    * micro-batch split (SubscribeSpec gates 2-batch ≡ 1-batch bitwise;
    * the q_subscribe_dedup_against oracle is the plain SQL fingerprint
    * join). */
  def dedupAgainstAppend(
      stream: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      outPath: String,
      checkpointPath: String,
      fpp: Double = 0.01,
      expectedItems: Option[Long] = None,
      availableNow: Boolean = true
  ): StreamingQuery = {
    require(stream.isStreaming,
      "dedupAgainstAppend requires a streaming DataFrame (readStream)")
    val bloom = graft.operators.Dedup.buildCorpusBloom(
      corpus, textCol, fpp, expectedItems)
    // fingerprint the corpus ONCE, before the first trigger (optimization
    // r19, the phashAgainstAppend pattern): every micro-batch's exact
    // recheck joins the same STATIC (fingerprint, id) frame, and the lazy
    // form re-ran the corpus scan + md5 per trigger. Bounded cross-batch
    // state: two narrow columns per corpus row, MEMORY_AND_DISK with full
    // lineage. The query owns it: it is released when the query terminates.
    val cKeyed = graft.operators.Dedup.corpusFingerprints(corpus, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cKeyed.count()
    val w = stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        tuneBatchShuffle(batch)
        writeBatchIdempotent(
          graft.operators.Dedup.bloomDedupAgainstKeyed(
            cKeyed, bloom, batch, idCol, textCol),
          batchId, outPath)
      }
    val q =
      try (if (availableNow) w.trigger(Trigger.AvailableNow()) else w).start()
      catch { case e: Throwable => cKeyed.unpersist(); throw e }
    unpersistOnTermination(q, cKeyed)
    q
  }

  /** Unpersists `cached` once `q` terminates. */
  private def unpersistOnTermination(q: StreamingQuery, cached: DataFrame): Unit = {
    val listener = new UnpersistOnTermination(q, cached)
    q.sparkSession.streams.addListener(listener)
    // the query may have ended before the listener was added
    if (!q.isActive) listener.release()
  }

  private final class UnpersistOnTermination(q: StreamingQuery, cached: DataFrame)
      extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      if (e.id == q.id) release()
    def release(): Unit = {
      cached.unpersist()
      q.sparkSession.streams.removeListener(this)
    }
  }

  /** Streaming IMAGE ingest dedup — the LAION-shaped loop composing the
    * round's image pieces the way [[dedupAgainstAppend]] composes the
    * text pieces: the corpus side is pHashed ONCE, before the stream
    * starts (the decode is the expensive half — a (corpus_id, phash)
    * frame persisted across micro-batches), and every micro-batch of new
    * image payloads runs [[graft.operators.Dedup.phashAgainstHashes]]:
    * its own decode + the chunk-blocked candidate join + bit_count
    * verify, written through the idempotent per-batch sink. Links depend
    * only on the STATIC corpus hashes, so the union of per-batch outputs
    * equals the one-shot batch operator for any split (SubscribeSpec
    * gates it bitwise). */
  def phashAgainstAppend(
      stream: DataFrame,
      corpus: DataFrame,
      idCol: String,
      payloadCol: String,
      outPath: String,
      checkpointPath: String,
      maxHamming: Int = 3,
      availableNow: Boolean = true
  ): StreamingQuery = {
    require(stream.isStreaming,
      "phashAgainstAppend requires a streaming DataFrame (readStream)")
    // BOUNDED cross-batch state: n × 16-byte (id, hash) rows, spilling to
    // disk — lives for the session like the dedupIncrementalAppendPath
    // index cache; callers running many corpora through one session can
    // unpersist after the query terminates
    val corpusHashes = graft.operators.Multimodal
      .phashImages(corpus, idCol, payloadCol)
      .filter(F.col("decoded") && F.col("phash").isNotNull)
      .select(F.col("img_id").as("corpus_id"), F.col("phash"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    corpusHashes.count() // decode the corpus ONCE, before the first trigger
    val w = stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        tuneBatchShuffle(batch)
        writeBatchIdempotent(
          graft.operators.Dedup.phashAgainstHashes(
            corpusHashes, batch, idCol, payloadCol, maxHamming),
          batchId, outPath)
      }
    (if (availableNow) w.trigger(Trigger.AvailableNow()) else w).start()
  }

  /** Scale the per-trigger shuffle width to the micro-batch, not the
    * cluster (optimization r19, guide §2.2 / r18 verdict next-round #4):
    * AQE is off inside streaming queries, so every conf-driven shuffle in a
    * foreachBatch body (distinct, groupBy, join exchanges) used the
    * session-wide `spark.sql.shuffle.partitions` — 32 partitions for a
    * ~1k-row micro-batch, pure task-scheduling overhead repeated per
    * trigger. foreachBatch hands each batch a CLONED session, so setting
    * the conf here scopes to THIS stream only. The width follows the
    * largest input whose shuffles read the conf, by plan statistics: the
    * batch, and the `static` relations a body joins through a conf-sized
    * exchange (the minhash index of the dedupIncrementalAppend bodies; the
    * bloom and phash bodies probe their corpus map-side or at an explicit
    * width, and scoredAppend's scorer is a function whose inputs are not
    * seen here, so only their batch counts). A static relation whose size Spark
    * does not know (it reports `spark.sql.defaultSizeInBytes`) is not
    * counted. Batch-path queries never pass through here and keep the
    * session default. */
  private def tuneBatchShuffle(batch: DataFrame, static: DataFrame*): Unit = {
    val spark = batch.sparkSession
    def bytes(df: DataFrame) = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val unknown = BigInt(spark.sessionState.conf.defaultSizeInBytes)
    val inputs = bytes(batch) +: static.map(bytes).filter(_ < unknown)
    spark.conf.set("spark.sql.shuffle.partitions",
      batchShufflePartitions(inputs, spark.sparkContext.defaultParallelism.toLong).toString)
  }

  /** Shuffle partitions for a body whose inputs measure `inputBytes`: the
    * largest at ~32 MB a partition, floored at 4 (probe shuffles keep modest
    * parallelism) and capped at `cap`, the default parallelism (a large
    * input behaves as without tuning). */
  private[streaming] def batchShufflePartitions(inputBytes: Seq[BigInt], cap: Long): Long = {
    val bytes = (inputBytes :+ BigInt(0)).max
    if (!bytes.isValidLong) cap
    else math.max(4L, math.min(cap, bytes.toLong / (32L << 20) + 1))
  }

  /** Idempotent micro-batch sink: each batch lands in its own
    * `__batch_id=<id>` partition via dynamic partition overwrite, so an
    * at-least-once foreachBatch RETRY overwrites its own partition instead
    * of appending duplicate rows — exactly-once output for the operator
    * whose purpose is deduplication. Readers that don't want the
    * idempotence key can drop `__batch_id`. */
  private def writeBatchIdempotent(df: DataFrame, batchId: Long, outPath: String): Unit =
    df.withColumn("__batch_id", F.lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__batch_id")
      .parquet(outPath)

  /** Bounded per-path LRU for [[dedupIncrementalAppend]]'s path flavor:
    * the loaded + persisted signature frame keyed by directory fingerprint
    * (shared eviction/ownership rules with the ANN small-index cache —
    * ADVICE r11 flagged both as unbounded). */
  private val indexCache = new graft.operators.IndexFrameCache()

  /** Test/server hook: drop the calling context's cached index frames. */
  def clearIndexCache(spark: SparkSession): Unit = indexCache.clear(spark)

  /** Diagnostic: how many times a persisted index was (re)loaded from disk
    * — lets the spec prove batch N reused the cache and batch N+1 saw the
    * refreshed CTAS. */
  val indexReloads = new java.util.concurrent.atomic.AtomicLong(0)

  /** One cheap root listing summarizes the index directory: file count +
    * total bytes + newest mtime. A nightly CTAS overwrite changes all
    * three; a no-op batch changes none. */
  private def indexFingerprint(spark: SparkSession, path: String): String =
    graft.Tables.directoryFingerprint(spark, path).getOrElse(
      throw new IllegalArgumentException(
        s"dedup index path '$path' is missing or has no data files — " +
          "build it first (minhash_index CTAS)"))

  /** [[dedupIncrementalAppend]] over a persisted index PATH with
    * refresh-aware caching: the signature frame is loaded once, persisted,
    * and reused across micro-batches — each batch pays one root listing
    * (the fingerprint check), not a full re-list + re-read of the index —
    * and a changed fingerprint (the nightly CTAS refresh landing) swaps in
    * the re-read index without restarting the query. */
  def dedupIncrementalAppendPath(
      stream: DataFrame,
      idCol: String,
      textCol: String,
      indexPath: String,
      outPath: String,
      checkpointPath: String,
      threshold: Double = 0.5,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 2,
      availableNow: Boolean = true
  ): StreamingQuery = {
    require(stream.isStreaming,
      "dedupIncrementalAppendPath requires a streaming DataFrame (readStream)")
    val w = stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val fp = indexFingerprint(spark, indexPath)
        // ownership at SparkContext granularity: foreachBatch hands each
        // micro-batch a CLONED session over the same context, and the
        // persisted frame (a pure parquet read, no session state) stays
        // valid for every session of that context — but never for a
        // different or stopped one. Hit/staleness/LRU rules live in
        // IndexFrameCache.
        val idx = indexCache.getOrLoad(spark, indexPath, fp) {
          indexReloads.incrementAndGet()
          spark.read.parquet(indexPath).persist()
        }
        tuneBatchShuffle(batch, idx)
        writeBatchIdempotent(
          graft.operators.Dedup.dedupAgainstMinhashIndex(
            batch, idCol, textCol, idx, threshold, numHashes, bands, shingleSize),
          batchId, outPath)
      }
    (if (availableNow) w.trigger(Trigger.AvailableNow()) else w).start()
  }

  /** Stage finalized windows into an append-only parquet directory. With
    * `Trigger.AvailableNow` the query drains available input and terminates —
    * invoke repeatedly with the same checkpoint for batch-triggered
    * incremental refresh (only new input is read, only newly-closed windows
    * are appended). */
  def stageAppend(
      subscription: DataFrame,
      outPath: String,
      checkpointPath: String,
      availableNow: Boolean = true
  ): StreamingQuery = {
    val w = subscription.writeStream
      .outputMode("append")
      .format("parquet")
      .option("checkpointLocation", checkpointPath)
    (if (availableNow) w.trigger(Trigger.AvailableNow()) else w).start(outPath)
  }
}
