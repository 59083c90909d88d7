package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bounded LRU cache of persisted per-path index frames, shared by the ANN
  * small-index path (Similarity) and the streaming dedup index
  * (Subscribe). r11 shipped these as unbounded per-path maps: a workload
  * touching many distinct sub-crossover indexes pinned one persisted frame
  * per path in executor storage memory for the life of the context
  * (ADVICE r11). This caps live entries per JVM and unpersists evictees —
  * but ONLY evictees the calling context owns:
  *
  *   - an entry whose context is stopped is dropped outright (its storage
  *     blocks died with the context);
  *   - a same-context LRU entry is unpersisted and dropped;
  *   - a FOREIGN live context's frame is never evicted — it may be serving
  *     that context's queries, and unpersisting it mid-query is a
  *     correctness hazard. If every entry is foreign and live the cache
  *     temporarily exceeds the cap rather than corrupt another session.
  *
  * Hits are validated by (same SparkContext, same content fingerprint,
  * context not stopped) — the same ownership rule both call sites already
  * enforced individually.
  */
final class IndexFrameCache(maxEntries: Int = IndexFrameCache.DefaultEntries) {
  private case class Entry(owner: SparkSession, fingerprint: String, df: DataFrame)

  // accessOrder=true → iteration order is LRU-first
  private val map = new java.util.LinkedHashMap[String, Entry](16, 0.75f, true)

  /** Paths with a load in flight: lookups of the SAME path wait on the
    * latch instead of double-loading; lookups of OTHER paths proceed —
    * the cache-wide monitor is held only for map mutations, never across
    * the `load` thunk (ADVICE r12: holding it during a slow parquet
    * footer read blocked pure cache hits in streaming foreachBatch). */
  private val inFlight = new java.util.HashMap[String, java.util.concurrent.CountDownLatch]()

  private def validFor(e: Entry, spark: SparkSession, fingerprint: String): Boolean =
    (e.owner.sparkContext eq spark.sparkContext) &&
      e.fingerprint == fingerprint && !spark.sparkContext.isStopped

  /** Look up `path`; on miss (or stale fingerprint / foreign context) run
    * `load`, persist-ownership stays with the caller's thunk. Thread-safe;
    * `load` runs OUTSIDE the cache lock (per-path latch prevents duplicate
    * loads of the same path). */
  def getOrLoad(spark: SparkSession, path: String, fingerprint: String)(
      load: => DataFrame): DataFrame = {
    val myLatch = new java.util.concurrent.CountDownLatch(1)
    // Left(df) = hit; Right(Some(latch)) = someone else is loading this
    // path, wait then retry; Right(None) = we own the load (latch armed)
    val claim: Either[DataFrame, Option[java.util.concurrent.CountDownLatch]] = synchronized {
      Option(map.get(path)) match {
        case Some(e) if validFor(e, spark, fingerprint) => Left(e.df)
        case _ =>
          Option(inFlight.get(path)) match {
            case Some(latch) => Right(Some(latch))
            case None => inFlight.put(path, myLatch); Right(None)
          }
      }
    }
    claim match {
      case Left(df) => df
      case Right(Some(latch)) =>
        latch.await()
        // re-validate from scratch: the finished load may belong to a
        // different context/fingerprint, in which case we load our own
        getOrLoad(spark, path, fingerprint)(load)
      case Right(None) =>
        try {
          val loaded = load // NOT under the monitor — may read parquet footers
          synchronized {
            val prev = Option(map.remove(path))
            // only a same-context stale entry is ours to unpersist
            prev.filter(_.owner.sparkContext eq spark.sparkContext)
              .foreach(e => try e.df.unpersist() catch { case _: Throwable => () })
            map.put(path, Entry(spark, fingerprint, loaded))
            evictOverflow(spark)
          }
          loaded
        } finally {
          synchronized { inFlight.remove(path) }
          myLatch.countDown()
        }
    }
  }

  private def evictOverflow(caller: SparkSession): Unit = {
    if (map.size() <= maxEntries) return
    val it = map.entrySet().iterator() // LRU-first
    while (map.size() > maxEntries && it.hasNext) {
      val e = it.next()
      val ctx = e.getValue.owner.sparkContext
      if (ctx.isStopped) it.remove()
      else if (ctx eq caller.sparkContext) {
        try e.getValue.df.unpersist() catch { case _: Throwable => () }
        it.remove()
      }
      // foreign live context: skip — not ours to evict
    }
  }

  /** Drop every entry the calling context owns (unpersisting them) plus all
    * stopped-context entries. Exposed for tests and long-lived servers. */
  def clear(spark: SparkSession): Unit = synchronized {
    val it = map.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val ctx = e.getValue.owner.sparkContext
      if (ctx.isStopped) it.remove()
      else if (ctx eq spark.sparkContext) {
        try e.getValue.df.unpersist() catch { case _: Throwable => () }
        it.remove()
      }
    }
  }

  def size: Int = synchronized(map.size())
}

object IndexFrameCache {
  /** Live entries per cache and JVM. */
  val DefaultEntries = 16
}
