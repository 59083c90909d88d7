package graft.streaming

import graft.{Graft, SparkTestBase}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._
import java.nio.file.Files
import java.sql.Timestamp

/** Timestamp-flavor robustness: every event-time path (asof join, batch +
  * streaming sessionization, tumbling subscribe, epoch bucketing) must
  * produce IDENTICAL results whether the parquet `ts` column is TIMESTAMP
  * (UTC-annotated → Spark LTZ) or naive `timestamp[us]` (→ Spark 4
  * TIMESTAMP_NTZ). The reference gets this tolerance from DuckDB's free
  * naive/aware coercion (reference wvlet-lang model/DataType.scala:393-415);
  * we own it in EpochTime. Round 8 went red precisely because a testdata
  * regeneration flipped the flavor — this spec pins both forever. */
class NtzRobustnessSpec extends SparkTestBase {

  private val rows = Seq(
    (1L, "2024-01-01 00:01:00", 10L, "view", 1.0),
    (2L, "2024-01-01 00:05:00", 10L, "purchase", 2.0),
    (3L, "2024-01-01 00:50:00", 10L, "view", 3.0),
    (4L, "2024-01-01 01:10:00", 10L, "purchase", 4.0),
    (5L, "2024-01-01 00:02:00", 20L, "view", 5.0),
    (6L, "2024-01-01 02:30:00", 20L, "purchase", 6.0),
    (7L, "2024-01-01 02:45:00", 20L, "view", 7.0),
    (8L, "2024-01-01 05:00:00", 30L, "purchase", 8.0))

  private def eventsDf(ntz: Boolean): DataFrame = {
    import scala.jdk.CollectionConverters._
    val tsType = if (ntz) TimestampNTZType else TimestampType
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", tsType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType)))
    val data = rows.map { case (id, ts, uid, et, v) =>
      val t: Any =
        if (ntz) java.time.LocalDateTime.parse(ts.replace(' ', 'T'))
        else Timestamp.valueOf(ts)
      Row(id, t, uid, et, v)
    }
    spark.createDataFrame(data.asJava, schema)
  }

  /** Write both flavors to parquet and hand each back through a reader, so
    * the test exercises the exact scan-time types the driver's testdata
    * produces (UTC-annotated vs naive `timestamp[us]`). */
  private def bothFlavors: Seq[(String, DataFrame)] = {
    Seq(false, true).map { ntz =>
      val dir = Files.createTempDirectory(s"ntz_ev_$ntz").toString
      eventsDf(ntz).coalesce(1).write.mode("overwrite").parquet(dir)
      val back = spark.read.parquet(dir)
      val flavor = if (ntz) "ntz" else "ltz"
      val got = back.schema("ts").dataType
      val want = if (ntz) TimestampNTZType else TimestampType
      assert(got == want, s"$flavor fixture read back as $got")
      (flavor, back)
    }
  }

  private def collectSorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("asof join + epoch bucketing agree across timestamp flavors") {
    val asof = """
      from {
        from events
        where event_type = 'purchase'
        select event_id, user_id, ts
      } as p
      asof left join {
        from events
        where event_type = 'view'
        select user_id, view_ts = ts
      } as v
      on v.user_id = p.user_id and v.view_ts <= p.ts
      select event_id, ts_ms = unix_micros(ts) // 1000,
             view_ts_ms = unix_micros(view_ts) // 1000
      order by event_id
    """
    val bucket = """
      from events
      group by bucket_ms = unix_micros(ts.date_trunc('hour')) // 1000, event_type
      agg n = _.count
      order by bucket_ms, event_type
    """
    val results = bothFlavors.map { case (flavor, df) =>
      val run = (q: String) => collectSorted(Graft.run(spark, q, _ => df))
      (flavor, run(asof), run(bucket))
    }
    val Seq((_, asofLtz, bucketLtz), (_, asofNtz, bucketNtz)) = results
    assert(asofNtz == asofLtz, "asof join differs between NTZ and LTZ input")
    assert(asofNtz.nonEmpty)
    assert(bucketNtz == bucketLtz, "epoch bucketing differs between NTZ and LTZ input")
  }

  test("MIXED-flavor asof join (NTZ probe side, LTZ build side) still works") {
    val Seq((_, ltz), (_, ntz)) = bothFlavors
    val q = """
      from { from ntz_events where event_type = 'purchase'
             select event_id, user_id, ts } as p
      asof left join { from ltz_events where event_type = 'view'
             select user_id, view_ts = ts } as v
      on v.user_id = p.user_id and v.view_ts <= p.ts
      select event_id, ts_ms = unix_micros(ts) // 1000,
             view_ts_ms = unix_micros(view_ts) // 1000
      order by event_id
    """
    def resolver(n: String): org.apache.spark.sql.DataFrame =
      if (n.equalsIgnoreCase("ntz_events")) ntz else ltz
    val mixed = collectSorted(Graft.run(spark, q, resolver))
    // identical to the single-flavor run (both flavors encode the same
    // instants under the pinned UTC session tz)
    val uniform = collectSorted(Graft.run(spark,
      q.replace("ntz_events", "ltz_events"), resolver))
    assert(mixed == uniform && mixed.nonEmpty)
  }

  test("Tables.read normalizes a STRING ts flavor to the same instants") {
    // third plausible regeneration flavor (after r1-r7 int64-nanos and r8
    // naive-us): ISO-8601 strings. Tables.read must hand every flavor to
    // the query layer as a timestamp encoding the same instants.
    val dir = Files.createTempDirectory("str_ts_tab").toString
    eventsDf(ntz = false)
      .withColumn("ts", F.date_format(F.col("ts"), "yyyy-MM-dd HH:mm:ss"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val back = graft.Tables.read(spark, dir, "events")
    assert(back.schema("ts").dataType == TimestampType,
      s"string ts not normalized: ${back.schema("ts").dataType}")
    val q = """
      from events
      group by bucket_ms = unix_micros(ts.date_trunc('hour')) // 1000, event_type
      agg n = _.count
      order by bucket_ms, event_type
    """
    val viaString = collectSorted(Graft.run(spark, q, _ => back))
    val viaTs = collectSorted(Graft.run(spark, q, _ => eventsDf(ntz = false)))
    assert(viaString == viaTs && viaString.nonEmpty)
  }

  private val sessionText = """
    from events.subscribe(watermark_column: 'ts', watermark_delay: '0s',
                          session_gap: '30m', session_keys: ['user_id'])
  """

  private def lowerText(text: String, df: DataFrame): DataFrame =
    graft.lang.Lowering.lowerStatements(graft.lang.Parser.parseStatements(text),
      graft.lang.Lowering.Context(spark, _ => df)).get

  private def lowerStream(text: String, stream: DataFrame): DataFrame =
    graft.lang.Lowering.lowerStreamingAgg(graft.lang.Parser.parseStatements(text),
      stream, graft.lang.Lowering.Context(spark, _ => stream))

  test("batch sessionization agrees across timestamp flavors") {
    val results = bothFlavors.map { case (flavor, df) =>
      val sess = collectSorted(lowerText(sessionText, df))
      val annotated = collectSorted(lowerText(sessionText +
        "group by user_id agg first_event = event_id.min, last_event = event_id.max", df))
      (flavor, sess, annotated)
    }
    val Seq((_, sLtz, aLtz), (_, sNtz, aNtz)) = results
    assert(sNtz == sLtz && sNtz.nonEmpty)
    assert(aNtz == aLtz && aNtz.nonEmpty)
  }

  test("streaming tumbling subscribe + sessionize run green on NTZ input") {
    // the streaming paths need a real NTZ file source: watermark, window,
    // session state, and the java.sql.Timestamp encoder all sit behind
    // EpochTime.normalizeTs — this is the path that was red in round 8
    val in = Files.createTempDirectory("ntz_sub_in").toString
    eventsDf(ntz = true).coalesce(1).write.mode("overwrite").parquet(s"$in/b1")
    val schema = spark.read.parquet(s"$in/b1").schema
    assert(schema("ts").dataType == TimestampNTZType)

    val outT = Files.createTempDirectory("ntz_sub_out").toString
    val ckT = Files.createTempDirectory("ntz_sub_ck").toString
    val tumQ = Subscribe.stageAppend(
      lowerStream("""
        from events.subscribe(watermark_column: 'ts', watermark_delay: '0s', window_size: '1h')
        group by event_type
        agg n = _.count
      """, spark.readStream.schema(schema).parquet(s"$in/*")),
      outT, ckT)
    tumQ.awaitTermination()
    // watermark 05:00: hours 00-02 finalized for their event types
    val tum = spark.read.parquet(outT).select("event_type", "n", "window_start_ms", "window_end_ms")
    assert(tum.count() > 0, "no tumbling windows finalized on NTZ input")
    // agrees with the batch builder over the same (NTZ) input
    val batch = Subscribe.tumbling(
      spark.read.schema(schema).parquet(s"$in/*"), "ts", "1 hour",
      Seq("event_type"), Seq(F.count(F.lit(1)).as("n")))
      .filter(F.col("window_end_ms") <= F.lit(Timestamp.valueOf("2024-01-01 05:00:00").getTime))
    assert(collectSorted(tum) == collectSorted(batch))

    val outS = Files.createTempDirectory("ntz_sess_out").toString
    val ckS = Files.createTempDirectory("ntz_sess_ck").toString
    val sessQ = Subscribe.stageAppend(
      lowerStream(sessionText, spark.readStream.schema(schema).parquet(s"$in/*")),
      outS, ckS)
    sessQ.awaitTermination()
    val sess = spark.read.parquet(outS)
    assert(sess.count() > 0, "no sessions closed on NTZ input")
    // closed sessions must match the batch plan on the same input rows
    val batchSess = lowerText(sessionText, spark.read.parquet(s"$in/b1"))
      // watermark 05:00:00 → sessions ending before 05:00 - gap are closed
      .filter(F.col("session_end_ms") + F.lit(30 * 60 * 1000L) <
        F.lit(Timestamp.valueOf("2024-01-01 05:00:00").getTime))
      .select(F.col("user_id"),
        F.col("session_start_ms"), F.col("session_end_ms"), F.col("n_events"))
    assert(collectSorted(sess) == collectSorted(batchSess))
  }
}
