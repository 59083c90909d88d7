package graft.streaming

import graft.SparkTestBase
import graft.lang.{Lowering, Parser}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._
import java.nio.file.Files
import java.sql.Timestamp

/** Gap-sessionization semantics of `subscribe(session_gap, session_keys)`:
  * batch/stream equivalence over micro-batches (including a late bridging
  * event — the case that forces sessions to stay open until the watermark
  * proves no merge can still happen), and one language text driving both
  * plans, the batch refresh through `Lowering.lowerStatements` and the
  * stream through `Lowering.lowerStreamingAgg`. */
class SessionizeSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("ts", TimestampType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  private def writeBatch(dir: String, name: String, rows: Seq[(String, String, Double)]): Unit = {
    import scala.jdk.CollectionConverters._
    val data = rows.map { case (ts, et, v) =>
      org.apache.spark.sql.Row(Timestamp.valueOf(ts), et, v)
    }
    spark.createDataFrame(data.asJava, schema)
      .coalesce(1).write.mode("append").parquet(s"$dir/$name")
  }

  private def batchPlan(text: String, input: DataFrame): DataFrame =
    Lowering.lowerStatements(Parser.parseStatements(text), Lowering.Context(spark, _ => input)).get

  /** Drains the input under `in` through the streaming plan of `text` into `out`. */
  private def stageStream(text: String, in: String, out: String, ck: String,
      inSchema: StructType = schema): Unit = {
    val stream = spark.readStream.schema(inSchema).parquet(s"$in/*")
    val plan = Lowering.lowerStreamingAgg(
      Parser.parseStatements(text), stream, Lowering.Context(spark, _ => stream))
    Subscribe.stageAppend(plan, out, ck).awaitTermination()
  }

  test("stream equals batch; late event bridges two open sessions") {
    val in = Files.createTempDirectory("sess_in").toString
    val out = Files.createTempDirectory("sess_out").toString
    val ck = Files.createTempDirectory("sess_ck").toString
    val text = """
      from ingest.subscribe(watermark_column: 'ts', watermark_delay: '2 hours',
                            session_gap: '30m', session_keys: ['event_type'])
    """

    // batch 1: key 'a' has two apparent sessions (00:00, 01:00 — 60 min
    // apart); nothing can finalize (watermark = max(01:00) - 2 h ≤ 0)
    writeBatch(in, "b1", Seq(
      ("2024-01-01 00:00:00", "a", 1.0),
      ("2024-01-01 01:00:00", "a", 2.0)))
    stageStream(text, in, out, ck)
    val afterB1 =
      try spark.read.parquet(out).count()
      catch { case _: Throwable => 0L }
    assert(afterB1 == 0L,
      s"sessions must stay open while a bridging event can still arrive, got $afterB1 rows")

    // batch 2: a late-but-within-horizon event at 00:30 (exactly gap-adjacent
    // to BOTH open sessions, boundary inclusive) bridges the two
    // open sessions into ONE, and a sentinel key at 06:00 advances the
    // watermark to 04:00 so the merged session (closes at 01:30) emits.
    writeBatch(in, "b2", Seq(
      ("2024-01-01 00:30:00", "a", 3.0),
      ("2024-01-01 06:00:00", "zz", 0.0)))
    stageStream(text, in, out, ck)

    val staged = spark.read.parquet(out)
      .orderBy("event_type", "session_start_ms").collect()
    val aRows = staged.filter(_.getAs[String]("event_type") == "a")
    assert(aRows.length == 1,
      s"late event must bridge the two sessions into one, got ${aRows.toSeq}")
    assert(aRows.head.getAs[Long]("n_events") == 3L, s"got ${aRows.head}")
    assert(aRows.head.getAs[Long]("session_start_ms") ==
      Timestamp.valueOf("2024-01-01 00:00:00").getTime)
    assert(aRows.head.getAs[Long]("session_end_ms") ==
      Timestamp.valueOf("2024-01-01 01:00:00").getTime)

    // batch equivalence on the closed keys: the batch plan over the full
    // input, restricted to key 'a', must equal the staged stream output
    val all = spark.read.schema(schema).parquet(s"$in/*")
    val batch = batchPlan(text, all).filter(F.col("event_type") === "a").collect()
    assert(batch.map(_.toSeq).toSet == aRows.map(_.toSeq).toSet,
      s"stream/batch mismatch: batch=${batch.toSeq} stream=${aRows.toSeq}")
  }

  test("NULL multi-key tuples stay distinct in streaming state keys") {
    // ('a', NULL) and (NULL, 'a') are different session keys — the batch
    // plan keeps them distinct, so the stream must too (ADVICE r7)
    val schema2 = StructType(Seq(
      StructField("ts", TimestampType),
      StructField("k1", StringType),
      StructField("k2", StringType)))
    val in = Files.createTempDirectory("sessn_in").toString
    val out = Files.createTempDirectory("sessn_out").toString
    val ck = Files.createTempDirectory("sessn_ck").toString
    import scala.jdk.CollectionConverters._
    val rows = Seq(
      ("2024-01-01 00:00:00", "a", null),
      ("2024-01-01 00:05:00", null, "a"),
      ("2024-01-01 06:00:00", "zz", "zz")) // advances the watermark
      .map { case (ts, a, b) => org.apache.spark.sql.Row(Timestamp.valueOf(ts), a, b) }
    spark.createDataFrame(rows.asJava, schema2)
      .coalesce(1).write.mode("append").parquet(s"$in/b1")
    stageStream("""
      from ingest.subscribe(watermark_column: 'ts', watermark_delay: '1 hour',
                            session_gap: '30m', session_keys: ['k1', 'k2'])
    """, in, out, ck, schema2)
    val staged = spark.read.parquet(out)
      .filter(F.coalesce(F.col("k1"), F.lit("")) =!= "zz")
      .collect()
    assert(staged.length == 2,
      s"('a', NULL) and (NULL, 'a') must sessionize separately, got ${staged.toSeq}")
    assert(staged.forall(_.getAs[Long]("n_events") == 1L), staged.toSeq.toString)
  }

  test("language surface: subscribe(session_gap) drives batch and stream plans") {
    val in = Files.createTempDirectory("sessl_in").toString
    val out = Files.createTempDirectory("sessl_out").toString
    val ck = Files.createTempDirectory("sessl_ck").toString
    writeBatch(in, "b1", Seq(
      ("2024-01-01 00:00:00", "a", 1.0),
      ("2024-01-01 00:10:00", "a", 2.0),
      ("2024-01-01 02:00:00", "a", 9.0), // separate session
      ("2024-01-01 09:00:00", "zz", 0.0))) // advances the watermark
    val text = "from ingest.subscribe(watermark_column: 'ts', watermark_delay: '10m', " +
      "session_gap: '30m', session_keys: ['event_type'])"
    // batch semantics: full-refresh sessionization, all sessions present
    val batchRows = batchPlan(text, spark.read.schema(schema).parquet(s"$in/*"))
      .orderBy("event_type", "session_start_ms").collect()
    assert(batchRows.count(_.getAs[String]("event_type") == "a") == 2,
      s"expected 2 batch sessions for key a: ${batchRows.toSeq}")
    // the same text drives the streaming plan
    stageStream(text, in, out, ck)
    val staged = spark.read.parquet(out)
      .filter(F.col("event_type") === "a")
      .orderBy("session_start_ms").collect()
    assert(staged.length == 2, s"expected both sessions closed, got ${staged.toSeq}")
    assert(staged.map(_.getAs[Long]("n_events")).toSeq == Seq(2L, 1L), s"${staged.toSeq}")
  }

  test("dedup_keys + session_gap compose: dedup on ingest precedes sessionization") {
    val in = Files.createTempDirectory("sessd_in").toString
    val out = Files.createTempDirectory("sessd_out").toString
    val ck = Files.createTempDirectory("sessd_ck").toString
    // two rows share the dedup key 'a' inside one session window — dedup
    // keeps one, so the closed session counts 1 event, not 2
    writeBatch(in, "b1", Seq(
      ("2024-01-01 00:00:00", "a", 1.0),
      ("2024-01-01 00:05:00", "a", 2.0), // dup key, dropped on ingest
      ("2024-01-01 09:00:00", "zz", 0.0))) // advances the watermark
    stageStream("""
      from ingest.subscribe(watermark_column: 'ts', watermark_delay: '10m',
                            dedup_keys: ['event_type'], session_gap: '30m',
                            session_keys: ['event_type'])
    """, in, out, ck)
    val staged = spark.read.parquet(out)
      .filter(F.col("event_type") === "a").collect()
    assert(staged.length == 1, s"expected one closed session, got ${staged.toSeq}")
    assert(staged.head.getAs[Long]("n_events") == 1L,
      s"dedup-on-ingest must precede sessionization: ${staged.head}")
  }

  test("unaggregated sessionized subscription: stream rows and schema equal the batch refresh") {
    val in = Files.createTempDirectory("sessu_in").toString
    val out = Files.createTempDirectory("sessu_out").toString
    val ck = Files.createTempDirectory("sessu_ck").toString
    val text = """
      from ingest.subscribe(watermark_column: 'ts', watermark_delay: '10m',
                            session_gap: '30m', session_keys: ['event_type'])
    """
    writeBatch(in, "b1", Seq(
      ("2024-01-01 00:00:00", "a", 1.0),
      ("2024-01-01 00:20:00", "a", 2.0),
      ("2024-01-01 00:15:00", "b", 3.0),
      ("2024-01-01 01:30:00", "a", 4.0)))
    stageStream(text, in, out, ck)
    // the sentinel moves the watermark past every other session's end + gap
    writeBatch(in, "b2", Seq(("2024-01-01 09:00:00", "zz", 0.0)))
    stageStream(text, in, out, ck)
    val staged = spark.read.parquet(out)
    val batch = batchPlan(text, spark.read.schema(schema).parquet(s"$in/*"))
      .filter(F.col("event_type") =!= "zz")
    def fields(df: DataFrame) = df.schema.map(f => (f.name, f.dataType))
    assert(fields(staged) == fields(batch),
      s"stream schema ${staged.schema} != batch ${batch.schema}")
    assert(staged.collect().map(_.toSeq).toSet == batch.collect().map(_.toSeq).toSet,
      s"staged=${staged.collect().toSeq} batch=${batch.collect().toSeq}")
    assert(staged.count() == 3, s"expected sessions a×2 and b×1: ${staged.collect().toSeq}")
  }
}
