package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}
import graft.{Graft, Tables}
import graft.operators.{Dedup, Similarity, QualityClassifier}
import graft.functions.TextFunctions

/** The operator-inventory query catalog: one named query per implemented
  * operator family from SURVEY.md §2, each paired with equivalent ANSI SQL
  * for the DuckDB oracle (driver contract, BASELINE.json).
  *
  * A row's query is one of three kinds:
  *   - [[WvQuery]]: flow-language text, run by `Graft.query` the way a user's
  *     query runs, so the row goes through the parser, the table-function
  *     registry and the lowering. Artifacts the text reads that only Scala
  *     can write first (persisted and appended indexes, synthetic media
  *     bytes) are named stages: the text reads each as a relation by its
  *     name, or as a path through `${name}`.
  *   - [[SqlQuery]]: SQL text, run by `Graft.sqlScript`.
  *   - a Scala closure, only for the rows listed in [[closureRows]] with the
  *     reason wv text cannot express them.
  *
  * Conventions that make Spark and DuckDB hash-comparable:
  *   - every query has a total ORDER BY (unique key tiebreak)
  *   - double aggregates are round()ed (2–6 dp) on BOTH sides: the engines
  *     sum in different orders, agreeing only to ~1e-10 relative
  *   - integral aggregates are cast to BIGINT on the DuckDB side (DuckDB
  *     sums int32 into HUGEINT, which pandas would render as float)
  *   - event timestamps are emitted as epoch milliseconds (BIGINT): the
  *     source parquet is nanosecond-precision, which Spark reads as long
  *     (nanosAsLong) and DuckDB as timestamp_ns — raw timestamp outputs
  *     would differ in physical type
  */
object QueryCatalog {

  type Q = (SparkSession, String) => DataFrame

  /** Writes an artifact a row reads, once per (JVM, corpus dir), and
    * returns its path. */
  type Stage = (SparkSession, String) => String

  /** A row whose query is flow-language text. */
  final case class WvQuery(text: String, stages: Seq[(String, Stage)] = Nil) extends Q {
    /** Stages every artifact; name → path. */
    def stage(spark: SparkSession, dir: String): Map[String, String] =
      stages.map { case (n, s) => n -> s(spark, dir) }.toMap

    /** The text with each `${name}` replaced by its staged path. */
    def bind(paths: Map[String, String]): String =
      paths.foldLeft(text) { case (t, (n, p)) => t.replace("${" + n + "}", p) }

    /** Resolves a staged artifact's name to its path, any other name to
      * `dir`'s table. */
    def resolver(spark: SparkSession, dir: String, paths: Map[String, String]): String => DataFrame =
      n => paths.get(n).fold(Tables.read(spark, dir, n))(Tables.readPath(spark, _))

    def apply(spark: SparkSession, dir: String): DataFrame = {
      val paths = stage(spark, dir)
      Graft.query(spark, bind(paths), resolver(spark, dir, paths), basePath = dir)
    }
  }

  /** A row whose query is SQL text, run through the SQL front-end (Spark SQL
    * with the testdata registered as views). */
  final case class SqlQuery(text: String) extends Q {
    def apply(spark: SparkSession, dir: String): DataFrame = Graft.sqlScript(spark, text, Some(dir))
  }

  private def wv(text: String, stages: (String, Stage)*): Q = WvQuery(text, stages)

  /** A row whose oracle is the same statement — the SQL subset used is
    * engine-portable. */
  private def sqlEntry(name: String, text: String): (String, Q, Option[String]) =
    (name, SqlQuery(text), Some(text))

  /** A write roundtrip: wv text that writes `tmp`, a file of that name
    * under java.io.tmpdir, and reads it back. */
  private def roundtrip(file: String)(text: String => String): Q = (spark, dir) =>
    Graft.query(spark, text(System.getProperty("java.io.tmpdir").stripSuffix("/") + "/" + file),
      Tables.resolver(spark, dir), basePath = dir)

  /** The rows that stay Scala closures, each with the reason. */
  val closureRows: Seq[(String, String)] = {
    val subscribe = "runs a streaming query (readStream, foreachBatch sink) that wv cannot start"
    val tumbling = "calls the streaming window builder in batch mode to pin it against DuckDB"
    val roundtrip = "writes under java.io.tmpdir and reads it back; the text is built per run"
    Seq("q_subscribe_batch_equiv", "q_events_hopping_window").map(_ -> tumbling) ++
      Seq("q_subscribe_scored", "q_subscribe_dedup_against", "q_subscribe_phash_against")
        .map(_ -> subscribe) ++
      Seq("q_sql_roundtrip" -> "transpiles SQL to wv at run time (SqlToWvlet) and runs the result") ++
      Seq("q_ddl_alter_roundtrip", "q_save_roundtrip", "q_save_orc_roundtrip",
        "q_save_json_roundtrip", "q_save_txt_roundtrip", "q_dml_delete", "q_ctas_roundtrip",
        "q_dml_append", "q_dml_truncate", "q_dml_insert_overwrite", "q_dml_update_pruned",
        "q_dml_merge").map(_ -> roundtrip)
  }

  // ===========================================================================
  // Engine-portable hash recomputation for the approximate-dedup oracles.
  // DuckDB has no 64-bit wraparound arithmetic, so the FNV-1a/mix pipeline
  // is emulated in HUGEINT (128-bit) with explicit mod 2^64; signed views
  // convert via the two's-complement identity. These SQL builders are
  // plain strings assembled from the SAME constants the operators use
  // (graft.functions.GraftTextOps, Dedup.minhashParamsFor) — verified
  // bit-for-bit equal to the engine at sf0.001 and sf0.01.
  // ===========================================================================

  /** Ordered FNV-1a token hashes of `documents.text` as a DuckDB CTE pair
    * (doc_toks + tok_h): tok_h(doc_id, i, h) with h the unsigned 64-bit
    * hash in HUGEINT. */
  private val fnvTokensCte: String = """
    doc_toks AS (
      SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
      FROM documents
    ),
    tok_h AS (
      SELECT doc_id, i,
        list_reduce(
          list_prepend(14695981039346656037::HUGEINT,
            list_transform(generate_series(1, length(toks[i])), k -> ascii(substr(toks[i], k, 1))::HUGEINT)),
          (acc, code) -> ((acc - acc % 128 + xor((acc % 128)::BIGINT, code::BIGINT)::HUGEINT) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT
        ) AS h
      FROM doc_toks, unnest(generate_series(1, length(toks))) AS u(i)
    )"""

  /** signed-BIGINT view of an unsigned HUGEINT expression */
  private def signed64(e: String): String =
    s"(CASE WHEN $e >= 9223372036854775808::HUGEINT THEN ($e - 18446744073709551616::HUGEINT)::BIGINT ELSE ($e)::BIGINT END)"

  private lazy val simhashOracleSql: String = {
    val bitpow = (0 until 64).map(b => s"($b, ${BigInt(1) << b}::HUGEINT)").mkString(", ")
    s"""
    WITH $fnvTokensCte,
    th AS (SELECT DISTINCT doc_id, h FROM tok_h),
    bitpow(b, p) AS (VALUES $bitpow),
    votes AS (
      SELECT doc_id, b, p, SUM(CASE WHEN (h // p) % 2 = 1 THEN 1 ELSE -1 END) AS v
      FROM th CROSS JOIN bitpow GROUP BY 1, 2, 3
    ),
    sims AS (
      SELECT doc_id, SUM(CASE WHEN v > 0 THEN p ELSE 0::HUGEINT END) AS sim_u
      FROM votes GROUP BY doc_id
    ),
    s AS (SELECT doc_id, ${signed64("sim_u")} AS sim FROM sims)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.sim, b.sim))::INTEGER AS hamming
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sim, b.sim)) <= 8
    ORDER BY id_a, id_b
    """
  }

  /** Shared oracle CTE prefix for every minhash path (embed after WITH):
    * FNV-1a token hashes → 2-gram shingle mix → Mersenne-field fixed-seed
    * linear hashes → `mins(doc_id, j, m)`, the exact signature components
    * the engine's Dedup.minhashSignatures computes (k=64, shingle=2).
    * `shingles(doc_id, sh)` stays visible for exact-Jaccard verifies. */
  private lazy val minhashMinsCte: String = {
    val M = (1L << 31) - 1
    val Mix = BigInt("11400714819323198485") // 0x9e3779b97f4a7c15 unsigned
    val pvals = Dedup.minhashParamsFor(64).zipWithIndex
      .map { case ((a, b), j) => s"($j, $a, $b)" }.mkString(", ")
    s"""$fnvTokensCte,
    shingles AS (
      SELECT DISTINCT a.doc_id,
        xor(${signed64("a.m")}, ${signed64("b.h")}) AS sh
      FROM (
        SELECT doc_id, i,
          ((h % 4294967296) * $Mix::HUGEINT
            + (((h // 4294967296) * $Mix::HUGEINT) % 4294967296) * 4294967296)
            % 18446744073709551616::HUGEINT AS m
        FROM tok_h) a
      JOIN tok_h b ON a.doc_id = b.doc_id AND b.i = a.i + 1
    ),
    hm AS (SELECT doc_id, ((sh % $M) + $M) % $M AS hmod FROM shingles),
    params(j, a, b) AS (VALUES $pvals),
    mins AS (
      SELECT doc_id, j, MIN(((hmod * a + b) % $M + $M) % $M) AS m
      FROM hm CROSS JOIN params GROUP BY 1, 2
    )"""
  }

  private lazy val minhashLshOracleSql: String = {
    s"""
    WITH $minhashMinsCte,
    bands AS (
      SELECT doc_id, j // 4 AS band, string_agg(m, ',' ORDER BY j) AS sig
      FROM mins GROUP BY 1, 2
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    ),
    sets AS (SELECT doc_id, list(DISTINCT sh) AS shs FROM shingles GROUP BY doc_id)
    SELECT c.id_a, c.id_b,
      round(len(list_intersect(x.shs, y.shs))::DOUBLE /
            (len(x.shs) + len(y.shs) - len(list_intersect(x.shs, y.shs))), 6) AS jaccard
    FROM cand c JOIN sets x ON c.id_a = x.doc_id JOIN sets y ON c.id_b = y.doc_id
    WHERE round(len(list_intersect(x.shs, y.shs))::DOUBLE /
            (len(x.shs) + len(y.shs) - len(list_intersect(x.shs, y.shs))), 6) >= 0.12
    ORDER BY id_a, id_b
    """
  }

  /** Oracle for the persisted MinHash index content (q_minhash_index):
    * DuckDB rebuilds every corpus doc's 64 signature components and emits
    * them as the same comma-joined string the engine produces from the
    * parquet index — the index BYTES are pinned, not just downstream
    * query results. Corpus = doc_id % 4 != 0 (the incremental-dedup split:
    * the other quarter plays the "new batch"). */
  private lazy val minhashIndexOracleSql: String =
    s"""
    WITH $minhashMinsCte
    SELECT doc_id, string_agg(m, ',' ORDER BY j) AS sig_csv
    FROM mins WHERE doc_id % 4 != 0
    GROUP BY doc_id ORDER BY doc_id
    """

  /** Shared CTE chain for the incremental-dedup oracles: band-tuple
    * collisions between the batch quarter (doc_id % 4 = 0, signatures
    * recomputed — the engine shingles these fresh) and the corpus index
    * (doc_id % 4 != 0, signatures AS PERSISTED — pinned equal by
    * q_minhash_index), verified with the k-component signature estimator
    * est = |{j : m_batch(j) = m_corpus(j)}| / 64. Ends with
    * `est(batch_id, corpus_id, est_jaccard)`; embed after WITH. */
  private lazy val dedupIncrementalEstCte: String =
    s"""$minhashMinsCte,
    ibands AS (
      SELECT doc_id, j // 4 AS band, string_agg(m, ',' ORDER BY j) AS bsig
      FROM mins GROUP BY 1, 2
    ),
    icand AS (
      SELECT DISTINCT b.doc_id AS batch_id, c.doc_id AS corpus_id
      FROM ibands b JOIN ibands c ON b.band = c.band AND b.bsig = c.bsig
      WHERE b.doc_id % 4 = 0 AND c.doc_id % 4 != 0
    ),
    est AS (
      SELECT cd.batch_id, cd.corpus_id,
        round(SUM(CASE WHEN mb.m = mc.m THEN 1 ELSE 0 END)::DOUBLE / 64, 6) AS est_jaccard
      FROM icand cd
      JOIN mins mb ON mb.doc_id = cd.batch_id
      JOIN mins mc ON mc.doc_id = cd.corpus_id AND mc.j = mb.j
      GROUP BY 1, 2
    )"""

  /** Embedding dimensionality assumed by the SIGNATURE paths: the LSH
    * oracle inlines hyperplanes of this dimension and the engine queries
    * pass the same value, so both sides stay consistent by construction
    * (a longer data vector contributes only its first `embeddingDim`
    * elements to the dot on both engines). The cosine oracles are
    * length-generic (`duckCosine` uses `len(...)`) and do NOT depend on
    * this constant. */
  private val embeddingDim = 64

  /** DuckDB cosine of two equal-length FLOAT lists at 6 decimals — the
    * same index-order double accumulation the fused Catalyst expression
    * uses. Length-generic (`len(a)`), so a testdata regeneration that
    * changes the embedding dimension cannot silently truncate the oracle
    * (the Scala operators are dimension-generic too; `embeddingDim` only
    * pins the SIGNATURE hyperplanes, which both sides parameterize
    * identically). Bit-for-bit equality with the engine rests on DuckDB's
    * list_sum being strict LEFT-TO-RIGHT sequential double addition (true
    * today; a DuckDB upgrade to pairwise/Kahan summation would flip
    * low-order bits and, in the LSH oracle's sign test, near-zero sign
    * bits). */
  private def duckCosine(a: String, b: String): String = {
    def r(x: String) = s"range(1, len($x) + 1)"
    // dot over min length (out-of-range index → NULL, zero-filled by
    // list_sum — same as the engine's min-length loop); each norm over its
    // OWN full length (the engine's longer-tail-contributes semantics)
    s"""round(
      list_sum(list_transform(${r(a)}, i -> $a[i]::DOUBLE * $b[i]::DOUBLE)) /
      (sqrt(list_sum(list_transform(${r(a)}, i -> $a[i]::DOUBLE * $a[i]::DOUBLE))) *
       sqrt(list_sum(list_transform(${r(b)}, i -> $b[i]::DOUBLE * $b[i]::DOUBLE)))), 6)"""
  }

  /** The LSH rows' seeded hyperplanes (8 planes × 6 tables, the doubles
    * the engine draws) as VALUES rows `(table, 2^plane, w)`. */
  private lazy val lshPlaneRows: String = (0 until 6).flatMap { t =>
    val hp = graft.operators.Similarity.hyperplanes(embeddingDim, 8, seed = 7L + t)
    hp.zipWithIndex.map { case (w, p) =>
      val lit = w.map(java.lang.Double.toString).mkString("[", ",", "]")
      s"($t, ${1L << p}::BIGINT, '$lit'::DOUBLE[])"
    }
  }.mkString(",\n      ")

  /** The float-signature LSH oracles' `planes`, `sigs` and multi-probe
    * `cand(query_id, corpus_id)` CTEs; embed after WITH. */
  private lazy val lshCandCte: String =
    s"""planes(t, pw, w) AS (VALUES
      $lshPlaneRows),
    sigs AS (
      SELECT e.vec_id, pl.t,
        SUM(CASE WHEN list_sum(list_transform(range(1, ${embeddingDim + 1}), i -> e.embedding[i]::DOUBLE * pl.w[i])) > 0
            THEN pl.pw ELSE 0 END)::BIGINT AS sig
      FROM embeddings e CROSS JOIN planes pl
      GROUP BY 1, 2
    ),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS corpus_id
      FROM sigs c JOIN sigs q ON c.t = q.t AND bit_count(xor(c.sig, q.sig)) <= 1
      WHERE q.vec_id < 10 AND c.vec_id != q.vec_id
    )"""

  /** DETERMINISTIC oracle for q_similarity_topk_lsh: recomputes the ENTIRE
    * LSH pipeline. The seeded hyperplanes (scala.util.Random(7+t)
    * .nextGaussian(), the exact doubles the engine uses) are inlined as
    * VARCHAR→DOUBLE[] literals (Double.toString round-trips bit-exactly
    * through DuckDB's strtod). Signature = Σ (dot>0)<<p per table; the
    * engine's multi-probe candidate rule "corpus bucket ∈ {query sig} ∪
    * {query sig ⊕ bit}" is equivalent to hamming(csig, qsig) ≤ 1 within a
    * table, which is how the oracle joins. Exact-cosine rank at 6 decimals
    * as everywhere else. */
  private lazy val lshTopkOracleSql: String =
    s"""
    WITH $lshCandCte,
    sims AS (
      SELECT cd.query_id, cd.corpus_id,
        ${duckCosine("ce.embedding", "qe.embedding")} AS cos_sim
      FROM cand cd
      JOIN embeddings ce ON ce.vec_id = cd.corpus_id
      JOIN embeddings qe ON qe.vec_id = cd.query_id
    ),
    ranked AS (
      SELECT query_id, corpus_id, cos_sim,
        row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, corpus_id) AS rank
      FROM sims)
    SELECT query_id, corpus_id, cos_sim, rank::INTEGER AS rank
    FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
    """

  /** DETERMINISTIC oracle for q_similarity_topk_lsh_int8 — the quantized
    * composition: the SAME signature/candidate CTEs as lshTopkOracleSql
    * (buckets are computed on the float vectors on both engine and oracle),
    * ranked by the int8 integer-dot cosine of q_similarity_topk_int8's
    * oracle. Integer accumulation makes the scores exactly reproducible. */
  private lazy val lshInt8OracleSql: String =
    s"""
    WITH $lshCandCte,
    qz AS (
      SELECT vec_id,
             list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS s,
             embedding
      FROM embeddings),
    qv AS (
      SELECT vec_id,
             CASE WHEN s = 0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
                  ELSE list_transform(embedding,
                         x -> CAST(floor(x::DOUBLE * 127 / s + 0.5) AS BIGINT)) END AS q
      FROM qz),
    sims AS (
      SELECT cd.query_id, cd.corpus_id,
        list_sum(list_transform(range(1, len(c.q) + 1), i -> COALESCE(c.q[i] * q.q[i], 0))) AS dot,
        list_sum(list_transform(range(1, len(c.q) + 1), i -> c.q[i] * c.q[i])) AS na,
        list_sum(list_transform(range(1, len(q.q) + 1), i -> q.q[i] * q.q[i])) AS nb
      FROM cand cd
      JOIN qv c ON c.vec_id = cd.corpus_id
      JOIN qv q ON q.vec_id = cd.query_id
    ),
    scored AS (
      SELECT query_id, corpus_id,
        CASE WHEN na = 0 OR nb = 0 THEN -1.0
             ELSE round(dot::DOUBLE / (sqrt(na::DOUBLE) * sqrt(nb::DOUBLE)), 6) END AS cos_q8
      FROM sims),
    ranked AS (
      SELECT query_id, corpus_id, cos_q8,
        row_number() OVER (PARTITION BY query_id ORDER BY cos_q8 DESC, corpus_id) AS rank
      FROM scored)
    SELECT query_id, corpus_id, cos_q8, rank::INTEGER AS rank
    FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
    """

  /** DETERMINISTIC oracle shared by q_similarity_topk_int8 (on-the-fly
    * quantization) and q_similarity_topk_int8_index (the same scoring read
    * back from a PERSISTED index): the quantized bytes are deterministic,
    * so both engine paths produce identical rows and one DuckDB
    * recomputation (quantize → integer dot/norms → rank) oracles both. */
  private lazy val int8TopkOracleSql: String = """
    WITH scales AS (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS s
      FROM embeddings),
    qv AS (
      SELECT vec_id,
             CASE WHEN s = 0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
                  ELSE list_transform(embedding,
                         x -> CAST(floor(x::DOUBLE * 127 / s + 0.5) AS BIGINT)) END AS q
      FROM scales),
    sims AS (
      SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
        list_sum(list_transform(range(1, len(c.q) + 1), i -> COALESCE(c.q[i] * q.q[i], 0))) AS dot,
        list_sum(list_transform(range(1, len(c.q) + 1), i -> c.q[i] * c.q[i])) AS na,
        list_sum(list_transform(range(1, len(q.q) + 1), i -> q.q[i] * q.q[i])) AS nb
      FROM qv c CROSS JOIN (SELECT * FROM qv WHERE vec_id < 10) q
      WHERE c.vec_id != q.vec_id),
    scored AS (
      SELECT query_id, corpus_id,
        CASE WHEN na = 0 OR nb = 0 THEN -1.0
             ELSE round(dot::DOUBLE / (sqrt(na::DOUBLE) * sqrt(nb::DOUBLE)), 6) END AS cos_q8
      FROM sims),
    ranked AS (
      SELECT query_id, corpus_id, cos_q8,
        row_number() OVER (PARTITION BY query_id ORDER BY cos_q8 DESC, corpus_id) AS rank
      FROM scored)
    SELECT query_id, corpus_id, cos_q8, rank::INTEGER AS rank
    FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
  """

  /** DETERMINISTIC oracle for q_similarity_topk_lsh_int8_index — the
    * all-quantized serving shape: signatures AND scores computed from the
    * persisted int8 bytes (the float column is never read). Same CTE chain
    * as lshInt8OracleSql except `sigs` dots the hyperplanes against the
    * QUANTIZED vectors — quantization is a positive per-vector rescale plus
    * ±0.5-step rounding, so sign bits flip only inside the rounding band
    * (recall property-gated on the engine side). */
  private lazy val lshInt8IndexOracleSql: String = {
    val dim = embeddingDim
    s"""
    WITH planes(t, pw, w) AS (VALUES
      $lshPlaneRows),
    scales AS (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS s
      FROM embeddings),
    qv AS (
      SELECT vec_id,
             CASE WHEN s = 0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
                  ELSE list_transform(embedding,
                         x -> CAST(floor(x::DOUBLE * 127 / s + 0.5) AS BIGINT)) END AS q
      FROM scales),
    sigs AS (
      SELECT v.vec_id, pl.t,
        SUM(CASE WHEN list_sum(list_transform(range(1, ${dim + 1}), i -> v.q[i]::DOUBLE * pl.w[i])) > 0
            THEN pl.pw ELSE 0 END)::BIGINT AS sig
      FROM qv v CROSS JOIN planes pl
      GROUP BY 1, 2
    ),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS corpus_id
      FROM sigs c JOIN sigs q ON c.t = q.t AND bit_count(xor(c.sig, q.sig)) <= 1
      WHERE q.vec_id < 10 AND c.vec_id != q.vec_id
    ),
    sims AS (
      SELECT cd.query_id, cd.corpus_id,
        list_sum(list_transform(range(1, len(c.q) + 1), i -> COALESCE(c.q[i] * q.q[i], 0))) AS dot,
        list_sum(list_transform(range(1, len(c.q) + 1), i -> c.q[i] * c.q[i])) AS na,
        list_sum(list_transform(range(1, len(q.q) + 1), i -> q.q[i] * q.q[i])) AS nb
      FROM cand cd
      JOIN qv c ON c.vec_id = cd.corpus_id
      JOIN qv q ON q.vec_id = cd.query_id
    ),
    scored AS (
      SELECT query_id, corpus_id,
        CASE WHEN na = 0 OR nb = 0 THEN -1.0
             ELSE round(dot::DOUBLE / (sqrt(na::DOUBLE) * sqrt(nb::DOUBLE)), 6) END AS cos_q8
      FROM sims),
    ranked AS (
      SELECT query_id, corpus_id, cos_q8,
        row_number() OVER (PARTITION BY query_id ORDER BY cos_q8 DESC, corpus_id) AS rank
      FROM scored)
    SELECT query_id, corpus_id, cos_q8, rank::INTEGER AS rank
    FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
    """
  }

  /** DETERMINISTIC oracle for q_similarity_topk_ivf_int8_part — the
    * all-quantized IVF serving shape: centroids are the nlist md5-min rows'
    * QUANTIZED vectors, cell assignment and probe selection use the rounded
    * double cosine over the int vectors (the engine's fused matrixCosine
    * semantics: round 6, NaN→-1.0, ties by min cell), and candidates are
    * ranked by the integer-dot int8 cosine. Every step recomputed in SQL. */
  private lazy val ivfInt8PartOracleSql: String = {
    val nlist = 32; val nprobe = 4
    s"""
    WITH scales AS (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS s
      FROM embeddings),
    qv AS (
      SELECT vec_id,
             CASE WHEN s = 0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
                  ELSE list_transform(embedding,
                         x -> CAST(floor(x::DOUBLE * 127 / s + 0.5) AS BIGINT)) END AS q
      FROM scales),
    seeds AS (
      SELECT q AS cvec,
        row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS cell
      FROM qv
      QUALIFY row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) <= $nlist),
    cos_ec AS (
      SELECT v.vec_id, s.cell,
        COALESCE(NULLIF(${duckCosine("v.q", "s.cvec")}, 'NaN'::DOUBLE), -1.0) AS cs
      FROM qv v CROSS JOIN seeds s),
    assigned AS (
      SELECT vec_id, cell FROM cos_ec
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell) = 1),
    probes AS (
      SELECT vec_id AS query_id, cell FROM cos_ec
      WHERE vec_id < 10
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell) <= $nprobe),
    cand AS (
      SELECT DISTINCT p.query_id, a.vec_id AS corpus_id
      FROM probes p JOIN assigned a ON a.cell = p.cell
      WHERE a.vec_id != p.query_id),
    sims AS (
      SELECT cd.query_id, cd.corpus_id,
        list_sum(list_transform(range(1, len(c.q) + 1), i -> COALESCE(c.q[i] * q.q[i], 0))) AS dot,
        list_sum(list_transform(range(1, len(c.q) + 1), i -> c.q[i] * c.q[i])) AS na,
        list_sum(list_transform(range(1, len(q.q) + 1), i -> q.q[i] * q.q[i])) AS nb
      FROM cand cd
      JOIN qv c ON c.vec_id = cd.corpus_id
      JOIN qv q ON q.vec_id = cd.query_id),
    scored AS (
      SELECT query_id, corpus_id,
        CASE WHEN na = 0 OR nb = 0 THEN -1.0
             ELSE round(dot::DOUBLE / (sqrt(na::DOUBLE) * sqrt(nb::DOUBLE)), 6) END AS cos_q8
      FROM sims),
    ranked AS (
      SELECT query_id, corpus_id, cos_q8,
        row_number() OVER (PARTITION BY query_id ORDER BY cos_q8 DESC, corpus_id) AS rank
      FROM scored)
    SELECT query_id, corpus_id, cos_q8, rank::INTEGER AS rank
    FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
    """
  }

  /** Collision-resistant key for the staged /tmp artifacts below: md5 of
    * the ABSOLUTE corpus dir + the JVM pid. `dir.hashCode` hex (the old
    * key) collides across distinct dirs and is shared by concurrent JVMs
    * staging different testdata into the same /tmp path while each JVM's
    * TrieMap believes the artifact is its own — silent cross-
    * contamination (ADVICE r17). The pid bound means artifacts are never
    * shared across processes; within one JVM the TrieMap still makes
    * every stage build-once. */
  private[catalog] def stageKey(dir: String): String = {
    val abs = new java.io.File(dir).getAbsolutePath
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(abs.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    d.take(8).map(b => f"$b%02x").mkString + "_p" + ProcessHandle.current().pid()
  }

  /** `java.io.tmpdir/<prefix><stageKey(dir)>`. No other process can reuse
    * a pid-keyed path, so it is deleted when the JVM exits, together with
    * its `<path>_…` siblings (the PQ codebook). */
  private[catalog] def stagePath(prefix: String, dir: String): String = {
    val f = new java.io.File(sys.props("java.io.tmpdir"), prefix + stageKey(dir))
    stagedOnExit
    stagedNames.add(f.getName)
    f.getAbsolutePath
  }

  private val stagedNames = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val stagedOnExit: Unit = {
    sys.addShutdownHook(deleteStaged(
      new java.io.File(sys.props("java.io.tmpdir")), stagedNames.toArray(Array.empty[String]).toSeq))
    ()
  }

  /** Delete the entries of `tmp` named one of `names` or `<name>_…`. */
  private[catalog] def deleteStaged(tmp: java.io.File, names: Seq[String]): Unit = {
    def deleteTree(f: java.io.File): Unit = {
      if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
        Option(f.listFiles()).foreach(_.foreach(deleteTree))
      f.delete()
    }
    Option(tmp.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => names.exists(n => f.getName == n || f.getName.startsWith(n + "_")))
      .foreach(deleteTree)
  }

  /** A stage that writes its artifact to `stagePath(prefix, dir)` once per
    * (JVM, corpus dir). */
  private def staged(prefix: String)(write: (SparkSession, String, String) => Unit): Stage = {
    val paths = scala.collection.concurrent.TrieMap.empty[String, String]
    (spark, dir) => paths.getOrElseUpdate(dir, {
      val path = stagePath(prefix, dir)
      write(spark, dir, path)
      path
    })
  }

  /** Build-once-per-(JVM, corpus dir) persisted PQ index: the full
    * embeddings frame + codes (payload-bearing — the float column rides
    * along so the PlanSpec pruning gate proves the serving scan reads
    * (vec_id, codes) only) plus the codebook sibling at path+"_codebook". */
  private val persistedPqIndex: Stage = staged("graft_pq_index_") { (spark, dir, path) =>
    Similarity.writePqIndex(
      Tables.read(spark, dir, "embeddings"), "vec_id", "embedding", path)
  }

  /** DuckDB re-derivation of [[Similarity.trainedPqCodebook]] — the
    * per-subspace Lloyd loop UNROLLED as a CTE chain ending in
    * `tcb(s, j, cv1..cv<dsub>)`. Every float op mirrors the Scala trainer
    * bit-for-bit: seeded (md5, id) sample order; init = first ksub sample
    * slices; assignment = ascending-index squared-L2 with (dist, j)
    * lexicographic argmin (`min([dist, j])` — ties → smallest j, the
    * trainer's strict `<`); update = per-dimension list_sum over the
    * rid-ordered assigned values (sequential double accumulation = the
    * trainer's ascending-rank loop) divided once; empty cluster keeps its
    * previous centroid (COALESCE). Slices ride as SCALAR cv-columns, not
    * lists — ~3× faster in DuckDB with identical arithmetic. Constants come
    * from Similarity so trainer and oracle can never drift. */
  private def trainedPqCbCte(m: Int, ksub: Int, dsub: Int): String = {
    val sampleN = Similarity.PqTrainSample
    val iters = Similarity.PqTrainIters
    val vcols = (1 to dsub).map(i => s"embedding[s * $dsub + $i]::DOUBLE AS v$i").mkString(", ")
    def dist(va: String, cb: String) = (1 to dsub).map(i =>
      s"($va.v$i - $cb.cv$i) * ($va.v$i - $cb.cv$i)").mkString(" + ")
    val c0cols = (1 to dsub).map(i => s"v$i AS cv$i").mkString(", ")
    val head =
      s"""samp AS (
         |  SELECT embedding, row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) AS rid
         |  FROM embeddings
         |  QUALIFY rid <= $sampleN
         |),
         |sub AS (SELECT unnest(range(0, $m)) AS s),
         |sv AS (SELECT rid, s, $vcols FROM samp, sub),
         |c0 AS (SELECT s, rid - 1 AS j, $c0cols FROM sv WHERE rid <= $ksub)""".stripMargin
    val rounds = (1 to iters).map { t =>
      val anyv = (1 to dsub).map(i => s"any_value(sv.v$i) AS v$i").mkString(", ")
      val means = (1 to dsub).map(i =>
        s"list_sum(list(v$i ORDER BY rid)) / count(*) AS cv$i").mkString(", ")
      val coal = (1 to dsub).map(i => s"COALESCE(u.cv$i, p.cv$i) AS cv$i").mkString(", ")
      s"""a$t AS (
         |  SELECT sv.s, sv.rid, $anyv,
         |    min([${dist("sv", "c")}, c.j::DOUBLE])[2]::BIGINT AS j
         |  FROM sv JOIN c${t - 1} c USING (s)
         |  GROUP BY sv.s, sv.rid
         |),
         |u$t AS (SELECT s, j, $means FROM a$t GROUP BY s, j),
         |c$t AS (
         |  SELECT p.s, p.j, $coal
         |  FROM c${t - 1} p LEFT JOIN u$t u ON u.s = p.s AND u.j = p.j
         |)""".stripMargin
    }
    (head +: rounds :+ s"tcb AS (SELECT * FROM c$iters)").mkString(",\n")
  }

  /** Squared-L2 between `alias.embedding`'s slice `cb.s` and codebook row
    * `cb` — the explicit ascending-index sum (== the kernels' accumulation
    * order; == list_sum over the index-ordered transform). */
  private def trainedPqSliceDist(alias: String, cb: String, dsub: Int): String =
    (1 to dsub).map { i =>
      val x = s"($alias.embedding[$cb.s * $dsub + $i]::DOUBLE - $cb.cv$i)"
      s"$x * $x"
    }.mkString(" + ")

  /** DuckDB re-derivation of [[QualityClassifier.train]] — the fixed-
    * iteration logistic GD unrolled as CTEs (the trainedPqCbCte
    * precedent). `posValues`/`negValues` are SQL VALUES bodies (id, text)
    * matching the wv-planted labeled models. Emits CTEs ending in
    * `qwt<Iters>` (b, w) + `qbs<Iters>` (bias); every float op mirrors
    * the driver loop: docs ordered (y, id::VARCHAR, md5(text)) — the md5
    * tie-break is what the driver collects instead of the text itself —
    * token buckets in position order, margins/gradients as ordered
    * list_sums, update w − Lr·(g/n). Assumes labeled docs are non-null,
    * non-token-free (true for the planted sets). */
  private def qualityClassifierCte(posValues: String, negValues: String): String = {
    val lr = QualityClassifier.Lr
    val hx = "'0123456789abcdef'"
    val head =
      s"""qlab AS (
         |  SELECT 0 AS y, id::VARCHAR AS id, text FROM (VALUES $negValues) AS n(id, text)
         |  UNION ALL
         |  SELECT 1 AS y, id::VARCHAR AS id, text FROM (VALUES $posValues) AS p(id, text)
         |),
         |qn AS (SELECT count(*)::DOUBLE AS n FROM qlab WHERE text IS NOT NULL),
         |qltok AS (
         |  SELECT y, id, th, pos,
         |    (strpos($hx, substr(md5(ts[pos]), 1, 1)) - 1) * 256
         |    + (strpos($hx, substr(md5(ts[pos]), 2, 1)) - 1) * 16
         |    + (strpos($hx, substr(md5(ts[pos]), 3, 1)) - 1) AS b
         |  FROM (SELECT y, id, th, ts, unnest(range(1, len(ts) + 1)) AS pos
         |        FROM (SELECT y, id, md5(text) AS th, list_filter(
         |                string_split_regex(lower(text), '[^a-z0-9]+'),
         |                x -> len(x) > 0) AS ts
         |              FROM qlab))
         |),
         |qwt0 AS (SELECT DISTINCT b, 0.0 AS w FROM qltok),
         |qbs0 AS (SELECT 0.0 AS bias)""".stripMargin
    val rounds = (1 to QualityClassifier.Iters).map { t =>
      s"""qmg$t AS (
         |  SELECT lt.y, lt.id, lt.th,
         |    (SELECT bias FROM qbs${t - 1})
         |      + coalesce(list_sum(list(w.w ORDER BY lt.pos)), 0.0) AS marg
         |  FROM qltok lt JOIN qwt${t - 1} w ON w.b = lt.b
         |  GROUP BY lt.y, lt.id, lt.th
         |),
         |qer$t AS (SELECT y, id, th, 1.0 / (1.0 + exp(-marg)) - y AS err FROM qmg$t),
         |qgr$t AS (
         |  SELECT lt.b, list_sum(list(e.err ORDER BY e.y, e.id, e.th, lt.pos)) AS g
         |  FROM qltok lt
         |  JOIN qer$t e ON e.y = lt.y AND e.id = lt.id AND e.th = lt.th
         |  GROUP BY lt.b
         |),
         |qwt$t AS (
         |  SELECT w.b, w.w - $lr * (g.g / (SELECT n FROM qn)) AS w
         |  FROM qwt${t - 1} w JOIN qgr$t g ON g.b = w.b
         |),
         |qbs$t AS (
         |  SELECT (SELECT bias FROM qbs${t - 1})
         |    - $lr * ((SELECT list_sum(list(err ORDER BY y, id, th)) FROM qer$t)
         |             / (SELECT n FROM qn)) AS bias
         |)""".stripMargin
    }
    (head +: rounds).mkString(",\n")
  }

  /** Build-once-per-(JVM, corpus dir) 4-file staging of the documents
    * table for the streaming-source rows: the testdata tables are single
    * parquet FILES, and Spark's FileStreamSource requires a directory —
    * a multi-file one also makes maxFilesPerTrigger=1 produce genuine
    * multiple micro-batches. */
  private val stagedDocsDir: Stage = staged("graft_docs_stream_") { (spark, dir, path) =>
    Tables.read(spark, dir, "documents").repartition(4)
      .write.mode("overwrite").parquet(path)
  }

  /** Build-once-per-(JVM, corpus dir) persisted BM25 index over the
    * documents table — the q_bm25_topk_index rows query it with a
    * partition-pruned postings scan. */
  private val persistedBm25Index: Stage = staged("graft_bm25_index_") { (spark, dir, path) =>
    graft.operators.Retrieval.writeBm25Index(
      Tables.read(spark, dir, "documents"), "doc_id", "text", path)
  }

  /** Build-once-per-(JVM, corpus dir) INCREMENTALLY-MAINTAINED BM25
    * index: built over the corpus three-quarters of documents
    * (doc_id % 4 != 0), then the remaining quarter APPENDED via
    * bm25_index_append — never re-reading the corpus. Serving over it
    * must be bitwise a full rebuild over ALL documents, so the
    * q_bm25_index_append oracle is q_bm25_topk_index's full-recompute
    * SQL verbatim. */
  private val appendedBm25Index: Stage = staged("graft_bm25_appidx_") { (spark, dir, path) =>
    val docs = Tables.read(spark, dir, "documents")
    graft.operators.Retrieval.writeBm25Index(
      docs.filter(F.col("doc_id") % 4 =!= 0), "doc_id", "text", path)
    graft.operators.Retrieval.bm25IndexAppend(
      spark, path,
      docs.filter(F.col("doc_id") % 4 === 0).select("doc_id", "text"),
      "doc_id", "text")
  }

  /** Build-once-per-(JVM, corpus dir) INCREMENTALLY-MAINTAINED int8 ANN
    * index: built over the odd vec_ids, even vec_ids APPENDED via
    * ann_int8_index_append — int8 quantization is per-row deterministic,
    * so the appended index is row-identical to [[persistedInt8Index]] and
    * the serving row reuses the full int8 oracle SQL verbatim. */
  private val appendedInt8Index: Stage = staged("graft_int8_appidx_") { (spark, dir, path) =>
    val embs = Tables.read(spark, dir, "embeddings")
    Similarity.buildInt8Index(
        embs.filter(F.col("vec_id") % 2 === 1), "vec_id", "embedding")
      .write.mode("overwrite").parquet(path)
    Similarity.int8IndexAppend(
      spark, path,
      embs.filter(F.col("vec_id") % 2 === 0).select("vec_id", "embedding"),
      "vec_id", "embedding")
  }

  /** Build-once-per-(JVM, corpus dir) INCREMENTALLY-MAINTAINED PQ index:
    * built over the odd vec_ids (codebook SEEDED FROM THE ODDS), the
    * evens appended with that FROZEN codebook (Similarity.pqIndexAppend —
    * the FAISS add() semantic). The q_ann_pq_index_append oracle is the
    * SDC full recompute with its seeds CTE restricted to the odd ids —
    * exactly what "base-corpus codebook over corpus ∪ batch" means. */
  private val appendedPqIndex: Stage = staged("graft_pq_appidx_") { (spark, dir, path) =>
    val embs = Tables.read(spark, dir, "embeddings")
    Similarity.writePqIndex(
      embs.filter(F.col("vec_id") % 2 === 1), "vec_id", "embedding", path)
    Similarity.pqIndexAppend(
      spark, path,
      embs.filter(F.col("vec_id") % 2 === 0), // full frame: payload rides along
      "vec_id", "embedding")
  }

  /** Build-once-per-(JVM, corpus dir) persisted int8 ANN index: CTAS of
    * [[Similarity.buildInt8Index]] over the embeddings table, parquet under
    * java.io.tmpdir. The write is the offline index-build step; index
    * queries then re-read from disk, so their scans genuinely prove the
    * float column is pruned (PlanSpec gates ReadSchema) and the 4× byte
    * saving is real I/O, not bookkeeping. */
  private val persistedInt8Index: Stage = staged("graft_int8_index_") { (spark, dir, path) =>
    Similarity.buildInt8Index(Tables.read(spark, dir, "embeddings"), "vec_id", "embedding")
      .write.mode("overwrite").parquet(path)
  }

  /** Build-once-per-(JVM, corpus dir) persisted MinHash signature index
    * over the CORPUS three-quarters of the documents table
    * (doc_id % 4 != 0) — the incremental-dedup split: the remaining
    * quarter plays the "new batch" that probes the index. Written to
    * parquet WITH the text column alongside (a payload-bearing index, the
    * realistic CTAS), so the probe queries genuinely prove column pruning:
    * their index scans must read (doc_id, sig) only (PlanSpec gate). */
  private val persistedMinhashIndex: Stage = staged("graft_minhash_index_") { (spark, dir, path) =>
    val corpus = Tables.read(spark, dir, "documents").filter(F.col("doc_id") % 4 =!= 0)
    Dedup.buildMinhashIndex(corpus, "doc_id", "text", 64, 2)
      .join(corpus.select("doc_id", "text"), Seq("doc_id"))
      .write.mode("overwrite").parquet(path)
  }

  /** Build-once-per-(JVM, corpus dir) INCREMENTALLY-MAINTAINED MinHash
    * index: built (payload-bearing, text alongside) over HALF the corpus
    * (doc_id % 4 ∈ {1, 2}), then the remaining corpus quarter
    * (doc_id % 4 == 3) APPENDED via Dedup.minhashIndexAppend — signature
    * rows are deterministic per doc, so the appended index is
    * row-identical to [[persistedMinhashIndex]] (the full doc_id % 4 != 0
    * build) and q_minhash_index_append reuses
    * q_dedup_incremental_pairs's oracle SQL verbatim. */
  private val appendedMinhashIndex: Stage = staged("graft_minhash_appidx_") { (spark, dir, path) =>
    val docs = Tables.read(spark, dir, "documents")
    val half = docs.filter(F.col("doc_id") % 4 =!= 0 && F.col("doc_id") % 4 =!= 3)
    Dedup.buildMinhashIndex(half, "doc_id", "text", 64, 2)
      .join(half.select("doc_id", "text"), Seq("doc_id"))
      .write.mode("overwrite").parquet(path)
    Dedup.minhashIndexAppend(
      spark, path,
      docs.filter(F.col("doc_id") % 4 === 3).select("doc_id", "text"),
      "doc_id", "text")
  }

  /** Deterministic synthetic PNG corpus for the REAL-decode rows
    * (q_multimodal_decode / q_multimodal_resize): 12 images whose pixel
    * statistics have CLOSED FORMS — solid grays (id % 3 == 0, value
    * 32 + id·16), even vertical black/white splits (id % 3 == 1), solid
    * RGB (id % 3 == 2, channels (37·id, 59·id, 83·id) mod 256) — plus one
    * corrupt payload (id 99). Encoded with the JDK's own PNG writer at
    * catalog-build time; dims w = 16 + (id%4)·8, h = 12 + (id%3)·4. */
  private[catalog] case class ImgSpec(id: Long, w: Int, h: Int, kind: Int,
      r: Int, g: Int, b: Int) {
    /** Exact mean luminance ((r+g+b)/3 over [0,1]) by construction. */
    def meanLum: Double = kind match {
      case 1 => 0.5
      case _ => (r + g + b) / (3.0 * 255.0)
    }
    /** Exact 8-bucket luminance histogram by construction. */
    def hist: Seq[Double] = kind match {
      case 1 => Seq(0.5, 0, 0, 0, 0, 0, 0, 0.5)
      case _ =>
        val bucket = math.min(7, (meanLum * 8).toInt)
        (0 until 8).map(i => if (i == bucket) 1.0 else 0.0)
    }
  }

  private[catalog] val imgSpecs: Seq[ImgSpec] = (0L until 12L).map { id =>
    val kind = (id % 3).toInt
    val (r, g, b) = kind match {
      case 0 => val v = 32 + id.toInt * 16; (v, v, v)
      case 1 => (0, 0, 0) // unused: split pattern
      case _ => ((id.toInt * 37) % 256, (id.toInt * 59) % 256, (id.toInt * 83) % 256)
    }
    ImgSpec(id, 16 + (id % 4).toInt * 8, 12 + (id % 3).toInt * 4, kind, r, g, b)
  }

  private def pngBytes(s: ImgSpec): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      s.w, s.h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < s.h) {
      var x = 0
      while (x < s.w) {
        val rgb = s.kind match {
          case 1 => if (x < s.w / 2) 0x000000 else 0xffffff
          case _ => (s.r << 16) | (s.g << 8) | s.b
        }
        img.setRGB(x, y, rgb)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** (id, payload) rows of synthetic media: a non-null long id and the
    * encoded bytes. */
  private def mediaFrame(spark: SparkSession, idCol: String, payloadCol: String,
      rows: Seq[(Long, Array[Byte])]): DataFrame = {
    import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}
    spark.createDataFrame(
      java.util.List.of(rows.map { case (id, b) => org.apache.spark.sql.Row(id, b) }: _*),
      StructType(Seq(StructField(idCol, LongType, nullable = false),
        StructField(payloadCol, BinaryType, nullable = true))))
  }

  private def syntheticPngs(spark: SparkSession): DataFrame = mediaFrame(spark, "img_id", "png",
    imgSpecs.map(s => s.id -> pngBytes(s)) :+ (99L -> "not an image".getBytes("UTF-8")))

  /** Build-once-per-(JVM, corpus dir) persisted + APPENDED bloom index:
    * filter built over HALF the corpus (doc_id % 4 ∈ {1, 2}), the
    * remaining corpus quarter's fingerprints MERGED in via
    * dedup_bloom_index_append. Same-shape OR is lossless, so probes
    * against it (recheck corpus doc_id % 4 != 0) are exact — the
    * q_dedup_bloom_against_index oracle is the plain SQL fingerprint
    * join. */
  private val appendedBloomIndex: Stage = staged("graft_bloom_appidx_") { (spark, dir, path) =>
    val docs = Tables.read(spark, dir, "documents")
    Dedup.writeBloomIndex(
      docs.filter(F.col("doc_id") % 4 =!= 0 && F.col("doc_id") % 4 =!= 3),
      "doc_id", "text", path)
    Dedup.bloomIndexAppend(
      spark, path,
      docs.filter(F.col("doc_id") % 4 === 3).select("doc_id", "text"),
      "doc_id", "text")
  }

  /** Deterministic noise-PNG corpus for the pHash near-dup-image row
    * (q_dedup_phash). pHash's invariances make the expected pairs CLOSED
    * FORM — no hash value needs hand-deriving:
    *   - img 2 is img 1 pixel-doubled (64×64): the 32×32 area-average
    *     reproduces img 1's grid exactly → hash EQUAL by construction;
    *   - img 3 is img 1 under the affine map v → v/2 + 64 (grays are
    *     even, so integer-exact): DC is excluded and bits threshold
    *     against the median of quantized normalized coefficients, so an
    *     a·v+b map (a>0) flips no bit → hash EQUAL by construction;
    *   - imgs 4/6 are INDEPENDENT noise (different seeds): a noise pHash
    *     has ~31 of 63 bits set and two independent ones differ in ~31
    *     bits — nowhere near the r=3 cut (spec-asserted margin);
    *   - img 5 is solid: all AC coefficients are zero → hash 0, maximally
    *     far from any noise hash;
    *   - id 99 is a corrupt payload: decoded=false, no hash, never pairs.
    * Expected pairs at hamming ≤ 3: exactly {(1,2,0), (1,3,0), (2,3,0)}. */
  private[graft] def noiseGrays(seed: Long, n: Int): Array[Int] = {
    var s = seed
    Array.fill(n) {
      s = s * 6364136223846793005L + 1442695040888963407L
      (((s >>> 33) % 128).toInt) * 2 // even grays 0..254 → v/2+64 exact
    }
  }

  private[graft] def grayPng(vals: Array[Int], w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = vals(y * w + x)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  private[graft] def phashPngs(spark: SparkSession): DataFrame = {
    val base = noiseGrays(7L, 32 * 32)
    val doubled = Array.tabulate(64 * 64)(i => base((i / 64 / 2) * 32 + (i % 64) / 2))
    mediaFrame(spark, "img_id", "png", Seq(
      1L -> grayPng(base, 32, 32),
      2L -> grayPng(doubled, 64, 64),
      3L -> grayPng(base.map(v => v / 2 + 64), 32, 32),
      4L -> grayPng(noiseGrays(11L, 32 * 32), 32, 32),
      5L -> grayPng(Array.fill(32 * 32)(128), 32, 32),
      6L -> grayPng(noiseGrays(13L, 32 * 32), 32, 32),
      99L -> "not an image".getBytes("UTF-8")))
  }

  /** Batch side for the INCREMENTAL image-dedup row
    * (q_dedup_phash_against): ids 101/102 are a pixel-doubled rescale and
    * an affine brightness variant of corpus image 1 (hash-identical by
    * the [[phashPngs]] invariance arguments), 103 is independent noise
    * (novel), 199 is corrupt. Expected links at hamming ≤ 3: exactly
    * {(101,1,0), (102,1,0)}. */
  private[graft] def phashBatchPngs(spark: SparkSession): DataFrame = {
    val base = noiseGrays(7L, 32 * 32)
    val doubled = Array.tabulate(64 * 64)(i => base((i / 64 / 2) * 32 + (i % 64) / 2))
    mediaFrame(spark, "img_id", "png", Seq(
      101L -> grayPng(doubled, 64, 64),
      102L -> grayPng(base.map(v => v / 2 + 64), 32, 32),
      103L -> grayPng(noiseGrays(17L, 32 * 32), 32, 32),
      199L -> "still not an image".getBytes("UTF-8")))
  }


  /** The catalog's rounding convention, replicated for oracle literals. */
  private def r4(v: Double): String =
    BigDecimal(v + 5e-9).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString

  /** Deterministic synthetic WAV corpus for q_multimodal_audio (all mono
    * 16-bit PCM at 8 kHz, encoded by the JDK's own WAV writer): silence,
    * a ±0.5 square wave with an 8-sample period, and a 1 kHz sine (period
    * = 8 samples at 8 kHz, so the quantized sample pattern repeats exactly
    * and RMS/zero-crossings have closed forms), plus one corrupt payload.
    * The samples here and the oracle's expectations are computed from the
    * same closed-form pattern arithmetic; the DECODER (RIFF parsing,
    * format fields, 16-bit LE normalization) is what the row verifies. */
  private[catalog] def wavSamples(id: Long, n: Int): Array[Short] = id match {
    case 0L => Array.fill(n)(0.toShort) // silence
    case 1L => // square: 4 samples +0.5, 4 samples -0.5
      Array.tabulate(n)(k => (if ((k / 4) % 2 == 0) 16384 else -16384).toShort)
    case _ => // 1 kHz sine, amp 0.8
      Array.tabulate(n)(k =>
        math.round(0.8 * 32767 * math.sin(2 * math.Pi * k / 8)).toShort)
  }

  private def wavBytes(samples: Array[Short]): Array[Byte] = {
    val pcm = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      pcm(2 * i) = (samples(i) & 0xff).toByte
      pcm(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, samples.length.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  private val wavNs = Map(0L -> 4000, 1L -> 8000, 2L -> 8000)

  private def syntheticWavs(spark: SparkSession): DataFrame = mediaFrame(spark, "audio_id", "wav",
    (0L to 2L).map(id => id -> wavBytes(wavSamples(id, wavNs(id)))) :+
      (99L -> "definitely not audio".getBytes("UTF-8")))

  /** Minimal valid AVI writer for q_multimodal_video: RIFF('AVI ')
    * containing an avih header (dims at body offsets 32/36) and a `movi`
    * list of uncompressed bottom-up BGR24 DIB frames (`00db`) — the raw
    * flavor real capture tools emit, and EXACT (no lossy codec), so the
    * oracle is closed form. Frame i of video v is solid gray 16 + 32·i. */
  private def aviBytes(nFrames: Int, w: Int, h: Int): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    def le32(v: Int): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val pad = if (body.length % 2 == 1) Array(0.toByte) else Array.empty[Byte]
      id.getBytes("US-ASCII") ++ le32(body.length) ++ body ++ pad
    }
    def list(typ: String, body: Array[Byte]): Array[Byte] =
      chunk("LIST", typ.getBytes("US-ASCII") ++ body)
    val avih = {
      val b = new Array[Byte](56)
      System.arraycopy(le32(100000), 0, b, 0, 4) // usec per frame
      System.arraycopy(le32(nFrames), 0, b, 16, 4)
      System.arraycopy(le32(1), 0, b, 24, 4) // one stream
      System.arraycopy(le32(w), 0, b, 32, 4)
      System.arraycopy(le32(h), 0, b, 36, 4)
      b
    }
    val rowBytes = (w * 3 + 3) & ~3
    def dibFrame(gray: Int): Array[Byte] = {
      val b = new Array[Byte](rowBytes * h)
      for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
        b(y * rowBytes + x * 3 + c) = gray.toByte
      b
    }
    val movi = (0 until nFrames).map(i => chunk("00db", dibFrame(16 + 32 * i)))
      .reduce(_ ++ _)
    val body = "AVI ".getBytes("US-ASCII") ++
      list("hdrl", chunk("avih", avih)) ++ list("movi", movi)
    bos.write("RIFF".getBytes("US-ASCII")); bos.write(le32(body.length)); bos.write(body)
    bos.toByteArray
  }

  private val videoSpecs: Seq[(Long, Int, Int, Int)] = // (id, frames, w, h)
    Seq((0L, 6, 8, 6), (1L, 3, 12, 4), (2L, 7, 6, 10))

  private def syntheticAvis(spark: SparkSession): DataFrame = mediaFrame(spark, "video_id", "avi",
    videoSpecs.map { case (id, n, w, h) => id -> aviBytes(n, w, h) } :+
      (99L -> "not a video container".getBytes("UTF-8")))

  /** Writes a synthetic media frame as parquet, for the media rows to read
    * as a staged relation. */
  private def stagedFrame(prefix: String)(frame: SparkSession => DataFrame): Stage =
    staged(prefix)((spark, _, path) => frame(spark).write.mode("overwrite").parquet(path))

  private val pngStage = stagedFrame("graft_pngs_")(syntheticPngs)
  private val phashPngStage = stagedFrame("graft_phash_pngs_")(phashPngs)
  private val phashBatchStage = stagedFrame("graft_phash_batch_")(phashBatchPngs)
  private val wavStage = stagedFrame("graft_wavs_")(syntheticWavs)
  private val aviStage = stagedFrame("graft_avis_")(syntheticAvis)

  private lazy val multimodalVideoOracleSql: String = {
    val rows = videoSpecs.flatMap { case (id, n, w, h) =>
      (0 until n).filter(_ % 2 == 0).take(8).map { i =>
        s"($id, true, $n, $i, $w, $h, ${r4((16 + 32 * i) / 255.0)})"
      }
    } :+ "(99, false, NULL, NULL, NULL, NULL, NULL)"
    s"""SELECT CAST(c0 AS BIGINT) AS video_id, CAST(c1 AS BOOLEAN) AS decoded,
              CAST(c2 AS INTEGER) AS n_frames, CAST(c3 AS INTEGER) AS frame_idx,
              CAST(c4 AS INTEGER) AS width, CAST(c5 AS INTEGER) AS height,
              CAST(c6 AS DOUBLE) AS mean_lum
       FROM (VALUES ${rows.mkString(",\n  ")}) t(c0, c1, c2, c3, c4, c5, c6)
       ORDER BY video_id, frame_idx"""
  }

  private lazy val multimodalAudioOracleSql: String = {
    val rows = (0L to 2L).map { id =>
      val n = wavNs(id)
      val s = wavSamples(id, n)
      val rms = math.sqrt(s.map(v => (v / 32768.0) * (v / 32768.0)).sum / n)
      var crossings = 0L
      var prev = 0
      s.foreach { v =>
        val sign = if (v > 0) 1 else if (v < 0) -1 else 0
        if (sign != 0 && prev != 0 && sign != prev) crossings += 1
        if (sign != 0) prev = sign
      }
      s"($id, true, 8000, 1, $n, ${r4(n / 8000.0)}, ${r4(rms)}, $crossings)"
    } :+ "(99, false, NULL, NULL, NULL, NULL, NULL, NULL)"
    s"""SELECT CAST(c0 AS BIGINT) AS audio_id, CAST(c1 AS BOOLEAN) AS decoded,
              CAST(c2 AS INTEGER) AS sample_rate, CAST(c3 AS INTEGER) AS channels,
              CAST(c4 AS BIGINT) AS n_samples, CAST(c5 AS DOUBLE) AS duration_sec,
              CAST(c6 AS DOUBLE) AS rms, CAST(c7 AS BIGINT) AS zero_crossings
       FROM (VALUES ${rows.mkString(",\n  ")}) t(c0, c1, c2, c3, c4, c5, c6, c7)
       ORDER BY audio_id"""
  }

  private lazy val multimodalDecodeOracleSql: String = {
    val rows = imgSpecs.map { s =>
      val h = s.hist.map(r4).mkString(", ")
      s"(${s.id}, true, ${s.w}, ${s.h}, ${r4(s.meanLum)}, $h)"
    } :+ "(99, false, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL)"
    s"""SELECT CAST(c0 AS BIGINT) AS img_id, CAST(c1 AS BOOLEAN) AS decoded,
              CAST(c2 AS INTEGER) AS width, CAST(c3 AS INTEGER) AS height,
              CAST(c4 AS DOUBLE) AS mean_lum,
              CAST(c5 AS DOUBLE) AS h0, CAST(c6 AS DOUBLE) AS h1,
              CAST(c7 AS DOUBLE) AS h2, CAST(c8 AS DOUBLE) AS h3,
              CAST(c9 AS DOUBLE) AS h4, CAST(c10 AS DOUBLE) AS h5,
              CAST(c11 AS DOUBLE) AS h6, CAST(c12 AS DOUBLE) AS h7
       FROM (VALUES ${rows.mkString(",\n  ")})
         t(c0, c1, c2, c3, c4, c5, c6, c7, c8, c9, c10, c11, c12)
       ORDER BY img_id"""
  }

  private lazy val multimodalResizeOracleSql: String = {
    val rows = imgSpecs.filter(_.kind != 1).map { s =>
      s"(${s.id}, true, 8, 6, ${r4(s.meanLum)})"
    } :+ "(99, false, NULL, NULL, NULL)" // corrupt payload passes through
    s"""SELECT CAST(c0 AS BIGINT) AS img_id, CAST(c1 AS BOOLEAN) AS decoded,
              CAST(c2 AS INTEGER) AS width, CAST(c3 AS INTEGER) AS height,
              CAST(c4 AS DOUBLE) AS mean_lum
       FROM (VALUES ${rows.mkString(",\n  ")}) t(c0, c1, c2, c3, c4)
       ORDER BY img_id"""
  }

  /** Bucket-PARTITIONED LSH posting index over the quantized vectors
    * (Similarity.lshInt8IndexPostings → partitionBy("bucket")): the probed
    * read path for q_similarity_topk_lsh_int8_part. Built once per
    * (JVM, dir) like [[persistedInt8Index]]. */
  private val persistedLshInt8Index: Stage = staged("graft_lsh_int8_index_") { (spark, dir, path) =>
    val idx = graft.Tables.readPath(spark, persistedInt8Index(spark, dir))
    Similarity.lshInt8IndexPostings(idx, "vec_id", "q8", planes = 8, tables = 6)
      .write.mode("overwrite").partitionBy("bucket_grp").parquet(path)
  }

  /** Cell-partitioned IVF×int8 index (Similarity.writeIvfInt8Index —
    * postings + `_centroids` sidecar) for q_similarity_topk_ivf_int8_part;
    * built once per (JVM, dir). */
  private val persistedIvfInt8Index: Stage = staged("graft_ivf_int8_index_") { (spark, dir, path) =>
    val idx = graft.Tables.readPath(spark, persistedInt8Index(spark, dir))
    Similarity.writeIvfInt8Index(idx, "vec_id", "q8", path, nlist = 32)
  }

  /** Shared CTE chain for the SemDeDup oracles: md5-min seeds → NaN-guarded
    * argmax-cos assignment (identical contract to ivfSeededOracleSql) →
    * within-bucket pairs at threshold. Ends with `sem_pairs(bucket, id_a,
    * id_b, cos_sim)`; embed after WITH [RECURSIVE]. */
  private lazy val semDedupPairsCte: String = {
    val nlist = 32; val threshold = 0.35
    s"""seeds AS (
      SELECT embedding AS cvec,
        row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS bucket
      FROM embeddings
      QUALIFY row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) <= $nlist
    ),
    sem_cos_ec AS (
      SELECT e.vec_id, e.embedding, s.bucket,
        COALESCE(NULLIF(${duckCosine("e.embedding", "s.cvec")}, 'NaN'::DOUBLE), -1.0) AS cs
      FROM embeddings e CROSS JOIN seeds s
    ),
    sem_assign AS (
      SELECT vec_id, embedding, bucket FROM sem_cos_ec
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, bucket) = 1
    ),
    sem_pairs AS (
      SELECT a.bucket, a.vec_id AS id_a, b.vec_id AS id_b,
        ${duckCosine("a.embedding", "b.embedding")} AS cos_sim
      FROM sem_assign a JOIN sem_assign b USING (bucket)
      WHERE a.vec_id < b.vec_id
        AND ${duckCosine("a.embedding", "b.embedding")} >= $threshold
    )"""
  }

  /** DETERMINISTIC oracle for q_similarity_topk_ivf (seeded-quantizer
    * IVF-flat, Similarity.ivfSeededTopK): centroids = the nlist corpus
    * points with smallest (md5(id), id); cell assignment and probe selection
    * rank by (round(cos, 6) DESC, bucket ASC); final rank by
    * (round(cos, 6) DESC, corpus_id ASC) — every step plain SQL. */
  private lazy val ivfSeededOracleSql: String = {
    val nlist = 32; val nprobe = 4
    s"""
    WITH seeds AS (
      SELECT embedding AS cvec,
        row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS bucket
      FROM embeddings
      QUALIFY row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) <= $nlist
    ),
    cos_ec AS (
      -- NaN guard mirrors the engine's nanvl(cos, -1.0): a zero-norm vector
      -- would otherwise rank FIRST here (DuckDB sorts NaN above all) but
      -- LAST in the engine's ascending struct sort
      SELECT e.vec_id, s.bucket,
        COALESCE(NULLIF(${duckCosine("e.embedding", "s.cvec")}, 'NaN'::DOUBLE), -1.0) AS cs
      FROM embeddings e CROSS JOIN seeds s
    ),
    assign AS (
      SELECT vec_id, bucket FROM cos_ec
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, bucket) = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, bucket FROM cos_ec WHERE vec_id < 10
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, bucket) <= $nprobe
    ),
    cand AS (
      SELECT p.query_id, a.vec_id AS corpus_id
      FROM assign a JOIN probes p USING (bucket)
      WHERE a.vec_id != p.query_id
    ),
    sims AS (
      SELECT cd.query_id, cd.corpus_id,
        ${duckCosine("ce.embedding", "qe.embedding")} AS cos_sim
      FROM cand cd
      JOIN embeddings ce ON ce.vec_id = cd.corpus_id
      JOIN embeddings qe ON qe.vec_id = cd.query_id
    ),
    ranked AS (
      SELECT query_id, corpus_id, cos_sim,
        row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, corpus_id) AS rank
      FROM sims)
    SELECT query_id, corpus_id, cos_sim, rank::INTEGER AS rank
    FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
    """
  }

  // ===========================================================================
  // A. Scans / filters / projections / ordering / limiting  (SURVEY §2.A–C)
  // ===========================================================================

  val relationalQueries: Seq[(String, Q, Option[String])] = Seq(
    (
      "q_scan_filter_project",
      wv("""
        from lineitem
        where l_quantity > 45 and l_discount between 0.05 and 0.07
        select l_orderkey, l_linenumber, l_quantity, l_extendedprice
        order by l_orderkey, l_linenumber
      """),
      Some("""
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        FROM lineitem
        WHERE l_quantity > 45 AND l_discount BETWEEN 0.05 AND 0.07
        ORDER BY l_orderkey, l_linenumber
      """)
    ),
    (
      "q_agg_pricing_summary", // TPC-H Q1 shape: filter → group → agg → order
      wv("""
        from lineitem
        where l_shipdate <= '1998-09-01'
        group by l_returnflag, l_linestatus
        agg
          count_order = _.count,
          sum_qty = l_quantity.sum.round(2),
          sum_base_price = l_extendedprice.sum.round(2),
          sum_disc_price = (l_extendedprice * (1 - l_discount)).sum.round(2),
          avg_qty = l_quantity.avg.round(4),
          avg_price = l_extendedprice.avg.round(4),
          avg_disc = l_discount.avg.round(6)
        order by l_returnflag, l_linestatus
      """),
      Some("""
        SELECT l_returnflag, l_linestatus,
          count(*) AS count_order,
          round(sum(l_quantity), 2) AS sum_qty,
          round(sum(l_extendedprice), 2) AS sum_base_price,
          round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
          round(avg(l_quantity), 4) AS avg_qty,
          round(avg(l_extendedprice), 4) AS avg_price,
          round(avg(l_discount), 6) AS avg_disc
        FROM lineitem
        WHERE l_shipdate <= '1998-09-01'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
      """)
    ),
    (
      "q_having", // post-agg filter = HAVING
      wv("""
        from lineitem
        group by l_orderkey
        agg n = _.count, total = l_extendedprice.sum.round(2)
        where n >= 6
        order by l_orderkey
      """),
      Some("""
        SELECT l_orderkey, count(*) AS n, round(sum(l_extendedprice), 2) AS total
        FROM lineitem
        GROUP BY l_orderkey
        HAVING count(*) >= 6
        ORDER BY l_orderkey
      """)
    ),
    (
      "q_bare_group_by_having", // reference's AggregationType semantics
      wv("""
        from orders
        group by o_custkey
        where _.count >= 4
        select o_custkey
        order by o_custkey
      """),
      Some("""
        SELECT o_custkey FROM orders
        GROUP BY o_custkey HAVING count(*) >= 4
        ORDER BY o_custkey
      """)
    ),
    (
      "q_count",
      wv("from lineitem count"),
      Some("SELECT count(*) AS count FROM lineitem")
    ),
    (
      "q_distinct",
      wv("""
        from lineitem
        select distinct l_returnflag, l_linestatus
        order by l_returnflag, l_linestatus
      """),
      Some("""
        SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        ORDER BY l_returnflag, l_linestatus
      """)
    ),
    (
      "q_dedup",
      wv("""
        from orders
        select o_orderstatus, o_orderpriority
        dedup
        order by o_orderstatus, o_orderpriority
      """),
      Some("""
        SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
        ORDER BY o_orderstatus, o_orderpriority
      """)
    ),
    (
      "q_limit_offset",
      wv("""
        from orders
        select o_orderkey, o_totalprice
        order by o_orderkey
        limit 20
        offset 10
      """),
      Some("""
        SELECT o_orderkey, o_totalprice FROM orders
        ORDER BY o_orderkey LIMIT 20 OFFSET 10
      """)
    ),
    (
      "q_top_k", // order by … limit k → TakeOrderedAndProject
      wv("""
        from orders
        select o_orderkey, o_totalprice
        order by o_totalprice desc, o_orderkey
        limit 15
      """),
      Some("""
        SELECT o_orderkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 15
      """)
    ),
    (
      "q_values_inline",
      wv("""
        from [
          [1, 'widget', 10.5],
          [2, 'gadget', 20.0],
          [3, 'gizmo', 5.25]
        ] as products(id, name, price)
        where price > 6.0
        select id, name, price
        order by id
      """),
      Some("""
        SELECT id, name, price
        FROM (VALUES (1, 'widget', 10.5), (2, 'gadget', 20.0), (3, 'gizmo', 5.25))
          AS products(id, name, price)
        WHERE price > 6.0
        ORDER BY id
      """)
    ),
    (
      "q_column_ops", // add / rename / exclude / shift (schema-aware ops)
      wv("""
        from region
        add name_len = r_name.length
        rename r_name as region_name
        shift name_len
        order by r_regionkey
      """),
      Some("""
        SELECT length(r_name)::INTEGER AS name_len, r_regionkey, r_name AS region_name
        FROM region ORDER BY r_regionkey
      """)
    ),

    (
      "q_column_transform", // transform (in-place column rewrite) + prepend
      wv("""
        from region
        transform r_name = r_name.lower
        prepend tag = 'r' + r_regionkey
        order by r_regionkey
      """),
      Some("""
        SELECT 'r' || r_regionkey AS tag, r_regionkey, lower(r_name) AS r_name
        FROM region ORDER BY r_regionkey
      """)
    ),
    (
      "q_select_as_alias", // select-as names the intermediate; from re-derives it
      wv("""
        from region
        where r_regionkey < 3
        select as small_regions
        from small_regions
        select r_regionkey, r_name
        order by r_regionkey
      """),
      Some("""
        SELECT r_regionkey, r_name FROM region WHERE r_regionkey < 3
        ORDER BY r_regionkey
      """)
    ),
    (
      "q_raw_json", // inline JSON rows (RawJSON relation)
      wv("""
        from json"[{\"id\": 1, \"name\": \"a\"}, {\"id\": 2, \"name\": \"b\"}]"
        order by id
      """),
      Some("""
        SELECT id::BIGINT AS id, name
        FROM (VALUES (1, 'a'), (2, 'b')) AS t(id, name) ORDER BY id
      """)
    ),
    (
      "q_at_time_zone", // AT TIME ZONE conversion over event timestamps
      wv("""
        from events
        select event_id, hr = (ts at time zone 'Asia/Tokyo').hour
        order by event_id
        limit 500
      """),
      Some("""
        SELECT event_id,
               CAST(extract(hour FROM timezone('Asia/Tokyo', ts::TIMESTAMPTZ)) AS INT) AS hr
        FROM events ORDER BY event_id LIMIT 500
      """)
    ),

    // =========================================================================
    // D. Joins (SURVEY §2.D)
    // =========================================================================
    (
      "q_join_inner",
      wv("""
        from orders
        join customer on orders.o_custkey = customer.c_custkey
        group by c_mktsegment
        agg n = _.count, revenue = o_totalprice.sum.round(2)
        order by c_mktsegment
      """),
      Some("""
        SELECT c_mktsegment, count(*) AS n, round(sum(o_totalprice), 2) AS revenue
        FROM orders JOIN customer ON orders.o_custkey = customer.c_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment
      """)
    ),
    (
      "q_join_multi", // 5-way star join, TPC-H Q5 shape
      wv("""
        from lineitem
        join orders on lineitem.l_orderkey = orders.o_orderkey
        join customer on orders.o_custkey = customer.c_custkey
        join nation on customer.c_nationkey = nation.n_nationkey
        join region on nation.n_regionkey = region.r_regionkey
        where o_orderstatus = 'F'
        group by r_name, n_name
        agg revenue = (l_extendedprice * (1 - l_discount)).sum.round(2)
        order by r_name, n_name
      """),
      Some("""
        SELECT r_name, n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders ON lineitem.l_orderkey = orders.o_orderkey
        JOIN customer ON orders.o_custkey = customer.c_custkey
        JOIN nation ON customer.c_nationkey = nation.n_nationkey
        JOIN region ON nation.n_regionkey = region.r_regionkey
        WHERE o_orderstatus = 'F'
        GROUP BY r_name, n_name ORDER BY r_name, n_name
      """)
    ),
    (
      "q_join_left",
      wv("""
        from nation
        left join customer on nation.n_nationkey = customer.c_nationkey
        group by n_name
        agg n_customers = c_custkey.count
        order by n_name
      """),
      Some("""
        SELECT n_name, count(c_custkey) AS n_customers
        FROM nation LEFT JOIN customer ON nation.n_nationkey = customer.c_nationkey
        GROUP BY n_name ORDER BY n_name
      """)
    ),
    (
      "q_join_implicit", // from a, b where … (implicit join)
      wv("""
        from supplier, nation
        where s_nationkey = n_nationkey
        group by n_name
        agg n_suppliers = _.count, total_acctbal = s_acctbal.sum.round(2)
        order by n_name
      """),
      Some("""
        SELECT n_name, count(*) AS n_suppliers, round(sum(s_acctbal), 2) AS total_acctbal
        FROM supplier, nation WHERE s_nationkey = n_nationkey
        GROUP BY n_name ORDER BY n_name
      """)
    ),
    (
      "q_join_semi", // in-subquery → left_semi
      wv("""
        from customer
        where c_custkey in {
          from orders
          where o_totalprice > 400000
          select o_custkey
        }
        select c_custkey, c_name
        order by c_custkey
      """),
      Some("""
        SELECT c_custkey, c_name FROM customer
        WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
        ORDER BY c_custkey
      """)
    ),
    (
      "q_join_anti", // not-in-subquery → left_anti
      wv("""
        from customer
        where c_custkey not in {
          from orders
          select o_custkey
        }
        select c_custkey, c_name
        order by c_custkey
      """),
      Some("""
        SELECT c_custkey, c_name FROM customer
        WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        ORDER BY c_custkey
      """)
    ),
    (
      "q_join_semi_correlated", // correlated exists; Catalyst plans a semi join
      wv("""
        from customer
        where exists {
          from orders
          where orders.o_custkey = customer.c_custkey and o_totalprice > 400000
        }
        select c_custkey, c_mktsegment
        order by c_custkey
      """),
      Some("""
        SELECT c_custkey, c_mktsegment FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE orders.o_custkey = customer.c_custkey
                        AND o_totalprice > 400000)
        ORDER BY c_custkey
      """)
    ),
    (
      "q_join_cross",
      wv("""
        from region
        cross join nation
        count
      """),
      Some("SELECT count(*) AS count FROM region CROSS JOIN nation")
    ),
    (
      "q_join_using",
      wv("""
        from {
          from nation
          rename n_regionkey as r_regionkey
        } as n
        join region using r_regionkey
        select n_nationkey, n_name, r_name
        order by n_nationkey
      """),
      Some("""
        SELECT n_nationkey, n_name, r_name
        FROM (SELECT n_nationkey, n_name, n_regionkey AS r_regionkey FROM nation) n
        JOIN region USING (r_regionkey)
        ORDER BY n_nationkey
      """)
    ),
    (
      "q_asof_join", // purchases matched to latest prior view per user
      wv("""
        from {
          from events
          where event_type = 'purchase'
          select event_id, user_id, ts
        } as p
        asof left join {
          from events
          where event_type = 'view'
          select user_id, view_ts = ts, view_value = value
        } as v
        on v.user_id = p.user_id and v.view_ts <= p.ts
        select
          event_id,
          user_id,
          ts_ms = unix_micros(ts) // 1000,
          view_ts_ms = unix_micros(view_ts) // 1000,
          view_value = view_value.round(4)
        order by event_id
      """),
      Some("""
        SELECT p.event_id AS event_id, p.user_id AS user_id,
               epoch_ms(p.ts)::BIGINT AS ts_ms,
               epoch_ms(v.view_ts)::BIGINT AS view_ts_ms,
               round(v.view_value, 4) AS view_value
        FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
        ASOF LEFT JOIN
             (SELECT user_id, ts AS view_ts, value AS view_value
              FROM events WHERE event_type = 'view') v
        ON v.user_id = p.user_id AND v.view_ts <= p.ts
        ORDER BY event_id
      """)
    ),
    (
      "q_asof_join_inner", // inner asof: purchases with no prior view dropped
      wv("""
        from {
          from events
          where event_type = 'purchase'
          select event_id, user_id, ts
        } as p
        asof join {
          from events
          where event_type = 'view'
          select user_id, view_ts = ts, view_value = value
        } as v
        on v.user_id = p.user_id and v.view_ts <= p.ts
        select
          event_id,
          user_id,
          view_ts_ms = unix_micros(view_ts) // 1000,
          view_value = view_value.round(4)
        order by event_id
      """),
      Some("""
        SELECT p.event_id AS event_id, p.user_id AS user_id,
               epoch_ms(v.view_ts)::BIGINT AS view_ts_ms,
               round(v.view_value, 4) AS view_value
        FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
        ASOF JOIN
             (SELECT user_id, ts AS view_ts, value AS view_value
              FROM events WHERE event_type = 'view') v
        ON v.user_id = p.user_id AND v.view_ts <= p.ts
        ORDER BY event_id
      """)
    ),

    // =========================================================================
    // E. Aggregation extras (SURVEY §2.E)
    // =========================================================================
    (
      "q_count_distinct",
      wv("""
        from orders
        group by o_orderstatus
        agg n_customers = o_custkey.count_distinct, n = _.count
        order by o_orderstatus
      """),
      Some("""
        SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_customers, count(*) AS n
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
      """)
    ),
    (
      "q_minmax_by",
      wv("""
        from orders
        group by o_orderstatus
        agg
          biggest_order = o_orderkey.max_by(o_totalprice),
          smallest_order = o_orderkey.min_by(o_totalprice),
          max_price = o_totalprice.max.round(2),
          min_price = o_totalprice.min.round(2)
        order by o_orderstatus
      """),
      Some("""
        SELECT o_orderstatus,
          max_by(o_orderkey, o_totalprice) AS biggest_order,
          min_by(o_orderkey, o_totalprice) AS smallest_order,
          round(max(o_totalprice), 2) AS max_price,
          round(min(o_totalprice), 2) AS min_price
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
      """)
    ),
    (
      "q_stats_agg", // median / stddev / variance
      wv("""
        from orders
        group by o_orderstatus
        agg
          med = o_totalprice.median.round(4),
          sd = o_totalprice.stddev.round(4),
          avg_price = o_totalprice.avg.round(4)
        order by o_orderstatus
      """),
      Some("""
        SELECT o_orderstatus,
          round(median(o_totalprice), 4) AS med,
          round(stddev_samp(o_totalprice), 4) AS sd,
          round(avg(o_totalprice), 4) AS avg_price
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
      """)
    ),
    (
      "q_string_agg",
      wv("""
        from nation
        join region on nation.n_regionkey = region.r_regionkey
        group by r_name
        agg nations = n_name.string_agg(',')
        order by r_name
      """),
      Some("""
        SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
        FROM nation JOIN region ON nation.n_regionkey = region.r_regionkey
        GROUP BY r_name ORDER BY r_name
      """)
    ),
    (
      "q_agg_filter_clause", // FILTER (WHERE …) on aggregates
      wv("""
        from lineitem
        group by l_returnflag
        agg
          n = _.count,
          n_big = count(l_orderkey) filter (where l_quantity > 40),
          sum_small = sum(l_extendedprice) filter (where l_quantity <= 10)
        select l_returnflag, n, n_big, sum_small = sum_small.round(2)
        order by l_returnflag
      """),
      Some("""
        SELECT l_returnflag, count(*) AS n,
          count(l_orderkey) FILTER (WHERE l_quantity > 40) AS n_big,
          round(sum(l_extendedprice) FILTER (WHERE l_quantity <= 10), 2) AS sum_small
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
      """)
    ),
    (
      "q_rollup",
      wv("""
        from lineitem
        group by rollup l_returnflag, l_linestatus
        agg n = _.count, sum_qty = l_quantity.sum.round(2)
        order by l_returnflag nulls first, l_linestatus nulls first
      """),
      Some("""
        SELECT l_returnflag, l_linestatus, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
      """)
    ),
    (
      "q_cube",
      wv("""
        from orders
        group by cube o_orderstatus, o_orderpriority
        agg n = _.count
        order by o_orderstatus nulls first, o_orderpriority nulls first
      """),
      Some("""
        SELECT o_orderstatus, o_orderpriority, count(*) AS n
        FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
      """)
    ),
    (
      "q_grouping_sets",
      wv("""
        from orders
        group by grouping sets ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        agg n = _.count, total = o_totalprice.sum.round(2)
        order by o_orderstatus nulls first, o_orderpriority nulls first
      """),
      Some("""
        SELECT o_orderstatus, o_orderpriority, count(*) AS n,
               round(sum(o_totalprice), 2) AS total
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
      """)
    ),
    (
      "q_pivot",
      wv("""
        from {
          from orders
          select o_orderpriority, o_orderstatus
        } as t
        pivot on o_orderstatus in ('O', 'F', 'P')
        order by o_orderpriority
      """),
      Some("""
        SELECT o_orderpriority, "O", "F", "P"
        FROM (
          PIVOT (SELECT o_orderpriority, o_orderstatus FROM orders)
          ON o_orderstatus IN ('O', 'F', 'P') USING count(*)
        )
        ORDER BY o_orderpriority
      """)
    ),
    (
      "q_unpivot",
      wv("""
        from {
          from region
          select r_regionkey,
            key_plus = r_regionkey + 100,
            key_times = r_regionkey * 10
        } as t
        unpivot metric_value for metric in (key_plus, key_times)
        order by r_regionkey, metric
      """),
      Some("""
        SELECT r_regionkey, metric, metric_value
        FROM (SELECT r_regionkey, r_regionkey + 100 AS key_plus, r_regionkey * 10 AS key_times
              FROM region)
        UNPIVOT (metric_value FOR metric IN (key_plus, key_times))
        ORDER BY r_regionkey, metric
      """)
    ),

    // =========================================================================
    // F. Window functions (SURVEY §2.F)
    // =========================================================================
    (
      "q_window_rank",
      wv("""
        from orders
        where o_totalprice > 450000
        select o_custkey, o_orderkey, o_totalprice,
          rnk = rank() over (partition by o_orderstatus order by o_totalprice desc, o_orderkey),
          rn = row_number() over (partition by o_orderstatus order by o_totalprice desc, o_orderkey)
        order by o_orderkey
      """),
      Some("""
        SELECT o_custkey, o_orderkey, o_totalprice,
          rank() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey) AS rnk,
          row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders WHERE o_totalprice > 450000
        ORDER BY o_orderkey
      """)
    ),
    (
      "q_window_running_frame", // rows[,0] compact frame syntax
      wv("""
        from {
          from events
          where event_type = 'purchase' and user_id < 100
          select event_id, user_id, value
        } as t
        select event_id, user_id,
          running_total = sum(value) over (partition by user_id order by event_id rows[,0]).round(4),
          cnt_last3 = count(event_id) over (partition by user_id order by event_id rows[-2,0])
        order by user_id, event_id
      """),
      Some("""
        SELECT event_id, user_id,
          round(sum(value) OVER (PARTITION BY user_id ORDER BY event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_total,
          count(event_id) OVER (PARTITION BY user_id ORDER BY event_id
            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS cnt_last3
        FROM events WHERE event_type = 'purchase' AND user_id < 100
        ORDER BY user_id, event_id
      """)
    ),
    (
      "q_window_lag_lead",
      wv("""
        from {
          from orders
          where o_custkey < 50
          select o_orderkey, o_custkey, o_totalprice
        } as t
        select o_orderkey, o_custkey,
          prev_price = lag(o_totalprice) over (partition by o_custkey order by o_orderkey).round(2),
          next_price = lead(o_totalprice) over (partition by o_custkey order by o_orderkey).round(2)
        order by o_custkey, o_orderkey
      """),
      Some("""
        SELECT o_orderkey, o_custkey,
          round(lag(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey), 2) AS prev_price,
          round(lead(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey), 2) AS next_price
        FROM orders WHERE o_custkey < 50
        ORDER BY o_custkey, o_orderkey
      """)
    ),
    (
      "q_window_ntile",
      wv("""
        from customer
        select c_custkey,
          quartile = ntile(4) over (order by c_acctbal, c_custkey)
        order by c_custkey
      """),
      Some("""
        SELECT c_custkey, ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS quartile
        FROM customer ORDER BY c_custkey
      """)
    ),

    // =========================================================================
    // G. Set operations (SURVEY §2.G)
    // =========================================================================
    (
      "q_union_distinct",
      wv("""
        from customer
        select nationkey = c_nationkey
        union {
          from supplier
          select nationkey = s_nationkey
        }
        order by nationkey
      """),
      Some("""
        SELECT c_nationkey AS nationkey FROM customer
        UNION SELECT s_nationkey FROM supplier
        ORDER BY nationkey
      """)
    ),
    (
      "q_concat_union_all",
      wv("""
        from {
          from orders
          where o_orderstatus = 'F'
          select o_orderkey
        }
        concat {
          from orders
          where o_orderstatus = 'O'
          select o_orderkey
        }
        count
      """),
      Some("""
        SELECT count(*) AS count FROM (
          SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F'
          UNION ALL SELECT o_orderkey FROM orders WHERE o_orderstatus = 'O')
      """)
    ),
    (
      "q_except",
      wv("""
        from nation
        select n_nationkey
        except {
          from customer
          select nationkey = c_nationkey
        }
        order by n_nationkey
      """),
      Some("""
        SELECT n_nationkey FROM nation
        EXCEPT SELECT c_nationkey FROM customer
        ORDER BY n_nationkey
      """)
    ),
    (
      "q_intersect",
      wv("""
        from customer
        select nationkey = c_nationkey
        intersect {
          from supplier
          select nationkey = s_nationkey
        }
        order by nationkey
      """),
      Some("""
        SELECT c_nationkey AS nationkey FROM customer
        INTERSECT SELECT s_nationkey FROM supplier
        ORDER BY nationkey
      """)
    ),

    // =========================================================================
    // H. Unnest / lateral (SURVEY §2.H)
    // =========================================================================
    (
      "q_unnest_lateral",
      wv("""
        from {
          from documents
          where doc_id < 20
          select doc_id, text
        } as d
        cross join unnest(text.split(' ')) as w(word)
        where word != ''
        group by doc_id
        agg n_words = _.count, n_distinct_words = word.count_distinct
        order by doc_id
      """),
      Some("""
        SELECT doc_id, count(*) AS n_words, count(DISTINCT word) AS n_distinct_words
        FROM (
          SELECT doc_id, unnest(string_split(text, ' ')) AS word
          FROM documents WHERE doc_id < 20)
        WHERE word != ''
        GROUP BY doc_id ORDER BY doc_id
      """)
    ),
    (
      "q_unnest_values",
      wv("""
        from unnest([10, 20, 30, 40]) as t(n)
        where n > 15
        select n, doubled = n * 2
        order by n
      """),
      Some("""
        SELECT n, n * 2 AS doubled
        FROM (SELECT unnest([10, 20, 30, 40]) AS n)
        WHERE n > 15 ORDER BY n
      """)
    ),

    // =========================================================================
    // I. Scalar expression surface (SURVEY §2.I)
    // =========================================================================
    (
      "q_case_cast_if",
      wv("""
        from orders
        select o_orderkey,
          status_word = case o_orderstatus
            when 'O' then 'open'
            when 'F' then 'finished'
            else 'partial'
          end,
          is_big = if(o_totalprice > 200000, 1, 0),
          price_int = o_totalprice.floor::long,
          order_year = extract(year from o_orderdate)::long
        order by o_orderkey
        limit 500
      """),
      Some("""
        SELECT o_orderkey,
          CASE o_orderstatus WHEN 'O' THEN 'open' WHEN 'F' THEN 'finished'
            ELSE 'partial' END AS status_word,
          CASE WHEN o_totalprice > 200000 THEN 1 ELSE 0 END AS is_big,
          CAST(floor(o_totalprice) AS BIGINT) AS price_int,
          CAST(extract(year FROM o_orderdate) AS BIGINT) AS order_year
        FROM orders ORDER BY o_orderkey LIMIT 500
      """)
    ),
    (
      "q_string_funcs",
      wv("""
        from customer
        where c_custkey <= 200
        select c_custkey,
          up = c_name.upper,
          low = c_name.lower,
          name_len = c_name.length::long,
          piece = c_name.substring(1, 8),
          replaced = c_name.replace('Customer', 'C'),
          combined = c_mktsegment + '-' + c_custkey.to_string,
          seg3 = c_mktsegment.substring(1, 3).lower
        order by c_custkey
      """),
      Some("""
        SELECT c_custkey,
          upper(c_name) AS up,
          lower(c_name) AS low,
          length(c_name)::BIGINT AS name_len,
          substring(c_name, 1, 8) AS piece,
          replace(c_name, 'Customer', 'C') AS replaced,
          c_mktsegment || '-' || CAST(c_custkey AS VARCHAR) AS combined,
          lower(substring(c_mktsegment, 1, 3)) AS seg3
        FROM customer WHERE c_custkey <= 200 ORDER BY c_custkey
      """)
    ),
    (
      "q_scalar_subquery",
      wv("""
        from customer
        where c_custkey > (from customer agg m = c_custkey.max) - 50
        select c_custkey, c_name
        order by c_custkey
      """),
      Some("""
        SELECT c_custkey, c_name FROM customer
        WHERE c_custkey > (SELECT max(c_custkey) FROM customer) - 50
        ORDER BY c_custkey
      """)
    ),
    (
      "q_date_ops",
      wv("""
        from orders
        group by order_month = o_orderdate.date_trunc('month')
        agg n = _.count, revenue = o_totalprice.sum.round(2)
        select month_str = order_month.date_format('yyyy-MM'), n, revenue
        order by month_str
      """),
      Some("""
        SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month_str,
               count(*) AS n, round(sum(o_totalprice), 2) AS revenue
        FROM orders GROUP BY 1 ORDER BY month_str
      """)
    ),

    (
      "q_math_funcs",
      wv("""
        from lineitem
        where l_orderkey <= 100
        select l_orderkey, l_linenumber,
          qty_sqrt = l_quantity.sqrt.round(6),
          price_ln = l_extendedprice.ln.round(6),
          price_log10 = l_extendedprice.log10.round(6),
          disc_abs = (l_discount - 0.05).abs.round(4),
          tax_pow = l_tax.pow(2).round(6),
          qty_sign = (l_quantity - 25).sign::long,
          price_ceil = l_extendedprice.ceil::long,
          price_floor = l_extendedprice.floor::long
        order by l_orderkey, l_linenumber
      """),
      Some("""
        SELECT l_orderkey, l_linenumber,
          round(sqrt(l_quantity), 6) AS qty_sqrt,
          round(ln(l_extendedprice), 6) AS price_ln,
          round(log10(l_extendedprice), 6) AS price_log10,
          round(abs(l_discount - 0.05), 4) AS disc_abs,
          round(pow(l_tax, 2), 6) AS tax_pow,
          CAST(sign(l_quantity - 25) AS BIGINT) AS qty_sign,
          CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
          CAST(floor(l_extendedprice) AS BIGINT) AS price_floor
        FROM lineitem WHERE l_orderkey <= 100 ORDER BY l_orderkey, l_linenumber
      """)
    ),
    (
      "q_regexp_funcs",
      wv("""
        from customer
        where c_custkey <= 300
        select c_custkey,
          cust_num = c_name.regexp_extract('([0-9]+)', 1),
          name_masked = c_name.regexp_replace('[0-9]', 'x'),
          has_digits = c_name.regexp_like('[0-9]{9}'),
          seg_vowelless = c_mktsegment.regexp_replace('[AEIOU]', '')
        order by c_custkey
      """),
      Some("""
        SELECT c_custkey,
          regexp_extract(c_name, '([0-9]+)', 1) AS cust_num,
          regexp_replace(c_name, '[0-9]', 'x', 'g') AS name_masked,
          regexp_matches(c_name, '[0-9]{9}') AS has_digits,
          regexp_replace(c_mktsegment, '[AEIOU]', '', 'g') AS seg_vowelless
        FROM customer WHERE c_custkey <= 300 ORDER BY c_custkey
      """)
    ),
    (
      "q_array_funcs",
      wv("""
        from customer
        where c_custkey <= 300
        select c_custkey,
          part_count = c_name.split('0').size::long,
          joined = c_name.split('#').array_sort.array_join('-'),
          has_piece = c_name.split('#').array_contains('Customer'),
          distinct_chars = c_mktsegment.split('').array_distinct.array_sort.array_join('')
        order by c_custkey
      """),
      Some("""
        SELECT c_custkey,
          CAST(len(string_split(c_name, '0')) AS BIGINT) AS part_count,
          array_to_string(list_sort(string_split(c_name, '#')), '-') AS joined,
          list_contains(string_split(c_name, '#'), 'Customer') AS has_piece,
          array_to_string(list_sort(list_distinct(string_split(c_mktsegment, ''))), '')
            AS distinct_chars
        FROM customer WHERE c_custkey <= 300 ORDER BY c_custkey
      """)
    ),
    (
      "q_null_funcs",
      wv("""
        from orders
        where o_orderkey <= 400
        select o_orderkey,
          status_or = o_orderstatus.null_if('O').or_else('open'),
          custkey_flag = o_custkey.null_if(1).is_not_null,
          hi = greatest(o_totalprice, 100000.0).round(2),
          lo = least(o_totalprice, 100000.0).round(2),
          pick = coalesce(nullif(o_orderpriority, '1-URGENT'), 'urgent!')
        order by o_orderkey
      """),
      Some("""
        SELECT o_orderkey,
          coalesce(nullif(o_orderstatus, 'O'), 'open') AS status_or,
          (nullif(o_custkey, 1) IS NOT NULL) AS custkey_flag,
          round(greatest(o_totalprice, 100000.0), 2) AS hi,
          round(least(o_totalprice, 100000.0), 2) AS lo,
          coalesce(nullif(o_orderpriority, '1-URGENT'), 'urgent!') AS pick
        FROM orders WHERE o_orderkey <= 400 ORDER BY o_orderkey
      """)
    ),
    (
      "q_interval_ops",
      wv("""
        from orders
        where o_orderkey <= 500
        select o_orderkey,
          plus_month = (o_orderdate + interval 1 month)::date::string,
          minus_week = (o_orderdate - interval 7 day)::date::string,
          month_end = o_orderdate.last_day::string,
          days_to_98 = datediff('1998-01-01'::date, o_orderdate)::long
        order by o_orderkey
      """),
      Some("""
        SELECT o_orderkey,
          ((o_orderdate + INTERVAL 1 MONTH)::date)::varchar AS plus_month,
          ((o_orderdate - INTERVAL 7 DAY)::date)::varchar AS minus_week,
          (last_day(o_orderdate))::varchar AS month_end,
          date_diff('day', o_orderdate, DATE '1998-01-01')::bigint AS days_to_98
        FROM orders WHERE o_orderkey <= 500 ORDER BY o_orderkey
      """)
    ),
    (
      "q_struct_array_lit",
      wv("""
        from region
        select r_regionkey,
          field_val = {key: r_regionkey, name: r_name}['name'],
          arr_second = [r_name, 'zz'][2],
          arr_first_char = [r_name.substring(1, 1), 'q'][1]
        order by r_regionkey
      """),
      Some("""
        SELECT r_regionkey,
          {'key': r_regionkey, 'name': r_name}['name'] AS field_val,
          [r_name, 'zz'][2] AS arr_second,
          [substring(r_name, 1, 1), 'q'][1] AS arr_first_char
        FROM region ORDER BY r_regionkey
      """)
    ),
    (
      "q_json_funcs",
      wv("""
        from events
        where event_id <= 2000
        select event_type, k = props.json_extract_string('$.k')::long
        group by event_type
        agg n = _.count, k_sum = k.sum, k_max = k.max
        order by event_type
      """),
      Some("""
        SELECT event_type, count(*) AS n,
               CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
               max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max
        FROM events WHERE event_id <= 2000 GROUP BY event_type ORDER BY event_type
      """)
    ),
    (
      "q_hash_funcs",
      wv("""
        from region
        select r_regionkey,
          name_md5 = r_name.md5,
          name_sha256 = r_name.sha256
        order by r_regionkey
      """),
      Some("""
        SELECT r_regionkey, md5(r_name) AS name_md5, sha256(r_name) AS name_sha256
        FROM region ORDER BY r_regionkey
      """)
    ),

    // =========================================================================
    // J/K. Models (named parameterized queries), events windows
    // =========================================================================
    (
      "q_model_reuse",
      wv("""
        model big_orders = {
          from orders
          where o_totalprice > 300000
        }

        from big_orders
        join customer on big_orders.o_custkey = customer.c_custkey
        group by c_mktsegment
        agg n = _.count
        order by c_mktsegment
      """),
      Some("""
        WITH big_orders AS (SELECT * FROM orders WHERE o_totalprice > 300000)
        SELECT c_mktsegment, count(*) AS n
        FROM big_orders JOIN customer ON big_orders.o_custkey = customer.c_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment
      """)
    ),
    (
      "q_model_params", // parameterized model, expanded at lowering
      wv("""
        model orders_by(status, min_total = 0) = {
          from orders
          where o_orderstatus = status and o_totalprice >= min_total
        }

        from orders_by('F', 250000)
        group by o_orderpriority
        agg n = _.count, total = o_totalprice.sum.round(2)
        order by o_orderpriority
      """),
      Some("""
        WITH orders_by AS (
          SELECT * FROM orders WHERE o_orderstatus = 'F' AND o_totalprice >= 250000)
        SELECT o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS total
        FROM orders_by GROUP BY o_orderpriority ORDER BY o_orderpriority
      """)
    ),
    (
      "q_user_def", // scalar user defs inlined to column expressions
      wv("""
        def disc_price(p, d) = p * (1 - d)
        def charged(p, d, t) = disc_price(p, d) * (1 + t)
        from lineitem
        where l_linenumber = 1
        select
          l_orderkey,
          dp = disc_price(l_extendedprice, l_discount).round(4),
          total = charged(l_extendedprice, l_discount, l_tax).round(6)
        order by l_orderkey
      """),
      Some("""
        SELECT l_orderkey,
          round(l_extendedprice * (1 - l_discount), 4) AS dp,
          round(l_extendedprice * (1 - l_discount) * (1 + l_tax), 6) AS total
        FROM lineitem WHERE l_linenumber = 1 ORDER BY l_orderkey
      """)
    ),
    (
      "q_partial_query", // partial-query defs applied in pipe position
      wv("""
        def fulfilled = where o_orderstatus = 'F'
        def by_priority = group by o_orderpriority
          agg n = _.count, avg_total = o_totalprice.avg.round(4)
        from orders
        fulfilled
        by_priority
        order by o_orderpriority
      """),
      Some("""
        SELECT o_orderpriority, count(*) AS n, round(avg(o_totalprice), 4) AS avg_total
        FROM orders WHERE o_orderstatus = 'F'
        GROUP BY o_orderpriority ORDER BY o_orderpriority
      """)
    ),
    (
      "q_val_reuse", // val binds once, then folds into expressions by name
      wv("""
        val cutoff = 45
        val tag = 'deep'
        from lineitem
        where l_quantity > cutoff
        group by l_returnflag
        agg n = _.count, max_qty = l_quantity.max
        select l_returnflag, n, max_qty, label = s"${tag}-cut${cutoff}"
        order by l_returnflag
      """),
      Some("""
        SELECT l_returnflag, count(*) AS n, max(l_quantity) AS max_qty,
               'deep-cut45' AS label
        FROM lineitem WHERE l_quantity > 45
        GROUP BY l_returnflag ORDER BY l_returnflag
      """)
    ),
    (
      "q_test_assertion", // in-query test gates ride the pipe, pass rows through
      wv("""
        from region
        select r_regionkey, r_name
        test _.size should be 5
        test _.columns should be ['r_regionkey', 'r_name']
        order by r_regionkey
      """),
      Some("""
        SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey
      """)
    ),
    (
      "q_select_no_from", // from-less select lowers over the empty relation
      wv("""
        select one = 1, tag = 'x', total = 2 + 3
      """),
      Some("""
        SELECT CAST(1 AS BIGINT) AS one, 'x' AS tag, CAST(5 AS BIGINT) AS total
      """)
    ),
    (
      "q_flow_summary", // healthy flow: deterministic pipeable summary relation
      wv("""
        flow SummaryDemo = {
          stage src = from nation | where n_regionkey = 1
          stage nums = from src | group by n_regionkey agg n = _.count
        }
        run flow SummaryDemo
        select stage, state, attempts
        order by stage
      """),
      Some("""
        SELECT * FROM (VALUES
          ('nums', 'success', CAST(1 AS INT)),
          ('src', 'success', CAST(1 AS INT))) AS t(stage, state, attempts)
        ORDER BY stage
      """)
    ),
    (
      "q_debug_branch", // debug side branch runs for real; main pipe unaffected
      wv("""
        from nation
        debug {
          group by n_regionkey
          agg n = _.count
          test _.size should be 5
        }
        where n_regionkey = 1
        select n_nationkey, n_name
        order by n_nationkey
      """),
      Some("""
        SELECT n_nationkey, n_name FROM nation
        WHERE n_regionkey = 1 ORDER BY n_nationkey
      """)
    ),
    (
      "q_type_member_def", // schema-bound type with a member def as row predicate
      wv("""
        type ev_t = {
          event_id: long
          ts: timestamp
          user_id: long
          event_type: string
          value: double
          props: string
          def is_big: boolean = value > 10.0
        }
        model big_events: ev_t = { from events }
        from big_events
        where _.is_big
        group by event_type
        agg n = _.count, avg_val = value.avg.round(4)
        order by event_type
      """),
      Some("""
        SELECT event_type, count(*) AS n, round(avg(value), 4) AS avg_val
        FROM events WHERE value > 10.0
        GROUP BY event_type ORDER BY event_type
      """)
    ),
    (
      "q_events_tumbling_window", // streaming-shaped: tumbling 1h buckets
      wv("""
        from events
        group by bucket_ms = unix_micros(ts.date_trunc('hour')) // 1000, event_type
        agg n = _.count, total_value = value.sum.round(4)
        order by bucket_ms, event_type
      """),
      Some("""
        SELECT epoch_ms(date_trunc('hour', ts))::BIGINT AS bucket_ms, event_type,
               count(*) AS n, round(sum(value), 4) AS total_value
        FROM events GROUP BY 1, 2 ORDER BY bucket_ms, event_type
      """)
    ),
    (
      // language-level incrementalization: group-by over a windowed
      // subscription groups on the window too — the batch full refresh
      // recomputes the windowed rows the streaming plan appends
      "q_subscribe_windowed_agg",
      wv("""
        from events.subscribe(watermark_column: 'ts', window_size: '1h')
        group by event_type
        agg n = _.count, total_value = value.sum.round(4)
        order by window_start_ms, event_type
      """),
      Some("""
        WITH e AS (SELECT event_type, value, epoch_ms(ts)::BIGINT AS ts_ms FROM events)
        SELECT event_type,
               (ts_ms // 3600000) * 3600000 AS window_start_ms,
               (ts_ms // 3600000) * 3600000 + 3600000 AS window_end_ms,
               count(*) AS n, round(sum(value), 4) AS total_value
        FROM e GROUP BY 1, 2, 3
        ORDER BY window_start_ms, event_type
      """)
    ),
    (
      // hopping windows through the language: the group-by groups on
      // window(ts, 1h, 30m), each event landing in two windows
      "q_subscribe_hopping_agg",
      wv("""
        from events.subscribe(watermark_column: 'ts', window_size: '1h', window_slide: '30m')
        group by event_type
        agg n = _.count
        order by window_start_ms, event_type
      """),
      Some("""
        WITH e AS (SELECT event_type, epoch_ms(ts)::BIGINT AS ts_ms FROM events),
        w AS (
          SELECT event_type, gs.ws
          FROM e, LATERAL (SELECT unnest(generate_series(
              (e.ts_ms // 1800000) * 1800000 - 1800000,
              (e.ts_ms // 1800000) * 1800000,
              1800000)) AS ws) gs)
        SELECT event_type, ws AS window_start_ms, ws + 3600000 AS window_end_ms,
               count(*) AS n
        FROM w GROUP BY event_type, ws
        ORDER BY window_start_ms, event_type
      """)
    ),
    (
      "q_subscribe_batch_equiv", // subscribe's shared tumbling builder, batch mode
      (spark, dir) => {
        val ev = Tables.read(spark, dir, "events")
        graft.streaming.Subscribe.tumbling(
          ev, "ts", "1 hour", Seq("event_type"),
          Seq(F.count(F.lit(1)).as("n"), F.round(F.sum("value"), 4).as("total_value")))
          .orderBy("window_start_ms", "event_type")
      },
      Some("""
        SELECT event_type, count(*) AS n, round(sum(value), 4) AS total_value,
               epoch_ms(date_trunc('hour', ts))::BIGINT AS window_start_ms,
               epoch_ms(date_trunc('hour', ts) + INTERVAL 1 HOUR)::BIGINT AS window_end_ms
        FROM events GROUP BY event_type, date_trunc('hour', ts)
        ORDER BY window_start_ms, event_type
      """)
    ),
    (
      // Streaming parity for the STATELESS SCORER family (r16 verdict #6):
      // the documents corpus is re-read as a genuine Structured Streaming
      // file source and scored micro-batch by micro-batch through
      // Subscribe.scoredAppend — the scorer (CorpusStats.unigramNllAgainst)
      // runs against a unigram model fit ONCE on the static corpus, so the
      // union of the per-batch outputs must equal the one-shot batch run.
      // The oracle is therefore q_perplexity_score's batch SQL verbatim:
      // micro-batching must be invisible in the rows.
      "q_subscribe_scored",
      (spark, dir) => {
        val docs = Tables.read(spark, dir, "documents")
        // cache the ONCE-fit model: every micro-batch joins against it, and
        // without the cache each batch would re-run the corpus fit (at
        // 100 TB the model would be CTAS'd; CacheManager dedups by plan,
        // so repeated invocations share one bounded entry per dir)
        val model = graft.operators.CorpusStats.unigramModel(docs, "text").cache()
        // the testdata table is a single parquet FILE; the streaming file
        // source wants a directory of files — stage the corpus once per
        // (JVM, dir) as a 4-file directory so maxFilesPerTrigger=1 yields
        // genuine multiple micro-batches
        val staged = stagedDocsDir(spark, dir)
        val out = java.nio.file.Files.createTempDirectory("graft_sub_scored_out").toString
        val ck = java.nio.file.Files.createTempDirectory("graft_sub_scored_ck").toString
        val stream = spark.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(staged)
        graft.streaming.Subscribe.scoredAppend(stream, out, ck,
          batch => graft.operators.CorpusStats.unigramNllAgainst(
            batch, "doc_id", "text", model))
          .awaitTermination()
        spark.read.parquet(out)
          .select("doc_id", "n_tokens", "avg_nll")
          .orderBy("doc_id")
      },
      Some("""
        WITH tok AS (
          SELECT doc_id, unnest(list_filter(
            string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) AS t
          FROM documents
        ),
        model AS (SELECT t, count(*)::DOUBLE AS c FROM tok GROUP BY t),
        tot AS (SELECT coalesce(sum(c), 0) AS n FROM model),
        per AS (
          SELECT doc_id, count(*)::BIGINT AS n_tokens, sum(ln(c)) AS slc
          FROM tok JOIN model USING (t)
          GROUP BY doc_id
        )
        SELECT d.doc_id,
          coalesce(p.n_tokens, 0)::BIGINT AS n_tokens,
          round(CASE WHEN p.n_tokens > 0
                THEN ln((SELECT n FROM tot)) - p.slc / p.n_tokens + 5e-9 END, 4) AS avg_nll
        FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id
        ORDER BY d.doc_id
      """)
    ),
    (
      // Streaming EXACT incremental dedup-against (VERDICT r17 Next #5 —
      // the round's two stars composed): the corpus-membership bloom is
      // built ONCE over the static corpus three-quarters (doc_id % 4 != 0),
      // then the WHOLE documents table streams through a genuine
      // readStream (4-file staged dir, maxFilesPerTrigger=1) and each
      // micro-batch probes that same bloom + exact broadcast recheck via
      // Subscribe.dedupAgainstAppend. A row's (is_dup, dup_of) depends
      // only on the static corpus, so micro-batching must be invisible:
      // the oracle is the one-shot plain SQL fingerprint join.
      "q_subscribe_dedup_against",
      (spark, dir) => {
        val docs = Tables.read(spark, dir, "documents")
        val corpus = docs.filter(F.col("doc_id") % 4 =!= 0).select("doc_id", "text")
        val staged = stagedDocsDir(spark, dir)
        val out = java.nio.file.Files.createTempDirectory("graft_sub_dedup_out").toString
        val ck = java.nio.file.Files.createTempDirectory("graft_sub_dedup_ck").toString
        val stream = spark.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(staged)
          .select("doc_id", "text")
        graft.streaming.Subscribe.dedupAgainstAppend(
          stream, corpus, "doc_id", "text", out, ck)
          .awaitTermination()
        spark.read.parquet(out)
          .select("doc_id", "is_dup", "dup_of")
          .orderBy("doc_id")
      },
      Some("""
        WITH cfp AS (
          SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp, doc_id
          FROM documents WHERE doc_id % 4 != 0 AND text IS NOT NULL
        ),
        m AS (SELECT fp, min(doc_id) AS dup_of FROM cfp GROUP BY fp),
        bfp AS (
          SELECT doc_id,
            CASE WHEN text IS NULL THEN NULL
                 ELSE md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) END AS fp
          FROM documents
        )
        SELECT b.doc_id, (m.dup_of IS NOT NULL) AS is_dup, m.dup_of
        FROM bfp b LEFT JOIN m ON m.fp = b.fp
        ORDER BY b.doc_id
      """)
    ),
    (
      // Hivemall-style each_top_k as a language table function (the one
      // executable UDTF pattern in the reference's hive corpus): top-k rows
      // per group by score, rank() keeping boundary ties — same algebra as
      // the SQL shim's window-rank rewrite.
      "q_each_top_k",
      wv("""
        from each_top_k('events', 3, 'event_type', 'value')
        select event_id, event_type, value, rank
        order by event_type, rank, event_id
      """),
      Some("""
        SELECT event_id, event_type, value, rank FROM (
          SELECT event_id, event_type, value,
            rank() OVER (PARTITION BY event_type ORDER BY value DESC) AS rank
          FROM events) t
        WHERE rank <= 3
        ORDER BY event_type, rank, event_id
      """)
    ),
    (
      // CallTool (reference relation.scala:1182-1205): a registered
      // driver-side tool invoked as a 1-row relation, composable with
      // query operators — the last §2 operator surface
      "q_call_tool",
      wv("""
        call local.echo(message: 'hello from graft')
        select connector, tool, status, content
      """),
      Some("""
        SELECT 'local' AS connector, 'echo' AS tool,
               'success' AS status, 'hello from graft' AS content
      """)
    ),
    (
      // dedup-on-ingest through the language surface: batch full-refresh
      // semantics keep ONE row per dedup key (which row survives is
      // engine-arbitrary, so the oracle checks the deterministic part —
      // exactly one row per key).
      "q_subscribe_dedup_ingest",
      wv("""
        from events.subscribe(watermark_column: 'ts', dedup_keys: ['event_type'])
        group by event_type
        agg n = _.count
        order by event_type
      """),
      Some("""
        SELECT DISTINCT event_type, CAST(1 AS BIGINT) AS n
        FROM events ORDER BY event_type
      """)
    ),
    (
      // hopping windows: 1h windows sliding every 30min — each event lands
      // in exactly window/slide = 2 overlapping windows, epoch-aligned on
      // the slide in both engines
      "q_events_hopping_window",
      (spark, dir) => {
        val events = Tables.read(spark, dir, "events")
        graft.streaming.Subscribe.tumbling(
            events, "ts", "1 hour", Seq("event_type"),
            Seq(F.count(F.lit(1)).as("n")), slide = Some("30 minutes"))
          .select("event_type", "window_start_ms", "window_end_ms", "n")
          .orderBy("window_start_ms", "event_type")
      },
      Some("""
        WITH e AS (SELECT event_type, epoch_ms(ts)::BIGINT AS ts_ms FROM events),
        w AS (
          SELECT event_type, ts_ms, gs.ws
          FROM e, LATERAL (SELECT unnest(generate_series(
              (e.ts_ms // 1800000) * 1800000 - 1800000,
              (e.ts_ms // 1800000) * 1800000,
              1800000)) AS ws) gs)
        SELECT event_type, ws AS window_start_ms, ws + 3600000 AS window_end_ms,
               count(*)::BIGINT AS n
        FROM w GROUP BY event_type, ws
        ORDER BY window_start_ms, event_type
      """)
    ),
    (
      "q_events_sessionize", // gap-based sessionization via window + agg
      wv("""
        from events
        add prev_ms = unix_micros(lag(ts) over (partition by user_id order by ts, event_id)) // 1000
        add ts_ms = unix_micros(ts) // 1000
        add is_new = if(prev_ms is null or ts_ms - prev_ms > 1800000, 1, 0)
        group by user_id
        agg n_events = _.count, n_sessions = is_new.sum
        order by user_id
      """),
      Some("""
        WITH w AS (
          SELECT user_id, event_id,
                 epoch_ms(ts)::BIGINT AS ts_ms,
                 epoch_ms(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))::BIGINT AS prev_ms
          FROM events)
        SELECT user_id, count(*) AS n_events,
               sum(CASE WHEN prev_ms IS NULL OR ts_ms - prev_ms > 1800000 THEN 1 ELSE 0 END)::BIGINT AS n_sessions
        FROM w GROUP BY user_id ORDER BY user_id
      """)
    ),
    (
      // gap sessionization through the subscribe() language surface: one
      // row per session, a session_window group-by with n_events = count
      // (one shuffle); the same text lowers to the streaming plan
      // (SessionizeSpec equivalence)
      "q_events_session_rows",
      wv("""
        from events.subscribe(watermark_column: 'ts', session_gap: '30m', session_keys: ['user_id'])
        order by user_id, session_start_ms
      """),
      Some("""
        WITH w AS (
          SELECT user_id, epoch_ms(ts)::BIGINT AS ts_ms FROM events),
        l AS (
          SELECT user_id, ts_ms,
                 lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms) AS prev_ms
          FROM w),
        s AS (
          SELECT user_id, ts_ms,
                 sum(CASE WHEN prev_ms IS NULL OR ts_ms - prev_ms > 1800000 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts_ms ROWS UNBOUNDED PRECEDING) AS sid
          FROM l)
        SELECT user_id, min(ts_ms) AS session_start_ms, max(ts_ms) AS session_end_ms,
               count(*)::BIGINT AS n_events
        FROM s GROUP BY user_id, sid
        ORDER BY user_id, session_start_ms
      """)
    ),
    (
      // per-session aggregation of ARBITRARY event columns: `group by
      // <session_keys> agg …` over a sessionized subscription aggregates
      // the raw rows per session (the session_window key is grouped AFTER
      // the filter, so batch and stream sessionize the same rows — the
      // same lowering in both modes)
      "q_subscribe_session_agg",
      wv("""
        from events.subscribe(watermark_column: 'ts', session_gap: '6h', session_keys: ['user_id'])
        where value > 0
        group by user_id
        agg n = _.count, total = round(value.sum, 4)
        order by user_id, session_start_ms
      """),
      Some("""
        WITH f AS (
          SELECT user_id, epoch_ms(ts)::BIGINT AS ts_ms, value
          FROM events WHERE value > 0),
        l AS (
          SELECT *, lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms) AS prev_ms
          FROM f),
        s AS (
          SELECT *, sum(CASE WHEN prev_ms IS NULL OR ts_ms - prev_ms > 21600000 THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts_ms ROWS UNBOUNDED PRECEDING) AS sid
          FROM l)
        SELECT user_id, min(ts_ms) AS session_start_ms, max(ts_ms) AS session_end_ms,
               count(*)::BIGINT AS n, round(sum(value), 4) AS total
        FROM s GROUP BY user_id, sid
        ORDER BY user_id, session_start_ms
      """)
    ),
    // -------------------------------------------------------------------------
    // SQL front-end (the reference's .sql units; Spark SQL shares Catalyst
    // with the flow language, so both front-ends hit the same operators)
    // -------------------------------------------------------------------------
    sqlEntry(
      "q_sql_frontend", // TPC-H Q3 shape through the SQL front-end
      """
        SELECT l_orderkey,
               round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
               o_orderpriority
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING' AND o_orderstatus = 'O'
        GROUP BY l_orderkey, o_orderpriority
        HAVING sum(l_extendedprice * (1 - l_discount)) > 100000
        ORDER BY l_orderkey
      """),
    (
      // SQL→wvlet transpiler inside the correctness gate: the SQL text is
      // transpiled to wv (lang/SqlToWvlet, reference parity:
      // codegen/WvletGenerator.scala) and EXECUTED through the language
      // front-end; DuckDB runs the same SQL as the oracle. A transpiler
      // regression (wrong operator order, lost alias, broken predicate)
      // breaks the hash, not just an sbt spec.
      "q_sql_roundtrip", {
        val sql = """SELECT n_name,
                            count(*) AS n_customers,
                            round(avg(c_acctbal), 4) AS avg_bal
                     FROM customer
                     JOIN nation ON c_nationkey = n_nationkey
                     WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
                     GROUP BY n_name
                     HAVING count(*) > 5
                     ORDER BY n_name"""
        (spark, dir) => Graft.query(spark, graft.lang.SqlToWvlet.transpile(sql, spark),
          Tables.resolver(spark, dir), basePath = dir)
      },
      Some("""
        SELECT n_name,
               count(*) AS n_customers,
               round(avg(c_acctbal), 4) AS avg_bal
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
        GROUP BY n_name
        HAVING count(*) > 5
        ORDER BY n_name
      """)
    ),
    sqlEntry(
      "q_sql_recursive_cte", // WITH RECURSIVE through both engines
      """
        WITH RECURSIVE seq(n) AS (
          SELECT 1
          UNION ALL
          SELECT n + 1 FROM seq WHERE n < 7
        )
        SELECT s.n, count(*) AS cnt
        FROM seq s JOIN lineitem ON l_linenumber = s.n
        GROUP BY s.n ORDER BY s.n
      """),
    (
      "q_sql_ordered_array_agg", // ordered-aggregate syntax via the dialect
      // shim (array_agg(e ORDER BY k) → struct array_sort rewrite); DuckDB
      // runs its native ordered aggregate as the oracle. array_join vs
      // array_to_string spellings differ per engine, hence split texts.
      SqlQuery("""
        SELECT o_orderstatus,
               array_join(array_agg(o_orderpriority ORDER BY o_totalprice DESC, o_orderkey), ',') AS prios_by_price
        FROM (SELECT * FROM orders WHERE o_custkey <= 50) t
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
      """),
      Some("""
        SELECT o_orderstatus,
               array_to_string(array_agg(o_orderpriority ORDER BY o_totalprice DESC, o_orderkey), ',') AS prios_by_price
        FROM (SELECT * FROM orders WHERE o_custkey <= 50) t
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
      """)
    ),
    sqlEntry(
      "q_sql_window", // SQL window functions through the SQL front-end
      """
        SELECT o_custkey, o_orderkey,
               cast(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rk,
               round(sum(o_totalprice) OVER (PARTITION BY o_custkey), 2) AS cust_total
        FROM orders
        WHERE o_custkey <= 200
        ORDER BY o_custkey, rk
      """),
    (
      "q_show_columns", // info-schema: column listing of a resolved table
      wv("""
        show columns from orders
        select column_name, data_type
        order by column_name
      """),
      Some("""
        SELECT * FROM (VALUES
          ('o_custkey', 'bigint'), ('o_orderdate', 'timestamp_ntz'),
          ('o_orderkey', 'bigint'), ('o_orderpriority', 'string'),
          ('o_orderstatus', 'string'), ('o_totalprice', 'double'))
          AS t(column_name, data_type)
        ORDER BY column_name
      """)
    ),
    (
      "q_describe_table", // §2.L Describe as a relation (was spec-only)
      // l_shipdate excluded: its timestamp FLAVOR (ntz vs ltz) tracks
      // however the driver last generated the parquet — the row would pin
      // an encoding detail, not Describe semantics
      wv("""
        from lineitem
        describe
        where column_name != 'l_shipdate'
        order by column_name
      """),
      Some("""
        SELECT * FROM (VALUES
          ('l_discount', 'double'), ('l_extendedprice', 'double'),
          ('l_linenumber', 'int'), ('l_linestatus', 'string'),
          ('l_orderkey', 'long'), ('l_partkey', 'long'),
          ('l_quantity', 'double'), ('l_returnflag', 'string'),
          ('l_suppkey', 'long'), ('l_tax', 'double'))
          AS t(column_name, column_type)
        ORDER BY column_name
      """)
    ),
    (
      "q_explain_plan", // §2.L explain command (was spec-only): the plan text
      // itself is engine-specific, so the row asserts engine-independent
      // PROPERTIES of it — a physical plan exists, the scan is parquet, and
      // the `where` reached the scan as a pushed filter (the §"Optimize for
      // scale" pushdown contract, here inside the correctness gate)
      wv("""
        explain {
          from lineitem
          where l_quantity > 45.0
          select l_orderkey, l_quantity
        }
        select
          physical = plan.contains('== Physical Plan =='),
          parquet_scan = plan.contains('FileScan parquet'),
          filter_pushed = plan.contains('PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]')
      """),
      Some("""
        SELECT true AS physical, true AS parquet_scan, true AS filter_pushed
      """)
    ),
    (
      "q_use_schema", // §2.L use command (was spec-only): schema switch then
      // an unqualified query — parquet-table resolution is unaffected by the
      // session schema, matching the reference's lazy-validation contract
      wv("""
        use default
        from region
        count
      """),
      Some("SELECT count(*) AS count FROM region")
    ),
    (
      "q_ddl_alter_roundtrip", // §2.L first-class ALTER: add + rename survive re-read
      roundtrip("graft_q_alter_rt.parquet") { tmp => s"""
          from region
          select r_regionkey, r_name
          save to '$tmp'
          ;
          alter table '$tmp' add column score int
          ;
          alter table '$tmp' rename column r_name to region_name
          ;
          from '$tmp'
          select r_regionkey, region_name, score
          order by r_regionkey
        """ },
      Some("""
        SELECT r_regionkey, r_name AS region_name, CAST(NULL AS INT) AS score
        FROM region ORDER BY r_regionkey
      """)
    ),
    (
      "q_save_roundtrip", // write path: save to parquet, re-read, must be identity
      roundtrip("graft_q_save_roundtrip.parquet") { tmp => s"""
          from orders
          where o_orderstatus = 'F'
          select o_orderkey, o_custkey, o_totalprice
          save to '$tmp'
          ;
          from '$tmp'
          order by o_orderkey
        """ },
      Some("""
        SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        WHERE o_orderstatus = 'F' ORDER BY o_orderkey
      """)
    ),
    (
      "q_save_orc_roundtrip", // ORC sink+source: write, re-read, identity
      // (Spark-native columnar format beyond the reference's DuckDB COPY
      // set; types survive exactly, so the oracle is the direct query)
      roundtrip("graft_q_save_roundtrip.orc") { tmp => s"""
          from orders
          where o_orderstatus = 'F'
          select o_orderkey, o_custkey, o_totalprice
          save to '$tmp'
          ;
          from '$tmp'
          order by o_orderkey
        """ },
      Some("""
        SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        WHERE o_orderstatus = 'F' ORDER BY o_orderkey
      """)
    ),
    (
      "q_save_json_roundtrip", // JSON sink+source: write, re-read, identity
      // (numeric columns only — JSON carries long/double faithfully and the
      // reader's first-object key order restores the column order)
      roundtrip("graft_q_save_roundtrip.json") { tmp => s"""
          from orders
          where o_orderstatus = 'F'
          select o_orderkey, o_custkey, o_totalprice
          save to '$tmp'
          ;
          from '$tmp'
          order by o_orderkey
        """ },
      Some("""
        SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        WHERE o_orderstatus = 'F' ORDER BY o_orderkey
      """)
    ),
    (
      "q_save_txt_roundtrip", // raw text sink+source: line-per-row identity
      // (the `source` column is newline-free, so lines == rows; grouping
      // makes the check order-independent and the oracle recomputes from
      // the documents table — the roundtrip must be lossless)
      roundtrip("graft_q_save_roundtrip_src.txt") { tmp => s"""
          from documents
          where doc_id < 100
          select source
          save to '$tmp'
          ;
          from '$tmp'
          group by value
          agg n = _.count
          order by value
        """ },
      Some("""
        SELECT source AS value, count(*) AS n
        FROM documents WHERE doc_id < 100
        GROUP BY 1 ORDER BY 1
      """)
    ),
    (
      "q_dml_delete", // delete-where on a written copy, then read survivors
      roundtrip("graft_q_dml_delete.parquet") { tmp => s"""
          from orders
          select o_orderkey, o_orderstatus, o_totalprice
          save to '$tmp'
          ;
          delete from '$tmp' where o_orderstatus = 'F' or o_totalprice < 100000
          ;
          from '$tmp'
          order by o_orderkey
        """ },
      Some("""
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        WHERE NOT (o_orderstatus = 'F' OR o_totalprice < 100000)
        ORDER BY o_orderkey
      """)
    ),
    (
      "q_ctas_roundtrip", // create table as in the language; re-read is identity
      (spark, dir) => {
        // the derby metastore dies per JVM but spark-warehouse/ survives —
        // clear both layers or CTAS fails with LOCATION_ALREADY_EXISTS
        spark.sql("DROP TABLE IF EXISTS graft_q_ctas")
        def rmrf(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rmrf)
          f.delete()
        }
        // resolve the warehouse from the session (cwd-independent)
        val wh = spark.conf.get("spark.sql.warehouse.dir")
          .stripPrefix("file:").stripSuffix("/")
        rmrf(new java.io.File(s"$wh/graft_q_ctas"))
        Graft.query(spark, """
          create or replace table graft_q_ctas as {
            from nation
            where n_regionkey = 2
            select n_nationkey, n_name, n_regionkey
          }
          ;
          from graft_q_ctas
          order by n_nationkey
        """, Tables.resolver(spark, dir), basePath = dir)
      },
      Some("""
        SELECT n_nationkey, n_name, n_regionkey FROM nation
        WHERE n_regionkey = 2 ORDER BY n_nationkey
      """)
    ),
    (
      "q_sql_prepared", // PREPARE / EXECUTE USING through the SQL front-end
      SqlQuery("""
        PREPARE graft_q_prep AS
          SELECT n_nationkey, n_name FROM nation
          WHERE n_regionkey = ? AND n_nationkey > ?
          ORDER BY n_nationkey;
        EXECUTE graft_q_prep USING 2, 8
      """),
      Some("""
        SELECT n_nationkey, n_name FROM nation
        WHERE n_regionkey = 2 AND n_nationkey > 8
        ORDER BY n_nationkey
      """)
    ),
    (
      "q_dml_append", // append-to accumulates; read back the union
      roundtrip("graft_q_dml_append.parquet") { tmp => s"""
          from nation
          select n_nationkey = n_nationkey::long, n_name
          save to '$tmp'
          ;
          from region
          select n_nationkey = r_regionkey::long + 1000, n_name = r_name
          append to '$tmp'
          ;
          from '$tmp'
          order by n_nationkey
        """ },
      Some("""
        SELECT * FROM (
          SELECT n_nationkey::BIGINT AS n_nationkey, n_name FROM nation
          UNION ALL
          SELECT r_regionkey::BIGINT + 1000, r_name FROM region
        ) ORDER BY n_nationkey
      """)
    ),
    (
      "q_dml_truncate", // truncate empties in place; count survivors
      roundtrip("graft_q_dml_trunc.parquet") { tmp => s"""
          from region
          save to '$tmp'
          ;
          truncate '$tmp'
          ;
          from '$tmp'
          count
        """ },
      Some("SELECT 0::BIGINT AS \"count\"")
    ),
    (
      "q_dml_insert_overwrite", // insert overwrite replaces target contents
      roundtrip("graft_q_dml_insover.parquet") { tmp => s"""
          from orders
          select o_orderkey, o_orderstatus
          save to '$tmp'
          ;
          insert overwrite '$tmp' {
            from orders
            where o_orderstatus = 'O'
            select o_orderkey, o_orderstatus
          }
          ;
          from '$tmp'
          order by o_orderkey
        """ },
      Some("""
        SELECT o_orderkey, o_orderstatus FROM orders
        WHERE o_orderstatus = 'O'
        ORDER BY o_orderkey
      """)
    ),
    (
      "q_dml_update_pruned", // partition-pruned update: only one partition rewritten
      roundtrip("graft_q_dml_upd_pruned.parquet") { tmp => s"""
          from orders
          select o_orderkey, o_orderstatus, o_totalprice
          save to '$tmp' partition by o_orderstatus
          ;
          update '$tmp' set o_totalprice = o_totalprice * 2
          where o_orderstatus = 'F' and o_totalprice > 200000
          ;
          from '$tmp'
          select o_orderkey, o_orderstatus, o_totalprice.round(2) as o_totalprice
          order by o_orderkey
        """ },
      Some("""
        SELECT o_orderkey, o_orderstatus,
          round(CASE WHEN o_orderstatus = 'F' AND o_totalprice > 200000
                THEN o_totalprice * 2 ELSE o_totalprice END, 2) AS o_totalprice
        FROM orders
        ORDER BY o_orderkey
      """)
    ),
    (
      "q_dml_merge", // merge-into upsert on a written copy
      roundtrip("graft_q_dml_merge.parquet") { tmp => s"""
          from orders
          select o_orderkey, o_orderstatus, o_totalprice
          save to '$tmp'
          ;
          merge into '$tmp' using {
            from orders
            where o_orderkey <= 100
            select o_orderkey, o_orderstatus, o_totalprice = 0.0
            concat {
              from [[9000001, 'ZZ', 1.5]] as x(o_orderkey, o_orderstatus, o_totalprice)
            }
          } on o_orderkey
          when matched then update
          when not matched then insert
          ;
          from '$tmp'
          order by o_orderkey
        """ },
      Some("""
        SELECT o_orderkey,
               o_orderstatus,
               CASE WHEN o_orderkey <= 100 THEN 0.0 ELSE o_totalprice END AS o_totalprice
        FROM orders
        UNION ALL SELECT 9000001, 'ZZ', 1.5
        ORDER BY o_orderkey
      """)
    ),
    (
      "q_join_lateral", // correlated-subquery lateral join (Catalyst decorrelates it)
      wv("""
        from nation
        join lateral {
          from customer
          where customer.c_nationkey = nation.n_nationkey
          select c_custkey, c_acctbal
        }
        where n_nationkey <= 5
        select n_name, c_custkey, c_acctbal
        order by n_name, c_custkey
      """),
      Some("""
        SELECT n_name, c_custkey, c_acctbal
        FROM nation JOIN LATERAL (
          SELECT c_custkey, c_acctbal FROM customer
          WHERE customer.c_nationkey = nation.n_nationkey) t ON TRUE
        WHERE n_nationkey <= 5
        ORDER BY n_name, c_custkey
      """)
    ),
    (
      "q_sample", // deterministic md5-keyed reservoir → hash-matchable oracle
      wv("""
        from lineitem
        sample reservoir(100)
        select l_orderkey, l_linenumber, l_quantity
        order by l_orderkey, l_linenumber
      """),
      Some("""
        SELECT l_orderkey, l_linenumber, l_quantity FROM (
          SELECT * FROM lineitem
          ORDER BY md5(concat_ws('|', 'graft-reservoir',
            l_orderkey::varchar, l_partkey::varchar, l_suppkey::varchar,
            l_linenumber::varchar, l_quantity::varchar, l_extendedprice::varchar,
            l_discount::varchar, l_tax::varchar, l_returnflag::varchar,
            l_linestatus::varchar, l_shipdate::varchar))
          LIMIT 100
        ) ORDER BY l_orderkey, l_linenumber
      """)
    )
  )

  // ===========================================================================
  // LLM-pipeline operators (BASELINE.json north star)
  // ===========================================================================

  val pipelineQueries: Seq[(String, Q, Option[String])] = Seq(
    (
      "q_sample_stratified", // deterministic k-per-class (md5 hash order)
      wv("""
        from sample_stratified('documents', 'lang', 'doc_id', 20)
        select doc_id, lang, source
        order by lang, doc_id
      """),
      Some("""
        SELECT doc_id, lang, source FROM (
          SELECT doc_id, lang, source,
                 row_number() OVER (PARTITION BY lang
                   ORDER BY md5('graft' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
          FROM documents) t
        WHERE rk <= 20
        ORDER BY lang, doc_id
      """)
    ),
    (
      "q_split_train_test", // stateless deterministic hash split
      wv("""
        from train_test_split('documents', 'doc_id', 0.8)
        group by split
        agg n = _.count
        order by split
      """),
      Some("""
        SELECT split, count(*)::BIGINT AS n FROM (
          SELECT CASE WHEN substr(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 4) < 'cccd'
                      THEN 'train' ELSE 'test' END AS split
          FROM documents) t
        GROUP BY split ORDER BY split
      """)
    ),
    (
      // domain-weighted corpus mixing: en upsampled 1.5x, de thinned to
      // 0.75, fr to 0.25, es/zh dropped — floor(w) copies plus one more
      // below the per-domain md5 hex threshold (deterministic, engine-
      // portable; thresholds are round(frac*65536) as %04x)
      "q_mix_weighted",
      wv("""
        from weighted_mix('documents', 'lang', 'doc_id', 'en:1.5,de:0.75,fr:0.25')
        select doc_id, lang, copy
        order by doc_id, copy
      """),
      Some("""
        WITH w(lang, wt_floor, thr) AS (VALUES
          ('en', 1, printf('%04x', 32768)),
          ('de', 0, printf('%04x', 49152)),
          ('fr', 0, printf('%04x', 16384))),
        c AS (
          SELECT d.doc_id, d.lang,
                 w.wt_floor + CASE WHEN substring(md5('graft-mix' || CAST(d.doc_id AS VARCHAR)), 1, 4) < w.thr
                                   THEN 1 ELSE 0 END AS copies
          FROM documents d JOIN w USING (lang))
        SELECT c.doc_id, c.lang, gs.copy::INT AS copy
        FROM c, LATERAL (SELECT unnest(generate_series(1, c.copies)) AS copy) gs
        ORDER BY doc_id, copy
      """)
    ),
    (
      // Temperature-scaled domain mixing (Sampling.mixByTemperature via
      // mix_by_temperature(...)): the GPT-3/PaLM multinomial-temperature
      // recipe — target composition q_d ∝ p_d^alpha, realized as per-doc
      // weights q_d/p_d through the deterministic md5-threshold mixer.
      // DETERMINISTIC oracle: DuckDB recomputes the weights with the SAME
      // operation sequence (shares from exact integer counts, Σ p^α as an
      // ascending-domain ordered list_sum, pow → /z → /p → round 6dp) and
      // replays the weightedMix copies logic.
      "q_mix_temperature",
      wv("""
        from mix_by_temperature('documents', 'lang', 'doc_id', 0.5)
        select doc_id, lang, copy
        order by doc_id, copy
      """),
      Some("""
        WITH dc AS (
          SELECT lang, count(*)::DOUBLE AS c
          FROM documents WHERE lang IS NOT NULL GROUP BY lang
        ),
        tot AS (SELECT coalesce(sum(c), 0) AS n FROM dc),
        zz AS (
          SELECT list_sum(list(pow(c / (SELECT n FROM tot), 0.5) ORDER BY lang)) AS z
          FROM dc
        ),
        w AS (
          SELECT lang,
            round(pow(c / (SELECT n FROM tot), 0.5) / (SELECT z FROM zz)
                  / (c / (SELECT n FROM tot)), 6) AS wt
          FROM dc
        ),
        cp AS (
          SELECT d.doc_id, d.lang,
            CAST(floor(w.wt) AS INT) +
            CASE WHEN substring(md5('graft-mix' || CAST(d.doc_id AS VARCHAR)), 1, 4)
                    < printf('%04x', LEAST(65535,
                        CAST(round((w.wt - floor(w.wt)) * 65536) AS INT)))
                 THEN 1 ELSE 0 END AS copies
          FROM documents d JOIN w USING (lang)
        )
        SELECT cp.doc_id, cp.lang, gs.copy::INT AS copy
        FROM cp, LATERAL (SELECT unnest(generate_series(1, cp.copies)) AS copy) gs
        ORDER BY doc_id, copy
      """)
    ),
    (
      "q_corpus_shuffle", // deterministic global shuffle (one ranged sort)
      wv("""
        from deterministic_shuffle('documents', 'doc_id')
        select doc_id
        limit 100
      """),
      Some("""
        SELECT doc_id FROM documents
        ORDER BY md5('graft' || CAST(doc_id AS VARCHAR)), doc_id
        LIMIT 100
      """)
    ),
    (
      "q_text_repetition", // Gopher/MassiveText repetition quality rules
      wv("""
        from documents
        select
          doc_id,
          dup_line_frac = round(text.dup_line_fraction, 6),
          dup_char_frac = round(text.dup_char_fraction, 6),
          top_token_frac = round(text.top_token_fraction, 6)
        order by doc_id
      """),
      Some("""
        WITH t AS (
          SELECT doc_id,
            list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
                        l -> len(l) > 0) AS ls,
            list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS toks
          FROM documents)
        SELECT doc_id,
          round(CASE WHEN len(ls) = 0 THEN 0.0
            ELSE (len(ls) - len(list_distinct(ls)))::DOUBLE / len(ls) END, 6) AS dup_line_frac,
          round(CASE WHEN list_sum(list_transform(ls, l -> len(l))) IS NULL
                       OR list_sum(list_transform(ls, l -> len(l))) = 0 THEN 0.0
            ELSE (list_sum(list_transform(ls, l -> len(l)))
                  - list_sum(list_transform(list_distinct(ls), l -> len(l))))::DOUBLE
                 / list_sum(list_transform(ls, l -> len(l))) END, 6) AS dup_char_frac,
          round(CASE WHEN len(toks) = 0 THEN 0.0
            ELSE list_aggregate(list_transform(list_distinct(toks),
                   t2 -> len(list_filter(toks, x -> x = t2))), 'max')::DOUBLE
                 / len(toks) END, 6) AS top_token_frac
        FROM t ORDER BY doc_id
      """)
    ),
    (
      "q_text_stats",
      wv("""
        from documents
        select
          doc_id,
          n_tokens = cast(text.token_count as bigint),
          n_subwords = text.subword_count,
          alpha_ratio = round(text.alpha_ratio, 4),
          stopword_ratio = round(text.stopword_ratio, 4),
          fingerprint = text.fingerprint
        order by doc_id
      """),
      Some(s"""
        SELECT doc_id,
          len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0))::BIGINT AS n_tokens,
          list_sum(list_transform(
            list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0),
            w -> 1 + ((len(w) - 1) // 4)))::BIGINT AS n_subwords,
          round(CASE WHEN length(text) = 0 THEN 0.0
            ELSE length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE / length(text) END, 4) AS alpha_ratio,
          round(CASE WHEN len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) = 0 THEN 0.0
            ELSE len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                   x -> list_contains(${sqlList(TextFunctions.enStopwords)}, x)))::DOUBLE
                 / len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) END, 4) AS stopword_ratio,
          md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
        FROM documents ORDER BY doc_id
      """)
    ),
    (
      "q_text_langid",
      wv("""
        from documents
        select doc_id, lang_guess = text.lang_id
        order by doc_id
      """),
      Some {
        def score(words: Seq[String]) =
          s"len(list_filter(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0), x -> list_contains(${sqlList(words)}, x)))"
        s"""
        WITH scored AS (
          SELECT doc_id,
            ${score(TextFunctions.enStopwords)} AS s_en,
            ${score(TextFunctions.deStopwords)} AS s_de,
            ${score(TextFunctions.frStopwords)} AS s_fr,
            ${score(TextFunctions.esStopwords)} AS s_es,
            len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) AS n_toks
          FROM documents)
        SELECT doc_id,
          CASE WHEN n_toks = 0 THEN 'und'
               WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
               WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
               WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
               WHEN s_en >= s_de THEN 'en'
               ELSE 'de' END AS lang_guess
        FROM scored ORDER BY doc_id
      """
      }
    ),
    (
      "q_text_quality",
      wv("""
        from documents
        select doc_id, quality = text.quality_score
        order by doc_id
      """),
      Some(s"""
        WITH t AS (
          SELECT doc_id, text,
            list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS toks
          FROM documents),
        m AS (
          SELECT doc_id,
            least(length(text)::DOUBLE / 500.0, 1.0) AS length_score,
            CASE WHEN length(text) = 0 THEN 0.0
              ELSE length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE / length(text) END AS alpha,
            least(CASE WHEN len(toks) = 0 THEN 0.0
              ELSE len(list_filter(toks, x -> list_contains(${sqlList(TextFunctions.enStopwords)}, x)))::DOUBLE / len(toks) END * 4.0, 1.0) AS stop,
            CASE WHEN len(toks) = 0 THEN 0.0
              ELSE list_sum(list_transform(toks, w -> len(w)))::DOUBLE / len(toks) END AS mwl
          FROM t)
        SELECT doc_id,
          round(length_score * 0.3 + alpha * 0.3 + stop * 0.2 +
                (CASE WHEN mwl BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.2, 4) AS quality
        FROM m ORDER BY doc_id
      """)
    ),
    (
      "q_dedup_exact",
      wv("""
        from dedup_exact('documents', 'doc_id', 'text')
        order by keep_id
      """),
      Some("""
        SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
               min(doc_id) AS keep_id, count(*) AS dup_count
        FROM documents GROUP BY 1 ORDER BY keep_id
      """)
    ),
    (
      // Bloom-pruned exact dedup (Dedup.bloomExactGroups via
      // dedup_bloom(...)): the Dolma-style memory-bounded tier — a
      // "seen-twice" bloom pair routes definitively-unique fingerprints
      // AROUND the shuffle (no exchange on that branch; PlanSpec gates
      // it), and only bloom hits go through the exact groupBy recheck.
      // The bloom only PRUNES, so the oracle is q_dedup_exact's SQL
      // verbatim — any fpp must reproduce exact dedup bitwise.
      "q_dedup_bloom",
      wv("""
        from dedup_bloom('documents', 'doc_id', 'text', 0.01)
        order by keep_id
      """),
      Some("""
        SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
               min(doc_id) AS keep_id, count(*) AS dup_count
        FROM documents GROUP BY 1 ORDER BY keep_id
      """)
    ),
    (
      // Exact INCREMENTAL dedup against the corpus
      // (Dedup.bloomDedupAgainst via dedup_bloom_against(...)): batch =
      // 30 corpus docs (every one a guaranteed hit, dup_of = itself as
      // the min corpus id with that fingerprint) + a planted novel doc +
      // a planted null-text doc (never a dup — null carries no content
      // evidence). The bloom only prunes; the oracle is a plain SQL
      // fingerprint join.
      "q_dedup_bloom_against",
      wv("""
        model batch = {
          from documents
          where doc_id < 30
          select doc_id, text
          concat {
            from [[900001, 'completely novel crawl document zzz qqq vvv'], [900002, null]]
              as v(doc_id, text)
          }
        }
        from dedup_bloom_against('documents', 'batch', 'doc_id', 'text')
        order by doc_id
      """),
      Some("""
        WITH batch AS (
          SELECT doc_id, text FROM documents WHERE doc_id < 30
          UNION ALL
          SELECT * FROM (VALUES
            (900001, 'completely novel crawl document zzz qqq vvv'),
            (900002, NULL)) v(doc_id, text)
        ),
        cfp AS (
          SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp, doc_id
          FROM documents WHERE text IS NOT NULL
        ),
        m AS (SELECT fp, min(doc_id) AS dup_of FROM cfp GROUP BY fp),
        bfp AS (
          SELECT doc_id,
            CASE WHEN text IS NULL THEN NULL
                 ELSE md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) END AS fp
          FROM batch
        )
        SELECT b.doc_id, (m.dup_of IS NOT NULL) AS is_dup, m.dup_of
        FROM bfp b LEFT JOIN m ON m.fp = b.fp
        ORDER BY b.doc_id
      """)
    ),
    (
      // Probe of the PERSISTED + APPENDED bloom index
      // (Dedup.bloomDedupAgainstIndex via dedup_bloom_against_index(...)):
      // the filter is built over half the corpus, the remaining corpus
      // quarter's fingerprints MERGED in (same-shape OR — lossless), and
      // today's batch (the corpus quarter doc_id % 4 == 0 plus a planted
      // novel doc and a planted null-text doc) probes it WITHOUT any
      // bloom rebuild. The bloom only prunes and the recheck corpus is
      // doc_id % 4 != 0, so the oracle is the plain SQL fingerprint join.
      "q_dedup_bloom_against_index",
      wv("""
        model corpus = { from documents where doc_id % 4 != 0 select doc_id, text }
        model batch = {
          from documents
          where doc_id % 4 = 0
          select doc_id, text
          concat {
            from [[900001, 'completely novel crawl document zzz qqq vvv'], [900002, null]]
              as v(doc_id, text)
          }
        }
        from dedup_bloom_against_index('${bloom_index}', 'corpus', 'batch', 'doc_id', 'text')
        order by doc_id
      """,
        "bloom_index" -> appendedBloomIndex),
      Some("""
        WITH batch AS (
          SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0
          UNION ALL
          SELECT * FROM (VALUES
            (900001, 'completely novel crawl document zzz qqq vvv'),
            (900002, NULL)) v(doc_id, text)
        ),
        cfp AS (
          SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp, doc_id
          FROM documents WHERE doc_id % 4 != 0 AND text IS NOT NULL
        ),
        m AS (SELECT fp, min(doc_id) AS dup_of FROM cfp GROUP BY fp),
        bfp AS (
          SELECT doc_id,
            CASE WHEN text IS NULL THEN NULL
                 ELSE md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) END AS fp
          FROM batch
        )
        SELECT b.doc_id, (m.dup_of IS NOT NULL) AS is_dup, m.dup_of
        FROM bfp b LEFT JOIN m ON m.fp = b.fp
        ORDER BY b.doc_id
      """)
    ),
    (
      // Streaming IMAGE ingest dedup (Subscribe.phashAgainstAppend —
      // the LAION loop): the corpus (imgs 1/4/5/6 + corrupt) is pHashed
      // ONCE; the batch pngs stream through a genuine 2-file readStream
      // (maxFilesPerTrigger=1 → one micro-batch per file) and each batch
      // runs decode + chunk-blocked join + bit_count verify. Links depend
      // only on the static corpus hashes, so micro-batching must be
      // invisible: the oracle is q_dedup_phash_against's closed-form
      // VALUES verbatim.
      "q_subscribe_phash_against",
      (spark, dir) => {
        val corpus = phashPngs(spark).filter(!F.col("img_id").isin(2L, 3L))
        val batch = phashBatchPngs(spark)
        val in = java.nio.file.Files.createTempDirectory("graft_spa_in").toString
        batch.filter(F.col("img_id").isin(101L, 103L))
          .coalesce(1).write.parquet(s"$in/b1")
        batch.filter(F.col("img_id").isin(102L, 199L))
          .coalesce(1).write.parquet(s"$in/b2")
        val out = java.nio.file.Files.createTempDirectory("graft_spa_out").toString
        val ck = java.nio.file.Files.createTempDirectory("graft_spa_ck").toString
        val stream = spark.readStream.schema(batch.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$in/*")
        graft.streaming.Subscribe.phashAgainstAppend(
          stream, corpus, "img_id", "png", out, ck)
          .awaitTermination()
        spark.read.parquet(out)
          .select("batch_id", "corpus_id", "hamming")
          .orderBy("batch_id", "corpus_id")
      },
      Some("""
        SELECT CAST(b AS BIGINT) AS batch_id, CAST(c AS BIGINT) AS corpus_id,
               CAST(h AS INTEGER) AS hamming
        FROM (VALUES (101, 1, 0), (102, 1, 0)) AS t(b, c, h)
        ORDER BY batch_id, corpus_id
      """)
    ),
    (
      // Perceptual-hash near-dup IMAGE pairs (Dedup.phashPairs via
      // dedup_phash(...)): DCT pHash per decoded asset + the simhash
      // family's chunk-pair-blocked candidate join. The planted corpus
      // makes the expected pairs CLOSED FORM via pHash's invariances
      // (see phashPngs): a pixel-doubled rescale and an affine
      // brightness map hash IDENTICALLY by construction, independent
      // noise images and the solid are ~31 bits away, the corrupt
      // payload never decodes — so the oracle is a literal VALUES table
      // of the three hamming-0 pairs.
      "q_dedup_phash",
      wv("""
        from dedup_phash('phash_pngs', 'img_id', 'png', 3)
        order by id_a, id_b
      """,
        "phash_pngs" -> phashPngStage),
      Some("""
        SELECT CAST(a AS BIGINT) AS id_a, CAST(b AS BIGINT) AS id_b,
               CAST(h AS INTEGER) AS hamming
        FROM (VALUES (1, 2, 0), (1, 3, 0), (2, 3, 0)) AS t(a, b, h)
        ORDER BY id_a, id_b
      """)
    ),
    (
      // INCREMENTAL image dedup (Dedup.phashAgainst via
      // dedup_phash_against(...)): a new batch of images links into the
      // static corpus — single-chunk pigeonhole blocking over the pHash,
      // codegen'd bit_count verify, first-clean-chunk witness dedup. The
      // batch plants a pixel-doubled rescale and an affine brightness
      // variant of corpus image 1 (hash-identical by construction — the
      // same invariance arguments as q_dedup_phash), independent noise,
      // and a corrupt payload: expected links are exactly the two
      // hamming-0 rows.
      "q_dedup_phash_against",
      wv("""
        -- imgs 2/3 are hash-identical variants of 1 by design; keeping them
        -- would triple every link
        model corpus = { from phash_pngs where img_id not in (2, 3) }
        from dedup_phash_against('corpus', 'phash_batch', 'img_id', 'png', 3)
        order by batch_id, corpus_id
      """,
        "phash_pngs" -> phashPngStage,
        "phash_batch" -> phashBatchStage),
      Some("""
        SELECT CAST(b AS BIGINT) AS batch_id, CAST(c AS BIGINT) AS corpus_id,
               CAST(h AS INTEGER) AS hamming
        FROM (VALUES (101, 1, 0), (102, 1, 0)) AS t(b, c, h)
        ORDER BY batch_id, corpus_id
      """)
    ),
    (
      // Exact-substring dedup (Lee et al. 2021 approximated with stride-1
      // 8-token span fingerprints): tokens covered by a span repeated in
      // ≥2 distinct docs are removed. Oracle recomputes span membership on
      // the raw span STRING (the engine's xxhash64 key never reaches the
      // output, so the two keyings agree unless xxhash64 collides).
      "q_dedup_spans",
      wv("""
        from dedup_spans('documents', 'doc_id', 'text', 8, 2)
        order by doc_id
      """),
      Some("""
        WITH t AS (
          SELECT doc_id,
            list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                        x -> len(x) > 0) AS toks
          FROM documents),
        sp AS (
          SELECT doc_id, i AS pos,
                 list_aggregate(toks[i:i+7], 'string_agg', ' ') AS span
          FROM t, LATERAL (SELECT unnest(range(1, greatest(len(toks) - 7, 0) + 1)) AS i)),
        dup AS (SELECT span FROM sp GROUP BY span HAVING count(DISTINCT doc_id) >= 2),
        cov AS (
          SELECT doc_id,
                 list_distinct(flatten(list(range(pos, pos + 8)))) AS cps
          FROM sp JOIN dup USING (span) GROUP BY doc_id)
        SELECT t.doc_id,
          coalesce(list_aggregate(
            list_transform(
              list_filter(range(1, len(toks) + 1),
                          j -> NOT list_contains(coalesce(cps, []), j)),
              j -> toks[j]),
            'string_agg', ' '), '') AS clean_text,
          len(toks)::BIGINT AS n_tokens,
          len(list_filter(range(1, len(toks) + 1),
                          j -> list_contains(coalesce(cps, []), j)))::BIGINT AS dup_tokens,
          round(CASE WHEN len(toks) = 0 THEN 0.0
            ELSE len(list_filter(range(1, len(toks) + 1),
                   j -> list_contains(coalesce(cps, []), j)))::DOUBLE / len(toks) END,
            6) AS dup_token_frac
        FROM t LEFT JOIN cov USING (doc_id) ORDER BY doc_id
      """)
    ),
    (
      "q_dedup_ngram_jaccard",
      wv("""
        from dedup_ngram_jaccard('documents', 'doc_id', 'text', 2, 0.12)
        order by id_a, id_b
      """),
      Some("""
        WITH sh AS (
          SELECT doc_id AS id,
            list_distinct(list_transform(
              range(1, greatest(len(toks) - 1, 0) + 1),
              i -> toks[i] || ' ' || toks[i + 1])) AS shingles
          FROM (SELECT doc_id,
                  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS toks
                FROM documents)
          WHERE len(toks) >= 2),
        post AS (SELECT id, len(shingles) AS n, unnest(shingles) AS shingle FROM sh)
        SELECT a.id AS id_a, b.id AS id_b,
          round(count(*)::DOUBLE / (any_value(a.n) + any_value(b.n) - count(*)), 6) AS jaccard
        FROM post a JOIN post b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY a.id, b.id
        HAVING round(count(*)::DOUBLE / (any_value(a.n) + any_value(b.n) - count(*)), 6) >= 0.12
        ORDER BY id_a, id_b
      """)
    ),
    (
      "q_dedup_clusters", // pair list → connected components (cluster ids)
      wv("""
        model near_dups = { from dedup_ngram_jaccard('documents', 'doc_id', 'text', 2, 0.12) }
        from connected_components('near_dups')
        order by id
      """),
      Some("""
        WITH RECURSIVE sh AS (
          SELECT doc_id AS id,
            list_distinct(list_transform(
              range(1, greatest(len(toks) - 1, 0) + 1),
              i -> toks[i] || ' ' || toks[i + 1])) AS shingles
          FROM (SELECT doc_id,
                  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS toks
                FROM documents)
          WHERE len(toks) >= 2),
        post AS (SELECT id, len(shingles) AS n, unnest(shingles) AS shingle FROM sh),
        pairs AS (
          SELECT a.id AS id_a, b.id AS id_b
          FROM post a JOIN post b ON a.shingle = b.shingle AND a.id < b.id
          GROUP BY a.id, b.id
          HAVING round(count(*)::DOUBLE / (any_value(a.n) + any_value(b.n) - count(*)), 6) >= 0.12),
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
        reach(id, lbl) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id)
        SELECT id, min(lbl) AS cluster FROM reach GROUP BY id ORDER BY id
      """)
    ),
    (
      "q_dedup_drop_clusters", // end-to-end near-dup drop: one rep/cluster
      wv("""
        model near_dups = { from dedup_ngram_jaccard('documents', 'doc_id', 'text', 2, 0.12) }
        from drop_duplicate_clusters('documents', 'doc_id', 'near_dups')
        select doc_id, lang, source
        order by doc_id
      """),
      Some("""
        WITH RECURSIVE sh AS (
          SELECT doc_id AS id,
            list_distinct(list_transform(
              range(1, greatest(len(toks) - 1, 0) + 1),
              i -> toks[i] || ' ' || toks[i + 1])) AS shingles
          FROM (SELECT doc_id,
                  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS toks
                FROM documents)
          WHERE len(toks) >= 2),
        post AS (SELECT id, len(shingles) AS n, unnest(shingles) AS shingle FROM sh),
        pairs AS (
          SELECT a.id AS id_a, b.id AS id_b
          FROM post a JOIN post b ON a.shingle = b.shingle AND a.id < b.id
          GROUP BY a.id, b.id
          HAVING round(count(*)::DOUBLE / (any_value(a.n) + any_value(b.n) - count(*)), 6) >= 0.12),
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
        reach(id, lbl) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
        losers AS (
          SELECT id FROM reach GROUP BY id HAVING id <> min(lbl))
        SELECT doc_id, lang, source FROM documents
        WHERE doc_id NOT IN (SELECT id FROM losers)
        ORDER BY doc_id
      """)
    ),
    (
      // Leakage-safe train/test split (Sampling.splitByCluster via the
      // split_by_cluster(...) table function): near-dup clusters land whole
      // in one split — membership is the md5 threshold on the cluster-
      // REPRESENTATIVE id (min member, connectedComponents' convention),
      // singletons on their own id. DETERMINISTIC oracle: the clusters CTE
      // + the same md5/'cccd' assignment recomputed in DuckDB.
      "q_split_by_cluster",
      wv("""
        from split_by_cluster('documents', 'doc_id', 'text', 0.8)
        select doc_id, split
        order by doc_id
      """),
      Some("""
        WITH RECURSIVE sh AS (
          SELECT doc_id AS id,
            list_distinct(list_transform(
              range(1, greatest(len(toks) - 1, 0) + 1),
              i -> toks[i] || ' ' || toks[i + 1])) AS shingles
          FROM (SELECT doc_id,
                  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS toks
                FROM documents)
          WHERE len(toks) >= 2),
        post AS (SELECT id, len(shingles) AS n, unnest(shingles) AS shingle FROM sh),
        pairs AS (
          SELECT a.id AS id_a, b.id AS id_b
          FROM post a JOIN post b ON a.shingle = b.shingle AND a.id < b.id
          GROUP BY a.id, b.id
          HAVING round(count(*)::DOUBLE / (any_value(a.n) + any_value(b.n) - count(*)), 6) >= 0.12),
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
        reach(id, lbl) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
        labels AS (SELECT id, min(lbl) AS cluster FROM reach GROUP BY id)
        SELECT d.doc_id,
          CASE WHEN substr(md5('graft' || CAST(coalesce(l.cluster, d.doc_id) AS VARCHAR)), 1, 4) < 'cccd'
               THEN 'train' ELSE 'test' END AS split
        FROM documents d LEFT JOIN labels l ON l.id = d.doc_id
        ORDER BY d.doc_id
      """)
    ),
    (
      // Property gate for q_split_by_cluster: ZERO verified near-dup pairs
      // straddle splits (leakage-free by construction), while the naive
      // doc-level split leaks a data-dependent positive count on the same
      // pair list — both counts recomputed deterministically in DuckDB, so
      // the gate also proves the guard is non-vacuous on this corpus. The
      // split and both checks read one `pairs` model, lowered once.
      "q_split_by_cluster_property",
      wv("""
        model pairs = { from dedup_ngram_jaccard('documents', 'doc_id', 'text', 2, 0.12) }
        model clustered = {
          from split_by_cluster_pairs('documents', 'doc_id', 'pairs', 0.8)
          select doc_id, split
        }
        model naive = {
          from train_test_split('documents', 'doc_id', 0.8)
          select doc_id, split
        }
        model clustered_straddling = {
          from pairs
          join clustered as a on a.doc_id = pairs.id_a
          join clustered as b on b.doc_id = pairs.id_b
          where a.split != b.split
          agg leaked = _.count
        }
        model naive_straddling = {
          from pairs
          join naive as a on a.doc_id = pairs.id_a
          join naive as b on b.doc_id = pairs.id_b
          where a.split != b.split
          agg naive_leaked = _.count
        }
        from clustered_straddling
        cross join naive_straddling
      """),
      Some("""
        WITH RECURSIVE sh AS (
          SELECT doc_id AS id,
            list_distinct(list_transform(
              range(1, greatest(len(toks) - 1, 0) + 1),
              i -> toks[i] || ' ' || toks[i + 1])) AS shingles
          FROM (SELECT doc_id,
                  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS toks
                FROM documents)
          WHERE len(toks) >= 2),
        post AS (SELECT id, len(shingles) AS n, unnest(shingles) AS shingle FROM sh),
        pairs AS (
          SELECT a.id AS id_a, b.id AS id_b
          FROM post a JOIN post b ON a.shingle = b.shingle AND a.id < b.id
          GROUP BY a.id, b.id
          HAVING round(count(*)::DOUBLE / (any_value(a.n) + any_value(b.n) - count(*)), 6) >= 0.12),
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
        reach(id, lbl) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
        labels AS (SELECT id, min(lbl) AS cluster FROM reach GROUP BY id),
        assign AS (
          SELECT d.doc_id,
            CASE WHEN substr(md5('graft' || CAST(coalesce(l.cluster, d.doc_id) AS VARCHAR)), 1, 4) < 'cccd'
                 THEN 'train' ELSE 'test' END AS split
          FROM documents d LEFT JOIN labels l ON l.id = d.doc_id),
        naive AS (
          SELECT doc_id,
            CASE WHEN substr(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 4) < 'cccd'
                 THEN 'train' ELSE 'test' END AS split
          FROM documents)
        SELECT
          (SELECT count(*) FROM pairs p
             JOIN assign a ON a.doc_id = p.id_a
             JOIN assign b ON b.doc_id = p.id_b
           WHERE a.split <> b.split)::BIGINT AS leaked,
          (SELECT count(*) FROM pairs p
             JOIN naive a ON a.doc_id = p.id_a
             JOIN naive b ON b.doc_id = p.id_b
           WHERE a.split <> b.split)::BIGINT AS naive_leaked
      """)
    ),
    (
      // split_by_cluster over a PRECOMPUTED pair relation (r13 verdict #2):
      // at 100 TB pair discovery is days of work the split must never
      // re-run — the pairs arg names a relation (here an inline-VALUES
      // model; in production a CTAS'd dedup_* output or minhash-index pair
      // dump) and the corpus is scanned exactly ONCE (PlanSpec-gated). The
      // DuckDB oracle consumes the SAME pair list via a VALUES CTE.
      "q_split_by_cluster_pairs",
      wv("""
        model dup_pairs = {
          from [
            [1, 2],
            [2, 3],
            [10, 11],
            [40, 41],
            [40, 999999],
          ] as p(id_a, id_b)
        }
        from split_by_cluster_pairs('documents', 'doc_id', 'dup_pairs', 0.8)
        select doc_id, split
        order by doc_id
      """),
      Some("""
        WITH RECURSIVE pairs(id_a, id_b) AS (
          VALUES (1, 2), (2, 3), (10, 11), (40, 41), (40, 999999)),
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
        reach(id, lbl) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
        labels AS (SELECT id, min(lbl) AS cluster FROM reach GROUP BY id)
        SELECT d.doc_id,
          CASE WHEN substr(md5('graft' || CAST(coalesce(l.cluster, d.doc_id) AS VARCHAR)), 1, 4) < 'cccd'
               THEN 'train' ELSE 'test' END AS split
        FROM documents d LEFT JOIN labels l ON l.id = d.doc_id
        ORDER BY d.doc_id
      """)
    ),
    (
      // The pairs-relation twin of the stats row: percolation-guard
      // statistics over a PRECOMPUTED pair list (ids not present in the
      // corpus still count in the cluster stats — the label table is the
      // pair list's closure, the assignment side is corpus-only; the
      // DuckDB oracle reproduces both sides from the same VALUES list).
      "q_split_by_cluster_pairs_stats",
      wv("""
        model dup_pairs = {
          from [
            [1, 2],
            [2, 3],
            [10, 11],
            [40, 41],
            [40, 999999],
          ] as p(id_a, id_b)
        }
        from split_by_cluster_pairs_stats('documents', 'doc_id', 'dup_pairs', 0.8)
      """),
      Some("""
        WITH RECURSIVE pairs(id_a, id_b) AS (
          VALUES (1, 2), (2, 3), (10, 11), (40, 41), (40, 999999)),
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
        reach(id, lbl) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
        labels AS (SELECT id, min(lbl) AS cluster FROM reach GROUP BY id),
        assign AS (
          SELECT d.doc_id,
            CASE WHEN substr(md5('graft' || CAST(coalesce(l.cluster, d.doc_id) AS VARCHAR)), 1, 4) < 'cccd'
                 THEN 'train' ELSE 'test' END AS split
          FROM documents d LEFT JOIN labels l ON l.id = d.doc_id)
        SELECT
          (SELECT count(*) FROM documents)::BIGINT AS n_docs,
          (SELECT count(DISTINCT cluster) FROM labels)::BIGINT AS n_clusters,
          (SELECT count(*) FROM labels)::BIGINT AS clustered_docs,
          (SELECT coalesce(max(sz), 0) FROM
             (SELECT count(*) AS sz FROM labels GROUP BY cluster))::BIGINT AS max_cluster_size,
          (SELECT count(*) FROM assign WHERE split = 'train')::BIGINT AS train_docs,
          round((SELECT count(*) FROM assign WHERE split = 'train')::DOUBLE /
                (SELECT count(*) FROM documents), 6) AS train_frac,
          CAST(0.8 AS DOUBLE) AS target_frac,
          round(round((SELECT count(*) FROM assign WHERE split = 'train')::DOUBLE /
                      (SELECT count(*) FROM documents), 6) - CAST(0.8 AS DOUBLE), 6) AS frac_delta
      """)
    ),
    (
      // Percolation observability for split_by_cluster (r13 verdict #4):
      // one row of cluster/assignment statistics — a max_cluster_size that
      // is a material share of n_docs, or a frac_delta far from 0, is the
      // percolation failure mode (one giant cluster whose single md5 draw
      // swings the realized train fraction). Every number recomputed
      // independently in DuckDB from the same recursive-CTE components.
      "q_split_by_cluster_stats",
      wv("""
        from split_by_cluster_stats('documents', 'doc_id', 'text', 0.8)
      """),
      Some("""
        WITH RECURSIVE sh AS (
          SELECT doc_id AS id,
            list_distinct(list_transform(
              range(1, greatest(len(toks) - 1, 0) + 1),
              i -> toks[i] || ' ' || toks[i + 1])) AS shingles
          FROM (SELECT doc_id,
                  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS toks
                FROM documents)
          WHERE len(toks) >= 2),
        post AS (SELECT id, len(shingles) AS n, unnest(shingles) AS shingle FROM sh),
        pairs AS (
          SELECT a.id AS id_a, b.id AS id_b
          FROM post a JOIN post b ON a.shingle = b.shingle AND a.id < b.id
          GROUP BY a.id, b.id
          HAVING round(count(*)::DOUBLE / (any_value(a.n) + any_value(b.n) - count(*)), 6) >= 0.12),
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
        reach(id, lbl) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
        labels AS (SELECT id, min(lbl) AS cluster FROM reach GROUP BY id),
        assign AS (
          SELECT d.doc_id,
            CASE WHEN substr(md5('graft' || CAST(coalesce(l.cluster, d.doc_id) AS VARCHAR)), 1, 4) < 'cccd'
                 THEN 'train' ELSE 'test' END AS split
          FROM documents d LEFT JOIN labels l ON l.id = d.doc_id)
        SELECT
          (SELECT count(*) FROM documents)::BIGINT AS n_docs,
          (SELECT count(DISTINCT cluster) FROM labels)::BIGINT AS n_clusters,
          (SELECT count(*) FROM labels)::BIGINT AS clustered_docs,
          (SELECT coalesce(max(sz), 0) FROM
             (SELECT count(*) AS sz FROM labels GROUP BY cluster))::BIGINT AS max_cluster_size,
          (SELECT count(*) FROM assign WHERE split = 'train')::BIGINT AS train_docs,
          round((SELECT count(*) FROM assign WHERE split = 'train')::DOUBLE /
                (SELECT count(*) FROM documents), 6) AS train_frac,
          CAST(0.8 AS DOUBLE) AS target_frac,
          round(round((SELECT count(*) FROM assign WHERE split = 'train')::DOUBLE /
                      (SELECT count(*) FROM documents), 6) - CAST(0.8 AS DOUBLE), 6) AS frac_delta
      """)
    ),
    (
      // DETERMINISTIC oracle (promoted from rows-only in r8): the DuckDB SQL
      // recomputes the ENTIRE pipeline bit-for-bit — FNV-1a token hashes
      // (HUGEINT-emulated 64-bit wraparound), 2-gram shingle mix, the same
      // fixed-seed (a,b) linear hashes in the Mersenne field
      // (Dedup.minhashParamsFor inlined as VALUES), band-tuple collision
      // candidates (tuple equality ⇔ the engine's xxhash64 band key modulo
      // ~2^-64 collisions), and the exact-Jaccard verify. Verified equal to
      // the engine at sf0.001 and sf0.01.
      "q_dedup_minhash_lsh",
      wv("""
        from dedup_minhash_lsh('documents', 'doc_id', 'text', 0.12, 64, 16, 2)
        order by id_a, id_b
      """),
      Some(minhashLshOracleSql)
    ),
    (
      // Property gate for q_dedup_minhash_lsh (no DuckDB oracle can compute
      // the hashes, but the INVARIANTS are oracle-checkable): every emitted
      // pair must appear in the exact shingle-Jaccard pair set at the same
      // threshold (subset_violations = 0 — the verify stage works), and
      // every exact pair with jaccard >= 0.7 must be found (strong_missed
      // = 0 — at 16 bands of 4 rows, P(miss | s >= 0.7) < 1.2%, and the
      // pinned hash parameters make the outcome deterministic per dataset;
      // measured 0 at sf0.001 and sf0.01).
      "q_dedup_minhash_property",
      wv("""
        model lsh = {
          from dedup_minhash_lsh('documents', 'doc_id', 'text', 0.12, 64, 16, 2)
          select id_a, id_b, in_lsh = true
        }
        model exact = {
          from dedup_ngram_jaccard('documents', 'doc_id', 'text', 2, 0.12, 100000)
          select id_a, id_b, jaccard, in_exact = true
        }
        from lsh
        full join exact using id_a, id_b
        agg
          subset_violations = count_if(in_exact is null),
          strong_missed = count_if(in_lsh is null and jaccard >= 0.7)
      """),
      Some("""
        SELECT CAST(0 AS BIGINT) AS subset_violations, CAST(0 AS BIGINT) AS strong_missed
      """)
    ),
    (
      // The persisted MinHash signature index itself (Dedup.buildMinhashIndex,
      // exposed as minhash_index(...)): the engine reads the index back FROM
      // PARQUET and emits each doc's 64 signature components comma-joined;
      // the oracle recomputes them from raw text in DuckDB — the persisted
      // artifact's content is pinned bit-for-bit. (CSV string rather than
      // the raw array: list-vs-array physical types would defeat the hash
      // compare.)
      "q_minhash_index",
      wv("""
        from mh_index
        select doc_id, sig_csv = array_join(transform(sig, x -> cast(x as string)), ',')
        order by doc_id
      """,
        "mh_index" -> persistedMinhashIndex),
      Some(minhashIndexOracleSql)
    ),
    (
      // Incremental dedup, pairs form (Dedup.minhashIndexPairs via
      // dedup_incremental_pairs(...)): the batch quarter is shingled fresh,
      // the corpus side reads ONLY (doc_id, sig) from the persisted index
      // (text pruned — PlanSpec gate), candidates via band-hash collision,
      // verification via the k-component signature estimator. DETERMINISTIC
      // oracle: DuckDB recomputes both sides' signatures and the same
      // estimator.
      "q_dedup_incremental_pairs",
      wv("""
        model batch = { from documents where doc_id % 4 = 0 }
        from dedup_incremental_pairs('batch', 'mh_index', 'doc_id', 'text', 0.5)
        order by batch_id, corpus_id
      """,
        "mh_index" -> persistedMinhashIndex),
      Some(s"""
        WITH $dedupIncrementalEstCte
        SELECT batch_id, corpus_id, est_jaccard
        FROM est WHERE est_jaccard >= 0.5
        ORDER BY batch_id, corpus_id
      """)
    ),
    (
      // INCREMENTAL maintenance of the MinHash index
      // (Dedup.minhashIndexAppend via minhash_index_append(...)): the
      // index is built over HALF the corpus, the remaining corpus quarter
      // APPENDED (payload column riding along, pre-append files untouched
      // — spec-gated), and the probe batch deduped against the appended
      // index. Signature rows are deterministic per doc, so the appended
      // index ≡ the full build row-for-row and the oracle is
      // q_dedup_incremental_pairs's full DuckDB recompute verbatim.
      "q_minhash_index_append",
      wv("""
        model batch = { from documents where doc_id % 4 = 0 }
        from dedup_incremental_pairs('batch', 'mh_index', 'doc_id', 'text', 0.5)
        order by batch_id, corpus_id
      """,
        "mh_index" -> appendedMinhashIndex),
      Some(s"""
        WITH $dedupIncrementalEstCte
        SELECT batch_id, corpus_id, est_jaccard
        FROM est WHERE est_jaccard >= 0.5
        ORDER BY batch_id, corpus_id
      """)
    ),
    (
      // Incremental dedup, drop form (Dedup.dedupAgainstMinhashIndex via
      // dedup_incremental(...)): the batch rows that survive — today's
      // ingest deduped against yesterday's corpus without re-shingling the
      // corpus.
      "q_dedup_incremental",
      wv("""
        model batch = { from documents where doc_id % 4 = 0 }
        from dedup_incremental('batch', 'mh_index', 'doc_id', 'text', 0.5)
        select doc_id, lang, source
        order by doc_id
      """,
        "mh_index" -> persistedMinhashIndex),
      Some(s"""
        WITH $dedupIncrementalEstCte
        SELECT doc_id, lang, source FROM documents
        WHERE doc_id % 4 = 0
          AND doc_id NOT IN (SELECT batch_id FROM est WHERE est_jaccard >= 0.5)
        ORDER BY doc_id
      """)
    ),
    (
      // DETERMINISTIC oracle (promoted from rows-only in r8): DuckDB
      // recomputes the 64-bit FNV-1a token hashes, the per-bit ±1 votes and
      // the signed simhash, then brute-forces hamming ≤ 8 pairs — the
      // simhash property gate proves the engine's pigeonhole blocking
      // EQUALS brute force, so the blocked plan must match this oracle.
      // Verified equal at sf0.001 and sf0.01 (28,238 pairs).
      "q_dedup_simhash",
      wv("""
        from dedup_simhash('documents', 'doc_id', 'text', 8)
        order by id_a, id_b
      """),
      Some(simhashOracleSql)
    ),
    (
      // Property gate for q_dedup_simhash: chunk-pair pigeonhole blocking is
      // EXACT, so the emitted pair set must EQUAL the brute-force cross-join
      // over the same signatures — zero false pairs (hamming_violations) and
      // zero missed pairs (pigeonhole_missed). Both measured 0 at sf0.001
      // (30,497 pairs) and sf0.01 (28,238 pairs).
      "q_dedup_simhash_property",
      wv("""
        model sigs = { from simhash_table('documents', 'doc_id', 'text') }
        model brute = {
          from { from sigs select id_a = doc_id, sig_a = simhash }
          cross join { from sigs select id_b = doc_id, sig_b = simhash }
          where id_a < id_b and sql"bit_count(sig_a ^ sig_b)" <= 8
          select id_a, id_b, in_brute = true
        }
        from dedup_simhash('documents', 'doc_id', 'text', 8)
        select id_a, id_b, in_emitted = true
        full join brute using id_a, id_b
        agg
          hamming_violations = count_if(in_brute is null),
          pigeonhole_missed = count_if(in_emitted is null)
      """),
      Some("""
        SELECT CAST(0 AS BIGINT) AS hamming_violations, CAST(0 AS BIGINT) AS pigeonhole_missed
      """)
    ),
    (
      "q_dedup_embedding_cosine",
      wv("""
        from dedup_embedding_cosine('embeddings', 'vec_id', 'embedding', 0.35, 'brute')
        order by id_a, id_b
      """),
      Some("""
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          round(
            list_sum(list_transform(range(1, len(a.embedding) + 1), i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)) /
            (sqrt(list_sum(list_transform(range(1, len(a.embedding) + 1), i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE))) *
             sqrt(list_sum(list_transform(range(1, len(b.embedding) + 1), i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)))), 6) AS cos_sim
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE round(
            list_sum(list_transform(range(1, len(a.embedding) + 1), i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)) /
            (sqrt(list_sum(list_transform(range(1, len(a.embedding) + 1), i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE))) *
             sqrt(list_sum(list_transform(range(1, len(b.embedding) + 1), i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)))), 6) >= 0.35
        ORDER BY id_a, id_b
      """)
    ),
    (
      // SemDeDup (Abbas et al. 2023): within-cluster cosine pairs under the
      // md5-min seeded quantizer — same centroid/assignment determinism
      // contract as q_similarity_topk_ivf's oracle.
      "q_dedup_semantic",
      wv("""
        from dedup_semantic_pairs('embeddings', 'vec_id', 'embedding', 32, 0.35)
        order by id_a, id_b
      """),
      Some(s"""
        WITH $semDedupPairsCte
        SELECT bucket, id_a, id_b, cos_sim FROM sem_pairs ORDER BY id_a, id_b
      """)
    ),
    (
      // End-to-end SemDeDup drop: one representative (min id over the pair
      // graph's connected component) per semantic-duplicate group.
      "q_dedup_semantic_drop",
      wv("""
        from dedup_semantic('embeddings', 'vec_id', 'embedding', 32, 0.35)
        select vec_id
        order by vec_id
      """),
      Some(s"""
        WITH RECURSIVE $semDedupPairsCte,
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM sem_pairs
          UNION SELECT id_b, id_a FROM sem_pairs),
        reach(id, lbl) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
        losers AS (
          SELECT id FROM (SELECT id, min(lbl) AS cluster FROM reach GROUP BY id)
          WHERE id != cluster)
        SELECT vec_id FROM embeddings
        WHERE vec_id NOT IN (SELECT id FROM losers) ORDER BY vec_id
      """)
    ),
    (
      "q_similarity_topk_bruteforce",
      wv("""
        model query_vecs = { from embeddings where vec_id < 10 select vec_id, embedding }
        from similarity_topk('embeddings', 'vec_id', 'embedding', 5, 'brute', queries = 'query_vecs')
        order by query_id, rank
      """),
      Some("""
        WITH sims AS (
          SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
            round(
              list_sum(list_transform(range(1, len(c.embedding) + 1), i -> c.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE)) /
              (sqrt(list_sum(list_transform(range(1, len(c.embedding) + 1), i -> c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))) *
               sqrt(list_sum(list_transform(range(1, len(q.embedding) + 1), i -> q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE)))), 6) AS cos_sim
          FROM embeddings c CROSS JOIN (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10) q
          WHERE c.vec_id != q.vec_id),
        ranked AS (
          SELECT query_id, corpus_id, cos_sim,
            row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, corpus_id) AS rank
          FROM sims)
        SELECT query_id, corpus_id, cos_sim, rank::INTEGER AS rank
        FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
      """)
    ),
    (
      // DETERMINISTIC oracle (promoted from rows-only in r9): the DuckDB SQL
      // inlines the SAME seeded hyperplanes the engine uses and recomputes
      // signatures, multi-probe candidacy (hamming ≤ 1 per table — provably
      // equivalent to the engine's probe-set join), and the exact-cosine
      // rank. Verified equal at sf0.001 and sf0.01.
      "q_similarity_topk_lsh",
      wv("""
        model query_vecs = { from embeddings where vec_id < 10 select vec_id, embedding }
        from similarity_topk('embeddings', 'vec_id', 'embedding', 5, 'lsh', 8, 6, queries = 'query_vecs')
        order by query_id, rank
      """),
      Some(lshTopkOracleSql)
    ),
    (
      // the LSH × int8 composition with a FULL oracle: same candidates as
      // q_similarity_topk_lsh, ranked by q_similarity_topk_int8's integer
      // cosine — sign-bit bucketing over the float vectors + 4×-smaller
      // quantized scoring, the complete 100 TB embedding-search recipe
      "q_similarity_topk_lsh_int8",
      wv("""
        model query_vecs = { from embeddings where vec_id < 10 select vec_id, embedding }
        from similarity_topk('embeddings', 'vec_id', 'embedding', 5, 'lsh_int8', 8, 6, queries = 'query_vecs')
        order by query_id, rank
      """),
      Some(lshInt8OracleSql)
    ),
    (
      // Property gate for q_similarity_topk_lsh: (a) every emitted hit's
      // cosine must equal the brute-force cosine for the same (query,
      // corpus) pair — catches a broken kernel in the candidate path; (b)
      // recall@5 vs exact top-k must clear the floor. The floor is 0.4: at
      // this corpus size (500 vecs, 8 planes, 6 tables + multi-probe) the
      // bucketed index probes ~20% of the corpus — measured recall 0.46
      // (sf0.001) / 0.52 (sf0.01), deterministic per dataset under the
      // pinned hyperplanes. Higher recall at scale comes from more tables,
      // not from this gate.
      "q_similarity_lsh_property",
      wv("""
        model query_vecs = { from embeddings where vec_id < 10 select vec_id, embedding }
        model brute = { from similarity_topk('embeddings', 'vec_id', 'embedding', 5, 'brute', queries = 'query_vecs') select query_id, corpus_id, brute_cos = cos_sim, in_brute = true }
        from similarity_topk('embeddings', 'vec_id', 'embedding', 5, 'lsh', 8, 6, queries = 'query_vecs')
        add in_topk = true
        full join brute using query_id, corpus_id
        agg
          cosine_mismatches = count_if(in_topk and in_brute and abs(cos_sim - brute_cos) > 0.000000001),
          recall_floor_met = count_if(in_topk and in_brute) / 50.0 >= 0.4
      """),
      Some("""
        SELECT CAST(0 AS BIGINT) AS cosine_mismatches, true AS recall_floor_met
      """)
    ),
    (
      // int8-quantized brute-force top-k (Similarity.int8BruteForceTopK):
      // per-vector symmetric quantization (scale = max|v|, half-up via
      // floor(x+0.5) — identical across engines) then integer-exact
      // dot/norms. The 4×-smaller-index ANN path for the 100 TB design;
      // fully deterministic, so the DuckDB oracle recomputes the BYTES and
      // the ranking end-to-end.
      "q_similarity_topk_int8",
      wv("""
        model query_vecs = { from embeddings where vec_id < 10 select vec_id, embedding }
        from similarity_topk('embeddings', 'vec_id', 'embedding', 5, 'int8', queries = 'query_vecs')
        order by query_id, rank
      """),
      Some(int8TopkOracleSql)
    ),
    (
      // Property gate for the int8 path: quantization must not collapse
      // ranking quality — recall@5 vs the float brute force clears a 0.9
      // floor (measured 0.98 at both sf0.001 and sf0.01: ±0.5-step rounding
      // on 64 dims swaps only the occasional boundary pair of a top-5).
      "q_similarity_int8_property",
      wv("""
        model query_vecs = { from embeddings where vec_id < 10 select vec_id, embedding }
        model brute = { from similarity_topk('embeddings', 'vec_id', 'embedding', 5, 'brute', queries = 'query_vecs') }
        model int8 = { from similarity_topk('embeddings', 'vec_id', 'embedding', 5, 'int8', queries = 'query_vecs') }
        from brute
          where exists { from int8 where int8.query_id = brute.query_id and int8.corpus_id = brute.corpus_id }
        agg recall_floor_met = _.count / 50.0 >= 0.9
      """),
      Some("SELECT true AS recall_floor_met")
    ),
    (
      // The persistable int8 ANN index itself (Similarity.buildInt8Index,
      // exposed as ann_int8_index(...)): per-row scale + byte checksums —
      // the oracle recomputes the quantized bytes in DuckDB, so the
      // persisted artifact's content is pinned, not just its downstream
      // query results. (Checksums rather than the raw array: tinyint vs
      // BIGINT list physical types would defeat the hash compare.)
      "q_ann_int8_index",
      wv("""
        from ann_int8_index('embeddings', 'vec_id', 'embedding')
        select
          vec_id,
          scale_r = round(scale, 6),
          dim = cast(size(q8) as bigint),
          q8_sum = aggregate(q8, 0, (a, x) -> a + cast(x as bigint)),
          q8_sumsq = aggregate(q8, 0, (a, x) -> a + cast(x as bigint) * cast(x as bigint))
        order by vec_id
      """),
      Some("""
        WITH scales AS (
          SELECT vec_id, embedding,
                 list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS s
          FROM embeddings),
        qv AS (
          SELECT vec_id, s,
                 CASE WHEN s = 0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
                      ELSE list_transform(embedding,
                             x -> CAST(floor(x::DOUBLE * 127 / s + 0.5) AS BIGINT)) END AS q
          FROM scales)
        SELECT vec_id, round(s, 6) AS scale_r, CAST(len(q) AS BIGINT) AS dim,
               CAST(list_sum(q) AS BIGINT) AS q8_sum,
               CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS q8_sumsq
        FROM qv ORDER BY vec_id
      """)
    ),
    (
      // Top-k over the PERSISTED int8 index (Similarity.int8IndexTopK):
      // the index is CTAS'd once per corpus (offline step), read back from
      // parquet, and queried WITHOUT any float column in the scan
      // (PlanSpec gates the pruning) — the 4×-smaller-index claim as real
      // I/O. Scores are byte-deterministic, so the on-the-fly int8 oracle
      // pins this path too.
      "q_similarity_topk_int8_index",
      wv("""
        model query_vecs = { from int8_index where vec_id < 10 }
        from similarity_topk('int8_index', 'vec_id', 'q8', 5, 'int8_index', queries = 'query_vecs')
        order by query_id, rank
      """,
        "int8_index" -> persistedInt8Index),
      Some(int8TopkOracleSql)
    ),
    (
      // INCREMENTAL maintenance of the int8 ANN index
      // (Similarity.int8IndexAppend via ann_int8_index_append(...)): the
      // index is built over the odd vec_ids and the evens APPENDED —
      // per-row-deterministic quantization makes the appended index
      // row-identical to the full build, so serving over it reuses the
      // full int8 oracle SQL verbatim (bitwise).
      "q_ann_int8_index_append",
      wv("""
        model query_vecs = { from int8_index where vec_id < 10 }
        from similarity_topk('int8_index', 'vec_id', 'q8', 5, 'int8_index', queries = 'query_vecs')
        order by query_id, rank
      """,
        "int8_index" -> appendedInt8Index),
      Some(int8TopkOracleSql)
    ),
    (
      // LSH × persisted int8 index (Similarity.lshTopKInt8Index): buckets
      // AND scores from the quantized bytes — the all-quantized serving
      // shape where the float column is never read for any purpose. Full
      // DuckDB oracle (signatures recomputed over the quantized vectors).
      "q_similarity_topk_lsh_int8_index",
      wv("""
        model query_vecs = { from int8_index where vec_id < 10 }
        from similarity_topk('int8_index', 'vec_id', 'q8', 5, 'lsh_int8_index', 8, 6, queries = 'query_vecs')
        order by query_id, rank
      """,
        "int8_index" -> persistedInt8Index),
      Some(lshInt8IndexOracleSql)
    ),
    (
      // LSH top-k over the bucket-PARTITIONED persisted posting index
      // (Similarity.lshTopKPartitionedIndex): probe buckets push down as a
      // static partition filter, so the scan READS only
      // ~tables·(planes+1)/2^planes of the index — an index lookup, not a
      // table scan (PlanSpec gates PartitionFilters). Candidates and
      // integer scoring are identical to q_similarity_topk_lsh_int8_index,
      // so the signature-from-q8 oracle pins this path too.
      "q_similarity_topk_lsh_int8_part",
      wv("""
        model query_vecs = { from int8_index where vec_id < 10 }
        from similarity_topk('${lsh_postings}', 'vec_id', 'q8', 5, 'lsh_int8_part', 8, 6, queries = 'query_vecs')
        order by query_id, rank
      """,
        "int8_index" -> persistedInt8Index,
        "lsh_postings" -> persistedLshInt8Index),
      Some(lshInt8IndexOracleSql)
    ),
    (
      // IVF top-k over the cell-PARTITIONED persisted int8 index
      // (Similarity.writeIvfInt8Index + ivfTopKPartitionedIndex): centroids
      // load from the tiny sidecar, the probed cells push down as a static
      // partition filter (~nprobe/nlist of the index read), integer-dot
      // ranking — the IVF twin of the partitioned LSH row, fully oracled
      // (assignment, probes, and scores all recomputed in DuckDB over the
      // quantized vectors).
      "q_similarity_topk_ivf_int8_part",
      wv("""
        model query_vecs = { from int8_index where vec_id < 10 }
        from similarity_topk('${ivf_index}', 'vec_id', 'q8', 5, 'ivf_int8_part', nprobe = 4, queries = 'query_vecs')
        order by query_id, rank
      """,
        "int8_index" -> persistedInt8Index,
        "ivf_index" -> persistedIvfInt8Index),
      Some(ivfInt8PartOracleSql)
    ),
    (
      // Property gate for the q8-signature path: bucketing on quantized
      // vectors must hold the same recall floor as the float-signature LSH
      // (0.4 at this corpus density — sign bits flip only inside the
      // ±0.5-step rounding band, so candidate sets are near-identical).
      "q_similarity_int8_index_property",
      wv("""
        model query_vecs = { from int8_index where vec_id < 10 }
        model brute = { from similarity_topk('int8_index', 'vec_id', 'q8', 5, 'int8_index', queries = 'query_vecs') }
        model lsh = { from similarity_topk('int8_index', 'vec_id', 'q8', 5, 'lsh_int8_index', 8, 6, queries = 'query_vecs') }
        from brute
          where exists { from lsh where lsh.query_id = brute.query_id and lsh.corpus_id = brute.corpus_id }
        agg recall_floor_met = _.count / 50.0 >= 0.4
      """,
        "int8_index" -> persistedInt8Index),
      Some("SELECT true AS recall_floor_met")
    ),
    (
      // IVF-flat with the deterministic seeded coarse quantizer
      // (Similarity.ivfSeededTopK) — every step SQL-recomputable, so this
      // row carries a full DuckDB oracle (promoted from rows-only in r9).
      // The trained-KMeans quantizer path stays covered by
      // q_similarity_ivf_property's exact-cosine + recall gates below.
      "q_similarity_topk_ivf",
      wv("""
        model query_vecs = { from embeddings where vec_id < 10 select vec_id, embedding }
        from similarity_topk('embeddings', 'vec_id', 'embedding', 5, 'ivf', nlist = 32, nprobe = 4, queries = 'query_vecs')
        order by query_id, rank
      """),
      Some(ivfSeededOracleSql)
    ),
    (
      // Property gate for q_similarity_topk_ivf — same two invariants as
      // the LSH gate (exact cosine on emitted hits; recall@5 floor 0.4 vs
      // brute force: measured 0.44 sf0.001 / 0.54 sf0.01, deterministic
      // under the seeded KMeans quantizer).
      "q_similarity_ivf_property",
      wv("""
        model query_vecs = { from embeddings where vec_id < 10 select vec_id, embedding }
        model brute = { from similarity_topk('embeddings', 'vec_id', 'embedding', 5, 'brute', queries = 'query_vecs') select query_id, corpus_id, brute_cos = cos_sim, in_brute = true }
        model checks = {
          from similarity_topk('embeddings', 'vec_id', 'embedding', 5, 'ivf_kmeans', nlist = 32, nprobe = 4, queries = 'query_vecs')
          add in_topk = true
          full join brute using query_id, corpus_id
          agg
            cosine_mismatches = count_if(in_topk and in_brute and abs(cos_sim - brute_cos) > 0.000000001),
            recall_floor_met = count_if(in_topk and in_brute) / 50.0 >= 0.4
        }
        -- the seeded-quantizer variant (the oracled q_similarity_topk_ivf) must
        -- clear the same recall floor: an untrained quantizer trades a few
        -- recall points for SQL-portability, not more
        model seeded = { from similarity_topk('embeddings', 'vec_id', 'embedding', 5, 'ivf', nlist = 32, nprobe = 4, queries = 'query_vecs') }
        model seeded_recall = {
          from brute
          where exists { from seeded where seeded.query_id = brute.query_id and seeded.corpus_id = brute.corpus_id }
          agg seeded_recall_floor_met = _.count / 50.0 >= 0.4
        }
        from checks cross join seeded_recall
      """),
      Some("""
        SELECT CAST(0 AS BIGINT) AS cosine_mismatches, true AS recall_floor_met,
               true AS seeded_recall_floor_met
      """)
    ),
    (
      // Product-quantization ANN (Similarity.pqTopK): vectors stored as 16
      // subspace codes against a 64-centroid-per-subspace codebook — the
      // COMPRESSION tier (96-bit codes vs 256 float bytes at dim 64, ~21×;
      // O(m) lookup adds per pair via the per-query ADC table). FULL oracle:
      // the codebook is the seeded-centroid idiom (smallest (md5(id), id)
      // rows, no Lloyd), so DuckDB re-derives codebook → codes (argmin
      // with (dist, j) tie-break) → ADC sums (index-ordered list_sum =
      // the kernel's ascending-s double accumulation, bitwise) → top-k.
      "q_similarity_topk_pq",
      wv("""
        model query_vecs = { from embeddings where vec_id < 10 select vec_id, embedding }
        from similarity_topk('embeddings', 'vec_id', 'embedding', 5, 'pq', queries = 'query_vecs')
        order by query_id, rank
      """),
      Some("""
        WITH seeds AS (
          SELECT embedding AS cv, row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS j
          FROM embeddings
          QUALIFY j < 64
        ),
        sub AS (SELECT unnest(range(0, 16)) AS s),
        cd AS (
          SELECT b.vec_id, sub.s, sd.j,
            list_sum(list_transform(range(sub.s * 4 + 1, sub.s * 4 + 5),
              i -> (b.embedding[i]::DOUBLE - sd.cv[i]::DOUBLE)
                 * (b.embedding[i]::DOUBLE - sd.cv[i]::DOUBLE))) AS dist
          FROM embeddings b, sub, seeds sd
        ),
        codes AS (
          SELECT vec_id, list(code ORDER BY s) AS codes FROM (
            SELECT vec_id, s, j AS code,
              row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, j) AS rn
            FROM cd
          ) WHERE rn = 1 GROUP BY vec_id
        ),
        qd AS (
          SELECT q.vec_id AS query_id, sub.s, sd.j,
            list_sum(list_transform(range(sub.s * 4 + 1, sub.s * 4 + 5),
              i -> (q.embedding[i]::DOUBLE - sd.cv[i]::DOUBLE)
                 * (q.embedding[i]::DOUBLE - sd.cv[i]::DOUBLE))) AS dist
          FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10) q, sub, seeds sd
        ),
        qdl AS (SELECT query_id, list(dist ORDER BY s, j) AS dt FROM qd GROUP BY query_id),
        scored AS (
          SELECT qdl.query_id, c.vec_id AS corpus_id,
            round(list_sum(list_transform(range(1, 17),
              s -> qdl.dt[(s - 1) * 64 + c.codes[s] + 1])), 6) AS pq_dist
          FROM codes c CROSS JOIN qdl
          WHERE c.vec_id != qdl.query_id
        ),
        ranked AS (
          SELECT query_id, corpus_id, pq_dist,
            row_number() OVER (PARTITION BY query_id ORDER BY pq_dist, corpus_id) AS rank
          FROM scored
        )
        SELECT query_id, corpus_id, pq_dist, rank::INTEGER AS rank
        FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
      """)
    ),
    (
      // PQ over a PERSISTED index by SYMMETRIC distance (SDC,
      // Similarity.pqIndexTopK): both sides are code arrays read back from
      // the CTAS'd index — NO float column anywhere in the serving path
      // (PlanSpec gates the pruned read; the index is payload-bearing so
      // the gate is non-vacuous). FULL oracle: DuckDB re-derives codebook
      // → codes → the m·ksub² centroid-pair table (ordered list) → SDC
      // sums, all bitwise.
      "q_similarity_topk_pq_index",
      wv("""
        model query_codes = { from pq_index where vec_id < 10 select vec_id, codes }
        from similarity_topk('${pq_index}', 'vec_id', 'codes', 5, 'pq_index', queries = 'query_codes')
        order by query_id, rank
      """,
        "pq_index" -> persistedPqIndex),
      Some("""
        WITH seeds AS (
          SELECT embedding AS cv, row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS j
          FROM embeddings
          QUALIFY j < 64
        ),
        sub AS (SELECT unnest(range(0, 16)) AS s),
        cd AS (
          SELECT b.vec_id, sub.s, sd.j,
            list_sum(list_transform(range(sub.s * 4 + 1, sub.s * 4 + 5),
              i -> (b.embedding[i]::DOUBLE - sd.cv[i]::DOUBLE)
                 * (b.embedding[i]::DOUBLE - sd.cv[i]::DOUBLE))) AS dist
          FROM embeddings b, sub, seeds sd
        ),
        codes AS (
          SELECT vec_id, list(code ORDER BY s) AS codes FROM (
            SELECT vec_id, s, j AS code,
              row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, j) AS rn
            FROM cd
          ) WHERE rn = 1 GROUP BY vec_id
        ),
        sdt AS (
          SELECT sub.s, a.j AS j1, b.j AS j2,
            list_sum(list_transform(range(sub.s * 4 + 1, sub.s * 4 + 5),
              i -> (a.cv[i]::DOUBLE - b.cv[i]::DOUBLE)
                 * (a.cv[i]::DOUBLE - b.cv[i]::DOUBLE))) AS dist
          FROM sub, seeds a, seeds b
        ),
        sdtl AS (SELECT list(dist ORDER BY s, j1, j2) AS t FROM sdt),
        scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
            round(list_sum(list_transform(range(1, 17),
              s -> sdtl.t[(s - 1) * 4096 + c.codes[s] * 64 + q.codes[s] + 1])), 6)
              AS pq_sdc_dist
          FROM codes c
          CROSS JOIN (SELECT vec_id, codes FROM codes WHERE vec_id < 10) q
          CROSS JOIN sdtl
          WHERE c.vec_id != q.vec_id
        ),
        ranked AS (
          SELECT query_id, corpus_id, pq_sdc_dist,
            row_number() OVER (PARTITION BY query_id ORDER BY pq_sdc_dist, corpus_id) AS rank
          FROM scored
        )
        SELECT query_id, corpus_id, pq_sdc_dist, rank::INTEGER AS rank
        FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
      """)
    ),
    (
      // INCREMENTAL maintenance of the PQ index with the FROZEN persisted
      // codebook (Similarity.pqIndexAppend via ann_pq_index_append(...)) —
      // the FAISS add() semantic: a rebuild would reseed the codebook, so
      // the incremental contract is "corpus ∪ batch encoded with the BASE
      // corpus' codebook", and the oracle is the SDC full recompute with
      // its seeds CTE restricted to the odd (base) ids. Centroids
      // round-trip parquet bit-exactly, so batch codes are bitwise a
      // driver re-encode and the whole row is hash-strict.
      "q_ann_pq_index_append",
      wv("""
        model query_codes = { from pq_index where vec_id < 10 select vec_id, codes }
        from similarity_topk('${pq_index}', 'vec_id', 'codes', 5, 'pq_index', queries = 'query_codes')
        order by query_id, rank
      """,
        "pq_index" -> appendedPqIndex),
      Some("""
        WITH seeds AS (
          SELECT embedding AS cv, row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS j
          FROM embeddings
          WHERE vec_id % 2 = 1
          QUALIFY j < 64
        ),
        sub AS (SELECT unnest(range(0, 16)) AS s),
        cd AS (
          SELECT b.vec_id, sub.s, sd.j,
            list_sum(list_transform(range(sub.s * 4 + 1, sub.s * 4 + 5),
              i -> (b.embedding[i]::DOUBLE - sd.cv[i]::DOUBLE)
                 * (b.embedding[i]::DOUBLE - sd.cv[i]::DOUBLE))) AS dist
          FROM embeddings b, sub, seeds sd
        ),
        codes AS (
          SELECT vec_id, list(code ORDER BY s) AS codes FROM (
            SELECT vec_id, s, j AS code,
              row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, j) AS rn
            FROM cd
          ) WHERE rn = 1 GROUP BY vec_id
        ),
        sdt AS (
          SELECT sub.s, a.j AS j1, b.j AS j2,
            list_sum(list_transform(range(sub.s * 4 + 1, sub.s * 4 + 5),
              i -> (a.cv[i]::DOUBLE - b.cv[i]::DOUBLE)
                 * (a.cv[i]::DOUBLE - b.cv[i]::DOUBLE))) AS dist
          FROM sub, seeds a, seeds b
        ),
        sdtl AS (SELECT list(dist ORDER BY s, j1, j2) AS t FROM sdt),
        scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
            round(list_sum(list_transform(range(1, 17),
              s -> sdtl.t[(s - 1) * 4096 + c.codes[s] * 64 + q.codes[s] + 1])), 6)
              AS pq_sdc_dist
          FROM codes c
          CROSS JOIN (SELECT vec_id, codes FROM codes WHERE vec_id < 10) q
          CROSS JOIN sdtl
          WHERE c.vec_id != q.vec_id
        ),
        ranked AS (
          SELECT query_id, corpus_id, pq_sdc_dist,
            row_number() OVER (PARTITION BY query_id ORDER BY pq_sdc_dist, corpus_id) AS rank
          FROM scored
        )
        SELECT query_id, corpus_id, pq_sdc_dist, rank::INTEGER AS rank
        FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
      """)
    ),
    (
      // IVF-PQ (Similarity.ivfPqTopK) — the canonical composed ANN (FAISS's
      // workhorse shape): seeded coarse cells cut the CANDIDATE COUNT
      // (nprobe/nlist of the corpus per query), PQ ADC cuts the
      // per-candidate BYTES + ARITHMETIC. Cell assignment shares the
      // ivf-seeded contract (rounded cosine, NaN→-1, first-max); the
      // codebook shares pq's — so the whole composition is one FULL DuckDB
      // oracle.
      "q_similarity_topk_ivf_pq",
      wv("""
        model query_vecs = { from embeddings where vec_id < 10 select vec_id, embedding }
        from similarity_topk('embeddings', 'vec_id', 'embedding', 5, 'ivf_pq', nlist = 32, nprobe = 4, queries = 'query_vecs')
        order by query_id, rank
      """),
      Some(s"""
        WITH cells AS (
          SELECT embedding AS cvec,
            row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS bucket
          FROM embeddings
          QUALIFY row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) <= 32
        ),
        cos_ec AS (
          SELECT e.vec_id, s.bucket,
            COALESCE(NULLIF(${duckCosine("e.embedding", "s.cvec")}, 'NaN'::DOUBLE), -1.0) AS cs
          FROM embeddings e CROSS JOIN cells s
        ),
        assign AS (
          SELECT vec_id, bucket FROM cos_ec
          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, bucket) = 1
        ),
        probes AS (
          SELECT vec_id AS query_id, bucket FROM cos_ec WHERE vec_id < 10
          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, bucket) <= 4
        ),
        seeds AS (
          SELECT embedding AS cv, row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS j
          FROM embeddings
          QUALIFY j < 64
        ),
        sub AS (SELECT unnest(range(0, 16)) AS s),
        cdist AS (
          SELECT b.vec_id, sub.s, sd.j,
            list_sum(list_transform(range(sub.s * 4 + 1, sub.s * 4 + 5),
              i -> (b.embedding[i]::DOUBLE - sd.cv[i]::DOUBLE)
                 * (b.embedding[i]::DOUBLE - sd.cv[i]::DOUBLE))) AS dist
          FROM embeddings b, sub, seeds sd
        ),
        codes AS (
          SELECT vec_id, list(code ORDER BY s) AS codes FROM (
            SELECT vec_id, s, j AS code,
              row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, j) AS rn
            FROM cdist
          ) WHERE rn = 1 GROUP BY vec_id
        ),
        qd AS (
          SELECT q.vec_id AS query_id, sub.s, sd.j,
            list_sum(list_transform(range(sub.s * 4 + 1, sub.s * 4 + 5),
              i -> (q.embedding[i]::DOUBLE - sd.cv[i]::DOUBLE)
                 * (q.embedding[i]::DOUBLE - sd.cv[i]::DOUBLE))) AS dist
          FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10) q, sub, seeds sd
        ),
        qdl AS (SELECT query_id, list(dist ORDER BY s, j) AS dt FROM qd GROUP BY query_id),
        cand AS (
          SELECT p.query_id, a.vec_id AS corpus_id
          FROM assign a JOIN probes p USING (bucket)
          WHERE a.vec_id != p.query_id
        ),
        scored AS (
          SELECT cnd.query_id, cnd.corpus_id,
            round(list_sum(list_transform(range(1, 17),
              s -> qdl.dt[(s - 1) * 64 + c.codes[s] + 1])), 6) AS pq_dist
          FROM cand cnd
          JOIN codes c ON c.vec_id = cnd.corpus_id
          JOIN qdl ON qdl.query_id = cnd.query_id
        ),
        ranked AS (
          SELECT query_id, corpus_id, pq_dist,
            row_number() OVER (PARTITION BY query_id ORDER BY pq_dist, corpus_id) AS rank
          FROM scored
        )
        SELECT query_id, corpus_id, pq_dist, rank::INTEGER AS rank
        FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
      """)
    ),
    (
      // The ann_pq_index WRITER on the language surface (index parquet +
      // codebook sibling are two outputs, which a plain CTAS of a returned
      // frame cannot express — so the table function writes and returns a
      // 1-row summary). The CONTENT of what it writes is bitwise-verified
      // by q_similarity_topk_pq_index's full oracle; this row pins the
      // summary contract (row count = non-null vectors, quantizer shape).
      "q_ann_pq_index",
      wv("""
        from ann_pq_index('embeddings', 'vec_id', 'embedding', '/tmp/graft_pq_idx_wv', 16, 64)
      """),
      Some("""
        SELECT '/tmp/graft_pq_idx_wv' AS path, count(*)::BIGINT AS rows,
               16 AS subspaces, 64 AS ksub
        FROM embeddings WHERE embedding IS NOT NULL
      """)
    ),
    (
      // Property gate for q_similarity_topk_pq: a sampled (Lloyd-free)
      // codebook is recall-shaped, not exactness-shaped — recall@5 vs
      // brute force above a 0.3 floor (measured 0.40 at sf0.001 AND
      // sf0.01 with m=16/ksub=64; unit-norm vectors make the L2 ADC order
      // the cosine order), plus bitwise determinism across two
      // independent plans (codebook collection + encode + ADC are all
      // seeded/exact).
      "q_similarity_pq_property",
      wv("""
        model query_vecs = { from embeddings where vec_id < 10 select vec_id, embedding }
        model brute = { from similarity_topk('embeddings', 'vec_id', 'embedding', 5, 'brute', queries = 'query_vecs') select query_id, corpus_id, in_brute = true }
        -- one pipeline over two runs of pq (side 1 and -1): drift counts the rows
        -- the runs disagree on, recall the brute hits of run 1
        model checks = {
          from similarity_topk('embeddings', 'vec_id', 'embedding', 5, 'pq', queries = 'query_vecs')
          add side = 1
          concat {
            from similarity_topk('embeddings', 'vec_id', 'embedding', 5, 'pq', queries = 'query_vecs')
            add side = -1
          }
          left join brute using query_id, corpus_id
          group by query_id, corpus_id, pq_dist, rank
          agg s = side.sum, hits = count_if(side = 1 and in_brute)
        }
        from checks
        agg
          recall_floor_met = coalesce(sum(hits), 0) / 50.0 >= 0.3,
          nondeterministic_rows = coalesce(sum(abs(s)), 0)
      """),
      Some("""
        SELECT true AS recall_floor_met, CAST(0 AS BIGINT) AS nondeterministic_rows
      """)
    ),
    (
      // TRAINED-codebook PQ (Similarity.pqTopK(trained=true) via
      // similarity_topk(..., 'pq_trained')) — the production ANN tier the
      // seeded variant teaches toward: per-subspace Lloyd k-means over the
      // seeded 512-row sample, PQ32x8 shape (FAISS's standard byte-code
      // quantizer). Recall@5 0.90/0.92 vs brute at sf0.01/sf0.001 (the
      // seeded tier: 0.40), gated >= 0.7 in the _property row. STILL a
      // FULL bitwise oracle: the Lloyd loop is deterministic ascending-rank
      // arithmetic, so DuckDB replays the training itself (trainedPqCbCte
      // unrolls the iterations) and re-derives codebook -> codes -> ADC.
      "q_similarity_topk_pq_trained",
      wv(s"""
        model query_vecs = { from embeddings where vec_id < 10 select vec_id, embedding }
        from similarity_topk('embeddings', 'vec_id', 'embedding', 5, 'pq_trained', ${Similarity.PqTrainSample}, queries = 'query_vecs')
        order by query_id, rank
      """),
      Some {
        val m = Similarity.PqTrainedSubspaces
        val ksub = Similarity.PqTrainedKsub
        val dsub = 64 / m
        s"""
        WITH ${trainedPqCbCte(m, ksub, dsub)},
        codes AS (
          SELECT vec_id, list(code ORDER BY s) AS codes FROM (
            SELECT b.vec_id, t.s AS s,
              min([${trainedPqSliceDist("b", "t", dsub)}, t.j::DOUBLE])[2]::BIGINT AS code
            FROM embeddings b CROSS JOIN tcb t
            GROUP BY b.vec_id, t.s
          ) GROUP BY vec_id
        ),
        qd AS (
          SELECT q.vec_id AS query_id, t.s, t.j,
            ${trainedPqSliceDist("q", "t", dsub)} AS dist
          FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10) q, tcb t
        ),
        qdl AS (SELECT query_id, list(dist ORDER BY s, j) AS dt FROM qd GROUP BY query_id),
        scored AS (
          SELECT qdl.query_id, c.vec_id AS corpus_id,
            round(list_sum(list_transform(range(1, ${m + 1}),
              s -> qdl.dt[(s - 1) * $ksub + c.codes[s] + 1])), 6) AS pq_dist
          FROM codes c CROSS JOIN qdl
          WHERE c.vec_id != qdl.query_id
        ),
        ranked AS (
          SELECT query_id, corpus_id, pq_dist,
            row_number() OVER (PARTITION BY query_id ORDER BY pq_dist, corpus_id) AS rank
          FROM scored
        )
        SELECT query_id, corpus_id, pq_dist, rank::INTEGER AS rank
        FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
        """
      }
    ),
    (
      // Property gate for the trained tier: recall@5 vs float brute force
      // >= 0.7 (the r15 verdict's bar for "production-grade PQ") plus
      // bitwise determinism across two independently-built plans (the
      // Lloyd trainer is seeded and exact, so two runs produce identical
      // codebooks). Since r17 this row trains at the SERVING default —
      // PqTrainSampleDefault = min(16384, corpus), i.e. the whole corpus
      // at the test SFs — so the gate measures the quality users get; the
      // 512-sample teaching tier stays pinned by the bitwise rows above
      // (which pass trainSample explicitly).
      "q_similarity_pq_trained_property",
      wv(s"""
        model query_vecs = { from embeddings where vec_id < 10 select vec_id, embedding }
        model brute = { from similarity_topk('embeddings', 'vec_id', 'embedding', 5, 'brute', queries = 'query_vecs') select query_id, corpus_id, in_brute = true }
        -- one pipeline over two runs of pq (side 1 and -1): drift counts the rows
        -- the runs disagree on, recall the brute hits of run 1
        model checks = {
          from similarity_topk('embeddings', 'vec_id', 'embedding', 5, 'pq_trained', ${Similarity.PqTrainSampleDefault}, queries = 'query_vecs')
          add side = 1
          concat {
            from similarity_topk('embeddings', 'vec_id', 'embedding', 5, 'pq_trained', ${Similarity.PqTrainSampleDefault}, queries = 'query_vecs')
            add side = -1
          }
          left join brute using query_id, corpus_id
          group by query_id, corpus_id, pq_dist, rank
          agg s = side.sum, hits = count_if(side = 1 and in_brute)
        }
        from checks
        agg
          recall_floor_met = coalesce(sum(hits), 0) / 50.0 >= 0.7,
          nondeterministic_rows = coalesce(sum(abs(s)), 0)
      """),
      Some("""
        SELECT true AS recall_floor_met, CAST(0 AS BIGINT) AS nondeterministic_rows
      """)
    ),
    (
      // IVF-PQ with the TRAINED codebook (similarity_topk(...,
      // 'ivf_pq_trained')): seeded coarse cells cut candidates, trained
      // PQ32x8 ADC ranks them. At these parameters the trained tier's
      // recall equals the FLOAT ivf recall (0.48/0.40 at sf0.01/0.001 ==
      // ivfSeededTopK's) — the PQ compression step is recall-FREE; all
      // residual loss is IVF probe loss. Full bitwise oracle: ivf_pq's
      // cell/probe CTEs + the replayed Lloyd training.
      "q_similarity_topk_ivf_pq_trained",
      wv(s"""
        model query_vecs = { from embeddings where vec_id < 10 select vec_id, embedding }
        from similarity_topk('embeddings', 'vec_id', 'embedding', 5, 'ivf_pq_trained', ${Similarity.PqTrainSample}, queries = 'query_vecs')
        order by query_id, rank
      """),
      Some {
        val m = Similarity.PqTrainedSubspaces
        val ksub = Similarity.PqTrainedKsub
        val dsub = 64 / m
        s"""
        WITH cells AS (
          SELECT embedding AS cvec,
            row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS bucket
          FROM embeddings
          QUALIFY row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) <= 32
        ),
        cos_ec AS (
          SELECT e.vec_id, s.bucket,
            COALESCE(NULLIF(${duckCosine("e.embedding", "s.cvec")}, 'NaN'::DOUBLE), -1.0) AS cs
          FROM embeddings e CROSS JOIN cells s
        ),
        assign AS (
          SELECT vec_id, bucket FROM cos_ec
          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, bucket) = 1
        ),
        probes AS (
          SELECT vec_id AS query_id, bucket FROM cos_ec WHERE vec_id < 10
          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, bucket) <= 4
        ),
        ${trainedPqCbCte(m, ksub, dsub)},
        codes AS (
          SELECT vec_id, list(code ORDER BY s) AS codes FROM (
            SELECT b.vec_id, t.s AS s,
              min([${trainedPqSliceDist("b", "t", dsub)}, t.j::DOUBLE])[2]::BIGINT AS code
            FROM embeddings b CROSS JOIN tcb t
            GROUP BY b.vec_id, t.s
          ) GROUP BY vec_id
        ),
        qd AS (
          SELECT q.vec_id AS query_id, t.s, t.j,
            ${trainedPqSliceDist("q", "t", dsub)} AS dist
          FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10) q, tcb t
        ),
        qdl AS (SELECT query_id, list(dist ORDER BY s, j) AS dt FROM qd GROUP BY query_id),
        cand AS (
          SELECT p.query_id, a.vec_id AS corpus_id
          FROM assign a JOIN probes p USING (bucket)
          WHERE a.vec_id != p.query_id
        ),
        scored AS (
          SELECT cnd.query_id, cnd.corpus_id,
            round(list_sum(list_transform(range(1, ${m + 1}),
              s -> qdl.dt[(s - 1) * $ksub + c.codes[s] + 1])), 6) AS pq_dist
          FROM cand cnd
          JOIN codes c ON c.vec_id = cnd.corpus_id
          JOIN qdl ON qdl.query_id = cnd.query_id
        ),
        ranked AS (
          SELECT query_id, corpus_id, pq_dist,
            row_number() OVER (PARTITION BY query_id ORDER BY pq_dist, corpus_id) AS rank
          FROM scored
        )
        SELECT query_id, corpus_id, pq_dist, rank::INTEGER AS rank
        FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
        """
      }
    ),
    (
      // The ann_pq_index writer's 'trained' mode on the language surface —
      // same two-output write with the Lloyd-trained codebook. Summary
      // contract pinned here; the trained codebook arithmetic itself is
      // bitwise-pinned by q_similarity_topk_pq_trained.
      "q_ann_pq_index_trained",
      wv(s"""
        from ann_pq_index('embeddings', 'vec_id', 'embedding',
          '/tmp/graft_pq_idx_trained_wv', ${Similarity.PqTrainedSubspaces},
          ${Similarity.PqTrainedKsub}, 'trained')
      """),
      Some(s"""
        SELECT '/tmp/graft_pq_idx_trained_wv' AS path, count(*)::BIGINT AS rows,
               ${Similarity.PqTrainedSubspaces} AS subspaces,
               ${Similarity.PqTrainedKsub} AS ksub
        FROM embeddings WHERE embedding IS NOT NULL
      """)
    ),
    (
      "q_multimodal_media",
      wv("""
        model docs_bin = { from documents add payload = cast(text as binary) }
        from as_media('docs_bin', 'payload', 'text/plain')
        select doc_id, media_type, n_bytes, sha
        order by doc_id
      """),
      Some("""
        SELECT doc_id, 'text/plain' AS media_type,
               octet_length(text::BLOB)::BIGINT AS n_bytes,
               sha256(text) AS sha
        FROM documents ORDER BY doc_id
      """)
    ),
    (
      // REAL image decode (javax.imageio in the mapPartitions kernel —
      // PNG readers ship inside the JDK): a deterministic synthetic PNG
      // corpus (solid grays, half-black/half-white splits, solid RGB,
      // plus one corrupt payload) is decoded to width/height/mean
      // luminance/8-bucket histogram. The oracle is CLOSED FORM: every
      // pattern's statistics are computable by arithmetic (solid v ->
      // mean v/255, even split -> 0.5 with half the mass in each end
      // bucket), so the DuckDB side is a literal VALUES table derived
      // from the same formulas — decode correctness, not just plumbing.
      "q_multimodal_decode",
      wv("""
        from decode_images('pngs', 'img_id', 'png')
        select
          img_id, decoded, width, height,
          mean_lum = round(mean_lum + 0.000000005, 4),
          h0 = round(lum_hist[1] + 0.000000005, 4), h1 = round(lum_hist[2] + 0.000000005, 4),
          h2 = round(lum_hist[3] + 0.000000005, 4), h3 = round(lum_hist[4] + 0.000000005, 4),
          h4 = round(lum_hist[5] + 0.000000005, 4), h5 = round(lum_hist[6] + 0.000000005, 4),
          h6 = round(lum_hist[7] + 0.000000005, 4), h7 = round(lum_hist[8] + 0.000000005, 4)
        order by img_id
      """,
        "pngs" -> pngStage),
      Some(multimodalDecodeOracleSql)
    ),
    (
      // REAL resize (Graphics2D bilinear + PNG re-encode) proven by
      // re-decoding: a solid image resized to 8x6 is still solid with the
      // same mean, so the closed-form VALUES oracle pins dims AND pixels.
      "q_multimodal_resize",
      wv("""
        model solids = { from pngs where img_id % 3 != 1 }
        model resized = { from resize_images('solids', 'img_id', 'png', 8, 6) }
        from decode_images('resized', 'img_id', 'png')
        select img_id, decoded, width, height, mean_lum = round(mean_lum + 0.000000005, 4)
        order by img_id
      """,
        "pngs" -> pngStage),
      Some(multimodalResizeOracleSql)
    ),
    (
      // REAL audio decode (javax.sound.sampled — the JDK's WAV reader):
      // silence, a square wave, and a period-exact 1 kHz sine decode to
      // rate/channels/duration/RMS/zero-crossings; the corrupt payload
      // reports decoded=false. Closed-form VALUES oracle like the image
      // rows — the sample patterns repeat exactly, so RMS and crossing
      // counts are computable without running the decoder.
      "q_multimodal_audio",
      wv("""
        from decode_audio('wavs', 'audio_id', 'wav')
        select
          audio_id, decoded, sample_rate, channels, n_samples,
          duration_sec = round(duration_sec + 0.000000005, 4),
          rms = round(rms + 0.000000005, 4),
          zero_crossings
        order by audio_id
      """,
        "wavs" -> wavStage),
      Some(multimodalAudioOracleSql)
    ),
    (
      // REAL video frame decode for AVI containers (RIFF walk to movi,
      // uncompressed bottom-up BGR24 DIB frames parsed exactly; MJPEG
      // frames take the javax.imageio path, spec-covered since JPEG is
      // lossy): one row per stride-sampled frame with dims + mean
      // luminance, closed-form VALUES oracle over a deterministic raw-DIB
      // corpus. Non-AVI payloads report decoded=false.
      "q_multimodal_video",
      wv("""
        from decode_video('avis', 'video_id', 'avi')
        select
          video_id, decoded, n_frames, frame_idx, width, height,
          mean_lum = round(mean_lum + 0.000000005, 4)
        order by video_id, frame_idx
      """,
        "avis" -> aviStage),
      Some(multimodalVideoOracleSql)
    ),
    (
      "q_text_redact_pii", // deterministic PII scrub (emails/phones/IPv4)
      wv("""
        from documents
        select
          doc_id,
          redacted = ('contact user' || doc_id || '@example.com or +1-555-123-4567 at 10.0.0.' ||
            cast(doc_id % 255 as string) || ' re: ' || substring(text, 1, 80)).redact_pii
        order by doc_id
      """),
      Some("""
        SELECT doc_id,
          regexp_replace(
            regexp_replace(
              regexp_replace(
                'contact user' || doc_id || '@example.com or +1-555-123-4567 at 10.0.0.' ||
                  CAST(doc_id % 255 AS VARCHAR) || ' re: ' || substring(text, 1, 80),
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
              '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
            '\+?\d{1,3}[-. ]?\(?\d{2,4}\)?[-. ]?\d{3,4}[-. ]?\d{3,4}', '<PHONE>', 'g')
            AS redacted
        FROM documents ORDER BY doc_id
      """)
    ),
    (
      "q_text_strip_html", // web-scrape markup removal (regex cleaning pass)
      wv("""
        from documents
        select
          doc_id,
          cleaned = ('<p>Intro <b>bold</b> &amp; entity</p><script>var x = 1;</script>' ||
            substring(text, 1, 60)).strip_html
        order by doc_id
      """),
      Some("""
        SELECT doc_id,
          trim(regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(
                  regexp_replace(
                    '<p>Intro <b>bold</b> &amp; entity</p><script>var x = 1;</script>' ||
                      substring(text, 1, 60),
                    '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                  '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                '<[^>]+>', ' ', 'g'),
              '&(amp|lt|gt|quot|nbsp|#\d+);', ' ', 'g'),
            '\s+', ' ', 'g')) AS cleaned
        FROM documents ORDER BY doc_id
      """)
    ),
    (
      // Benchmark decontamination: docs sharing an exact word n-gram with
      // the eval set (here: docs 0-2 as a stand-in benchmark; n=4 because
      // the synthetic corpus is short templated text — production default
      // is 13). The DuckDB oracle recomputes the overlap from STRING
      // n-grams, independently of the engine's hash kernel, so this also
      // pins the kernel's tokenization (maximal [a-z0-9]+ runs, lowercased).
      "q_decontaminate_flag",
      wv("""
        model eval_docs = { from documents where doc_id < 3 select text }
        from contaminated_docs('documents', 'eval_docs', 'doc_id', 'text', 4)
        order by doc_id
      """),
      Some("""
        WITH tok AS (
          SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
          FROM documents
        ),
        ngr AS (
          SELECT DISTINCT doc_id, array_to_string(w[i:i+3], ' ') AS g
          FROM tok, LATERAL (SELECT unnest(range(1, len(w) - 2)) AS i) r
        ),
        evalg AS (SELECT DISTINCT g FROM ngr WHERE doc_id < 3)
        SELECT n.doc_id, count(DISTINCT n.g) AS contaminated_ngrams
        FROM ngr n JOIN evalg USING (g)
        GROUP BY n.doc_id
        ORDER BY n.doc_id
      """)
    ),
    (
      // The drop side: corpus minus contaminated docs (unhinted anti-join —
      // AQE broadcasts the flagged side at runtime iff it fits).
      "q_decontaminate_drop",
      wv("""
        model eval_docs = { from documents where doc_id < 3 select text }
        from decontaminate('documents', 'eval_docs', 'doc_id', 'text', 4)
        select doc_id
        order by doc_id
      """),
      Some("""
        WITH tok AS (
          SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
          FROM documents
        ),
        ngr AS (
          SELECT DISTINCT doc_id, array_to_string(w[i:i+3], ' ') AS g
          FROM tok, LATERAL (SELECT unnest(range(1, len(w) - 2)) AS i) r
        ),
        evalg AS (SELECT DISTINCT g FROM ngr WHERE doc_id < 3)
        SELECT doc_id FROM documents
        WHERE doc_id NOT IN (
          SELECT n.doc_id FROM ngr n JOIN evalg USING (g))
        ORDER BY doc_id
      """)
    ),
    (
      // Benchmark-health audit (Decontamination.contaminationReport via
      // contamination_report(...)): the TRANSPOSE of decontamination — per
      // EVAL doc, how many corpus docs share a 4-gram with it and how many
      // of its n-grams are shared at all. Non-vacuous both ways at sf0.01:
      // eval doc 0 reports zeros (the left-join zero path), docs 1-2 leak
      // into 3-4 corpus docs. Hash-kernel n-gram equality ⇔ string n-gram
      // equality (the q_decontaminate_* precedent), so the oracle uses
      // string 4-grams.
      "q_contamination_report",
      wv("""
        model trainset = {
          from documents
          where doc_id >= 3
        }
        model evalset = {
          from documents
          where doc_id < 3
        }
        from contamination_report('trainset', 'evalset', 'doc_id', 'text', 4)
        order by doc_id
      """),
      Some("""
        WITH tok AS (
          SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
          FROM documents
        ),
        ngr AS (
          SELECT DISTINCT doc_id, array_to_string(w[i:i+3], ' ') AS g
          FROM tok, LATERAL (SELECT unnest(range(1, len(w) - 2)) AS i) r
        ),
        ev AS (SELECT doc_id, g FROM ngr WHERE doc_id < 3),
        co AS (SELECT doc_id AS cid, g FROM ngr WHERE doc_id >= 3),
        hits AS (
          SELECT ev.doc_id, count(DISTINCT cid) AS leaking_docs,
                 count(DISTINCT ev.g) AS shared_ngrams
          FROM ev JOIN co USING (g) GROUP BY ev.doc_id)
        SELECT d.doc_id,
          coalesce(h.leaking_docs, 0)::BIGINT AS leaking_docs,
          coalesce(h.shared_ngrams, 0)::BIGINT AS shared_ngrams
        FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id < 3) d
        LEFT JOIN hits h USING (doc_id)
        ORDER BY d.doc_id
      """)
    ),
    (
      // The 'gpt3' preset literal (= 13-gram, Brown et al. 2020 appendix C
      // — the GPT-3 eval-decontamination convention) accepted wherever the
      // family takes n. Corpus = ALL documents here, so each eval doc's
      // own corpus copy guarantees nonzero leak rows at full 13-gram
      // overlap — the preset's arity is what the oracle pins (w[i:i+12]).
      "q_contamination_report_gpt3",
      wv("""
        model trainset = {
          from documents
        }
        model evalset = {
          from documents
          where doc_id < 3
        }
        from contamination_report('trainset', 'evalset', 'doc_id', 'text', 'gpt3')
        order by doc_id
      """),
      Some("""
        WITH tok AS (
          SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
          FROM documents
        ),
        ngr AS (
          SELECT DISTINCT doc_id, array_to_string(w[i:i+12], ' ') AS g
          FROM tok, LATERAL (SELECT unnest(range(1, len(w) - 11)) AS i) r
        ),
        ev AS (SELECT doc_id, g FROM ngr WHERE doc_id < 3),
        co AS (SELECT doc_id AS cid, g FROM ngr),
        hits AS (
          SELECT ev.doc_id, count(DISTINCT cid) AS leaking_docs,
                 count(DISTINCT ev.g) AS shared_ngrams
          FROM ev JOIN co USING (g) GROUP BY ev.doc_id)
        SELECT d.doc_id,
          coalesce(h.leaking_docs, 0)::BIGINT AS leaking_docs,
          coalesce(h.shared_ngrams, 0)::BIGINT AS shared_ngrams
        FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id < 3) d
        LEFT JOIN hits h USING (doc_id)
        ORDER BY d.doc_id
      """)
    ),
    (
      // The 'palm' preset literal (= 8-gram, Chowdhery et al. 2022's
      // contamination analysis) — same shape at the other standard arity
      // (w[i:i+7]).
      "q_contamination_report_palm",
      wv("""
        model trainset = {
          from documents
        }
        model evalset = {
          from documents
          where doc_id < 3
        }
        from contamination_report('trainset', 'evalset', 'doc_id', 'text', 'palm')
        order by doc_id
      """),
      Some("""
        WITH tok AS (
          SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
          FROM documents
        ),
        ngr AS (
          SELECT DISTINCT doc_id, array_to_string(w[i:i+7], ' ') AS g
          FROM tok, LATERAL (SELECT unnest(range(1, len(w) - 6)) AS i) r
        ),
        ev AS (SELECT doc_id, g FROM ngr WHERE doc_id < 3),
        co AS (SELECT doc_id AS cid, g FROM ngr),
        hits AS (
          SELECT ev.doc_id, count(DISTINCT cid) AS leaking_docs,
                 count(DISTINCT ev.g) AS shared_ngrams
          FROM ev JOIN co USING (g) GROUP BY ev.doc_id)
        SELECT d.doc_id,
          coalesce(h.leaking_docs, 0)::BIGINT AS leaking_docs,
          coalesce(h.shared_ngrams, 0)::BIGINT AS shared_ngrams
        FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id < 3) d
        LEFT JOIN hits h USING (doc_id)
        ORDER BY d.doc_id
      """)
    ),
    (
      // Okapi BM25 retrieval (Retrieval.bm25TopK via bm25_topk(...)):
      // per eval/query doc, the k lexically-closest corpus docs — the
      // retrieval-based contamination/data-selection net between n-gram
      // overlap and embeddings. Lucene's non-negative idf; DISTINCT query
      // terms; every float input is an exact integer aggregate, so the
      // DuckDB oracle recomputes identical doubles (Σ-order noise absorbed
      // by the shared +5e-9/4dp rounding). Self-retrieval sanity falls out:
      // each query's own corpus copy ranks first.
      "q_bm25_topk",
      wv("""
        model evalset = {
          from documents
          where doc_id < 3
        }
        from bm25_topk('documents', 'doc_id', 'text', 'evalset', 5)
        order by query_id, rank
      """),
      Some("""
        WITH tok AS (
          SELECT doc_id, list_filter(
            string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS w
          FROM documents WHERE text IS NOT NULL
        ),
        post AS (
          SELECT doc_id, t, count(*)::DOUBLE AS tf
          FROM (SELECT doc_id, unnest(w) AS t FROM tok) GROUP BY doc_id, t
        ),
        dl AS (SELECT doc_id, len(w)::BIGINT AS dl FROM tok),
        st AS (SELECT count(*)::DOUBLE AS n, avg(dl::DOUBLE) AS avgdl FROM dl),
        idf AS (
          SELECT t,
            ln(1 + ((SELECT n FROM st) - count(*) + 0.5) / (count(*) + 0.5)) AS idf
          FROM post GROUP BY t
        ),
        q AS (
          SELECT DISTINCT doc_id AS query_id, t
          FROM (SELECT doc_id, unnest(w) AS t FROM tok WHERE doc_id < 3)
        ),
        terms AS (
          SELECT q.query_id, p.doc_id AS corpus_id,
            i.idf * (p.tf * (1.2 + 1)) /
              (p.tf + 1.2 * (1 - 0.75 + 0.75 * d.dl / (SELECT avgdl FROM st))) AS term
          FROM q JOIN post p USING (t) JOIN idf i USING (t)
          JOIN dl d ON d.doc_id = p.doc_id
        ),
        scored AS (
          SELECT query_id, corpus_id, round(sum(term) + 5e-9, 4) AS bm25
          FROM terms GROUP BY query_id, corpus_id
        ),
        ranked AS (
          SELECT query_id, corpus_id, bm25,
            row_number() OVER (PARTITION BY query_id ORDER BY bm25 DESC, corpus_id) AS rank
          FROM scored
        )
        SELECT query_id, corpus_id, bm25, rank::INTEGER AS rank
        FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
      """)
    ),
    (
      // Per-doc top-k tf-idf keywords (Retrieval.keywordsTfidf via
      // keywords_tfidf(...)): idf = ln(N/df) over non-null docs, score
      // tf·idf with the shared +5e-9/4dp rounding, ties (tfidf desc,
      // token) — every float input an exact integer aggregate, full
      // DuckDB recompute.
      "q_keywords_tfidf",
      wv("""
        from keywords_tfidf('documents', 'doc_id', 'text', 3)
        order by doc_id, rank
      """),
      Some("""
        WITH tok AS (
          SELECT doc_id, list_filter(
            string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS w
          FROM documents WHERE text IS NOT NULL
        ),
        post AS (
          SELECT doc_id, t AS token, count(*)::BIGINT AS tf
          FROM (SELECT doc_id, unnest(w) AS t FROM tok) GROUP BY doc_id, t
        ),
        nn AS (SELECT count(*)::DOUBLE AS n FROM tok),
        idf AS (
          SELECT token, ln((SELECT n FROM nn) / count(*)) AS idf
          FROM post GROUP BY token
        ),
        scored AS (
          SELECT p.doc_id, p.token, round(p.tf * i.idf + 5e-9, 4) AS tfidf
          FROM post p JOIN idf i USING (token)
        ),
        ranked AS (
          SELECT doc_id, token, tfidf,
            row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rank
          FROM scored
        )
        SELECT doc_id, token, tfidf, rank::INTEGER AS rank
        FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank
      """)
    ),
    (
      // The bm25_index writer on the language surface: three-output write
      // (tok_grp-partitioned postings + _df + _meta siblings) + a 1-row
      // summary — postings count = distinct (doc, token) pairs, which the
      // oracle recomputes from the raw corpus.
      "q_bm25_index",
      wv("""
        from bm25_index('documents', 'doc_id', 'text', '/tmp/graft_bm25_idx_wv')
      """),
      Some("""
        SELECT '/tmp/graft_bm25_idx_wv' AS path, count(*)::BIGINT AS postings
        FROM (
          SELECT DISTINCT doc_id, t FROM (
            SELECT doc_id, unnest(list_filter(
              string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) AS t
            FROM documents WHERE text IS NOT NULL)
        )
      """)
    ),
    (
      // BM25 over the PERSISTED index (Retrieval.bm25IndexTopK): the
      // postings scan is partition-pruned to the query terms' tok_grp
      // buckets (PlanSpec gates PartitionFilters) and the idf table is the
      // model-sized _df sibling — identical arithmetic to the flat scorer,
      // so the oracle is q_bm25_topk's SQL verbatim (bitwise-equal rows).
      "q_bm25_topk_index",
      wv("""
        model evalset = { from documents where doc_id < 3 select doc_id, text }
        from bm25_topk_index('${bm25_index}', 'evalset', 'doc_id', 'text', 5)
        order by query_id, rank
      """,
        "bm25_index" -> persistedBm25Index),
      Some("""
        WITH tok AS (
          SELECT doc_id, list_filter(
            string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS w
          FROM documents WHERE text IS NOT NULL
        ),
        post AS (
          SELECT doc_id, t, count(*)::DOUBLE AS tf
          FROM (SELECT doc_id, unnest(w) AS t FROM tok) GROUP BY doc_id, t
        ),
        dl AS (SELECT doc_id, len(w)::BIGINT AS dl FROM tok),
        st AS (SELECT count(*)::DOUBLE AS n, avg(dl::DOUBLE) AS avgdl FROM dl),
        idf AS (
          SELECT t,
            ln(1 + ((SELECT n FROM st) - count(*) + 0.5) / (count(*) + 0.5)) AS idf
          FROM post GROUP BY t
        ),
        q AS (
          SELECT DISTINCT doc_id AS query_id, t
          FROM (SELECT doc_id, unnest(w) AS t FROM tok WHERE doc_id < 3)
        ),
        terms AS (
          SELECT q.query_id, p.doc_id AS corpus_id,
            i.idf * (p.tf * (1.2 + 1)) /
              (p.tf + 1.2 * (1 - 0.75 + 0.75 * d.dl / (SELECT avgdl FROM st))) AS term
          FROM q JOIN post p USING (t) JOIN idf i USING (t)
          JOIN dl d ON d.doc_id = p.doc_id
        ),
        scored AS (
          SELECT query_id, corpus_id, round(sum(term) + 5e-9, 4) AS bm25
          FROM terms GROUP BY query_id, corpus_id
        ),
        ranked AS (
          SELECT query_id, corpus_id, bm25,
            row_number() OVER (PARTITION BY query_id ORDER BY bm25 DESC, corpus_id) AS rank
          FROM scored
        )
        SELECT query_id, corpus_id, bm25, rank::INTEGER AS rank
        FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
      """)
    ),
    (
      // INCREMENTAL index maintenance (Retrieval.bm25IndexAppend via
      // bm25_index_append(...)): the index is built over 3/4 of the
      // corpus, the remaining quarter APPENDED — batch postings land
      // inside their tok_grp partitions, _df gains the batch's token doc
      // counts, _meta advances (n, dl_sum) by exact integer arithmetic —
      // and the corpus is never re-read (RetrievalSpec gates that the
      // pre-append index files are byte-identical afterwards). Serving
      // over the appended index must be BITWISE a full rebuild over
      // corpus ∪ batch, so the oracle is q_bm25_topk_index's
      // full-recompute SQL over ALL documents, verbatim.
      "q_bm25_index_append",
      wv("""
        model evalset = { from documents where doc_id < 3 select doc_id, text }
        from bm25_topk_index('${bm25_index}', 'evalset', 'doc_id', 'text', 5)
        order by query_id, rank
      """,
        "bm25_index" -> appendedBm25Index),
      Some("""
        WITH tok AS (
          SELECT doc_id, list_filter(
            string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS w
          FROM documents WHERE text IS NOT NULL
        ),
        post AS (
          SELECT doc_id, t, count(*)::DOUBLE AS tf
          FROM (SELECT doc_id, unnest(w) AS t FROM tok) GROUP BY doc_id, t
        ),
        dl AS (SELECT doc_id, len(w)::BIGINT AS dl FROM tok),
        st AS (SELECT count(*)::DOUBLE AS n, avg(dl::DOUBLE) AS avgdl FROM dl),
        idf AS (
          SELECT t,
            ln(1 + ((SELECT n FROM st) - count(*) + 0.5) / (count(*) + 0.5)) AS idf
          FROM post GROUP BY t
        ),
        q AS (
          SELECT DISTINCT doc_id AS query_id, t
          FROM (SELECT doc_id, unnest(w) AS t FROM tok WHERE doc_id < 3)
        ),
        terms AS (
          SELECT q.query_id, p.doc_id AS corpus_id,
            i.idf * (p.tf * (1.2 + 1)) /
              (p.tf + 1.2 * (1 - 0.75 + 0.75 * d.dl / (SELECT avgdl FROM st))) AS term
          FROM q JOIN post p USING (t) JOIN idf i USING (t)
          JOIN dl d ON d.doc_id = p.doc_id
        ),
        scored AS (
          SELECT query_id, corpus_id, round(sum(term) + 5e-9, 4) AS bm25
          FROM terms GROUP BY query_id, corpus_id
        ),
        ranked AS (
          SELECT query_id, corpus_id, bm25,
            row_number() OVER (PARTITION BY query_id ORDER BY bm25 DESC, corpus_id) AS rank
          FROM scored
        )
        SELECT query_id, corpus_id, bm25, rank::INTEGER AS rank
        FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
      """)
    ),
    (
      // Semantic decontamination (Decontamination.contaminatedVecs via the
      // contaminated_vecs(...) table function): corpus vectors too close in
      // embedding space to ANY eval vector — the paraphrase-robust second
      // net behind the n-gram pair above. Eval = vec_id % 4 == 0 (stand-in
      // benchmark), corpus = the rest; exact broadcast scoring, cosines
      // rounded to 6 dp before compare/max. DETERMINISTIC DuckDB oracle
      // (same float→double cosine recompute as q_dedup_embedding_cosine).
      "q_decontaminate_semantic_flag",
      wv("""
        model evalvecs = {
          from embeddings
          where vec_id % 4 = 0
        }
        model corpusvecs = {
          from embeddings
          where vec_id % 4 != 0
        }
        from contaminated_vecs('corpusvecs', 'evalvecs', 'vec_id', 'embedding', 0.35)
        select vec_id, contaminated_matches, max_cos_sim
        order by vec_id
      """),
      Some("""
        WITH scored AS (
          SELECT c.vec_id,
            round(
              list_sum(list_transform(range(1, len(c.embedding) + 1), i -> c.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)) /
              (sqrt(list_sum(list_transform(range(1, len(c.embedding) + 1), i -> c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))) *
               sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1), i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)))), 6) AS cos
          FROM embeddings c, embeddings e
          WHERE c.vec_id % 4 <> 0 AND e.vec_id % 4 = 0)
        SELECT vec_id, count(*)::BIGINT AS contaminated_matches, max(cos) AS max_cos_sim
        FROM scored WHERE cos >= 0.35
        GROUP BY vec_id ORDER BY vec_id
      """)
    ),
    (
      // The drop side: corpus minus semantically flagged rows (unhinted
      // anti-join, AQE decides — same posture as q_decontaminate_drop).
      "q_decontaminate_semantic_drop",
      wv("""
        model evalvecs = {
          from embeddings
          where vec_id % 4 = 0
        }
        model corpusvecs = {
          from embeddings
          where vec_id % 4 != 0
        }
        from decontaminate_semantic('corpusvecs', 'evalvecs', 'vec_id', 'embedding', 0.35)
        select vec_id, label
        order by vec_id
      """),
      Some("""
        WITH scored AS (
          SELECT c.vec_id,
            round(
              list_sum(list_transform(range(1, len(c.embedding) + 1), i -> c.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)) /
              (sqrt(list_sum(list_transform(range(1, len(c.embedding) + 1), i -> c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))) *
               sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1), i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)))), 6) AS cos
          FROM embeddings c, embeddings e
          WHERE c.vec_id % 4 <> 0 AND e.vec_id % 4 = 0)
        SELECT vec_id, label FROM embeddings
        WHERE vec_id % 4 <> 0
          AND vec_id NOT IN (SELECT vec_id FROM scored WHERE cos >= 0.35)
        ORDER BY vec_id
      """)
    ),
    (
      // Semantic benchmark-contamination audit (Decontamination.
      // contaminationReportSemantic via contamination_report_semantic(...)):
      // the embedding-space TRANSPOSE of contaminated_vecs and the sibling
      // of the n-gram contamination_report — per EVAL vector, how many
      // corpus vectors sit within the cosine threshold and the closest one
      // found; zero rows KEPT via a left join back to the eval ids ("this
      // benchmark item is clean" is the point). Shares contaminated_vecs'
      // exact centroid-pruned candidate machinery (one private helper, so
      // the flag and audit directions cannot drift). Non-vacuous both ways
      // at sf0.01/t=0.35: 51 clean + 74 leaking eval rows.
      "q_contamination_report_semantic",
      wv("""
        model evalvecs = {
          from embeddings
          where vec_id % 4 = 0
        }
        model corpusvecs = {
          from embeddings
          where vec_id % 4 != 0
        }
        from contamination_report_semantic('corpusvecs', 'evalvecs', 'vec_id', 'embedding', 0.35)
        order by vec_id
      """),
      Some("""
        WITH scored AS (
          SELECT e.vec_id,
            round(
              list_sum(list_transform(range(1, len(c.embedding) + 1), i -> c.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)) /
              (sqrt(list_sum(list_transform(range(1, len(c.embedding) + 1), i -> c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))) *
               sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1), i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)))), 6) AS cos
          FROM embeddings c, embeddings e
          WHERE c.vec_id % 4 <> 0 AND e.vec_id % 4 = 0),
        agg AS (
          SELECT vec_id, count(*)::BIGINT AS leaking_docs, max(cos) AS max_cos_sim
          FROM scored WHERE cos >= 0.35 GROUP BY vec_id)
        SELECT e.vec_id,
          coalesce(a.leaking_docs, 0)::BIGINT AS leaking_docs,
          a.max_cos_sim
        FROM (SELECT vec_id FROM embeddings WHERE vec_id % 4 = 0) e
        LEFT JOIN agg a ON a.vec_id = e.vec_id
        ORDER BY e.vec_id
      """)
    ),
    (
      // CAPSTONE: the full curation pipeline in one oracle-checked query —
      // decontaminate (vs an eval set) → quality floor (rounded score, so
      // the threshold compare is ulp-stable across engines) → exact dedup
      // (keep min id per fingerprint) → deterministic train/test split →
      // per-split doc and token totals. Every stage composes the already-
      // oracled operators; the DuckDB oracle recomposes the same algebra.
      "q_curation_pipeline",
      wv("""
        model eval_docs = { from documents where doc_id < 3 select text }
        model quality = {
          from decontaminate('documents', 'eval_docs', 'doc_id', 'text', 4)
          where round(text.quality_score, 4) >= 0.6
        }
        -- no broadcast hint: the keep-id set is one row per distinct document — a
        -- corpus-sized set that cannot transit the driver at 100 TB. The semi-join
        -- shuffles on uniform doc_id keys; AQE still picks a broadcast at runtime
        -- whenever the side actually fits.
        model deduped = {
          from quality
          where exists { from dedup_exact('quality', 'doc_id', 'text') where keep_id = doc_id }
        }
        from train_test_split('deduped', 'doc_id', 0.8)
        group by split
        agg n_docs = _.count, n_tokens = sum(cast(text.token_count as bigint))
        order by split
      """),
      Some(s"""
        WITH tok0 AS (
          SELECT doc_id, text, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
          FROM documents
        ),
        ngr AS (
          SELECT DISTINCT doc_id, array_to_string(w[i:i+3], ' ') AS g
          FROM tok0, LATERAL (SELECT unnest(range(1, len(w) - 2)) AS i) r
        ),
        evalg AS (SELECT DISTINCT g FROM ngr WHERE doc_id < 3),
        clean AS (
          SELECT doc_id, text, w AS toks FROM tok0
          WHERE doc_id NOT IN (SELECT n.doc_id FROM ngr n JOIN evalg USING (g))
        ),
        m AS (
          SELECT doc_id, text,
            least(length(text)::DOUBLE / 500.0, 1.0) AS length_score,
            CASE WHEN length(text) = 0 THEN 0.0
              ELSE length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE / length(text) END AS alpha,
            least(CASE WHEN len(toks) = 0 THEN 0.0
              ELSE len(list_filter(toks, x -> list_contains(${sqlList(TextFunctions.enStopwords)}, x)))::DOUBLE / len(toks) END * 4.0, 1.0) AS stop,
            CASE WHEN len(toks) = 0 THEN 0.0
              ELSE list_sum(list_transform(toks, w -> len(w)))::DOUBLE / len(toks) END AS mwl
          FROM clean),
        q AS (
          SELECT doc_id, text FROM m
          WHERE round(length_score * 0.3 + alpha * 0.3 + stop * 0.2 +
                (CASE WHEN mwl BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.2, 4) >= 0.6
        ),
        keep AS (
          SELECT min(doc_id) AS doc_id
          FROM q GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
        )
        SELECT split, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
        FROM (
          SELECT CASE WHEN substr(md5('graft' || CAST(q.doc_id AS VARCHAR)), 1, 4) < 'cccd'
                      THEN 'train' ELSE 'test' END AS split,
            len(list_filter(string_split_regex(lower(q.text), '[^a-z0-9]+'), x -> len(x) > 0))::BIGINT AS n_tokens
          FROM q JOIN keep USING (doc_id)
        ) s
        GROUP BY split ORDER BY split
      """)
    ),
    (
      // GPT-style sequence packing metadata: deterministic md5-hex shard →
      // per-shard token cumsum → pack coordinates. All-integer until the
      // floor division, so the DuckDB oracle reproduces it exactly.
      "q_pack_sequences",
      wv("""
        from pack_sequences('documents', 'doc_id', 'text', 512, 8)
        order by doc_id
      """),
      Some("""
        WITH t AS (
          SELECT doc_id,
            CAST((strpos('0123456789abcdef',
              substring(md5('graft-pack' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) % 8 AS INT) AS shard,
            md5('graft-pack' || CAST(doc_id AS VARCHAR)) AS key,
            len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0))::BIGINT AS n_tokens
          FROM documents
        ),
        o AS (
          SELECT doc_id, shard, n_tokens,
            CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY key, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) AS "offset"
          FROM t
        )
        SELECT doc_id, shard, n_tokens, "offset",
          "offset" // 512 AS pack_first,
          ("offset" + greatest(n_tokens, 1) - 1) // 512 AS pack_last,
          "offset" % 512 AS pack_offset
        FROM o ORDER BY doc_id
      """)
    ),
    (
      // Corpus-statistics quality features: per-doc aggregates over global
      // token document frequencies (hapax = tokens unique to the doc). The
      // engine works on the one-pass kernel's token hashes; the oracle
      // recomputes from string tokens — integer-exact until the final
      // division.
      "q_corpus_token_stats",
      wv("""
        from token_stats('documents', 'doc_id', 'text')
        order by doc_id
      """),
      Some("""
        WITH tok AS (
          SELECT doc_id, unnest(list_distinct(list_filter(
            string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0))) AS t
          FROM documents
        ),
        dfreq AS (SELECT t, count(*) AS df FROM tok GROUP BY t)
        SELECT tok.doc_id,
          CAST(count(*) AS BIGINT) AS n_distinct_tokens,
          CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax_tokens,
          CAST(sum(df) AS BIGINT) AS sum_df,
          CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS rare_token_fraction
        FROM tok JOIN dfreq USING (t)
        GROUP BY tok.doc_id
        ORDER BY tok.doc_id
      """)
    ),
    (
      // One-row corpus vocabulary / Zipf profile (CorpusStats.vocabProfile
      // via vocab_profile(...)): total/distinct/hapax token counts + the
      // occurrence fraction covered by the 100 most frequent tokens (ties
      // broken by token text — a deterministic cut). Coverage is one exact
      // IEEE division of two BIGINTs, so no rounding is needed.
      "q_vocab_profile",
      wv("""
        from vocab_profile('documents', 'text', 100)
      """),
      Some("""
        WITH tok AS (
          SELECT unnest(list_filter(
            string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS t
          FROM documents),
        c AS (SELECT t, count(*)::BIGINT AS cnt FROM tok GROUP BY t),
        tot AS (
          SELECT coalesce(sum(cnt), 0)::BIGINT AS total_tokens,
                 count(*)::BIGINT AS distinct_tokens,
                 coalesce(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END), 0)::BIGINT AS hapax_tokens
          FROM c),
        top AS (
          SELECT coalesce(sum(cnt), 0)::BIGINT AS topcnt
          FROM (SELECT cnt FROM c ORDER BY cnt DESC, t LIMIT 100))
        SELECT total_tokens, distinct_tokens, hapax_tokens,
          CASE WHEN total_tokens > 0
               THEN CAST(topcnt AS DOUBLE) / total_tokens END AS top100_coverage
        FROM tot, top
      """)
    ),
    (
      // Unigram-LM perplexity quality scoring (CorpusStats.unigramNll via
      // perplexity_score(...)): the CCNet-style filter — fit p(w)=cnt/N on
      // the corpus, score docs by mean token NLL. DETERMINISTIC oracle:
      // DuckDB refits the same model on the same string tokens; the shared
      // +5e-9/4dp rounding absorbs ln/division accumulation-order noise.
      "q_perplexity_score",
      wv("""
        from perplexity_score('documents', 'doc_id', 'text')
        order by doc_id
      """),
      Some("""
        WITH tok AS (
          SELECT doc_id, unnest(list_filter(
            string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) AS t
          FROM documents
        ),
        model AS (SELECT t, count(*)::DOUBLE AS c FROM tok GROUP BY t),
        tot AS (SELECT coalesce(sum(c), 0) AS n FROM model),
        per AS (
          SELECT doc_id, count(*)::BIGINT AS n_tokens, sum(ln(c)) AS slc
          FROM tok JOIN model USING (t)
          GROUP BY doc_id
        )
        SELECT d.doc_id,
          coalesce(p.n_tokens, 0)::BIGINT AS n_tokens,
          round(CASE WHEN p.n_tokens > 0
                THEN ln((SELECT n FROM tot)) - p.slc / p.n_tokens + 5e-9 END, 4) AS avg_nll
        FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id
        ORDER BY d.doc_id
      """)
    ),
    (
      // Bigram-LM perplexity with Stupid Backoff (CorpusStats.bigramNll
      // via perplexity_score_bigram(...)): the context-aware v2 of the
      // CCNet filter — S(w|prev) = bc/uc(prev) on a PRUNED bigram hit
      // (count >= min_count 2; hapax bigrams back off — the pruning that
      // bounds the model table at 100 TB), else alpha*uc(w)/N; first token
      // unigram. DETERMINISTIC oracle: DuckDB refits both models from the
      // same string-token pair stream (pairs rebuilt positionally from the
      // token list — no engine-specific window) and the shared +5e-9/4dp
      // rounding absorbs accumulation-order noise; ln(pc)-ln(bc) is
      // bitwise -(ln(bc)-ln(pc)).
      "q_perplexity_bigram",
      wv("""
        from perplexity_score_bigram('documents', 'doc_id', 'text', 0.4, 2)
        order by doc_id
      """),
      Some("""
        WITH tokl AS (
          SELECT doc_id, list_filter(
            string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS ts
          FROM documents
        ),
        p2 AS (
          SELECT doc_id,
                 CASE WHEN i = 1 THEN NULL ELSE ts[i - 1] END AS prev,
                 ts[i] AS cur
          FROM (SELECT doc_id, ts, unnest(range(1, len(ts) + 1)) AS i FROM tokl)
        ),
        uni AS (SELECT cur AS t, count(*)::DOUBLE AS uc FROM p2 GROUP BY cur),
        tot AS (SELECT coalesce(sum(uc), 0) AS n FROM uni),
        bi AS (
          SELECT prev, cur, count(*)::DOUBLE AS bc
          FROM p2 WHERE prev IS NOT NULL GROUP BY prev, cur
          HAVING count(*) >= 2
        ),
        scored AS (
          SELECT p.doc_id,
            CASE WHEN p.prev IS NULL
                   THEN ln((SELECT n FROM tot)) - ln(u.uc)
                 WHEN b.bc IS NOT NULL
                   THEN ln(up.uc) - ln(b.bc)
                 ELSE ln((SELECT n FROM tot)) - ln(u.uc) - ln(0.4) END AS nll
          FROM p2 p
          JOIN uni u ON u.t = p.cur
          LEFT JOIN bi b ON b.prev = p.prev AND b.cur = p.cur
          LEFT JOIN uni up ON up.t = p.prev
        ),
        per AS (
          SELECT doc_id, count(*)::BIGINT AS n_tokens, sum(nll) AS s
          FROM scored GROUP BY doc_id
        )
        SELECT d.doc_id,
          coalesce(p.n_tokens, 0)::BIGINT AS n_tokens,
          round(CASE WHEN p.n_tokens > 0
                THEN p.s / p.n_tokens + 5e-9 END, 4) AS avg_nll
        FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id
        ORDER BY d.doc_id
      """)
    ),
    (
      // Interpolated KNESER-NEY smoothing (CorpusStats.bigramNllKn via
      // perplexity_score_bigram(..., 'kn')): the quality-reference
      // smoothing next to Stupid Backoff — discounted bigram hits
      // interpolate with CONTINUATION probability (N1+(·w)/N1+(··):
      // "Francisco" is frequent but follows almost nothing — KN's
      // insight), weights from the proper context counts c(v·)/N1+(v·).
      // FULL oracle: DuckDB refits unigram/bigram/type statistics from the
      // same positional pair stream and mirrors the probability expression
      // operation-for-operation; +5e-9/4dp rounding as the whole NLL
      // family.
      "q_perplexity_bigram_kn",
      wv("""
        from perplexity_score_bigram('documents', 'doc_id', 'text', 'kn', 0.75, 2)
        order by doc_id
      """),
      Some("""
        WITH tokl AS (
          SELECT doc_id, list_filter(
            string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS ts
          FROM documents
        ),
        p2 AS (
          SELECT doc_id,
                 CASE WHEN i = 1 THEN NULL ELSE ts[i - 1] END AS prev,
                 ts[i] AS cur
          FROM (SELECT doc_id, ts, unnest(range(1, len(ts) + 1)) AS i FROM tokl)
        ),
        uni AS (SELECT cur AS t, count(*)::BIGINT AS uc FROM p2 GROUP BY cur),
        tot AS (SELECT coalesce(sum(uc), 0)::BIGINT AS n FROM uni),
        biall AS (
          SELECT prev, cur, count(*)::BIGINT AS bc
          FROM p2 WHERE prev IS NOT NULL GROUP BY prev, cur
        ),
        cx AS (SELECT prev, sum(bc)::BIGINT AS ctx, count(*)::BIGINT AS n1f
               FROM biall GROUP BY prev),
        cont AS (SELECT cur, count(*)::BIGINT AS n1p FROM biall GROUP BY cur),
        ntt AS (SELECT count(*)::BIGINT AS nt FROM biall),
        bi AS (SELECT prev, cur, bc FROM biall WHERE bc >= 2),
        scored AS (
          SELECT p.doc_id,
            CASE WHEN p.prev IS NULL
                   THEN ln((SELECT n FROM tot)::DOUBLE) - ln(u.uc::DOUBLE)
                 ELSE -ln(
                   greatest(coalesce(b.bc::DOUBLE, 0.0) - 0.75, 0.0) / c.ctx::DOUBLE
                   + (0.75 * c.n1f::DOUBLE / c.ctx::DOUBLE)
                     * (ct.n1p::DOUBLE / (SELECT nt FROM ntt)::DOUBLE))
            END AS nll
          FROM p2 p
          JOIN uni u ON u.t = p.cur
          LEFT JOIN bi b ON b.prev = p.prev AND b.cur = p.cur
          LEFT JOIN cx c ON c.prev = p.prev
          LEFT JOIN cont ct ON ct.cur = p.cur
        ),
        per AS (
          SELECT doc_id, count(*)::BIGINT AS n_tokens, sum(nll) AS s
          FROM scored GROUP BY doc_id
        )
        SELECT d.doc_id,
          coalesce(p.n_tokens, 0)::BIGINT AS n_tokens,
          round(CASE WHEN p.n_tokens > 0
                THEN p.s / p.n_tokens + 5e-9 END, 4) AS avg_nll
        FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id
        ORDER BY d.doc_id
      """)
    ),
    (
      // SSL-prototypes pruning metric (Similarity.prototypicalityScore via
      // prototypicality_score(...)): cosine of each embedding to its OWN
      // seeded-cluster prototype — Sorscher et al. 2022's data-pruning
      // axis (high = prototypical/easy, low = hard/outlier). FULL bitwise
      // oracle: the assignment IS the ivf-seeded cell CTE (same rounded-6
      // cosine, NaN→-1, (cs DESC, bucket) first-max), plus the max itself.
      "q_prototypicality",
      wv("""
        from prototypicality_score('embeddings', 'vec_id', 'embedding', 32)
        order by vec_id
      """),
      Some(s"""
        WITH cells AS (
          SELECT embedding AS cvec,
            row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS bucket
          FROM embeddings
          QUALIFY row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) <= 32
        ),
        cos_ec AS (
          SELECT e.vec_id, s.bucket,
            COALESCE(NULLIF(${duckCosine("e.embedding", "s.cvec")}, 'NaN'::DOUBLE), -1.0) AS cs
          FROM embeddings e CROSS JOIN cells s
        )
        SELECT vec_id, bucket::BIGINT AS cluster, cs AS proto_cos FROM cos_ec
        QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, bucket) = 1
        ORDER BY vec_id
      """)
    ),
    (
      // DSIR importance weight (Sampling.dsirWeight via dsir_weight(...)):
      // hashed-unigram multinomials (the classifier's 3-hex-md5 buckets,
      // Laplace-smoothed) fit on a target slice and on the raw corpus;
      // per-doc Σ ln(p_target/p_raw) — Xie et al. 2023's
      // make-it-look-like-the-target selector. DETERMINISTIC oracle:
      // DuckDB refits both models with the same bucket arithmetic and the
      // same (c+1)/(N+B) expression shape; the per-doc sum rounds via the
      // shared +5e-9/4dp convention.
      "q_dsir_weight",
      wv("""
        model dsir_target = { from documents where doc_id < 50 }
        from dsir_weight('documents', 'doc_id', 'text', 'dsir_target')
        order by doc_id
      """),
      Some {
        val hx = "'0123456789abcdef'"
        def bucket(tok: String) =
          s"""(strpos($hx, substr(md5($tok), 1, 1)) - 1) * 256
             | + (strpos($hx, substr(md5($tok), 2, 1)) - 1) * 16
             | + (strpos($hx, substr(md5($tok), 3, 1)) - 1)""".stripMargin
        s"""
        WITH rtok AS (
          SELECT doc_id, ${bucket("t")} AS b FROM (
            SELECT doc_id, unnest(list_filter(
              string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) AS t
            FROM documents)
        ),
        ttok AS (SELECT b FROM rtok WHERE doc_id < 50),
        tcnt AS (SELECT b, count(*)::BIGINT AS c FROM ttok GROUP BY b),
        rcnt AS (SELECT b, count(*)::BIGINT AS c FROM rtok GROUP BY b),
        tn AS (SELECT coalesce(sum(c), 0)::DOUBLE AS n FROM tcnt),
        rn AS (SELECT coalesce(sum(c), 0)::DOUBLE AS n FROM rcnt),
        tmod AS (SELECT b, ln((c::DOUBLE + 1.0) / ((SELECT n FROM tn) + 4096.0)) AS lnt
                 FROM tcnt),
        rmod AS (SELECT b, ln((c::DOUBLE + 1.0) / ((SELECT n FROM rn) + 4096.0)) AS lnr
                 FROM rcnt),
        scored AS (
          SELECT k.doc_id,
            coalesce(t.lnt, ln(1.0 / ((SELECT n FROM tn) + 4096.0)))
            - coalesce(r.lnr, ln(1.0 / ((SELECT n FROM rn) + 4096.0))) AS lr
          FROM rtok k
          LEFT JOIN tmod t USING (b)
          LEFT JOIN rmod r USING (b)
        ),
        per AS (SELECT doc_id, count(*)::BIGINT AS n_tokens, sum(lr) AS s
                FROM scored GROUP BY doc_id)
        SELECT d.doc_id,
          coalesce(p.n_tokens, 0)::BIGINT AS n_tokens,
          round(CASE WHEN p.n_tokens > 0 THEN p.s + 5e-9 END, 4) AS dsir_weight
        FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id
        ORDER BY d.doc_id
        """
      }
    ),
    (
      // DSIR with the paper's FULL feature set (Xie et al. 2023 §3:
      // hashed n-grams — unigrams AND adjacent pairs in one bucket bag):
      // dsir_weight(..., 'bigram'). n_tokens still counts unigram
      // positions; the weight sums over all hashed features. Same
      // deterministic refit oracle, the feature stream extended by the
      // space-joined pair list built inside the per-doc token array.
      "q_dsir_weight_bigram",
      wv("""
        model dsir_target3 = { from documents where doc_id < 50 }
        from dsir_weight('documents', 'doc_id', 'text', 'dsir_target3', 'bigram')
        order by doc_id
      """),
      Some {
        val hx = "'0123456789abcdef'"
        def bucket(tok: String) =
          s"""(strpos($hx, substr(md5($tok), 1, 1)) - 1) * 256
             | + (strpos($hx, substr(md5($tok), 2, 1)) - 1) * 16
             | + (strpos($hx, substr(md5($tok), 3, 1)) - 1)""".stripMargin
        s"""
        WITH tokl AS (
          SELECT doc_id, list_filter(
            string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS ts
          FROM documents
        ),
        rfeat AS (
          SELECT doc_id, unnest(ts) AS f, true AS u FROM tokl
          UNION ALL
          SELECT doc_id, unnest(list_transform(range(2, len(ts) + 1),
            i -> ts[i - 1] || ' ' || ts[i])) AS f, false AS u
          FROM tokl
        ),
        rtok AS (SELECT doc_id, u, ${bucket("f")} AS b FROM rfeat),
        ttok AS (SELECT b FROM rtok WHERE doc_id < 50),
        tcnt AS (SELECT b, count(*)::BIGINT AS c FROM ttok GROUP BY b),
        rcnt AS (SELECT b, count(*)::BIGINT AS c FROM rtok GROUP BY b),
        tn AS (SELECT coalesce(sum(c), 0)::DOUBLE AS n FROM tcnt),
        rn AS (SELECT coalesce(sum(c), 0)::DOUBLE AS n FROM rcnt),
        tmod AS (SELECT b, ln((c::DOUBLE + 1.0) / ((SELECT n FROM tn) + 4096.0)) AS lnt
                 FROM tcnt),
        rmod AS (SELECT b, ln((c::DOUBLE + 1.0) / ((SELECT n FROM rn) + 4096.0)) AS lnr
                 FROM rcnt),
        scored AS (
          SELECT k.doc_id, k.u,
            coalesce(t.lnt, ln(1.0 / ((SELECT n FROM tn) + 4096.0)))
            - coalesce(r.lnr, ln(1.0 / ((SELECT n FROM rn) + 4096.0))) AS lr
          FROM rtok k
          LEFT JOIN tmod t USING (b)
          LEFT JOIN rmod r USING (b)
        ),
        per AS (SELECT doc_id,
                  sum(CASE WHEN u THEN 1 ELSE 0 END)::BIGINT AS n_tokens,
                  sum(lr) AS s
                FROM scored GROUP BY doc_id)
        SELECT d.doc_id,
          coalesce(p.n_tokens, 0)::BIGINT AS n_tokens,
          round(CASE WHEN p.n_tokens > 0 THEN p.s + 5e-9 END, 4) AS dsir_weight
        FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id
        ORDER BY d.doc_id
        """
      }
    ),
    (
      // DSIR's Gumbel-top-k RESAMPLING step (Sampling.dsirSample via
      // dsir_sample(...)): keep the k docs with the largest
      // dsir_weight + seeded Gumbel noise — samples ∝ importance weight
      // without replacement (the paper's actual selection). The noise is
      // engine-portable (u from 4 md5 hex chars, g = −ln(−ln u)) and the
      // base weight is the ROUNDED dsir column, so the full ordering is
      // deterministic: the oracle recomputes weights, noise, and the
      // top-100 cut, hash-equal.
      "q_dsir_sample",
      wv("""
        model dsir_target2 = { from documents where doc_id < 50 }
        from dsir_sample('documents', 'doc_id', 'text', 'dsir_target2', 100)
        order by sample_key desc, doc_id
      """),
      Some {
        val hx = "'0123456789abcdef'"
        def bucket(tok: String) =
          s"""(strpos($hx, substr(md5($tok), 1, 1)) - 1) * 256
             | + (strpos($hx, substr(md5($tok), 2, 1)) - 1) * 16
             | + (strpos($hx, substr(md5($tok), 3, 1)) - 1)""".stripMargin
        val u =
          s"""(((strpos($hx, substr(md5('dsir' || doc_id::VARCHAR), 1, 1)) - 1) * 4096
             |  + (strpos($hx, substr(md5('dsir' || doc_id::VARCHAR), 2, 1)) - 1) * 256
             |  + (strpos($hx, substr(md5('dsir' || doc_id::VARCHAR), 3, 1)) - 1) * 16
             |  + (strpos($hx, substr(md5('dsir' || doc_id::VARCHAR), 4, 1)) - 1))::DOUBLE
             | + 0.5) / 65536.0""".stripMargin
        s"""
        WITH rtok AS (
          SELECT doc_id, ${bucket("t")} AS b FROM (
            SELECT doc_id, unnest(list_filter(
              string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) AS t
            FROM documents)
        ),
        ttok AS (SELECT b FROM rtok WHERE doc_id < 50),
        tcnt AS (SELECT b, count(*)::BIGINT AS c FROM ttok GROUP BY b),
        rcnt AS (SELECT b, count(*)::BIGINT AS c FROM rtok GROUP BY b),
        tn AS (SELECT coalesce(sum(c), 0)::DOUBLE AS n FROM tcnt),
        rn AS (SELECT coalesce(sum(c), 0)::DOUBLE AS n FROM rcnt),
        tmod AS (SELECT b, ln((c::DOUBLE + 1.0) / ((SELECT n FROM tn) + 4096.0)) AS lnt
                 FROM tcnt),
        rmod AS (SELECT b, ln((c::DOUBLE + 1.0) / ((SELECT n FROM rn) + 4096.0)) AS lnr
                 FROM rcnt),
        scored AS (
          SELECT k.doc_id,
            coalesce(t.lnt, ln(1.0 / ((SELECT n FROM tn) + 4096.0)))
            - coalesce(r.lnr, ln(1.0 / ((SELECT n FROM rn) + 4096.0))) AS lr
          FROM rtok k
          LEFT JOIN tmod t USING (b)
          LEFT JOIN rmod r USING (b)
        ),
        per AS (SELECT doc_id, count(*)::BIGINT AS n_tokens,
                  round(sum(lr) + 5e-9, 4) AS dsir_weight
                FROM scored GROUP BY doc_id),
        keyed AS (
          SELECT doc_id, n_tokens, dsir_weight,
            round(dsir_weight + -ln(-ln($u)) + 5e-9, 6) AS sample_key
          FROM per
        )
        SELECT doc_id, n_tokens, dsir_weight, sample_key
        FROM keyed ORDER BY sample_key DESC, doc_id LIMIT 100
        """
      }
    ),
    (
      // Classifier-based quality filter (QualityClassifier via
      // quality_classifier_score(...)): logistic regression over hashed
      // token unigrams (3-hex-char md5 buckets — portable arithmetic),
      // trained by 5 fixed GD rounds on planted reference-vs-boilerplate
      // sets in pinned order, scored over the real corpus with the
      // plan-shipped weight vector. FULL oracle: DuckDB replays the
      // training (qualityClassifierCte unrolls the rounds) and scores
      // with ordered list_sums — hash-equal end to end.
      "q_quality_classifier",
      wv("""
        model good_docs = {
          from [
            [1, 'the quick brown fox jumps over the lazy dog near the river bank'],
            [2, 'a study of language models requires diverse natural text sources'],
            [3, 'scientists observed the comet through powerful telescopes last night'],
            [4, 'history books describe the long journey across the mountain passes']
          ] as p(doc_id, text)
        }
        model boiler_docs = {
          from [
            [11, 'click here subscribe now buy cheap deals free shipping click here'],
            [12, 'cookie policy accept terms privacy settings login register login'],
            [13, 'copyright all rights reserved contact us sitemap faq home home'],
            [14, 'sale sale discount offer expires soon act now limited stock sale']
          ] as n(doc_id, text)
        }
        from quality_classifier_score('documents', 'doc_id', 'text',
          'good_docs', 'boiler_docs')
        order by doc_id
      """),
      Some {
        val pos = """
          (1, 'the quick brown fox jumps over the lazy dog near the river bank'),
          (2, 'a study of language models requires diverse natural text sources'),
          (3, 'scientists observed the comet through powerful telescopes last night'),
          (4, 'history books describe the long journey across the mountain passes')"""
        val neg = """
          (11, 'click here subscribe now buy cheap deals free shipping click here'),
          (12, 'cookie policy accept terms privacy settings login register login'),
          (13, 'copyright all rights reserved contact us sitemap faq home home'),
          (14, 'sale sale discount offer expires soon act now limited stock sale')"""
        val T = QualityClassifier.Iters
        s"""
        WITH ${qualityClassifierCte(pos, neg)},
        qdtok AS (
          SELECT doc_id, pos,
            (strpos('0123456789abcdef', substr(md5(ts[pos]), 1, 1)) - 1) * 256
            + (strpos('0123456789abcdef', substr(md5(ts[pos]), 2, 1)) - 1) * 16
            + (strpos('0123456789abcdef', substr(md5(ts[pos]), 3, 1)) - 1) AS b
          FROM (SELECT doc_id, ts, unnest(range(1, len(ts) + 1)) AS pos
                FROM (SELECT doc_id, list_filter(
                        string_split_regex(lower(text), '[^a-z0-9]+'),
                        x -> len(x) > 0) AS ts
                      FROM documents))
        ),
        qdmar AS (
          SELECT t.doc_id,
            (SELECT bias FROM qbs$T)
              + coalesce(list_sum(list(coalesce(w.w, 0.0) ORDER BY t.pos)), 0.0) AS marg
          FROM qdtok t LEFT JOIN qwt$T w ON w.b = t.b
          GROUP BY t.doc_id
        )
        SELECT d.doc_id,
          CASE WHEN d.text IS NULL THEN NULL
               ELSE round(1.0 / (1.0 + exp(-(coalesce(m.marg, (SELECT bias FROM qbs$T)))))
                          + 5e-9, 4)
          END AS quality_prob
        FROM documents d LEFT JOIN qdmar m ON m.doc_id = d.doc_id
        ORDER BY d.doc_id
        """
      }
    ),
    (
      // Heavy-hitter n-grams (CorpusStats.topNgrams via top_ngrams(...)):
      // the C4/Gopher boilerplate-template discovery pass — top-k
      // space-joined trigram counts, (count desc, ngram) rank. EXECUTABLE
      // oracle: DuckDB rebuilds the trigram stream positionally from the
      // same token lists.
      "q_top_ngrams",
      wv("""
        from top_ngrams('documents', 'text', 3, 25)
        order by rank
      """),
      Some("""
        WITH tokl AS (
          SELECT list_filter(
            string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS ts
          FROM documents
        ),
        g AS (
          SELECT unnest(list_transform(range(1, len(ts) - 1),
            i -> ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2])) AS ngram
          FROM tokl WHERE len(ts) >= 3
        ),
        c AS (SELECT ngram, count(*)::BIGINT AS cnt FROM g GROUP BY ngram),
        r AS (
          SELECT ngram, cnt,
            CAST(row_number() OVER (ORDER BY cnt DESC, ngram) AS INTEGER) AS rank
          FROM c)
        SELECT ngram, cnt, rank FROM r WHERE rank <= 25 ORDER BY rank
      """)
    ),
    (
      // Quality-first token-budget cut (Sampling.selectTokenBudgetBy via
      // select_token_budget_by(...)): keep the HIGHEST-scoring docs whose
      // cumulative token count fits the budget — the cut production
      // pipelines actually run (a random prefix burns budget on
      // low-quality text). Distributed as a range-bucketed prefix-sum
      // whose output is independent of where the sampled range boundaries
      // land; ties break by id. The stand-in score here is char length
      // (any numeric column works); the oracle is ONE global window over
      // (quality DESC NULLS LAST, doc_id) — equality proves the ranged
      // decomposition is the global quality-ordered cumsum.
      "q_select_token_budget_by",
      wv("""
        model scored_docs = {
          from documents
          select doc_id, text, quality = text.length
        }
        from select_token_budget_by('scored_docs', 'doc_id', 'text', 15000, 'quality')
        select doc_id, n_tokens, cum_tokens
        order by doc_id
      """),
      Some("""
        WITH scored AS (
          SELECT doc_id, text, len(text) AS quality FROM documents
        ),
        c AS (
          SELECT doc_id, quality,
            CASE WHEN text IS NULL THEN 0
                 ELSE len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                          x -> len(x) > 0)) END AS n_tokens
          FROM scored
        ),
        cum AS (
          SELECT doc_id, n_tokens,
            sum(n_tokens) OVER (ORDER BY quality DESC NULLS LAST, doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum_tokens
          FROM c
        )
        SELECT doc_id, n_tokens::BIGINT AS n_tokens, cum_tokens::BIGINT AS cum_tokens
        FROM cum WHERE cum_tokens <= 15000 ORDER BY doc_id
      """)
    ),
    (
      // Deterministic token-budget prefix selection
      // (Sampling.selectTokenBudget via select_token_budget(...)): keep the
      // md5-ordered corpus prefix whose cumulative token count fits the
      // budget — the "cut the corpus to N training tokens" step. The
      // operator computes the cumsum as a distributed 256-bucket prefix-sum
      // (PlanSpec gates no single-partition window); the DuckDB oracle
      // recomputes it with ONE global window over the same (md5, id) keys —
      // equality proves the distributed decomposition is the global cumsum.
      "q_select_token_budget",
      wv("""
        from select_token_budget('documents', 'doc_id', 'text', 15000)
        select doc_id, n_tokens, cum_tokens
        order by doc_id
      """),
      Some("""
        WITH t AS (
          SELECT doc_id,
            len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''))::BIGINT AS n_tokens,
            md5('graft' || CAST(doc_id AS VARCHAR)) AS k
          FROM documents),
        c AS (
          SELECT doc_id, n_tokens,
            sum(n_tokens) OVER (ORDER BY k, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_tokens
          FROM t)
        SELECT doc_id, n_tokens, cum_tokens FROM c
        WHERE cum_tokens <= 15000
        ORDER BY doc_id
      """)
    ),
    (
      // Deterministic top-K vocabulary builder (CorpusStats.buildVocab via
      // build_vocab(...)): one token-keyed groupBy + TakeOrdered; the
      // ranking window runs over the SIZE-bounded cut, never the corpus.
      // Rank ties break on token text, so DuckDB reproduces the exact cut.
      "q_build_vocab",
      wv("""
        from build_vocab('documents', 'text', 25)
        order by rank
      """),
      Some("""
        WITH tok AS (
          SELECT unnest(list_filter(
            string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS token
          FROM documents),
        c AS (SELECT token, count(*)::BIGINT AS cnt FROM tok GROUP BY token),
        r AS (
          SELECT token, cnt,
            CAST(row_number() OVER (ORDER BY cnt DESC, token) AS INTEGER) AS rank
          FROM c)
        SELECT token, cnt, rank FROM r WHERE rank <= 25 ORDER BY rank
      """)
    ),
    (
      // Exact BPE merge learning (BpeTrain.bpeTrain via bpe_train(...)):
      // one corpus scan to the word-frequency table, exact merge loop over
      // the bounded table, lexicographic tie-break. The oracle is the
      // closed-form VALUES sequence hand-derived for a planted corpus
      // (word counts aaab:3, ab:1): round 1 merges (a,a) at weighted count
      // 6 → 'aa'; round 2 (a,b) at 4 → 'ab'; round 3 (aa,ab) at 3 →
      // 'aaab'. Non-SQL-expressible in DuckDB — the VALUES oracle is the
      // multimodal-decode precedent.
      "q_bpe_train",
      wv("""
        model bpe_corpus3 = {
          from [
            [1, 'aaab aaab'],
            [2, 'aaab ab']
          ] as c(id, text)
        }
        from bpe_train('bpe_corpus3', 'text', 3)
        order by rank
      """),
      Some("""
        SELECT token, l AS "left", r AS "right", CAST(c AS BIGINT) AS pair_count,
               CAST(rk AS INTEGER) AS rank
        FROM (VALUES ('aa', 'a', 'a', 6, 1), ('ab', 'a', 'b', 4, 2),
                     ('aaab', 'aa', 'ab', 3, 3)) AS t(token, l, r, c, rk)
        ORDER BY rank
      """)
    ),
    (
      // TRUE rank-ordered BPE inference (Bpe.withMergeCount via
      // bpe_count_merges(...)): replay the trained (left, right, rank)
      // merges within each canonical word — the exact HF/sentencepiece
      // encode, vs bpe_count's greedy longest-match approximation. The
      // planted merge set is the classic divergence case: on 'abcd',
      // greedy over the derived vocab {bc, bcd, ab} takes 'ab' first and
      // pays 3 tokens; replay merges (b,c) then (bc,d) → [a, bcd] = 2
      // (BpeSpec asserts the divergence pairwise). Closed-form VALUES
      // oracle (hand-derived counts).
      "q_bpe_count_merges",
      wv("""
        model bpe_merges = {
          from [['b', 'c', 1], ['bc', 'd', 2], ['a', 'b', 3]] as m(left, right, rank)
        }
        model bpe_mcorpus = {
          from [
            [1, 'abcd'],
            [2, 'abc bcd'],
            [3, 'xyz'],
            [4, 'ab'],
            [5, 'ABCD'],
            [6, '!!! ...']
          ] as c(id, text)
        }
        from bpe_count_merges('bpe_mcorpus', 'text', 'bpe_merges')
        select id, n_bpe_merge_tokens
        order by id
      """),
      Some("""
        SELECT id, CAST(n AS BIGINT) AS n_bpe_merge_tokens FROM (VALUES
          (1, 2), (2, 3), (3, 3), (4, 1), (5, 2), (6, 0)
        ) AS t(id, n) ORDER BY id
      """)
    ),
    (
      // The actual TOKENIZE surface (Bpe.encode via bpe_encode(...)): the
      // final rank-ordered merge-replay symbol sequence per doc — what a
      // user ships to training after bpe_train. Same planted fixture as
      // q_bpe_count_merges, whose counts these sequences' lengths must
      // equal (closed-form: 'abcd'→[a,bcd], 'abc bcd'→[a,bc,bcd],
      // 'xyz'→[x,y,z], 'ab'→[ab], 'ABCD' lowercased→[a,bcd], '!!! ...'→[]).
      // bpe_tokens ships through the driver comparator as a '|'-joined
      // STRING (the q_array_funcs convention — the comparator's pandas
      // lexsort cannot hash a raw array column); BpeSpec still gates the
      // raw array surface (length parity + lossless concat).
      "q_bpe_encode",
      wv("""
        model bpe_merges = {
          from [['b', 'c', 1], ['bc', 'd', 2], ['a', 'b', 3]] as m(left, right, rank)
        }
        model bpe_mcorpus = {
          from [
            [1, 'abcd'],
            [2, 'abc bcd'],
            [3, 'xyz'],
            [4, 'ab'],
            [5, 'ABCD'],
            [6, '!!! ...']
          ] as c(id, text)
        }
        from bpe_encode('bpe_mcorpus', 'id', 'text', 'bpe_merges')
        select id, bpe_tokens = bpe_tokens.array_join('|'), n_bpe_tokens
        order by id
      """),
      Some("""
        SELECT id, coalesce(array_to_string(toks, '|'), '') AS bpe_tokens,
               CAST(n AS BIGINT) AS n_bpe_tokens FROM (VALUES
          (1, ['a', 'bcd'], 2),
          (2, ['a', 'bc', 'bcd'], 3),
          (3, ['x', 'y', 'z'], 3),
          (4, ['ab'], 1),
          (5, ['a', 'bcd'], 2),
          (6, []::VARCHAR[], 0)
        ) AS t(id, toks, n) ORDER BY id
      """)
    ),
    (
      // GPT-2 pre-tokenization mode of bpe_train (the optional 'gpt2'
      // trailing literal): contractions split ('t), letter runs keep ONE
      // leading space, punctuation runs group, case kept — what HF
      // byte-level tokenizers segment before merging, vs the lowercased
      // [a-z0-9]+ word stream. Closed-form VALUES oracle, hand-derived:
      // pretypes don:1 't:2 ' stop':2 ' don':1 Stop:1 !!:1 → round 1 ties
      // (t,o)/(o,p) at 3 → lexicographic (o,p); round 2 (t,op)@3; round 3
      // five pairs tied at 2 → (' ','s') (space sorts lowest). The same
      // corpus under 'words' trains a DIFFERENT sequence (BpeSpec pins the
      // divergence pairwise).
      "q_bpe_train_gpt2",
      wv("""
        model gpt2_corpus = {
          from [
            [1, "don\'t stop don\'t"],
            [2, "Stop!! stop"]
          ] as c(id, text)
        }
        from bpe_train('gpt2_corpus', 'text', 3, 1048576, 'gpt2')
        order by rank
      """),
      Some("""
        SELECT token, l AS "left", r AS "right", CAST(c AS BIGINT) AS pair_count,
               CAST(rk AS INTEGER) AS rank
        FROM (VALUES ('op', 'o', 'p', 3, 1), ('top', 't', 'op', 3, 2),
                     (' s', ' ', 's', 2, 3)) AS t(token, l, r, c, rk)
        ORDER BY rank
      """)
    ),
    (
      // Merge replay over GPT-2 pre-tokens (bpe_count_merges(...,'gpt2')):
      // space-BEARING symbols (' stop' carries its leading space; a
      // whitespace-run pretoken is all spaces) replay unambiguously via
      // the length-prefixed pair key. Hand-derived VALUES oracle:
      // doc1 [don]['t][ stop]: 3 + 2 + ([ ,s,t,o,p]→[ ,st,op]→[ st,op]=2)
      // = 7; doc2 [stop][  ][ stop]: [st,op]=2 + ((' ',' ') merges → 1) +
      // 2 = 5; doc3 [STOP]: case kept, no merges apply = 4.
      "q_bpe_count_merges_gpt2",
      wv("""
        model gpt2_merges = {
          from [['s', 't', 1], [' ', 'st', 2], ['o', 'p', 3], [' ', ' ', 4]]
            as m(left, right, rank)
        }
        model gpt2_mcorpus = {
          from [
            [1, "don\'t stop"],
            [2, "stop  stop"],
            [3, "STOP"]
          ] as c(id, text)
        }
        from bpe_count_merges('gpt2_mcorpus', 'text', 'gpt2_merges', 'gpt2')
        select id, n_bpe_merge_tokens
        order by id
      """),
      Some("""
        SELECT id, CAST(n AS BIGINT) AS n_bpe_merge_tokens FROM (VALUES
          (1, 7), (2, 5), (3, 4)
        ) AS t(id, n) ORDER BY id
      """)
    ),
    (
      // BPE token counting over the real corpus (Bpe/BpeExpressions via
      // bpe_count(...)): byte-level greedy longest-match against a vocab
      // relation. EXECUTABLE oracle: the vocab tokens are chosen pairwise
      // overlap-free and containment-free (no suffix of one is a prefix of
      // another, incl. self-overlap), so every occurrence in the text is
      // disjoint → greedy takes exactly the non-overlapping occurrences
      // left-to-right, which is precisely what DuckDB's single-pass
      // replace() counts: n = octet_length − Σ occ(t)·(len(t)−1).
      "q_bpe_count",
      wv("""
        model bpe_vocab = {
          from [['the'], ['and'], ['ing'], ['tion']] as v(token)
        }
        from bpe_count('documents', 'text', 'bpe_vocab')
        select doc_id, n_bpe_tokens
        order by doc_id
      """),
      Some("""
        SELECT doc_id,
          CAST(octet_length(text::BLOB)
            - (len(text) - len(replace(text, 'the', ''))) / 3 * 2
            - (len(text) - len(replace(text, 'and', ''))) / 3 * 2
            - (len(text) - len(replace(text, 'ing', ''))) / 3 * 2
            - (len(text) - len(replace(text, 'tion', ''))) / 4 * 3
            AS BIGINT) AS n_bpe_tokens
        FROM documents ORDER BY doc_id
      """)
    ),
    (
      // Tokenizer-fitness report (Bpe.withStats via bpe_stats(...)):
      // n_bpe_tokens / n_bytes / fallback_bytes (OOV byte mass) / n_words
      // / bpe_coverage / fertility — the decide-before-you-train numbers
      // for a vocab on a corpus. EXECUTABLE oracle on the real corpus via
      // the same overlap-free vocab as q_bpe_count: greedy = literal
      // replace() occurrences, so matched_bytes = Σ occ·len, fallback =
      // octet_length − matched, tokens = hits + fallback; the two ratios
      // are exactly-rounded IEEE divisions of those integers.
      "q_bpe_stats",
      wv("""
        model bpe_vocab3 = {
          from [['the'], ['and'], ['ing'], ['tion']] as v(token)
        }
        from bpe_stats('documents', 'text', 'bpe_vocab3')
        select doc_id, n_bpe_tokens, n_bytes, fallback_bytes, n_words,
               bpe_coverage, fertility
        order by doc_id
      """),
      Some("""
        WITH s AS (
          SELECT doc_id,
            octet_length(text::BLOB)::BIGINT AS n_bytes,
            CAST((len(text) - len(replace(text, 'the', ''))) / 3 AS BIGINT) AS o1,
            CAST((len(text) - len(replace(text, 'and', ''))) / 3 AS BIGINT) AS o2,
            CAST((len(text) - len(replace(text, 'ing', ''))) / 3 AS BIGINT) AS o3,
            CAST((len(text) - len(replace(text, 'tion', ''))) / 4 AS BIGINT) AS o4,
            len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                x -> len(x) > 0))::BIGINT AS n_words
          FROM documents
        ),
        m AS (
          SELECT doc_id, n_bytes, n_words,
            (3*o1 + 3*o2 + 3*o3 + 4*o4)::BIGINT AS matched,
            (o1 + o2 + o3 + o4)::BIGINT AS hits
          FROM s
        )
        SELECT doc_id,
          (hits + n_bytes - matched)::BIGINT AS n_bpe_tokens,
          n_bytes,
          (n_bytes - matched)::BIGINT AS fallback_bytes,
          n_words,
          CASE WHEN n_bytes > 0
               THEN CAST(n_bytes - (n_bytes - matched) AS DOUBLE) / CAST(n_bytes AS DOUBLE)
          END AS bpe_coverage,
          CASE WHEN n_words > 0
               THEN CAST(hits + n_bytes - matched AS DOUBLE) / CAST(n_words AS DOUBLE)
          END AS fertility
        FROM m ORDER BY doc_id
      """)
    ),
    (
      // The BPE semantics the replace() trick CANNOT express — nested
      // vocab tokens (longest match wins), maximal munch without
      // backtracking, UTF-8 byte fallback — pinned by a closed-form
      // VALUES oracle over literal strings (the multimodal-decode
      // precedent): 'there' ⊃ 'the'; 'thé' has no 'the' (3rd byte 0xC3);
      // 'é' ∈ vocab is a 2-byte token; 'xyz' is pure fallback.
      "q_bpe_longest_match",
      wv("""
        model bpe_vocab2 = {
          from [['the'], ['there'], ['an'], ['and'], ['é']] as v(token)
        }
        model bpe_corpus = {
          from [
            [1, 'there'],
            [2, 'theres'],
            [3, 'thethe'],
            [4, 'thé'],
            [5, 'théré'],
            [6, 'andthean'],
            [7, 'xyz']
          ] as c(id, text)
        }
        from bpe_count('bpe_corpus', 'text', 'bpe_vocab2')
        select id, n_bpe_tokens
        order by id
      """),
      Some("""
        SELECT id, CAST(n AS BIGINT) AS n_bpe_tokens FROM (VALUES
          (1, 1), (2, 2), (3, 2), (4, 3), (5, 5), (6, 3), (7, 3)
        ) AS t(id, n) ORDER BY id
      """)
    ),
    (
      // Token-budget selection in BPE units (the optional vocab_rel arg of
      // select_token_budget): same distributed prefix-sum anatomy, budget
      // unit swapped to tokenizer tokens. The oracle recomputes the BPE
      // counts with the disjoint-vocab replace() formula inside ONE global
      // window — equality proves both the counter and the decomposition.
      "q_select_token_budget_bpe",
      wv("""
        model bpe_vocab = {
          from [['the'], ['and'], ['ing'], ['tion']] as v(token)
        }
        from select_token_budget('documents', 'doc_id', 'text', 70000, 'bpe_vocab')
        select doc_id, n_tokens, cum_tokens
        order by doc_id
      """),
      Some("""
        WITH t AS (
          SELECT doc_id,
            CAST(octet_length(text::BLOB)
              - (len(text) - len(replace(text, 'the', ''))) / 3 * 2
              - (len(text) - len(replace(text, 'and', ''))) / 3 * 2
              - (len(text) - len(replace(text, 'ing', ''))) / 3 * 2
              - (len(text) - len(replace(text, 'tion', ''))) / 4 * 3
              AS BIGINT) AS n_tokens,
            md5('graft' || CAST(doc_id AS VARCHAR)) AS k
          FROM documents),
        c AS (
          SELECT doc_id, n_tokens,
            sum(n_tokens) OVER (ORDER BY k, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_tokens
          FROM t)
        SELECT doc_id, n_tokens, cum_tokens FROM c
        WHERE cum_tokens <= 70000
        ORDER BY doc_id
      """)
    ),
    (
      "q_chunk_documents", // overlapping word-window chunking (explode plan)
      wv("""
        from chunk_documents('documents', 'doc_id', 'text', 40, 8)
        order by doc_id, chunk_id
      """),
      Some("""
        WITH words AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
          FROM documents
        ),
        counted AS (
          SELECT doc_id, w,
                 greatest(CAST(ceil((len(w) - 8) / 32.0) AS INT), 1) AS n
          FROM words
        ),
        expanded AS (
          SELECT doc_id, w, unnest(range(0, n)) AS i FROM counted
        )
        SELECT doc_id, i AS chunk_id,
               array_to_string(w[i*32+1 : i*32+40], ' ') AS chunk_text,
               len(w[i*32+1 : i*32+40])::BIGINT AS n_words
        FROM expanded
        ORDER BY doc_id, chunk_id
      """)
    ),
    (
      "q_multimodal_frames", // explode plan for frame sampling (stub decode)
      wv("""
        model docs_bin = { from documents select doc_id, payload = cast(text as binary) }
        from sample_frames('docs_bin', 'payload', 1, 4)
        group by doc_id
        agg n_frames = _.count
        order by doc_id
      """),
      // The stub frame count is deterministic arithmetic over payload size:
      // frameCount = least(bytes // 1024 + 1, maxFrames * stride); with
      // stride = 1 the sampled frame rows per doc equal frameCount — so the
      // oracle recomputes it from octet_length.
      Some("""
        SELECT doc_id,
          CAST(least(octet_length(text::BLOB) // 1024 + 1, 4) AS BIGINT) AS n_frames
        FROM documents ORDER BY doc_id
      """)
    )
  )

  private def sqlList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("[", ", ", "]")

  val all: Seq[(String, Q, Option[String])] =
    relationalQueries ++ pipelineQueries ++ TpchCatalog.all ++ TpcdsQueries.all ++
      DialectQueries.all

  def queries: Map[String, Q] =
    all.map { case (n, q, _) => n -> q }.toMap

  def oracleSql: Map[String, String] =
    all.collect { case (n, _, Some(sql)) => n -> sql.trim }.toMap

  /** Columns the driver's comparator cannot hash-sort: its pandas lexsort
    * runs over EVERY output column (sorted by name), and an array/struct/
    * map value is an unhashable ndarray there — the crash that turned
    * q_bpe_encode red in r17 despite correct rows. Every oracle row must
    * therefore emit only scalar columns (serialize arrays through
    * array_join — the q_array_funcs convention). Checked in Verify (all
    * rows, execution schemas) and CatalogInvariantSpec (wv rows,
    * analysis-only). */
  def nonScalarColumns(schema: org.apache.spark.sql.types.StructType): Seq[String] =
    schema.fields.collect {
      case f if (f.dataType match {
        case _: org.apache.spark.sql.types.ArrayType |
             _: org.apache.spark.sql.types.MapType |
             _: org.apache.spark.sql.types.StructType => true
        case _ => false
      }) => s"${f.name}: ${f.dataType.simpleString}"
    }.toSeq

  /** The wv rows by name. */
  def wvQueries: Map[String, WvQuery] =
    all.collect { case (n, w: WvQuery, _) => n -> w }.toMap

  /** The wv rows' text by name — the operator reference page
    * (server/OperatorDocs) maps each operator to the rows whose text calls
    * it. */
  def queryWvTexts: Map[String, String] = wvQueries.map { case (n, w) => n -> w.text }
}
