package graft.lang

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._

/** The native table functions (`from split_by_cluster(…)`), one [[Entry]]
  * each: name, typed signature, usage example and lowering. This registry is
  * the only place that knows a table function. Lowering dispatches through
  * it, the binder derives every argument error from the signature, and the
  * LSP completion list, the playground demo check and the operator reference
  * (`/operators`) are built from it.
  *
  * Entries whose lowering runs a Spark action or writes (index builds, bloom
  * builds, model fits, the pair kernels) also declare their output schema,
  * computed from the bound arguments and input schemas. A compile-only
  * lowering (`Context.analysisOnly`: LSP, `/api/v1/compile`, playground,
  * operator docs) returns an empty frame of that schema and never runs the
  * entry. Lazy entries get their schema by lowering.
  *
  * Adding a table function: add one entry here. Give it a `schema` if its
  * lowering runs a job or writes; TableFunctionRegistrySpec checks that its
  * example compiles with no job and no write, to the executed schema. */
object TableFunctions {

  // -------------------------------------------------------------------------
  // signatures
  // -------------------------------------------------------------------------

  /** Argument types; `describe` completes "<fn>: <param> must be …". */
  sealed abstract class Type(val describe: String)
  /** A relation name: table, file path or in-scope model. */
  case object RelT extends Type("a relation name string literal")
  case object ColT extends Type("a column name string literal")
  case object StrT extends Type("a string literal")
  case object PathT extends Type("a path string literal")
  final case class IntT(min: Long = Long.MinValue, max: Long = Long.MaxValue)
      extends Type(
        if (max != Long.MaxValue) s"an integer literal in [$min, $max]"
        else if (min == 1) "a positive integer literal"
        else if (min == Long.MinValue) "an integer literal"
        else s"an integer literal >= $min")
  final case class NumT(lo: Double, hi: Double, loOpen: Boolean, hiOpen: Boolean)
      extends Type(
        if (lo.isInfinite && hi.isInfinite) "a number literal"
        else s"a number literal in ${if (loOpen) "(" else "["}${fmt(lo)}, " +
          s"${fmt(hi)}${if (hiOpen) ")" else "]"}")
  /** One of fixed string literals, matched case-insensitively. */
  final case class OneOfT(values: String*)
      extends Type((if (values.size == 1) "" else "one of ") +
        values.map(v => s"'$v'").mkString(", "))
  /** N-gram length: a positive integer or a named preset. */
  case object NgramT extends Type(
    "a positive integer literal or an n-gram preset (" +
      contaminationPresets.toSeq.sortBy(_._1).map { case (k, n) => s"'$k' = $n" }
        .mkString(", ") + ")")

  private def fmt(d: Double): String = if (d == d.floor) d.toLong.toString else d.toString

  private val anyNum = NumT(Double.NegativeInfinity, Double.PositiveInfinity, true, true)
  private val unitOpen = NumT(0, 1, loOpen = true, hiOpen = true)
  private val positive = IntT(1)

  /** Industry-standard n-gram presets for the decontamination family:
    * 'gpt3' = 13-gram overlap (Brown et al. 2020, appendix C), 'palm' =
    * 8-gram overlap (Chowdhery et al. 2022). */
  val contaminationPresets: Map[String, Int] = Map("gpt3" -> 13, "palm" -> 8)

  /** A parameter. Optional parameters follow the required ones; an optional
    * parameter with no default is simply absent from the bound arguments. A
    * `mode` parameter shows its choices in the rendered signature. */
  final case class Param(name: String, tpe: Type, optional: Boolean = false,
      default: Option[Any] = None) {
    def label: String = tpe match {
      case OneOfT(vs @ _*) if name == "mode" => vs.map(v => s"'$v'").mkString("|")
      case _ => name
    }
  }

  private def req(name: String, tpe: Type) = Param(name, tpe)
  private def opt(name: String, tpe: Type, default: Any) =
    Param(name, tpe, optional = true, default = Some(default))
  private def maybe(name: String, tpe: Type) = Param(name, tpe, optional = true)

  private def render(sig: Seq[Param]): String = {
    val (required, optional) = sig.span(!_.optional)
    "(" + required.map(_.label).mkString(", ") + optional.map("[, " + _.label).mkString +
      "]" * optional.size + ")"
  }

  /** Bound arguments of one call: every given or defaulted parameter. */
  final class Args(val fn: String, values: Map[String, Any], val ctx: Lowering.Context) {
    def spark: org.apache.spark.sql.SparkSession = ctx.spark
    def has(p: String): Boolean = values.contains(p)
    def str(p: String): String = values(p).asInstanceOf[String]
    def long(p: String): Long = values(p).asInstanceOf[Long]
    def int(p: String): Int = long(p).toInt
    def num(p: String): Double = values(p).asInstanceOf[Double]
    def opt[T](p: String): Option[T] = values.get(p).map(_.asInstanceOf[T])
    /** Lowers a relation-name argument the way `from <name>` resolves it. */
    def rel(p: String): DataFrame = Lowering.lower(TableRef(str(p)), ctx)
    def fail(msg: String): Nothing = throw new LoweringException(s"$fn: $msg")
  }

  final case class Entry(
      name: String,
      signatures: Seq[Seq[Param]],
      example: String,
      run: Args => DataFrame,
      /** Output schema, declared by entries whose lowering runs a job or
        * writes; compile-only lowering returns an empty frame of it. */
      schema: Option[Args => StructType] = None,
      /** Relation and column arguments may be bare identifiers. */
      bareNames: Boolean = false) {
    def signature: String = signatures.map(render).mkString(" or ")
    def usage: String = s"$name expects $signature literals, e.g. $example"
    def declares(s: Args => StructType): Entry = copy(schema = Some(s))
  }

  private def entry(name: String, sig: Param*)(example: String)(run: Args => DataFrame): Entry =
    Entry(name, Seq(sig), example, run)

  /** An entry whose lowering writes and returns a one-row summary of the
    * declared shape. */
  private def writer(name: String, fields: (String, DataType)*)(sig: Param*)(example: String)(
      run: Args => Row): Entry = {
    val schema = summarySchema(fields: _*)
    Entry(name, Seq(sig), example,
      a => a.spark.createDataFrame(java.util.List.of(run(a)), schema), Some(_ => schema))
  }

  /** The schema `Seq((…)).toDF(…)` gives: strings nullable, primitives not. */
  private def summarySchema(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = t == StringType) })

  private def fld(name: String, tpe: DataType, nullable: Boolean = true) =
    StructField(name, tpe, nullable)

  /** The column a column-name argument names in a relation argument. */
  private def column(a: Args, relParam: String, colParam: String): StructField = {
    val c = a.str(colParam)
    val f = a.rel(relParam).schema.find(_.name.equalsIgnoreCase(c))
      .getOrElse(a.fail(s"'$c' is not a column of ${a.str(relParam)}"))
    StructField(f.name, f.dataType)
  }

  /** A relation argument's columns followed by `extra`. */
  private def plus(a: Args, relParam: String, extra: StructField*): StructType =
    StructType(a.rel(relParam).schema.fields ++ extra)

  /** (id, …) rows keyed by the corpus id column. */
  private def byId(extra: StructField*)(a: Args): StructType =
    StructType(column(a, "corpus", "id_col") +: extra)

  private def strings(names: String*)(a: Args): StructType =
    StructType(names.map(fld(_, StringType)))

  // -------------------------------------------------------------------------
  // binding and dispatch
  // -------------------------------------------------------------------------

  private def accept(t: Type, v: Any): Option[Any] = (t, v) match {
    case (RelT | ColT | StrT | PathT, s: String) => Some(s)
    case (IntT(lo, hi), n: Long) if n >= lo && n <= hi => Some(n)
    case (NumT(lo, hi, loOpen, hiOpen), n: java.lang.Number) =>
      val d = n.doubleValue()
      val aboveLo = if (loOpen) d > lo else d >= lo
      val belowHi = if (hiOpen) d < hi else d <= hi
      if (aboveLo && belowHi) Some(d) else None
    case (OneOfT(vs @ _*), s: String) => vs.find(_.equalsIgnoreCase(s))
    case (NgramT, n: Long) if n >= 1 => Some(n)
    case (NgramT, s: String) => contaminationPresets.get(s.toLowerCase).map(_.toLong)
    case _ => None
  }

  /** Checks `args` against the entry's signatures; the first signature that
    * accepts them wins. Arguments after the positional ones may be named,
    * `param = value`, as in a model call. */
  def bind(e: Entry, args: List[Expr], ctx: Lowering.Context): Args = {
    def value(a: Expr): Option[Any] = Lowering.constValue(a).orElse(a match {
      case Ident(n) if e.bareNames => Some(n)
      case _ => None
    })
    val isParam = e.signatures.flatten.map(_.name).toSet
    val (named, positional) = args.partitionMap {
      case BinaryOp("=", Ident(p), v) if isParam(p.toLowerCase) => Left(p.toLowerCase -> value(v))
      case a => Right(value(a))
    }
    val byName = named.toMap
    def attempt(sig: Seq[Param]): Either[String, Map[String, Any]] = {
      val bound = sig.zipWithIndex.flatMap { case (p, i) =>
        positional.lift(i).orElse(byName.get(p.name)) match {
          case Some(v) => Some(p -> v.flatMap(accept(p.tpe, _)).toRight(
            s"${e.name}: ${p.name} must be ${p.tpe.describe}, got " +
              v.map(x => s"'$x'").getOrElse("a non-literal expression")))
          case None => p.default.map(d => p -> Right(d))
        }
      }
      bound.collectFirst { case (_, Left(msg)) => msg }.toLeft(
        bound.collect { case (p, Right(v)) => p.name -> v }.toMap)
    }
    def fits(s: Seq[Param]): Boolean = positional.size <= s.size &&
      byName.keys.forall(n => s.indexWhere(_.name == n) >= positional.size) &&
      s.zipWithIndex.forall { case (p, i) =>
        p.optional || i < positional.size || byName.contains(p.name) }
    val results = e.signatures.filter(fits).map(attempt)
    results.collectFirst { case Right(vs) => new Args(e.name, vs, ctx) }.getOrElse {
      throw new LoweringException(results match {
        case Seq(Left(msg)) => msg
        case _ => e.usage
      })
    }
  }

  /** Lowers a call of a registered table function. */
  def lower(e: Entry, args: List[Expr], ctx: Lowering.Context): DataFrame = {
    val a = bind(e, args, ctx)
    e.schema match {
      case Some(s) if ctx.analysisOnly =>
        ctx.spark.createDataFrame(java.util.Collections.emptyList[Row](), s(a))
      case _ => e.run(a)
    }
  }

  def get(name: String): Option[Entry] = byName.get(name.toLowerCase)

  /** Relations the entry examples name besides the served tables (the
    * operator reference and the registry spec compile the examples with
    * these in scope). */
  val examplePreamble: String =
    """model trainset = { from documents }
      |model evalset = { from documents where doc_id < 3 }
      |model newbatch = { from documents where doc_id < 5 }
      |model reference_docs = { from documents where doc_id < 5 }
      |model good_docs = { from documents where doc_id < 20 }
      |model boilerplate_docs = { from documents where doc_id >= 480 }
      |model dup_pairs = { from [[1, 2], [3, 4]] as p(id_a, id_b) }
      |model my_vocab = { from documents select text as token }
      |model my_merges = { from [['t', 'h', 1], ['th', 'e', 2]] as m(left, right, rank) }
      |model corpusvecs = { from embeddings }
      |model evalvecs = { from embeddings where vec_id < 5 }
      |model newvecs = { from embeddings where vec_id < 5 }
      |model int8_idx = { from ann_int8_index('embeddings', 'vec_id', 'embedding') }
      |model mh_idx = { from minhash_index('documents', 'doc_id', 'text', 64, 2) }
      |model images = { from documents select doc_id as img_id, cast(text as binary) as png }
      |model new_images = { from images where img_id < 5 }
      |""".stripMargin

  // -------------------------------------------------------------------------
  // the registry
  // -------------------------------------------------------------------------

  import graft.operators._

  private val pretok = OneOfT("words", "gpt2")
  private val similarityMethods = Seq("brute", "lsh", "ivf", "ivf_kmeans", "int8", "pq",
    "pq_trained", "pq_index", "ivf_pq", "ivf_pq_trained", "lsh_int8", "int8_index",
    "lsh_int8_index", "lsh_int8_part", "ivf_int8_part")

  private def requireReadable(a: Args, path: String, what: String): Unit =
    try a.spark.read.parquet(path).schema
    catch {
      case e: org.apache.spark.sql.AnalysisException =>
        a.fail(s"expects a path to $what — ${e.getMessage}")
    }

  private def requireBm25Index(a: Args, path: String): Unit =
    requireReadable(a, path + "_meta", s"a persisted BM25 index (postings at '$path' plus " +
      "'_df'/'_meta' siblings — write them with bm25_index)")

  private def pairsRel(a: Args): DataFrame = {
    val pairs = a.rel("pairs")
    val cols = pairs.columns.map(_.toLowerCase).toSet
    if (!cols.contains("id_a") || !cols.contains("id_b"))
      a.fail(s"relation '${a.str("pairs")}' must have id_a and id_b columns " +
        s"(got ${pairs.columns.mkString(", ")})")
    pairs
  }

  private def tokenCounter(a: Args): Option[org.apache.spark.sql.Column => org.apache.spark.sql.Column] =
    Option.when(a.has("vocab_rel"))(Bpe.counter(Bpe.loadVocab(a.rel("vocab_rel"))))

  private def ngramPairs(a: Args, docs: DataFrame): DataFrame =
    Dedup.ngramJaccardPairs(docs, a.str("id_col"), a.str("text_col"),
      n = 2, threshold = a.num("jaccard_threshold"))

  private def incremental(pairsOnly: Boolean)(a: Args): DataFrame = {
    val (batch, idx) = (a.rel("batch"), a.rel("index"))
    val (id, text) = (a.str("id_col"), a.str("text_col"))
    val (t, k, b, sh) = (a.num("threshold"), a.int("num_hashes"), a.int("bands"), a.int("shingle"))
    if (pairsOnly) Dedup.minhashIndexPairs(batch, id, text, idx, t, k, b, sh)
    else Dedup.dedupAgainstMinhashIndex(batch, id, text, idx, t, k, b, sh)
  }

  private val incrementalSig = Seq(req("batch", RelT), req("index", RelT),
    req("id_col", ColT), req("text_col", ColT), opt("threshold", anyNum, 0.5),
    opt("num_hashes", positive, 64L), opt("bands", positive, 16L), opt("shingle", positive, 2L))

  private val contaminationSig = Seq(req("corpus", RelT), req("eval", RelT),
    req("id_col", ColT), req("text_col", ColT), req("n", NgramT))

  private val semanticSig = Seq(req("corpus", RelT), req("eval", RelT),
    req("id_col", ColT), req("vec_col", ColT), req("threshold", anyNum),
    opt("nlist", positive, 32L))

  private val splitSig = Seq(req("corpus", RelT), req("id_col", ColT), req("text_col", ColT),
    req("train_fraction", anyNum), opt("jaccard_threshold", anyNum, 0.12))

  private val splitPairsSig = Seq(req("corpus", RelT), req("id_col", ColT),
    req("pairs", RelT), req("train_fraction", anyNum))

  private val bloomOpts = Seq(opt("fpp", unitOpen, 0.01), maybe("expected_items", positive))

  private def againstSchema(a: Args): StructType = {
    val id = column(a, "batch", "id_col")
    StructType(Seq(id, fld("is_dup", BooleanType, false), id.copy(name = "dup_of")))
  }

  /** (id_a, id_b, score) pairs keyed by the corpus id column. */
  private def pairSchema(score: String, tpe: DataType, nullable: Boolean = true)(
      a: Args): StructType = {
    val id = column(a, "corpus", "id_col")
    StructType(Seq(id.copy(name = "id_a"), id.copy(name = "id_b"), fld(score, tpe, nullable)))
  }

  private def splitStatsSchema(a: Args): StructType = StructType(
    Seq("n_docs", "n_clusters", "clustered_docs", "max_cluster_size", "train_docs")
      .map(fld(_, LongType, false)) ++
      Seq(fld("train_frac", DoubleType), fld("target_frac", DoubleType, false),
        fld("frac_delta", DoubleType)))

  private def expected(a: Args): Option[Long] = a.opt[Long]("expected_items")

  val entries: Seq[Entry] = Seq(
    entry("ann_int8_index", req("corpus", RelT), req("id_col", ColT), req("vec_col", ColT))(
      "ann_int8_index('embeddings', 'vec_id', 'embedding')") { a =>
      Similarity.buildInt8Index(a.rel("corpus"), a.str("id_col"), a.str("vec_col"))
    },

    writer("ann_int8_index_append", "path" -> StringType, "rows" -> LongType)(
      req("index_path", PathT), req("batch", RelT), req("id_col", ColT), req("vec_col", ColT))(
      "ann_int8_index_append('/tmp/int8_idx', 'newvecs', 'vec_id', 'embedding')") { a =>
      val path = a.str("index_path")
      requireReadable(a, path, "a persisted int8 ANN index (build it with ann_int8_index)")
      Similarity.int8IndexAppend(a.spark, path, a.rel("batch"), a.str("id_col"), a.str("vec_col"))
      Row(path, a.spark.read.parquet(path).count())
    },

    // CTAS the result `partition by bucket_grp`, then query it with
    // similarity_topk('<path>', 'id', 'q8', k, 'lsh_int8_part')
    entry("ann_lsh_postings", req("index", RelT), req("id_col", ColT), req("q8_col", ColT),
      opt("planes", positive, 10L), opt("tables", positive, 4L))(
      "ann_lsh_postings('int8_idx', 'vec_id', 'q8')") { a =>
      Similarity.lshInt8IndexPostings(a.rel("index"), a.str("id_col"), a.str("q8_col"),
        a.int("planes"), a.int("tables"))
    },

    // writes the codes parquet plus its `_codebook` sibling; query it with
    // similarity_topk('<path>', '<id_col>', 'codes', k, 'pq_index')
    writer("ann_pq_index", "path" -> StringType, "rows" -> LongType,
      "subspaces" -> IntegerType, "ksub" -> IntegerType)(
      req("corpus", RelT), req("id_col", ColT), req("vec_col", ColT), req("out_path", PathT),
      opt("subspaces", positive, 16L), opt("ksub", IntT(2), 64L),
      opt("mode", OneOfT("seeded", "trained"), "seeded"),
      opt("train_sample", positive, Similarity.PqTrainSampleDefault.toLong))(
      "ann_pq_index('embeddings', 'vec_id', 'embedding', '/tmp/pq_idx', 16, 64)") { a =>
      val path = a.str("out_path")
      Similarity.writePqIndex(a.rel("corpus"), a.str("id_col"), a.str("vec_col"), path,
        a.int("subspaces"), a.int("ksub"), trained = a.str("mode") == "trained",
        trainSample = a.int("train_sample"))
      Row(path, a.spark.read.parquet(path).count(), a.int("subspaces"), a.int("ksub"))
    },

    writer("ann_pq_index_append", "path" -> StringType, "rows" -> LongType)(
      req("index_path", PathT), req("batch", RelT), req("id_col", ColT), req("vec_col", ColT))(
      "ann_pq_index_append('/tmp/pq_idx', 'newvecs', 'vec_id', 'embedding')") { a =>
      val path = a.str("index_path")
      requireReadable(a, path + "_codebook",
        s"a persisted PQ index (codes at '$path' plus the '_codebook' sibling — " +
          "build them with ann_pq_index)")
      Similarity.pqIndexAppend(a.spark, path, a.rel("batch"), a.str("id_col"), a.str("vec_col"))
      Row(path, a.spark.read.parquet(path).count())
    },

    // the payload's media metadata as columns (media_type, width, height,
    // n_bytes, sha); width and height stay null for undecoded bytes
    entry("as_media", req("corpus", RelT), req("payload_col", ColT), req("media_type", StrT))(
      "as_media('images', 'png', 'image/png')") { a =>
      val df = a.rel("corpus")
      val meta = Multimodal.asMediaColumn(F.col(a.str("payload_col")), a.str("media_type"))
      df.select(df.columns.map(df.col) ++
        Seq("media_type", "width", "height", "n_bytes", "sha").map(f => meta.getField(f).as(f)): _*)
    },

    // writes the tok_grp-partitioned postings plus `_df`/`_meta` siblings;
    // query the path with bm25_topk_index(...)
    writer("bm25_index", "path" -> StringType, "postings" -> LongType)(
      req("corpus", RelT), req("id_col", ColT), req("text_col", ColT), req("out_path", PathT))(
      "bm25_index('documents', 'doc_id', 'text', '/tmp/bm25_idx')") { a =>
      val path = a.str("out_path")
      Retrieval.writeBm25Index(a.rel("corpus"), a.str("id_col"), a.str("text_col"), path)
      Row(path, a.spark.read.parquet(path).count())
    },

    // appends a batch's postings; serving the appended index is bitwise a
    // rebuild over corpus ∪ batch, without re-reading the corpus
    writer("bm25_index_append", "path" -> StringType, "postings" -> LongType)(
      req("index_path", PathT), req("batch", RelT), req("id_col", ColT), req("text_col", ColT))(
      "bm25_index_append('/tmp/bm25_idx', 'newbatch', 'doc_id', 'text')") { a =>
      val path = a.str("index_path")
      requireBm25Index(a, path)
      Retrieval.bm25IndexAppend(a.spark, path, a.rel("batch"), a.str("id_col"), a.str("text_col"))
      Row(path, Retrieval.readPostings(a.spark, path).count())
    },

    // Okapi BM25: per query doc, the k corpus docs with the highest lexical
    // relevance; the queries relation shares the id/text column names
    entry("bm25_topk", req("corpus", RelT), req("id_col", ColT), req("text_col", ColT),
      req("queries_rel", RelT), req("k", positive), opt("k1", anyNum, 1.2), opt("b", anyNum, 0.75))(
      "bm25_topk('documents', 'doc_id', 'text', 'evalset', 5)") { a =>
      val (id, text) = (a.str("id_col"), a.str("text_col"))
      Retrieval.bm25TopK(a.rel("corpus"), id, text, a.rel("queries_rel"), id, text,
        a.int("k"), a.num("k1"), a.num("b"))
    },

    entry("bm25_topk_index", req("index_path", PathT), req("queries_rel", RelT),
      req("id_col", ColT), req("text_col", ColT), req("k", positive),
      opt("k1", anyNum, 1.2), opt("b", anyNum, 0.75))(
      "bm25_topk_index('/tmp/bm25_idx', 'evalset', 'doc_id', 'text', 5)") { a =>
      val path = a.str("index_path")
      requireBm25Index(a, path)
      Retrieval.bm25IndexTopK(a.spark, path, a.rel("queries_rel"), a.str("id_col"),
        a.str("text_col"), a.int("k"), a.num("k1"), a.num("b"))
    }.declares(a => {
      val id = column(a, "queries_rel", "id_col").dataType
      StructType(Seq(fld("query_id", id), fld("corpus_id", id), fld("bm25", DoubleType),
        fld("rank", IntegerType, nullable = false)))
    }),

    // greedy longest-match BPE token counts against the vocab relation's
    // `token` column; null text counts 0
    entry("bpe_count", req("corpus", RelT), req("text_col", ColT), req("vocab_rel", RelT))(
      "bpe_count('documents', 'text', 'my_vocab')") { a =>
      val vocab = Bpe.loadVocab(a.rel("vocab_rel"))
      val text = F.col(a.str("text_col"))
      a.rel("corpus").withColumn("n_bpe_tokens",
        F.when(text.isNull, F.lit(0L))
          .otherwise(graft.functions.BpeExpressions.bpeCount(text, vocab)))
    }.declares(plus(_, "corpus", fld("n_bpe_tokens", LongType))),

    // rank-ordered merge replay of a (left, right, rank) merges relation;
    // pretok must match the mode the merges were trained with
    entry("bpe_count_merges", req("corpus", RelT), req("text_col", ColT),
      req("merges_rel", RelT), opt("mode", pretok, "words"))(
      "bpe_count_merges('documents', 'text', 'my_merges')") { a =>
      Bpe.withMergeCount(a.rel("corpus"), a.str("text_col"),
        Bpe.loadMerges(a.rel("merges_rel")), pretok = a.str("mode"))
    }.declares(plus(_, "corpus", fld("n_bpe_merge_tokens", LongType))),

    entry("bpe_encode", req("corpus", RelT), req("id_col", ColT), req("text_col", ColT),
      req("merges_rel", RelT), opt("mode", pretok, "words"))(
      "bpe_encode('documents', 'doc_id', 'text', 'my_merges')") { a =>
      Bpe.encode(a.rel("corpus"), a.str("id_col"), a.str("text_col"),
        Bpe.loadMerges(a.rel("merges_rel")), a.str("mode"))
    }.declares(byId(fld("bpe_tokens", ArrayType(StringType)), fld("n_bpe_tokens", LongType))),

    entry("bpe_stats", req("corpus", RelT), req("text_col", ColT), req("vocab_rel", RelT))(
      "bpe_stats('documents', 'text', 'my_vocab')") { a =>
      Bpe.withStats(a.rel("corpus"), a.str("text_col"), Bpe.loadVocab(a.rel("vocab_rel")))
    }.declares(plus(_, "corpus", Seq("n_bpe_tokens", "n_bytes", "fallback_bytes", "n_words")
      .map(fld(_, LongType)) ++ Seq("bpe_coverage", "fertility").map(fld(_, DoubleType)): _*)),

    entry("bpe_train", req("corpus", RelT), req("text_col", ColT),
      req("n_merges", IntT(1, 65536)), opt("max_word_types", IntT(1, 1 << 20), (1 << 20).toLong),
      opt("mode", pretok, "words"))(
      "bpe_train('documents', 'text', 200)") { a =>
      BpeTrain.bpeTrain(a.rel("corpus"), a.str("text_col"), a.int("n_merges"),
        a.int("max_word_types"), a.str("mode"))
    }.declares(_ => StructType(Seq(fld("token", StringType, false), fld("left", StringType, false),
      fld("right", StringType, false), fld("pair_count", LongType, false),
      fld("rank", IntegerType, false)))),

    entry("build_vocab", req("corpus", RelT), req("text_col", ColT), req("size", positive))(
      "build_vocab('documents', 'text', 1000)") { a =>
      CorpusStats.buildVocab(a.rel("corpus"), a.str("text_col"), a.int("size"))
    },

    // overlapping word windows: (id, chunk_id, chunk_text, n_words)
    entry("chunk_documents", req("corpus", RelT), req("id_col", ColT), req("text_col", ColT),
      opt("chunk_words", IntT(2), 256L), opt("overlap_words", IntT(0), 32L))(
      "chunk_documents('documents', 'doc_id', 'text', 40, 8)") { a =>
      if (a.int("overlap_words") >= a.int("chunk_words"))
        a.fail("overlap_words must be below chunk_words")
      Chunking.chunkDocuments(a.rel("corpus"), a.str("id_col"), a.str("text_col"),
        a.int("chunk_words"), a.int("overlap_words"))
    },

    // (id, cluster) per id of an (id_a, id_b) pair relation; cluster is the
    // smallest id of its connected component
    entry("connected_components", req("pairs", RelT))(
      "connected_components('dup_pairs')") { a =>
      Dedup.connectedComponents(pairsRel(a))
    }.declares { a =>
      val id = pairsRel(a).schema("id_a").dataType
      StructType(Seq(fld("id", id, false), fld("cluster", id, false)))
    },

    Entry("contaminated_docs", Seq(contaminationSig),
      "contaminated_docs('documents', 'evalset', 'doc_id', 'text', 13)", a => {
        val text = a.str("text_col")
        Decontamination.contaminatedDocs(a.rel("corpus"), a.str("id_col"), text,
          a.rel("eval"), text, a.int("n"))
      }),

    Entry("contaminated_vecs", Seq(semanticSig),
      "contaminated_vecs('embeddings', 'evalvecs', 'vec_id', 'embedding', 0.95)", a => {
        val vec = a.str("vec_col")
        Decontamination.contaminatedVecs(a.rel("corpus"), a.str("id_col"), vec,
          a.rel("eval"), vec, a.num("threshold"), a.int("nlist"))
      }).declares(byId(fld("contaminated_matches", LongType), fld("max_cos_sim", DoubleType))),

    // per EVAL doc, how many corpus docs share an n-gram with it
    Entry("contamination_report", Seq(contaminationSig),
      "contamination_report('trainset', 'evalset', 'doc_id', 'text', 'gpt3')", a => {
        val (id, text) = (a.str("id_col"), a.str("text_col"))
        Decontamination.contaminationReport(a.rel("corpus"), id, text,
          a.rel("eval"), id, text, a.int("n"))
      }),

    Entry("contamination_report_semantic", Seq(semanticSig),
      "contamination_report_semantic('corpusvecs', 'evalvecs', 'vec_id', 'embedding', 0.95)",
      a => {
        val vec = a.str("vec_col")
        Decontamination.contaminationReportSemantic(a.rel("corpus"), vec,
          a.rel("eval"), a.str("id_col"), vec, a.num("threshold"), a.int("nlist"))
      }).declares(a => StructType(Seq(column(a, "eval", "id_col"),
      fld("leaking_docs", LongType, false), fld("max_cos_sim", DoubleType)))),

    entry("decode_audio", req("corpus", RelT), req("id_col", ColT), req("payload_col", ColT))(
      "decode_audio('images', 'img_id', 'png')") { a =>
      Multimodal.decodeAudio(a.rel("corpus"), a.str("id_col"), a.str("payload_col"))
    },

    entry("decode_images", req("corpus", RelT), req("id_col", ColT), req("payload_col", ColT),
      opt("hist_buckets", positive, 8L))(
      "decode_images('images', 'img_id', 'png', 8)") { a =>
      Multimodal.decodeImages(a.rel("corpus"), a.str("id_col"), a.str("payload_col"),
        a.int("hist_buckets"))
    },

    entry("decode_video", req("corpus", RelT), req("id_col", ColT), req("payload_col", ColT),
      opt("stride", positive, 2L), opt("max_frames", positive, 8L))(
      "decode_video('images', 'img_id', 'png', 2, 8)") { a =>
      Multimodal.decodeVideoFrames(a.rel("corpus"), a.str("id_col"), a.str("payload_col"),
        a.int("stride"), a.int("max_frames"))
    },

    Entry("decontaminate", Seq(contaminationSig),
      "decontaminate('documents', 'evalset', 'doc_id', 'text', 13)", a => {
        val text = a.str("text_col")
        Decontamination.decontaminate(a.rel("corpus"), a.str("id_col"), text,
          a.rel("eval"), text, a.int("n"))
      }),

    Entry("decontaminate_semantic", Seq(semanticSig),
      "decontaminate_semantic('embeddings', 'evalvecs', 'vec_id', 'embedding', 0.95)", a => {
        val vec = a.str("vec_col")
        Decontamination.decontaminateSemantic(a.rel("corpus"), a.str("id_col"), vec,
          a.rel("eval"), vec, a.num("threshold"), a.int("nlist"))
      }).declares(_.rel("corpus").schema),

    // bloom-pruned EXACT dedup: same rows as exact dedup for any fpp;
    // expected_items overrides the plan-statistics sizing estimate
    entry("dedup_bloom", Seq(req("corpus", RelT), req("id_col", ColT),
      req("text_col", ColT)) ++ bloomOpts: _*)(
      "dedup_bloom('documents', 'doc_id', 'text', 0.01)") { a =>
      Dedup.bloomExactGroups(a.rel("corpus"), a.str("id_col"), a.str("text_col"),
        a.num("fpp"), expected(a))
    }.declares(a => StructType(Seq(fld("fingerprint", StringType),
      column(a, "corpus", "id_col").copy(name = "keep_id"), fld("dup_count", LongType, false)))),

    // exact incremental dedup of a batch against a corpus; per batch row
    // (id, is_dup, dup_of)
    entry("dedup_bloom_against", Seq(req("corpus", RelT), req("batch", RelT),
      req("id_col", ColT), req("text_col", ColT)) ++ bloomOpts: _*)(
      "dedup_bloom_against('documents', 'newbatch', 'doc_id', 'text', 0.01)") { a =>
      Dedup.bloomDedupAgainst(a.rel("corpus"), a.rel("batch"), a.str("id_col"),
        a.str("text_col"), a.num("fpp"), expected(a))
    }.declares(againstSchema),

    entry("dedup_bloom_against_index", req("index_path", PathT), req("corpus", RelT),
      req("batch", RelT), req("id_col", ColT), req("text_col", ColT))(
      "dedup_bloom_against_index('/tmp/bloom_idx', 'documents', 'newbatch', 'doc_id', 'text')") {
      a =>
        Dedup.bloomDedupAgainstIndex(a.spark, a.str("index_path"), a.rel("corpus"),
          a.rel("batch"), a.str("id_col"), a.str("text_col"))
    }.declares(againstSchema),

    // persists the corpus-membership bloom as one parquet row
    // (bloom, n, num_bits, fpp)
    writer("dedup_bloom_index", "path" -> StringType, "num_bits" -> LongType)(
      Seq(req("corpus", RelT), req("id_col", ColT), req("text_col", ColT),
        req("out_path", PathT)) ++ bloomOpts: _*)(
      "dedup_bloom_index('documents', 'doc_id', 'text', '/tmp/bloom_idx')") { a =>
      val path = a.str("out_path")
      Dedup.writeBloomIndex(a.rel("corpus"), a.str("id_col"), a.str("text_col"), path,
        a.num("fpp"), expected(a))
      Row(path, a.spark.read.parquet(path).head().getLong(2))
    },

    writer("dedup_bloom_index_append", "path" -> StringType, "num_bits" -> LongType)(
      req("index_path", PathT), req("batch", RelT), req("id_col", ColT), req("text_col", ColT))(
      "dedup_bloom_index_append('/tmp/bloom_idx', 'newbatch', 'doc_id', 'text')") { a =>
      val path = a.str("index_path")
      requireReadable(a, path, "a persisted bloom index (write it with dedup_bloom_index)")
      Dedup.bloomIndexAppend(a.spark, path, a.rel("batch"), a.str("id_col"), a.str("text_col"))
      Row(path, a.spark.read.parquet(path).head().getLong(2))
    },

    // (id_a, id_b, cos_sim) pairs at or above the threshold; 'lsh' compares
    // docs sharing a random-hyperplane bucket, 'brute' every pair
    entry("dedup_embedding_cosine", req("corpus", RelT), req("id_col", ColT),
      req("vec_col", ColT), opt("threshold", anyNum, 0.95),
      opt("method", OneOfT("lsh", "brute"), "lsh"))(
      "dedup_embedding_cosine('embeddings', 'vec_id', 'embedding', 0.9)") { a =>
      Dedup.embeddingCosinePairs(a.rel("corpus"), a.str("id_col"), a.str("vec_col"),
        a.num("threshold"), bruteForce = a.str("method") == "brute")
    }.declares(pairSchema("cos_sim", DoubleType)),

    // exact dedup: (fingerprint, keep_id, dup_count) per normalized-text group
    entry("dedup_exact", req("corpus", RelT), req("id_col", ColT), req("text_col", ColT))(
      "dedup_exact('documents', 'doc_id', 'text')") { a =>
      Dedup.exactGroups(a.rel("corpus"), a.str("id_col"), a.str("text_col"))
    },

    // (num_hashes, shingle) must match the index build
    Entry("dedup_incremental", Seq(incrementalSig),
      "dedup_incremental('newbatch', 'mh_idx', 'doc_id', 'text', 0.5, 64, 16, 2)",
      incremental(pairsOnly = false)),

    Entry("dedup_incremental_pairs", Seq(incrementalSig),
      "dedup_incremental_pairs('newbatch', 'mh_idx', 'doc_id', 'text', 0.5, 64, 16, 2)",
      incremental(pairsOnly = true)),

    // MinHash-LSH candidate pairs (band collisions) verified by shingle
    // Jaccard; (id_a, id_b, jaccard)
    entry("dedup_minhash_lsh", req("corpus", RelT), req("id_col", ColT), req("text_col", ColT),
      opt("threshold", anyNum, 0.8), opt("num_hashes", positive, 128L),
      opt("bands", positive, 32L), opt("shingle", positive, 3L))(
      "dedup_minhash_lsh('documents', 'doc_id', 'text', 0.5, 64, 16, 2)") { a =>
      if (a.int("num_hashes") % a.int("bands") != 0)
        a.fail("num_hashes must be divisible by bands")
      Dedup.minhashLshPairs(a.rel("corpus"), a.str("id_col"), a.str("text_col"),
        a.num("threshold"), a.int("num_hashes"), a.int("bands"), a.int("shingle"))
    }.declares(pairSchema("jaccard", DoubleType)),

    // exact n-gram Jaccard pairs; shingles posted by more than max_postings
    // docs are skipped
    entry("dedup_ngram_jaccard", req("corpus", RelT), req("id_col", ColT), req("text_col", ColT),
      opt("n", positive, 2L), opt("threshold", anyNum, 0.5),
      opt("max_postings", positive, 10000L))(
      "dedup_ngram_jaccard('documents', 'doc_id', 'text', 2, 0.12)") { a =>
      Dedup.ngramJaccardPairs(a.rel("corpus"), a.str("id_col"), a.str("text_col"),
        a.int("n"), a.num("threshold"), a.int("max_postings"))
    },

    // near-duplicate IMAGE pairs via DCT perceptual hash; (id_a, id_b, hamming)
    entry("dedup_phash", req("corpus", RelT), req("id_col", ColT), req("image_col", ColT),
      opt("hamming_r", IntT(0, 14), 3L))(
      "dedup_phash('images', 'img_id', 'png', 3)") { a =>
      Dedup.phashPairs(a.rel("corpus"), a.str("id_col"), a.str("image_col"), a.int("hamming_r"))
    }.declares(_ => StructType(Seq(fld("id_a", LongType, false), fld("id_b", LongType, false),
      fld("hamming", IntegerType)))),

    // (batch_id, corpus_id, hamming) links from a new image batch
    entry("dedup_phash_against", req("corpus", RelT), req("batch", RelT), req("id_col", ColT),
      req("image_col", ColT), opt("hamming_r", IntT(0, 15), 3L))(
      "dedup_phash_against('images', 'new_images', 'img_id', 'png', 3)") { a =>
      Dedup.phashAgainst(a.rel("corpus"), a.rel("batch"), a.str("id_col"), a.str("image_col"),
        a.int("hamming_r"))
    },

    // SemDeDup: one representative per within-cluster semantic-duplicate group
    entry("dedup_semantic", req("corpus", RelT), req("id_col", ColT), req("vec_col", ColT),
      opt("nlist", positive, 32L), opt("threshold", anyNum, 0.9))(
      "dedup_semantic('embeddings', 'vec_id', 'embedding', 32, 0.9)") { a =>
      Dedup.semDedup(a.rel("corpus"), a.str("id_col"), a.str("vec_col"), a.int("nlist"),
        a.num("threshold"))
    }.declares(_.rel("corpus").schema),

    // the within-cluster cosine pairs dedup_semantic drops from;
    // (bucket, id_a, id_b, cos_sim)
    entry("dedup_semantic_pairs", req("corpus", RelT), req("id_col", ColT), req("vec_col", ColT),
      opt("nlist", positive, 32L), opt("threshold", anyNum, 0.9))(
      "dedup_semantic_pairs('embeddings', 'vec_id', 'embedding', 32, 0.9)") { a =>
      Dedup.semDedupPairs(a.rel("corpus"), a.str("id_col"), a.str("vec_col"), a.int("nlist"),
        a.num("threshold"))
    }.declares(a => StructType(fld("bucket", LongType) +: pairSchema("cos_sim", DoubleType)(a).fields)),

    // SimHash near-duplicate pairs: (id_a, id_b, hamming) within max_hamming bits
    entry("dedup_simhash", req("corpus", RelT), req("id_col", ColT), req("text_col", ColT),
      opt("max_hamming", IntT(0, 64), 3L))(
      "dedup_simhash('documents', 'doc_id', 'text', 3)") { a =>
      Dedup.simhashPairs(a.rel("corpus"), a.str("id_col"), a.str("text_col"), a.int("max_hamming"))
    }.declares(pairSchema("hamming", IntegerType, nullable = false)),

    // masks token spans repeated across >= min_docs documents
    entry("dedup_spans", req("corpus", RelT), req("id_col", ColT), req("text_col", ColT),
      opt("span_len", IntT(2), 8L), opt("min_docs", positive, 2L))(
      "dedup_spans('documents', 'doc_id', 'text', 8, 2)") { a =>
      Dedup.spanDedup(a.rel("corpus"), a.str("id_col"), a.str("text_col"), a.int("span_len"),
        a.int("min_docs"))
    },

    // the corpus in md5(seed || id) order, seed 'graft'
    entry("deterministic_shuffle", req("corpus", RelT), req("id_col", ColT))(
      "deterministic_shuffle('documents', 'doc_id')") { a =>
      Sampling.deterministicShuffle(a.rel("corpus"), a.str("id_col"))
    },

    // the corpus minus every pair cluster's members but its smallest id
    entry("drop_duplicate_clusters", req("corpus", RelT), req("id_col", ColT), req("pairs", RelT))(
      "drop_duplicate_clusters('documents', 'doc_id', 'dup_pairs')") { a =>
      Dedup.dropDuplicateClusters(a.rel("corpus"), a.str("id_col"), pairsRel(a))
    }.declares { a =>
      pairsRel(a)
      val id = column(a, "corpus", "id_col")
      StructType(a.rel("corpus").schema.fields.filter(_.name == id.name) ++
        a.rel("corpus").schema.fields.filterNot(_.name == id.name))
    },

    // Gumbel-top-k importance resampling; target_text_col defaults to text_col
    entry("dsir_sample", req("corpus", RelT), req("id_col", ColT), req("text_col", ColT),
      req("target_rel", RelT), req("k", positive), opt("seed", StrT, "dsir"),
      maybe("target_text_col", ColT))(
      "dsir_sample('documents', 'doc_id', 'text', 'reference_docs', 100)") { a =>
      val text = a.str("text_col")
      Sampling.dsirSample(a.rel("corpus"), a.str("id_col"), text, a.rel("target_rel"),
        a.opt[String]("target_text_col").getOrElse(text), a.int("k"), a.str("seed"))
    }.declares(byId(fld("n_tokens", LongType), fld("dsir_weight", DoubleType),
      fld("sample_key", DoubleType))),

    // DSIR log importance weight; a single trailing 'unigram'/'bigram' is the
    // feature mode, any other single trailing string the target text column
    Entry("dsir_weight", Seq(
      Seq(req("corpus", RelT), req("id_col", ColT), req("text_col", ColT),
        req("target_rel", RelT), opt("mode", OneOfT("unigram", "bigram"), "unigram")),
      Seq(req("corpus", RelT), req("id_col", ColT), req("text_col", ColT),
        req("target_rel", RelT), req("target_text_col", ColT),
        opt("mode", OneOfT("unigram", "bigram"), "unigram"))),
      "dsir_weight('documents', 'doc_id', 'text', 'reference_docs')", a => {
        val text = a.str("text_col")
        Sampling.dsirWeight(a.rel("corpus"), a.str("id_col"), text, a.rel("target_rel"),
          a.opt[String]("target_text_col").getOrElse(text), a.str("mode"))
      }).declares(byId(fld("n_tokens", LongType), fld("dsir_weight", DoubleType))),

    // DuckDB-shaped columns over this engine's function registry
    entry("duckdb_functions")("duckdb_functions()") { a =>
      val spark = a.spark
      import spark.implicits._
      val builtin = a.spark.catalog.listFunctions().collect().toSeq
        .map(f => (f.name, "scalar", null: String))
      val user = a.ctx.funcs.keys.map((_, "macro", null: String)).toSeq ++
        a.ctx.partials.keys.map((_, "table_macro", null: String)).toSeq
      (builtin ++ user).sortBy(_._1).toDF("function_name", "function_type", "return_type")
    }.declares(strings("function_name", "function_type", "return_type")),

    // top-k rows per group by score, rank() keeping boundary ties (the SQL
    // shim's each_top_k rewrite); child columns + `rank`
    Entry("each_top_k", Seq(Seq(req("relation", RelT), req("k", IntT()),
      req("group_col", ColT), req("score_col", ColT))),
      "each_top_k(events, 3, event_type, value)", a => {
        val df = a.rel("relation")
        def resolve(p: String) = {
          val c = a.str(p)
          df.columns.find(_.equalsIgnoreCase(c)).getOrElse(
            a.fail(s"'$c' is not a column of ${a.str("relation")}"))
        }
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(F.col(resolve("group_col"))).orderBy(F.col(resolve("score_col")).desc)
        df.withColumn("rank", F.rank().over(w)).filter(F.col("rank") <= a.long("k"))
      }, bareNames = true),

    Entry("jdbc", Seq(
      Seq(req("url", StrT), req("table", StrT)),
      Seq(req("url", StrT), req("table", StrT), req("partition_col", ColT),
        req("num_partitions", positive), req("lower", IntT()), req("upper", IntT()))),
      "jdbc('jdbc:derby:memory:graft', 'people')", a =>
        if (a.has("partition_col"))
          graft.sources.Jdbc.readPartitioned(a.spark, a.str("url"), a.str("table"),
            a.str("partition_col"), a.int("num_partitions"), a.long("lower"), a.long("upper"))
        else graft.sources.Jdbc.read(a.spark, a.str("url"), a.str("table"))),

    entry("keywords_tfidf", req("corpus", RelT), req("id_col", ColT), req("text_col", ColT),
      opt("k", positive, 5L))(
      "keywords_tfidf('documents', 'doc_id', 'text', 5)") { a =>
      Retrieval.keywordsTfidf(a.rel("corpus"), a.str("id_col"), a.str("text_col"), a.int("k"))
    },

    // (id, sig array<long>) signature index, meant to be CTAS'd
    entry("minhash_index", req("corpus", RelT), req("id_col", ColT), req("text_col", ColT),
      opt("num_hashes", positive, 64L), opt("shingle", positive, 2L))(
      "minhash_index('documents', 'doc_id', 'text', 64, 2)") { a =>
      Dedup.buildMinhashIndex(a.rel("corpus"), a.str("id_col"), a.str("text_col"),
        a.int("num_hashes"), a.int("shingle"))
    },

    writer("minhash_index_append", "path" -> StringType, "rows" -> LongType)(
      req("index_path", PathT), req("batch", RelT), req("id_col", ColT), req("text_col", ColT),
      opt("num_hashes", positive, 64L), opt("shingle", positive, 2L))(
      "minhash_index_append('/tmp/mh_idx', 'newbatch', 'doc_id', 'text')") { a =>
      val path = a.str("index_path")
      requireReadable(a, path, "a persisted MinHash index (build it with minhash_index)")
      Dedup.minhashIndexAppend(a.spark, path, a.rel("batch"), a.str("id_col"),
        a.str("text_col"), a.int("num_hashes"), a.int("shingle"))
      Row(path, a.spark.read.parquet(path).count())
    },

    // multinomial temperature mixing: target composition q_d ∝ p_d^alpha
    entry("mix_by_temperature", req("corpus", RelT), req("domain_col", ColT),
      req("id_col", ColT), req("alpha", NumT(0, 10, loOpen = true, hiOpen = false)))(
      "mix_by_temperature('documents', 'lang', 'doc_id', 0.5)") { a =>
      Sampling.mixByTemperature(a.rel("corpus"), a.str("domain_col"), a.str("id_col"),
        a.num("alpha"))
    }.declares(plus(_, "corpus", fld("copy", IntegerType, false))),

    // with a vocab relation the budget unit is BPE tokens instead of words
    entry("pack_sequences", req("corpus", RelT), req("id_col", ColT), req("text_col", ColT),
      req("budget", IntT()), opt("shards", positive, 16L), maybe("vocab_rel", RelT))(
      "pack_sequences('documents', 'doc_id', 'text', 2048)") { a =>
      Packing.packSequences(a.rel("corpus"), a.str("id_col"), a.str("text_col"),
        a.int("budget"), a.int("shards"), tokenCounter = tokenCounter(a))
    }.declares(byId(fld("shard", IntegerType), fld("n_tokens", LongType),
      fld("offset", LongType), fld("pack_first", LongType), fld("pack_last", LongType),
      fld("pack_offset", LongType))),

    // per-column-chunk footer metadata (DuckDB parity)
    entry("parquet_metadata", req("path", PathT))(
      "parquet_metadata('documents.parquet')") { a =>
      parquetMetadata(a.str("path"), a.ctx)
    },

    // unigram-LM mean negative log-likelihood per doc, fit on the corpus
    entry("perplexity_score", req("corpus", RelT), req("id_col", ColT), req("text_col", ColT))(
      "perplexity_score('documents', 'doc_id', 'text')") { a =>
      CorpusStats.unigramNll(a.rel("corpus"), a.str("id_col"), a.str("text_col"))
    },

    // bigram-LM mean NLL with Stupid Backoff, or interpolated Kneser-Ney
    Entry("perplexity_score_bigram", Seq(
      Seq(req("corpus", RelT), req("id_col", ColT), req("text_col", ColT),
        opt("alpha", NumT(0, 1, loOpen = true, hiOpen = false), 0.4),
        opt("min_count", positive, 2L)),
      Seq(req("corpus", RelT), req("id_col", ColT), req("text_col", ColT),
        req("mode", OneOfT("kn")), opt("discount", unitOpen, 0.75),
        opt("min_count", positive, 2L))),
      "perplexity_score_bigram('documents', 'doc_id', 'text', 0.4, 2)", a =>
        if (a.has("mode"))
          CorpusStats.bigramNllKn(a.rel("corpus"), a.str("id_col"), a.str("text_col"),
            a.num("discount"), a.long("min_count"))
        else
          CorpusStats.bigramNll(a.rel("corpus"), a.str("id_col"), a.str("text_col"),
            a.num("alpha"), a.long("min_count"))),

    // cosine of each embedding to its own seeded-cluster prototype
    entry("prototypicality_score", req("corpus", RelT), req("id_col", ColT),
      req("vec_col", ColT), opt("nlist", positive, 32L))(
      "prototypicality_score('embeddings', 'vec_id', 'embedding', 32)") { a =>
      Similarity.prototypicalityScore(a.rel("corpus"), a.str("id_col"), a.str("vec_col"),
        a.int("nlist"))
    }.declares(byId(fld("cluster", LongType), fld("proto_cos", DoubleType))),

    // logistic classifier trained driver-side on the bounded pos/neg sets
    entry("quality_classifier_score", req("corpus", RelT), req("id_col", ColT),
      req("text_col", ColT), req("pos_rel", RelT), req("neg_rel", RelT))(
      "quality_classifier_score('documents', 'doc_id', 'text', 'good_docs', " +
        "'boilerplate_docs')") { a =>
      QualityClassifier.qualityClassifierScore(a.rel("corpus"), a.str("id_col"),
        a.str("text_col"), a.rel("pos_rel"), a.rel("neg_rel"))
    }.declares(byId(fld("quality_prob", DoubleType))),

    Entry("range", Seq(
      Seq(req("n", IntT())),
      Seq(req("start", IntT()), req("end", IntT()), opt("step", IntT(), 1L))),
      "range(5)", a =>
        (if (a.has("n")) a.spark.range(a.long("n"))
        else a.spark.range(a.long("start"), a.long("end"), a.long("step"))).toDF("id")),

    entry("resize_images", req("corpus", RelT), req("id_col", ColT), req("payload_col", ColT),
      req("width", positive), req("height", positive))(
      "resize_images('images', 'img_id', 'png', 32, 32)") { a =>
      Multimodal.resizeImages(a.rel("corpus"), a.str("id_col"), a.str("payload_col"),
        a.int("width"), a.int("height"))
    },

    // the corpus rows at every stride-th of up to stride·max_frames frame
    // indexes, the frame count estimated from the payload size
    entry("sample_frames", req("corpus", RelT), req("payload_col", ColT),
      opt("stride", positive, 10L), opt("max_frames", positive, 8L))(
      "sample_frames('images', 'png', 1, 4)") { a =>
      Multimodal.sampleFrames(a.rel("corpus"), a.str("payload_col"), a.int("stride"),
        a.int("max_frames"))
    },

    // the k rows per class with the smallest md5(seed || id), seed 'graft'
    entry("sample_stratified", req("corpus", RelT), req("class_col", ColT), req("id_col", ColT),
      req("k", positive))(
      "sample_stratified('documents', 'lang', 'doc_id', 20)") { a =>
      Sampling.stratifiedTopK(a.rel("corpus"), a.str("class_col"), a.str("id_col"), a.int("k"))
    },

    // md5-ordered corpus prefix whose cumulative token count fits the budget
    entry("select_token_budget", req("corpus", RelT), req("id_col", ColT),
      req("text_col", ColT), req("budget_tokens", IntT(0)), maybe("vocab_rel", RelT))(
      "select_token_budget('documents', 'doc_id', 'text', 50000)") { a =>
      Sampling.selectTokenBudget(a.rel("corpus"), a.str("id_col"), a.str("text_col"),
        a.long("budget_tokens"), tokenCounter = tokenCounter(a))
    }.declares(plus(_, "corpus", fld("n_tokens", LongType), fld("cum_tokens", LongType))),

    // the highest-`order_col` docs whose cumulative token count fits
    entry("select_token_budget_by", req("corpus", RelT), req("id_col", ColT),
      req("text_col", ColT), req("budget_tokens", IntT(0)), req("order_col", ColT),
      maybe("vocab_rel", RelT))(
      "select_token_budget_by('documents', 'doc_id', 'text', 50000, 'n_chars')") { a =>
      Sampling.selectTokenBudgetBy(a.rel("corpus"), a.str("id_col"), a.str("text_col"),
        a.long("budget_tokens"), a.str("order_col"), tokenCounter = tokenCounter(a))
    }.declares(plus(_, "corpus", fld("n_tokens", LongType), fld("cum_tokens", LongType))),

    // (id, simhash) 64-bit SimHash signatures
    entry("simhash_table", req("corpus", RelT), req("id_col", ColT), req("text_col", ColT))(
      "simhash_table('documents', 'doc_id', 'text')") { a =>
      Dedup.simhashTable(a.rel("corpus"), a.str("id_col"), a.str("text_col"))
    },

    // per-query cosine top-k neighbours in the corpus, self-matches
    // excluded; the queries relation (same id/vector column names) defaults
    // to the corpus; see similarityTopK for the methods
    Entry("similarity_topk", Seq(
      Seq(req("corpus", RelT), req("id_col", ColT), req("vec_col", ColT), req("k", positive),
        req("mode", OneOfT("pq_trained", "ivf_pq_trained")), req("train_sample", positive),
        maybe("queries", RelT)),
      Seq(req("corpus", RelT), req("id_col", ColT), req("vec_col", ColT), req("k", positive),
        opt("method", OneOfT(similarityMethods: _*), "brute"), maybe("planes", positive),
        maybe("tables", positive), maybe("nlist", positive), maybe("nprobe", positive),
        maybe("queries", RelT))),
      "similarity_topk('embeddings', 'vec_id', 'embedding', 5, 'int8')", similarityTopK)
      .declares(similaritySchema),

    // leakage-safe train/test split: verified near-dup clusters (n-gram
    // Jaccard pairs → connected components) land whole in one split
    Entry("split_by_cluster", Seq(splitSig),
      "split_by_cluster('documents', 'doc_id', 'text', 0.8, 0.12)", a => {
        val docs = a.rel("corpus")
        Sampling.splitByCluster(docs, a.str("id_col"), ngramPairs(a, docs),
          a.num("train_fraction"))
      }).declares(plus(_, "corpus", fld("split", StringType, false))),

    // the split over a precomputed (id_a, id_b) pair relation
    Entry("split_by_cluster_pairs", Seq(splitPairsSig),
      "split_by_cluster_pairs('documents', 'doc_id', 'dup_pairs', 0.8)", a =>
        Sampling.splitByCluster(a.rel("corpus"), a.str("id_col"), pairsRel(a),
          a.num("train_fraction"))).declares { a =>
        pairsRel(a)
        plus(a, "corpus", fld("split", StringType, false))
      },

    Entry("split_by_cluster_pairs_stats", Seq(splitPairsSig),
      "split_by_cluster_pairs_stats('documents', 'doc_id', 'dup_pairs', 0.8)", a =>
        Sampling.splitByClusterStats(a.rel("corpus"), a.str("id_col"), pairsRel(a),
          a.num("train_fraction"))).declares { a => pairsRel(a); splitStatsSchema(a) },

    // one row of cluster statistics for the same inputs as split_by_cluster:
    // a large max_cluster_size or frac_delta means the threshold percolates
    Entry("split_by_cluster_stats", Seq(splitSig),
      "split_by_cluster_stats('documents', 'doc_id', 'text', 0.8, 0.12)", a => {
        val docs = a.rel("corpus")
        Sampling.splitByClusterStats(docs, a.str("id_col"), ngramPairs(a, docs),
          a.num("train_fraction"))
      }).declares(splitStatsSchema),

    entry("token_stats", req("corpus", RelT), req("id_col", ColT), req("text_col", ColT))(
      "token_stats('documents', 'doc_id', 'text')") { a =>
      CorpusStats.tokenDocFrequencyFeatures(a.rel("corpus"), a.str("id_col"), a.str("text_col"))
    },

    // the k most frequent space-joined n-grams
    entry("top_ngrams", req("corpus", RelT), req("text_col", ColT), req("n", IntT(1, 8)),
      req("k", positive))(
      "top_ngrams('documents', 'text', 3, 25)") { a =>
      CorpusStats.topNgrams(a.rel("corpus"), a.str("text_col"), a.int("n"), a.int("k"))
    },

    // stateless hash split: `split` is 'train' iff md5(seed || id), seed
    // 'graft', falls below train_fraction
    entry("train_test_split", req("corpus", RelT), req("id_col", ColT),
      req("train_fraction", unitOpen))(
      "train_test_split('documents', 'doc_id', 0.8)") { a =>
      Sampling.trainTestSplit(a.rel("corpus"), a.str("id_col"), a.num("train_fraction"))
    },

    // one-row Zipf health profile
    entry("vocab_profile", req("corpus", RelT), req("text_col", ColT),
      opt("top_k", positive, 100L))(
      "vocab_profile('documents', 'text', 100)") { a =>
      CorpusStats.vocabProfile(a.rel("corpus"), a.str("text_col"), a.int("top_k"))
    },

    // deterministic domain-weighted mixing; weights as a 'domain:w,…' list
    entry("weighted_mix", req("corpus", RelT), req("domain_col", ColT), req("id_col", ColT),
      req("weights", StrT))(
      "weighted_mix('documents', 'lang', 'doc_id', 'en:1.5,de:0.75')") { a =>
      val weights = a.str("weights").split(",").map(_.trim).filter(_.nonEmpty).map { kv =>
        kv.split(":") match {
          case Array(d, w) =>
            d.trim -> w.trim.toDoubleOption.getOrElse(
              a.fail(s"bad weight '${w.trim}' in entry '$kv' (expected a number)"))
          case _ => a.fail(s"bad weight entry '$kv' (expected domain:weight)")
        }
      }.toMap
      Sampling.weightedMix(a.rel("corpus"), a.str("domain_col"), a.str("id_col"), weights)
    },

    // information_schema.schemata projected like the reference stdlib
    entry("wv_schemas")("wv_schemas()") { a =>
      val spark = a.spark
      import spark.implicits._
      a.spark.catalog.listDatabases().collect().toSeq
        .map(d => ("memory", if (d.name == "default") "main" else d.name))
        .sortBy(_._2).toDF("catalog", "name")
    }.declares(strings("catalog", "name")),

    // information_schema.tables projected to the reference stdlib's four
    // columns, under the reference's in-memory catalog names
    entry("wv_tables")("wv_tables()") { a =>
      val spark = a.spark
      import spark.implicits._
      a.spark.catalog.listTables().collect().toSeq.map { t =>
        val schema = t.database match {
          case null | "" | "default" => "main"
          case d => d
        }
        val tpe =
          if (t.tableType == "TEMPORARY" || t.tableType == "VIEW") "VIEW" else "BASE TABLE"
        ("memory", schema, t.name, tpe)
      }.sortBy(r => (r._2, r._3)).toDF("catalog", "schema", "name", "table_type")
    }.declares(strings("catalog", "schema", "name", "table_type"))
  )

  private lazy val byName: Map[String, Entry] = entries.map(e => e.name -> e).toMap

  /** similarity_topk methods: 'brute' (exact), 'lsh' | 'ivf' (bucketed;
    * 'ivf' seeds its cells from the corpus, 'ivf_kmeans' trains them),
    * 'int8' | 'pq' | 'pq_trained' | 'ivf_pq' | 'ivf_pq_trained' (quantized
    * scoring), 'int8_index' | 'lsh_int8_index' (vec_col is the q8 column of
    * a persisted ann_int8_index), and the path-based 'pq_index' (corpus is
    * an ann_pq_index path, vec_col its codes), 'lsh_int8_part' (corpus is a
    * bucket-partitioned ann_lsh_postings path) and 'ivf_int8_part' (corpus
    * is a cell-partitioned int8 index with its `_centroids` sidecar).
    * (planes, tables) apply to the lsh methods and must match the index
    * build; (nlist, nprobe) to the ivf methods, where an index fixes nlist. */
  private def similarityMethod(a: Args): String = {
    val method = a.opt[String]("method").getOrElse(a.str("mode"))
    if ((a.has("planes") || a.has("tables")) && !method.startsWith("lsh"))
      a.fail(s"(planes, tables) only apply to lsh methods, not '$method'")
    if ((a.has("nlist") || a.has("nprobe")) && !method.startsWith("ivf"))
      a.fail(s"(nlist, nprobe) only apply to ivf methods, not '$method'")
    if (a.has("nlist") && method == "ivf_int8_part")
      a.fail("'ivf_int8_part' takes nlist from its index")
    method
  }

  private val pathMethods = Set("pq_index", "lsh_int8_part", "ivf_int8_part")

  /** (query_id, corpus_id, score, rank); the path-based methods' ids are
    * taken as long, as every index writer here stores them. */
  private def similaritySchema(a: Args): StructType = {
    val method = similarityMethod(a)
    val id =
      if (pathMethods(method)) LongType
      else column(a, "corpus", "id_col").dataType
    val score = method match {
      case "brute" | "lsh" | "ivf" | "ivf_kmeans" => "cos_sim"
      case "pq" | "pq_trained" | "ivf_pq" | "ivf_pq_trained" => "pq_dist"
      case "pq_index" => "pq_sdc_dist"
      case _ => "cos_q8"
    }
    StructType(Seq(fld("query_id", id), fld("corpus_id", id), fld(score, DoubleType),
      fld("rank", IntegerType, nullable = false)))
  }

  private def similarityTopK(a: Args): DataFrame = {
    import Similarity._
    val method = similarityMethod(a)
    val (id, vec, k) = (a.str("id_col"), a.str("vec_col"), a.int("k"))
    val planes = a.opt[Long]("planes").fold(10)(_.toInt)
    val tables = a.opt[Long]("tables").fold(4)(_.toInt)
    val trainSample = a.opt[Long]("train_sample").fold(PqTrainSampleDefault)(_.toInt)
    def ivf(default: Int, p: String) = a.opt[Long](p).fold(default)(_.toInt)
    // path-based methods read `corpus` as a parquet path, so the relation
    // is only resolved by the methods that use it
    lazy val df = a.rel("corpus")
    lazy val q = if (a.has("queries")) a.rel("queries") else df
    def pathQueries(path: String) =
      if (a.has("queries")) a.rel("queries")
      else a.spark.read.parquet(path).dropDuplicates(id).select(F.col(id), F.col(vec))
    method match {
      case "brute" => bruteForceTopK(df, id, vec, q, id, vec, k)
      case "lsh" => lshTopK(df, id, vec, q, id, vec, k, planes = planes, tables = tables)
      case "ivf" => ivfSeededTopK(df, id, vec, q, id, vec, k,
        nlist = ivf(64, "nlist"), nprobe = ivf(8, "nprobe"))
      case "ivf_kmeans" => ivfTopK(df, id, vec, q, id, vec, k,
        nlist = ivf(64, "nlist"), nprobe = ivf(8, "nprobe"))
      case "ivf_pq" => ivfPqTopK(df, id, vec, q, id, vec, k,
        nlist = ivf(32, "nlist"), nprobe = ivf(4, "nprobe"))
      case "ivf_pq_trained" => ivfPqTopK(df, id, vec, q, id, vec, k,
        nlist = ivf(32, "nlist"), nprobe = ivf(4, "nprobe"),
        subspaces = PqTrainedSubspaces, ksub = PqTrainedKsub, trained = true,
        trainSample = trainSample)
      case "int8" => int8BruteForceTopK(df, id, vec, q, id, vec, k)
      case "pq" => pqTopK(df, id, vec, q, id, vec, k)
      case "pq_trained" => pqTopK(df, id, vec, q, id, vec, k,
        subspaces = PqTrainedSubspaces, ksub = PqTrainedKsub, trained = true,
        trainSample = trainSample)
      case "pq_index" =>
        val path = a.str("corpus")
        requireReadable(a, path + "_codebook", s"a persisted PQ index for 'pq_index': codes " +
          s"parquet at '$path' plus its codebook sibling at '${path}_codebook' (write both " +
          "with ann_pq_index)")
        pqIndexTopK(a.spark, path, id, vec, pathQueries(path), id, vec, k)
      case "lsh_int8" =>
        lshTopK(df, id, vec, q, id, vec, k, planes = planes, tables = tables, int8Scoring = true)
      case "int8_index" => int8IndexTopK(df, id, vec, q, id, vec, k)
      case "lsh_int8_index" =>
        lshTopKInt8Index(df, id, vec, q, id, vec, k, planes = planes, tables = tables)
      case "lsh_int8_part" =>
        val path = a.str("corpus")
        if (!path.matches("(?i).*\\.(parquet)$") && !path.contains("/"))
          a.fail("'lsh_int8_part' expects a path to a bucket-partitioned posting index " +
            "(see ann_int8_index + ann_lsh_postings)")
        lshTopKPartitionedIndex(path, id, vec, pathQueries(path), id, vec, k,
          planes = planes, tables = tables)
      case "ivf_int8_part" =>
        val path = a.str("corpus")
        requireReadable(a, path + "/_centroids", "a cell-partitioned int8 index with its " +
          s"'_centroids' sidecar at '$path'")
        ivfTopKPartitionedIndex(path, id, vec, pathQueries(path), id, vec, k,
          nprobe = ivf(8, "nprobe"))
    }
  }

  /** Footer metadata rows for a parquet file or directory of part files.
    * Relative paths resolve against basePath; when a test corpus addresses
    * a path by its repo-relative spelling, leading segments are stripped
    * until a basePath-relative suffix exists. */
  private def parquetMetadata(path0: String, ctx: Lowering.Context): DataFrame = {
    def candidates(p: String): Seq[String] = {
      val base = ctx.basePath.stripSuffix("/")
      if (p.startsWith("/")) Seq(p)
      else {
        val segs = p.split('/')
        Seq(p) ++ (if (base.isEmpty) Nil
        else segs.indices.map(i => s"$base/${segs.drop(i).mkString("/")}"))
      }
    }
    val resolved = candidates(path0)
      .find(p => new java.io.File(p).exists())
      .getOrElse(throw new LoweringException(s"parquet_metadata: '$path0' not found"))
    val f = new java.io.File(resolved)
    val files =
      if (f.isDirectory)
        f.listFiles().filter(x => x.getName.endsWith(".parquet") &&
          !x.getName.startsWith(".") && !x.getName.startsWith("_")).sortBy(_.getName)
      else Array(f)
    import scala.jdk.CollectionConverters._
    val conf = ctx.spark.sparkContext.hadoopConfiguration
    val rows: Seq[(String, Long, Long, String, String, Long)] = files.toSeq.flatMap { file =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.getAbsolutePath), conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val blocks = reader.getFooter.getBlocks.asScala
        blocks.zipWithIndex.flatMap { case (b, gi) =>
          b.getColumns.asScala.zipWithIndex.map { case (c, ci) =>
            (file.getName, gi.toLong, ci.toLong,
              c.getPath.toDotString, c.getCodec.name(), c.getValueCount)
          }
        }.toSeq
      } finally reader.close()
    }
    import ctx.spark.implicits._
    rows.toDF("file_name", "row_group_id", "column_id", "path_in_schema",
      "compression", "num_values")
  }
}
