package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{Graft, Tables}
import graft.lang.WvToSql

/** Execution-gated DuckDB-dialect codegen rows: each entry is ONE wv text;
  * the Spark side runs it through the normal DataFrame lowering, and the
  * DuckDB oracle is the text `WvToSql.generate(text, Target.DuckDb)`
  * produces — so the driver's oracle gate directly executes the generated
  * dialect SQL, and any wrong DuckDB spelling (list_sort vs sort_array,
  * strftime patterns, SEMI JOIN, `* EXCLUDE`, zipped unnest, the
  * pivot→conditional-aggregation rewrite) turns the row red.
  *
  * This is the dialect-correctness discipline the reference cannot give its
  * own SqlGenerator (it only round-trips text); the queries cover every
  * dialect branch point that is executable in DuckDB. Numeric hygiene
  * follows the catalog conventions (round(4) on double aggs, `.to_long` on
  * integral aggregates, explicit NULLS FIRST, unique total order).
  */
object DialectQueries {

  type Q = QueryCatalog.Q

  private def wv(text: String): Q =
    (spark, dir) => Graft.query(spark, text, Tables.resolver(spark, dir), basePath = dir)

  /** (name, wv text) pairs — the single source for both sides. */
  private val texts: Seq[(String, String)] = Seq(
    (
      "q_wv2duckdb_agg",
      """
        from lineitem
        where l_shipdate >= '1996-01-01'.to_timestamp
        group by l_returnflag, l_linestatus
        agg n = _.count,
            qty = l_quantity.sum.round(4),
            avg_price = (l_extendedprice.mean + 0.000000005).round(4),
            dq = l_quantity.count_distinct,
            n_big = count(l_orderkey) filter (where l_quantity > 40),
            p50 = l_quantity.percentile(0.5).round(4)
        order by l_returnflag, l_linestatus
      """
    ),
    (
      "q_wv2duckdb_string",
      """
        from part
        where p_partkey <= 400
        select p_partkey,
          up = p_name.upper,
          head = p_name.substring(1, 5),
          has_ol = p_name.contains('ol'),
          sw = p_name.starts_with('b'),
          ew = p_name.ends_with('d'),
          pad = p_brand.lpad(12, '_'),
          rep = p_type.replace(' ', '-'),
          n = p_name.length.to_long,
          rx = p_name.regexp_like('^[a-m]'),
          lk = p_name.like('%blue%')
        order by p_partkey
      """
    ),
    (
      "q_wv2duckdb_date",
      """
        from orders
        where o_orderkey <= 2000
        select o_orderkey,
          y = o_orderdate.year.to_long,
          m = o_orderdate.month.to_long,
          d = o_orderdate.day.to_long,
          ds = o_orderdate.date_format('yyyy-MM-dd'),
          mon = o_orderdate.date_trunc('month').date_format('yyyy-MM'),
          yx = o_orderdate.extract('year').to_long
        order by o_orderkey
      """
    ),
    (
      "q_wv2duckdb_array",
      """
        from part
        where p_partkey <= 300
        select p_partkey,
          n = p_name.split(' ').array_size.to_long,
          w1 = p_name.split(' ')[1],
          joined = p_name.split(' ').array_sort.array_join('-'),
          has_blue = p_name.split(' ').array_contains('blue'),
          kept = p_name.split(' ').array_distinct.exclude(['small', 'large']).array_sort.array_join('|')
        order by p_partkey
      """
    ),
    (
      "q_wv2duckdb_unnest",
      """
        from part
        where p_partkey <= 60
        select p_partkey, words = p_name.split(' ')
        cross join unnest(words) with ordinality as t(w)
        select p_partkey, w, ord = w_ordinal.to_long
        order by p_partkey, ord
      """
    ),
    (
      "q_wv2duckdb_subquery",
      """
        from customer
        where c_custkey in {
          from orders
          where o_totalprice > 350000
          select o_custkey
        } and exists {
          from nation
          where nation.n_nationkey = customer.c_nationkey and n_regionkey = 2
        }
        select c_custkey, c_name
        order by c_custkey
      """
    ),
    (
      "q_wv2duckdb_window",
      """
        from lineitem
        where l_orderkey <= 300
        select l_orderkey, l_linenumber,
          rn = row_number() over (partition by l_orderkey order by l_linenumber),
          rk = rank() over (partition by l_returnflag order by l_extendedprice desc),
          run_qty = l_quantity.sum over (partition by l_orderkey order by l_linenumber rows[,0])
        order by l_orderkey, l_linenumber
      """
    ),
    (
      "q_wv2duckdb_setops",
      """
        from {
          from {
            from nation
            select k = n_regionkey.to_long
          } concat {
            from region
            select k = r_regionkey.to_long
          }
          distinct
        } except {
          from region
          where r_regionkey = 0
          select k = r_regionkey.to_long
        }
        order by k
      """
    ),
    (
      "q_wv2duckdb_exclude",
      """
        from part
        where p_partkey <= 100
        exclude p_type, p_retailprice
        order by p_partkey
      """
    ),
    (
      "q_wv2duckdb_pivot",
      """
        from orders
        where o_orderkey <= 5000
        select o_orderpriority, o_orderstatus, o_totalprice
        pivot on o_orderstatus in ('O', 'F', 'P') using total = o_totalprice.sum.round(4)
        order by o_orderpriority
      """
    ),
    (
      "q_wv2duckdb_model",
      """
        model big = {
          from orders
          where o_totalprice > 150000
        }
        from big
        group by o_orderpriority
        agg n = _.count, rev = o_totalprice.sum.round(4)
        where n > 3
        order by o_orderpriority
      """
    ),
    (
      "q_wv2duckdb_scalar",
      """
        from customer
        where c_custkey <= 800
        select c_custkey,
          seg = case c_mktsegment when 'BUILDING' then 'b' when 'AUTOMOBILE' then 'a' else 'x' end,
          posneg = if(c_acctbal > 0.0, 'pos', 'neg'),
          f = c_acctbal.floor.to_long,
          cl = c_acctbal.ceil.to_long,
          ab = (0.0 - c_acctbal).abs.round(2),
          sq = c_custkey.to_double.sqrt.round(6),
          lg = (c_custkey.to_double + 1.0).ln.round(6),
          nn = c_acctbal.null_if(0.0).or_else(0.0 - 1.0).round(2),
          fd = c_custkey // 7,
          bt = c_custkey.between(100, 200),
          il = c_mktsegment.in('BUILDING', 'MACHINERY')
        order by c_custkey
      """
    ),
    (
      "q_wv2duckdb_unpivot",
      """
        from part
        where p_partkey <= 50
        select p_partkey, p_size, p_retailprice
        unpivot v for metric in (p_size, p_retailprice)
        order by p_partkey, metric
      """
    ),
    (
      "q_wv2duckdb_rollup",
      """
        from lineitem
        where l_orderkey <= 4000
        group by rollup l_returnflag, l_linestatus
        agg n = _.count, qty = l_quantity.sum.round(4)
        order by l_returnflag nulls first, l_linestatus nulls first
      """
    )
  )

  // ---------------------------------------------------------------------
  // Reference-corpus leg: the reference's own TPC-H .wv files
  // (ReferenceCorpus spec/tpch) compile to DuckDB SQL and the driver
  // executes that text as the oracle against the Spark lowering of the
  // SAME file. Only the corpus files whose columns exist in the slimmed
  // testdata schema (and that return rows on it) participate: q1, q6,
  // q14, q18. Both sides pass through an identical normalization wrapper
  // (round(x + 5e-9, 4) on doubles, timestamp → 'yyyy-MM-dd HH:mm:ss'
  // string) — pure compare hygiene for cross-engine float summation order
  // and physical timestamp types; the generated statement is embedded
  // verbatim as the wrapper's FROM.
  // ---------------------------------------------------------------------

  /** Schema-driven Spark-side normalization mirroring the oracle wrapper. */
  private def normalize(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.{functions => F}
    import org.apache.spark.sql.types.{DateType, DoubleType, TimestampNTZType, TimestampType}
    df.select(df.schema.fields.map { f =>
      f.dataType match {
        case DoubleType => F.round(F.col(f.name) + F.lit(5e-9), 4).as(f.name)
        // Spark 4 reads the testdata's naive parquet timestamp[us] as
        // TimestampNTZType, not TimestampType — both must stringify, or
        // the oracle's strftime VARCHAR hash-mismatches a raw timestamp
        // (the exact r11 q_tpch18_duckdb_gen failure).
        case TimestampType | TimestampNTZType | DateType =>
          F.date_format(F.col(f.name), "yyyy-MM-dd HH:mm:ss").as(f.name)
        case _ => F.col(f.name)
      }
    }.toSeq: _*)
  }

  private def nudged(c: String): String = s"round($c + 0.000000005, 4) AS $c"

  private def tpchGenRow(name: String, file: String, wrapSelect: String,
      renames: Map[String, String] = Map.empty): (String, Q, Option[String]) = {
    val rel = s"spec/tpch/$file"
    val q: Q = (spark, dir) => {
      // unaliased aggregates auto-name differently in the lowering
      // (`sum(l_quantity)`) vs the text generator (`sum_l_quantity`);
      // align the Spark side to the generator's name for the compare
      val df0 = Graft.query(spark, ReferenceCorpus.read(rel), Tables.resolver(spark, dir),
        basePath = dir)
      normalize(renames.foldLeft(df0) { case (d, (from, to)) => d.withColumnRenamed(from, to) })
    }
    // the oracle is generated from the corpus text, so without the corpus
    // the row has none and fails when it runs, naming the missing file
    val oracle = Option.when(ReferenceCorpus.exists(rel)) {
      val duck = WvToSql.generate(ReferenceCorpus.read(rel), WvToSql.Target.DuckDb)
      s"SELECT $wrapSelect FROM (\n$duck\n)"
    }
    (name, q, oracle)
  }

  private val tpchGenRows: Seq[(String, Q, Option[String])] = Seq(
    tpchGenRow("q_tpch1_duckdb_gen", "q1.wv",
      Seq("l_returnflag", "l_linestatus",
        nudged("sum_qty"), nudged("sum_base_price"), nudged("sum_disc_price"),
        nudged("sum_charge"), nudged("avg_qty"), nudged("avg_price"), nudged("avg_disc"),
        "count_order").mkString(", ")),
    tpchGenRow("q_tpch6_duckdb_gen", "q6.wv", nudged("revenue")),
    tpchGenRow("q_tpch14_duckdb_gen", "q14.wv", nudged("promo_revenue")),
    tpchGenRow("q_tpch18_duckdb_gen", "q18.wv",
      Seq("c_name", "c_custkey", "o_orderkey",
        "strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate",
        nudged("o_totalprice"), nudged("sum_l_quantity")).mkString(", "),
      renames = Map("sum(l_quantity)" -> "sum_l_quantity"))
  )

  val all: Seq[(String, Q, Option[String])] = texts.map { case (name, text) =>
    (name, wv(text), Some(WvToSql.generate(text, WvToSql.Target.DuckDb)))
  } ++ tpchGenRows
}
