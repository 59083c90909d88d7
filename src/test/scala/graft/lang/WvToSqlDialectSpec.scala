package graft.lang

import graft.SparkTestBase
import WvToSql.Target

/** Dialect-parameterized wv → SQL codegen (the reference's `wvlet compile
  * -t <dbtype>` DBType branches, SqlGenerator.scala + TrinoRewritePivot +
  * HiveRewriteFunctions), gated three ways:
  *   - DuckDB: the q_wv2duckdb_* catalog rows hand the GENERATED text to
  *     the driver's DuckDB oracle (execution gate lives there); here the
  *     texts are pinned to contain the dialect spellings.
  *   - Hive: generated text EXECUTES through spark.sql (Spark SQL is
  *     HiveQL-derived) and must match the DataFrame lowering row-for-row —
  *     in particular the FILTER→CASE rewrite and the pivot→conditional-
  *     aggregation rewrite must be semantics-preserving.
  *   - Trino: text-gated (no Trino in the container): dialect markers
  *     (approx_distinct, arbitrary, format_datetime, OFFSET-before-LIMIT,
  *     UNNEST WITH ORDINALITY) pinned on generated statements.
  */
class WvToSqlDialectSpec extends SparkTestBase {

  private val tpchDir = graft.catalog.ReferenceCorpus.path("spec/tpch")
  private val dataDir = s"$tpchDir/data"
  private val tpchTables =
    Seq("customer", "lineitem", "nation", "orders", "part", "partsupp", "region", "supplier")

  private lazy val viewsReady: Boolean = {
    val ok = new java.io.File(dataDir).isDirectory
    if (ok) tpchTables.foreach { t =>
      spark.read.parquet(s"$dataDir/$t.parquet").createOrReplaceTempView(t)
    }
    ok
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
    df.collect().toSeq.map(_.toSeq.map {
      case null => "NULL"
      case d: java.lang.Double => f"$d%.4f"
      case d: java.math.BigDecimal => f"${d.doubleValue}%.4f"
      case f: java.lang.Float => f"$f%.4f"
      case v => String.valueOf(v)
    }).sortBy(_.mkString("|"))

  test("hive target: tpch corpus executes via spark.sql and matches the lowering") {
    assume(viewsReady, "tpch data not present")
    val files = new java.io.File(tpchDir).listFiles()
      .filter(_.getName.matches("q.*\\.wv")).map(_.getName).sorted
    val failures = scala.collection.mutable.ListBuffer.empty[(String, String)]
    var ok = 0
    files.foreach { f =>
      val text = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$tpchDir/$f")), java.nio.charset.StandardCharsets.UTF_8)
      try {
        val sql = WvToSql.generate(text, Target.Hive)
        val viaSql = rowsOf(spark.sql(sql))
        val viaDf = rowsOf(graft.Graft.run(spark, text,
          t => spark.read.parquet(s"$dataDir/$t.parquet")))
        if (viaSql == viaDf) ok += 1
        else failures += f -> s"row mismatch (${viaDf.length} vs ${viaSql.length})"
      } catch {
        case e: WvToSql.Unsupported => failures += f -> s"unsupported: ${e.getMessage}"
        case e: Throwable =>
          failures += f -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.take(2).mkString(" ")}"
      }
    }
    info(s"$ok/${files.length} files generate + execute + match under hive target")
    assert(failures.isEmpty,
      s"${failures.size} files failed: ${failures.map { case (f, m) => s"$f ($m)" }.mkString("; ")}")
  }

  test("hive target: FILTER clause rewrites to CASE and still matches") {
    assume(viewsReady, "tpch data not present")
    val text =
      """from lineitem
        |group by l_returnflag
        |agg n = _.count,
        |    n_big = count(l_orderkey) filter (where l_quantity > 40),
        |    s_small = sum(l_extendedprice) filter (where l_quantity <= 10)
        |select l_returnflag, n, n_big, s_small = s_small.round(2)
        |order by l_returnflag""".stripMargin
    val hive = WvToSql.generate(text, Target.Hive)
    assert(!hive.toUpperCase.contains("FILTER ("), s"hive text still has FILTER:\n$hive")
    assert(hive.contains("CASE WHEN"), s"expected CASE rewrite:\n$hive")
    val viaSql = rowsOf(spark.sql(hive))
    val viaDf = rowsOf(graft.Graft.run(spark, text,
      t => spark.read.parquet(s"$dataDir/$t.parquet")))
    assert(viaSql == viaDf, s"FILTER→CASE changed results:\n$hive")
  }

  test("hive target: pivot rewrites to conditional aggregation and still matches") {
    assume(viewsReady, "tpch data not present")
    val text =
      """from orders
        |select o_orderpriority, o_orderstatus, o_totalprice
        |pivot on o_orderstatus in ('O', 'F', 'P') using total = o_totalprice.sum.round(4)
        |order by o_orderpriority""".stripMargin
    val hive = WvToSql.generate(text, Target.Hive)
    assert(!hive.toUpperCase.contains("PIVOT"), s"hive text still has PIVOT:\n$hive")
    assert(hive.contains("CASE WHEN (o_orderstatus = 'O')"), s"expected conditional agg:\n$hive")
    val viaSql = rowsOf(spark.sql(hive))
    val viaDf = rowsOf(graft.Graft.run(spark, text,
      t => spark.read.parquet(s"$dataDir/$t.parquet")))
    assert(viaSql == viaDf, s"pivot rewrite changed results:\n$hive")
  }

  test("duckdb target: dialect spellings pinned on the oracle-gated texts") {
    // the execution gate is the driver's DuckDB oracle (DialectQueries
    // hands the generated text as oracle SQL); here the dialect branch
    // points are pinned so a regression is visible without the driver
    def gen(t: String) = WvToSql.generate(t, Target.DuckDb)
    val arr = gen("""from part
      |select p_partkey,
      |  n = p_name.split(' ').array_size.to_long,
      |  w1 = p_name.split(' ')[1],
      |  joined = p_name.split(' ').array_sort.array_join('-')
      |order by p_partkey""".stripMargin)
    assert(arr.contains("string_split_regex(p_name, ' ')"), arr)
    assert(arr.contains("len("), arr)
    assert(arr.contains("list_extract("), arr)
    assert(arr.contains("list_sort("), arr)
    assert(arr.contains("array_to_string("), arr)

    val dt = gen("from orders select d = o_orderdate.date_format('yyyy-MM-dd HH:mm:ss')")
    assert(dt.contains("strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')"), dt)

    val ex = gen("from part exclude p_type order by p_partkey")
    assert(ex.contains("* EXCLUDE (p_type)"), ex)

    val agg = gen("""from lineitem
      |group by l_returnflag
      |agg q = l_quantity.approx_quantile(0.5), s = l_comment.string_agg(',')""".stripMargin)
    assert(agg.contains("approx_quantile(l_quantity, "), agg)
    assert(agg.contains("array_to_string(list_sort(array_agg(CAST(l_comment AS VARCHAR)))"), agg)

    // string literals: quote doubling, backslash stays literal (Spark
    // would need \\ escapes)
    val lit = gen("""from part where p_name = 'it''s' select p_partkey""")
    assert(lit.contains("'it''s'"), lit)

    // unnest: zipped select-list unnests with a generate_series ordinal
    val un = gen("""from part
      |select p_partkey, words = p_name.split(' ')
      |cross join unnest(words) with ordinality as t(w)""".stripMargin)
    assert(un.contains("unnest(generate_series(1, len(words)))"), un)
    assert(un.contains("unnest(words) AS w"), un)
  }

  test("trino target: dialect markers") {
    def gen(t: String) = WvToSql.generate(t, Target.Trino)
    val agg = gen("""from orders
      |group by o_orderpriority
      |agg n = o_custkey.approx_count_distinct,
      |    a = o_totalprice.any_value,
      |    p = o_totalprice.approx_quantile(0.9)""".stripMargin)
    assert(agg.contains("approx_distinct(o_custkey)"), agg)
    assert(agg.contains("arbitrary(o_totalprice)"), agg)
    assert(agg.contains("approx_percentile(o_totalprice, "), agg)

    val lim = gen("from orders order by o_orderkey limit 10 offset 5")
    val oi = lim.indexOf("OFFSET")
    val li = lim.indexOf("LIMIT")
    assert(oi >= 0 && li >= 0 && oi < li, s"trino wants OFFSET before LIMIT:\n$lim")

    val un = gen("""from part
      |select p_partkey, words = p_name.split(' ')
      |cross join unnest(words) with ordinality as t(w)""".stripMargin)
    assert(un.contains("UNNEST(words) WITH ORDINALITY AS __lv(w, w_ordinal)"), un)

    val s = gen("from part select d = p_name.contains('x'), e = p_name.ends_with('y'), " +
      "sz = p_name.split(' ').array_size")
    assert(s.contains("strpos(p_name, 'x') > 0"), s)
    assert(s.contains("cardinality("), s)

    val fmt = gen("from orders select d = o_orderdate.date_format('yyyy-MM')")
    assert(fmt.contains("format_datetime(o_orderdate, 'yyyy-MM')"), fmt)

    // unsupported surfaces fail loudly instead of emitting wrong SQL
    intercept[WvToSql.Unsupported] { gen("from part exclude p_type") }
    // unpivot works when the child schema is explicit (UNION ALL stack)...
    val up = gen("from part select p_partkey, p_size, p_retailprice " +
      "unpivot v for k in (p_size, p_retailprice)")
    assert(up.contains("UNION ALL") && up.contains("'p_size' AS k"), up)
    // ...and fails loudly when it is not
    intercept[WvToSql.Unsupported] { gen("from part unpivot v for k in (p_size)") }
  }

  test("hive target: pivot COUNT yields NULL (not 0) for empty cells, like real PIVOT") {
    assume(viewsReady, "tpch data not present")
    // 'X' never occurs: the DataFrame pivot yields NULL for that cell;
    // the conditional-agg rewrite must presence-guard its count
    val text =
      """from orders
        |select o_orderpriority, o_orderstatus
        |pivot on o_orderstatus in ('O', 'X') using n = _.count
        |order by o_orderpriority""".stripMargin
    val hive = WvToSql.generate(text, Target.Hive)
    assert(hive.contains("ELSE NULL END"), s"missing presence guard:\n$hive")
    val viaSql = rowsOf(spark.sql(hive))
    val viaDf = rowsOf(graft.Graft.run(spark, text,
      t => spark.read.parquet(s"$dataDir/$t.parquet")))
    assert(viaSql == viaDf, s"pivot count cells diverge:\n$hive")
  }

  test("function-call position routes through the dialect aggregate table") {
    val t = WvToSql.generate(
      "from orders group by o_orderpriority agg d = approx_count_distinct(o_custkey)",
      Target.Trino)
    assert(t.contains("approx_distinct(o_custkey)") && !t.contains("approx_count_distinct"), t)
    val d = WvToSql.generate(
      "from orders group by o_orderpriority agg s = collect_set(o_orderstatus)",
      Target.DuckDb)
    assert(d.contains("array_agg(DISTINCT o_orderstatus)"), d)
    val h = WvToSql.generate(
      "from orders group by o_orderpriority agg c = count_if(o_totalprice > 100.0)",
      Target.Hive)
    assert(h.contains("sum(CASE WHEN") && !h.toLowerCase.contains("count_if"), h)
    // exact percentile has no trino function — loud, not wrong SQL
    intercept[WvToSql.Unsupported] {
      WvToSql.generate("from orders group by o_orderpriority agg p = o_totalprice.percentile(0.5)",
        Target.Trino)
    }
    // window position: the coalesce can't wrap the CALL (`coalesce(sum(...),
    // 0) OVER (...)` is invalid HiveQL, ADVICE r12) — but an explicit frame
    // like rows[,-1] CAN be empty, where Spark's count_if returns 0 and a
    // bare sum(CASE...) OVER returns NULL (ADVICE r13). The rewrite wraps
    // the WHOLE windowed expression: coalesce(sum(CASE...) OVER (...), 0).
    val hw = WvToSql.generate(
      "from orders select o_orderkey, c = _.count_if(o_totalprice > 100.0) over (partition by o_orderpriority)",
      Target.Hive)
    assert(hw.contains("coalesce(sum(CASE WHEN") && hw.contains("OVER"), hw)
    assert(!hw.contains(", 0) OVER"), s"coalesce wrapper bound to the call, not the window: $hw")
    assert("""(?s)coalesce\(sum\(CASE WHEN.*\) OVER \([^)]*\), 0\)""".r
      .findFirstIn(hw).isDefined, s"expected coalesce around the windowed expression: $hw")
    // an explicit possibly-empty frame takes the same whole-expression wrap
    val hwf = WvToSql.generate(
      "from orders select o_orderkey, c = _.count_if(o_totalprice > 100.0) over (partition by o_orderpriority order by o_orderkey rows[,-1])",
      Target.Hive)
    assert(hwf.contains("coalesce(sum(CASE WHEN") && hwf.contains("1 PRECEDING"), hwf)
    assert(!hwf.contains(", 0) OVER"), hwf)
    // and NON-window hive count_if keeps the wrapper (zero-on-empty)
    assert(h.contains("coalesce(sum(CASE WHEN"), h)
  }

  test("qualified pivot measures and quoted strftime literals") {
    // t.o_totalprice must register as column o_totalprice (not qualifier t)
    // for group-column exclusion in the pivot rewrite
    val d = WvToSql.generate(
      """from orders as t
        |select o_orderpriority, o_orderstatus, o_totalprice
        |pivot on o_orderstatus in ('O') using total = t.o_totalprice.sum""".stripMargin,
      Target.DuckDb)
    assert(d.contains("GROUP BY o_orderpriority") && !d.contains("GROUP BY o_orderpriority, o_totalprice"), d)
    // a Java-pattern quote escape must re-escape inside the SQL literal
    val q = WvToSql.generate(
      "from orders select d = o_orderdate.date_format(\"hh 'o''clock'\")", Target.DuckDb)
    assert(q.contains("'%I o''clock'"), q)
  }

  test("duckdb array_except spelling preserves order, dups-once, and nulls") {
    val d = WvToSql.generate("from part select r = [3, 1, null, 3].array_except([9])",
      Target.DuckDb)
    assert(d.contains("list_filter(") && d.contains("list_position(") &&
      d.contains("y IS NULL"), d)
    assert(!d.contains("list_distinct("), s"list_distinct drops nulls/order:\n$d")
  }

  test("duckdb + trino targets: whole tpch corpus generates without Unsupported") {
    assume(new java.io.File(tpchDir).isDirectory, "tpch corpus not present")
    val files = new java.io.File(tpchDir).listFiles()
      .filter(_.getName.matches("q.*\\.wv")).map(_.getName).sorted
    for (t <- Seq(Target.DuckDb, Target.Trino); f <- files) {
      val text = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$tpchDir/$f")), java.nio.charset.StandardCharsets.UTF_8)
      val sql = WvToSql.generate(text, t) // throws on a coverage regression
      assert(sql.toUpperCase.contains("SELECT"), s"$f under ${t.name}")
    }
  }

  test("javaToStrftime: pattern translation") {
    assert(WvToSql.javaToStrftime("yyyy-MM-dd") == "%Y-%m-%d")
    assert(WvToSql.javaToStrftime("yyyy-MM-dd HH:mm:ss") == "%Y-%m-%d %H:%M:%S")
    assert(WvToSql.javaToStrftime("MMM yy") == "%b %y")
    assert(WvToSql.javaToStrftime("hh:mm a") == "%I:%M %p")
    assert(WvToSql.javaToStrftime("yyyy'T'MM") == "%YT%m")
    intercept[WvToSql.Unsupported] { WvToSql.javaToStrftime("yyyy-QQ") }
  }

  test("target parse: cli surface") {
    assert(WvToSql.Target.parse("duckdb") == Target.DuckDb)
    assert(WvToSql.Target.parse("SPARK") == Target.Spark)
    intercept[WvToSql.Unsupported] { WvToSql.Target.parse("oracle9i") }
  }
}
