package graft.lang

import graft.SparkTestBase

/** wv → Spark SQL generation, gated by EXECUTION: for every reference
  * TPC-H file, the generated SQL must run through `spark.sql` and return
  * exactly the rows the DataFrame lowering returns (values compared,
  * column order preserved — names may differ). This is the same
  * round-trip discipline the SQL→wv transpiler ships with. */
class WvToSqlSpec extends SparkTestBase {

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

  test("tpch corpus: generated SQL executes and matches the DataFrame lowering") {
    assume(viewsReady, "tpch data not present")
    val files = new java.io.File(tpchDir).listFiles()
      .filter(_.getName.matches("q.*\\.wv")).map(_.getName).sorted
    val failures = scala.collection.mutable.ListBuffer.empty[(String, String)]
    var ok = 0
    files.foreach { f =>
      val text = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$tpchDir/$f")), java.nio.charset.StandardCharsets.UTF_8)
      try {
        val sql = WvToSql.generate(text)
        val viaSql = rowsOf(spark.sql(sql))
        val viaDf = rowsOf(graft.Graft.run(spark, text,
          t => spark.read.parquet(s"$dataDir/$t.parquet")))
        if (viaSql == viaDf) ok += 1
        else {
          val diff = viaDf.zipAll(viaSql, Seq("<missing>"), Seq("<missing>"))
            .collectFirst { case (a, b) if a != b => s"df=$a sql=$b" }
          failures += f -> s"row mismatch (${viaDf.length} vs ${viaSql.length}): ${diff.getOrElse("")}"
        }
      } catch {
        case e: WvToSql.Unsupported => failures += f -> s"unsupported: ${e.getMessage}"
        case e: Throwable =>
          failures += f -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.take(2).mkString(" ")}"
      }
    }
    failures.foreach { case (f, m) => info(s"FAIL $f: ${m.take(300)}") }
    info(s"$ok/${files.length} files generate + execute + match")
    assert(failures.isEmpty,
      s"${failures.size} files failed: ${failures.map(_._1).mkString(", ")}")
  }

  test("feature cases: windows, having, set ops, case, distinct") {
    assume(viewsReady, "tpch data not present")
    val cases = Seq(
      // window function over a frame
      """from lineitem
        |where l_orderkey <= 100
        |select l_orderkey, l_linenumber,
        |  rn = row_number() over (partition by l_orderkey order by l_linenumber),
        |  running = l_quantity.sum over (partition by l_orderkey order by l_linenumber rows[,0])
        |order by l_orderkey, l_linenumber""".stripMargin,
      // having
      """from orders
        |group by o_custkey
        |agg n = _.count
        |where n > 5
        |order by o_custkey""".stripMargin,
      // set ops + distinct
      """from {
        |  from nation select n_regionkey
        |} concat {
        |  from region select r_regionkey
        |}
        |distinct
        |order by n_regionkey""".stripMargin,
      // case + in + between
      """from orders
        |where o_orderkey between 1 and 500 and o_orderstatus.in('O', 'F')
        |select o_orderkey,
        |  b = case o_orderstatus when 'O' then 'open' else 'other' end
        |order by o_orderkey""".stripMargin,
      // model as CTE
      """model big = {
        |  from orders
        |  where o_totalprice > 100000
        |}
        |from big
        |group by o_orderpriority
        |agg n = _.count
        |order by o_orderpriority""".stripMargin,
      // pivot with explicit values + using agg → Spark SQL PIVOT clause
      """from orders
        |select o_orderpriority, o_orderstatus, o_totalprice
        |pivot on o_orderstatus in ('O', 'F', 'P') using total = o_totalprice.sum.round(2)
        |order by o_orderpriority""".stripMargin,
      // unpivot → Spark SQL UNPIVOT INCLUDE NULLS (DataFrame melt keeps nulls)
      """from part
        |where p_partkey <= 50
        |select p_partkey, p_size, p_retailprice
        |unpivot v for metric in (p_size, p_retailprice)
        |order by p_partkey, metric""".stripMargin,
      // lateral unnest → LATERAL VIEW explode
      """from part
        |where p_partkey <= 20
        |select p_partkey, words = p_name.split(' ')
        |cross join unnest(words) as t(w)
        |order by p_partkey, w""".stripMargin,
      // with ordinality → posexplode with the lowering's _ordinal naming
      """from part
        |where p_partkey <= 10
        |select p_partkey, words = p_name.split(' ')
        |cross join unnest(words) with ordinality as t(w)
        |order by p_partkey, w_ordinal""".stripMargin
    )
    cases.zipWithIndex.foreach { case (text, i) =>
      val sql = WvToSql.generate(text)
      val viaSql = rowsOf(spark.sql(sql))
      val viaDf = rowsOf(graft.Graft.run(spark, text,
        t => spark.read.parquet(s"$dataDir/$t.parquet")))
      assert(viaSql == viaDf, s"case $i mismatch\n--- sql ---\n$sql")
    }
  }
}
