package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types.{DateType, DecimalType, DoubleType, IntegerType}
import graft.Graft

/** The reference's own TPC-H corpus (spec/tpch/q1.wv … q22.wv, executed by
  * the reference's RunnerSpec.scala:102 with prepareTPCH=true) as catalog
  * entries: each runs the reference `.wv` file VERBATIM through Graft
  * against the reference-shipped sf0.01 dbgen parquet (spec/tpch/data),
  * paired with the standard TPC-H SQL for the DuckDB oracle.
  *
  * The driver testdata cannot host these queries — it lacks partsupp and
  * the full TPC-H columns (l_commitdate, l_shipmode, o_comment, c_phone, …)
  * — so both sides read the reference's own data files: Spark directly,
  * DuckDB via read_parquet() CTE bindings in the oracle SQL.
  *
  * Hash-comparability: the corpus text is fixed, so normalization happens
  * AFTER execution — `canon` rounds decimal/double outputs to 4 dp as
  * doubles and widens ints to long; the oracle SQL applies the identical
  * normalization inline (engines agree on decimal sums exactly and on
  * double reductions to ~1e-10 relative, far inside 4 dp).
  */
object TpchCatalog {

  private val tables = Seq("customer", "lineitem", "nation", "orders", "part", "partsupp",
    "region", "supplier")

  private def data(t: String): String = s"spec/tpch/data/$t.parquet"

  /** Post-execution canonicalization of a verbatim corpus result. */
  private def canon(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case _: DecimalType => F.round(F.col(f.name).cast("double"), 4).as(f.name)
        case DoubleType => F.round(F.col(f.name), 4).as(f.name)
        case IntegerType => F.col(f.name).cast("long").as(f.name)
        // ISO string: date32 loads as datetime.date via pyarrow but DuckDB
        // returns datetime64 — stringify so the compare is representation-free
        case DateType => F.date_format(F.col(f.name), "yyyy-MM-dd").as(f.name)
        case _ => F.col(f.name)
      }
    }
    df.select(cols.toSeq: _*)
  }

  private def runFile(spark: SparkSession, fname: String): DataFrame = {
    ReferenceCorpus.require(s"spec/tpch/$fname" +: tables.map(data): _*)
    Graft.query(spark, ReferenceCorpus.read(s"spec/tpch/$fname"),
      name => graft.Tables.readPath(spark, ReferenceCorpus.path(data(name))))
  }

  /** DuckDB-side table bindings: CTEs over the same parquet files. */
  private val prelude: String =
    tables.map(t => s"$t AS (SELECT * FROM read_parquet('${ReferenceCorpus.path(data(t))}'))")
      .mkString("WITH ", ",\n     ", "\n")

  private def entry(n: Int, oracle: String): (String, QueryCatalog.Q, Option[String]) =
    (s"q_tpch$n", (spark, _) => canon(runFile(spark, s"q$n.wv")),
      Some(prelude + oracle))

  val all: Seq[(String, QueryCatalog.Q, Option[String])] = Seq(
    entry(1, """
      SELECT l_returnflag, l_linestatus,
        round(sum(l_quantity)::DOUBLE, 4) AS sum_qty,
        round(sum(l_extendedprice)::DOUBLE, 4) AS sum_base_price,
        round(sum(l_extendedprice*(1-l_discount))::DOUBLE, 4) AS sum_disc_price,
        round(sum(l_extendedprice*(1-l_discount)*(1+l_tax))::DOUBLE, 4) AS sum_charge,
        round(avg(l_quantity)::DOUBLE, 4) AS avg_qty,
        round(avg(l_extendedprice)::DOUBLE, 4) AS avg_price,
        round(avg(l_discount)::DOUBLE, 4) AS avg_disc,
        count(*)::BIGINT AS count_order
      FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""),
    entry(2, """
      SELECT round(s_acctbal::DOUBLE, 4) AS s_acctbal, s_name, n_name,
             p_partkey, p_mfgr, s_address, s_phone, s_comment
      FROM part, supplier, partsupp, nation, region
      WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
        AND p_size = 15 AND p_type LIKE '%BRASS'
        AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        AND r_name = 'EUROPE'
        AND ps_supplycost = (
          SELECT min(ps_supplycost) FROM partsupp, supplier, nation, region
          WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
            AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
            AND r_name = 'EUROPE')
      ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100"""),
    entry(3, """
      SELECT l_orderkey,
             round(sum(l_extendedprice*(1-l_discount))::DOUBLE, 4) AS revenue,
             strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
             o_shippriority::BIGINT AS o_shippriority
      FROM customer, orders, lineitem
      WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        AND l_orderkey = o_orderkey
        AND o_orderdate < DATE '1995-03-15' AND l_shipdate > DATE '1995-03-15'
      GROUP BY l_orderkey, o_orderdate, o_shippriority
      ORDER BY revenue DESC, o_orderdate LIMIT 10"""),
    entry(4, """
      SELECT o_orderpriority, count(*)::BIGINT AS order_count
      FROM orders
      WHERE o_orderdate >= DATE '1993-07-01' AND o_orderdate < DATE '1993-10-01'
        AND EXISTS (SELECT * FROM lineitem
                    WHERE l_orderkey = o_orderkey AND l_commitdate < l_receiptdate)
      GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
    entry(5, """
      SELECT n_name,
             round(sum(l_extendedprice*(1-l_discount))::DOUBLE, 4) AS revenue
      FROM customer, orders, lineitem, supplier, nation, region
      WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        AND r_name = 'ASIA'
        AND o_orderdate >= DATE '1994-01-01' AND o_orderdate < DATE '1995-01-01'
      GROUP BY n_name ORDER BY revenue DESC"""),
    entry(6, """
      SELECT round(sum(l_extendedprice*l_discount)::DOUBLE, 4) AS revenue
      FROM lineitem
      WHERE l_shipdate >= DATE '1994-01-01' AND l_shipdate < DATE '1995-01-01'
        AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"""),
    entry(7, """
      SELECT supp_nation, cust_nation, l_year,
             round(sum(volume)::DOUBLE, 4) AS revenue
      FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   extract(year FROM l_shipdate)::BIGINT AS l_year,
                   l_extendedprice*(1-l_discount) AS volume
            FROM supplier, lineitem, orders, customer, nation n1, nation n2
            WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
              AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
              AND c_nationkey = n2.n_nationkey
              AND ((n1.n_name = 'FRANCE' AND n2.n_name = 'GERMANY')
                OR (n1.n_name = 'GERMANY' AND n2.n_name = 'FRANCE'))
              AND l_shipdate BETWEEN DATE '1995-01-01' AND DATE '1996-12-31') shipping
      GROUP BY supp_nation, cust_nation, l_year
      ORDER BY supp_nation, cust_nation, l_year"""),
    entry(8, """
      SELECT o_year,
             round((sum(CASE WHEN nation = 'BRAZIL' THEN volume ELSE 0 END)
                    / sum(volume))::DOUBLE, 4) AS mkt_share
      FROM (SELECT extract(year FROM o_orderdate)::BIGINT AS o_year,
                   l_extendedprice*(1-l_discount) AS volume, n2.n_name AS nation
            FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
            WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
              AND l_orderkey = o_orderkey AND o_custkey = c_custkey
              AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
              AND r_name = 'AMERICA' AND s_nationkey = n2.n_nationkey
              AND o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
              AND p_type = 'ECONOMY ANODIZED STEEL') all_nations
      GROUP BY o_year ORDER BY o_year"""),
    entry(9, """
      SELECT nation, o_year, round(sum(amount)::DOUBLE, 4) AS sum_profit
      FROM (SELECT n_name AS nation,
                   extract(year FROM o_orderdate)::BIGINT AS o_year,
                   l_extendedprice*(1-l_discount) - ps_supplycost*l_quantity AS amount
            FROM part, supplier, lineitem, partsupp, orders, nation
            WHERE s_suppkey = l_suppkey AND ps_suppkey = l_suppkey
              AND ps_partkey = l_partkey AND p_partkey = l_partkey
              AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
              AND p_name LIKE '%green%') profit
      GROUP BY nation, o_year ORDER BY nation, o_year DESC"""),
    entry(10, """
      SELECT c_custkey, c_name,
             round(sum(l_extendedprice*(1-l_discount))::DOUBLE, 4) AS revenue,
             round(c_acctbal::DOUBLE, 4) AS c_acctbal,
             n_name, c_address, c_phone, c_comment
      FROM customer, orders, lineitem, nation
      WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        AND o_orderdate >= DATE '1993-10-01' AND o_orderdate < DATE '1994-01-01'
        AND l_returnflag = 'R' AND c_nationkey = n_nationkey
      GROUP BY c_custkey, c_name, c_acctbal, c_phone, n_name, c_address, c_comment
      ORDER BY revenue DESC LIMIT 20"""),
    entry(11, """
      SELECT ps_partkey,
             round(sum(ps_supplycost*ps_availqty)::DOUBLE, 4) AS value
      FROM partsupp, supplier, nation
      WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
        AND n_name = 'GERMANY'
      GROUP BY ps_partkey
      HAVING sum(ps_supplycost*ps_availqty) > (
        SELECT sum(ps_supplycost*ps_availqty) * 0.0001000000
        FROM partsupp, supplier, nation
        WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
          AND n_name = 'GERMANY')
      ORDER BY value DESC"""),
    entry(12, """
      SELECT l_shipmode,
        sum(CASE WHEN o_orderpriority = '1-URGENT' OR o_orderpriority = '2-HIGH'
                 THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
        sum(CASE WHEN o_orderpriority <> '1-URGENT' AND o_orderpriority <> '2-HIGH'
                 THEN 1 ELSE 0 END)::BIGINT AS low_line_count
      FROM orders, lineitem
      WHERE o_orderkey = l_orderkey AND l_shipmode IN ('MAIL', 'SHIP')
        AND l_commitdate < l_receiptdate AND l_shipdate < l_commitdate
        AND l_receiptdate >= DATE '1994-01-01' AND l_receiptdate < DATE '1995-01-01'
      GROUP BY l_shipmode ORDER BY l_shipmode"""),
    entry(13, """
      SELECT c_count, count(*)::BIGINT AS custdist
      FROM (SELECT c_custkey, count(o_orderkey)::BIGINT AS c_count
            FROM customer LEFT OUTER JOIN orders
              ON c_custkey = o_custkey AND o_comment NOT LIKE '%special%requests%'
            GROUP BY c_custkey) c_orders
      GROUP BY c_count ORDER BY custdist DESC, c_count DESC"""),
    entry(14, """
      SELECT round((100.00 * sum(CASE WHEN p_type LIKE 'PROMO%'
                                      THEN l_extendedprice*(1-l_discount)
                                      ELSE 0 END)
                    / sum(l_extendedprice*(1-l_discount)))::DOUBLE, 4) AS promo_revenue
      FROM lineitem, part
      WHERE l_partkey = p_partkey
        AND l_shipdate >= DATE '1995-09-01' AND l_shipdate < DATE '1995-10-01'"""),
    entry(15, """
      SELECT s_suppkey, s_name, s_address, s_phone,
             round(total_revenue::DOUBLE, 4) AS total_revenue
      FROM supplier,
           (SELECT l_suppkey AS supplier_no,
                   sum(l_extendedprice*(1-l_discount)) AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
            GROUP BY l_suppkey) revenue0
      WHERE s_suppkey = supplier_no
        AND total_revenue = (
          SELECT max(total_revenue)
          FROM (SELECT l_suppkey AS supplier_no,
                       sum(l_extendedprice*(1-l_discount)) AS total_revenue
                FROM lineitem
                WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
                GROUP BY l_suppkey) revenue1)
      ORDER BY s_suppkey"""),
    entry(16, """
      SELECT p_brand, p_type, p_size::BIGINT AS p_size,
             count(DISTINCT ps_suppkey)::BIGINT AS supplier_cnt
      FROM partsupp, part
      WHERE p_partkey = ps_partkey AND p_brand <> 'Brand#45'
        AND p_type NOT LIKE 'MEDIUM POLISHED%'
        AND p_size IN (49, 14, 23, 45, 19, 3, 36, 9)
        AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier
                               WHERE s_comment LIKE '%Customer%Complaints%')
      GROUP BY p_brand, p_type, p_size
      ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"""),
    entry(17, """
      SELECT round((sum(l_extendedprice) / 7.0)::DOUBLE, 4) AS avg_yearly
      FROM lineitem, part
      WHERE p_partkey = l_partkey AND p_brand = 'Brand#23'
        AND p_container = 'MED BOX'
        AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem
                          WHERE l_partkey = p_partkey)"""),
    entry(18, """
      SELECT c_name, c_custkey, o_orderkey,
             strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
             round(o_totalprice::DOUBLE, 4) AS o_totalprice,
             round(sum(l_quantity)::DOUBLE, 4) AS "sum(l_quantity)"
      FROM customer, orders, lineitem
      WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                           GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
        AND c_custkey = o_custkey AND o_orderkey = l_orderkey
      GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
      ORDER BY o_totalprice DESC, o_orderdate LIMIT 100"""),
    entry(19, """
      SELECT round(sum(l_extendedprice*(1-l_discount))::DOUBLE, 4) AS revenue
      FROM lineitem, part
      WHERE (p_partkey = l_partkey AND p_brand = 'Brand#12'
         AND p_container IN ('SM CASE','SM BOX','SM PACK','SM PKG')
         AND l_quantity >= 1 AND l_quantity <= 1 + 10
         AND p_size BETWEEN 1 AND 5
         AND l_shipmode IN ('AIR','AIR REG') AND l_shipinstruct = 'DELIVER IN PERSON')
         OR (p_partkey = l_partkey AND p_brand = 'Brand#23'
         AND p_container IN ('MED BAG','MED BOX','MED PKG','MED PACK')
         AND l_quantity >= 10 AND l_quantity <= 10 + 10
         AND p_size BETWEEN 1 AND 10
         AND l_shipmode IN ('AIR','AIR REG') AND l_shipinstruct = 'DELIVER IN PERSON')
         OR (p_partkey = l_partkey AND p_brand = 'Brand#34'
         AND p_container IN ('LG CASE','LG BOX','LG PACK','LG PKG')
         AND l_quantity >= 20 AND l_quantity <= 20 + 10
         AND p_size BETWEEN 1 AND 15
         AND l_shipmode IN ('AIR','AIR REG') AND l_shipinstruct = 'DELIVER IN PERSON')"""),
    entry(20, """
      SELECT s_name, s_address
      FROM supplier, nation
      WHERE s_suppkey IN (
          SELECT ps_suppkey FROM partsupp
          WHERE ps_partkey IN (SELECT p_partkey FROM part
                               WHERE p_name LIKE 'forest%')
            AND ps_availqty > (SELECT 0.5 * sum(l_quantity) FROM lineitem
                               WHERE l_partkey = ps_partkey
                                 AND l_suppkey = ps_suppkey
                                 AND l_shipdate >= DATE '1994-01-01'
                                 AND l_shipdate < DATE '1995-01-01'))
        AND s_nationkey = n_nationkey AND n_name = 'CANADA'
      ORDER BY s_name"""),
    entry(21, """
      SELECT s_name, count(*)::BIGINT AS numwait
      FROM supplier, lineitem l1, orders, nation
      WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
        AND o_orderstatus = 'F' AND l1.l_receiptdate > l1.l_commitdate
        AND EXISTS (SELECT * FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT * FROM lineitem l3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey
                          AND l3.l_receiptdate > l3.l_commitdate)
        AND s_nationkey = n_nationkey AND n_name = 'SAUDI ARABIA'
      GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100"""),
    entry(22, """
      SELECT cntrycode, count(*)::BIGINT AS numcust,
             round(sum(c_acctbal)::DOUBLE, 4) AS totacctbal
      FROM (SELECT substring(c_phone, 1, 2) AS cntrycode, c_acctbal
            FROM customer
            WHERE substring(c_phone, 1, 2) IN ('13','31','23','29','30','18','17')
              AND c_acctbal > (SELECT avg(c_acctbal) FROM customer
                               WHERE c_acctbal > 0.00
                                 AND substring(c_phone, 1, 2)
                                     IN ('13','31','23','29','30','18','17'))
              AND NOT EXISTS (SELECT * FROM orders WHERE o_custkey = c_custkey)) custsale
      GROUP BY cntrycode ORDER BY cntrycode""")
  )
}
