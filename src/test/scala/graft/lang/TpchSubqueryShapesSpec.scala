package graft.lang

import graft.SparkTestBase

/** The subquery shapes of TPC-H q2, q4, q17, q20, q21 and q22, written in wv
  * over the sf0.01 test tables. The tables carry a subset of the TPC-H
  * columns (no partsupp, no commit/receipt dates, no phone), so each shape
  * keeps its subquery structure and swaps the missing columns for ones the
  * tables have. Expected rows are DuckDB's answer to the SQL in the comment.
  */
class TpchSubqueryShapesSpec extends SparkTestBase {

  // the sf0.01 sibling of the default test tables
  override def sfDir: String = super.sfDir.replace("sf0.001", "sf0.01")

  test("q4 shape: correlated exists") {
    // SELECT o_orderpriority, count(*) AS order_count FROM orders
    // WHERE o_orderdate >= DATE '1996-07-01' AND o_orderdate < DATE '1996-10-01'
    //   AND EXISTS (SELECT * FROM lineitem
    //               WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
    // GROUP BY o_orderpriority ORDER BY o_orderpriority
    wv("""
      from orders
      where o_orderdate >= '1996-07-01' and o_orderdate < '1996-10-01'
        and exists { from lineitem where l_orderkey = o_orderkey and l_returnflag = 'R' }
      group by o_orderpriority
      agg order_count = _.count
      order by o_orderpriority
      test _.rows should be [['1-URGENT', 97], ['2-HIGH', 88], ['3-MEDIUM', 77],
        ['4-NOT SPECIFIED', 95], ['5-LOW', 90]]
    """)
  }

  test("q17 shape: correlated scalar avg with unqualified correlation") {
    // SELECT p_brand, count(*), round(sum(l_extendedprice) / 7.0, 2)
    // FROM lineitem JOIN part ON p_partkey = l_partkey
    // WHERE p_brand IN ('Brand#23', 'Brand#12')
    //   AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem
    //                     WHERE l_partkey = p_partkey)
    // GROUP BY p_brand ORDER BY p_brand
    wv("""
      from lineitem
      join part on p_partkey = l_partkey
      where p_brand in ('Brand#23', 'Brand#12')
        and l_quantity < (from lineitem where l_partkey = p_partkey select 0.2 * avg(l_quantity))
      group by p_brand
      agg n = _.count, avg_yearly = round(l_extendedprice.sum / 7.0, 2)
      order by p_brand
      test _.rows should be [['Brand#12', 217, 1577552.19], ['Brand#23', 197, 1506653.98]]
    """)
  }

  test("q2 shape: correlated scalar min with unqualified correlation") {
    // SELECT p_partkey, l_orderkey, l_linenumber, l_extendedprice
    // FROM part JOIN lineitem ON l_partkey = p_partkey
    // WHERE p_size = 15 AND p_type = 'SMALL'
    //   AND l_extendedprice = (SELECT min(l_extendedprice) FROM lineitem
    //                          WHERE l_partkey = p_partkey)
    // ORDER BY p_partkey
    wv("""
      from part
      join lineitem on l_partkey = p_partkey
      where p_size = 15 and p_type = 'SMALL'
        and l_extendedprice = (from lineitem where l_partkey = p_partkey select min(l_extendedprice))
      select p_partkey, l_orderkey, l_linenumber, l_extendedprice
      order by p_partkey
      test _.rows should be [[183, 8339, 7, 4135.54], [893, 3264, 1, 2052.47],
        [1216, 9303, 5, 21584.98], [1414, 4752, 5, 7798.54], [1561, 10081, 5, 1149.32]]
    """)
  }

  test("q20 shape: in nested over a correlated scalar") {
    // SELECT count(*), sum(s_suppkey) FROM supplier
    // WHERE s_suppkey IN (
    //   SELECT l1.l_suppkey FROM lineitem l1
    //   WHERE l1.l_partkey IN (SELECT p_partkey FROM part
    //                          WHERE p_name LIKE 'red%' AND p_size < 5)
    //     AND l1.l_quantity > (SELECT 1.9 * avg(l2.l_quantity) FROM lineitem l2
    //                          WHERE l2.l_partkey = l1.l_partkey))
    wv("""
      from supplier
      where s_suppkey in {
        from lineitem as l1
        where l1.l_partkey in { from part where p_name like 'red%' and p_size < 5 select p_partkey }
          and l1.l_quantity > (from lineitem as l2 where l2.l_partkey = l1.l_partkey
                               select 1.9 * avg(l2.l_quantity))
        select l1.l_suppkey
      }
      agg n = _.count, keys = s_suppkey.sum
      test _.rows should be [[42, 2108]]
    """)
  }

  test("q21 shape: exists plus not exists with a <> correlation") {
    // SELECT s_name, count(*) AS numwait FROM supplier, lineitem l1, orders
    // WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
    //   AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
    //   AND EXISTS (SELECT * FROM lineitem l2 WHERE l2.l_orderkey = l1.l_orderkey
    //                                         AND l2.l_suppkey <> l1.l_suppkey)
    //   AND NOT EXISTS (SELECT * FROM lineitem l3 WHERE l3.l_orderkey = l1.l_orderkey
    //                     AND l3.l_suppkey <> l1.l_suppkey AND l3.l_returnflag = 'R')
    // GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 5
    wv("""
      from lineitem as l1
      join supplier on s_suppkey = l1.l_suppkey
      join orders on o_orderkey = l1.l_orderkey
      where o_orderstatus = 'F' and l1.l_returnflag = 'R'
        and exists { from lineitem as l2
                     where l2.l_orderkey = l1.l_orderkey and l2.l_suppkey <> l1.l_suppkey }
        and not exists { from lineitem as l3
                         where l3.l_orderkey = l1.l_orderkey and l3.l_suppkey <> l1.l_suppkey
                           and l3.l_returnflag = 'R' }
      group by s_name
      agg numwait = _.count
      order by numwait desc, s_name
      limit 5
      test _.rows should be [['Supplier#000000000', 24], ['Supplier#000000001', 24],
        ['Supplier#000000046', 24], ['Supplier#000000084', 24], ['Supplier#000000087', 24]]
    """)
  }

  test("q22 shape: uncorrelated scalar avg plus not exists") {
    // SELECT c_nationkey, count(*) AS numcust, round(sum(c_acctbal), 2)
    // FROM customer
    // WHERE c_nationkey IN (1, 3, 7, 11, 17, 23)
    //   AND c_acctbal > (SELECT avg(c_acctbal) FROM customer
    //                    WHERE c_acctbal > 0.00 AND c_nationkey IN (1, 3, 7, 11, 17, 23))
    //   AND NOT EXISTS (SELECT * FROM orders
    //                   WHERE o_custkey = c_custkey AND o_orderdate >= DATE '2000-01-01')
    // GROUP BY c_nationkey ORDER BY c_nationkey
    wv("""
      from customer
      where c_nationkey in (1, 3, 7, 11, 17, 23)
        and c_acctbal > (from customer
                         where c_acctbal > 0.00 and c_nationkey in (1, 3, 7, 11, 17, 23)
                         agg avg(c_acctbal))
        and not exists { from orders where o_custkey = c_custkey and o_orderdate >= '2000-01-01' }
      group by c_nationkey
      agg numcust = _.count, totacctbal = round(c_acctbal.sum, 2)
      order by c_nationkey
      test _.rows should be [[1, 2, 15048.78], [3, 2, 15655.48], [7, 3, 22561.36],
        [11, 2, 12730.52], [17, 1, 9007.75], [23, 1, 9566.88]]
    """)
  }
}
