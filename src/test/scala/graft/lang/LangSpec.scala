package graft.lang

import graft.SparkTestBase

/** End-to-end language specs mirroring the reference's self-verifying corpus
  * (spec/basic, spec/benchmark) — each query embeds its own `test` assertions,
  * evaluated by TestRunner via Graft.run.
  */
class LangSpec extends SparkTestBase {

  test("benchmark q1: filter + group by + agg + having + order by") {
    wv("""
      from [
        [1, 'C001', 'active',  500],
        [2, 'C001', 'active',  800],
        [3, 'C002', 'active',  300],
        [4, 'C002', 'active',  900],
        [5, 'C003', 'active',  200],
        [6, 'C003', 'cancelled', 400],
        [7, 'C001', 'active', 1200],
        [8, 'C004', 'active',  100]
      ] as orders(order_id, customer_id, status, amount)
      where status = 'active'
      group by customer_id
      agg
        order_count = _.count,
        total_spend = amount.sum
      where total_spend > 1000
      order by total_spend desc

      test _.columns should be ['customer_id', 'order_count', 'total_spend']
      test _.size should be 2
      test _.rows should be [['C001', 3, 2500], ['C002', 2, 1200]]
    """)
  }

  test("count variants") {
    wv("""
      from [[1, 'a'], [2, 'b'], [3, 'c']] as t(id, name)
      count
      test _.rows should be [[3]]
    """)
    wv("""
      from [[1, 'a'], [2, 'b'], [3, 'c']] as t(id, name)
      select _.count
      test _.rows should be [[3]]
    """)
    wv("""
      from [[1, 'a'], [2, 'b'], [3, 'c']] as t(id, name)
      select count(*)
      test _.rows should be [[3]]
    """)
    wv("""
      from [[1, 'a'], [1, 'b'], [2, 'c']] as t(id, name)
      group by id
      count
      test _.rows should be [[2]]
    """)
  }

  test("count after group-by HAVING counts only passing groups") {
    // `group by k where <agg> | count` must apply the having before the
    // group count (dropping it counted ALL groups, diverging from SQL)
    wv("""
      from [[1, 'a'], [1, 'b'], [1, 'c'], [2, 'd']] as t(id, name)
      group by id
      where _.count >= 3
      count
      test _.rows should be [[1]]
    """)
  }

  test("key-only rollup keeps subtotal and grand-total rows") {
    // rollup + no aggregates must still produce the styled grouping rows
    // (the distinct-keys shortcut lost the null subtotals)
    wv("""
      from [[1, 'x'], [1, 'y'], [2, 'x']] as t(a, b)
      group by rollup a, b
      count
      test _.rows should be [[6]]
    """)
    // (1,x),(1,y),(2,x),(1,null),(2,null),(null,null) = 6 grouping rows
  }

  test("array-valued val stays an array") {
    wv("""
      val ks = split('a,b', ',')
      from [['a'], ['b'], ['c']] as t(k)
      where k.in(ks[1], ks[2])
      count
      test _.rows should be [[2]]
    """)
  }

  test("int-typed values cells stay numeric") {
    wv("""
      from [[cast(5 as int)], [cast(10 as int)]] as t(v)
      where v > 9
      count
      test _.rows should be [[1]]
    """)
  }

  test("parser disambiguation: delete-from statements, intervals, cross join on") {
    // one-line `delete from T where …` after a query is a NEW statement
    val s1 = Parser.parseStatements("from a\nselect x\ndelete from b where y = 1")
    assert(s1.length == 2, s1)
    assert(s1(1).isInstanceOf[DeleteStmt], s1(1).getClass.getSimpleName)
    // terminal `delete` with the next query on its own line stays terminal
    // (the spec/basic/delete.wv shape)
    val s2 = Parser.parseStatements("from a\nwhere y = 1\ndelete\n\nfrom a\ncount")
    assert(s2.length == 2, s2)
    assert(s2.head match {
      case QueryStatement(DeleteRel(_)) => true
      case _ => false
    }, s2.head)
    // a string interval carries its own unit — the next token must survive
    val s3 = Parser.parseStatements(
      "from t\nwhere ts > x - interval '1 hour' and active = 1\nselect ts")
    assert(s3.length == 1)
    // parameterized types in model params parse like val/def params
    val s4 = Parser.parseStatements(
      "model m(x: decimal(10,2)) = {\n from t\n where v < x\n}\nfrom m(5.0)")
    assert(s4.length == 2)
    // cross join with an ON condition keeps the condition (as inner join)
    val s5 = Parser.parseStatements("from a\ncross join b on a.id = b.id\nselect a.id")
    val joined = s5.head match {
      case QueryStatement(rel) =>
        var found = false
        def walk(r: Relation): Unit = r match {
          case j: Join => if (j.on.isDefined) found = true; walk(j.left)
          case Project(c, _, _) => walk(c)
          case _ => ()
        }
        walk(rel); found
      case _ => false
    }
    assert(joined, "cross join dropped its ON condition")
  }

  test("bare group by + having via where + select") {
    wv("""
      from [[1, 'x'], [2, 'x'], [3, 'y']] as t(id, tag)
      group by tag
      where _.count >= 2
      select tag
      test _.rows should be [['x']]
    """)
  }

  test("join with subquery and on-condition") {
    wv("""
      from [[1, "apple", 50], [2, "banana", 10], [3, "cherry", 70]]
        as fruit(id, name, price)
      join {
        from [["o1", 1, 10], ["o2", 2, 5]]
        as fruit_order(order_id, fruit_id, qty)
      } as fruit_order
      on fruit.id = fruit_order.fruit_id
      select name, qty
      order by name
      test _.rows should be [['apple', 10], ['banana', 5]]
    """)
  }

  test("asof join (spec/basic/join-asof.wv)") {
    wv("""
      from [
        ['AAPL', '2024-11-07', 1.0],
        ['AAPL', '2024-11-08', 2.0],
        ['AAPL', '2024-11-09', 3.0],
        ['AAPL', '2024-11-10', 4.0],
      ] as holding(symbol, date, shares)
      asof join {
      from [
        ['AAPL', '2024-11-07', 10],
        ['AAPL', '2024-11-08', 50],
        ['AAPL', '2024-11-09', 100],
      ] as stock(symbol, date, price)
      } as stock
      on
        stock.symbol = holding.symbol
        and stock.date <= holding.date
      add stock.price * holding.shares as holding_value
      select symbol, date, shares, price, holding_value
      order by date

      test _.rows should be [
        ['AAPL', '2024-11-07', 1.0, 10, 10.0],
        ['AAPL', '2024-11-08', 2.0, 50, 100.0],
        ['AAPL', '2024-11-09', 3.0, 100, 300.0],
        ['AAPL', '2024-11-10', 4.0, 100, 400.0],
      ]
    """)
  }

  test("set operations: concat + dedup") {
    wv("""
      from [[1, 2, 3], [4, 5, 6]]
      concat {
        from [[1, 2, 3], [4, 5, 6], [7, 8, 9]]
      }
      dedup
      order by 1
      test _.rows should be [[1, 2, 3], [4, 5, 6], [7, 8, 9]]
    """)
  }

  test("except and intersect") {
    wv("""
      from [[1], [2], [3]]
      except {
        from [[2]]
      }
      order by 1
      test _.rows should be [[1], [3]]
    """)
    wv("""
      from [[1], [2], [3]]
      intersect {
        from [[2], [3], [4]]
      }
      order by 1
      test _.rows should be [[2], [3]]
    """)
  }

  test("window functions: rank and running sum with frame") {
    wv("""
      from [[1, 'a', 10], [2, 'a', 20], [3, 'b', 30], [4, 'b', 5]]
        as t(id, grp, v)
      select
        id, grp, v,
        rank() over (partition by grp order by v desc) as rnk,
        sum(v) over (partition by grp order by id rows[,0]) as running
      order by id
      test _.rows should be [
        [1, 'a', 10, 2, 10],
        [2, 'a', 20, 1, 30],
        [3, 'b', 30, 1, 30],
        [4, 'b', 5, 2, 35]
      ]
    """)
  }

  test("lag/lead") {
    wv("""
      from [[1, 10], [2, 20], [3, 30]] as t(id, v)
      select id, lag(v) over (order by id) as prev, lead(v) over (order by id) as next
      order by id
      test _.rows should be [[1, null, 20], [2, 10, 30], [3, 20, null]]
    """)
  }

  test("column ops: add, exclude, rename, shift, prepend") {
    wv("""
      from [[1, 'x', 10]] as t(id, name, v)
      add doubled = v * 2
      exclude name
      rename v as value
      shift doubled
      test _.columns should be ['doubled', 'id', 'value']
      test _.rows should be [[20, 1, 10]]
    """)
    wv("""
      from [[1, 'x']] as t(id, name)
      prepend tag = 'p'
      test _.columns should be ['tag', 'id', 'name']
    """)
  }

  test("unpivot") {
    wv("""
      from [
       [1, 'electronics', 1, 2, 3],
       [2, 'clothes', 10, 20, 30]
      ] as sales(id, dept, jan, feb, mar)
      unpivot
        sales for month in (jan, feb, mar)
      order by id, month
      test _.columns should be ['id', 'dept', 'month', 'sales']
      test _.size should be 6
    """)
  }

  test("unnest") {
    wv("""
      from unnest([1, 2, 3]) as t(number)
      test _.columns should be ['number']
      test _.rows should be [[1], [2], [3]]
    """)
    wv("""
      from [[1, 'a b'], [2, 'c']] as t(id, words)
      cross join unnest(words.split(' ')) as w(word)
      select id, word
      order by id, word
      test _.rows should be [[1, 'a'], [1, 'b'], [2, 'c']]
    """)
  }

  test("case/if/cast/between/in/like expressions") {
    wv("""
      from [[1, 'apple'], [2, 'banana'], [3, 'cherry']] as t(id, name)
      select
        id,
        case when id = 1 then 'one' when id = 2 then 'two' else 'many' end as word,
        if(id > 1, 'big', 'small') as sized,
        (id * 1.5)::int as casted,
        id between 2 and 3 as in_range,
        name in ('apple', 'cherry') as fav,
        name like 'b%' as b_name
      order by id
      test _.rows should be [
        [1, 'one', 'small', 1, false, true, false],
        [2, 'two', 'big', 3, true, false, true],
        [3, 'many', 'big', 4, true, true, false]
      ]
    """)
  }

  test("scalar method chains") {
    wv("""
      from [[17, ' Hello ']] as t(age, greeting)
      select
        (age / 5).to_int * 5 as age_group,
        greeting.trim.lower as cleaned,
        greeting.trim.length as len
      test _.rows should be [[15, 'hello', 5]]
    """)
  }

  test("distinct and select distinct") {
    wv("""
      from [[1, 'a'], [1, 'a'], [2, 'b']] as t(id, tag)
      select distinct id, tag
      order by id
      test _.rows should be [[1, 'a'], [2, 'b']]
    """)
  }

  test("limit and offset") {
    wv("""
      from [[1], [2], [3], [4]] as t(id)
      order by id
      limit 2
      test _.rows should be [[1], [2]]
    """)
  }

  test("in-subquery becomes semi join; not in becomes anti join") {
    wv("""
      from [[1, 'a'], [2, 'b'], [3, 'c']] as t(id, name)
      where id in { from [[1], [3]] as s(sid) }
      select name
      order by name
      test _.rows should be [['a'], ['c']]
    """)
    wv("""
      from [[1, 'a'], [2, 'b'], [3, 'c']] as t(id, name)
      where id not in { from [[1], [3]] as s(sid) }
      select name
      test _.rows should be [['b']]
    """)
  }

  test("models and vals") {
    wv("""
      val min_id = 2

      model big_rows = {
        from [[1, 'a'], [2, 'b'], [3, 'c']] as t(id, name)
        where id >= min_id
      }

      from big_rows
      select name
      order by name
      test _.rows should be [['b'], ['c']]
    """)
  }

  test("pivot with explicit values") {
    wv("""
      from [[2023, 'a'], [2023, 'b'], [2024, 'a']] as t(year, tag)
      pivot on year in (2023, 2024)
      order by tag
      test _.columns should be ['tag', '2023', '2024']
      test _.rows should be [['a', 1, 1], ['b', 1, 0]]
    """)
  }

  test("group by grouping sets") {
    wv("""
      from [[1, 'a', 'x'], [2, 'a', 'y'], [3, 'b', 'x']] as t(id, g1, g2)
      group by grouping sets ((g1, g2), (g1), ())
      agg n = _.count
      order by g1 nulls first, g2 nulls first
      test _.size should be 6
    """)
    // total row (both keys null) aggregates everything; per-set rows keep keys
    val df = wv("""
      from [[1, 'a', 'x'], [2, 'a', 'y'], [3, 'b', 'x']] as t(id, g1, g2)
      group by grouping sets ((g1, g2), ())
      agg n = _.count
      order by g1 nulls first, g2 nulls first
    """).collect()
    assert(df.head.isNullAt(0) && df.head.getLong(2) == 3L)
    assert(df.last.getString(0) == "b" && df.last.getString(1) == "x" && df.last.getLong(2) == 1L)
    assert(df.length == 4)
  }

  test("group by rollup") {
    wv("""
      from [[1, 'x', 10], [2, 'x', 20], [3, 'y', 5]] as t(id, tag, v)
      group by rollup tag
      agg total = v.sum
      order by tag nulls first
      test _.rows should be [[null, 35], ['x', 30], ['y', 5]]
    """)
  }

  test("string interpolation and concat") {
    wv("""
      from [[1, 'alice']] as t(id, name)
      select s"user-${name}-${id}" as tag, name + '!' as excited
      test _.rows should be [['user-alice-1', 'alice!']]
    """)
  }

  test("sample returns requested row count") {
    val df = wv("""
      from [[1], [2], [3], [4], [5], [6], [7], [8]] as t(id)
      sample 3
    """)
    assert(df.count() == 3)
  }

  test("show columns / functions / models") {
    val cols = wv("""
      show columns from region
      select column_name
      order by column_name
    """).collect().map(_.getString(0)).toList
    assert(cols == List("r_name", "r_regionkey"))
    val fns = wv("""
      show functions
      where name in ('abs', 'concat')
      order by name
    """).collect().map(_.getString(0)).toList
    assert(fns == List("abs", "concat"))
    wv("""
      def my_fn(x) = x + 1
      show functions
      where function_type = 'def'
      count
      test _.rows should be [[1]]
    """)
    wv("""
      model m1 = { from [[1]] as t(a) }
      show models
      select name
      test _.rows should be [['m1']]
    """)
  }

  test("describe") {
    val df = wv("""
      from [[1, 'a']] as t(id, name)
      describe
    """)
    val rows = df.collect().map(r => (r.getString(0), r.getString(1))).toList
    assert(rows == List(("id", "long"), ("name", "string")))
  }

  test("agg over tpch-ish parquet: events tumbling window") {
    val df = wv("""
      from events
      group by bucket = ts.date_trunc('hour')
      agg n = _.count, total = value.sum
      order by bucket
    """)
    assert(df.count() > 0)
  }

  test("string_agg honors order by (asc and desc)") {
    val asc = wv("""
      from [[1, 'b', 2], [1, 'a', 3], [1, 'c', 1]] as t(k, s, ord)
      group by k
      agg joined = string_agg(s order by ord)
    """).collect()
    assert(asc.head.getString(1) == "c,b,a")
    val desc = wv("""
      from [[1, 'b', 2], [1, 'a', 3], [1, 'c', 1]] as t(k, s, ord)
      group by k
      agg joined = string_agg(s, '|' order by ord desc)
    """).collect()
    assert(desc.head.getString(1) == "a|b|c")
  }

  test("avg(distinct) and collect distinct") {
    val df = wv("""
      from [[1, 10], [1, 10], [1, 20]] as t(k, v)
      group by k
      agg d_avg = avg(distinct v), d_sum = sum(distinct v), d_cnt = count(distinct v)
    """).collect()
    assert(df.head.getDouble(1) == 15.0)
    assert(df.head.getLong(2) == 30L)
    assert(df.head.getLong(3) == 2L)
  }

  test("unsupported distinct aggregate throws instead of silently dropping") {
    intercept[LoweringException] {
      wv("""
        from [[1, 10]] as t(k, v)
        group by k
        agg m = median(distinct v)
      """).collect()
    }
  }

  test("filter (where …) clause on any single-arg aggregate") {
    val df = wv("""
      from [[1, 10], [1, 20], [1, 30]] as t(k, v)
      group by k
      agg
        med = median(v) filter (where v < 30),
        sd = stddev(v) filter (where v >= 20),
        n = count(*) filter (where v > 10)
    """).collect()
    assert(df.head.getDouble(1) == 15.0)
    assert(df.head.getLong(3) == 2L)
  }

  test("asof join: inner drops unmatched, left keeps them") {
    val q =
      """
      from [[1, 100], [2, 50]] as l(id, t)
      asof %s {
        from [[1, 90, 'x'], [1, 95, 'y'], [2, 60, 'z']] as r(rid, rt, tag)
      } on rid = id and rt <= t
      select id, t, tag
      order by id
      """
    val inner = wv(q.format("join")).collect()
    assert(inner.map(_.getLong(0)).toList == List(1L))
    assert(inner.head.getString(2) == "y")
    val left = wv(q.format("left join")).collect()
    assert(left.map(_.getLong(0)).toList == List(1L, 2L))
    assert(left(1).isNullAt(2))
  }

  test("scalar subquery in where is lazy (no driver collect) and correct") {
    val q = """
      from [[1, 10], [2, 20], [3, 30]] as t(id, v)
      where v > (from [[1, 10], [2, 20], [3, 30]] as s(sid, sv) agg avg(sv))
      select id
      order by id
    """
    val (df, cost) = graft.SparkCost.of(spark)(graft.Graft.query(spark, q, name => table(name)))
    assert(cost.jobs == 0, s"lowering started ${cost.jobs} Spark job(s)")
    // the subquery stays a subquery expression, not a folded literal
    val plan = df.queryExecution.optimizedPlan
    assert(plan.exists(_.expressions.exists(_.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ScalarSubquery]))),
      s"expected a ScalarSubquery in:\n$plan")
    assert(df.collect().map(_.getLong(0)).toList == List(3L))
  }

  test("a model referenced twice in one statement is lowered once") {
    // connected_components runs its jobs while it lowers; the second
    // reference to `cc` reuses the first one's frame
    val defs = """
      model pairs = { from [[1, 2], [2, 3], [7, 8]] as p(id_a, id_b) }
      model cc = { from connected_components('pairs') }
    """
    def lowering(q: String) =
      graft.SparkCost.of(spark)(graft.Graft.query(spark, defs + q, name => table(name)))
    val (_, once) = lowering("from cc")
    val (twice, cost) = lowering("""
      from cc as a
      join cc as b on a.id = b.id
      select a.id as id, b.cluster as cluster
      order by id
    """)
    assert(once.jobs > 0, "connected_components should run jobs while lowering")
    assert(cost.jobs == once.jobs,
      s"two references started ${cost.jobs} job(s), one reference ${once.jobs}")
    assert(twice.collect().map(r => (r.getLong(0), r.getLong(1))).toList ==
      List((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 7L)))
  }

  test("scalar subquery in select and add") {
    wv("""
      from [[1], [2]] as t(id)
      select id, mx = (from [[5], [9]] as s(v) agg max(v))
      order by id
      test _.rows should be [[1, 9], [2, 9]]
    """)
    wv("""
      from [[1], [2]] as t(id)
      add total = (from [[5], [9]] as s(v) agg sum(v))
      order by id
      test _.rows should be [[1, 14], [2, 14]]
    """)
  }

  test("scalar subquery in agg and join positions binds lazily and correctly") {
    // a side-effecting probe UDF detects any eager evaluation at lowering
    val evals = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.udf.register("graft_probe", (x: Long) => { evals.incrementAndGet(); x })
    val agg = graft.Graft.query(spark, """
      from [[1, 10], [1, 5], [2, 20]] as t(id, v)
      group by id
      agg m = v.sum + (from [[7]] as s(k) where graft_probe(k) > 0 agg max(k))
      order by id
    """, name => table(name))
    assert(evals.get() == 0, "lowering must not execute the subquery eagerly")
    assert(agg.collect().map(r => (r.getLong(0), r.getLong(1))).toList ==
      List((1L, 22L), (2L, 27L)))
    assert(evals.get() > 0, "the probe should run at action time")

    val joined = wv("""
      from [[1, 10], [2, 20]] as a(id, v)
      join [[1, 100], [2, 200]] as b(id, w)
        on a.id = b.id and b.w > (from [[150]] as s(x) agg max(x))
      select a.id as id, b.w as w
      order by id
      test _.rows should be [[2, 200]]
    """)

    // sort key: lowers without a job, evaluates at action time
    // DuckDB: SELECT id FROM (VALUES (1, 10), (2, 20), (3, 30)) t(id, v)
    //   ORDER BY abs(v - (SELECT avg(sv) FROM (VALUES (10), (20), (30)) s(sv))) DESC, id
    //   → 1, 3, 2
    val (sorted, cost) = graft.SparkCost.of(spark)(graft.Graft.query(spark, """
      from [[1, 10], [2, 20], [3, 30]] as t(id, v)
      order by abs(v - (from [[10], [20], [30]] as s(sv) agg avg(sv))) desc, id
      select id
    """, name => table(name)))
    assert(cost.jobs == 0, s"lowering started ${cost.jobs} Spark job(s)")
    assert(sorted.collect().map(_.getLong(0)).toList == List(1L, 3L, 2L))
  }

  test("correlated count(*) over an empty group is 0, not NULL") {
    // DuckDB: SELECT r_regionkey, (SELECT count(*) FROM nation
    //   WHERE n_regionkey = r_regionkey AND n_nationkey < 3) AS n
    //   FROM region ORDER BY r_regionkey
    wv("""
      from region
      select r_regionkey,
        n = (from nation where n_regionkey = r_regionkey and n_nationkey < 3 select count(*))
      order by r_regionkey
      test _.rows should be [[0, 1], [1, 1], [2, 1], [3, 0], [4, 0]]
    """)
  }

  test("correlated count(*) compared with 0 keeps the empty groups") {
    // DuckDB: SELECT r_regionkey FROM region WHERE 0 = (SELECT count(*) FROM nation
    //   WHERE n_regionkey = r_regionkey AND n_nationkey < 3) ORDER BY r_regionkey
    wv("""
      from region
      where 0 = (from nation where n_regionkey = r_regionkey and n_nationkey < 3 select count(*))
      select r_regionkey
      order by r_regionkey
      test _.rows should be [[3], [4]]
    """)
  }

  test("uncorrelated scalar subquery of 0 rows yields NULL per outer row") {
    // DuckDB: SELECT id, (SELECT x FROM (VALUES (5)) s(x) WHERE x > 10) AS v
    //   FROM (VALUES (1), (2)) t(id) ORDER BY id → (1, NULL), (2, NULL)
    wv("""
      from [[1], [2]] as t(id)
      select id, v = (from [[5]] as s(x) where x > 10 select x)
      order by id
      test _.rows should be [[1, null], [2, null]]
    """)
  }

  test("uncorrelated scalar subquery of 2 rows raises, not multiplies") {
    // SELECT id, (SELECT x FROM (VALUES (5), (6)) s(x)) FROM (VALUES (1), (2)) t(id)
    // is a cardinality violation in SQL; DuckDB 1.0 instead returns the first
    // row ((1, 5), (2, 5)); neither returns the 4 rows of a cross join
    val e = intercept[Exception] {
      wv("""
        from [[1], [2]] as t(id)
        select id, v = (from [[5], [6]] as s(x) select x)
      """).collect()
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(msgs.exists(m => m != null && m.contains("SCALAR_SUBQUERY_TOO_MANY_ROWS")), e.toString)
  }

  test("correlated scalar subquery with qualified correlation") {
    // DuckDB: SELECT cid, (SELECT sum(amt) FROM (VALUES (1, 10), (1, 20), (3, 5)) o(ocid, amt)
    //   WHERE o.ocid = c.cid) AS total FROM (VALUES (1), (2), (3)) c(cid) ORDER BY cid
    //   → (1, 30), (2, NULL), (3, 5)
    wv("""
      from [[1], [2], [3]] as c(cid)
      select cid, total = (from [[1, 10], [1, 20], [3, 5]] as o(ocid, amt)
                           where o.ocid = c.cid select amt.sum)
      order by cid
      test _.rows should be [[1, 30], [2, null], [3, 5]]
    """)
  }

  test("in / exists subqueries under or and not") {
    // DuckDB: SELECT cid FROM (VALUES (1), (2), (3), (4)) c(cid)
    //   WHERE cid IN (SELECT x FROM (VALUES (1), (3)) s(x)) OR cid = 4 ORDER BY cid
    //   → 1, 3, 4
    wv("""
      from [[1], [2], [3], [4]] as c(cid)
      where cid in { from [[1], [3]] as s(x) select x } or cid = 4
      select cid
      order by cid
      test _.rows should be [[1], [3], [4]]
    """)
    // DuckDB: … WHERE NOT (cid IN (SELECT x FROM (VALUES (1), (3)) s(x)) OR cid = 4) → 2
    wv("""
      from [[1], [2], [3], [4]] as c(cid)
      where not (cid in { from [[1], [3]] as s(x) select x } or cid = 4)
      select cid
      order by cid
      test _.rows should be [[2]]
    """)
    // DuckDB: … WHERE EXISTS (SELECT 1 FROM (VALUES (1, 10), (3, 5)) o(ocid, amt)
    //   WHERE o.ocid = c.cid) OR cid = 2 ORDER BY cid → 1, 2, 3
    wv("""
      from [[1], [2], [3], [4]] as c(cid)
      where exists { from [[1, 10], [3, 5]] as o(ocid, amt) where o.ocid = c.cid } or cid = 2
      select cid
      order by cid
      test _.rows should be [[1], [2], [3]]
    """)
    // DuckDB: … WHERE NOT (EXISTS (…) OR cid = 2) ORDER BY cid → 4
    wv("""
      from [[1], [2], [3], [4]] as c(cid)
      where not (exists { from [[1, 10], [3, 5]] as o(ocid, amt) where o.ocid = c.cid } or cid = 2)
      select cid
      order by cid
      test _.rows should be [[4]]
    """)
  }

  test("tuple in over a correlated subquery") {
    // DuckDB: SELECT cid FROM (VALUES (1, 'a'), (2, 'b'), (3, 'c')) c(cid, tag)
    //   WHERE row(cid, tag) [NOT] IN (SELECT row(ocid, otag)
    //     FROM (VALUES (1, 'a'), (2, 'x')) o(ocid, otag) WHERE o.ocid = c.cid)
    //   ORDER BY cid → IN: 1; NOT IN: 2, 3
    wv("""
      from [[1, 'a'], [2, 'b'], [3, 'c']] as c(cid, tag)
      where (cid, tag) in { from [[1, 'a'], [2, 'x']] as o(ocid, otag)
                            where o.ocid = c.cid select ocid, otag }
      select cid
      order by cid
      test _.rows should be [[1]]
    """)
    wv("""
      from [[1, 'a'], [2, 'b'], [3, 'c']] as c(cid, tag)
      where (cid, tag) not in { from [[1, 'a'], [2, 'x']] as o(ocid, otag)
                                where o.ocid = c.cid select ocid, otag }
      select cid
      order by cid
      test _.rows should be [[2], [3]]
    """)
  }

  test("scalar subquery in order by") {
    // DuckDB: SELECT n_nationkey FROM nation ORDER BY abs(n_regionkey -
    //   (SELECT avg(r_regionkey) FROM region)) DESC, n_nationkey LIMIT 6
    //   → 0, 4, 5, 9, 10, 14
    wv("""
      from nation
      order by abs(n_regionkey - (from region agg avg(r_regionkey))) desc, n_nationkey
      select n_nationkey
      limit 6
      test _.rows should be [[0], [4], [5], [9], [10], [14]]
    """)
  }

  test("correlated select distinct: kept under in/exists, rejected where duplicates would show") {
    // DuckDB: SELECT cid FROM (VALUES (1), (2), (3)) c(cid)
    //   WHERE cid IN (SELECT DISTINCT ocid FROM (VALUES (1, 10), (1, 10), (3, 5)) o(ocid, amt)
    //     WHERE o.amt >= c.cid * 5) ORDER BY cid → 1
    wv("""
      from [[1], [2], [3]] as c(cid)
      where cid in { from [[1, 10], [1, 10], [3, 5]] as o(ocid, amt)
                     where o.amt >= c.cid * 5 select distinct ocid }
      select cid
      order by cid
      test _.rows should be [[1]]
    """)
    // DuckDB: … WHERE EXISTS (SELECT DISTINCT amt FROM … o(ocid, amt)
    //   WHERE o.ocid = c.cid) ORDER BY cid → 1, 3
    wv("""
      from [[1], [2], [3]] as c(cid)
      where exists { from [[1, 10], [1, 10], [3, 5]] as o(ocid, amt)
                     where o.ocid = c.cid select distinct amt }
      select cid
      order by cid
      test _.rows should be [[1], [3]]
    """)
    // a lateral join or a scalar use would return the duplicates
    // (DuckDB: one row (1, 10) per matching cid), so both are rejected
    val correlated = "{ from [[1, 10], [1, 10], [3, 5]] as o(ocid, amt) where o.ocid = c.cid select distinct amt }"
    intercept[LoweringException] {
      wv(s"from [[1], [2], [3]] as c(cid) join lateral $correlated select cid, amt")
    }
    intercept[LoweringException] {
      wv(s"from [[1], [2], [3]] as c(cid) select cid, v = (${correlated.drop(1).dropRight(1)})")
    }
    // uncorrelated, the distinct applies
    // DuckDB: SELECT cid, amt FROM (VALUES (1), (2)) c(cid), LATERAL (SELECT DISTINCT amt
    //   FROM (VALUES (1, 10), (1, 10), (3, 5)) o(ocid, amt)) ORDER BY cid, amt
    wv("""
      from [[1], [2]] as c(cid)
      join lateral { from [[1, 10], [1, 10], [3, 5]] as o(ocid, amt) select distinct amt }
      select cid, amt
      order by cid, amt
      test _.rows should be [[1, 5], [1, 10], [2, 5], [2, 10]]
    """)
  }

  test("unqualified correlation in join on, having, grouped select and agg positions") {
    val o = "[[1, 10], [1, 20], [3, 5], [2, 7]] as o(ocid, amt)"
    val lim = "[[1, 25], [2, 1], [3, 9]] as lim(lk, lv)"
    // DuckDB: SELECT cid, tag FROM (VALUES (1), (2), (3)) c(cid)
    //   JOIN (VALUES (1, 'a'), (2, 'b'), (3, 'c')) d(did, tag) ON did = cid
    //   AND 1 < (SELECT count(*) FROM (VALUES (1, 10), (1, 20), (3, 5)) o(ocid, amt)
    //   WHERE ocid = cid) ORDER BY cid → (1, 'a')
    wv("""
      from [[1], [2], [3]] as c(cid)
      join [[1, 'a'], [2, 'b'], [3, 'c']] as d(did, tag)
        on did = cid and 1 < (from [[1, 10], [1, 20], [3, 5]] as o(ocid, amt)
                              where ocid = cid select count(*))
      select cid, tag
      order by cid
      test _.rows should be [[1, 'a']]
    """)
    // DuckDB: SELECT ocid, sum(amt) AS total FROM o GROUP BY ocid
    //   HAVING sum(amt) > (SELECT lv FROM lim WHERE lk = ocid) ORDER BY ocid → (1, 30), (2, 7)
    wv(s"""
      from $o
      group by ocid
      where amt.sum > (from $lim where lk = ocid select lv)
      agg total = amt.sum
      order by ocid
      test _.rows should be [[1, 30], [2, 7]]
    """)
    // DuckDB: SELECT ocid, sum(amt) AS total, (SELECT lv FROM lim WHERE lk = ocid) AS l
    //   FROM o GROUP BY ocid ORDER BY ocid → (1, 30, 25), (2, 7, 1), (3, 5, 9)
    wv(s"""
      from $o
      group by ocid
      select ocid, total = amt.sum, l = (from $lim where lk = ocid select lv)
      order by ocid
      test _.rows should be [[1, 30, 25], [2, 7, 1], [3, 5, 9]]
    """)
    // DuckDB: SELECT ocid, max((SELECT lv FROM lim WHERE lk = ocid)) AS m
    //   FROM o GROUP BY ocid ORDER BY ocid → (1, 25), (2, 1), (3, 9)
    wv(s"""
      from $o
      group by ocid
      agg m = max((from $lim where lk = ocid select lv))
      order by ocid
      test _.rows should be [[1, 25], [2, 1], [3, 9]]
    """)
    // DuckDB: SELECT sum((SELECT lv FROM lim WHERE lk = ocid)) AS s FROM o → 60
    wv(s"""
      from $o
      agg s = sum((from $lim where lk = ocid select lv))
      test _.rows should be [[60]]
    """)
  }

  test("select * alongside a scalar subquery does not leak helper columns") {
    val df = wv("""
      from [[1, 'x'], [2, 'y']] as t(id, s)
      select *, mx = (from [[5], [9]] as q(v) agg max(v))
      order by id
    """)
    assert(df.columns.toList == List("id", "s", "mx"),
      s"unexpected columns: ${df.columns.mkString(", ")}")
    assert(df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toList ==
      List((1L, "x", 9L), (2L, "y", 9L)))
  }

  test("first_value / last_value honor FILTER (WHERE …)") {
    wv("""
      from [[1, 'a'], [2, 'b'], [3, 'c'], [4, 'd']] as t(id, s)
      agg
        f = first_value(s) filter (where id >= 2),
        l = last_value(s) filter (where id <= 3)
      test _.rows should be [['b', 'c']]
    """)
  }

  test("array_agg(distinct … order by …) is ordered-distinct") {
    val df = wv("""
      from [[1, 'b'], [2, 'a'], [3, 'b'], [4, 'c']] as t(id, s)
      agg xs = array_agg(distinct s order by id desc)
    """).collect()
    assert(df.head.getSeq[String](0).toList == List("c", "b", "a"))
  }

  test("product aggregate") {
    wv("""
      from [[2], [3], [4]] as t(v)
      agg p = product(v), pf = product(v) filter (where v != 3)
      test _.rows should be [[24.0, 8.0]]
    """)
  }

  test("parameterized models: args, defaults, arity errors") {
    wv("""
      model big_orders(min_total, status = 'O') = {
        from [[1, 'O', 100], [2, 'O', 500], [3, 'F', 900], [4, 'O', 800]]
          as orders(id, st, total)
        where st = status and total >= min_total
      }
      from big_orders(400)
      select id
      order by id
      test _.rows should be [[2], [4]]
    """)
    wv("""
      model big_orders(min_total, status = 'O') = {
        from [[1, 'O', 100], [2, 'O', 500], [3, 'F', 900], [4, 'O', 800]]
          as orders(id, st, total)
        where st = status and total >= min_total
      }
      from big_orders(400, 'F')
      select id
      test _.rows should be [[3]]
    """)
    // zero-arg call of a model with a required param must throw, not
    // silently run unbound
    intercept[LoweringException] {
      wv("""
        model m(x) = { from [[1]] as t(a) where a = x }
        from m
      """)
    }
    intercept[LoweringException] {
      wv("""
        model m(x) = { from [[1]] as t(a) where a = x }
        from m(1, 2)
      """)
    }
  }

  test("user def functions: call, method style, zero-arg, recursion guard") {
    wv("""
      def discounted(p, d) = p * (1 - d)
      def half(x) = x / 2
      def answer = 42
      from [[100.0, 0.25], [200.0, 0.5]] as t(price, disc)
      select
        a = discounted(price, disc),
        b = price.half,
        c = half(price),
        d = answer
      order by a
      test _.rows should be [[75.0, 50.0, 50.0, 42], [100.0, 100.0, 100.0, 42]]
    """)
    intercept[LoweringException] {
      wv("""
        def loop(x) = loop(x) + 1
        from [[1]] as t(a)
        select loop(a)
      """)
    }
  }

  test("partial query defs applied in pipe position") {
    wv("""
      def active = where st = 'a'
      def brief = select id, total
      from [[1, 'a', 10], [2, 'b', 20], [3, 'a', 30]] as t(id, st, total)
      active
      brief
      order by id
      test _.rows should be [[1, 10], [3, 30]]
    """)
    // partial with multiple ops, applied with explicit pipe
    wv("""
      def top1 = order by total desc limit 1
      from [[1, 10], [2, 30], [3, 20]] as t(id, total)
      | top1
      select id
      test _.rows should be [[2]]
    """)
    intercept[LoweringException] {
      wv("""
        from [[1]] as t(a)
        nonexistent_op
      """)
    }
  }

  test("json inline rows, range table function, lateral join, ulid") {
    wv("""
      from json"[{\"id\": 1, \"name\": \"a\"}, {\"id\": 2, \"name\": \"b\"}]"
      where id > 1
      select name
      test _.rows should be [['b']]
    """)
    wv("""
      from range(3)
      select id
      order by id
      test _.rows should be [[0], [1], [2]]
    """)
    wv("""
      from range(2, 8, 2) count
      test _.rows should be [[3]]
    """)
    wv("""
      from [[1], [2], [3]] as t(k)
      join lateral {
        from [[1, 'x'], [1, 'y'], [3, 'z']] as u(uk, v)
        where u.uk = t.k
        select v
      }
      select k, v
      order by k, v
      test _.rows should be [[1, 'x'], [1, 'y'], [3, 'z']]
    """)
    val ulids = wv("""
      from range(100)
      select u = ulid_string()
    """).collect().map(_.getString(0))
    assert(ulids.distinct.length == 100)
    assert(ulids.forall(u => u.length == 26 && u.matches("[0-9A-HJKMNP-TV-Z]{26}")))
  }

  test("_.output structural comparison against a rendered box table") {
    val box =
      "\n┌──────┬───────┬─────┐" +
      "\n│  id  │ name  │ age │" +
      "\n│ long │ string│ long│" +
      "\n├──────┼───────┼─────┤" +
      "\n│    1 │ alice │  10 │" +
      "\n├──────┴───────┴─────┤" +
      "\n│ 1 rows             │" +
      "\n└────────────────────┘\n"
    wv(s"""
      from [[1, 'alice', 10]] as t(id, name, age)
      test _.output should be \"\"\"$box\"\"\"
    """)
  }

  test("sql front-end: multi-statement script, quote-aware splitting") {
    val df = graft.Graft.sqlScript(spark,
      """
      CREATE OR REPLACE TEMP VIEW sql_fe_t AS
        SELECT * FROM VALUES (1, 'a;b'), (2, 'c') AS t(id, s);
      -- a comment; with a semicolon
      SELECT id, s FROM sql_fe_t WHERE s != 'x;y' ORDER BY id
      """)
    val rows = df.collect()
    assert(rows.map(_.getInt(0)).toList == List(1, 2))
    assert(rows.head.getString(1) == "a;b")
    assert(graft.Graft.splitSqlStatements("select 1; ; select 2").length == 2)
  }

  test("tuple-in, natural join, at time zone, prepared params") {
    wv("""
      from [[1, 'a'], [2, 'b'], [3, 'c'], [4, 'a']] as t(id, tag)
      where (id, tag) in ((1, 'a'), (3, 'c'), (4, 'z'))
      select id
      order by id
      test _.rows should be [[1], [3]]
    """)
    wv("""
      from [[1, 'x'], [2, 'y']] as l(id, lv)
      natural join { from [[1, 'p'], [3, 'q']] as r(id, rv) } as r
      select id, lv, rv
      test _.rows should be [[1, 'x', 'p']]
    """)
    val tzRow = wv("""
      from [['2024-06-01 12:00:00']] as t(s)
      select local = s.to_timestamp at time zone 'Asia/Tokyo'
    """).collect()
    // session tz is UTC; noon UTC = 21:00 Tokyo wall time
    assert(tzRow.head.get(0).toString.contains("21:00"))
    val bound = graft.Graft.query(spark,
      """
      from [[1, 10], [2, 20], [3, 30]] as t(id, v)
      where v > ? and id != ?
      select id
      order by id
      """,
      name => table(name), params = Seq(15, 3))
    assert(bound.collect().map(_.getLong(0)).toList == List(2L))
  }

  test("correlated exists / not exists / in subqueries decorrelate to joins") {
    wv("""
      from [[1], [2], [3]] as c(cid)
      where exists { from [[1, 10], [1, 20], [3, 5]] as o(ocid, amt)
                     where o.ocid = c.cid and amt >= 10 }
      select cid
      order by cid
      test _.rows should be [[1]]
    """)
    wv("""
      from [[1], [2], [3]] as c(cid)
      where not exists { from [[1, 10], [3, 5]] as o(ocid, amt)
                         where o.ocid = c.cid }
      select cid
      test _.rows should be [[2]]
    """)
    wv("""
      from [[1, 'x'], [2, 'y'], [3, 'x']] as c(cid, tag)
      where cid in { from [[1, 'x'], [2, 'x'], [3, 'z']] as o(ocid, otag)
                     where o.otag = c.tag
                     select ocid }
      select cid
      order by cid
      test _.rows should be [[1]]
    """)
  }

  test("quantize_int8 stdlib method: scale and byte array from wv") {
    val rows = wv("""
      from [[1]] as t(id)
      add qz = [1.0, -0.5, 0.25].quantize_int8()
      select id, s = qz.scale, q = qz.q
    """).collect()
    assert(rows.head.getDouble(1) == 1.0)
    val q = rows.head.getSeq[Byte](2)
    assert(q == Seq[Byte](127, -63, 32)) // floor(±x·127 + 0.5)
  }

  test("orc save/read roundtrip preserves rows and types") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_orc").toString
    val rows = wv(s"""
      from [[1, 'a', 1.5], [2, 'b', 2.5]] as t(id, tag, v)
      save to '$tmp/t.orc'
      ;
      from '$tmp/t.orc'
      order by id
    """).collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toList ==
      List((1L, "a", 1.5), (2L, "b", 2.5)))
  }

  test("text file source and sink: one row per line, `value` column") {
    val d = java.nio.file.Files.createTempDirectory("graft_txt")
    java.nio.file.Files.writeString(d.resolve("corpus.txt"),
      "hello world\nsecond line\nthird\n")
    val rows = wv(s"from '$d/corpus.txt' order by value").collect()
    assert(rows.map(_.getString(0)).toList ==
      List("hello world", "second line", "third"))
    // text sink: single string column, lines round-trip
    val back = wv(s"""
      from '$d/corpus.txt'
      where value != 'third'
      save to '$d/filtered.txt'
      ;
      from '$d/filtered.txt'
      count
    """).collect()
    assert(back.head.getLong(0) == 2L)
  }

  test("save / delete / truncate roundtrip on a parquet path") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_dml").toString
    val rows = wv(s"""
      from [[1, 'a'], [2, 'b'], [3, 'a']] as t(id, tag)
      save to '$tmp/t.parquet'
      ;
      delete from '$tmp/t.parquet' where tag = 'a'
      ;
      from '$tmp/t.parquet'
      order by id
    """).collect()
    assert(rows.map(_.getLong(0)).toList == List(2L))
    val after = wv(s"""
      truncate '$tmp/t.parquet'
      ;
      from '$tmp/t.parquet'
      count
    """).collect()
    assert(after.head.getLong(0) == 0L)
  }

  test("update set where, and schema-bound type resolution") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_upd").toString
    val rows = wv(s"""
      from [[1, 10.0], [2, 20.0], [3, 30.0]] as t(id, v)
      save to '$tmp/u.parquet'
      ;
      update '$tmp/u.parquet' set v = v * 2, id = id + 100 where v >= 20.0
      ;
      from '$tmp/u.parquet'
      order by id
    """).collect()
    assert(rows.map(r => (r.getLong(0), r.getDouble(1))).toList ==
      List((1L, 10.0), (102L, 40.0), (103L, 60.0)))
    // type-bound table resolution through the session catalog
    wv("""
      execute sql"create schema if not exists graft_binding_test"
      from [[1, 'apple'], [2, 'banana']] as t(id, name)
      save to graft_binding_test.bound_orders
      ;
      type bound_orders in memory.graft_binding_test = {
        id: int
        name: string
      }
      from graft_binding_test.bound_orders
      test _.size should be 2
      ;
      from bound_orders
      where id = 1
      test _.size should be 1
    """)
    spark.sql("DROP TABLE IF EXISTS graft_binding_test.bound_orders")
  }

  test("merge into: upsert and matched-delete") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_merge").toString
    val rows = wv(s"""
      from [[1, 'old1'], [2, 'old2'], [3, 'old3']] as t(id, v)
      save to '$tmp/m.parquet'
      ;
      merge into '$tmp/m.parquet' using {
        from [[2, 'new2'], [4, 'new4']] as s(id, v)
      } on id
      when matched then update
      when not matched then insert
      ;
      from '$tmp/m.parquet'
      order by id
    """).collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toList ==
      List((1L, "old1"), (2L, "new2"), (3L, "old3"), (4L, "new4")))
    val deleted = wv(s"""
      merge into '$tmp/m.parquet' using {
        from [[2, 'x'], [9, 'nine']] as s(id, v)
      } on id
      when matched then delete
      when not matched then insert
      ;
      from '$tmp/m.parquet'
      order by id
    """).collect()
    assert(deleted.map(r => (r.getLong(0), r.getString(1))).toList ==
      List((1L, "old1"), (3L, "old3"), (4L, "new4"), (9L, "nine")))
  }

  test("merge into: duplicate source keys error (in-plan guard, one job)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_merge_dup").toString
    wv(s"""
      from [[1, 'old1'], [2, 'old2']] as t(id, v)
      save to '$tmp/m.parquet'
    """)
    val e = intercept[Exception] {
      wv(s"""
        merge into '$tmp/m.parquet' using {
          from [[2, 'a'], [2, 'b']] as s(id, v)
        } on id
        when matched then update
        when not matched then insert
      """)
    }
    def messages(t: Throwable): List[String] =
      if (t == null) Nil
      else String.valueOf(t.getMessage) :: messages(t.getCause)
    assert(messages(e).exists(_.contains("duplicate rows per key")),
      s"unexpected error: ${messages(e).mkString(" | ")}")
    // target untouched: the guard fired before any write
    val rows = wv(s"from '$tmp/m.parquet' order by id").collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toList ==
      List((1L, "old1"), (2L, "old2")))
  }

  test("show ... like patterns, show create view, insert overwrite") {
    spark.sql("CREATE OR REPLACE TEMP VIEW graft_like_probe AS SELECT 1 AS x")
    val t = wv("show tables like 'graft_like%'").collect()
    assert(t.map(_.getString(0)).toList == List("graft_like_probe"))
    assert(wv("show tables like 'zzz_none%'").count() == 0)

    spark.sql("CREATE OR REPLACE VIEW graft_cv_probe AS SELECT 2 AS y")
    val cv = wv("show create view graft_cv_probe").collect()
    assert(cv.head.getString(0).toUpperCase.contains("CREATE VIEW"))
    spark.sql("DROP VIEW graft_cv_probe")

    val tmp = java.nio.file.Files.createTempDirectory("graft_insover").toString
    val rows = wv(s"""
      from [[1, 'a'], [2, 'b'], [3, 'c']] as t(id, v)
      save to '$tmp/t.parquet'
      ;
      insert overwrite '$tmp/t.parquet' { from [[9, 'z']] as t(id, v) }
      ;
      from '$tmp/t.parquet'
    """).collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toList == List((9L, "z")))
  }

  test("partition-pruned DML rewrites only the affected partition directory") {
    // the delete statement and the terminal `delete` pipe take one path
    Seq(
      (t: String) => s"delete from '$t' where region = 'A' and v > 50",
      (t: String) => s"from '$t' where region = 'A' and v > 50 delete"
    ).foreach { deleteText =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_pruned").toString
      wv(s"""
        from [[1, 'A', 10], [2, 'A', 99], [3, 'B', 20], [4, 'C', 30]] as t(id, region, v)
        save to '$tmp/t.parquet' partition by region
      """)
      def files(dir: String): Map[String, Long] = {
        val d = new java.io.File(s"$tmp/t.parquet/$dir")
        d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => f.getName -> f.lastModified()).toMap
      }
      val bBefore = files("region=B")
      val cBefore = files("region=C")
      Thread.sleep(1100) // mtime granularity
      wv(deleteText(s"$tmp/t.parquet"))
      // untouched partitions keep the SAME files with the SAME mtimes
      assert(files("region=B") == bBefore, "region=B must not be rewritten")
      assert(files("region=C") == cBefore, "region=C must not be rewritten")
      val rows = wv(s"from '$tmp/t.parquet' order by id").collect()
      assert(rows.map(_.getLong(0)).toList == List(1L, 3L, 4L))

      wv(s"update '$tmp/t.parquet' set v = v + 1 where region = 'A'")
      assert(files("region=B") == bBefore, "update must not rewrite region=B")
      val after = wv(s"from '$tmp/t.parquet' where id = 1 select v").collect()
      assert(after.head.getLong(0) == 11L)
    }
  }

  test("merge into: update-only (no insert clause) leaves unmatched source out") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_merge_uo").toString
    val rows = wv(s"""
      from [[1, 'a'], [2, 'b']] as t(id, v)
      save to '$tmp/m.parquet'
      ;
      merge into '$tmp/m.parquet' using {
        from [[2, 'B'], [7, 'seven']] as s(id, v)
      } on id
      when matched then update
      ;
      from '$tmp/m.parquet'
      order by id
    """).collect()
    // id=7 has no match and there is no `when not matched then insert`
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toList ==
      List((1L, "a"), (2L, "B")))
  }

  test("create table as, insert into, partitioned save") {
    spark.sql("DROP TABLE IF EXISTS graft_ctas_test")
    // the metastore dies with the JVM but the warehouse dir survives —
    // remove the stale location or CTAS errors with LOCATION_ALREADY_EXISTS
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf)
      f.delete()
    }
    rmrf(new java.io.File("spark-warehouse/graft_ctas_test"))
    val out = wv("""
      create or replace table graft_ctas_test as { from [[1], [2]] as t(v) }
      ;
      insert into graft_ctas_test { from [[3]] as t(v) }
      ;
      from sql"select * from graft_ctas_test"
      order by v
    """).collect()
    assert(out.map(_.getLong(0)).toList == List(1L, 2L, 3L))
    // plain create table on an existing table must fail (no silent overwrite)
    intercept[Exception] {
      wv("create table graft_ctas_test as { from [[9]] as t(v) }")
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft_part").toString
    wv(s"""
      from [[1, 'x'], [2, 'y'], [3, 'x']] as t(id, part)
      save to '$tmp/p.parquet' partition by part
      ;
      from '$tmp/p.parquet'
      where part = 'x'
      count
      test _.rows should be [[2]]
    """)
    // partition pruning: the physical dir layout is part=<value>
    assert(new java.io.File(s"$tmp/p.parquet/part=x").exists())
  }

  test("debug executes its body (honest, not a silent no-op)") {
    // a failing test INSIDE debug must surface — proves the branch runs
    intercept[TestFailure] {
      wv("""
        from [[1], [2]] as t(v)
        debug { count test _.rows should be [[99]] }
        select v
      """)
    }
    // and a passing debug is a pass-through for the main flow
    wv("""
      from [[1], [2]] as t(v)
      debug { count }
      count
      test _.rows should be [[2]]
    """)
  }

  test("alter table: rename/add/drop/retype columns, properties, if-exists") {
    val dir = java.nio.file.Files.createTempDirectory("graft_alter").toString
    val t = s"$dir/people.parquet"
    wv(s"""
      from [[1, 'ann'], [2, 'bo']] as p(id, name)
      save to '$t'
    """)
    // add column (materialized on the parquet path), then retype and rename
    wv(s"alter table '$t' add column score int")
    wv(s"alter table '$t' alter column score set data type double")
    wv(s"alter table '$t' rename column name to full_name")
    val df = spark.read.parquet(t)
    assert(df.columns.toSet == Set("id", "full_name", "score"))
    assert(df.schema("score").dataType.typeName == "double")
    // drop column; dropping again without `if exists` is a user error
    wv(s"alter table '$t' drop column score")
    assert(spark.read.parquet(t).columns.toSet == Set("id", "full_name"))
    intercept[LoweringException] { wv(s"alter table '$t' drop column score") }
    wv(s"alter table '$t' drop column if exists score") // no-op
    // `if exists` on a missing table is a no-op; without it Spark errors
    wv(s"alter table if exists '$dir/nope.parquet' drop column x")
    // catalog table: rename + properties via Spark DDL
    spark.sql("DROP TABLE IF EXISTS alter_src")
    spark.sql("DROP TABLE IF EXISTS alter_dst")
    spark.sql("CREATE TABLE alter_src USING parquet AS SELECT 1 AS id")
    wv("alter table alter_src set properties note = 'kept'")
    wv("alter table alter_src rename to alter_dst")
    assert(spark.table("alter_dst").count() == 1)
    spark.sql("DROP TABLE IF EXISTS alter_dst")
  }

  test("text-pipeline methods are first-class language methods") {
    wv("""
      from [['the quick brown fox jumps over the lazy dog and then rests']] as t(text)
      select
        n = text.token_count,
        lang = text.lang_id,
        clean = 'mail me@x.com now'.redact_pii,
        plain = '<b>bold</b> move'.strip_html
      test _.rows should be [[12, 'en', 'mail <EMAIL> now', 'bold move']]
    """)
    val scored = wv("""
      from [['the quick brown fox jumps over the lazy dog and then rests']] as t(text)
      select q = text.quality_score, fp = text.fingerprint
    """).collect()(0)
    assert(scored.getDouble(0) > 0.0 && scored.getDouble(0) <= 1.0)
    assert(scored.getString(1).length == 32)
    // repetition rules + simhash as filter predicates
    val out = wv("""
      from [
        ['aaa bbb ccc ddd eee fff'],
        ['spam spam spam spam spam ham']
      ] as t(text)
      where text.top_token_fraction > 0.5
      select text, h = text.simhash64
    """).collect()
    assert(out.length == 1 && out(0).getString(0).startsWith("spam"))
    // C4 rules as language methods: page filter + line cleaning
    wv("""
      from [
        ['One good sentence here. A second one follows. Then a third arrives.'],
        ['Lorem ipsum dolor sit amet and more filler text.'],
        ['code page { return 1; } with. three. sentences.']
      ] as t(text)
      where text.c4_keep
      select n = text.sentence_count
      test _.rows should be [[3]]
    """)
    val c4 = wv("""
      from [['Good long sentence survives the filter here.\nshort one.\nEnable javascript now to continue please.']] as t(text)
      select cleaned = text.c4_clean
    """).collect()(0).getString(0)
    assert(c4 == "Good long sentence survives the filter here.")
  }

  test("decontaminate/contaminated_docs are table functions over named relations") {
    // eval set defined as an in-scope model; both relations resolve through
    // the normal `from <name>` rules
    val flagged = wv("""
      model evalset = {
        from documents
        where doc_id < 3
        select doc_id, text
      }
      ;
      from contaminated_docs('documents', 'evalset', 'doc_id', 'text', 4)
      order by doc_id
    """).collect()
    // the eval docs flag themselves at minimum
    assert(flagged.map(_.getLong(0)).take(3).toList == List(0L, 1L, 2L))
    assert(flagged.forall(_.getLong(1) >= 1L))
    val total = wv("from documents count").collect()(0).getLong(0)
    val clean = wv("""
      model evalset = {
        from documents
        where doc_id < 3
        select doc_id, text
      }
      ;
      from decontaminate('documents', 'evalset', 'doc_id', 'text', 4)
      count
    """).collect()(0).getLong(0)
    assert(clean == total - flagged.length)
    // packing + token stats as table functions, filterable in the language
    val packed = wv("""
      from pack_sequences('documents', 'doc_id', 'text', 128, 4)
      where pack_offset < 128 and pack_first <= pack_last
      count
    """).collect()(0).getLong(0)
    assert(packed == total)
    val rare = wv("""
      from token_stats('documents', 'doc_id', 'text')
      where rare_token_fraction >= 0
      count
    """).collect()(0).getLong(0)
    assert(rare == total)
    // real image decode as a table function: text payloads are not images,
    // so every row comes back decoded=false — the corrupt-payload contract
    // (DATA, not errors), filterable in the language
    val undecodable = wv("""
      from decode_images('documents', 'doc_id', 'text')
      where decoded = false
      count
    """).collect()(0).getLong(0)
    assert(undecodable == total)
    // perceptual-hash image dedup as a table function: text payloads never
    // decode, so no asset carries a hash and the pair set is empty — the
    // plumbing (dispatch, schema, decode-exclusion) is what this pins
    val phash = wv("""
      from dedup_phash('documents', 'doc_id', 'text', 3)
    """)
    assert(phash.columns.toSeq == Seq("id_a", "id_b", "hamming"))
    assert(phash.count() == 0)
    val phashAg = wv("""
      from dedup_phash_against('documents', 'documents', 'doc_id', 'text', 3)
    """)
    assert(phashAg.columns.toSeq == Seq("batch_id", "corpus_id", "hamming"))
    assert(phashAg.count() == 0)
  }

  test("each_top_k: bare identifiers and model relations") {
    // unquoted column refs (idiomatic wvlet) — same result as the quoted form
    val bare = wv("""
      from each_top_k(events, 2, event_type, value)
      select event_id, event_type, rank
      order by event_type, rank, event_id
    """).collect()
    val quoted = wv("""
      from each_top_k('events', 2, 'event_type', 'value')
      select event_id, event_type, rank
      order by event_type, rank, event_id
    """).collect()
    assert(bare.nonEmpty && bare.map(_.toSeq).toSeq == quoted.map(_.toSeq).toSeq)
    // a model (subquery) as the relation argument
    val overModel = wv("""
      model recent = {
        from events
        where value > 10
      }
      from each_top_k(recent, 3, event_type, value)
      where rank <= 3
      count
    """).collect().head.getLong(0)
    assert(overModel > 0)
  }

  test("call tool: 1-row invocation summary, composable and test-able") {
    // built-in echo tool
    val r = wv("call local.echo(message: 'hi there')").collect()
    assert(r.length == 1)
    assert(r.head.toSeq == Seq("local", "echo", "success", "hi there"), r.head.toSeq)
    // pipe operators compose over the summary relation
    val up = wv("""
      call local.upper(message: 'shout')
      where status = 'success'
      select content
    """).collect()
    assert(up.map(_.getString(0)).toSeq == Seq("SHOUT"))
    // an unknown tool is an error ROW (pipeable), not a query failure
    val missing = wv("call local.nope() select status, content").collect()
    assert(missing.head.getString(0) == "error" &&
      missing.head.getString(1).contains("not found"), missing.head.toSeq)
    // a registered custom tool resolves; a throwing tool reports error
    graft.tools.ToolRegistry.register("crm", "lookup") { args =>
      val id = String.valueOf(args.getOrElse("id", ""))
      if (id == "42") "Alice" else sys.error(s"no such id: $id")
    }
    assert(wv("call crm.lookup(id: '42') select content")
      .collect().head.getString(0) == "Alice")
    val err = wv("call crm.lookup(id: '7') select status, content").collect().head
    assert(err.getString(0) == "error" && err.getString(1).contains("no such id"))
  }

  test("a --- doc --- block attaches to the model that follows it, across comments") {
    def docs(src: String): Map[String, String] =
      Parser.parseStatements(src).collect { case m: ModelDef => m.name -> m.doc }.toMap
    assert(docs("--- Orders by day ---\nmodel daily = { from [[1]] as t(a) }") ==
      Map("daily" -> "Orders by day"))
    assert(docs(
      """--- kept across comments ---
        |-- a line comment
        |/* a block comment */
        |model m = { from [[1]] as t(a) }""".stripMargin) == Map("m" -> "kept across comments"))
    // `---` inside a string literal opens no doc block
    assert(docs(
      """from [['--- not a doc ---']] as t(s)
        |model m = { from [[1]] as t(a) }""".stripMargin) == Map("m" -> ""))
    // a doc before any other statement attaches to nothing
    assert(docs(
      """--- orphan ---
        |val x = 1
        |model m = { from [[1]] as t(a) }""".stripMargin) == Map("m" -> ""))
  }

  test("wv delete, update, truncate and alter keep a catalog table's partitioning and bucketing") {
    spark.sql("DROP TABLE IF EXISTS probe_layout")
    spark.sql(
      """CREATE TABLE probe_layout (id INT, v STRING, extra INT, p INT) USING parquet
        |PARTITIONED BY (p) CLUSTERED BY (id) INTO 2 BUCKETS""".stripMargin)
    spark.sql("INSERT INTO probe_layout VALUES (1, 'a', 0, 10), (2, 'b', 0, 10), (3, 'c', 0, 20)")
    def layout() = {
      val m = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("probe_layout"))
      (m.partitionColumnNames, m.bucketSpec.map(b => (b.numBuckets, b.bucketColumnNames)))
    }
    val want = (Seq("p"), Some((2, Seq("id"))))
    wv("delete from probe_layout where id = 1")
    assert(layout() == want)
    wv("update probe_layout set v = 'z' where id = 2")
    assert(layout() == want)
    wv("alter table probe_layout drop column extra")
    assert(layout() == want)
    val rows = spark.table("probe_layout").orderBy("id").collect()
      .map(r => (r.getAs[Int]("id"), r.getAs[String]("v"), r.getAs[Int]("p"))).toList
    assert(rows == List((2, "z", 10), (3, "c", 20)))
    wv("truncate probe_layout")
    assert(layout() == want)
    assert(spark.table("probe_layout").count() == 0)
    spark.sql("DROP TABLE IF EXISTS probe_layout")
  }
}
