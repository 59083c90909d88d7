"""The workloads: seeded op lists, each op with the DuckDB SQL that
computes its expected result independently of the program.

An op is a dict: `key` (names the op's text and so its expected result),
`kind` (`wv`, `save`, `sql` or `compile`), `text` (what the program gets)
and `oracle` (DuckDB SQL; for `compile` ops only its column names are
compared, for `save` ops the read-back op that follows checks the write).

The wv templates are adapted from the program's own oracle-checked catalog
rows; their constants are drawn from the seed. Ties under a LIMIT are
always broken by a key, so every result is one fixed row set.
"""
import hashlib
import os
import random

HERE = os.path.dirname(os.path.abspath(__file__))


def _date(rng, lo=1995, hi=2000):
    return f"{rng.randint(lo, hi)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"


# (name, params(rng) -> dict, wv text, DuckDB SQL)
WV_TEMPLATES = [
    ("scan_filter", lambda r: {"q": r.randint(44, 48), **dict(zip("de", r.choice([(0.02, 0.03), (0.06, 0.07)])))}, """
from lineitem
where l_quantity > {q} and l_discount between {d} and {e}
select l_orderkey, l_linenumber, l_quantity, l_extendedprice
order by l_orderkey, l_linenumber
""", """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem
WHERE l_quantity > {q} AND l_discount BETWEEN {d} AND {e}
"""),
    ("pricing_summary", lambda r: {"dt": _date(r, 1996, 2001)}, """
from lineitem
where l_shipdate <= '{dt}'
group by l_returnflag, l_linestatus
agg
  count_order = _.count,
  sum_qty = l_quantity.sum.round(2),
  sum_base_price = l_extendedprice.sum.round(2),
  sum_disc_price = (l_extendedprice * (1 - l_discount)).sum.round(2),
  avg_qty = l_quantity.avg.round(4),
  avg_disc = l_discount.avg.round(6)
order by l_returnflag, l_linestatus
""", """
SELECT l_returnflag, l_linestatus, count(*) AS count_order,
  round(sum(l_quantity), 2) AS sum_qty, round(sum(l_extendedprice), 2) AS sum_base_price,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
  round(avg(l_quantity), 4) AS avg_qty, round(avg(l_discount), 6) AS avg_disc
FROM lineitem WHERE l_shipdate <= '{dt}'
GROUP BY l_returnflag, l_linestatus
"""),
    ("having", lambda r: {"n": r.randint(8, 10)}, """
from lineitem
group by l_orderkey
agg n = _.count, total = l_extendedprice.sum.round(2)
where n >= {n}
order by l_orderkey
""", """
SELECT l_orderkey, count(*) AS n, round(sum(l_extendedprice), 2) AS total
FROM lineitem GROUP BY l_orderkey HAVING count(*) >= {n}
"""),
    ("bare_group_having", lambda r: {"k": r.randint(17, 19)}, """
from orders
group by o_custkey
where _.count >= {k}
select o_custkey
order by o_custkey
""", """
SELECT o_custkey FROM orders GROUP BY o_custkey HAVING count(*) >= {k}
"""),
    ("count_filter", lambda r: {"dt": _date(r)}, """
from lineitem
where l_shipdate >= '{dt}'
count
""", """
SELECT count(*) AS count FROM lineitem WHERE l_shipdate >= '{dt}'
"""),
    ("distinct", lambda r: {"q": r.randint(2, 10)}, """
from lineitem
where l_quantity < {q}
select distinct l_returnflag, l_linestatus
order by l_returnflag, l_linestatus
""", """
SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem WHERE l_quantity < {q}
"""),
    ("dedup", lambda r: {"p": r.randint(400000, 490000)}, """
from orders
where o_totalprice > {p}
select o_orderstatus, o_orderpriority
dedup
order by o_orderstatus, o_orderpriority
""", """
SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders WHERE o_totalprice > {p}
"""),
    ("limit_offset", lambda r: {"o": r.randint(0, 20000)}, """
from orders
select o_orderkey, o_totalprice
order by o_orderkey
limit 20
offset {o}
""", """
SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey LIMIT 20 OFFSET {o}
"""),
    ("top_k", lambda r: {"k": r.randint(10, 30), "s": r.choice("FOP")}, """
from orders
where o_orderstatus = '{s}'
select o_orderkey, o_totalprice
order by o_totalprice desc, o_orderkey
limit {k}
""", """
SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = '{s}'
ORDER BY o_totalprice DESC, o_orderkey LIMIT {k}
"""),
    ("join_inner", lambda r: {"dt": _date(r)}, """
from orders
join customer on orders.o_custkey = customer.c_custkey
where o_orderdate >= '{dt}'
group by c_mktsegment
agg n = _.count, revenue = o_totalprice.sum.round(2)
order by c_mktsegment
""", """
SELECT c_mktsegment, count(*) AS n, round(sum(o_totalprice), 2) AS revenue
FROM orders JOIN customer ON orders.o_custkey = customer.c_custkey
WHERE o_orderdate >= '{dt}' GROUP BY c_mktsegment
"""),
    ("join_5way", lambda r: {"s": r.choice("FOP")}, """
from lineitem
join orders on lineitem.l_orderkey = orders.o_orderkey
join customer on orders.o_custkey = customer.c_custkey
join nation on customer.c_nationkey = nation.n_nationkey
join region on nation.n_regionkey = region.r_regionkey
where o_orderstatus = '{s}'
group by r_name, n_name
agg revenue = (l_extendedprice * (1 - l_discount)).sum.round(2)
order by r_name, n_name
""", """
SELECT r_name, n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN orders ON lineitem.l_orderkey = orders.o_orderkey
JOIN customer ON orders.o_custkey = customer.c_custkey
JOIN nation ON customer.c_nationkey = nation.n_nationkey
JOIN region ON nation.n_regionkey = region.r_regionkey
WHERE o_orderstatus = '{s}' GROUP BY r_name, n_name
"""),
    ("join_3way", lambda r: {"b": r.randint(1, 25)}, """
from lineitem
join part on lineitem.l_partkey = part.p_partkey
join supplier on lineitem.l_suppkey = supplier.s_suppkey
where p_brand = 'Brand#{b}'
group by s_nationkey
agg n = _.count, qty = l_quantity.sum.round(2)
order by s_nationkey
""", """
SELECT s_nationkey, count(*) AS n, round(sum(l_quantity), 2) AS qty
FROM lineitem JOIN part ON lineitem.l_partkey = part.p_partkey
JOIN supplier ON lineitem.l_suppkey = supplier.s_suppkey
WHERE p_brand = 'Brand#{b}' GROUP BY s_nationkey
"""),
    ("join_left", lambda r: {"x": r.randint(5000, 9900)}, """
from nation
left join {{
  from customer
  where c_acctbal > {x}
}} as c on nation.n_nationkey = c.c_nationkey
group by n_name
agg n_customers = c_custkey.count
order by n_name
""", """
SELECT n_name, count(c_custkey) AS n_customers
FROM nation LEFT JOIN (SELECT * FROM customer WHERE c_acctbal > {x}) c
  ON nation.n_nationkey = c.c_nationkey
GROUP BY n_name
"""),
    ("join_implicit", lambda r: {"x": r.randint(0, 9000)}, """
from supplier, nation
where s_nationkey = n_nationkey and s_acctbal > {x}
group by n_name
agg n_suppliers = _.count, total_acctbal = s_acctbal.sum.round(2)
order by n_name
""", """
SELECT n_name, count(*) AS n_suppliers, round(sum(s_acctbal), 2) AS total_acctbal
FROM supplier, nation WHERE s_nationkey = n_nationkey AND s_acctbal > {x}
GROUP BY n_name
"""),
    ("join_semi", lambda r: {"p": r.randint(480000, 498000)}, """
from customer
where c_custkey in {{
  from orders
  where o_totalprice > {p}
  select o_custkey
}}
select c_custkey, c_name
order by c_custkey
""", """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > {p})
"""),
    ("join_anti", lambda r: {"dt": _date(r, 1999, 2001)}, """
from customer
where c_custkey not in {{
  from orders
  where o_orderdate >= '{dt}'
  select o_custkey
}}
select c_custkey, c_name
order by c_custkey
""", """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderdate >= '{dt}')
"""),
    ("join_exists", lambda r: {"p": r.randint(470000, 495000)}, """
from customer
where exists {{
  from orders
  where orders.o_custkey = customer.c_custkey and o_totalprice > {p}
}}
select c_custkey, c_mktsegment
order by c_custkey
""", """
SELECT c_custkey, c_mktsegment FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE orders.o_custkey = customer.c_custkey
              AND o_totalprice > {p})
"""),
    ("asof_join", lambda r: {"u": r.randint(100, 400)}, """
from {{
  from events
  where event_type = 'purchase' and user_id < {u}
  select event_id, user_id, ts
}} as p
asof left join {{
  from events
  where event_type = 'view'
  select user_id, view_ts = ts, view_value = value
}} as v
on v.user_id = p.user_id and v.view_ts <= p.ts
select
  event_id,
  user_id,
  view_ts_ms = unix_micros(view_ts) // 1000,
  view_value = view_value.round(4)
order by event_id
""", """
SELECT p.event_id AS event_id, p.user_id AS user_id,
       epoch_ms(v.view_ts)::BIGINT AS view_ts_ms, round(v.view_value, 4) AS view_value
FROM (SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'purchase' AND user_id < {u}) p
ASOF LEFT JOIN (SELECT user_id, ts AS view_ts, value AS view_value
                FROM events WHERE event_type = 'view') v
ON v.user_id = p.user_id AND v.view_ts <= p.ts
"""),
    ("count_distinct", lambda r: {"dt": _date(r)}, """
from orders
where o_orderdate < '{dt}'
group by o_orderstatus
agg n_customers = o_custkey.count_distinct, n = _.count
order by o_orderstatus
""", """
SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_customers, count(*) AS n
FROM orders WHERE o_orderdate < '{dt}' GROUP BY o_orderstatus
"""),
    ("minmax_by", lambda r: {"c": r.randint(100, 2500)}, """
from orders
where o_custkey < {c}
group by o_orderstatus
agg
  biggest_order = o_orderkey.max_by(o_totalprice),
  smallest_order = o_orderkey.min_by(o_totalprice),
  max_price = o_totalprice.max.round(2)
order by o_orderstatus
""", """
SELECT o_orderstatus, max_by(o_orderkey, o_totalprice) AS biggest_order,
  min_by(o_orderkey, o_totalprice) AS smallest_order, round(max(o_totalprice), 2) AS max_price
FROM orders WHERE o_custkey < {c} GROUP BY o_orderstatus
"""),
    ("stats_agg", lambda r: {"dt": _date(r)}, """
from orders
where o_orderdate >= '{dt}'
group by o_orderstatus
agg
  med = o_totalprice.median.round(4),
  sd = o_totalprice.stddev.round(4),
  avg_price = o_totalprice.avg.round(4)
order by o_orderstatus
""", """
SELECT o_orderstatus, round(median(o_totalprice), 4) AS med,
  round(stddev_samp(o_totalprice), 4) AS sd, round(avg(o_totalprice), 4) AS avg_price
FROM orders WHERE o_orderdate >= '{dt}' GROUP BY o_orderstatus
"""),
    ("agg_filter_clause", lambda r: {"q": r.randint(30, 45), "s": r.randint(5, 15)}, """
from lineitem
group by l_returnflag
agg
  n = _.count,
  n_big = count(l_orderkey) filter (where l_quantity > {q}),
  sum_small = sum(l_extendedprice) filter (where l_quantity <= {s})
select l_returnflag, n, n_big, sum_small = sum_small.round(2)
order by l_returnflag
""", """
SELECT l_returnflag, count(*) AS n,
  count(l_orderkey) FILTER (WHERE l_quantity > {q}) AS n_big,
  round(sum(l_extendedprice) FILTER (WHERE l_quantity <= {s}), 2) AS sum_small
FROM lineitem GROUP BY l_returnflag
"""),
    ("rollup", lambda r: {"q": r.randint(10, 40)}, """
from lineitem
where l_quantity > {q}
group by rollup l_returnflag, l_linestatus
agg n = _.count, sum_qty = l_quantity.sum.round(2)
order by l_returnflag nulls first, l_linestatus nulls first
""", """
SELECT l_returnflag, l_linestatus, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
FROM lineitem WHERE l_quantity > {q} GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""),
    ("cube", lambda r: {"p": r.randint(100000, 400000)}, """
from orders
where o_totalprice > {p}
group by cube o_orderstatus, o_orderpriority
agg n = _.count
order by o_orderstatus nulls first, o_orderpriority nulls first
""", """
SELECT o_orderstatus, o_orderpriority, count(*) AS n
FROM orders WHERE o_totalprice > {p} GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""),
    ("grouping_sets", lambda r: {"dt": _date(r)}, """
from orders
where o_orderdate < '{dt}'
group by grouping sets ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
agg n = _.count, total = o_totalprice.sum.round(2)
order by o_orderstatus nulls first, o_orderpriority nulls first
""", """
SELECT o_orderstatus, o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS total
FROM orders WHERE o_orderdate < '{dt}'
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
"""),
    ("pivot", lambda r: {"p": r.randint(100000, 450000)}, """
from {{
  from orders
  where o_totalprice > {p}
  select o_orderpriority, o_orderstatus
}} as t
pivot on o_orderstatus in ('O', 'F', 'P')
order by o_orderpriority
""", """
SELECT o_orderpriority, "O", "F", "P"
FROM (PIVOT (SELECT o_orderpriority, o_orderstatus FROM orders WHERE o_totalprice > {p})
      ON o_orderstatus IN ('O', 'F', 'P') USING count(*))
"""),
    ("unpivot", lambda r: {"m": r.randint(2, 9)}, """
from {{
  from nation
  select n_nationkey,
    key_plus = n_nationkey + 100,
    key_times = n_nationkey * {m}
}} as t
unpivot metric_value for metric in (key_plus, key_times)
order by n_nationkey, metric
""", """
SELECT n_nationkey, metric, metric_value
FROM (SELECT n_nationkey, n_nationkey + 100 AS key_plus, n_nationkey * {m} AS key_times FROM nation)
UNPIVOT (metric_value FOR metric IN (key_plus, key_times))
"""),
    ("window_rank", lambda r: {"p": r.randint(480000, 495000)}, """
from orders
where o_totalprice > {p}
select o_custkey, o_orderkey, o_totalprice,
  rnk = rank() over (partition by o_orderstatus order by o_totalprice desc, o_orderkey),
  rn = row_number() over (partition by o_orderstatus order by o_totalprice desc, o_orderkey)
order by o_orderkey
""", """
SELECT o_custkey, o_orderkey, o_totalprice,
  rank() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey) AS rnk,
  row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey) AS rn
FROM orders WHERE o_totalprice > {p}
"""),
    ("window_running", lambda r: {"u": r.randint(50, 200)}, """
from {{
  from events
  where event_type = 'purchase' and user_id < {u}
  select event_id, user_id, value
}} as t
select event_id, user_id,
  running_total = sum(value) over (partition by user_id order by event_id rows[,0]).round(4),
  cnt_last3 = count(event_id) over (partition by user_id order by event_id rows[-2,0])
order by user_id, event_id
""", """
SELECT event_id, user_id,
  round(sum(value) OVER (PARTITION BY user_id ORDER BY event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_total,
  count(event_id) OVER (PARTITION BY user_id ORDER BY event_id
    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS cnt_last3
FROM events WHERE event_type = 'purchase' AND user_id < {u}
"""),
    ("window_lag_lead", lambda r: {"c": r.randint(30, 120)}, """
from {{
  from orders
  where o_custkey < {c}
  select o_orderkey, o_custkey, o_totalprice
}} as t
select o_orderkey, o_custkey,
  prev_price = lag(o_totalprice) over (partition by o_custkey order by o_orderkey).round(2),
  next_price = lead(o_totalprice) over (partition by o_custkey order by o_orderkey).round(2)
order by o_custkey, o_orderkey
""", """
SELECT o_orderkey, o_custkey,
  round(lag(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey), 2) AS prev_price,
  round(lead(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey), 2) AS next_price
FROM orders WHERE o_custkey < {c}
"""),
    ("window_ntile", lambda r: {"k": r.randint(3, 8), "n": r.randint(0, 24)}, """
from customer
where c_nationkey = {n}
select c_custkey,
  bucket = ntile({k}) over (order by c_acctbal, c_custkey)
order by c_custkey
""", """
SELECT c_custkey, ntile({k}) OVER (ORDER BY c_acctbal, c_custkey) AS bucket
FROM customer WHERE c_nationkey = {n}
"""),
    ("union_distinct", lambda r: {"x": r.randint(0, 9000)}, """
from customer
where c_acctbal > {x}
select nationkey = c_nationkey
union {{
  from supplier
  where s_acctbal > {x}
  select nationkey = s_nationkey
}}
order by nationkey
""", """
SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > {x}
UNION SELECT s_nationkey FROM supplier WHERE s_acctbal > {x}
"""),
    ("concat_count", lambda r: {"a": r.choice("FOP"), "b": r.choice("FOP")}, """
from {{
  from orders
  where o_orderstatus = '{a}'
  select o_orderkey
}}
concat {{
  from orders
  where o_orderstatus = '{b}'
  select o_orderkey
}}
count
""", """
SELECT count(*) AS count FROM (
  SELECT o_orderkey FROM orders WHERE o_orderstatus = '{a}'
  UNION ALL SELECT o_orderkey FROM orders WHERE o_orderstatus = '{b}')
"""),
    ("except", lambda r: {"x": r.randint(9000, 9990)}, """
from nation
select n_nationkey
except {{
  from customer
  where c_acctbal > {x}
  select nationkey = c_nationkey
}}
order by n_nationkey
""", """
SELECT n_nationkey FROM nation
EXCEPT SELECT c_nationkey FROM customer WHERE c_acctbal > {x}
"""),
    ("intersect", lambda r: {"x": r.randint(9000, 9990)}, """
from customer
where c_acctbal > {x}
select nationkey = c_nationkey
intersect {{
  from supplier
  select nationkey = s_nationkey
}}
order by nationkey
""", """
SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > {x}
INTERSECT SELECT s_nationkey FROM supplier
"""),
    ("unnest", lambda r: {"k": r.randint(10, 60)}, """
from {{
  from documents
  where doc_id < {k}
  select doc_id, text
}} as d
cross join unnest(text.split(' ')) as w(word)
where word != ''
group by doc_id
agg n_words = _.count, n_distinct_words = word.count_distinct
order by doc_id
""", """
SELECT doc_id, count(*) AS n_words, count(DISTINCT word) AS n_distinct_words
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents WHERE doc_id < {k})
WHERE word != '' GROUP BY doc_id
"""),
    ("case_cast", lambda r: {"o": r.randint(0, 25000)}, """
from orders
where o_orderkey >= {o}
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
limit 200
""", """
SELECT o_orderkey,
  CASE o_orderstatus WHEN 'O' THEN 'open' WHEN 'F' THEN 'finished' ELSE 'partial' END AS status_word,
  CASE WHEN o_totalprice > 200000 THEN 1 ELSE 0 END AS is_big,
  CAST(floor(o_totalprice) AS BIGINT) AS price_int,
  CAST(extract(year FROM o_orderdate) AS BIGINT) AS order_year
FROM orders WHERE o_orderkey >= {o} ORDER BY o_orderkey LIMIT 200
"""),
]

# `save to` a scratch table, then read it back twice through the table
# resolver: name -> (params(rng) -> dict, save text, [(read-back text, DuckDB
# SQL of the read-back)]).
SAVE_TEMPLATES = {
    "lines": (lambda r: {"dt": _date(r, 1999, 2001), "q": r.randint(40, 48)}, """
from lineitem
where l_shipdate >= '{dt}'
select l_orderkey, l_returnflag, l_quantity, l_extendedprice
save to '{t}.parquet'
""", [("""
from {t}
group by l_returnflag
agg n = _.count, qty = l_quantity.sum.round(2), price = l_extendedprice.sum.round(2)
order by l_returnflag
""", """
SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 2) AS qty,
  round(sum(l_extendedprice), 2) AS price
FROM lineitem WHERE l_shipdate >= '{dt}' GROUP BY l_returnflag
"""), ("""
from {t}
where l_quantity > {q}
select l_orderkey, l_quantity
order by l_orderkey, l_quantity
limit 50
""", """
SELECT l_orderkey, l_quantity FROM lineitem
WHERE l_shipdate >= '{dt}' AND l_quantity > {q}
ORDER BY l_orderkey, l_quantity LIMIT 50
""")]),
    "orders": (lambda r: {"p": r.randint(300000, 450000)}, """
from orders
where o_totalprice > {p}
select o_orderkey, o_custkey, o_orderpriority
save to '{t}.parquet'
""", [("""
from {t}
join customer on {t}.o_custkey = customer.c_custkey
group by c_mktsegment, o_orderpriority
agg n = _.count
order by c_mktsegment, o_orderpriority
""", """
SELECT c_mktsegment, o_orderpriority, count(*) AS n
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_totalprice > {p} GROUP BY c_mktsegment, o_orderpriority
"""), ("""
from {t}
group by o_orderpriority
agg n = _.count, customers = o_custkey.count_distinct
order by o_orderpriority
""", """
SELECT o_orderpriority, count(*) AS n, count(DISTINCT o_custkey) AS customers
FROM orders WHERE o_totalprice > {p} GROUP BY o_orderpriority
""")]),
}

# The saves of a pass, in order: (template, scratch table). The second save
# to a table overwrites one the pass has already read back, so the
# fingerprinted read memo sees invalidations as well as hits.
SAVES = [("lines", "pb_scratch_0"), ("lines", "pb_scratch_0"),
         ("orders", "pb_scratch_1"), ("orders", "pb_scratch_1")]


# A pass runs every template once, in this order, in blocks of four whose
# inner order the seed shuffles. The blocks cost about the same (1.5-1.8 s
# at the benchmark's scale on 4 cores), so a run that gets through more
# blocks is not also handed cheaper ops, and the blocks a run times cost
# about the same per op for every seed. ("save", i) is the i-th save of
# SAVES, ("read", i, j) its j-th read-back; a save, its two read-backs and
# the next save sit in consecutive blocks, so the shuffle keeps their order,
# and the first four blocks (the warm-up and the traced ops) hold a save,
# both its read-backs and the overwrite.
WV_ORDER = [
    ("save", 0), "join_3way", "distinct", "join_exists",
    ("read", 0, 0), "pivot", "rollup", "unpivot",
    ("read", 0, 1), "asof_join", "scan_filter", "compile:pivot",
    ("save", 1), "pricing_summary", "cube", "count_filter",
    ("read", 1, 0), "window_rank", "union_distinct", "limit_offset",
    ("read", 1, 1), "unnest", "except", "case_cast",
    ("save", 2), "join_inner", "dedup", "top_k",
    ("read", 2, 0), "having", "join_implicit", "window_ntile",
    ("read", 2, 1), "count_distinct", "minmax_by", "concat_count",
    ("save", 3), "window_lag_lead", "agg_filter_clause", "join_anti",
    ("read", 3, 0), "window_running", "join_left", "join_semi",
    ("read", 3, 1), "stats_agg", "intersect", "compile:join_3way",
    "join_5way", "grouping_sets", "bare_group_having", "compile:stats_agg",
]
_WV = {t[0]: t for t in WV_TEMPLATES}
assert sorted(_WV) == sorted(n for n in WV_ORDER if n in _WV)


# Ops per block. A timed run ends only at the end of a block, so it always
# times whole blocks.
BLOCK = 4


def _blocks(rng, ops):
    out = []
    for i in range(0, len(ops), BLOCK):
        block = ops[i:i + BLOCK]
        rng.shuffle(block)
        out += block
    return out


def _op(name, text, oracle, kind="wv", after=""):
    """`after` is the text of an earlier op this one's result depends on."""
    text = text.strip() + "\n"
    digest = hashlib.sha1((after + text).encode()).hexdigest()[:12]
    return {"key": f"{name}#{digest}", "kind": kind, "text": text, "oracle": oracle.strip()}


def _compile(op):
    return dict(op, key="compile." + op["key"], kind="compile")


def _wv_template(rng, name):
    _, params, wv, sql = _WV[name]
    p = params(rng)
    return _op(f"wv.{name}", wv.format(**p), sql.format(**p))


def _saves(rng):
    """Each save of SAVES with its read-backs, with fresh constants."""
    out = []
    for name, table in SAVES:
        params, save, backs = SAVE_TEMPLATES[name]
        args = dict(params(rng), t=table)
        write = _op(f"save.{name}", save.format(**args), "", kind="save")
        out.append((write, [_op(f"readback{j}.{name}", back.format(**args), sql.format(**args),
                                after=write["text"])
                            for j, (back, sql) in enumerate(backs)]))
    return out


def wv_interactive_pass(rng):
    """Every template once with fresh constants, four saves to scratch
    tables, each read back twice, and the compile-only of three templates
    (the tool user's path)."""
    saves = _saves(rng)
    ops = []
    for slot in WV_ORDER:
        if isinstance(slot, tuple):
            write, reads = saves[slot[1]]
            ops.append(write if slot[0] == "save" else reads[slot[2]])
        elif slot.startswith("compile:"):
            ops.append(_compile(_wv_template(rng, slot.split(":")[1])))
        else:
            ops.append(_wv_template(rng, slot))
    ops = _blocks(rng, ops)
    # every read-back follows its save and precedes the next save to its table
    at = {id(op): n for n, op in enumerate(ops)}
    for i, (write, reads) in enumerate(saves):
        nxt = [at[id(w)] for k, (w, _) in enumerate(saves) if k > i and SAVES[k][1] == SAVES[i][1]]
        assert all(at[id(write)] < at[id(r)] < min(nxt, default=len(ops)) for r in reads)
    return ops


# ---------------------------------------------------------------------------
# llm_sql_batch: wv table functions over the seeded corpus

_SHINGLE_PAIRS = """
sh AS (
  SELECT doc_id AS id,
    list_distinct(list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
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
  HAVING round(count(*)::DOUBLE / (any_value(a.n) + any_value(b.n) - count(*)), 6) >= 0.12)"""

_COMPONENTS = """
edges AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION SELECT id_b, id_a FROM pairs),
reach(id, lbl) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
labels AS (SELECT id, min(lbl) AS cluster FROM reach GROUP BY id)"""

_SPLIT = """
assign AS (
  SELECT d.doc_id,
    CASE WHEN substr(md5('graft' || CAST(coalesce(l.cluster, d.doc_id) AS VARCHAR)), 1, 4) < 'cccd'
         THEN 'train' ELSE 'test' END AS split
  FROM documents d LEFT JOIN labels l ON l.id = d.doc_id)"""


def _cos(a, b):
    dot = lambda x, y: f"list_sum(list_transform(range(1, len({x}) + 1), i -> {x}[i]::DOUBLE * {y}[i]::DOUBLE))"
    return f"round({dot(a, b)} / (sqrt({dot(a, a)}) * sqrt({dot(b, b)})), 6)"


def _dsir_oracle(k):
    hx = "'0123456789abcdef'"
    b = (f"(strpos({hx}, substr(md5(t), 1, 1)) - 1) * 256 + (strpos({hx}, substr(md5(t), 2, 1)) - 1) * 16"
         f" + (strpos({hx}, substr(md5(t), 3, 1)) - 1)")
    return f"""
WITH rtok AS (
  SELECT doc_id, {b} AS b FROM (
    SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)) AS t
    FROM documents)),
ttok AS (SELECT b FROM rtok WHERE doc_id < {k}),
tcnt AS (SELECT b, count(*)::BIGINT AS c FROM ttok GROUP BY b),
rcnt AS (SELECT b, count(*)::BIGINT AS c FROM rtok GROUP BY b),
tn AS (SELECT coalesce(sum(c), 0)::DOUBLE AS n FROM tcnt),
rn AS (SELECT coalesce(sum(c), 0)::DOUBLE AS n FROM rcnt),
tmod AS (SELECT b, ln((c::DOUBLE + 1.0) / ((SELECT n FROM tn) + 4096.0)) AS lnt FROM tcnt),
rmod AS (SELECT b, ln((c::DOUBLE + 1.0) / ((SELECT n FROM rn) + 4096.0)) AS lnr FROM rcnt),
scored AS (
  SELECT k.doc_id,
    coalesce(t.lnt, ln(1.0 / ((SELECT n FROM tn) + 4096.0)))
    - coalesce(r.lnr, ln(1.0 / ((SELECT n FROM rn) + 4096.0))) AS lr
  FROM rtok k LEFT JOIN tmod t USING (b) LEFT JOIN rmod r USING (b)),
per AS (SELECT doc_id, count(*)::BIGINT AS n_tokens, sum(lr) AS s FROM scored GROUP BY doc_id)
SELECT d.doc_id, coalesce(p.n_tokens, 0)::BIGINT AS n_tokens,
  round(CASE WHEN p.n_tokens > 0 THEN p.s + 5e-9 END, 4) AS dsir_weight
FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id"""


def _bm25_oracle(q, k):
    return f"""
WITH tok AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS w
  FROM documents WHERE text IS NOT NULL),
post AS (SELECT doc_id, t, count(*)::DOUBLE AS tf
         FROM (SELECT doc_id, unnest(w) AS t FROM tok) GROUP BY doc_id, t),
dl AS (SELECT doc_id, len(w)::BIGINT AS dl FROM tok),
st AS (SELECT count(*)::DOUBLE AS n, avg(dl::DOUBLE) AS avgdl FROM dl),
idf AS (SELECT t, ln(1 + ((SELECT n FROM st) - count(*) + 0.5) / (count(*) + 0.5)) AS idf
        FROM post GROUP BY t),
q AS (SELECT DISTINCT doc_id AS query_id, t
      FROM (SELECT doc_id, unnest(w) AS t FROM tok WHERE doc_id IN ({q}))),
terms AS (
  SELECT q.query_id, p.doc_id AS corpus_id,
    i.idf * (p.tf * (1.2 + 1)) /
      (p.tf + 1.2 * (1 - 0.75 + 0.75 * d.dl / (SELECT avgdl FROM st))) AS term
  FROM q JOIN post p USING (t) JOIN idf i USING (t) JOIN dl d ON d.doc_id = p.doc_id),
scored AS (SELECT query_id, corpus_id, round(sum(term) + 5e-9, 4) AS bm25
           FROM terms GROUP BY query_id, corpus_id),
ranked AS (SELECT query_id, corpus_id, bm25,
  row_number() OVER (PARTITION BY query_id ORDER BY bm25 DESC, corpus_id) AS rank FROM scored)
SELECT query_id, corpus_id, bm25, rank FROM ranked WHERE rank <= {k}"""


def _sem_dedup_oracle(nlist, thr):
    return f"""
WITH RECURSIVE seeds AS (
  SELECT embedding AS cvec, row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS bucket
  FROM embeddings
  QUALIFY row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) <= {nlist}),
sem_cos_ec AS (
  SELECT e.vec_id, e.embedding, s.bucket,
    COALESCE(NULLIF({_cos('e.embedding', 's.cvec')}, 'NaN'::DOUBLE), -1.0) AS cs
  FROM embeddings e CROSS JOIN seeds s),
sem_assign AS (
  SELECT vec_id, embedding, bucket FROM sem_cos_ec
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, bucket) = 1),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM sem_assign a JOIN sem_assign b USING (bucket)
  WHERE a.vec_id < b.vec_id AND {_cos('a.embedding', 'b.embedding')} >= {thr}),
{_COMPONENTS.strip()},
losers AS (SELECT id FROM labels WHERE id != cluster)
SELECT vec_id FROM embeddings WHERE vec_id NOT IN (SELECT id FROM losers)"""


def llm_ops(rng, docs):
    """The six table-function ops, with seeded arguments."""
    k = rng.randint(40, 120)
    evalq = sorted(rng.sample(range(docs), 3))
    pairs = sorted({tuple(sorted(rng.sample(range(docs), 2))) for _ in range(rng.randint(5, 12))})
    ev = ", ".join(map(str, evalq))
    ops = [
        _op("llm.split_by_cluster", """
from split_by_cluster('documents', 'doc_id', 'text', 0.8)
select doc_id, split
order by doc_id
""", f"WITH RECURSIVE {_SHINGLE_PAIRS.strip()},{_COMPONENTS}, {_SPLIT.strip()}\nSELECT doc_id, split FROM assign"),
        _op("llm.split_by_cluster_pairs_stats", """
model dup_pairs = {{
  from [
{rows}
  ] as p(id_a, id_b)
}}
from split_by_cluster_pairs_stats('documents', 'doc_id', 'dup_pairs', 0.8)
""".format(rows="\n".join(f"    [{a}, {b}]," for a, b in pairs)), f"""
WITH RECURSIVE pairs(id_a, id_b) AS (VALUES {", ".join(f"({a}, {b})" for a, b in pairs)}),{_COMPONENTS},{_SPLIT}
SELECT
  (SELECT count(*) FROM documents)::BIGINT AS n_docs,
  (SELECT count(DISTINCT cluster) FROM labels)::BIGINT AS n_clusters,
  (SELECT count(*) FROM labels)::BIGINT AS clustered_docs,
  (SELECT coalesce(max(sz), 0) FROM (SELECT count(*) AS sz FROM labels GROUP BY cluster))::BIGINT
    AS max_cluster_size,
  (SELECT count(*) FROM assign WHERE split = 'train')::BIGINT AS train_docs,
  round((SELECT count(*) FROM assign WHERE split = 'train')::DOUBLE / (SELECT count(*) FROM documents), 6)
    AS train_frac,
  CAST(0.8 AS DOUBLE) AS target_frac,
  round(round((SELECT count(*) FROM assign WHERE split = 'train')::DOUBLE /
              (SELECT count(*) FROM documents), 6) - CAST(0.8 AS DOUBLE), 6) AS frac_delta"""),
        _op("llm.dedup_semantic", """
from dedup_semantic('embeddings', 'vec_id', 'embedding', 32, 0.9)
select vec_id
order by vec_id
""", _sem_dedup_oracle(32, 0.9)),
        _op("llm.dsir_weight", f"""
model dsir_target = {{ from documents where doc_id < {k} }}
from dsir_weight('documents', 'doc_id', 'text', 'dsir_target')
order by doc_id
""", _dsir_oracle(k)),
        _op("llm.bm25_topk", f"""
model evalset = {{
  from documents
  where doc_id in ({ev})
}}
from bm25_topk('documents', 'doc_id', 'text', 'evalset', 5)
order by query_id, rank
""", _bm25_oracle(ev, 5)),
        _op("llm.decontaminate", f"""
model evalset = {{
  from documents
  where doc_id in ({ev})
}}
from decontaminate('documents', 'evalset', 'doc_id', 'text', 4)
select doc_id
order by doc_id
""", f"""
WITH tok AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
  FROM documents),
ngr AS (
  SELECT DISTINCT doc_id, array_to_string(w[i:i+3], ' ') AS g
  FROM tok, LATERAL (SELECT unnest(range(1, len(w) - 2)) AS i) r),
evalg AS (SELECT DISTINCT g FROM ngr WHERE doc_id IN ({ev}))
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT n.doc_id FROM ngr n JOIN evalg USING (g))"""),
    ]
    return ops


# ---------------------------------------------------------------------------
# DS-star prelude + query text, one plain script per op

# Queries of similar cost (2.2-2.8 s on a first run at the benchmark's
# scale, 4 cores): three of the twelve the program's catalog stages by hand
# (q97, q57, q58), run here as plain text, and six others. A pass draws one.
TPCDS_GROUP = ["q97", "q57", "q58", "q30", "q28", "q36", "q29", "q1", "q31"]


def tpcds_text(q):
    with open(os.path.join(HERE, "tpcds", "prelude.sql")) as f:
        prelude = f.read()
    with open(os.path.join(HERE, "tpcds", q + ".sql")) as f:
        return prelude + f.read()


def _tpcds(q):
    text = tpcds_text(q)
    return _op(f"tpcds.{q}", text, text, kind="sql")


def llm_sql_batch_pass(rng, docs):
    """The six table-function ops, the compile-only of split_by_cluster
    (which starts Spark jobs today) and one TPC-DS script, in two blocks of
    four of about equal cost (6.5 and 7.4 s on 4 cores)."""
    split, pairs_stats, dedup, dsir, bm25, decon = llm_ops(rng, docs)
    return _blocks(rng, [split, pairs_stats, bm25, decon,
                         _tpcds(rng.choice(TPCDS_GROUP)), dedup, _compile(split), dsir])


# Per workload: warm-up ops (the first ops of pass -1, run untimed in
# set-up), the ops of a traced run (the first ops of pass 0; for
# llm_sql_batch a whole pass, so the TPC-DS and compile ops are traced too),
# and the timed passes generated: about five times what a 15 s run gets
# through today, so a much faster program still gets a new query text for
# every timed op. The driver stops with an error if it runs out.
WORKLOADS = {
    "wv_interactive": {"warmup": 16, "trace_ops": 16, "passes": 6},
    "llm_sql_batch": {"warmup": 8, "trace_ops": 8, "passes": 8},
}


def ops_for(workload, seed, docs):
    """The warm-up ops (pass -1) and the timed passes, each pass its own
    draw of constants."""
    conf = WORKLOADS[workload]
    rng = random.Random(f"{workload}:{seed}")
    ops = []
    for p in range(-1, conf["passes"]):
        draw = wv_interactive_pass(rng) if workload == "wv_interactive" else llm_sql_batch_pass(rng, docs)
        if p < 0:
            draw = draw[:conf["warmup"]]
        for op in draw:
            op["pass"] = p
        ops += draw
    for i, op in enumerate(ops):
        op["i"] = i
    return ops
