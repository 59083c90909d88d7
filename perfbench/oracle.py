"""Expected results from DuckDB, and the order-insensitive comparison.

Both sides are brought to one canonical form before comparing: columns in
sorted (lower-case) name order, numbers as integers when integral and
otherwise to 9 significant digits (the SQL of every op already rounds its
doubles, as the program's catalog does; the 9 digits only absorb
summation-order noise), dates and timestamps as ISO text, lists as lists.
Rows are compared as sorted multisets.
"""
import datetime
import decimal
import json
import math

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def _num(v):
    if isinstance(v, bool):
        return v
    if isinstance(v, int):
        return v
    v = float(v)
    if math.isnan(v) or math.isinf(v):
        return repr(v)
    if v.is_integer() and abs(v) < 1e15:
        return int(v)
    return float(format(v, ".9g"))


def _java_time(t):
    # java.time.LocalTime#toString: HH:mm, then :ss, then a 3/6-digit fraction
    s = f"{t.hour:02d}:{t.minute:02d}"
    if t.second or t.microsecond:
        s += f":{t.second:02d}"
    if t.microsecond:
        s += f".{t.microsecond // 1000:03d}" if t.microsecond % 1000 == 0 else f".{t.microsecond:06d}"
    return s


def canon(v):
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        return _num(v)
    if isinstance(v, datetime.datetime):
        return v.date().isoformat() + "T" + _java_time(v.time())
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    if isinstance(v, dict):
        return {str(k): canon(x) for k, x in sorted(v.items())}
    return str(v)


def canon_rows(cols, rows):
    names = [c.lower() for c in cols]
    order = sorted(range(len(names)), key=lambda i: names[i])
    out = sorted(json.dumps([canon(r[i]) for i in order], sort_keys=True) for r in rows)
    return [names[i] for i in order], out


def connect(data_dir, corpus_dir=None):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        d = corpus_dir if corpus_dir and t in ("documents", "embeddings") else data_dir
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')")
    return con


def expected(con, op):
    """The expected (columns, canonical rows) of one op; rows are None for
    compile ops, whose check is the result schema."""
    if op["kind"] == "compile":
        cur = con.execute(f"SELECT * FROM ({op['oracle']}) AS q LIMIT 0")
        return sorted(d[0].lower() for d in cur.description), None
    cur = con.execute(op["oracle"])
    rows = cur.fetchall()
    return canon_rows([d[0] for d in cur.description], rows)


def matches(exp, cols, rows):
    ecols, erows = exp
    if erows is None:  # compile: schema only
        return sorted(c.lower() for c in cols) == ecols
    gcols, grows = canon_rows(cols, rows)
    return gcols == ecols and grows == erows
