"""Seeded input generators for the benchmark.

`base_tables` writes the TPC-H-shaped tables every workload reads (region,
nation, customer, supplier, part, orders, lineitem, events, documents,
embeddings), with the same schemas and value domains as the program's test
data. `corpus` writes the long-tailed `documents` / `embeddings` corpus the
`llm_sql_batch` workload runs its operators over; `corpus_check` confirms a
written corpus has the vocabulary and near-duplicate share it was asked for.
Same parameters and seed, same bytes.
"""
import json
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts at scale factor 0.1; the tables scale linearly with `sf`.
BASE_ROWS = {"customer": 15000, "supplier": 1000, "part": 20000,
             "orders": 150000, "events": 100000, "documents": 5000,
             "embeddings": 2000}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "large", "hot", "cold", "red", "small", "new"]
PART_NOUN = ["widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
SMALL_WORDS = ("batch part spark line column order small sort fast value scan a hash "
               "slow group agg filter query big key window row table stream merge data "
               "vector join customer the").split()

# The llm_sql_batch corpus, as recorded in perfbench/README.md.
CORPUS = {
    "docs": 250,
    "vocab": 20000,
    "zipf_s": 1.1,
    "words_lognormal_mu": 3.6,
    "words_lognormal_sigma": 0.5,
    "words_min": 8,
    "words_max": 200,
    "near_dup_share": 0.2,
    "near_dup_edit_frac": 0.05,
    "vectors": 250,
    "vector_dim": 64,
    "vector_labels": 10,
    "vector_near_dup_share": 0.1,
}


def _ts(micros):
    return pa.array(micros, type=pa.timestamp("us"))


def _write(dir_, name, table):
    os.makedirs(dir_, exist_ok=True)
    pq.write_table(table, os.path.join(dir_, name + ".parquet"))


def _days(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "D").astype(np.int64))


def base_tables(dir_, sf, seed=20240101):
    rng = np.random.default_rng(seed)
    n = {k: max(1, int(round(v * sf / 0.1))) for k, v in BASE_ROWS.items()}
    _write(dir_, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}))
    _write(dir_, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))
    nc = n["customer"]
    _write(dir_, "customer", pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)]}))
    ns = n["supplier"]
    _write(dir_, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2)}))
    npart = n["part"]
    _write(dir_, "part", pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": [PART_TYPES[t] for t in rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2)}))
    no = n["orders"]
    d0, d1 = _days(1995, 1, 1), _days(2001, 8, 1)
    odays = rng.integers(d0, d1 + 1, no)
    _write(dir_, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[s] for s in rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": _ts(odays * 86400 * 1000000),
        "o_orderpriority": [PRIORITIES[p] for p in rng.integers(0, 5, no)]}))
    # lines per order ~ 1 + Poisson(3), line numbers 1..k within the order
    k = 1 + rng.poisson(3.0, no)
    lo = np.repeat(np.arange(no), k)
    ln = np.concatenate([np.arange(1, j + 1) for j in k]) if no else np.array([])
    nl = len(lo)
    qty = rng.integers(1, 51, nl).astype(float)
    unit = rng.uniform(18.0, 2100.0, nl)
    ship = odays[lo] + rng.integers(1, 122, nl)
    _write(dir_, "lineitem", pa.table({
        "l_orderkey": pa.array(lo, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(np.minimum(ln, 7), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * unit, 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[f] for f in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[s] for s in rng.integers(0, 2, nl)],
        "l_shipdate": _ts(ship * 86400 * 1000000)}))
    ne = n["events"]
    t0 = _days(2024, 1, 1) * 86400 * 1000000
    ts = np.sort(t0 + rng.integers(0, 30 * 86400 * 1000000, ne))
    _write(dir_, "events", pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, 1500, ne), pa.int64()),
        "event_type": [EVENT_TYPES[e] for e in rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": ['{"k": %d}' % v for v in rng.integers(0, 100, ne)]}))
    nd = n["documents"]
    texts = [" ".join(SMALL_WORDS[w] for w in rng.integers(0, len(SMALL_WORDS), rng.integers(8, 100)))
             for _ in range(nd)]
    _write(dir_, "documents", _documents(rng, texts))
    _write(dir_, "embeddings", _embeddings(rng, n["embeddings"], 64, 10, 0.0))


def _documents(rng, texts):
    nd = len(texts)
    return pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, nd, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def _embeddings(rng, nv, dim, labels, dup_share):
    centers = rng.normal(0.0, 1.0, (labels, dim))
    label = rng.integers(0, labels, nv)
    vec = centers[label] * 0.3 + rng.normal(0.0, 1.0, (nv, dim))
    ndup = int(round(nv * dup_share))
    if ndup:
        # near-duplicates: a later vector is an earlier one plus 2% noise
        dst = rng.choice(np.arange(nv // 2, nv), ndup, replace=False)
        src = rng.integers(0, nv // 2, ndup)
        vec[dst] = vec[src] + rng.normal(0.0, 0.02, (ndup, dim))
        label[dst] = label[src]
    vec = vec / np.linalg.norm(vec, axis=1, keepdims=True)
    flat = pa.array(vec.astype(np.float32).reshape(-1), pa.float32())
    return pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.ListArray.from_arrays(pa.array(np.arange(0, nv * dim + 1, dim), pa.int32()), flat),
        "label": pa.array(label, pa.int32())})


def _word(r):
    """The vocabulary word of rank r: a letters-only token, never a
    tokenizer boundary."""
    s = ""
    r += 26
    while r:
        r, d = divmod(r, 26)
        s = chr(97 + d) + s
    return s


def corpus(dir_, seed, p=CORPUS):
    rng = np.random.default_rng([seed, 7])
    vocab = [_word(r) for r in range(p["vocab"])]
    ranks = np.arange(1, p["vocab"] + 1, dtype=float)
    zipf = ranks ** -p["zipf_s"]
    zipf /= zipf.sum()
    nd = p["docs"]
    lengths = np.clip(np.round(rng.lognormal(p["words_lognormal_mu"], p["words_lognormal_sigma"], nd)),
                      p["words_min"], p["words_max"]).astype(int)
    words = [list(rng.choice(p["vocab"], k, p=zipf)) for k in lengths]
    ndup = int(round(nd * p["near_dup_share"]))
    dups = sorted(rng.choice(np.arange(1, nd), ndup, replace=False).tolist())
    lineage = {}
    for d in dups:
        src = int(rng.integers(0, d))
        while src in lineage:  # copy an original, never another copy
            src = lineage[src]
        w = list(words[src])
        for j in rng.choice(len(w), max(1, int(len(w) * p["near_dup_edit_frac"])), replace=False):
            w[j] = int(rng.choice(p["vocab"], p=zipf))
        words[d] = w
        lineage[d] = src
    texts = [" ".join(vocab[i] for i in w) for w in words]
    _write(dir_, "documents", _documents(rng, texts))
    _write(dir_, "embeddings", _embeddings(rng, p["vectors"], p["vector_dim"], p["vector_labels"],
                                           p["vector_near_dup_share"]))
    with open(os.path.join(dir_, "lineage.json"), "w") as f:
        json.dump({"params": p, "near_dups": {str(k): v for k, v in lineage.items()}}, f)


def _bigrams(text):
    t = [x for x in re.split("[^a-z0-9]+", text.lower()) if x]
    return {(a, b) for a, b in zip(t, t[1:])}


def corpus_check(dir_, threshold=0.12):
    """Realized vocabulary and near-duplicate share of a written corpus,
    with whether they match its stated parameters."""
    with open(os.path.join(dir_, "lineage.json")) as f:
        meta = json.load(f)
    p = meta["params"]
    texts = pq.read_table(os.path.join(dir_, "documents.parquet")).column("text").to_pylist()
    vocab = {_word(r) for r in range(p["vocab"])}
    used = {w for t in texts for w in t.split()}
    dup_ok = 0
    for d, s in meta["near_dups"].items():
        a, b = _bigrams(texts[int(d)]), _bigrams(texts[s])
        if a and b and len(a & b) / len(a | b) >= threshold:
            dup_ok += 1
    share = dup_ok / len(texts)
    return {
        "docs": len(texts),
        "distinct_words": len(used),
        "words_outside_vocab": len(used - vocab),
        "near_dup_share": round(share, 4),
        "ok": not (used - vocab) and abs(share - p["near_dup_share"]) <= 0.01,
    }
