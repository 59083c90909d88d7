#!/usr/bin/env python3
"""Self-tests of the benchmark itself.

    python3 perfbench/selftest.py [corpus] [q14] [output]

corpus  generates the llm_sql_batch corpus for seed 1 and checks it has the
        stated vocabulary and near-duplicate share.
q14     counts shuffle and broadcast exchanges on the physical plan tree of
        TPC-DS q14 run as one plain script, and prints them beside the
        counts an earlier probe took on the program's own test data.
output  runs both workloads for a short while, traced and untraced, and
        parses their standard output with a strict one-JSON-object-per-line
        parser; every metric BENCHMARK.json names must be there with its
        unit.
Prints one JSON object per line; exits non-zero if a check fails.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402

# Exchanges on q14's initial AQE plan, counted on the plan tree, from the
# probe recorded in ROADMAP.md (sf0.1 test data, 4 cores, query text over
# pre-registered star views).
ROADMAP_Q14 = {"shuffle_exchanges": 49, "broadcast_exchanges": 57}


def _reject(token):
    raise ValueError(f"non-standard JSON constant {token}")


def strict_lines(text):
    """Each line one JSON object; no prefixes, no NaN/Infinity."""
    objs = []
    for n, line in enumerate(text.splitlines(), 1):
        obj = json.loads(line, parse_constant=_reject)
        if not isinstance(obj, dict):
            raise ValueError(f"line {n} is not a JSON object: {line[:80]}")
        objs.append(obj)
    if not objs:
        raise ValueError("no output")
    return objs


def check_result(objs, wanted):
    last = objs[-1]
    problems = []
    if sorted(last) != ["attempted", "correct", "failed", "metrics"]:
        problems.append(f"result keys {sorted(last)}")
    if not (isinstance(last.get("attempted"), int) and last["attempted"] >= 1):
        problems.append("attempted is not a whole number >= 1")
    if not isinstance(last.get("failed"), int):
        problems.append("failed is not a whole number")
    metrics = last.get("metrics", {})
    for m in wanted:
        got = metrics.get(m["name"])
        if got is None:
            problems.append(f"metric {m['name']} missing")
        elif got.get("unit") != m["unit"] or not isinstance(got.get("value"), (int, float)):
            problems.append(f"metric {m['name']}: {got}")
    extra = set(metrics) - {m["name"] for m in wanted}
    if extra:
        problems.append(f"metrics not in BENCHMARK.json: {sorted(extra)}")
    return problems


def test_output():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ok = True
    for w in bench["workloads"]:
        for trace, wanted in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            p = subprocess.run(bench["command"] + ["--workload", w["name"], "--seed", "1",
                                                   "--seconds", "2", "--trace", str(trace)],
                               cwd=ROOT, capture_output=True, text=True, timeout=600)
            try:
                problems = [] if p.returncode == 0 else [f"exit {p.returncode}"]
                problems += check_result(strict_lines(p.stdout), wanted)
            except ValueError as e:
                problems = [str(e)]
            ok &= not problems
            print(json.dumps({"test": "output", "workload": w["name"], "trace": trace,
                              "ok": not problems, "problems": problems}))
    return ok


def test_corpus():
    import gen
    d = tempfile.mkdtemp(prefix="corpus-", dir=os.path.join(run.WORK))
    gen.corpus(d, 1)
    res = gen.corpus_check(d)
    shutil.rmtree(d)
    print(json.dumps({"test": "corpus", "params": gen.CORPUS, **res}))
    return res["ok"]


def test_q14():
    import workloads
    classpath = run.build()
    base, corpus, _ = run.ensure_data(1)
    out = tempfile.mkdtemp(prefix="q14-", dir=run.WORK)
    text = os.path.join(out, "q14.sql")
    with open(text, "w") as f:
        f.write(workloads.tpcds_text("q14"))
    run.run_driver(classpath, text, out, base, None, 0, 0, extra=("--plan-only", "1"))
    with open(os.path.join(out, "driver.log")) as f:
        counts = [o for o in map(json.loads, (l for l in f if l.startswith("{")))
                  if o.get("event") == "plan_counts"][-1]
    shutil.rmtree(out)
    ok = counts["shuffle_exchanges"] > 0 and counts["broadcast_exchanges"] > 0
    print(json.dumps({"test": "q14", "ok": ok, "counts": counts,
                      "roadmap_probe_sf0.1": ROADMAP_Q14,
                      "note": "the probe planned the query text over pre-registered star views; "
                              "here the DS-star prelude is part of the one plain script, so its "
                              "CTEs are planned per reference"}))
    return ok


def main(argv):
    tests = {"corpus": test_corpus, "q14": test_q14, "output": test_output}
    chosen = argv or list(tests)
    os.makedirs(run.WORK, exist_ok=True)
    results = [tests[t]() for t in chosen]
    return 0 if all(results) else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
