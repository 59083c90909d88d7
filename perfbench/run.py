#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload wv_interactive --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program and the
JVM driver with sbt and generates the inputs; later runs reuse both. All
files the benchmark writes go under perfbench/.work. Standard output holds
only JSON objects, one per line; the last one is the result:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end metrics of BENCHMARK.json, with --trace 1 the per-layer ones.
See perfbench/README.md.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
JVM = os.path.join(HERE, "jvm")
DATA_SF = 0.02
DATA_VERSION = "v4"
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def emit(obj):
    print(json.dumps(obj, sort_keys=False), flush=True)


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def missing_inputs():
    """Every input the benchmark needs that is not there."""
    missing = []
    for rel in ("build.sbt", "src/main/scala/graft/lang/Parser.scala", "perfbench/jvm/build.sbt",
                "perfbench/tpcds/prelude.sql", "perfbench/tpcds/q14.sql"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            missing.append(f"file {rel}")
    for tool in ("java", "sbt"):
        if shutil.which(tool) is None:
            missing.append(f"program {tool} on PATH")
    # the jar directory the program's build reads Spark from
    build_sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(build_sbt):
        with open(build_sbt) as f:
            jars = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if jars and not os.path.isdir(jars.group(1)):
            missing.append(f"Spark jars directory {jars.group(1)} (build.sbt unmanagedBase)")
    for mod in ("duckdb", "numpy", "pyarrow"):
        if importlib.util.find_spec(mod) is None:
            missing.append(f"python module {mod}")
    return missing


def source_hash():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(JVM, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(JVM, "build.sbt")]
    for top in tops:
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the driver; returns the runtime classpath."""
    stamp = os.path.join(WORK, "build", "classpath.json")
    digest = source_hash()
    if os.path.isfile(stamp):
        with open(stamp) as f:
            got = json.load(f)
        if got["sources"] == digest:
            return got["classpath"]
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    blog = os.path.join(WORK, "build", "sbt.log")
    log(f"building with sbt (log: {blog})")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    with open(blog, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                             "export Runtime/fullClasspath"],
                            cwd=JVM, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                            env=env, timeout=850).returncode
    with open(blog) as f:
        lines = [l.strip() for l in f if "scala-2.13/classes" in l and not l.startswith("[")]
    if rc != 0 or not lines:
        raise SystemExit(f"build failed (exit {rc}); see {blog}")
    with open(stamp, "w") as f:
        json.dump({"sources": digest, "classpath": lines[-1]}, f)
    return lines[-1]


def ensure_data(seed):
    sys.path.insert(0, HERE)
    import gen
    base = os.path.join(WORK, "data", f"base-{DATA_VERSION}-sf{DATA_SF}")
    if not os.path.isfile(os.path.join(base, "done")):
        gen.base_tables(base, DATA_SF)
        open(os.path.join(base, "done"), "w").close()
    corpus = os.path.join(WORK, "data", f"corpus-{DATA_VERSION}-{seed}")
    if not os.path.isfile(os.path.join(corpus, "done")):
        gen.corpus(corpus, seed)
        open(os.path.join(corpus, "done"), "w").close()
    return base, corpus, gen.CORPUS["docs"]


def expected_results(workload, seed, ops, base, corpus):
    """Expected result per op key of `ops`, computed once per seed and key."""
    import oracle
    path = os.path.join(WORK, "oracle", f"{DATA_VERSION}-{workload}-{seed}.json")
    out = {}
    if os.path.isfile(path):
        with open(path) as f:
            out = {k: tuple(v) for k, v in json.load(f).items()}
    todo = [op for op in ops if op["kind"] != "save" and op["key"] not in out]
    if todo:
        con = oracle.connect(base, corpus)
        for op in todo:
            out[op["key"]] = oracle.expected(con, op)
        con.close()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump(out, f)
        os.replace(path + ".tmp", path)
    return out


def run_driver(classpath, opsfile, out, data, corpus, seconds, trace, extra=()):
    launched = int(time.time() * 1000)
    cmd = ["java"] + [a for p in JAVA_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-Duser.timezone=UTC",
        f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}", f"-Dderby.system.home={WORK}",
        "-cp", classpath, "perfbench.Driver",
        "--ops", opsfile, "--out", out, "--work", WORK, "--data", data,
        "--seconds", str(seconds), "--trace", str(trace), "--launched-ms", str(launched),
        "--block", str(workloads.BLOCK)]
    if corpus:
        cmd += ["--corpus", corpus]
    cmd += list(extra)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    with open(os.path.join(out, "driver.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=logf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=160)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"driver timed out; see {out}/driver.log")
    if rc != 0:
        raise SystemExit(f"driver failed (exit {rc}); see {out}/driver.log")


def read_jsonl(path):
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def verify(ops_run, rows, expected):
    """Marks each op run correct (`ok`) or not: it did not throw, and its
    result hashes to a distinct result that matches the expected rows."""
    import oracle
    good = {(r["key"], r["hash"]) for r in rows
            if r["key"] in expected and oracle.matches(expected[r["key"]], r["cols"], r["rows"])}
    for o in ops_run:
        o["ok"] = "error" not in o and (o["kind"] == "save" or (o["key"], o.get("hash")) in good)


def hd_quantile(values, q):
    """Harrell-Davis estimate of quantile q: a Beta-weighted mean of all
    order statistics, far steadier than the single middle sample when a run
    holds only tens of heterogeneous ops."""
    import numpy as np
    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    cells = 20000
    mid = (np.arange(cells) + 0.5) / cells
    logpdf = (a - 1) * np.log(mid) + (b - 1) * np.log1p(-mid)
    cdf = np.concatenate([[0.0], np.cumsum(np.exp(logpdf - logpdf.max()))])
    cdf /= cdf[-1]
    edges = np.interp(np.arange(n + 1) / n, np.linspace(0.0, 1.0, cells + 1), cdf)
    return float(np.dot(np.diff(edges), x))


def end_to_end(summary, timed):
    ok = sum(1 for o in timed if o["ok"])
    return {
        "setup_s": {"value": summary["setup_s"], "unit": "s"},
        "throughput_qps": {"value": ok / summary["untraced_wall_s"], "unit": "1/s"},
        "latency_p50_s": {"value": hd_quantile([o["wall_s"] for o in timed], 0.5), "unit": "s"},
        "cpu_per_op_s": {"value": summary["untraced_cpu_s"] / len(timed), "unit": "s"},
        "retained_heap_mb": {"value": summary["retained_heap_mb"], "unit": "MB"},
    }


def per_layer(summary, wrong, failed_frac, traced_ops, untraced_ops):
    L = summary["layers"]
    n = max(1, summary["traced_ops"])
    g = lambda k: L.get(k, 0.0)
    per = lambda k: g(k) / n
    m = {}

    def put(name, value, unit):
        m[name] = {"value": value, "unit": unit}

    put("lang.parse.self_s", per("lang.parse.self_s"), "s")
    put("lang.parse.calls", per("lang.parse.calls"), "count")
    put("lang.parse.kchars_per_s",
        summary["parse_chars"] / 1000 / g("lang.parse.self_s") if g("lang.parse.self_s") else 0.0, "kchar/s")
    put("lang.lower.self_s", per("lang.lower.self_s"), "s")
    put("lang.lower.calls", per("lang.lower.calls"), "count")
    put("lang.lower.analyzed_nodes", per("lang.lower.analyzed_nodes"), "count")
    # tables spans only occur inside lowering
    lower = g("lang.lower.self_s") + g("tables.self_s")
    pipeline = lower + sum(g(f"{k}.self_s") for k in ("catalyst.optimize", "catalyst.plan", "exec"))
    put("lang.lower.share", lower / pipeline if pipeline else 0.0, "frac")
    put("tables.resolve_calls", per("tables.calls"), "count")
    put("tables.resolve_s", per("tables.self_s"), "s")
    for k, unit in (("jobs", "count"), ("job_s", "s"), ("task_cpu_s", "s"),
                    ("shuffle_write_mb", "MB"), ("spill_mb", "MB")):
        put(f"operators.{k}", per(f"operators.{k}"), unit)
    put("sql.self_s", per("sql.self_s"), "s")
    put("sql.statements", per("sql.statements"), "count")
    put("sql.jobs", per("sql.jobs"), "count")
    put("sql.job_s", per("sql.job_s"), "s")
    put("compile.self_s", per("compile.self_s"), "s")
    put("compile.jobs", per("compile.jobs"), "count")
    put("compile.bytes_written", per("compile.bytes_written"), "B")
    put("catalyst.optimize.self_s", per("catalyst.optimize.self_s"), "s")
    put("catalyst.optimize.plan_nodes", per("catalyst.optimize.plan_nodes"), "count")
    put("catalyst.plan.self_s", per("catalyst.plan.self_s"), "s")
    for k in ("physical_nodes", "shuffle_exchanges", "broadcast_exchanges"):
        put(f"catalyst.plan.{k}", per(f"catalyst.plan.{k}"), "count")
    put("exec.self_s", per("exec.self_s"), "s")
    for k, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                    ("task_cpu_s", "s"), ("task_run_s", "s"), ("task_wait_s", "s")):
        put(f"exec.{k}", per(f"exec.{k}"), unit)
    busy = g("exec.self_s") * summary["cores"]
    put("exec.core_util", g("exec.task_run_s") / busy if busy else 0.0, "frac")
    for k, unit in (("shuffle_write_mb", "MB"), ("shuffle_read_mb", "MB"), ("spill_mb", "MB"),
                    ("input_rows", "count"), ("result_rows", "count"), ("failed_tasks", "count")):
        put(f"exec.{k}", per(f"exec.{k}"), unit)
    put("jvm.gc_s", summary["gc_s"] / max(1, traced_ops + untraced_ops), "s")
    put("jvm.heap_after_gc_mb", summary["heap_after_gc_mb"], "MB")
    put("check.wrong_results", wrong, "count")
    put("failed_frac", failed_frac, "frac")
    # every op ran once traced and once not, in alternating order
    put("trace.overhead_frac", summary["traced_wall_s"] / summary["untraced_wall_s"] - 1.0, "frac")
    put("trace.coverage_frac",
        summary["span_child_s"] / summary["span_root_s"] if summary["span_root_s"] else 0.0, "frac")
    return m


def trace_check(summary):
    """The layers count the jobs of the traced runs and no others: their
    jobs add up to the jobs started by runs tagged traced. Ops whose traced
    and untraced runs started different job counts are listed; a read memo
    that misses on the first run and hits on the second does that."""
    runs = summary["run_jobs"]
    traced = sum(n for k, n in runs.items() if k.endswith(":t"))
    untraced = sum(n for k, n in runs.items() if k.endswith(":u"))
    ops = {k.split(":")[0] for k in runs}
    differ = sorted(int(i) for i in ops if runs.get(f"{i}:t", 0) != runs.get(f"{i}:u", 0))
    return {"event": "trace_check", "ok": summary["layer_jobs"] == traced,
            "layer_jobs": summary["layer_jobs"], "traced_run_jobs": traced,
            "untraced_run_jobs": untraced, "ops_with_differing_jobs": differ}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if a.workload not in workloads.WORKLOADS:
        log(f"unknown workload {a.workload!r}; one of {', '.join(workloads.WORKLOADS)}")
        return 2
    missing = missing_inputs()
    if missing:
        log("missing inputs:\n  " + "\n  ".join(missing))
        return 2
    os.makedirs(WORK, exist_ok=True)
    classpath = build()
    base, corpus, docs = ensure_data(a.seed)
    ops = workloads.ops_for(a.workload, a.seed, docs)
    corpus = corpus if a.workload == "llm_sql_batch" else None
    out = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    opsfile = os.path.join(out, "ops.in.jsonl")
    with open(opsfile, "w") as f:
        for op in ops:
            f.write(json.dumps({k: op[k] for k in ("i", "pass", "kind", "key", "text")}) + "\n")
    shutil.rmtree(os.path.join(WORK, "scratch"), ignore_errors=True)
    run_driver(classpath, opsfile, out, base, corpus, a.seconds, a.trace,
               extra=("--trace-ops", str(workloads.WORKLOADS[a.workload]["trace_ops"])))

    with open(os.path.join(out, "summary.json")) as f:
        summary = json.load(f)
    ops_run = read_jsonl(os.path.join(out, "ops.jsonl"))
    ran = {o["key"] for o in ops_run}
    expected = expected_results(a.workload, a.seed, [op for op in ops if op["key"] in ran], base, corpus)
    verify(ops_run, read_jsonl(os.path.join(out, "rows.jsonl")), expected)
    timed = [o for o in ops_run if o["pass"] >= 0]
    untimed_bad = [o for o in ops_run if o["pass"] < 0 and not o["ok"]]
    failed = [o for o in timed if not o["ok"]]
    wrong = sum(1 for o in failed if "error" not in o)
    for o in untimed_bad + failed:
        emit({"event": "op_failed", "pass": o["pass"], "key": o["key"],
              "error": o.get("error", "wrong result")})
    untraced = [o for o in timed if not o["traced"]]
    lat = [o["wall_s"] for o in untraced]
    p90 = hd_quantile(lat, 0.9) if len(lat) >= 100 else None
    # the highest percentile with at least ten samples beyond it
    top_q = max(0.5, 1 - 10 / len(lat))
    emit({"event": "latency", "samples": len(lat), "p50_s": hd_quantile(lat, 0.5),
          "middle_sample_s": statistics.median(lat), "p90_s": p90, "p90_omitted": p90 is None,
          "p90_min_samples": 100, "top_q": round(top_q, 4), "top_s": hd_quantile(lat, top_q)})
    emit({"event": "run", "workload": a.workload, "seed": a.seed, "trace": a.trace,
          "passes": summary["passes"], "ops_per_pass": summary["ops_per_pass"],
          "timed_s": summary["timed_s"], "session_s": summary["session_s"],
          "warmup_s": summary["warmup_s"], "cores": summary["cores"]})
    failed_frac = len(failed) / len(timed)
    emit({"event": "failures", "failed": len(failed), "wrong": wrong, "attempted": len(timed),
          "failed_frac": failed_frac})
    trace_ok = True
    if a.trace:
        check = trace_check(summary)
        trace_ok = check["ok"]
        emit(check)
        metrics = per_layer(summary, wrong, failed_frac, len(timed) - len(untraced), len(untraced))
    else:
        metrics = end_to_end(summary, untraced)
    emit({"correct": not failed and not untimed_bad and trace_ok, "attempted": len(timed),
          "failed": len(failed), "metrics": metrics})
    return 0


if __name__ == "__main__":
    sys.exit(main())
