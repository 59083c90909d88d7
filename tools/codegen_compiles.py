#!/usr/bin/env python3
"""Sum whole-stage codegen compiles in a Spark driver log, split by thread.

The log must come from a JVM run with tools/codegen-log4j2.properties, whose
lines carry a millisecond stamp and the thread name:

    26/10/20 01:02:03.456 INFO [Executor task launch worker for task 1.0 in
    stage 3.0 (TID 7)] CodeGenerator: Code generated in 12.3 ms

Compiles on threads named "Executor task launch worker ..." are counted as
task-thread compiles, all others as driver-thread compiles. Only lines
stamped at or after --start count; --start is either a stamp in the log's
format (yy/MM/dd HH:mm:ss[.SSS]) or "timed", which reads session_s and
warmup_s from the summary.json next to the log and starts the window that
many seconds after the log's first stamp (a perfbench run's timed ops).

    python3 tools/codegen_compiles.py perfbench/.work/runs/<run>/driver.log --start timed
"""
import argparse
import datetime
import json
import os
import re
import sys

LINE = re.compile(r"^(\d\d/\d\d/\d\d \d\d:\d\d:\d\d(?:\.\d+)?) \w+ \[(.*)\] CodeGenerator: "
                  r"Code generated in ([0-9.]+) ms")
STAMP = re.compile(r"^(\d\d/\d\d/\d\d \d\d:\d\d:\d\d(?:\.\d+)?) ")


def parse_stamp(s):
    return datetime.datetime.strptime(s, "%y/%m/%d %H:%M:%S.%f" if "." in s else "%y/%m/%d %H:%M:%S")


def timed_start(log_path, lines):
    with open(os.path.join(os.path.dirname(log_path), "summary.json")) as f:
        summary = json.load(f)
    first = next(parse_stamp(m.group(1)) for m in map(STAMP.match, lines) if m)
    return first + datetime.timedelta(seconds=summary["session_s"] + summary["warmup_s"])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("log")
    ap.add_argument("--start", default=None, help='a log stamp, or "timed"')
    a = ap.parse_args()
    with open(a.log, errors="replace") as f:
        lines = f.readlines()
    if a.start == "timed":
        start = timed_start(a.log, lines)
    else:
        start = parse_stamp(a.start) if a.start else None
    sums = {"task": [0, 0.0], "driver": [0, 0.0]}
    for line in lines:
        m = LINE.match(line)
        if not m or (start and parse_stamp(m.group(1)) < start):
            continue
        side = "task" if m.group(2).startswith("Executor task launch worker") else "driver"
        sums[side][0] += 1
        sums[side][1] += float(m.group(3))
    out = {"start": start.strftime("%y/%m/%d %H:%M:%S.%f")[:-3] if start else None}
    for side, (n, ms) in sums.items():
        out[side] = {"compiles": n, "ms": round(ms, 1), "ms_per_compile": round(ms / n, 2) if n else None}
    json.dump(out, sys.stdout)
    print()


if __name__ == "__main__":
    main()
