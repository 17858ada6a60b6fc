#!/usr/bin/env python3
"""Per-layer table of a traced run's spans, with self time.

    python3 perfbench/trace.py .bench_build/runs/<workload>-s<seed>-t1/spans.jsonl

A traced run (`run.py --trace 1`) writes one span per call into a layer:
the benchmark's own calls (ops.query, ops.build, ops.action, etl.land,
etl.load, etl.read, etl.compact) and, from Spark's listeners, each job
(spark.job) and each Catalyst phase of each action (catalyst.*). A span's
self time is its duration minus the part of it that its child spans
cover; for ops.build that is the time the operator spends outside any
Spark job or planning phase. Several files may be given: spans are told
apart by their run id.
"""
import json
import sys
from collections import defaultdict


def covered(intervals):
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a >= end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def table(spans):
    children = defaultdict(list)  # span ids are unique within one run only
    for s in spans:
        children[(s["run"], s["parent"])].append(s)
    rows = defaultdict(lambda: [0, 0, 0])  # count, total us, self us
    for s in spans:
        start, end = s["start_us"], s["end_us"]
        kids = [(max(c["start_us"], start), min(c["end_us"], end)) for c in children[(s["run"], s["id"])]]
        kids = [(a, b) for a, b in kids if b > a]
        name = s["name"].split(":", 1)[0]
        r = rows[name]
        r[0] += 1
        r[1] += end - start
        r[2] += end - start - covered(kids)
    return rows


def main(paths):
    spans = []
    for p in paths:
        with open(p) as f:
            spans += [json.loads(line) for line in f if line.strip()]
    rows = table(spans)
    print(f"{'span':24} {'count':>7} {'total_s':>10} {'self_s':>10}")
    for name, (n, tot, own) in sorted(rows.items(), key=lambda kv: -kv[1][2]):
        print(f"{name:24} {n:7d} {tot / 1e6:10.3f} {own / 1e6:10.3f}")


if __name__ == "__main__":
    if len(sys.argv) < 2:
        print(__doc__)
        sys.exit(2)
    main(sys.argv[1:])
