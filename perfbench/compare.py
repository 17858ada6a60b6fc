#!/usr/bin/env python3
"""Compare two sets of runs, per workload and metric.

    python3 perfbench/compare.py parent.jsonl change.jsonl

Each file holds one JSON line per run, as `run.py --record FILE` appends
them. Runs are paired by workload and seed. For every workload and
end-to-end metric it prints each side's median and quartiles, how many
pairs the change won (ties count for neither side), and a verdict:

  better      the change won at least 9 of 10 pairs and the medians
              differ by more than the parent's own quartile spread
  no worse    the change's median is within the metric's bound of the
              parent's, and the parent's spread is within the bound
  worse       the change's median is beyond the bound and every change
              run reads worse than every parent run
  unresolved  anything else; the spread is wider than the bound or the
              runs overlap
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    runs = {}
    with open(path) as f:
        for line in f:
            if line.strip():
                r = json.loads(line)
                if r.get("trace", 0) == 0:
                    runs[(r["workload"], r["seed"])] = r
    return runs


def quartiles(v):
    if len(v) < 2:
        return v[0], v[0], v[0]
    q = statistics.quantiles(v, n=4)
    return q[0], statistics.median(v), q[2]


def verdict(a, b, pairs, metric):
    lower = metric["better"] == "lower"
    bound = metric["bound"]
    qa, qb = quartiles(a), quartiles(b)
    ma, mb = qa[1], qb[1]
    gain = (ma - mb) if lower else (mb - ma)
    wins = sum(1 for x, y in pairs if (y < x if lower else y > x))
    spread_a = qa[2] - qa[0]
    if pairs and wins >= 0.9 * len(pairs) and abs(gain) > spread_a and gain > 0:
        return "better", wins
    worse_by = -gain / ma if ma else 0.0
    if worse_by <= bound and spread_a / ma <= bound:
        return "no worse", wins
    if worse_by > bound and (max(a) < min(b) if lower else min(a) > max(b)):
        return "worse", wins
    return "unresolved", wins


def main(pa, pb):
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    a, b = load(pa), load(pb)
    print(f"{'workload':10} {'metric':18} {'parent q1/med/q3':>30} {'change q1/med/q3':>30} {'wins':>6}  verdict")
    for w in [x["name"] for x in spec["workloads"]]:
        seeds = sorted({s for (wl, s) in a if wl == w} | {s for (wl, s) in b if wl == w})
        for m in spec["end_to_end"]:
            va = [a[(w, s)]["metrics"][m["name"]]["value"] for s in seeds if (w, s) in a]
            vb = [b[(w, s)]["metrics"][m["name"]]["value"] for s in seeds if (w, s) in b]
            if not va or not vb:
                continue
            pairs = [(a[(w, s)]["metrics"][m["name"]]["value"], b[(w, s)]["metrics"][m["name"]]["value"])
                     for s in seeds if (w, s) in a and (w, s) in b]
            v, wins = verdict(va, vb, pairs, m)
            fa = "/".join(f"{x:.4g}" for x in quartiles(va))
            fb = "/".join(f"{x:.4g}" for x in quartiles(vb))
            print(f"{w:10} {m['name']:18} {fa:>30} {fb:>30} {wins:>2}/{len(pairs):<3}  {v}")
        fa = [a[(w, s)]["failed"] / a[(w, s)]["attempted"] for s in seeds if (w, s) in a]
        fb = [b[(w, s)]["failed"] / b[(w, s)]["attempted"] for s in seeds if (w, s) in b]
        print(f"{w:10} {'failed share':18} {str(sorted(set(round(x, 6) for x in fa))):>30} "
              f"{str(sorted(set(round(x, 6) for x in fb))):>30}")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        print(__doc__)
        sys.exit(2)
    main(sys.argv[1], sys.argv[2])
