#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py BASE.jsonl CHANGE.jsonl

Each file holds one record per run, as run.py appends them to
perfbench/work/results/runs.jsonl (move or copy that file aside between the
two sets). Untraced runs only. For every workload and end-to-end metric of
BENCHMARK.json it prints each side's median and quartiles, the share of
paired runs (the i-th run of a side pairs with the other side's i-th run of
the same workload) the change won, and one verdict:

  better      the change wins at least 9 of 10 pairs and the medians differ
              by more than the base's own quartile spread;
  worse       the change's median is worse than the base's by more than
              the metric's bound;
  within bound  neither, and the base's spread is within the bound;
  unresolved  neither, and the base's own spread exceeds the bound.
"""
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path):
    runs = {}
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            if r["trace"] == 0:
                runs.setdefault(r["workload"], []).append(r["summary"]["metrics"])
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def verdict(base, change, better, bound):
    b1, bm, b3 = quartiles(base)
    _, cm, _ = quartiles(change)
    sign = 1 if better == "higher" else -1
    pairs = list(zip(base, change))
    wins = sum(1 for b, c in pairs if sign * (c - b) > 0)
    share = wins / len(pairs) if pairs else 0.0
    if share >= 0.9 and abs(cm - bm) > (b3 - b1) and sign * (cm - bm) > 0:
        v = "better"
    elif sign * (cm - bm) < -bound * abs(bm):
        v = "worse"
    elif (b3 - b1) > bound * abs(bm):
        v = "unresolved"
    else:
        v = "within bound"
    return share, v


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    base, change = load(sys.argv[1]), load(sys.argv[2])
    print(f"{'workload':16} {'metric':18} {'base q1/med/q3':>30} {'change q1/med/q3':>30} {'won':>5}  verdict")
    for w in spec["workloads"]:
        name = w["name"]
        if name not in base or name not in change:
            print(f"{name:16} (no runs on one side)")
            continue
        for m in spec["end_to_end"]:
            b = [r[m["name"]]["value"] for r in base[name]]
            c = [r[m["name"]]["value"] for r in change[name]]
            share, v = verdict(b, c, m["better"], m["bound"])
            fb = "/".join(f"{x:.4g}" for x in quartiles(b))
            fc = "/".join(f"{x:.4g}" for x in quartiles(c))
            print(f"{name:16} {m['name']:18} {fb:>30} {fc:>30} {share:5.0%}  {v}")


if __name__ == "__main__":
    main()
