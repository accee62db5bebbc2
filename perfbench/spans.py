#!/usr/bin/env python3
"""Summarise a traced run's spans by self time.

    python3 perfbench/spans.py perfbench/work/traces/<workload>-s<seed>.json

The trace is the span tree run -> pass -> query | layer -> {build, drain}
-> Spark job -> Spark stage (jobs hang off the query or layer span whose id
was their job group). A span's self time is its duration minus the part of
it that its children cover. Prints, per (kind, name), the number of spans,
their total time and their total self time, largest self time first.
"""
import json
import sys
from collections import defaultdict


def covered(intervals):
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    spans = json.load(open(sys.argv[1]))
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    rows = defaultdict(lambda: [0, 0.0, 0.0])
    for s in spans:
        if s["end"] <= s["start"]:
            continue
        inside = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                  for c in children[s["id"]] if c["end"] > s["start"] and c["start"] < s["end"]]
        dur = (s["end"] - s["start"]) / 1e3
        key = (s["kind"], s["name"] if s["kind"] not in ("job", "stage") else "*")
        r = rows[key]
        r[0] += 1
        r[1] += dur
        r[2] += dur - covered(inside) / 1e3
    print(f"{'kind':8} {'name':36} {'spans':>6} {'total_s':>9} {'self_s':>9}")
    for (kind, name), (n, tot, self_s) in sorted(rows.items(), key=lambda kv: -kv[1][2]):
        print(f"{kind:8} {name[:36]:36} {n:6d} {tot:9.2f} {self_s:9.2f}")


if __name__ == "__main__":
    main()
