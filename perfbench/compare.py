#!/usr/bin/env python3
"""Compare two sets of benchmark runs, one row per workload and metric.

    python3 perfbench/compare.py BASE.jsonl CHANGE.jsonl

Each input holds one JSON line per run, as written by
`run.py --record FILE`: {"workload", "seed", "trace", "result"}. Untraced
runs are compared on the end-to-end metrics of BENCHMARK.json, traced runs
on whatever per-layer metrics they carry (no bound, so no verdict).

For each side the report gives the median and quartiles of the per-run
values, and a verdict for the change against the base:
  worse       the change's median is worse than the base's by more than
              the metric's bound;
  improved    the change's median is better by more than the base's own
              quartile spread, and the change wins at least 9 in 10 of all
              (base run, change run) pairs;
  unresolved  either side's quartile spread, as a share of its median,
              exceeds the bound, and the runs of one side do not all beat
              the runs of the other;
  unchanged   otherwise.
"""
import json
import os
import statistics
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path):
    runs = defaultdict(list)  # (workload, trace) -> [metrics]
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if not line:
                continue
            rec = json.loads(line)
            res = rec.get("result") or {}
            if res.get("correct"):
                runs[(rec["workload"], int(rec.get("trace", 0)))].append(res["metrics"])
    return runs


def quartiles(v):
    if len(v) == 1:
        return v[0], v[0], v[0]
    q1, q2, q3 = statistics.quantiles(v, n=4)
    return q1, statistics.median(v), q3


def verdict(base, change, better, bound):
    b1, bm, b3 = quartiles(base)
    c1, cm, c3 = quartiles(change)
    sign = 1.0 if better == "lower" else -1.0
    worse_by = sign * (cm - bm) / abs(bm) if bm else 0.0
    pairs = [(b, c) for b in base for c in change]
    wins = sum(1 for b, c in pairs if sign * (c - b) < 0)
    all_better = all(sign * (c - b) < 0 for b, c in pairs)
    all_worse = all(sign * (c - b) > 0 for b, c in pairs)
    spread = max((b3 - b1) / abs(bm) if bm else 0.0, (c3 - c1) / abs(cm) if cm else 0.0)
    if bound is None:
        return "-", worse_by, spread
    if spread > bound and not (all_better or all_worse):
        return "unresolved", worse_by, spread
    if worse_by > bound:
        return "worse", worse_by, spread
    if -sign * (cm - bm) > (b3 - b1) and wins >= 0.9 * len(pairs):
        return "improved", worse_by, spread
    return "unchanged", worse_by, spread


def main(argv):
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: (m["better"], m.get("bound")) for m in spec["end_to_end"] + spec["per_layer"]}
    base, change = load(argv[1]), load(argv[2])
    print(f"{'workload':15} {'metric':24} {'base q1/median/q3':>34} {'change q1/median/q3':>34}"
          f" {'worse by':>9} {'spread':>7} {'bound':>6}  verdict")
    for key in sorted(set(base) & set(change)):
        workload, trace = key
        order = list(bounds)
        names = sorted(set(base[key][0]) & set(change[key][0]),
                       key=lambda n: (order.index(n) if n in order else len(order), n))
        for name in names:
            b = [m[name]["value"] for m in base[key]]
            c = [m[name]["value"] for m in change[key]]
            better, bound = bounds.get(name, ("lower", None))
            v, worse_by, spread = verdict(b, c, better, bound)
            fmt = lambda x: "/".join(f"{q:.4g}" for q in quartiles(x))
            label = workload + (" (traced)" if trace else "")
            print(f"{label:15} {name:24} {fmt(b) + f' (n={len(b)})':>34} {fmt(c) + f' (n={len(c)})':>34}"
                  f" {worse_by:+9.3f} {spread:7.3f} {bound if bound is not None else '-':>6}  {v}")
    missing = sorted(set(base) ^ set(change))
    for key in missing:
        print(f"{key[0]:15} only in {'base' if key in base else 'change'}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
