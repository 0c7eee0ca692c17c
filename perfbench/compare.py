#!/usr/bin/env python3
"""Compare two result sets of perfbench/run.py, parent against change.

    python3 perfbench/compare.py <parent_dir> <change_dir>

Each directory holds one file per workload, `<workload>.jsonl`, whose
lines are the last lines run.py printed, one per run; runs of the two
sides are paired in file order (run i of the parent with run i of the
change, same seed). For every workload and metric it prints each side's
median and quartiles, the share of pairs the change wins (ties count for
neither side), the parent's inter-quartile distance as a share of its
median, and the verdict rule later performance changes are judged by:
a gain needs at least 9/10 of pairs won and a median difference larger
than the parent's IQR; a regression is a median worse than the parent's
by more than the metric's bound in BENCHMARK.json.
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


def load(d):
    out = {}
    for f in sorted(os.listdir(d)):
        if f.endswith(".jsonl"):
            with open(os.path.join(d, f)) as fh:
                out[f[:-len(".jsonl")]] = [json.loads(l) for l in fh if l.strip()]
    return out


def metric_specs():
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "BENCHMARK.json")
    with open(path) as f:
        bench = json.load(f)
    return {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}


def pair_wins(parent, change, lower_better):
    wins = sum(1 for p, c in zip(parent, change) if (c < p if lower_better else c > p))
    n = min(len(parent), len(change))
    return wins / n if n else 0.0


def verdict(parent, change, spec):
    lower = spec.get("better", "lower") == "lower"

    def better(a, b):
        return a < b if lower else a > b
    pm, cm = stats.median(parent), stats.median(change)
    q1, _, q3 = stats.quartiles(parent)
    if better(cm, pm) and pair_wins(parent, change, lower) >= 0.9 and abs(cm - pm) > q3 - q1:
        return "gain"
    if all(better(c, p) or c == p for c in change for p in parent):
        return "no worse"
    if stats.iqr_share(parent) > spec["bound"]:
        return "unresolved"
    worse = (cm - pm) if lower else (pm - cm)
    if pm and worse / abs(pm) > spec["bound"]:
        return "regression"
    return "no change"


def main(parent_dir, change_dir):
    specs = metric_specs()
    parent, change = load(parent_dir), load(change_dir)
    print("%-14s %-32s %12s %25s %12s %25s %6s %7s  %s" % (
        "workload", "metric", "parent", "parent q1..q3", "change", "change q1..q3",
        "wins", "p.IQR", "verdict"))
    for wl in sorted(set(parent) & set(change)):
        names = sorted({k for r in parent[wl] + change[wl] for k in r["metrics"]})
        for name in names:
            pv = [r["metrics"][name]["value"] for r in parent[wl] if name in r["metrics"]]
            cv = [r["metrics"][name]["value"] for r in change[wl] if name in r["metrics"]]
            if not pv or not cv:
                continue
            spec = specs.get(name, {})
            pq, cq = stats.quartiles(pv), stats.quartiles(cv)
            print("%-14s %-32s %12.5g %12.5g..%-12.5g %12.5g %12.5g..%-12.5g %6.2f %7.3f  %s" % (
                wl, name, pq[1], pq[0], pq[2], cq[1], cq[0], cq[2],
                pair_wins(pv, cv, spec.get("better", "lower") == "lower"),
                stats.iqr_share(pv), verdict(pv, cv, spec) if "bound" in spec else "-"))
        failed = [sum(r["failed"] for r in side[wl]) for side in (parent, change)]
        print("%-14s %-32s %12d %25s %12d" % (wl, "failed runs/passes", failed[0], "", failed[1]))


if __name__ == "__main__":
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    main(sys.argv[1], sys.argv[2])
