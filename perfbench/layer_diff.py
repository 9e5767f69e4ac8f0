#!/usr/bin/env python3
"""Compare two sets of traced benchmark runs, layer by layer.

Usage: python3 perfbench/layer_diff.py <before> <after>

Each side is a trace file written by `run.py --trace 1` (under
.bench_build/traces/) or a directory of them. Per workload, every
per-layer metric is the median over that side's runs; the table shows
both medians and the relative change. The five operations (queries or
batches) whose median latency moved most follow, with the counters that
moved with them. Workloads present on one side only are listed as such.
"""
import argparse
import glob
import json
import os
import statistics
from collections import defaultdict

TOP_OPS = 5  # operations listed per workload


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    runs = defaultdict(list)
    for f in files:
        with open(f) as fh:
            t = json.load(fh)
        runs[t["workload"]].append(t)
    return runs


def layer_medians(runs):
    names = sorted({k for r in runs for k in r["result"]["metrics"]})
    return {k: statistics.median(r["result"]["metrics"][k]["value"] for r in runs
                                 if k in r["result"]["metrics"]) for k in names}


def op_medians(runs):
    """op name -> (median latency, median counters)"""
    lat, ctr = defaultdict(list), defaultdict(lambda: defaultdict(list))
    for r in runs:
        for s in r["spans"]:
            if "counters" in s:
                lat[s["name"]].append(s["end"] - s["start"])
                for k, v in s["counters"].items():
                    ctr[s["name"]][k].append(v)
    return {n: (statistics.median(v), {k: statistics.median(c) for k, c in ctr[n].items()})
            for n, v in lat.items()}


def rel(a, b):
    return f"{(b - a) / a:+.1%}" if a else ("=" if a == b else "new")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("before")
    ap.add_argument("after")
    args = ap.parse_args()
    a, b = load(args.before), load(args.after)
    for w in sorted(set(a) | set(b)):
        if w not in a or w not in b:
            print(f"== {w}: only in {'after' if w in b else 'before'}\n")
            continue
        print(f"== {w} ({len(a[w])} vs {len(b[w])} runs)")
        ma, mb = layer_medians(a[w]), layer_medians(b[w])
        print(f"  {'metric':32} {'before':>14} {'after':>14} {'change':>8}")
        for k in sorted(set(ma) | set(mb)):
            va, vb = ma.get(k, 0.0), mb.get(k, 0.0)
            print(f"  {k:32} {va:14.6g} {vb:14.6g} {rel(va, vb):>8}")
        oa, ob = op_medians(a[w]), op_medians(b[w])
        common = sorted(set(oa) & set(ob), key=lambda n: -abs(ob[n][0] - oa[n][0]))
        if common:
            print(f"  top {TOP_OPS} operations by latency change:")
        for n in common[:TOP_OPS]:
            moved = sorted(((k, oa[n][1][k], ob[n][1].get(k, 0.0)) for k in oa[n][1]),
                           key=lambda t: -abs(t[2] - t[1]) / (abs(t[1]) or 1.0))[:3]
            detail = ", ".join(f"{k} {x:.4g}->{y:.4g}" for k, x, y in moved)
            print(f"    {n:40} {oa[n][0]:8.3f}s -> {ob[n][0]:8.3f}s  ({detail})")
        print()


if __name__ == "__main__":
    main()
