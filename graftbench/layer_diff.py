#!/usr/bin/env python3
"""Diff the per-layer metrics of two sets of traced benchmark runs.

    python3 graftbench/layer_diff.py BASE NEW

BASE and NEW are each a `*.summary.json` written by a traced run
(`run.py --trace 1`, under <build dir>/traces) or a directory of them.
Summaries are grouped by workload; with several seeds per workload the
median of each metric is used. For every workload in both sets, prints
each layer metric and each layer's self time as `base -> new (ratio)`,
the ratio being new/base with its base shown beside it. A reporting
tool, the per-layer counterpart of tools/bench_diff.py: exit code 0
unless an input cannot be read.
"""
import glob
import json
import os
import statistics
import sys


def load(path):
    files = (sorted(glob.glob(os.path.join(path, "*.summary.json")))
             if os.path.isdir(path) else [path])
    if not files:
        raise SystemExit(f"{path}: no *.summary.json found")
    runs = {}
    for f in files:
        with open(f) as fh:
            d = json.load(fh)
        runs.setdefault(d["workload"], []).append(d)
    return runs


def medians(runs, key):
    names = sorted({k for r in runs for k in r[key]})
    return {k: statistics.median(r[key].get(k, 0.0) for r in runs) for k in names}


def ratio(a, b):
    if a == 0:
        return "  =" if b == 0 else "new"
    return f"{b / a:.3f}x"


def main():
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    base, new = load(sys.argv[1]), load(sys.argv[2])
    for w in sorted(set(base) & set(new)):
        print(f"== {w} (runs: base {len(base[w])}, new {len(new[w])})")
        for key, label in (("layers", "metric"), ("self_ms", "self ms")):
            b, n = medians(base[w], key), medians(new[w], key)
            print(f"  {label:28s} {'base':>12s} {'new':>12s}  ratio (new/base)")
            for k in sorted(set(b) | set(n)):
                bv, nv = b.get(k, 0.0), n.get(k, 0.0)
                print(f"  {k:28s} {bv:12.3f} {nv:12.3f}  {ratio(bv, nv)} of {bv:.3f}")
    for label, s in (("only in base", set(base) - set(new)),
                     ("only in new", set(new) - set(base))):
        if s:
            print(f"{label}: {', '.join(sorted(s))}")


if __name__ == "__main__":
    main()
