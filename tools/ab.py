#!/usr/bin/env python3
"""Alternating A/B pairs of the graftbench benchmark on two checkouts.

Usage: python3 tools/ab.py PARENT_DIR CHANGE_DIR --workload W --pairs N
                           [--seed 1] [--out RUNS.json]

Each directory is a full checkout (e.g. `git archive <rev> | tar -x -C DIR`);
each side runs its own `graftbench/run.py` and builds into its own
`.bench_build`. Pair i runs both sides with seed `--seed + i`, one run at a
time, and alternates which side goes first (parent first on even pairs).

For every end-to-end metric of the last stdout line it prints each side's
median and quartiles, the change/parent ratio of the medians, and the
change's win count over the pairs (ties count for neither side). A gain is
reported only when the change wins at least nine tenths of the pairs and
the medians differ by more than the parent's interquartile range. Metric
directions and bounds come from CHANGE_DIR/BENCHMARK.json; a median worse
than the parent's by more than the bound is flagged. The benchmark's own
files are read, never modified. Exit code 1 when any run fails or reports
an incorrect result.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run_side(checkout, workload, seed):
    """One benchmark run in `checkout`; returns its final JSON object."""
    # graftbench/build.py builds into CARGO_TARGET_DIR when it is set; drop
    # it so that each side builds its own sources into its own checkout
    env = {k: v for k, v in os.environ.items() if k != "CARGO_TARGET_DIR"}
    cmd = [sys.executable, os.path.join(checkout, "graftbench", "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", "15", "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, env=env, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        res = {"correct": False, "failed": None, "metrics": {}}
    res["exit"] = p.returncode
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-2000:])
    return res


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    ap.add_argument("--out", help="write every run's result to this JSON file")
    a = ap.parse_args()
    dirs = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}

    spec_path = os.path.join(dirs["change"], "BENCHMARK.json")
    spec = {}
    if os.path.isfile(spec_path):
        with open(spec_path) as f:
            spec = {m["name"]: m for m in json.load(f).get("end_to_end", [])}

    runs = {"parent": [], "change": []}
    ok = True
    for i in range(a.pairs):
        seed = a.seed + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            res = run_side(dirs[side], a.workload, seed)
            res["seed"] = seed
            runs[side].append(res)
            good = res["exit"] == 0 and res.get("correct") is True
            ok &= good
            vals = " ".join(f"{k}={v['value']:.3f}" for k, v in res["metrics"].items())
            print(f"[ab] pair {i + 1}/{a.pairs} seed={seed} {side:6s} "
                  f"{'ok' if good else 'FAILED'} {vals}", flush=True)
    if a.out:
        with open(a.out, "w") as f:
            json.dump(runs, f, indent=1)

    names = [k for k in runs["change"][0]["metrics"]] if runs["change"] else []
    print(f"\nworkload={a.workload} pairs={a.pairs} seeds={a.seed}..{a.seed + a.pairs - 1}")
    print(f"{'metric':20s} {'parent median [q1, q3]':>30s} "
          f"{'change median [q1, q3]':>30s} {'ratio':>7s} {'wins':>6s}  verdict")
    for name in names:
        lower = spec.get(name, {}).get("better", "lower") == "lower"
        pairs = [(p["metrics"][name]["value"], c["metrics"][name]["value"])
                 for p, c in zip(runs["parent"], runs["change"])
                 if name in p["metrics"] and name in c["metrics"]]
        if not pairs:
            continue
        pv = [p for p, _ in pairs]
        cv = [c for _, c in pairs]
        pm, cm = statistics.median(pv), statistics.median(cv)
        (p1, p3), (c1, c3) = quartiles(pv), quartiles(cv)
        wins = sum(1 for p, c in pairs if (c < p if lower else c > p))
        gain = (cm - pm) * (-1 if lower else 1)
        verdict = []
        if wins >= 0.9 * len(pairs) and gain > p3 - p1:
            verdict.append("GAIN")
        bound = spec.get(name, {}).get("bound")
        if bound is not None and pm and -gain / abs(pm) > bound:
            verdict.append(f"WORSE beyond bound {bound}")
        print(f"{name:20s} {pm:10.3f} [{p1:8.3f}, {p3:8.3f}] "
              f"{cm:10.3f} [{c1:8.3f}, {c3:8.3f}] {cm / pm if pm else 0:7.3f} "
              f"{wins:3d}/{len(pairs):<2d}  {' '.join(verdict) or '-'}")
    failed = sum(1 for side in runs.values() for r in side
                 if r["exit"] != 0 or r.get("correct") is not True)
    print(f"runs failed or incorrect: {failed}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
