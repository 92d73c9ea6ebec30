#!/usr/bin/env python3
"""Per-query breakdown of one traced graftbench run, and its serial jobs.

Usage: python3 tools/trace_queries.py TRACE.jsonl

TRACE.jsonl is the span trace of `graftbench/run.py --trace 1` (written
to <build dir>/traces/<workload>-seed<n>.jsonl). For every query it
prints the medians over the measured warm passes of: wall, construction
ms, forcing-action ms, Spark jobs, tasks and summed task-run ms. Then it
lists the "serial" jobs of the measured passes: jobs that ran one task
for at least SERIAL_MS of task time, i.e. work that held one core while
the others idled. Reads the trace only; writes nothing.
"""
import json
import os
import statistics
import sys

sys.dont_write_bytecode = True  # importing metrics leaves no __pycache__
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "..", "graftbench"))
from metrics import build_tree, measured, subtree  # noqa: E402

SERIAL_MS = 100


def main():
    if len(sys.argv) != 2:
        raise SystemExit(__doc__.strip().splitlines()[2])
    queries, spans = [], []
    with open(sys.argv[1]) as f:
        for line in f:
            r = json.loads(line)
            if r["k"] == "query":
                queries.append(r)
            elif r["k"] == "span":
                spans.append(r)
    by_id, children = build_tree(spans)
    rec = {(q["pass"], q["q"]): q for q in queries}

    rows, serial = {}, []
    for s in spans:
        if s["name"] != "query" or not measured(s["pass"]):
            continue
        jobs = [j for j in subtree(s, children) if j["name"] == "job"]
        q = rec[(s["pass"], s["q"])]
        rows.setdefault(s["q"], []).append({
            "wall_ms": q["wall_ms"], "construct_ms": q["construct_ms"],
            "action_ms": q["action_ms"], "jobs": len(jobs),
            "tasks": sum(j["tasks"] for j in jobs),
            "task_run_ms": sum(j["task_run_ms"] for j in jobs)})
        for j in jobs:
            if j["tasks"] == 1 and j["task_run_ms"] >= SERIAL_MS:
                phase = by_id.get(j.get("hspan"), {}).get("name", "?")
                serial.append((s["q"], s["pass"], phase, j))

    cols = ["wall_ms", "construct_ms", "action_ms", "jobs", "tasks",
            "task_run_ms"]
    print(f"medians over the measured passes ({len(queries)} query records)")
    print(f"{'query':32s}" + "".join(f"{c:>14s}" for c in cols))
    for name in sorted(rows):
        meds = [statistics.median(r[c] for r in rows[name]) for c in cols]
        print(f"{name:32s}" + "".join(f"{v:14.1f}" for v in meds))

    print(f"\nserial jobs (1 task, task-run >= {SERIAL_MS} ms): {len(serial)}")
    for name, p, phase, j in sorted(serial, key=lambda x: (x[0], x[1])):
        print(f"  {name:32s} pass={p} {phase:9s} job={j['id']:6s} "
              f"wall={j['t1'] - j['t0']:7.0f} ms "
              f"task_run={j['task_run_ms']:6.0f} ms "
              f"cpu={j['task_cpu_ms']:6.0f} ms "
              f"shuffle_write={j['shuffle_write_b'] / 1048576.0:6.2f} MB")


if __name__ == "__main__":
    main()
