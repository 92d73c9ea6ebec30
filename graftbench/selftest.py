#!/usr/bin/env python3
"""Self-test of the benchmark on the sf0.001 data; takes about a minute.

    python3 graftbench/selftest.py [--data DIR]

Runs run.py twice on a small query list, in the same shape as a
benchmark run (one set-up, a cold pass, five warm passes):
  1. traced, against an expected file whose fingerprints are all wrong:
     every query execution must be counted as failed, the run must exit
     non-zero, every per-layer metric must be printed with its unit, the
     trace must parse into one tree, every job and SQL execution under a
     query must lie inside that query's span (so a misparented or stray
     job fails rather than being clipped away), and for each query
     driver.outside_jobs_ms + exec.job_wall_ms must equal the traced
     query span within 5%;
  2. untraced, against the fingerprints run 1 produced, with one of them
     deliberately wrong: exactly that query's executions must count in
     failed_frac, and every end-to-end metric must be printed with its
     unit.
Exits 0 when every check holds.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)
sys.dont_write_bytecode = True  # write nothing into the benchmark's directory
import build  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402

QUERIES = ["q01_pricing_summary", "q33_tumbling_hour", "g04_gradient",
           "q28_exact_dup_groups", "q110_incremental_ingest"]
CORRUPT = "q28_exact_dup_groups"
PASSES = 6  # the harness's fixed shape: a cold pass and five warm passes
CLOCK_TOL_MS = 2.0  # Spark event times are whole milliseconds

failures = []


def expect(cond, what):
    print(("ok    " if cond else "FAIL  ") + what)
    if not cond:
        failures.append(what)


def run_bench(tmp, data, expected, trace, seed):
    cmd = [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", "selftest",
           "--seed", str(seed), "--seconds", "0", "--trace", str(trace),
           "--data", data, "--expected", expected,
           "--workloads", os.path.join(tmp, "workloads.json")]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=600)
    lines = r.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        sys.stderr.write(r.stderr[-3000:])
        raise SystemExit("run.py printed no result line")
    return r.returncode, lines, result


def printed(lines, names):
    """Every metric appears as a `<name> <value> <unit>` line."""
    seen = {}
    for l in lines:
        p = l.split()
        if len(p) == 3:
            seen[p[0]] = p[2]
    return [k for k, u in names.items() if seen.get(k) != u]


def check_trace(path):
    with open(path) as f:
        recs = [json.loads(l) for l in f]
    queries = [r for r in recs if r["k"] == "query"]
    spans = [r for r in recs if r["k"] == "span"]
    by_id, children = metrics.build_tree(spans)
    orphans = [s["id"] for s in spans if s["name"] != "run" and s.get("parent") not in by_id]
    expect(not orphans, f"trace parses into one tree ({len(spans)} spans, "
                        f"orphans: {orphans[:5]})")
    outside = [s["id"] for s in spans if s.get("parent") in by_id
               and s["name"] not in ("job", "sql")
               and not (by_id[s["parent"]]["t0"] <= s["t0"] <= s["t1"] <= by_id[s["parent"]]["t1"])]
    expect(not outside, "harness spans nest inside their parents")
    wall = {(q["pass"], q["q"]): q["wall_ms"] for q in queries}
    stray, over = [], []
    for s in spans:
        if s["name"] != "query":
            continue
        sub = [k for k in metrics.subtree(s, children) if k["name"] in ("job", "sql")]
        stray += [f"{k['id']} in {s['q']} pass {s['pass']}" for k in sub
                  if k["t0"] < s["t0"] - CLOCK_TOL_MS or k["t1"] > s["t1"] + CLOCK_TOL_MS]
        jobs = [(k["t0"], k["t1"]) for k in sub if k["name"] == "job"]
        if jobs:
            union = metrics.union_ms(jobs, min(a for a, _ in jobs), max(b for _, b in jobs))
            if union > wall[(s["pass"], s["q"])] + CLOCK_TOL_MS:
                over.append(f"{s['q']} pass {s['pass']}: {union:.1f} ms")
    expect(not stray, f"every job and SQL execution lies inside its query's span "
                      f"(outside: {stray[:5]})")
    expect(not over, f"no query's job union exceeds its wall (over: {over[:5]})")
    _, _, per_query = metrics.layers(queries, spans)
    expect(len(per_query) == len(QUERIES) * PASSES, "every query execution has a span")
    for q in per_query:
        total = q["outside_jobs_ms"] + q["job_wall_ms"]
        expect(abs(total - q["span_ms"]) <= 0.05 * q["span_ms"],
               f"{q['q']} pass {q['pass']}: outside_jobs {q['outside_jobs_ms']:.1f} + "
               f"job_wall {q['job_wall_ms']:.1f} = {total:.1f} ms vs traced "
               f"{q['span_ms']:.1f} ms")
    return {(q["q"]): q for q in queries}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--data", default=os.path.join(
        os.path.dirname(run.DEFAULT_DATA), "sf0.001"))
    a = ap.parse_args()
    data = os.path.abspath(a.data)
    bdir = build.build_dir()
    build.ensure_built(bdir)
    os.makedirs(bdir, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="selftest-", dir=bdir)
    try:
        with open(os.path.join(tmp, "workloads.json"), "w") as f:
            json.dump({"selftest": {"queries": QUERIES}}, f)
        files = run.data_files(data)

        def write_expected(fps):
            p = os.path.join(tmp, "expected.json")
            with open(p, "w") as f:
                json.dump({"data": files, "queries": {
                    n: {"rows": fps[n][0], "fp": fps[n][1]} for n in QUERIES}}, f)
            return p

        # 1: traced, every fingerprint wrong
        code, lines, res = run_bench(tmp, data, write_expected(
            {n: (-1, "wrong") for n in QUERIES}), 1, 1)
        n_exec = len(QUERIES) * PASSES
        expect(code != 0, "a run with failed queries exits non-zero")
        expect(res["attempted"] == n_exec and res["failed"] == n_exec
               and res["correct"] is False, f"all {n_exec} wrong fingerprints counted: {res}")
        expect(set(res["metrics"]) == set(metrics.PER_LAYER),
               "traced result carries every per-layer metric")
        miss = printed(lines, metrics.PER_LAYER)
        expect(not miss, f"every per-layer metric printed with its unit (missing {miss})")
        trace = os.path.join(bdir, "traces", "selftest-seed1.jsonl")
        got = check_trace(trace)

        # 2: untraced, one fingerprint deliberately wrong
        fps = {n: (got[n]["rows"], got[n]["fp"]) for n in QUERIES}
        fps[CORRUPT] = (fps[CORRUPT][0], "0-0")
        code, lines, res = run_bench(tmp, data, write_expected(fps), 0, 2)
        expect(code != 0 and res["failed"] == PASSES and res["attempted"] == n_exec,
               f"the wrong fingerprint of {CORRUPT} counts {PASSES} of {n_exec} failed: {res}")
        frac = [l for l in lines if l.startswith("failed_frac ")]
        expect(frac and abs(float(frac[0].split()[1]) - PASSES / n_exec) < 1e-6,
               f"failed_frac printed as {PASSES}/{n_exec}: {frac}")
        expect(set(res["metrics"]) == set(metrics.END_TO_END)
               and all(res["metrics"][k]["unit"] == u for k, u in metrics.END_TO_END.items()),
               "untraced result carries every end-to-end metric with its unit")
        miss = printed(lines, metrics.END_TO_END)
        expect(not miss, f"every end-to-end metric printed with its unit (missing {miss})")
        os.remove(trace)
        os.remove(trace.replace(".jsonl", ".summary.json"))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print("selftest " + ("FAILED" if failures else "OK"))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
