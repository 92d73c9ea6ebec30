#!/usr/bin/env python3
"""Generate the expected row counts and fingerprints the benchmark checks.

    python3 graftbench/gen_expected.py [--data DIR]

For every query of the modules behind the workloads in workloads.json
(`module_queries`, a superset of the pinned `queries`):
  1. run the harness in `record` mode in two JVMs (different seeds, so
     different query orders), a cold pass and the harness's warm passes each,
     recording the raw and the double-normalised fingerprint on every
     pass;
  2. keep the raw fingerprint, which must be the same on every pass of
     every run; a query whose raw fingerprint differs is an error, reported
     as needing double normalisation when its normalised fingerprint is
     stable, else as unstable;
  3. for queries with a DuckDB oracle, write the Spark output as parquet
     and compare it with the oracle under tools/check.py's rules (columns
     sorted by name, then rows, exact values, no int/float mixing).
Writes expected/<data dir name>.json, including the SHA-256 of every input
table, and exits non-zero if any query failed, was unstable or mismatched.
"""
import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)
sys.dont_write_bytecode = True  # write nothing into the benchmark's directory
import build  # noqa: E402
import run  # noqa: E402

RUNS = 2  # JVMs, each with its own query order


def oracle_compare(data, dump, oracles):
    """name -> None (match) or the cause of the mismatch."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in run.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    out = {}
    for name, sql in sorted(oracles.items()):
        try:
            got = con.execute(f"SELECT * FROM '{dump}/{name}/*.parquet'").df()
            exp = con.execute(sql).df()
        except Exception as e:  # noqa: BLE001 - reported per query
            out[name] = f"duckdb error: {e}"
            continue
        got = got.reindex(sorted(got.columns), axis=1)
        exp = exp.reindex(sorted(exp.columns), axis=1)
        if list(got.columns) != list(exp.columns):
            out[name] = f"columns differ: {list(got.columns)} vs {list(exp.columns)}"
            continue
        if len(got) != len(exp):
            out[name] = f"row count {len(got)} vs {len(exp)}"
            continue
        kinds = [c for c in got.columns
                 if (got[c].dtype.kind in "iu") != (exp[c].dtype.kind in "iu")
                 and {got[c].dtype.kind, exp[c].dtype.kind} <= set("iuf")]
        if kinds:
            out[name] = f"int/float kind differs in {kinds}"
            continue
        g = got.sort_values(by=list(got.columns)).reset_index(drop=True)
        e = exp.sort_values(by=list(exp.columns)).reset_index(drop=True)
        try:
            pd.testing.assert_frame_equal(g, e, check_dtype=False, check_exact=True)
            out[name] = None
        except AssertionError as ex:
            out[name] = " ".join(str(ex).split("\n")[:4])
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--data", default=os.environ.get("GRAFTBENCH_DATA", run.DEFAULT_DATA))
    a = ap.parse_args()
    data = os.path.abspath(a.data)
    out_path = os.path.join(
        BENCH_DIR, "expected", os.path.basename(data.rstrip("/")) + ".json")
    wls = run.load_json(os.path.join(BENCH_DIR, "workloads.json"))
    names = [n for w in wls.values() for n in w["module_queries"]]
    files = run.data_files(data)
    bdir = build.build_dir()
    cp = build.ensure_built(bdir)
    scratch_parent = os.path.join(bdir, "scratch")
    os.makedirs(scratch_parent, exist_ok=True)

    recs = []
    for r in range(RUNS):
        run.log(f"record run {r + 1}/{RUNS}: {len(names)} queries")
        recs += [x for x in run.harness(
            cp, "record", names, data, scratch_parent, 3600, seed=r + 1)
            if x["k"] == "query"]

    dump = tempfile.mkdtemp(prefix="dump-", dir=scratch_parent)
    try:
        run.log("dumping outputs for the oracle cross-check")
        drecs = run.harness(cp, "dump", names, data, scratch_parent, 3600,
                            dump=dump)
        oracles = {x["q"]: x["sql"] for x in drecs if x["k"] == "oracle"}
        dump_errors = {x["q"]: x["err"] for x in drecs if x["k"] == "dump_error"}
        verdict = oracle_compare(data, dump, oracles)
    finally:
        shutil.rmtree(dump, ignore_errors=True)

    problems, queries = [], {}
    for n in names:
        mine = [x for x in recs if x["q"] == n]
        errs = sorted({x["err"] for x in mine if x["err"]})
        if errs:
            problems.append(f"{n}: {errs[0]}")
            continue
        rows = {x["rows"] for x in mine}
        raw = {x["fp"] for x in mine}
        norm = {x["fp_norm"] for x in mine}
        if len(rows) != 1:
            problems.append(f"{n}: row count differs run to run: {sorted(rows)}")
            continue
        if len(raw) != 1:
            problems.append(f"{n}: fingerprint differs run to run ({len(raw)} values); "
                            + ("its doubles need normalising" if len(norm) == 1
                               else "unstable even with doubles normalised"))
            continue
        fp = raw.pop()
        if n in dump_errors:
            problems.append(f"{n}: dump failed: {dump_errors[n]}")
        oracle = "none"
        if n in verdict:
            if verdict[n] is None:
                oracle = "duckdb-match"
            else:
                problems.append(f"{n}: DuckDB oracle mismatch: {verdict[n]}")
                continue
        cold = [x["wall_ms"] for x in mine if x["pass"] == 0]
        warm = [x["wall_ms"] for x in mine if x["pass"] > 0]
        queries[n] = {"rows": rows.pop(), "fp": fp, "oracle": oracle,
                      "cold_ms": round(statistics.median(cold), 1),
                      "warm_ms": round(statistics.median(warm), 1)}
    for p in problems:
        run.log("PROBLEM " + p)
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with open(out_path, "w") as f:
        json.dump({"data": files, "queries": queries}, f, indent=1, sort_keys=True)
        f.write("\n")
    matched = sum(q["oracle"] == "duckdb-match" for q in queries.values())
    run.log(f"wrote {out_path}: {len(queries)} queries, {matched} DuckDB-matched")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
