#!/usr/bin/env python3
"""Run one benchmark workload of the graft engine and print its metrics.

    python3 graftbench/run.py --workload grid --seed 1 --seconds 15 --trace 0

Builds the engine from source on first use (build.py), then runs the
workload's pinned query list in one fresh JVM at local[min(nproc, 4)] with
one client in a closed loop: one set-up, a cold pass, then five warm
passes, the first of them a warm-up that is not measured. The shape of a
run is fixed so that runs stay comparable;
--seconds is accepted for the benchmark interface, and a run always
measures longer than the 15 s declared in BENCHMARK.json. The seed only
permutes query order within each pass.
Every query result is checked against its expected row count and
fingerprint. The last stdout line is one JSON object with `correct`,
`attempted`, `failed` and `metrics` (end-to-end metrics, or with
--trace 1 the per-layer metrics); the trace of a traced run is kept under
<build dir>/traces. Exit code 0 only when every query passed.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)
sys.dont_write_bytecode = True  # write nothing into the benchmark's directory
import build  # noqa: E402
import metrics  # noqa: E402

DEFAULT_DATA = "/root/testdata/sf0.1"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
JVM_TIMEOUT_S = 170  # a run must end within 180 s once the build is done
JVM_OPTS = [
    "-Xmx3g", "-XX:+UseParallelGC",  # build.sbt's run/test collector
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [x for p in [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
] for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


class Fail(Exception):
    """A failure that ends the run: exit non-zero, print no result."""


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def load_json(path):
    with open(path) as f:
        return json.load(f)


def data_files(data):
    out = {}
    for t in TABLES:
        p = os.path.join(data, f"{t}.parquet")
        if not os.path.isfile(p):
            raise Fail(f"test data table {p} is missing")
        with open(p, "rb") as f:
            out[t] = hashlib.sha256(f.read()).hexdigest()
    return out


def cpus():
    return max(1, min(os.cpu_count() or 1, 4))


def run_jvm(cp, args, scratch, timeout_s):
    """Run the harness JVM in `scratch` (its working directory and temp
    root); returns (exit code, log text)."""
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(scratch, "local"))
    log_path = os.path.join(scratch, "jvm.log")
    cmd = ["java"] + JVM_OPTS + [
        "-Djava.io.tmpdir=" + os.path.join(scratch, "tmp"),
        "-cp", cp, "graftbench.Harness"] + args
    with open(log_path, "w") as lf:
        p = subprocess.Popen(cmd, cwd=scratch, stdout=lf, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            code = p.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    with open(log_path, errors="replace") as f:
        text = f.read()
    if code is None:
        raise Fail(f"harness JVM did not finish within {timeout_s:.0f} s\n"
                   + "\n".join(text.splitlines()[-20:]))
    return code, text


def harness(cp, mode, queries, data, scratch_parent, timeout_s, **kv):
    """Run the harness once in a fresh scratch root (deleted afterwards);
    returns its parsed JSON-lines output."""
    os.makedirs(scratch_parent, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="run-", dir=scratch_parent)
    try:
        for d in ("local", "tmp", "warehouse"):
            os.makedirs(os.path.join(scratch, d))
        qfile = os.path.join(scratch, "queries.txt")
        with open(qfile, "w") as f:
            f.write("".join(n + "\n" for n in queries))
        out = os.path.join(scratch, "out.jsonl")
        args = [f"mode={mode}", f"data={data}", f"cpus={cpus()}",
                f"queries={qfile}", f"out={out}",
                "localDir=" + os.path.join(scratch, "local"),
                "warehouse=" + os.path.join(scratch, "warehouse")]
        args += [f"{k}={v}" for k, v in kv.items()]
        code, text = run_jvm(cp, args, scratch, timeout_s)
        recs = []
        if os.path.isfile(out):
            with open(out) as f:
                recs = [json.loads(l) for l in f if l.strip()]
        if code != 0 or not recs or recs[-1]["k"] != "done":
            raise Fail(f"harness JVM exited {code} before finishing\n"
                       + "\n".join(text.splitlines()[-25:]))
        return recs
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def check(workload, queries, expected):
    """Failures of a run: (query, pass, cause) for every query that threw
    or whose row count or fingerprint differs from the expected one."""
    bad = []
    for q in queries:
        e = expected[q["q"]]
        if q["err"]:
            cause = q["err"]
        elif q["rows"] != e["rows"] or q["fp"] != e["fp"]:
            cause = (f"result rows={q['rows']} fp={q['fp']}, expected "
                     f"rows={e['rows']} fp={e['fp']}")
        else:
            continue
        bad.append((q["q"], q["pass"], cause))
    for name, p, cause in bad:
        log(f"FAILED workload={workload} query={name} pass={p}: {cause}")
    return bad


def main():
    ap = argparse.ArgumentParser(description="Run one graft benchmark workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--data", default=os.environ.get("GRAFTBENCH_DATA", DEFAULT_DATA))
    ap.add_argument("--expected", help="expected fingerprints (JSON); "
                    "default expected/<data dir name>.json")
    ap.add_argument("--workloads", default=os.path.join(BENCH_DIR, "workloads.json"))
    a = ap.parse_args()
    try:
        wls = load_json(a.workloads)
        if a.workload not in wls:
            raise Fail(f"unknown workload {a.workload!r}; known: {', '.join(wls)}")
        names = wls[a.workload]["queries"]
        data = os.path.abspath(a.data)
        exp_path = a.expected or os.path.join(
            BENCH_DIR, "expected", os.path.basename(data.rstrip("/")) + ".json")
        if not os.path.isfile(exp_path):
            raise Fail(f"no expected fingerprints at {exp_path}")
        exp = load_json(exp_path)
        if data_files(data) != exp["data"]:
            raise Fail(f"test data at {data} differs from the data the expected "
                       f"fingerprints in {exp_path} were made from")
        missing = [n for n in names if n not in exp["queries"]]
        if missing:
            raise Fail(f"no expected fingerprint for {', '.join(missing)}")
        bdir = build.build_dir()
        cp = build.ensure_built(bdir)
        scratch_parent = os.path.join(bdir, "scratch")
        recs = harness(cp, "run", names, data, scratch_parent, JVM_TIMEOUT_S,
                       seed=a.seed, trace=a.trace)
    except (Fail, build.BuildError, subprocess.TimeoutExpired, OSError, ValueError) as e:
        log(f"workload={a.workload} seed={a.seed}: {e}")
        sys.exit(1)

    setup = next(r for r in recs if r["k"] == "setup")
    queries = [r for r in recs if r["k"] == "query"]
    spans = [r for r in recs if r["k"] == "span"]
    bad = check(a.workload, queries, exp["queries"])
    attempted, failed = len(queries), len(bad)
    e2e, info = metrics.end_to_end(setup, queries, [r for r in recs if r["k"] == "pass"])
    print(f"workload={a.workload} seed={a.seed} queries={len(names)} "
          f"passes={info['warm_passes'] + 1} cpus={cpus()} data={data}")
    print(f"failed_frac {failed / attempted:.6f} ({failed} of {attempted})")
    print(f"query_p50_ms {info['query_p50_ms']:.4f} ms is the median of "
          f"{info['warm_samples']} warm samples")
    print(f"query_tail_ms {info['query_tail_ms']:.4f} ms is p{info['tail_percentile']:.1f} "
          f"of {info['warm_samples']} warm samples")
    print("pass_walls_s " + " ".join(f"{v:.3f}" for v in info["pass_walls_s"]))
    if a.trace:
        layer, selfs, per_query = metrics.layers(queries, spans)
        tdir = os.path.join(bdir, "traces")
        os.makedirs(tdir, exist_ok=True)
        stem = os.path.join(tdir, f"{a.workload}-seed{a.seed}")
        with open(stem + ".jsonl", "w") as f:
            for r in recs:
                f.write(json.dumps(r) + "\n")
        with open(stem + ".summary.json", "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "layers": layer,
                       "self_ms": selfs, "per_query": per_query,
                       "end_to_end": e2e}, f, indent=1)
        for k, v in sorted(selfs.items()):
            print(f"self_ms.{k} {v:.3f} ms")
        print(f"trace written to {stem}.jsonl")
        shown = {k: (layer[k], u) for k, u in metrics.PER_LAYER.items()}
    else:
        shown = {k: (e2e[k], u) for k, u in metrics.END_TO_END.items()}
    for k, (v, u) in shown.items():
        print(f"{k} {v:.4f} {u}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed,
                      "metrics": {k: {"value": round(v, 6), "unit": u}
                                  for k, (v, u) in shown.items()}}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
