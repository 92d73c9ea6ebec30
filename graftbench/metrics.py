"""Metrics of one benchmark run, computed from the harness's JSON-lines
output: end-to-end metrics from the query records, per-layer metrics from
the span trace of a traced run."""
import statistics

# name -> unit; the order is the print order
END_TO_END = {
    "setup_s": "s",
    "cold_s": "s",
    "warm_s": "s",
    "heap_live_peak_mb": "MB",
}

PER_LAYER = {
    "construct.ms": "ms",
    "construct.jobs": "count",
    "driver.outside_jobs_ms": "ms",
    "catalyst.plan_ms": "ms",
    "catalyst.executions": "count",
    "codegen.compile_ms": "ms",
    "codegen.compiles": "count",
    "codegen.warm_compiles": "count",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.job_wall_ms": "ms",
    "exec.task_run_ms": "ms",
    "exec.task_cpu_ms": "ms",
    "exec.task_wait_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.failed_tasks": "count",
    "shuffle.write_mb": "MB",
    "shuffle.read_mb": "MB",
    "shuffle.fetch_wait_ms": "ms",
    "shuffle.spill_mb": "MB",
    "shuffle.scratch_peak_mb": "MB",
    "scan.input_mb": "MB",
    "scan.rows": "count",
    "cache.stored_mb": "MB",
    "cache.flush_ms": "ms",
    "sources.write_mb": "MB",
    "sources.write_rows": "count",
    "trace.warm_s": "s",
}

MB = 1048576.0


def tail_rank(n):
    """Index (0-based, ascending order) of the highest percentile that has
    at least ten samples beyond it, and that percentile."""
    if n <= 10:
        return n - 1, 100.0
    return n - 11, 100.0 * (n - 10) / n


# Pass 0 is the cold pass. The first warm pass still runs well above the
# later ones while the JIT compiles the hot paths, so it is a warm-up
# pass; the passes after it are the measured ("later") passes.
WARMUP_PASSES = 1


def measured(p):
    """Whether pass number `p` is a measured warm pass."""
    return p > WARMUP_PASSES


def warm_s(queries):
    """The median over the measured warm passes of the summed query walls,
    in seconds."""
    sums = {}
    for q in queries:
        if measured(q["pass"]):
            sums[q["pass"]] = sums.get(q["pass"], 0.0) + q["wall_ms"]
    return statistics.median(sums.values()) / 1000.0


def end_to_end(setup, queries, passes_):
    """setup, queries, passes_: the setup record and the query and pass
    records of one run."""
    cold = [q for q in queries if q["pass"] == 0]
    passes = sorted({q["pass"] for q in queries if q["pass"] > 0})
    pass_sums = [sum(q["wall_ms"] for q in queries if q["pass"] == p) for p in passes]
    samples = sorted(q["wall_ms"] for q in queries if measured(q["pass"]))
    i, pct = tail_rank(len(samples))
    m = {
        "setup_s": setup["ms"] / 1000.0,
        "cold_s": sum(q["wall_ms"] for q in cold) / 1000.0,
        "warm_s": warm_s(queries),
        "heap_live_peak_mb": max(p["heap_mb"] for p in passes_
                                 if p["heap_mb"] is not None),
    }
    info = {"query_p50_ms": statistics.median(samples),
            "query_tail_ms": samples[i], "tail_percentile": pct,
            "warm_samples": len(samples),
            "warm_passes": len(passes),
            "pass_walls_s": [sum(q["wall_ms"] for q in cold) / 1000.0]
            + [w / 1000.0 for w in pass_sums]}
    return m, info


def union_ms(intervals, lo, hi):
    """Length of the union of [a, b] intervals, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def build_tree(spans):
    """Assign every span a parent. Harness spans carry theirs. A job's
    parent is its SQL execution when that was traced, else the harness
    span it recorded. A SQL execution's parent is the harness span of
    its first job, else the innermost harness span open when it started."""
    by_id = {s["id"]: s for s in spans}
    harness = [s for s in spans if s["id"].startswith("h")]
    sql_hspan = {}
    for s in spans:
        if s["name"] == "job":
            if s.get("sql") in by_id:
                s["parent"] = s["sql"]
                if s.get("hspan"):
                    sql_hspan.setdefault(s["sql"], s["hspan"])
            else:
                s["parent"] = s.get("hspan")
    for s in spans:
        if s["name"] == "sql":
            p = sql_hspan.get(s["id"])
            if p is None:
                # innermost = latest-starting harness span containing t0
                best = None
                for h in harness:
                    if h["t0"] - 1.0 <= s["t0"] <= h["t1"] and (
                            best is None or h["t0"] > best["t0"]):
                        best = h
                p = best["id"] if best else None
            s["parent"] = p
    children = {}
    for s in spans:
        if s.get("parent") in by_id:
            children.setdefault(s["parent"], []).append(s)
    return by_id, children


def subtree(span, children):
    """`span` and every span below it."""
    out, stack = [], [span]
    while stack:
        s = stack.pop()
        out.append(s)
        stack += children.get(s["id"], [])
    return out


def pass_of(span, by_id):
    """The pass number of the pass span above `span`, or None."""
    s = span
    while s is not None:
        if s["name"] == "pass":
            return s["pass"]
        s = by_id.get(s.get("parent"))
    return None


def layers(queries, spans):
    """Per-layer metrics (totals per warm pass, medians over the measured
    warm passes; codegen.compile_ms/compiles per cold pass), per-layer
    self times and a per-query breakdown."""
    by_id, children = build_tree(spans)
    passes = sorted({q["pass"] for q in queries})
    warm_passes = [p for p in passes if measured(p)]

    wall = {(q["pass"], q["q"]): q for q in queries}
    per_pass = {p: {k: 0.0 for k in PER_LAYER} for p in passes}
    per_query = []
    self_ms = {p: {} for p in per_pass}
    for s in spans:
        p = pass_of(s, by_id)
        if p not in per_pass:
            continue
        t = per_pass[p]
        kids = children.get(s["id"], [])
        self_t = (s["t1"] - s["t0"]) - union_ms(
            [(k["t0"], k["t1"]) for k in kids], s["t0"], s["t1"])
        self_ms[p][s["name"]] = self_ms[p].get(s["name"], 0.0) + self_t
        if s["name"] == "job":
            t["exec.jobs"] += 1
            t["exec.stages"] += s["stages"]
            t["exec.tasks"] += s["tasks"]
            t["exec.task_run_ms"] += s["task_run_ms"]
            t["exec.task_cpu_ms"] += s["task_cpu_ms"]
            t["exec.task_wait_ms"] += s["task_wait_ms"]
            t["exec.gc_ms"] += s["gc_ms"]
            t["exec.failed_tasks"] += s["failed_tasks"]
            t["shuffle.write_mb"] += s["shuffle_write_b"] / MB
            t["shuffle.read_mb"] += s["shuffle_read_b"] / MB
            t["shuffle.fetch_wait_ms"] += s["fetch_wait_ms"]
            t["shuffle.spill_mb"] += s["spill_b"] / MB
            t["scan.input_mb"] += s["input_b"] / MB
            t["scan.rows"] += s["input_rows"]
            t["sources.write_mb"] += s["output_b"] / MB
            t["sources.write_rows"] += s["output_rows"]
            h = by_id.get(s.get("hspan"))
            if h is not None and h["name"] == "construct":
                t["construct.jobs"] += 1
        elif s["name"] == "sql":
            t["catalyst.plan_ms"] += s["plan_ms"]
            t["catalyst.executions"] += 1
        elif s["name"] == "construct":
            t["construct.ms"] += s["t1"] - s["t0"]
        elif s["name"] == "query":
            sub = subtree(s, children)
            jw = union_ms([(j["t0"], j["t1"]) for j in sub if j["name"] == "job"],
                          s["t0"], s["t1"])
            rec = wall[(s["pass"], s["q"])]
            outside = rec["wall_ms"] - jw
            t["exec.job_wall_ms"] += jw
            t["driver.outside_jobs_ms"] += outside
            per_query.append({"pass": p, "q": s["q"], "wall_ms": rec["wall_ms"],
                              "span_ms": s["t1"] - s["t0"],
                              "job_wall_ms": jw, "outside_jobs_ms": outside,
                              "jobs": sum(1 for j in sub if j["name"] == "job"),
                              "sql": sum(1 for j in sub if j["name"] == "sql")})
    for q in queries:
        t = per_pass.get(q["pass"])
        if t is None:
            continue
        t["cache.stored_mb"] += q["cache_stored_mb"]
        t["cache.flush_ms"] += q["flush_ms"]
        t["shuffle.scratch_peak_mb"] = max(t["shuffle.scratch_peak_mb"], q["scratch_mb"])
        t["codegen.compile_ms"] += q["codegen_ms"]
        t["codegen.compiles"] += q["codegen_n"]

    def med(k, passes):
        return statistics.median(per_pass[p][k] for p in passes)

    m = {k: med(k, warm_passes) for k in PER_LAYER}
    m["codegen.warm_compiles"] = m["codegen.compiles"]
    m["codegen.compile_ms"] = per_pass[0]["codegen.compile_ms"]
    m["codegen.compiles"] = per_pass[0]["codegen.compiles"]
    m["trace.warm_s"] = warm_s(queries)
    names = sorted({n for p in warm_passes for n in self_ms[p]})
    selfs = {n: statistics.median(self_ms[p].get(n, 0.0) for p in warm_passes)
             for n in names}
    return m, selfs, per_query
