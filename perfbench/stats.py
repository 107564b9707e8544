"""Turns the JVM side's raw observations into the benchmark's metrics.

Pure functions over plain data, so the self-tests can feed them made-up
observations: which ops count as correct, the percentile rule, span
self time, and the end-to-end and per-layer metric sets.
"""
import math
import statistics

OK_STATUSES = ("success", "pass")

# name -> unit. The order is the print order; BENCHMARK.json lists the same
# names (a self-test checks it).
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "cpu_s": "s",
    "ok_rate": "ratio",
    "retained_heap_mb": "MB",
}

SPAN_NAMES = ("unit", "parse", "engine_init", "dag_select", "build", "artifacts",
              "node", "query", "spark_job")

PER_LAYER = {
    "parse.full_s": "s", "parse.partial_s": "s", "parse.files_parsed": "count",
    "render.compile_s": "s", "render.compile_ms_p50": "ms", "graph.dag_select_s": "s",
    "run.engine_init_s": "s", "run.build_s": "s", "run.queue_wait_s": "s",
    "run.queue_wait_ms_p90": "ms", "run.worker_busy_share": "ratio",
    "run.node_ms_p50": "ms", "run.node_ms_p90": "ms", "run.artifacts_s": "s",
    "run.events": "count", "run.log_mb": "MB",
    "spark.analysis_s": "s", "spark.optimization_s": "s", "spark.planning_s": "s",
    "spark.executions": "count", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.job_wall_s": "s", "spark.codegen_s": "s",
    "spark.task_s": "s", "spark.task_cpu_s": "s", "spark.shuffle_mb": "MB",
    "spark.spill_mb": "MB",
    "queries.job_heavy_s": "s", "queries.compute_heavy_s": "s",
    "queries.jobs_per_query": "count", "queries.op_p50_s": "s", "queries.op_p90_s": "s",
    "exec.written_mb": "MB", "exec.write_amp": "ratio", "exec.files_written": "count",
    "exec.commit_dirs": "count", "exec.stored_mb": "MB",
    "exec.table_ms_p50": "ms", "exec.merge_ms_p50": "ms", "exec.pruned_merge_ms_p50": "ms",
    "exec.append_ms_p50": "ms", "exec.delete_insert_ms_p50": "ms",
    "exec.insert_overwrite_ms_p50": "ms", "exec.snapshot_ms_p50": "ms",
    "exec.seed_ms_p50": "ms", "exec.test_ms_p50": "ms",
    "setup.session_s": "s", "setup.cold_unit_s": "s", "setup.warmup_units": "count",
    "setup.cold_excess_s": "s",
    "jvm.gc_s": "s", "jvm.jit_s": "s",
    "trace.overhead_s": "s", "trace.overhead_share": "ratio",
}
PER_LAYER.update({f"self.{n}_s": "s" for n in SPAN_NAMES})

EXEC_KINDS = ("table", "merge", "pruned_merge", "append", "delete_insert",
              "insert_overwrite", "snapshot", "seed", "test")


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def percentile(xs, p, min_beyond=10):
    """Nearest-rank p-th percentile, or None unless at least `min_beyond`
    samples lie beyond it. Failed ops enter as +inf, so they count as
    missing any latency the percentile would promise."""
    s = sorted(xs)
    if not s:
        return None
    k = max(0, math.ceil(p / 100.0 * len(s)) - 1)
    if len(s) - (k + 1) < min_beyond:
        return None
    return s[k]


def spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else 0.0


def evaluate(units, failed_queries=()):
    """Per-op correctness over the measured units.

    An op is ok when its status is success/pass, every check attached to
    it (`<op id>#<what>`) has actual == expected, and it is not a query
    whose output failed the oracle comparison. Returns (attempted,
    failed, latencies, failures) where a failed op's latency is +inf
    and failures lists (op id, reason) of each failed op."""
    attempted = failed = 0
    latencies = []
    failures = []
    for u in units:
        bad = {}
        for key, c in u.get("checks", {}).items():
            op, _, what = key.partition("#")
            if c["actual"] != c["expected"]:
                bad[op] = f"{what}: {c['actual']} != expected {c['expected']}"
        for op in u["ops"]:
            attempted += 1
            why = (op["status"][:200] if op["status"] not in OK_STATUSES
                   else bad.get(op["id"]) or
                   ("output differs from its oracle" if op["id"] in failed_queries else None))
            if why:
                failed += 1
                failures.append((op["id"], why))
            latencies.append(math.inf if why else op["latency_s"])
    return attempted, failed, latencies, failures


def self_times(spans):
    """Self time per span name, summed per unit: a span's duration minus
    the part of it its children cover. Spark jobs are children of the
    node or query span whose label is their job group; other jobs belong
    to their unit."""
    by_unit = {}
    for s in spans:
        by_unit.setdefault(s["unit"], []).append(s)
    out = {}
    for unit, ss in by_unit.items():
        by_label = {s["label"]: s["id"] for s in ss if s["name"] in ("node", "query")}
        unit_id = next((s["id"] for s in ss if s["name"] == "unit"), 0)
        children = {}
        for s in ss:
            parent = s["parent"]
            if s["name"] == "spark_job":
                parent = by_label.get(s["label"], unit_id)
            children.setdefault(parent, []).append((s["start_us"], s["end_us"]))
        totals = {}
        for s in ss:
            covered = _covered(s["start_us"], s["end_us"], children.get(s["id"], []))
            totals[s["name"]] = totals.get(s["name"], 0.0) + \
                (s["end_us"] - s["start_us"] - covered) / 1e6
        out[unit] = totals
    return out


def _covered(lo, hi, intervals):
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, cur_lo, cur_hi = 0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def end_to_end(result, attempted, failed):
    units = result["units"]
    return {
        "setup_s": result["setup"]["setup_s"],
        "wall_s": median(u["wall_s"] for u in units),
        "cpu_s": median(u["cpu_s"] for u in units),
        "ok_rate": (attempted - failed) / attempted if attempted else 0.0,
        "retained_heap_mb": result["retained_heap_mb"],
    }


def per_layer(result, spans, latencies, workload):
    """Per-layer metrics from the traced units of a traced run; layers a
    workload bypasses read 0."""
    units = result["units"]
    traced = [u for u in units if u["traced"]]
    untraced = [u for u in units if not u["traced"]]
    m = {k: 0.0 for k in PER_LAYER}

    def med(key):
        return median(u["layers"][key] for u in traced if key in u["layers"])

    def pooled(key):
        return [x for u in traced for x in u["layers"].get(key, [])]

    # layer values a traced unit reports as one number per unit
    for key in PER_LAYER:
        if any(isinstance(u["layers"].get(key), (int, float)) for u in traced):
            m[key] = med(key)
    m["render.compile_ms_p50"] = median(pooled("render.compile_ms"))
    m["run.node_ms_p50"] = median(pooled("run.node_ms"))
    m["run.node_ms_p90"] = percentile(pooled("run.node_ms"), 90) or 0.0
    m["run.queue_wait_ms_p90"] = percentile(pooled("run.queue_wait_ms"), 90) or 0.0
    delta = med("exec.delta_mb")
    if workload == "warehouse_load" and delta:
        m["exec.write_amp"] = m["exec.written_mb"] / delta
    else:
        for key in ("exec.written_mb", "exec.files_written", "exec.commit_dirs", "exec.stored_mb"):
            m[key] = 0.0
    for kind in EXEC_KINDS:
        m[f"exec.{kind}_ms_p50"] = median(
            x for u in traced for x in u["layers"].get("exec.kind_ms", {}).get(kind, []))
    if workload == "query_mix":
        m["queries.op_p50_s"] = median(latencies) if latencies else 0.0
        m["queries.op_p90_s"] = percentile(latencies, 90) or 0.0
    setup = result["setup"]
    m["setup.session_s"] = setup["session_s"]
    m["setup.cold_unit_s"] = setup["cold_unit_s"]
    m["setup.warmup_units"] = setup["warmup_units"]
    m["setup.cold_excess_s"] = setup["cold_unit_s"] - median(u["wall_s"] for u in units)
    m["jvm.gc_s"] = median(u["gc_s"] for u in units)
    m["jvm.jit_s"] = median(u["jit_s"] for u in units)
    if traced and untraced:
        base = median(u["wall_s"] for u in untraced)
        m["trace.overhead_s"] = median(u["wall_s"] for u in traced) - base
        m["trace.overhead_share"] = m["trace.overhead_s"] / base if base else 0.0
    selfs = self_times(spans)
    for name in SPAN_NAMES:
        m[f"self.{name}_s"] = median(t.get(name, 0.0) for t in selfs.values()) if selfs else 0.0
    return m
