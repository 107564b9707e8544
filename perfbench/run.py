"""graft benchmark: one command, two workloads, every output checked.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <warehouse_load|query_mix>
                           --seed <n> --seconds <s> --trace <0|1>

It builds the program from source when needed (perfbench/build.py),
generates the workload's inputs from the seed (perfbench/gen.py), runs
the JVM side (perfbench/src) as one process with one client, checks the
outputs, and prints a table of every metric with its unit and sample
count, an environment record, and as its last line one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
`--trace 0` reports the end-to-end metrics; `--trace 1` reports the
per-layer metrics of a separate traced run. Inputs and scratch live in
.bench_run/ under the checkout and are removed at exit; the spans of a
traced run are kept in .bench_run/traces/.
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("warehouse_load", "query_mix")
JVM_TIMEOUT_S = 140
HEAP = "2g"
# warehouse_load runs on C1 only (-XX:TieredStopAtLevel=1): on tiered C2
# the engine's code keeps compiling for far longer than a run can afford,
# its compile threads take cores from the unit, and walls differed from
# process to process. A short-lived `graft build` process runs mostly C1
# code anyway. query_mix keeps tiered C2: on C1 a pass took half as long
# again and a run about 8 s more, and its walls were no steadier.
JIT_FLAGS = {"warehouse_load": ["-XX:TieredStopAtLevel=1"], "query_mix": []}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def nproc():
    return len(os.sched_getaffinity(0))


def cpu_stat():
    """(steal, total) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields[:8])


def box_probe():
    """Seconds a fixed single-threaded CPU loop takes. A shared host gives
    a run more or less speed than the last one; this shows how much."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i % 7
    return time.perf_counter() - t0


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def load_strata():
    with open(os.path.join(HERE, "strata.json")) as f:
        return json.load(f)


def oracle_failures(data_dir, out_dir, queries):
    """Queries whose output differs from their DuckDB oracle SQL, using
    the repo's own comparison (tools/check_oracle.py)."""
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                        data_dir, out_dir], capture_output=True, text=True, timeout=30)
    passed = set(re.findall(r"^PASS (\S+)", r.stdout, re.M))
    return {q for q in queries if q not in passed}, r.stdout


def run_jvm(classpath, workload, spec_path, seconds, trace, work):
    out = os.path.join(work, "result.json")
    spans = os.path.join(work, "spans.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC"] + JIT_FLAGS[workload]
           + [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
              f"-Dspark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
              f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", workload, spec_path, str(seconds),
              str(trace), out, spans])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc()))
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"JVM side exceeded {JVM_TIMEOUT_S} s")
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"JVM side exited {code}:\n{tail}")
    with open(out) as f:
        result = json.load(f)
    with open(spans) as f:
        return result, json.load(f)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    classpath = build.build()
    work = os.path.join(ROOT, ".bench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        strata = load_strata()
        spec = gen.generate(args.workload, args.seed, work, strata)
        if args.workload == "query_mix":
            spec["stratum_of"] = {q: s for s in ("job_heavy", "compute_heavy")
                                  for q in strata[s]}
            spec["oracle_out"] = os.path.join(work, "oracle_out")
        spec_path = os.path.join(work, "spec.json")
        with open(spec_path, "w") as f:
            json.dump(spec, f)

        probe0, load0, (steal0, total0), t0 = box_probe(), loadavg(), cpu_stat(), time.time()
        result, spans = run_jvm(classpath, args.workload, spec_path, args.seconds,
                                args.trace, work)
        load1, (steal1, total1), probe1 = loadavg(), cpu_stat(), box_probe()

        failed_queries, oracle_log = set(), ""
        if args.workload == "query_mix":
            failed_queries, oracle_log = oracle_failures(
                spec["data"], spec["oracle_out"], spec["queries"])
        attempted, failed, latencies, failures = stats.evaluate(
            result["units"], failed_queries)
        units = result["units"]
        if args.trace:
            metrics = stats.per_layer(result, spans, latencies, args.workload)
            units_of = stats.PER_LAYER
            n_traced = sum(1 for u in units if u["traced"])
            counts = {k: n_traced for k in metrics}
            counts.update({k: 1 for k in metrics if k.startswith("setup.")})
            counts.update({"jvm.gc_s": len(units), "jvm.jit_s": len(units)})
            if args.workload == "query_mix":
                counts.update({"queries.op_p50_s": len(latencies),
                               "queries.op_p90_s": len(latencies)})
            trace_dir = os.path.join(ROOT, ".bench_run", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(trace_dir, f"{args.workload}-{args.seed}.json"), "w") as f:
                json.dump(spans, f)
        else:
            metrics = stats.end_to_end(result, attempted, failed)
            units_of = stats.END_TO_END
            counts = {"setup_s": 1, "wall_s": len(units), "cpu_s": len(units),
                      "ok_rate": attempted, "retained_heap_mb": 1}

        env = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "nproc": nproc(), "jvm": result["env"], "heap": HEAP,
            "jit_flags": JIT_FLAGS[args.workload],
            "loadavg_before": load0, "loadavg_after": load1,
            "box_probe_s": [probe0, probe1],
            "steal_share": (steal1 - steal0) / (total1 - total0) if total1 > total0 else 0.0,
            "run_wall_s": time.time() - t0,
            "measured_units": len(units),
            "jvm_jit_s_measured": sum(u["jit_s"] for u in units),
            "jvm_gc_s_measured": sum(u["gc_s"] for u in units),
            "warmup_walls_s": result["setup"]["warmup_walls_s"],
            "unit_walls_s": [u["wall_s"] for u in units],
        }
        print("# environment " + json.dumps(env, sort_keys=True))
        if args.workload == "query_mix":
            print("# queries " + " ".join(spec["queries"]))
            if failed_queries:
                print("# oracle failures: " + " ".join(sorted(failed_queries)))
                print(oracle_log[-2000:])
        for op_id, status in sorted(set(failures))[:20]:
            print(f"# failed op {op_id}: {status}")
        print(f"# {'metric':<32} {'value':>14} {'unit':<6} n")
        for k, v in metrics.items():
            print(f"# {k:<32} {v:>14.6g} {units_of[k]:<6} {counts.get(k, 0)}")
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units_of[k]} for k, v in metrics.items()},
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    try:
        main()
    except (build.BuildError, RuntimeError, subprocess.SubprocessError, OSError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
