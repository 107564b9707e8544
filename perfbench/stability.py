"""Repeated runs of the benchmark, one seed each, and the spread of every
end-to-end metric: median, quartiles (statistics.quantiles, n=4) and the
inter-quartile distance as a share of the median, checked against the
metric's bound in BENCHMARK.json.

Usage (from the root of a checkout):
  python3 perfbench/stability.py --workload warehouse_load --seeds 1-10 \
      [--out perfbench/stability/warehouse_load.json]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402


def seeds_arg(s):
    """"1-10" is seeds 1 to 10; "3,3,3" repeats seed 3 (host noise alone)."""
    if "," in s:
        return [int(x) for x in s.split(",")]
    lo, _, hi = s.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, required=True)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    runs = []
    for seed in args.seeds:
        t0 = time.time()
        r = subprocess.run(bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True)
        lines = r.stdout.strip().splitlines()
        env = next((json.loads(l[len("# environment "):]) for l in lines
                    if l.startswith("# environment ")), {})
        result = json.loads(lines[-1]) if r.returncode == 0 and lines else None
        runs.append({"seed": seed, "exit": r.returncode, "elapsed_s": round(time.time() - t0, 1),
                     "result": result,
                     "env": {k: env.get(k) for k in ("loadavg_before", "loadavg_after",
                                                     "box_probe_s", "steal_share",
                                                     "jvm_jit_s_measured",
                                                     "jvm_gc_s_measured", "unit_walls_s",
                                                     "warmup_walls_s")}})
        print(f"seed {seed}: exit {r.returncode} in {runs[-1]['elapsed_s']} s "
              f"{json.dumps(result['metrics'] if result else r.stderr[-500:])}", flush=True)
    summary = {}
    ok = [r["result"] for r in runs if r["result"]]
    for m in bench["end_to_end"]:
        values = [r["metrics"][m["name"]]["value"] for r in ok]
        if len(values) < 2:
            continue
        q1, med, q3 = statistics.quantiles(values, n=4)
        summary[m["name"]] = {"median": med, "q1": q1, "q3": q3,
                              "spread": stats.spread(values), "bound": m["bound"],
                              "values": values}
    doc = {"workload": args.workload, "run_seconds": bench["run_seconds"],
           "runs": runs, "summary": summary}
    for name, s in summary.items():
        print(f"{name:<18} median {s['median']:.4g}  q1 {s['q1']:.4g}  q3 {s['q3']:.4g}  "
              f"spread {s['spread']:.3f}  bound {s['bound']}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(doc, f, indent=1)


if __name__ == "__main__":
    main()
