"""Self-tests of the benchmark's own logic (no JVM needed).

Run from the root of a checkout:
  python3 -m unittest discover -s perfbench/tests -v
"""
import hashlib
import json
import math
import os
import shutil
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import stats  # noqa: E402

SCRATCH = os.path.join(ROOT, ".bench_run", "selftest")


def tree_digest(root):
    """{relative path: sha256} of every generated input under root (the
    spec, which names where they are, is left out)."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f == "spec.json":
                continue
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def load_strata():
    with open(os.path.join(BENCH, "strata.json")) as f:
        return json.load(f)


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def tearDown(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def _gen(self, workload, seed, name):
        work = os.path.join(SCRATCH, name)
        spec = gen.generate(workload, seed, work, load_strata())
        return spec, tree_digest(work)

    def test_same_seed_same_bytes_other_seed_differs(self):
        for workload in ("warehouse_load", "query_mix"):
            with self.subTest(workload=workload):
                _, a = self._gen(workload, 7, f"{workload}-a")
                _, b = self._gen(workload, 7, f"{workload}-b")
                _, c = self._gen(workload, 8, f"{workload}-c")
                self.assertEqual(a, b)
                self.assertGreater(len(a), 3)
                self.assertNotEqual(a, c)

    def test_delta_shares(self):
        spec, _ = self._gen("warehouse_load", 3, "wh")
        import pyarrow.parquet as pq
        d = pq.read_table(os.path.join(SCRATCH, "wh", spec["deltas"][0])).to_pydict()
        keys = d["o_orderkey"]
        self.assertEqual(len(keys), len(set(keys)))
        new = [k for k in keys if k >= gen.WH_ORDERS]
        self.assertEqual(len(new), int(gen.WH_ORDERS * gen.WH_NEW_SHARE))
        self.assertEqual(len(keys) - len(new), int(gen.WH_ORDERS * gen.WH_UPDATE_SHARE))

    def test_expected_nodes_are_the_generated_files(self):
        spec, files = self._gen("warehouse_load", 4, "wh")
        kinds = {"models": "model", "seeds": "seed", "snapshots": "snapshot"}
        parts = [p.split(os.sep) for p in files if p.endswith((".sql", ".csv"))]
        written = {f"{kinds[d]}.{os.path.splitext(f)[0]}"
                   for top, d, f in parts if top == "project" and d in kinds}
        self.assertEqual(set(spec["expected_nodes"]), written)
        self.assertEqual(len(spec["expected_nodes"]), len(written))

    def test_query_mix_is_the_frozen_mix_in_seeded_order(self):
        strata = load_strata()
        a, b = gen.draw_queries(1, strata), gen.draw_queries(1, strata)
        self.assertEqual(a, b)
        mix = strata["mix"]
        for name in ("job_heavy", "compute_heavy"):
            self.assertTrue(set(mix[name]) <= set(strata[name]))
        self.assertEqual(len(mix["job_heavy"]), len(mix["compute_heavy"]))
        self.assertEqual(sorted(a), sorted(mix["job_heavy"] + mix["compute_heavy"]))
        self.assertNotEqual([gen.draw_queries(s, strata) for s in range(5)].count(a), 5)


class PercentileTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        xs = list(range(1, 101))           # 100 samples: p90 has 10 beyond
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertIsNone(stats.percentile(xs[:99], 90))   # only 9 beyond
        self.assertIsNone(stats.percentile(list(range(19)), 50))
        self.assertEqual(stats.percentile(list(range(20)), 50), 9)

    def test_spread(self):
        self.assertAlmostEqual(stats.spread([10.0] * 10), 0.0)
        self.assertGreater(stats.spread([9.0, 10.0, 11.0, 12.0, 8.0]), 0.1)


def unit(ops, checks=None, wall=1.0):
    return {"wall_s": wall, "cpu_s": wall, "jit_s": 0.0, "gc_s": 0.0, "traced": False,
            "ops": [{"id": i, "status": s, "latency_s": t} for i, s, t in ops],
            "checks": checks or {}, "layers": {}}


class EvaluateTest(unittest.TestCase):
    def test_thrown_op_is_failed_and_misses_latency(self):
        units = [unit([("q1", "success", 0.5), ("q2", "error: boom", 0.1)])]
        attempted, failed, lat, failures = stats.evaluate(units)
        self.assertEqual((attempted, failed), (2, 1))
        self.assertEqual(lat[0], 0.5)
        self.assertTrue(math.isinf(lat[1]))
        self.assertEqual(failures[0][0], "q2")
        # a failed op is missing any latency bound: it sorts past every success
        many = [unit([(f"q{i}", "success", 0.1) for i in range(10)] +
                     [(f"f{i}", "error: x", 0.01) for i in range(21)])]
        _, _, lat, _ = stats.evaluate(many)
        self.assertTrue(math.isinf(stats.percentile(lat, 50)))

    def test_wrong_output_makes_ok_rate_below_one(self):
        good = {"m1#table": {"actual": "6060/8141", "expected": "6060/8141"}}
        bad = {"m1#table": {"actual": "6059/8140", "expected": "6060/8141"}}
        ops = [("m1", "success", 0.01), ("m2", "success", 0.01)]
        result = {"setup": {"setup_s": 1.0}, "retained_heap_mb": 1.0}
        for checks, want in ((good, 1.0), (bad, 0.5)):
            result["units"] = [unit(ops, checks)]
            attempted, failed, _, _ = stats.evaluate(result["units"])
            self.assertEqual(stats.end_to_end(result, attempted, failed)["ok_rate"], want)

    def test_oracle_failure_fails_every_run_of_the_query(self):
        units = [unit([("q1", "success", 0.5), ("q2", "success", 0.4)])] * 3
        attempted, failed, _, _ = stats.evaluate(units, failed_queries={"q2"})
        self.assertEqual((attempted, failed), (6, 3))


class SelfTimeTest(unittest.TestCase):
    def test_children_and_jobs_are_subtracted(self):
        spans = [
            {"id": 1, "name": "unit", "start_us": 0, "end_us": 100, "parent": 0, "unit": 5, "label": ""},
            {"id": 2, "name": "build", "start_us": 10, "end_us": 90, "parent": 1, "unit": 5, "label": ""},
            {"id": 3, "name": "node", "start_us": 20, "end_us": 60, "parent": 2, "unit": 5, "label": "n1"},
            {"id": 4, "name": "node", "start_us": 40, "end_us": 80, "parent": 2, "unit": 5, "label": "n2"},
            {"id": 5, "name": "spark_job", "start_us": 30, "end_us": 50, "parent": 0, "unit": 5, "label": "n1"},
        ]
        t = stats.self_times(spans)[5]
        self.assertAlmostEqual(t["unit"], 20e-6)         # 100 - build 80
        self.assertAlmostEqual(t["build"], 20e-6)        # 80 - union(20..80)=60
        self.assertAlmostEqual(t["node"], 60e-6)         # (40 - 20) + 40
        self.assertAlmostEqual(t["spark_job"], 20e-6)


class ContractTest(unittest.TestCase):
    def test_printed_metric_names_match_benchmark_json(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
        self.assertEqual(e2e, stats.END_TO_END)
        self.assertEqual(layers, stats.PER_LAYER)
        import run
        self.assertEqual({w["name"] for w in spec["workloads"]}, set(run.WORKLOADS))

    def test_per_layer_reports_every_metric(self):
        result = {"setup": {"setup_s": 3.0, "session_s": 1.0, "cold_unit_s": 1.5,
                            "warmup_units": 2},
                  "retained_heap_mb": 1.0,
                  "units": [unit([("a", "success", 0.1)]), dict(unit([("a", "success", 0.1)]),
                                                                  traced=True)]}
        m = stats.per_layer(result, [], [0.1, 0.1], "warehouse_load")
        self.assertEqual(set(m), set(stats.PER_LAYER))


if __name__ == "__main__":
    unittest.main()
