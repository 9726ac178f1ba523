"""Self-tests of the benchmark.

    python3 -m unittest discover -s perfbench/tests -v

The dry-run tests build the library and run every workload at the tiny
size (a few minutes on 4 cores).
"""

import json
import os
import re
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import metrics  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def load(path):
    with open(path) as fh:
        return json.load(fh)


def span(i, name, parent, start, end, cycle=1):
    """A span at [start, end] milliseconds."""
    return {"id": i, "name": name, "parent": parent, "cycle": cycle,
            "start_ms": start, "end_ms": end,
            "start_ns": start * 1000000, "end_ns": end * 1000000}


class MetricNames(unittest.TestCase):
    def test_every_metric_name_is_well_formed_and_unique(self):
        bench = load(os.path.join(ROOT, "BENCHMARK.json"))
        names = [m["name"] for key in ("end_to_end", "per_layer") for m in bench[key]]
        names += [w["name"] for w in bench["workloads"]]
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9_.-]+$")
            self.assertRegex(n, NAME)
        self.assertEqual(len(names), len(set(names)))

    def test_layer_metrics_cover_the_declared_layers(self):
        bench = load(os.path.join(ROOT, "BENCHMARK.json"))
        declared = {m["name"] for m in bench["per_layer"]}
        produced = {f"{l}.{f}" for l in metrics.LAYERS for f in metrics.LAYER_FIELDS}
        produced |= {"driverloop.jobs_per_step", "trace_overhead_pct"}
        self.assertEqual(declared, produced)

    def test_spec_names_the_benchmark_workloads(self):
        bench = load(os.path.join(ROOT, "BENCHMARK.json"))
        spec = load(os.path.join(BENCH, "spec.json"))
        self.assertEqual({w["name"] for w in bench["workloads"]}, set(spec["workloads"]))


class SpanArithmetic(unittest.TestCase):
    # cycle [0, 100]; a [10, 40] with children a1 [15, 25] and a2 [20, 30]
    # (overlapping), b [50, 90] with child b1 [80, 120] running past b's end
    TREE = [span(0, "cycle", -1, 0, 100), span(1, "a", 0, 10, 40),
            span(2, "a1", 1, 15, 25), span(3, "a2", 1, 20, 30),
            span(4, "b", 0, 50, 90), span(5, "b1", 4, 80, 120)]

    def test_self_time_is_duration_minus_covered_child_time(self):
        st = {k: v / 1e6 for k, v in metrics.self_times_ns(self.TREE).items()}
        self.assertEqual(st[0], 100 - 30 - 40)
        self.assertEqual(st[1], 30 - 15)  # children cover [15, 30]
        self.assertEqual(st[2], 10)
        self.assertEqual(st[4], 40 - 10)  # only [80, 90] lies inside b
        self.assertEqual(st[5], 40)

    def test_union_length(self):
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4)

    def test_job_goes_to_innermost_open_span(self):
        self.assertEqual(metrics.innermost(self.TREE, 22)["name"], "a2")
        self.assertEqual(metrics.innermost(self.TREE, 12)["name"], "a")
        self.assertEqual(metrics.innermost(self.TREE, 45)["name"], "cycle")
        self.assertIsNone(metrics.innermost(self.TREE, 130 + 1))

    def test_layer_metrics_on_a_synthetic_trace(self):
        spans = [span(0, "cycle", -1, 0, 100), span(1, "featurize", 0, 10, 30),
                 span(2, "driverloop", 0, 40, 80), span(3, "driverloop", 0, 82, 90)]
        record = {
            "cores": 4,
            "trace": {
                "spans": spans,
                "jobs": [{"id": 0, "start_ms": 12, "end_ms": 20, "ok": True},
                         {"id": 1, "start_ms": 41, "end_ms": 50, "ok": True},
                         {"id": 2, "start_ms": 60, "end_ms": 70, "ok": True},
                         {"id": 3, "start_ms": 85, "end_ms": 88, "ok": True},
                         {"id": 4, "start_ms": 95, "end_ms": 99, "ok": True}],
                "task_fields": ["job", "stage", "duration_ms", "run_ms",
                                "shuffle_read_b", "shuffle_write_b", "spill_b"],
                "tasks": [[0, 0, 8, 8, 0, 1 << 20, 0], [0, 0, 4, 4, 0, 1 << 20, 0],
                          [1, 1, 2, 2, 1 << 20, 0, 0], [2, 2, 6, 6, 0, 0, 0],
                          [3, 3, 4, 4, 0, 0, 1 << 21]],
                "sql_starts_ms": [11, 41, 95],
            },
            "layer_cycles": [{"driverloop_steps": 3}],
            "cycles": [{"calls": [{"kind": "fit", "wall_s": 2.0, "forecasts": 0}], "cpu_s": 1.0}],
            "traced_cycle_s": [2.1],
        }
        m = metrics.layer_metrics(record)
        self.assertAlmostEqual(m["featurize.s"], 0.020)
        self.assertEqual(m["featurize.jobs"], 1)
        self.assertEqual(m["featurize.sql_execs"], 1)
        self.assertEqual(m["featurize.tasks"], 2)
        self.assertEqual(m["featurize.shuffle_write_mb"], 2.0)
        self.assertEqual(m["featurize.task_p50_ms"], 6)
        self.assertEqual(m["featurize.task_max_ms"], 8)
        self.assertAlmostEqual(m["featurize.busy_frac"], 0.012 / (0.020 * 4))
        self.assertAlmostEqual(m["driverloop.s"], 0.048)
        self.assertEqual(m["driverloop.jobs"], 3)
        self.assertEqual(m["driverloop.spill_mb"], 2.0)
        self.assertEqual(m["driverloop.jobs_per_step"], 1.0)
        self.assertEqual(m["update.jobs"], 0)
        self.assertAlmostEqual(m["trace_overhead_pct"], 5.0)


class DryRun(unittest.TestCase):
    """Every workload at the tiny size: the run is correct and reports
    every metric BENCHMARK.json declares, each a finite number."""

    def run_bench(self, workload, trace):
        cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
               "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
        res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                             text=True, timeout=900)
        self.assertEqual(res.returncode, 0, res.stderr[-3000:])
        return json.loads(res.stdout.strip().splitlines()[-1])

    def check(self, result, key):
        bench = load(os.path.join(ROOT, "BENCHMARK.json"))
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(result["failed"], 0)
        declared = {m["name"]: m["unit"] for m in bench[key]}
        self.assertEqual(set(result["metrics"]), set(declared))
        for name, v in result["metrics"].items():
            self.assertEqual(v["unit"], declared[name])
            self.assertIsInstance(v["value"], (int, float), name)

    def test_end_to_end_metrics(self):
        for w in load(os.path.join(ROOT, "BENCHMARK.json"))["workloads"]:
            with self.subTest(workload=w["name"]):
                self.check(self.run_bench(w["name"], 0), "end_to_end")

    def test_per_layer_metrics(self):
        seen = {}
        for w in load(os.path.join(ROOT, "BENCHMARK.json"))["workloads"]:
            with self.subTest(workload=w["name"]):
                res = self.run_bench(w["name"], 1)
                self.check(res, "per_layer")
                seen[w["name"]] = {k: v["value"] for k, v in res["metrics"].items()}
        # the driver loop runs only on the pooled workload, the fused loop
        # only on the per-series ones
        for name, m in seen.items():
            self.assertEqual(m["driverloop.jobs"] > 0, name == "pooled_lockstep", name)
            self.assertEqual(m["localloop.s"] > 0, name != "pooled_lockstep", name)


if __name__ == "__main__":
    unittest.main()
