"""Smoke test: every workload once at sf0.001, untraced and traced, with
the shortest measuring window. Builds on first use; takes a few minutes,
so it runs only with PERFBENCH_SMOKE=1.

    PERFBENCH_SMOKE=1 python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import layers  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


class Contract(unittest.TestCase):
    """BENCHMARK.json names exactly what run.py reports."""

    def test_metric_and_workload_names(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual([w["name"] for w in bench["workloads"]],
                         workloads.WORKLOADS)
        self.assertEqual([(m["name"], m["unit"])
                          for m in bench["end_to_end"]], run.E2E)
        self.assertEqual([(m["name"], m["unit"])
                          for m in bench["per_layer"]], layers.PER_LAYER)


@unittest.skipUnless(os.environ.get("PERFBENCH_SMOKE") == "1",
                     "set PERFBENCH_SMOKE=1 to run the benchmark smoke")
class Smoke(unittest.TestCase):
    def run_bench(self, workload, trace):
        r = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"),
             "--workload", workload, "--seed", "1", "--seconds", "1",
             "--trace", str(trace)],
            cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900)
        self.assertEqual(r.returncode, 0)
        return json.loads(r.stdout.strip().splitlines()[-1])

    def test_every_workload(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        for w in workloads.WORKLOADS:
            for trace, names in ((0, bench["end_to_end"]),
                                 (1, bench["per_layer"])):
                with self.subTest(workload=w, trace=trace):
                    res = self.run_bench(w, trace)
                    self.assertEqual(set(res), {"correct", "attempted",
                                                "failed", "metrics"})
                    self.assertTrue(res["correct"])
                    self.assertEqual(res["failed"], 0)
                    self.assertGreaterEqual(res["attempted"], 1)
                    self.assertEqual(set(res["metrics"]),
                                     {m["name"] for m in names})


if __name__ == "__main__":
    unittest.main()
