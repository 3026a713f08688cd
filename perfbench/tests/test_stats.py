"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import layers  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        v = list(range(1, 101))
        self.assertEqual(stats.percentile(v, 0.5), 50)
        self.assertEqual(stats.percentile(v, 0.9), 90)
        self.assertEqual(stats.percentile(list(reversed(v)), 0.9), 90)

    def test_harrell_davis(self):
        v = [float(x) for x in range(1, 12)]
        self.assertAlmostEqual(stats.harrell_davis(v, 0.5), 6.0, places=6)
        self.assertAlmostEqual(stats.harrell_davis([3.0] * 7, 0.5), 3.0)
        # unlike the plain median, one op crossing its neighbour moves it
        # by a fraction of the gap, not the whole gap
        a = stats.harrell_davis([1, 1, 1, 2, 3, 3, 3], 0.5)
        b = stats.harrell_davis([1, 1, 1, 3, 3, 3, 3], 0.5)
        self.assertLess(b - a, 0.5)
        self.assertEqual(stats.harrell_davis([5.0], 0.5), 5.0)

    def test_p90_needs_ten_samples_beyond(self):
        # 100 samples: rank 90, ten beyond it
        self.assertEqual(stats.samples_beyond(100, 0.9), 10)
        value, n = stats.tail(list(range(100)), 0.9)
        self.assertEqual(n, 100)
        self.assertAlmostEqual(value, 89.1, delta=0.5)
        # 99 samples: rank 90, nine beyond it
        self.assertEqual(stats.samples_beyond(99, 0.9), 9)
        self.assertEqual(stats.tail(list(range(99)), 0.9), (None, 99))

    def test_sample_count_always_stated(self):
        self.assertEqual(stats.tail([], 0.9), (None, 0))
        self.assertEqual(stats.tail([1.0] * 18, 0.9)[1], 18)

    def test_median_always_reportable(self):
        self.assertTrue(stats.reportable(1, 0.5))
        self.assertFalse(stats.reportable(0, 0.5))
        self.assertFalse(stats.reportable(40, 0.9))
        self.assertTrue(stats.reportable(40, 0.75))


class SelfTime(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(stats.self_time(0, 10, []), 10)

    def test_overlapping_children_count_once(self):
        # children cover 2..6 and 4..8: union 2..8 = 6
        self.assertEqual(stats.self_time(0, 10, [(2, 6), (4, 8)]), 4)

    def test_nested_and_identical_children(self):
        self.assertEqual(stats.self_time(0, 10, [(1, 9), (2, 3), (1, 9)]), 2)

    def test_children_clipped_to_parent(self):
        # a job that started before the span and ends after it
        self.assertEqual(stats.self_time(5, 10, [(0, 7), (9, 20)]), 2)
        self.assertEqual(stats.self_time(5, 10, [(0, 4)]), 5)

    def test_disjoint_children(self):
        self.assertEqual(stats.self_time(0, 10, [(1, 2), (3, 4), (8, 9)]), 7)


class FailedFrac(unittest.TestCase):
    def test_denominator_is_attempted(self):
        self.assertEqual(stats.failed_frac(40, 0), 0.0)
        self.assertEqual(stats.failed_frac(40, 4), 0.1)
        self.assertEqual(stats.failed_frac(1, 1), 1.0)

    def test_rejects_impossible_counts(self):
        with self.assertRaises(ValueError):
            stats.failed_frac(0, 0)
        with self.assertRaises(ValueError):
            stats.failed_frac(3, 4)

    def test_run_counts_every_started_op(self):
        # a run's samples: thrown and mismatched ops both count as failed
        raw = _raw([("a", True), ("b", False), ("a", True), ("b", False)])
        attempted = len(raw["samples"])
        failed = sum(1 for s in raw["samples"] if not s["ok"])
        self.assertEqual(stats.failed_frac(attempted, failed), 0.5)


class Spread(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        v = [10, 11, 12, 13, 14, 15, 16, 17, 18, 19]
        # exclusive quartiles of 10..19: 11.75 and 17.25, median 14.5
        self.assertAlmostEqual(stats.spread(v), (17.25 - 11.75) / 14.5)


def _raw(ops):
    """A minimal traced-run record: one cold pass, one traced and one
    untraced warm pass, each running `ops` in order 10 ms apart."""
    samples, passes, spans = [], [], []
    t = 0.0
    for p, (warm, traced) in enumerate([(False, True), (True, True),
                                        (True, False)]):
        start = t
        spans.append({"id": 100 + p, "parent": 0, "name": "pass",
                      "pass": p, "start_ms": t, "end_ms": t + 10 * len(ops)})
        for i, (name, ok) in enumerate(ops):
            tag = f"{p}:{i}:{name}"
            samples.append({"pass": p, "warm": warm, "traced": traced,
                            "op": name, "tag": tag, "write": False,
                            "start_ms": t, "end_ms": t + 10, "ok": ok,
                            "plan_ms": 1.0})
            spans.append({"id": 1000 + 10 * p + i, "parent": 100 + p,
                          "name": "op", "tag": tag, "start_ms": t,
                          "end_ms": t + 10})
            t += 10
        passes.append({"pass": p, "warm": warm, "traced": traced,
                       "start_ms": start, "end_ms": t,
                       "wall_s": (t - start) / 1e3, "cpu_s": 0.01,
                       "ops": len(ops)})
    return {"nproc": 4, "slots": 2, "passes": passes, "samples": samples,
            "spans": spans, "jobs": [], "stages": [], "batches": [],
            "setups": [{"tables_s": 1.0, "graph_build_s": 2.0,
                        "stage_s": 3.0}], "cached_mb": 1.0,
            "retained_heap_mb": 90.0}


class LayerSummary(unittest.TestCase):
    def test_every_per_layer_metric_is_reported(self):
        raw = _raw([("a", True), ("b", True)])
        raw["jobs"] = [{"op": "1:0:a", "start_ms": 21.0, "end_ms": 27.0}]
        raw["stages"] = [{"op": "1:0:a", "tasks": 4, "start_ms": 22.0,
                          "end_ms": 26.0, "run_ms": 8, "cpu_ns": 4e6,
                          "input_rows": 1000, "result_bytes": 0}]
        m, summary = layers.summarize(raw)
        self.assertEqual(set(m), {n for n, _ in layers.PER_LAYER})
        self.assertEqual(m["spark.jobs"], 1)
        self.assertEqual(m["spark.tasks"], 4)
        self.assertEqual(m["functions.cpu_ns_per_row"], 4000)
        # op a ran 20..30 with a job 21..27 and 1 ms of planning
        self.assertAlmostEqual(m["engine.driver_only_s"],
                               (10 - 6 - 1 + 10 - 1) / 1e3)
        self.assertAlmostEqual(summary["self_time_s"]["spark.job"], 0.002)
        self.assertEqual(m["perfbench.trace_overhead_s"], 0.0)


if __name__ == "__main__":
    unittest.main()
