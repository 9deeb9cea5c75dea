"""Unit tests of the benchmark's metric arithmetic (no JVM needed):

    python3 -m unittest discover -s perfbench/tests
"""
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import metrics  # noqa: E402


def span(i, parent, layer, start, end):
    return {"id": i, "parent": parent, "name": f"{layer} {i}", "layer": layer,
            "start_ms": start, "end_ms": end}


def raw_run(passes, attempted=0, failed=0):
    return {"setups_s": [9.0, 2.0, 3.0], "passes": passes, "peak_rss_mb": 100.0,
            "attempted": attempted, "failed": failed}


def pass_of(wall, queries, rows=1000):
    return {"wall_s": wall, "cpu_s": 1.0, "input_rows": rows, "traced": False,
            "queries": [{"name": n, "latency_s": l, "ok": ok} for n, l, ok in queries]}


class CoveredTest(unittest.TestCase):
    def test_union_of_overlapping_intervals(self):
        self.assertEqual(metrics.covered([(0, 4), (2, 6), (8, 9)], 0, 10), 7)

    def test_clipped_to_window(self):
        self.assertEqual(metrics.covered([(-5, 2), (9, 20)], 0, 10), 3)

    def test_nested_and_empty(self):
        self.assertEqual(metrics.covered([(1, 9), (2, 3)], 0, 10), 8)
        self.assertEqual(metrics.covered([], 0, 10), 0)


class SelfTimeTest(unittest.TestCase):
    # query 0..100 ms; build 0..30 with one job 10..20; action 30..100
    # with a job 40..90 holding two overlapping stages 40..70 and 60..90
    SPANS = [span(1, -1, "query", 0, 100), span(2, 1, "operators.build", 0, 30),
             span(3, 2, "job", 10, 20), span(4, 1, "action", 30, 100),
             span(5, 4, "job", 40, 90), span(6, 5, "stage", 40, 70),
             span(7, 5, "stage", 60, 90)]

    def test_self_time_is_duration_minus_children_union(self):
        st = metrics.self_times(self.SPANS)
        self.assertEqual(st[1], 0)        # build and action cover the query
        self.assertEqual(st[2], 20)       # 30 minus its 10 ms job
        self.assertEqual(st[4], 20)       # 70 minus the 50 ms job
        self.assertEqual(st[5], 0)        # stages cover the job, overlap counted once
        self.assertEqual(st[6], 30)

    def test_layer_self_times_sum_per_layer(self):
        by_layer = metrics.layer_self_s(self.SPANS)
        # concurrent stages each keep their own time: 30 + 30 ms
        self.assertEqual({k: round(v, 6) for k, v in by_layer.items()},
                         {"query": 0.0, "operators.build": 0.020, "job": 0.010,
                          "action": 0.020, "stage": 0.060})

    def test_gap_is_root_time_with_no_stage_running(self):
        spans = self.SPANS + [span(8, 99, "stage", 0, 100)]  # another root's stage
        self.assertAlmostEqual(metrics.gap_s(spans, 1), 0.050)


class EndToEndTest(unittest.TestCase):
    def test_medians_and_geomean_of_per_query_medians(self):
        raw = raw_run([pass_of(2.0, [("a", 1.0, True), ("b", 4.0, True)]),
                       pass_of(3.0, [("a", 3.0, True), ("b", 4.0, True)]),
                       pass_of(4.0, [("a", 2.0, True), ("b", 4.0, True)])])
        v, info = metrics.end_to_end(raw)
        self.assertEqual(v["setup_s"], 3.0)
        self.assertEqual(v["wall_s"], 3.0)
        self.assertAlmostEqual(v["rows_per_s"], 1000 / 3.0)
        self.assertEqual(info["query_median_s"], {"a": 2.0, "b": 4.0})
        self.assertAlmostEqual(v["query_geomean_s"], math.sqrt(8.0))

    def test_failed_queries_give_no_latency_sample(self):
        raw = raw_run([pass_of(1.0, [("a", 0.001, False), ("a", 2.0, True)])])
        _, info = metrics.end_to_end(raw)
        self.assertEqual(info["query_median_s"], {"a": 2.0})


class VerdictTest(unittest.TestCase):
    def test_any_failure_makes_the_run_incorrect(self):
        self.assertEqual(metrics.verdict(raw_run([], 40, 0)), (True, 40, 0))
        self.assertEqual(metrics.verdict(raw_run([], 40, 1)), (False, 40, 1))

    def test_nothing_attempted_is_not_correct(self):
        self.assertEqual(metrics.verdict(raw_run([], 0, 0)), (False, 0, 0))


if __name__ == "__main__":
    unittest.main()
