"""Tests for the benchmark's own arithmetic and its declared metrics.

  python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import math
import os
import unittest

import run
import stats

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class MedianGeomean(unittest.TestCase):
    def test_median_odd_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        self.assertEqual(stats.median([7.5]), 7.5)

    def test_median_empty(self):
        with self.assertRaises(ValueError):
            stats.median([])

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1, 100]), 10.0)
        self.assertAlmostEqual(stats.geomean([2, 2, 2]), 2.0)
        # a fast query counts as much as a slow one
        self.assertAlmostEqual(stats.geomean([0.1, 10.0]), 1.0)

    def test_geomean_rejects_non_positive(self):
        for bad in ([], [1.0, 0.0], [-1.0]):
            with self.assertRaises(ValueError):
                stats.geomean(bad)


class Percentiles(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([5.0], 90), 5.0)

    def test_highest_percentile_keeps_ten_beyond(self):
        self.assertEqual(stats.highest_percentile(100), 90)
        self.assertEqual(stats.highest_percentile(1000), 99)
        self.assertIsNone(stats.highest_percentile(10))
        for n in (11, 20, 57, 100, 101, 250, 1000):
            p = stats.highest_percentile(n)
            xs = list(range(n))
            beyond = sum(1 for x in xs if x > stats.percentile(xs, p))
            self.assertGreaterEqual(beyond, 10, n)
            if p < 99:  # one percentile higher would leave fewer than 10
                self.assertLess(n - math.ceil((p + 1) / 100 * n), 10, n)

    def test_p90_has_ten_beyond_at_hundred_samples(self):
        xs = [i / 7 for i in range(100)]
        p90 = stats.percentile(xs, 90)
        self.assertEqual(sum(1 for x in xs if x > p90), 10)


class Failures(unittest.TestCase):
    def test_count(self):
        self.assertEqual(stats.count_failures([True, True, False, True]), (4, 1))
        self.assertEqual(stats.count_failures([]), (0, 0))
        self.assertEqual(stats.count_failures(x for x in [False, False]), (2, 2))


class Names(unittest.TestCase):
    def test_grammar(self):
        for ok in ("wall_s", "queries.q01_s", "sched.gap_s", "a-b.c_9"):
            self.assertTrue(stats.valid_name(ok), ok)
        for bad in ("", "wall s", "q/1", "é", "x" * 65, "a\n"):
            self.assertFalse(stats.valid_name(bad), bad)

    def test_declared_metrics_match_the_runner(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        declared = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
        self.assertEqual(declared, run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]], run.PER_LAYER)
        self.assertEqual(sorted(w["name"] for w in spec["workloads"]), sorted(run.WORKLOADS))
        names = [n for n, _ in declared + run.PER_LAYER]
        self.assertEqual(len(names), len(set(names)))
        self.assertTrue(all(stats.valid_name(n) for n in names))
        self.assertIn(("setup_s", "s"), declared)


class Intervals(unittest.TestCase):
    def test_union_merges_overlap(self):
        self.assertEqual(stats.union_length([]), 0.0)
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([(0, 10), (2, 3)]), 10)
        # concurrent jobs: durations sum past the wall, the union does not
        jobs = [(0, 6), (1, 7), (8, 9)]
        self.assertEqual(sum(e - s for s, e in jobs) - stats.union_length(jobs), 5)

    def test_self_times(self):
        spans = [
            {"id": "p1", "parent": "w", "layer": "pass", "start_ms": 0, "end_ms": 10000},
            {"id": "c1", "parent": "p1", "layer": "call", "start_ms": 0, "end_ms": 6000},
            {"id": "c2", "parent": "p1", "layer": "call", "start_ms": 6000, "end_ms": 10000},
            {"id": "j1", "parent": "c1", "layer": "job", "start_ms": 1000, "end_ms": 4000},
            {"id": "j2", "parent": "c1", "layer": "job", "start_ms": 2000, "end_ms": 5000},
        ]
        got = stats.self_times(spans)
        self.assertEqual(got["pass"], 0.0)
        self.assertEqual(got["call"], 2.0 + 4.0)
        self.assertEqual(got["job"], 6.0)


if __name__ == "__main__":
    unittest.main()
