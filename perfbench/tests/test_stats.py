"""Tests of the benchmark's statistics and its result line.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import statistics
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402
import stats  # noqa: E402


class TailTest(unittest.TestCase):

    def test_needs_ten_samples_beyond(self):
        # 19 samples: even the median leaves only 9 above it
        self.assertIsNone(stats.tail(list(range(19))))
        # 20 samples: p50 leaves 10 above it, p75 only 5
        self.assertEqual(stats.tail(list(range(1, 21))), (50.0, 10))

    def test_picks_highest_qualifying_percentile(self):
        xs = list(range(1, 101))  # p90 leaves exactly 10 above
        self.assertEqual(stats.tail(xs), (90.0, 90))
        xs = list(range(1, 1001))  # p99 leaves exactly 10 above
        self.assertEqual(stats.tail(xs), (99.0, 990))
        xs = list(range(1, 10001))
        self.assertEqual(stats.tail(xs), (99.9, 9990))

    def test_leaves_at_least_ten_above(self):
        for n in (20, 37, 99, 100, 101, 250, 999):
            xs = list(range(n))
            pct, value = stats.tail(xs)
            self.assertGreaterEqual(sum(1 for x in xs if x > value), stats.MIN_BEYOND, n)

    def test_order_independent(self):
        xs = [5, 1, 9, 3, 7, 2, 8, 4, 6, 0] * 3
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))


class MedianQuartilesTest(unittest.TestCase):

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_quartiles_match_statistics_module(self):
        xs = [10.0, 12.0, 11.0, 15.0, 9.0, 13.0, 14.0, 10.5, 11.5, 12.5]
        q1, med, q3 = stats.quartiles(xs)
        self.assertEqual((q1, med, q3), tuple(statistics.quantiles(xs, n=4)))
        self.assertEqual(med, statistics.median(xs))

    def test_spread(self):
        xs = [1.0, 2.0, 3.0, 4.0, 5.0]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / med)
        self.assertEqual(stats.spread([7.0] * 6), 0.0)

    def test_single_value(self):
        self.assertEqual(stats.quartiles([4.0]), (4.0, 4.0, 4.0))


class SpanUnionTest(unittest.TestCase):

    def test_disjoint_and_overlapping(self):
        self.assertEqual(stats.union_ms([(0, 10), (20, 30)], 0, 100), 20)
        self.assertEqual(stats.union_ms([(0, 10), (5, 15), (14, 20)], 0, 100), 20)
        self.assertEqual(stats.union_ms([(5, 15), (0, 10)], 0, 100), 15)

    def test_nested_and_touching(self):
        self.assertEqual(stats.union_ms([(0, 50), (10, 20), (30, 40)], 0, 100), 50)
        self.assertEqual(stats.union_ms([(0, 10), (10, 20)], 0, 100), 20)

    def test_clipped_to_call(self):
        self.assertEqual(stats.union_ms([(-10, 10), (90, 120)], 0, 100), 20)
        self.assertEqual(stats.union_ms([(200, 300)], 0, 100), 0)
        self.assertEqual(stats.union_ms([], 0, 100), 0)

    def test_driver_gap(self):
        # a 100 ms call with two overlapping jobs covering 40 ms of it
        self.assertEqual(stats.driver_gap_ms(100.0, 1000, 1100,
                                             [(1010, 1030), (1020, 1050)]), 60.0)
        self.assertEqual(stats.driver_gap_ms(100.0, 1000, 1100, []), 100.0)
        # wall clock and job clock disagree by a millisecond: never negative
        self.assertEqual(stats.driver_gap_ms(99.5, 1000, 1100, [(990, 1110)]), 0.0)


class ResultLineTest(unittest.TestCase):

    def test_round_trips_through_json(self):
        line = stats.result_line(True, 54, 0, {"pass_s": (4.123456789, "s"),
                                               "latency_p50_ms": (351.25, "ms")})
        self.assertNotIn("\n", line)
        r = json.loads(line)
        self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
        self.assertIs(r["correct"], True)
        self.assertEqual((r["attempted"], r["failed"]), (54, 0))
        self.assertEqual(r["metrics"]["pass_s"], {"value": 4.123456789, "unit": "s"})
        self.assertEqual(r["metrics"]["latency_p50_ms"]["unit"], "ms")

    def test_failure_is_reported(self):
        r = json.loads(stats.result_line(False, 10, 2, {"pass_s": (1, "s")}))
        self.assertIs(r["correct"], False)
        self.assertEqual(r["failed"], 2)
        self.assertIsInstance(r["metrics"]["pass_s"]["value"], float)


class BenchmarkJsonTest(unittest.TestCase):
    """BENCHMARK.json names exactly the metrics run.py prints."""

    @classmethod
    def setUpClass(cls):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            cls.spec = json.load(f)

    def test_end_to_end(self):
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in self.spec["end_to_end"]],
                         list(run.END_TO_END))

    def test_per_layer(self):
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in self.spec["per_layer"]],
                         [(n, u, b) for n, u, b, _ in run.LAYERS])

    def test_workloads(self):
        self.assertEqual(tuple(w["name"] for w in self.spec["workloads"]), run.WORKLOADS)


if __name__ == "__main__":
    unittest.main()
