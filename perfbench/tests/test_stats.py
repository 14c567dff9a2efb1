"""Tests for the benchmark's statistics. Run: python3 -m unittest discover perfbench/tests"""
import math
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


class TailPercentileTest(unittest.TestCase):
    def test_keeps_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 50)
        self.assertEqual(stats.tail_percentile(39), 50)
        self.assertEqual(stats.tail_percentile(40), 75)
        self.assertEqual(stats.tail_percentile(99), 75)
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(200), 95)
        self.assertEqual(stats.tail_percentile(1000), 99)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_every_choice_leaves_ten_beyond(self):
        for n in range(1, 3000):
            p = stats.tail_percentile(n)
            if p is not None:
                xs = list(range(n))
                cut = stats.percentile(xs, p)
                self.assertGreaterEqual(sum(1 for x in xs if x > cut), 10, (n, p))

    def test_percentile_interpolates(self):
        self.assertEqual(stats.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(stats.percentile([5], 90), 5)
        self.assertAlmostEqual(stats.percentile(list(range(11)), 90), 9.0)


class GeomeanTest(unittest.TestCase):
    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1, 100]), 10.0)
        self.assertAlmostEqual(stats.geomean([2, 8, 4]), 4.0)
        self.assertEqual(stats.geomean([]), 0.0)

    def test_short_ops_count_equally(self):
        # halving a 0.01 s op moves the geomean as much as halving a 10 s op
        base = stats.geomean([0.01, 10.0])
        self.assertAlmostEqual(stats.geomean([0.005, 10.0]), stats.geomean([0.01, 5.0]))
        self.assertLess(stats.geomean([0.005, 10.0]), base)


class SelfTimeTest(unittest.TestCase):
    def test_prefix_differences(self):
        prefix = {"inflate": 0.2, "scan": 0.9, "rows": 1.0, "dsv2": 1.5,
                  "full": 3.0, "readback": 0.25}
        out = stats.self_times(prefix)
        self.assertAlmostEqual(out["excel.inflate_s"], 0.2)
        self.assertAlmostEqual(out["excel.scan_s"], 0.7)
        self.assertAlmostEqual(out["excel.rows_s"], 0.1)
        self.assertAlmostEqual(out["excel.dsv2_s"], 0.5)
        self.assertAlmostEqual(out["convert.write_s"], 1.25)
        self.assertAlmostEqual(out["convert.readback_s"], 0.25)

    def test_self_times_add_up_to_the_full_convert(self):
        prefix = {"inflate": 0.31, "scan": 0.77, "rows": 1.05, "dsv2": 1.62,
                  "full": 2.9, "readback": 0.12}
        self.assertAlmostEqual(sum(stats.self_times(prefix).values()), prefix["full"])


class FingerprintTest(unittest.TestCase):
    def rec(self, i, name, fp):
        return {"id": i, "name": name, "fp": fp}

    def test_stable_fingerprints_pass(self):
        rs = [self.rec(1, "a", "3:10"), self.rec(2, "b", "4:7"), self.rec(3, "a", "3:10")]
        self.assertEqual(stats.fingerprint_mismatches(rs), [])

    def test_drift_is_reported_per_op(self):
        rs = [self.rec(1, "a", "3:10"), self.rec(2, "a", "3:11"), self.rec(3, "a", "3:10"),
              self.rec(4, "b", None)]
        self.assertEqual(stats.fingerprint_mismatches(rs), [2])


class SpreadTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        xs = [1.0, 1.1, 0.9, 1.05, 0.95, 1.2, 1.0, 0.98, 1.02, 1.01]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / q2)
        self.assertTrue(math.isinf(stats.spread([0.0, 0.0, 0.0])))


if __name__ == "__main__":
    unittest.main()
