import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


class StatsTest(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(stats.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(stats.median([4.0, 1.0, 3.0, 2.0]), 2.5)

    def test_tail_percentile_needs_more_than_ten_samples(self):
        self.assertIsNone(stats.tail_percentile(list(range(10))))
        pct, value = stats.tail_percentile([float(i) for i in range(1, 12)])
        self.assertAlmostEqual(pct, 100.0 / 11)
        self.assertEqual(value, 1.0)

    def test_tail_percentile_leaves_ten_samples_above(self):
        xs = [float(i) for i in range(1, 41)]
        pct, value = stats.tail_percentile(list(reversed(xs)))
        self.assertEqual(pct, 75.0)
        self.assertEqual(value, 30.0)
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_summary_reports_count_and_tail(self):
        s = stats.summary([1.0] * 5)
        self.assertEqual(s, {"median": 1.0, "n": 5})
        s = stats.summary([float(i) for i in range(20)])
        self.assertEqual(s["n"], 20)
        self.assertEqual(s["p50"], 9.0)


if __name__ == "__main__":
    unittest.main()
