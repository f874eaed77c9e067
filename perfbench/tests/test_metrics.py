import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = [float(i) for i in range(1, 101)]          # 1..100
        value, pct, n = metrics.tail(reversed(xs))
        self.assertEqual((value, pct, n), (90.0, 90.0, 100))
        self.assertEqual(sum(x > value for x in xs), 10)

    def test_eleven_samples_is_the_minimum(self):
        value, pct, n = metrics.tail([5.0] + [1.0] * 10)
        self.assertEqual((value, n), (1.0, 11))
        self.assertAlmostEqual(pct, 100 / 11)

    def test_stamps_sample_count(self):
        xs = [0.1 * i for i in range(37)]
        value, pct, n = metrics.tail(xs)
        self.assertEqual(n, 37)
        self.assertEqual(sum(x > value for x in xs), 10)
        self.assertAlmostEqual(pct, 100 * 27 / 37)

    def test_too_few_samples_reports_the_maximum(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.tail([])


class LayerTotalsTest(unittest.TestCase):
    def test_sums_and_shares(self):
        tot = metrics.layer_totals([
            {"wall_s": 2.0, "codegen.compile_s": 0.5, "scheduler.jobs": 3},
            {"wall_s": 2.0, "codegen.compile_s": 0.5, "scheduler.jobs": 1}])
        self.assertEqual(tot["scheduler.jobs"], 4)
        self.assertEqual(tot["codegen.compile_s"], 1.0)
        self.assertEqual(tot["codegen.compile_share"], 0.25)
        self.assertNotIn("scheduler.jobs_share", tot)


if __name__ == "__main__":
    unittest.main()
