"""Self-tests for the benchmark's statistics.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
or:  python3 perfbench/run.py --self-test
"""
import statistics
import unittest

import stats


class MedianTest(unittest.TestCase):
    def test_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.median([])


class TailTest(unittest.TestCase):
    def test_ten_samples_lie_beyond(self):
        xs = list(range(1, 37))  # 36 samples: 1..36
        value, pct, n = stats.tail(xs)
        self.assertEqual((value, n), (26, 36))
        self.assertEqual(len([x for x in xs if x > value]), 10)
        self.assertAlmostEqual(pct, 100 * 26 / 36)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0, 12.0]
        self.assertEqual(stats.tail(xs), (2.0, 100 * 2 / 12, 12))

    def test_is_the_nearest_rank_percentile(self):
        xs = [float(x) for x in range(100, 0, -1)]
        value, pct, _ = stats.tail(xs)
        rank = -(-pct * len(xs) // 100)  # ceil(p/100 * n)
        self.assertEqual(value, sorted(xs)[int(rank) - 1])
        self.assertEqual(pct, 90.0)

    def test_unsupported_tail_is_flagged(self):
        self.assertEqual(stats.tail([1, 2, 3]), (3, 100.0, 3))
        self.assertEqual(stats.tail(list(range(10))), (9, 100.0, 10))
        self.assertEqual(stats.tail(list(range(11))), (0, 100 / 11, 11))


class SpreadTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        xs = [10.0, 11.0, 9.5, 10.5, 12.0, 9.0, 10.2, 10.8, 11.5, 9.8]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / q2)

    def test_constant_has_no_spread(self):
        self.assertEqual(stats.spread([2.0] * 10), 0.0)


class BoundTest(unittest.TestCase):
    def test_lower_is_better(self):
        self.assertAlmostEqual(stats.worse_by(10.0, 11.0, "lower"), 0.1)
        self.assertTrue(stats.within_bound(10.0, 11.0, "lower", 0.1))
        self.assertFalse(stats.within_bound(10.0, 11.5, "lower", 0.1))
        self.assertTrue(stats.within_bound(10.0, 5.0, "lower", 0.0))

    def test_higher_is_better(self):
        self.assertAlmostEqual(stats.worse_by(100.0, 80.0, "higher"), 0.2)
        self.assertFalse(stats.within_bound(100.0, 80.0, "higher", 0.1))
        self.assertTrue(stats.within_bound(100.0, 120.0, "higher", 0.0))

    def test_unknown_direction_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.worse_by(1.0, 1.0, "faster")


if __name__ == "__main__":
    unittest.main()
