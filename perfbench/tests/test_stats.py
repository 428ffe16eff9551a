import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        # 100 samples: p99..p95 leave fewer than ten beyond; p90 leaves ten
        self.assertEqual(stats.tail(range(1, 101)), (90.0, 90, 10))

    def test_large_sample_reaches_p999(self):
        self.assertEqual(stats.tail(range(1, 10001)), (99.9, 9990, 10))

    def test_order_does_not_matter(self):
        xs = list(range(1, 1001))
        self.assertEqual(stats.tail(reversed(xs)), stats.tail(xs))
        self.assertEqual(stats.tail(xs), (99.0, 990, 10))

    def test_ten_beyond_is_enough_eleven_not_needed(self):
        # 200 samples: p95 is rank 190 with exactly ten beyond
        self.assertEqual(stats.tail(range(200)), (95.0, 189, 10))

    def test_too_few_samples_gives_maximum(self):
        self.assertEqual(stats.tail([3, 1, 2]), (100.0, 3, 0))
        self.assertEqual(stats.tail(range(19)), (100.0, 18, 0))
        self.assertEqual(stats.tail(range(20)), (50.0, 9, 10))

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.tail([])

    def test_nearest_rank(self):
        self.assertEqual(stats.nearest_rank([10, 20, 30, 40], 50), (20, 2))
        self.assertEqual(stats.nearest_rank([10, 20, 30, 40], 51), (30, 3))
        self.assertEqual(stats.nearest_rank([10], 0), (10, 1))


class NoiseTest(unittest.TestCase):
    def test_steal_share(self):
        self.assertAlmostEqual(stats.steal_pct((10, 1000), (30, 1200)), 10.0)
        self.assertEqual(stats.steal_pct((10, 1000), (10, 1000)), 0.0)

    def test_readings(self):
        steal, total = stats.read_cpu()
        self.assertGreaterEqual(total, steal)
        self.assertGreaterEqual(stats.loadavg(), 0.0)


if __name__ == "__main__":
    unittest.main()
