"""Tests of the benchmark's own logic. Run: python3 -m unittest discover perfbench"""
import statistics
import unittest

import numpy as np

import stats


class PercentileTest(unittest.TestCase):
    def test_matches_numpy_default(self):
        rng = np.random.default_rng(7)
        for n in (1, 2, 5, 100, 1001):
            xs = rng.lognormal(0, 1, n).tolist()
            for q in (0, 10, 50, 90, 99, 100):
                self.assertAlmostEqual(stats.percentile(xs, q), float(np.percentile(xs, q)))

    def test_interpolates_between_ranks(self):
        self.assertEqual(stats.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(stats.percentile([4, 1, 3, 2], 100), 4)
        self.assertEqual(stats.median([3.0]), 3.0)

    def test_rejects_empty(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class OpenLoopTest(unittest.TestCase):
    def test_latency_counts_from_due_time(self):
        # the second request was due at 100 but sent at 250, behind a stall
        due, sent, done = [0, 100, 200], [0, 250, 260], [10, 300, 270]
        latency, lateness = stats.open_loop_times(due, sent, done)
        self.assertEqual(latency.tolist(), [10, 200, 70])
        self.assertEqual(lateness.tolist(), [0, 150, 60])

    def test_on_time_generator_has_no_lateness(self):
        due = np.arange(0, 1000, 50)
        latency, lateness = stats.open_loop_times(due, due, due + 3)
        self.assertTrue((lateness == 0).all())
        self.assertTrue((latency == 3).all())


class LookupCheckTest(unittest.TestCase):
    # address 0 only in A, 1 in both with different values, 2 only in B,
    # 3 in neither; index 4 is past the pool (a miss address)
    A = (np.array([10, 20, 0, 0]), np.array([1, 2, 0, 0]))
    B = (np.array([0, 21, 30, 0]), np.array([0, 3, 4, 0]))

    def failures(self, answers):
        idx = [a[0] for a in answers]
        return stats.lookup_failures(idx, [a[1] for a in answers], [a[2] for a in answers],
                                     self.A, self.B)

    def test_either_delivery_is_accepted(self):
        ok = [(0, 10, 1), (0, -1, -1), (1, 20, 2), (1, 21, 3), (2, 30, 4), (2, -1, -1),
              (3, -1, -1), (4, -1, -1)]
        self.assertEqual(self.failures(ok), 0)

    def test_mixed_or_foreign_answers_fail(self):
        bad = [(1, 20, 3),   # size from A, count from B
               (0, 11, 1),   # a value no delivery has
               (3, 5, 1),    # an address in neither delivery answered
               (4, 10, 1),   # a miss address answered
               (1, -1, -1)]  # present in both, reported missing
        self.assertEqual(self.failures(bad), len(bad))


class SpreadTest(unittest.TestCase):
    def test_quartile_spread_uses_statistics_quantiles(self):
        xs = [10, 11, 9, 10, 12, 10, 8, 10, 11, 9]
        q = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.quartile_spread(xs), (q[2] - q[0]) / 10)


if __name__ == "__main__":
    unittest.main()
