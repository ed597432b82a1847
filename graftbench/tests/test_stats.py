"""Metric arithmetic: percentiles, sample counts beyond them, ratios.

Run: python3 -m unittest discover -s graftbench/tests
"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import run  # noqa: E402
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_endpoints_and_median(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0]
        self.assertEqual(stats.percentile(xs, 0), 1.0)
        self.assertEqual(stats.percentile(xs, 100), 5.0)
        self.assertEqual(stats.median(xs), 3.0)

    def test_linear_interpolation(self):
        # rank (n-1)q/100: 0.9 * 9 = 8.1 -> 9 + 0.1 * (10 - 9)
        xs = list(range(1, 11))
        self.assertAlmostEqual(stats.percentile(xs, 90), 9.1)
        self.assertAlmostEqual(stats.percentile(xs, 50), 5.5)

    def test_matches_statistics_inclusive_quartiles(self):
        xs = [0.31, 0.27, 0.44, 0.29, 0.52, 0.33, 0.30, 0.41, 0.38, 0.35]
        q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
        self.assertAlmostEqual(stats.percentile(xs, 25), q1)
        self.assertAlmostEqual(stats.percentile(xs, 50), q2)
        self.assertAlmostEqual(stats.percentile(xs, 75), q3)

    def test_single_sample(self):
        self.assertEqual(stats.percentile([2.5], 90), 2.5)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_samples_beyond(self):
        self.assertEqual(stats.beyond(100, 90), 10)
        self.assertEqual(stats.beyond(12, 90), 1)
        self.assertEqual(stats.beyond(8, 90), 0)


class YieldTest(unittest.TestCase):
    def counts(self, verified, pairs):
        return {"jaccard.index_rows": 10, "jaccard.candidates": 9,
                "jaccard.pairs": pairs, "jaccard.verified": verified,
                "minhash.candidates": 1, "embed.candidates": 1}

    def record(self, verified, pairs):
        # the warm-up pass comes first; the reported counts are the first
        # timed pass's
        return {"passes": [self.counts(1, 1), self.counts(verified, pairs)],
                "layers": {}}

    def test_yield_is_verified_over_pairs(self):
        m = run.per_layer("crawl", self.record(5000, 178044))
        self.assertAlmostEqual(m["ops.jaccard.yield"], 5000 / 178044)
        self.assertEqual(m["ops.jaccard.pairs"], 178044.0)

    def test_yield_without_pairs_is_zero(self):
        m = run.per_layer("crawl", self.record(0, 0))
        self.assertEqual(m["ops.jaccard.yield"], 0.0)

    def test_every_per_layer_metric_is_reported(self):
        for w in run.WORKLOADS:
            self.assertEqual(set(run.per_layer(w, self.record(1, 2))),
                             set(run.PER_LAYER))


if __name__ == "__main__":
    unittest.main()
