"""Tests for the benchmark's estimators and span arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import random
import unittest

import stats


def span(i, parent, layer, start, end):
    return {"id": i, "parent": parent, "layer": layer, "start_ns": start, "end_ns": end}


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        random.Random(1).shuffle(xs)
        self.assertEqual(stats.percentile(xs, 0.5), 50)
        self.assertEqual(stats.percentile(xs, 0.9), 90)
        self.assertEqual(stats.percentile(xs, 1.0), 100)
        self.assertEqual(stats.percentile([7.0], 0.9), 7.0)

    def test_tail_percentile_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 0.5)
        self.assertEqual(stats.tail_percentile(99), 0.75)
        self.assertEqual(stats.tail_percentile(100), 0.9)
        self.assertEqual(stats.tail_percentile(999), 0.9)
        self.assertEqual(stats.tail_percentile(1000), 0.99)
        for n in range(1, 2000):
            q = stats.tail_percentile(n)
            if q is not None:
                xs = list(range(n))
                cut = stats.percentile(xs, q)
                beyond = sum(1 for x in xs if x > cut)
                self.assertGreaterEqual(beyond, 10, n)


class SelfTimeTest(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(stats.union_length([(20, 25), (0, 10), (2, 3)]), 15)

    def test_self_time_subtracts_clipped_child_cover(self):
        spans = [
            span(1, 0, "api", 0, 100),
            span(2, 1, "query", 10, 30),
            span(3, 1, "query", 20, 50),   # overlaps its sibling
            span(4, 1, "query", 90, 120),  # runs past its parent
            span(5, 2, "ml", 12, 18),
        ]
        st = stats.self_times(spans)
        self.assertEqual(st[1], 100 - (40 + 10))
        self.assertEqual(st[2], 20 - 6)
        self.assertEqual(st[3], 30)
        self.assertEqual(st[4], 30)
        self.assertEqual(st[5], 6)

    def test_layer_totals_and_shares(self):
        spans = [span(1, 0, "bench", 0, 1_000_000), span(2, 1, "ml", 0, 750_000)]
        by = stats.layer_self_ms(spans)
        self.assertAlmostEqual(by["bench"], 0.25)
        self.assertAlmostEqual(by["ml"], 0.75)
        sh = stats.shares(by)
        self.assertAlmostEqual(sum(sh.values()), 1.0)
        self.assertAlmostEqual(sh["ml"], 0.75)
        self.assertEqual(stats.shares({}), {})


if __name__ == "__main__":
    unittest.main()
