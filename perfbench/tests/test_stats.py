import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from graftbench import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 99), 99)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([3.0], 99), 3.0)
        self.assertEqual(stats.percentile([5, 1, 4, 2, 3], 50), 3)

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertEqual(stats.tail_percentile(99), 50.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(999), 90.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_spread_matches_statistics_quantiles(self):
        xs = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8, 10.1, 9.9, 10.0]
        q1, q2, q3 = stats.quartiles(xs)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / q2)
        self.assertEqual(q2, 10.0)


def span(i, parent, layer, start, end, trace="t"):
    return {"id": i, "parent": parent, "trace": trace, "layer": layer,
            "name": layer, "start_us": start, "end_us": end}


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [span(1, 0, "query", 0, 1_000_000),
                 # two overlapping jobs cover [100k, 700k) together
                 span(2, 1, "job", 100_000, 500_000),
                 span(3, 1, "job", 300_000, 700_000),
                 span(4, 2, "stage", 100_000, 200_000)]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st["query"], 0.4)
        self.assertAlmostEqual(st["job"], (0.3 + 0.4))
        self.assertAlmostEqual(st["stage"], 0.1)

    def test_child_outside_parent_is_clipped(self):
        spans = [span(1, 0, "query", 0, 100), span(2, 1, "job", 50, 400)]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st["query"], 50 / 1e6)

    def test_per_trace(self):
        spans = [span(1, 0, "pass", 0, 1_000_000, "p0"),
                 span(2, 0, "pass", 0, 3_000_000, "p1")]
        self.assertAlmostEqual(stats.self_times(spans)["pass"], 2.0)

    def test_covered(self):
        self.assertEqual(stats.covered([(0, 5), (3, 8), (10, 12)], 0, 20), 10)
        self.assertEqual(stats.covered([(0, 5)], 2, 4), 2)
        self.assertEqual(stats.covered([], 0, 4), 0)


if __name__ == "__main__":
    unittest.main()
