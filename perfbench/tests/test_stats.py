import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import layers  # noqa: E402
import stats  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(stats.tail_percentile(110), 90.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(99), 75.0)
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertIsNone(stats.tail_percentile(19))

    def test_nearest_rank(self):
        v = list(range(1, 101))
        self.assertEqual(stats.percentile(v, 90), 90)
        self.assertEqual(stats.percentile(v, 50), 50)
        self.assertEqual(stats.median([3, 1, 2, 10]), 2.5)


def span(i, start, end, parent=0):
    return {"id": i, "parent": parent, "start_ns": start, "end_ns": end}


class SelfTime(unittest.TestCase):
    def test_leaf_is_its_duration(self):
        self.assertEqual(layers.self_time(span(1, 0, 2_000_000_000), []), 2.0)

    def test_children_are_subtracted_once_and_clipped(self):
        parent = span(1, 0, 100)
        kids = [span(2, 10, 30, 1), span(3, 20, 50, 1), span(4, 90, 120, 1)]
        # covered: [10, 50) and [90, 100) = 50 of 100 ns
        self.assertAlmostEqual(layers.self_time(parent, kids), 50e-9)

    def test_nested_spans_through_the_tree(self):
        trace = {"spans": [span(1, 0, 100), span(2, 10, 60, 1), span(3, 20, 30, 2)],
                 "jobs": [], "stages": [], "streams": []}
        self_s = layers.Tree(trace).self_times()
        self.assertAlmostEqual(self_s[1], 50e-9)
        self.assertAlmostEqual(self_s[2], 40e-9)
        self.assertAlmostEqual(self_s[3], 10e-9)


if __name__ == "__main__":
    unittest.main()
