"""Tests for the benchmark's percentile and self-time math.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import stats  # noqa: E402


def span(id_, name, start, end, parent=0):
    return {"id": id_, "name": name, "start": start, "end": end, "parent": parent}


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_closest_ranks(self):
        xs = [float(x) for x in range(1, 11)]  # 1..10
        self.assertEqual(stats.percentile(xs, 0.0), 1.0)
        self.assertEqual(stats.percentile(xs, 1.0), 10.0)
        self.assertAlmostEqual(stats.percentile(xs, 0.5), 5.5)
        self.assertAlmostEqual(stats.percentile(xs, 0.9), 9.1)

    def test_order_of_samples_does_not_matter(self):
        xs = [0.3, 0.1, 0.9, 0.5, 0.7]
        self.assertEqual(stats.percentile(xs, 0.5), 0.5)
        self.assertEqual(stats.median(list(reversed(xs))), 0.5)

    def test_single_sample(self):
        self.assertEqual(stats.percentile([2.5], 0.9), 2.5)

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 0.5)

    def test_p90_needs_a_hundred_samples(self):
        self.assertEqual(stats.min_samples(0.9), 100)
        self.assertFalse(stats.supported(99, 0.9))
        self.assertTrue(stats.supported(100, 0.9))
        self.assertEqual(stats.min_samples(0.5), 20)


class SelfTimeTest(unittest.TestCase):
    def test_parent_minus_children(self):
        spans = [span(1, "op", 0, 100), span(2, "build", 10, 30, 1), span(3, "action", 40, 90, 1)]
        self.assertEqual(stats.self_times(spans), {"op": 30, "build": 20, "action": 50})

    def test_nested_three_levels(self):
        spans = [span(1, "op", 0, 100), span(2, "pipeline.dml", 0, 60, 1),
                 span(3, "action", 10, 50, 2)]
        self.assertEqual(stats.self_times(spans), {"op": 40, "pipeline.dml": 20, "action": 40})

    def test_overlapping_children_count_once(self):
        # two client threads' spans under one parent overlap in time
        spans = [span(1, "window", 0, 100), span(2, "op", 10, 60, 1), span(3, "op", 40, 80, 1)]
        out = stats.self_times(spans)
        self.assertEqual(out["window"], 100 - 70)
        self.assertEqual(out["op"], 50 + 40)

    def test_child_outside_parent_is_clipped(self):
        spans = [span(1, "op", 0, 50), span(2, "action", 40, 70, 1)]
        self.assertEqual(stats.self_times(spans)["op"], 40)

    def test_same_name_sums_across_spans(self):
        spans = [span(1, "build", 0, 10), span(2, "build", 20, 25)]
        self.assertEqual(stats.self_times(spans), {"build": 15})

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(stats.union_length([]), 0)


if __name__ == "__main__":
    unittest.main()
