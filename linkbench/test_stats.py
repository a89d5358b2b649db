"""Self-tests for the benchmark's statistics and span arithmetic.

Run with ``python3 -m unittest discover -s linkbench -p 'test_*.py'``."""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from host import Interval  # noqa: E402
from stats import (  # noqa: E402
    percentile,
    self_times,
    supported_percentile,
    timing_summary,
)


class SelfTimeTest(unittest.TestCase):
    def test_leaf_span_is_all_self(self):
        self.assertEqual(self_times([(0.0, 2.5, None)]), [2.5])

    def test_children_are_subtracted(self):
        spans = [(0.0, 10.0, None), (1.0, 3.0, 0), (5.0, 9.0, 0)]
        self.assertEqual(self_times(spans), [4.0, 2.0, 4.0])

    def test_self_times_sum_to_root_wall(self):
        spans = [
            (0.0, 10.0, None),
            (1.0, 6.0, 0),
            (2.0, 3.0, 1),
            (3.5, 5.0, 1),
            (7.0, 9.5, 0),
        ]
        self.assertAlmostEqual(sum(self_times(spans)), 10.0)

    def test_overlapping_children_count_once(self):
        spans = [(0.0, 10.0, None), (1.0, 5.0, 0), (4.0, 6.0, 0)]
        self.assertEqual(self_times(spans)[0], 5.0)

    def test_child_outside_parent_is_clipped(self):
        spans = [(2.0, 4.0, None), (3.0, 8.0, 0)]
        self.assertEqual(self_times(spans)[0], 1.0)

    def test_grandchildren_do_not_reduce_grandparent_twice(self):
        spans = [(0.0, 8.0, None), (0.0, 4.0, 0), (1.0, 2.0, 1)]
        self.assertEqual(self_times(spans), [4.0, 3.0, 1.0])


class PercentileRuleTest(unittest.TestCase):
    def test_too_few_samples_support_nothing(self):
        self.assertIsNone(supported_percentile(19))

    def test_twenty_samples_support_the_median(self):
        self.assertEqual(supported_percentile(20), 50.0)

    def test_boundaries(self):
        self.assertEqual(supported_percentile(40), 75.0)
        self.assertEqual(supported_percentile(100), 90.0)
        self.assertEqual(supported_percentile(199), 90.0)
        self.assertEqual(supported_percentile(200), 95.0)
        self.assertEqual(supported_percentile(1000), 99.0)
        self.assertEqual(supported_percentile(10000), 99.9)

    def test_nearest_rank(self):
        values = list(range(1, 101))
        self.assertEqual(percentile(values, 90), 90)
        self.assertEqual(percentile(values, 50), 50)
        self.assertEqual(percentile([3.0], 99), 3.0)

    def test_summary_reports_only_a_supported_tail(self):
        self.assertEqual(timing_summary([1.0, 2.0, 3.0]), {"median": 2.0, "n": 3})
        summary = timing_summary([float(i) for i in range(1, 101)])
        self.assertEqual(summary["n"], 100)
        self.assertEqual(summary["p90"], 90.0)


class IntervalTest(unittest.TestCase):
    def part(self, wall, stolen):
        part = Interval()
        part.wall, part.stolen, part.value = wall, stolen, wall * (1.0 - stolen)
        return part

    def test_total_adds_walls_and_values(self):
        total = Interval.total([self.part(3.0, 0.0), self.part(1.0, 0.5)])
        self.assertAlmostEqual(total.wall, 4.0)
        self.assertAlmostEqual(total.value, 3.5)
        self.assertAlmostEqual(total.stolen, 0.125)

    def test_measured_block_has_no_more_value_than_wall(self):
        with Interval() as block:
            sum(range(100_000))
        self.assertGreater(block.wall, 0.0)
        self.assertLessEqual(block.value, block.wall)
        self.assertGreaterEqual(block.stolen, 0.0)


if __name__ == "__main__":
    unittest.main()
