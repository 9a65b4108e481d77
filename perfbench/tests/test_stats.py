"""Unit tests of the benchmark's statistics: the percentile tail rule and
span self-time arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


def span(i, parent, start, end, kind="k"):
    return {"id": i, "parent": parent, "kind": kind,
            "start_us": start * 1e6, "end_us": end * 1e6}


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(list(reversed(xs)), 90), 90)
        self.assertEqual(stats.percentile([7], 99), 7)

    def test_ten_beyond(self):
        # p90 of 100 samples has exactly samples 91..100 above it
        self.assertEqual(stats.samples_beyond(100, 90), 10)
        self.assertTrue(stats.reportable(100, 90))
        self.assertFalse(stats.reportable(99, 90))
        self.assertTrue(stats.reportable(1000, 99))
        self.assertFalse(stats.reportable(999, 99))

    def test_highest_reportable(self):
        self.assertEqual(stats.highest_reportable(1000), 99)
        self.assertEqual(stats.highest_reportable(200), 95)
        self.assertEqual(stats.highest_reportable(100), 90)
        self.assertEqual(stats.highest_reportable(56), 75)
        self.assertEqual(stats.highest_reportable(20), 50)
        self.assertIsNone(stats.highest_reportable(19))
        self.assertIsNone(stats.highest_reportable(0))


class SelfTime(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(stats.union_length([(3, 3), (4, 2)]), 0)
        self.assertEqual(stats.union_length([]), 0)

    def test_self_time_subtracts_children(self):
        spans = [span(1, 0, 0, 10), span(2, 1, 1, 4), span(3, 1, 6, 7), span(4, 2, 2, 3)]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[1], 6.0)   # 10 - (3 + 1)
        self.assertAlmostEqual(st[2], 2.0)   # 3 - 1
        self.assertAlmostEqual(st[3], 1.0)
        self.assertAlmostEqual(st[4], 1.0)
        # self times of a tree add up to the root's duration
        self.assertAlmostEqual(sum(st.values()), 10.0)

    def test_parallel_children_count_once(self):
        spans = [span(1, 0, 0, 10), span(2, 1, 2, 6), span(3, 1, 4, 8)]
        self.assertAlmostEqual(stats.self_times(spans)[1], 4.0)  # covered 2..8

    def test_children_outside_parent_are_clipped(self):
        spans = [span(1, 0, 5, 10), span(2, 1, 3, 7), span(3, 1, 9, 12)]
        self.assertAlmostEqual(stats.self_times(spans)[1], 2.0)  # covered 5..7, 9..10

    def test_by_kind(self):
        spans = [span(1, 0, 0, 10, "op"), span(2, 1, 0, 4, "job"), span(3, 1, 5, 9, "job")]
        self.assertEqual(stats.self_time_by_kind(spans), {"op": 2.0, "job": 8.0})


if __name__ == "__main__":
    unittest.main()
