"""Tests for the benchmark's statistics: python3 -m unittest discover perfbench/tests"""
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
from stats import highest_tail, percentile, self_by_name, self_times  # noqa: E402


def span(i, parent, name, start, end):
    return {"id": i, "parent": parent, "name": name, "start_ns": start, "end_ns": end}


class PercentileRule(unittest.TestCase):
    def test_tail_needs_ten_samples_beyond_it(self):
        self.assertEqual(percentile(list(range(1, 101)), 90), 90)
        self.assertIsNone(percentile(list(range(1, 100)), 90))
        self.assertIsNone(percentile(list(range(1, 101)), 99))

    def test_ties_at_the_percentile_do_not_count_as_beyond(self):
        self.assertIsNone(percentile([1] * 95 + [2] * 9, 50))
        self.assertEqual(percentile([1] * 95 + [2] * 10, 50), 1)

    def test_highest_tail_picks_the_highest_supported(self):
        self.assertEqual(highest_tail(list(range(1000))), (99, 989))
        self.assertEqual(highest_tail(list(range(100))), (90, 89))
        self.assertEqual(highest_tail(list(range(40))), (75, 29))
        self.assertIsNone(highest_tail(list(range(12))))


class SelfTimes(unittest.TestCase):
    def test_self_time_subtracts_direct_children_only(self):
        spans = [
            span(1, 0, "cycle", 0, 10_000_000_000),
            span(2, 1, "op", 1_000_000_000, 5_000_000_000),
            span(3, 2, "inner", 2_000_000_000, 3_000_000_000),
            span(4, 1, "op", 6_000_000_000, 8_000_000_000),
        ]
        st = self_times(spans)
        self.assertAlmostEqual(st[1], 4.0)
        self.assertAlmostEqual(st[2], 3.0)
        self.assertAlmostEqual(st[3], 1.0)
        self.assertAlmostEqual(st[4], 2.0)
        # self times of a tree add up to its root's wall
        self.assertAlmostEqual(sum(st.values()), 10.0)
        self.assertEqual(self_by_name(spans), {"cycle": 4.0, "op": 5.0, "inner": 1.0})


if __name__ == "__main__":
    unittest.main()
