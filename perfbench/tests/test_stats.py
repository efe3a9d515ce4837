"""Unit tests for the benchmark's own arithmetic.

Run: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import stats  # noqa: E402


class IdleTime(unittest.TestCase):
    def test_no_tasks_is_all_idle(self):
        self.assertEqual(stats.idle_time(0, 100, []), 100)

    def test_overlapping_tasks_count_once(self):
        # busy 10-40 (two overlapping tasks) and 60-70: idle 100 - 40
        self.assertEqual(stats.idle_time(0, 100, [(10, 30), (20, 40), (60, 70)]), 60)

    def test_tasks_are_clipped_to_the_window(self):
        self.assertEqual(stats.idle_time(50, 100, [(0, 60), (90, 200)]), 30)

    def test_nested_and_outside_tasks(self):
        self.assertEqual(stats.idle_time(0, 10, [(2, 8), (3, 4), (20, 30)]), 4)

    def test_fully_busy(self):
        self.assertEqual(stats.idle_time(0, 10, [(0, 6), (5, 10)]), 0)


class SelfTime(unittest.TestCase):
    def test_parent_minus_children(self):
        spans = [
            {"id": 0, "parent": -1, "start_us": 0, "end_us": 100},
            {"id": 1, "parent": 0, "start_us": 10, "end_us": 40},
            {"id": 2, "parent": 0, "start_us": 50, "end_us": 90},
            {"id": 3, "parent": 1, "start_us": 10, "end_us": 20},
            {"id": 4, "parent": 1, "start_us": 25, "end_us": 40},
        ]
        self.assertEqual(stats.self_times(spans), {0: 30, 1: 5, 2: 40, 3: 10, 4: 15})

    def test_overlapping_children_are_not_double_counted(self):
        spans = [
            {"id": 0, "parent": -1, "start_us": 0, "end_us": 10},
            {"id": 1, "parent": 0, "start_us": 0, "end_us": 6},
            {"id": 2, "parent": 0, "start_us": 4, "end_us": 8},
        ]
        self.assertEqual(stats.self_times(spans)[0], 2)


class TailPercentile(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 100 samples: p90 leaves 10 beyond
        self.assertEqual(stats.tail_percentile(xs), (90.0, 90))
        self.assertEqual(sum(x > 90 for x in xs), 10)

    def test_capped_at_p99(self):
        xs = list(range(1, 2001))
        self.assertEqual(stats.tail_percentile(xs), (99.0, 1980))

    def test_too_few_samples(self):
        self.assertIsNone(stats.tail_percentile(list(range(10))))
        self.assertEqual(stats.tail_percentile(list(range(11))), (100 / 11, 0))

    def test_order_does_not_matter(self):
        xs = [5, 1, 9, 3, 7] * 5
        self.assertEqual(stats.tail_percentile(xs), stats.tail_percentile(sorted(xs)))


class FrameDigest(unittest.TestCase):
    df = pd.DataFrame({"b": [1, 2, 3], "a": ["x", "y", None], "c": [0.5, 1.5, 2.5]})

    def test_row_and_column_permutation(self):
        shuffled = self.df.iloc[[2, 0, 1]][["c", "a", "b"]].reset_index(drop=True)
        self.assertEqual(stats.frame_digest(self.df), stats.frame_digest(shuffled))

    def test_value_change_changes_digest(self):
        other = self.df.copy()
        other.loc[1, "c"] = 1.25
        self.assertNotEqual(stats.frame_digest(self.df), stats.frame_digest(other))

    def test_column_name_matters(self):
        renamed = self.df.rename(columns={"c": "d"})
        self.assertNotEqual(stats.frame_digest(self.df), stats.frame_digest(renamed))

    def test_duplicate_rows_count(self):
        doubled = pd.concat([self.df, self.df.iloc[[0]]])
        self.assertNotEqual(stats.frame_digest(self.df), stats.frame_digest(doubled))


class Misc(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)

    def test_stage_skew(self):
        self.assertEqual(stats.stage_skew({1: [1, 1, 4], 2: [2, 2]}), 3)

    def test_box_state(self):
        self.assertEqual(stats.box_state([1.0, 1.02]), "CLEAN")
        self.assertEqual(stats.box_state([1.0] * 30 + [1.3]), "BLIPS")
        self.assertEqual(stats.box_state([1.2, 1.3]), "THROTTLED")


if __name__ == "__main__":
    unittest.main()
