"""Unit tests for the benchmark's statistics helpers.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import oracle  # noqa: E402
from stats import (gap_length, geomean, geomean_of_medians,  # noqa: E402
                   median, self_time, tail, union_length)


class TailTest(unittest.TestCase):
    def test_picks_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 201))  # 200 samples
        # p95 has rank 190, 10 beyond; p99 would have 2
        self.assertEqual(tail(xs), (95.0, 190, 200, 10))

    def test_p90_when_p95_is_too_thin(self):
        xs = list(range(1, 151))  # p95 rank 143 leaves 7 beyond
        self.assertEqual(tail(xs), (90.0, 135, 150, 15))

    def test_falls_back_to_median_and_reports_thin_tail(self):
        pct, val, n, beyond = tail([5.0, 1.0, 3.0, 2.0, 4.0])
        self.assertEqual((pct, val, n), (50.0, 3.0, 5))
        self.assertEqual(beyond, 2)

    def test_order_does_not_matter(self):
        xs = [float(i) for i in range(1000)]
        self.assertEqual(tail(xs), tail(list(reversed(xs))))
        self.assertEqual(tail(xs)[0], 99.0)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            tail([])

    def test_geomean(self):
        self.assertAlmostEqual(geomean([1.0, 100.0]), 10.0)
        self.assertAlmostEqual(geomean([5.0, 5.0, 5.0]), 5.0)

    def test_geomean_of_medians_ignores_one_slow_repeat(self):
        # medians 100 and 400; the 5 000 ms repeat does not count
        self.assertAlmostEqual(
            geomean_of_medians([[100.0, 90.0, 5000.0], [400.0]]), 200.0)

    def test_median(self):
        self.assertEqual(median([4, 1, 3, 2]), 2.5)
        self.assertEqual(median([3, 1, 2]), 2)


class IntervalTest(unittest.TestCase):
    def test_union_counts_overlap_once(self):
        self.assertEqual(union_length([(0, 10), (5, 15), (20, 25)]), 20)

    def test_union_of_nested_and_touching(self):
        self.assertEqual(union_length([(0, 10), (2, 3), (10, 12)]), 12)

    def test_union_clips_to_window(self):
        self.assertEqual(union_length([(0, 10), (20, 30)], lo=5, hi=25), 10)

    def test_driver_gap_is_call_wall_with_no_stage_running(self):
        # a 100 ms call: stages run 10-40 and 30-60, then 80-90
        self.assertEqual(gap_length(0, 100, [(10, 40), (30, 60), (80, 90)]), 40)

    def test_driver_gap_ignores_stages_outside_the_call(self):
        self.assertEqual(gap_length(50, 100, [(0, 60), (120, 130)]), 40)

    def test_driver_gap_without_stages_is_the_whole_call(self):
        self.assertEqual(gap_length(3.5, 7.0, []), 3.5)


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_children(self):
        self.assertEqual(self_time((0, 100), [(10, 30), (50, 70)]), 60)

    def test_overlapping_children_count_once(self):
        self.assertEqual(self_time((0, 100), [(10, 50), (40, 60)]), 50)

    def test_child_spilling_past_parent_is_clipped(self):
        self.assertEqual(self_time((0, 100), [(90, 120)]), 90)

    def test_leaf_span_self_time_is_its_duration(self):
        self.assertEqual(self_time((5, 9), []), 4)


class CompareTest(unittest.TestCase):
    def test_rows_match_in_any_order_with_float_tolerance(self):
        got = {"cols": ["a", "b"], "rows": [[2, "y"], [1.0000000000001, "x"]]}
        self.assertIsNone(oracle.compare(got, ["b", "a"], [("x", 1.0), ("y", 2)]))

    def test_missing_row_is_a_mismatch(self):
        got = {"cols": ["a"], "rows": [[1]]}
        self.assertIn("rows", oracle.compare(got, ["a"], [(1,), (2,)]))

    def test_wrong_value_is_a_mismatch(self):
        got = {"cols": ["a"], "rows": [[1.5]]}
        self.assertIsNotNone(oracle.compare(got, ["a"], [(1.25,)]))

    def test_map_values_compare_as_objects(self):
        got = {"cols": ["p"], "rows": [[{"balance": "1.00", "name": "n"}]]}
        want = [(oracle.MapValue({"name": "n", "balance": "1.00"}),)]
        self.assertIsNone(oracle.compare(got, ["p"], want))


if __name__ == "__main__":
    unittest.main()
