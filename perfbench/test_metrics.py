"""Tests for the benchmark's pure helpers: python3 -m unittest discover perfbench"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics as M  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_above(self):
        p, v, above = M.tail_percentile(range(1, 101))
        self.assertEqual((p, v, above), (90, 90, 10))

    def test_fewer_samples_lower_the_percentile(self):
        p, v, above = M.tail_percentile(range(1, 31))
        # 30 samples: p66 is the 20th value, with 10 above it
        self.assertEqual((p, v, above), (66, 20, 10))

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 6
        self.assertEqual(M.tail_percentile(xs), M.tail_percentile(sorted(xs)))

    def test_the_tail_lies_above_the_median(self):
        for n in range(23, 200):
            p, v, above = M.tail_percentile(range(n))
            self.assertGreater(p, 50, n)
            self.assertGreaterEqual(above, 10, n)
            self.assertGreater(v, M.median(range(n)) + 0.5, n)

    def test_too_few_samples_give_no_tail(self):
        # 22 samples: every rank with 10 above it is one the median uses
        self.assertIsNone(M.tail_percentile(range(22)))
        self.assertIsNone(M.tail_percentile([1.0, 2.0, 3.0, 4.0]))
        self.assertIsNone(M.tail_percentile([]))
        # 23 samples: p56 is the 13th value, one above the median
        self.assertEqual(M.tail_percentile(range(1, 24)), (56, 13, 10))


class IntervalUnion(unittest.TestCase):
    def test_overlaps_count_once(self):
        self.assertAlmostEqual(M.interval_union([(0, 2), (1, 3), (5, 6)]), 4.0)

    def test_nested_and_touching(self):
        self.assertAlmostEqual(M.interval_union([(0, 10), (2, 3), (10, 12)]), 12.0)

    def test_clipping(self):
        self.assertAlmostEqual(M.interval_union([(-5, 2), (8, 20)], 0, 10), 4.0)

    def test_driver_gap_is_the_uncovered_wall_time(self):
        jobs = [(1, 3), (2, 4), (6, 7), (9, 15)]
        self.assertAlmostEqual(M.driver_gap(0, 10, jobs), 10 - (3 + 1 + 1))

    def test_driver_gap_without_jobs_is_the_whole_window(self):
        self.assertAlmostEqual(M.driver_gap(2, 5, []), 3.0)


class StealShare(unittest.TestCase):
    def test_share_of_the_cpu_time_between_readings(self):
        before = [100, 0, 10, 500, 0, 0, 0, 20, 0, 0]
        after = [160, 0, 20, 520, 0, 0, 0, 30, 0, 0]
        self.assertAlmostEqual(M.steal_share(before, after), 10 / 100)

    def test_missing_readings(self):
        self.assertIsNone(M.steal_share(None, [1] * 10))
        self.assertEqual(M.steal_share([1] * 10, [1] * 10), 0.0)


class SelfTimes(unittest.TestCase):
    def test_self_time_subtracts_covered_child_time(self):
        spans = [
            {"id": 0, "parent": -1, "start": 0.0, "end": 10.0},
            {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
            {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},
            {"id": 3, "parent": 1, "start": 1.0, "end": 2.0},
        ]
        st = M.self_times(spans)
        self.assertAlmostEqual(st[0], 10 - 5)  # children cover [1, 6]
        self.assertAlmostEqual(st[1], 3 - 1)   # only its own child counts
        self.assertAlmostEqual(st[2], 3.0)
        self.assertAlmostEqual(st[3], 1.0)

    def test_child_outside_parent_is_clipped(self):
        spans = [{"id": 0, "parent": -1, "start": 0.0, "end": 2.0},
                 {"id": 1, "parent": 0, "start": 1.5, "end": 5.0}]
        self.assertAlmostEqual(M.self_times(spans)[0], 1.5)


class Digest(unittest.TestCase):
    def test_row_order_and_key_order_are_ignored(self):
        a = '{"k":1,"v":2.5}\n{"k":2,"v":3.5}\n'
        b = '{"v":3.5,"k":2}\n{"v":2.5,"k":1}\n'
        self.assertEqual(M.digest(a), M.digest(b))

    def test_float_noise_below_nine_digits_is_absorbed(self):
        a = json.dumps({"x": 0.1 + 0.2})
        b = json.dumps({"x": 0.3})
        self.assertEqual(M.digest(a), M.digest(b))

    def test_real_differences_change_the_digest(self):
        self.assertNotEqual(M.digest('{"x":1.0001}'), M.digest('{"x":1.0002}'))
        self.assertNotEqual(M.digest('{"x":1}'), M.digest('{"x":1}\n{"x":1}'))

    def test_nulls_negative_zero_and_nested_values(self):
        a = '{"a":null,"b":-0.0,"c":[1.0000000001,{"d":null}]}'
        b = '{"b":0.0,"c":[1.0,{}]}'
        self.assertEqual(M.digest(a), M.digest(b))

    def test_row_count_prefix(self):
        self.assertTrue(M.digest('{"a":1}\n{"a":2}\n').startswith("2:"))
        self.assertTrue(M.digest("").startswith("0:"))


if __name__ == "__main__":
    unittest.main()
