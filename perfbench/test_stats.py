"""Tests of the benchmark's metric arithmetic: python3 -m unittest discover perfbench"""
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(stats.supported_percentile(19))
        self.assertEqual(stats.supported_percentile(20), 50.0)
        self.assertEqual(stats.supported_percentile(99), 50.0)
        self.assertEqual(stats.supported_percentile(100), 90.0)
        self.assertEqual(stats.supported_percentile(999), 90.0)
        self.assertEqual(stats.supported_percentile(1000), 99.0)
        self.assertEqual(stats.supported_percentile(10000), 99.9)

    def test_unsupported_percentile_is_refused(self):
        with self.assertRaises(ValueError):
            stats.require_percentile(list(range(999)), 99)
        self.assertEqual(stats.require_percentile(list(range(1, 1001)), 99), 990)

    def test_nearest_rank_and_missed_records(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2)
        values = [1.0] * 98 + [math.inf] * 2
        self.assertEqual(stats.percentile(values, 98), 1.0)
        self.assertEqual(stats.percentile(values, 99), math.inf)

    def test_windowed_percentile_is_median_of_slices(self):
        # three 1000-sample slices; one slice holds a slow batch
        samples = [(t, 1.0) for t in range(0, 2000)] + \
            [(t, 1.0 if t % 50 else 9.0) for t in range(2000, 3000)]
        self.assertEqual(stats.windowed_percentile(samples, 0, 3000, 3, 99), 1.0)
        with self.assertRaises(ValueError):
            stats.windowed_percentile(samples, 0, 3000, 4, 99)


    def test_slices_of_two_steps_pool_by_median(self):
        low = [(t, 1.0) for t in range(0, 3000)]
        high = [(t, 2.0 if t % 50 else 5.0) for t in range(5000, 8000)]
        per = stats.slice_percentiles(low, 0, 3000, 3, 99) + \
            stats.slice_percentiles(high, 5000, 8000, 3, 99)
        self.assertEqual(per, [1.0, 1.0, 1.0, 5.0, 5.0, 5.0])
        self.assertEqual(stats.median(per), 1.0)


class Counted(unittest.TestCase):
    def test_expand_and_mean(self):
        values = stats.expand([(10.0, 3), (20.0, 1)])
        self.assertEqual(values, [10.0, 10.0, 10.0, 20.0])
        self.assertEqual(stats.mean(values), 12.5)
        self.assertEqual(stats.median(values), 10.0)
        with self.assertRaises(ValueError):
            stats.mean([])


class IntervalUnion(unittest.TestCase):
    def test_overlaps_merge(self):
        self.assertEqual(stats.union_ms([(0, 10), (5, 15), (20, 30)]), 25)

    def test_nested_and_touching(self):
        self.assertEqual(stats.union_ms([(0, 10), (2, 3), (10, 12)]), 12)

    def test_clipped_to_window(self):
        self.assertEqual(stats.union_ms([(-5, 5), (8, 20)], 0, 10), 7)

    def test_idle_is_window_minus_union(self):
        # a 100 ms batch with two overlapping jobs and one gap
        self.assertEqual(stats.idle_ms(0, 100, [(10, 40), (30, 60), (70, 90)]), 30)
        self.assertEqual(stats.idle_ms(0, 100, []), 100)


class ReadAmplification(unittest.TestCase):
    def test_num_input_rows_counts_every_scan(self):
        # the ETL batch body scans its source three times: 8,000 records
        # are reported as 24,000 input rows, and 200,000 as 600,000
        self.assertEqual(stats.read_amplification(24000, 8000), 3.0)
        self.assertEqual(stats.read_amplification(600000, 200000), 3.0)

    def test_record_count_must_come_from_the_generator(self):
        with self.assertRaises(ValueError):
            stats.read_amplification(24000, 0)


class Backlog(unittest.TestCase):
    def test_steady_backlog_does_not_grow(self):
        samples = [(t, 500 + (t % 3)) for t in range(0, 10000, 100)]
        self.assertFalse(stats.backlog_grows(samples, 0, 10000, 1000))

    def test_growth_above_one_second_of_input(self):
        samples = [(t, t * 0.5) for t in range(0, 10000, 100)]
        self.assertTrue(stats.backlog_grows(samples, 0, 10000, 1000))


if __name__ == "__main__":
    unittest.main()
