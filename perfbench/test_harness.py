"""Self-tests of the benchmark's measurement arithmetic.

    python3 perfbench/test_harness.py
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402


class Percentiles(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))  # 1..100
        self.assertEqual(harness.percentile(xs, 0.5), 50)
        self.assertEqual(harness.percentile(xs, 0.9), 90)
        self.assertEqual(harness.percentile(xs, 1.0), 100)
        self.assertEqual(harness.percentile([7], 0.9), 7)
        self.assertIsNone(harness.percentile([], 0.5))

    def test_order_does_not_matter(self):
        self.assertEqual(harness.percentile([5, 1, 4, 2, 3], 0.6), 3)

    def test_median_averages_the_middle_pair(self):
        self.assertEqual(harness.median([4, 1, 3, 2]), 2.5)
        self.assertIsNone(harness.median([]))

    def test_tail_rule_needs_ten_samples_beyond(self):
        self.assertEqual(harness.tail_count(100, 0.9), 10)
        self.assertEqual(harness.tail_count(99, 0.9), 9)
        self.assertEqual(harness.tail_percentile(list(range(100)), 0.9), 89)
        self.assertIsNone(harness.tail_percentile(list(range(99)), 0.9))
        self.assertIsNone(harness.tail_percentile([1.0] * 20, 0.9))
        # a p99 needs a thousand samples
        self.assertIsNone(harness.tail_percentile(list(range(999)), 0.99))
        self.assertEqual(harness.tail_percentile(list(range(1000)), 0.99), 989)


class SelfTime(unittest.TestCase):
    def split(self, span, jobs):
        [row] = harness.span_split([span], jobs)
        wall, covered, self_ms = row[:3]
        self.assertAlmostEqual(self_ms + covered, wall)
        return row

    def test_no_jobs_is_all_self_time(self):
        wall, covered, self_ms, jobs, *_ = self.split((100.0, 160.0), [])
        self.assertEqual((wall, covered, self_ms, jobs), (60.0, 0.0, 60.0, 0))

    def test_disjoint_jobs_add_up(self):
        row = self.split((100.0, 200.0), [(110, 130, 4, 50, 7), (150, 160, 2, 10, 3)])
        self.assertEqual(row, (100.0, 30.0, 70.0, 2, 6, 60, 10))

    def test_overlapping_jobs_count_once(self):
        row = self.split((100.0, 200.0), [(110, 150, 1, 0, 0), (120, 170, 1, 0, 0),
                                          (160, 165, 1, 0, 0)])
        self.assertEqual(row[1], 60.0)  # union [110, 170]
        self.assertEqual(row[2], 40.0)

    def test_job_crossing_the_span_end_is_clipped(self):
        row = self.split((100.0, 200.0), [(180, 260, 1, 0, 0)])
        self.assertEqual((row[1], row[2], row[3]), (20.0, 80.0, 1))

    def test_job_started_before_the_span_is_not_its_child(self):
        spans = [(100.0, 200.0), (200.4, 300.0)]
        rows = harness.span_split(spans, [(90, 150, 1, 0, 0), (250, 320, 1, 0, 0)])
        self.assertEqual(rows[0][1:4], (0.0, 100.0, 0))
        self.assertEqual((rows[1][1], rows[1][3]), (50.0, 1))
        self.assertAlmostEqual(rows[1][2], 49.6)

    def test_unfinished_job_runs_to_the_span_end(self):
        row = self.split((100.0, 200.0), [(150, -1, 1, 0, 0)])
        self.assertEqual(row[1], 50.0)

    def test_millisecond_stamp_goes_to_the_later_span(self):
        # Spark stamps whole milliseconds: a job submitted at 200.7 reads
        # 200, inside the second span's first millisecond
        spans = [(100.0, 200.3), (200.4, 300.0)]
        self.assertEqual(harness.attribute(spans, [200, 199, 99, 301]), [1, 0, None, None])


class ErrorRate(unittest.TestCase):
    def test_accounting(self):
        self.assertEqual(harness.error_rate(40, 0), 0.0)
        self.assertEqual(harness.error_rate(40, 10), 0.25)
        self.assertEqual(harness.error_rate(1, 1), 1.0)

    def test_rejects_impossible_tallies(self):
        with self.assertRaises(ValueError):
            harness.error_rate(0, 0)
        with self.assertRaises(ValueError):
            harness.error_rate(3, 4)
        with self.assertRaises(ValueError):
            harness.error_rate(3, -1)


if __name__ == "__main__":
    unittest.main()
