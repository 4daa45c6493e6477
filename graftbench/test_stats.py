"""Tests for the benchmark's pure statistics.

    python3 -m unittest discover -s graftbench -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


class PercentileChoice(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(0))
        self.assertIsNone(stats.tail_percentile(99))
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(199), 90.0)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(999), 95.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_summary_reports_tail_only_when_sample_allows(self):
        small = stats.latency_summary([1.0, 2.0, 3.0])
        self.assertEqual(small["p50"], 2.0)
        self.assertIsNone(small["tail"])
        big = stats.latency_summary([float(i) for i in range(1, 101)])
        self.assertEqual(big["tail_p"], 90.0)
        self.assertAlmostEqual(big["tail"], 90.1)
        self.assertEqual(big["n"], 100)

    def test_geomean_weighs_each_value_alike(self):
        self.assertAlmostEqual(stats.geomean([1.0, 100.0]), 10.0)
        self.assertAlmostEqual(stats.geomean([5.0]), 5.0)
        # doubling any one of n values moves the mean by 2 ** (1 / n)
        base = stats.geomean([1.0, 10.0, 1000.0])
        self.assertAlmostEqual(stats.geomean([2.0, 10.0, 1000.0]) / base, 2 ** (1 / 3))
        with self.assertRaises(ValueError):
            stats.geomean([])

    def test_quantile_interpolates(self):
        self.assertEqual(stats.quantile([4, 1, 3, 2], 50), 2.5)
        self.assertEqual(stats.quantile([7], 90), 7)
        with self.assertRaises(ValueError):
            stats.quantile([], 50)


class SpanSelfTime(unittest.TestCase):
    def test_nested_spans(self):
        spans = [
            {"id": 0, "parent": -1, "t0": 0.0, "t1": 100.0},
            {"id": 1, "parent": 0, "t0": 10.0, "t1": 40.0},
            {"id": 2, "parent": 1, "t0": 20.0, "t1": 30.0},
            {"id": 3, "parent": 0, "t0": 50.0, "t1": 60.0},
        ]
        st = stats.self_times(spans)
        self.assertEqual(st[0], 100.0 - 30.0 - 10.0)
        self.assertEqual(st[1], 30.0 - 10.0)
        self.assertEqual(st[2], 10.0)
        self.assertEqual(st[3], 10.0)

    def test_overlapping_siblings_count_once(self):
        # two parallel sections under one parent cover [10, 70] together
        self.assertEqual(stats.self_time((0.0, 100.0), [(10.0, 50.0), (30.0, 70.0)]), 40.0)

    def test_children_clipped_to_parent(self):
        self.assertEqual(stats.self_time((0.0, 10.0), [(-5.0, 4.0), (8.0, 20.0)]), 4.0)


class JobIntervals(unittest.TestCase):
    def test_union_of_job_intervals(self):
        jobs = [(0, 10), (5, 15), (20, 30), (30, 31), (40, 40)]
        self.assertEqual(stats.union_length(jobs), 26)

    def test_union_clipped_to_op_window(self):
        self.assertEqual(stats.union_length([(0, 10), (12, 20)], lo=5, hi=15), 8)

    def test_driver_self_time_is_op_minus_job_union(self):
        op = (100.0, 200.0)
        jobs = [(110.0, 150.0), (140.0, 160.0), (190.0, 205.0)]
        self.assertEqual(stats.self_time(op, jobs), 100.0 - 50.0 - 10.0)

    def test_attribution_by_window(self):
        ops = [{"id": 0, "t0": 0.0, "t1": 10.0}, {"id": 1, "t0": 20.0, "t1": 30.0}]
        jobs = [{"t0": 5}, {"t0": 15}, {"t0": 30}, {"t0": 31.5}]
        got = stats.attribute(ops, jobs)
        self.assertEqual([j["t0"] for j in got[0]], [5])
        # 31.5 lies beyond the 1 ms slack of op 1
        self.assertEqual([j["t0"] for j in got[1]], [30])


class FailFrac(unittest.TestCase):
    def test_counts_throws_and_wrong_answers(self):
        ops = [{"ok": True}, {"ok": False}, {"ok": True}, {"ok": False}]
        self.assertEqual(stats.fail_frac(ops), (4, 2, 0.5))

    def test_no_failures(self):
        self.assertEqual(stats.fail_frac([{"ok": True}] * 3), (3, 0, 0.0))

    def test_nothing_attempted(self):
        self.assertEqual(stats.fail_frac([]), (0, 0, 0.0))


if __name__ == "__main__":
    unittest.main()
