"""Tests for the benchmark's own statistics and metric list.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import json
import os
import unittest

import run
import stats


class TailTest(unittest.TestCase):
    def test_needs_more_samples_than_beyond(self):
        self.assertIsNone(stats.tail(range(10)))
        self.assertIsNone(stats.tail([]))

    def test_eleven_samples_leave_ten_beyond_the_minimum(self):
        xs = [float(i) for i in range(1, 12)]
        p, v = stats.tail(xs)
        self.assertEqual(p, 9)
        self.assertEqual(v, 1.0)

    def test_thirty_samples_give_p66(self):
        xs = list(range(30, 0, -1))  # order must not matter
        p, v = stats.tail(xs)
        self.assertEqual(p, 66)
        self.assertEqual(v, 20)
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_always_ten_beyond_and_never_eleven_at_next_percentile(self):
        for n in range(11, 400):
            xs = list(range(n))
            p, v = stats.tail(xs)
            self.assertGreaterEqual(sum(1 for x in xs if x > v), 10, n)
            if p < 99:
                nxt = xs[max(1, -(-(p + 1) * n // 100)) - 1]
                self.assertLess(sum(1 for x in xs if x > nxt), 10, n)

    def test_thousand_samples_give_p99(self):
        p, v = stats.tail(range(1000))
        self.assertEqual((p, v), (99, 989))


class FractionTest(unittest.TestCase):
    def test_no_failures(self):
        self.assertEqual(stats.failed_fraction(40, 0, 0), 0.0)

    def test_failed_checks_count_as_failures(self):
        self.assertEqual(stats.failed_fraction(40, 1, 3), 0.1)

    def test_capped_at_one(self):
        self.assertEqual(stats.failed_fraction(2, 1, 5), 1.0)

    def test_nothing_attempted_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.failed_fraction(0, 0, 0)


class SpaceAmpTest(unittest.TestCase):
    def test_ratio_of_disk_to_base_bytes(self):
        self.assertEqual(stats.space_amp(3000, 1000), 3.0)
        self.assertAlmostEqual(stats.space_amp(512, 1024), 0.5)

    def test_empty_base_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.space_amp(10, 0)


class MedianTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)


class MetricListTest(unittest.TestCase):
    def setUp(self):
        path = os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")
        with open(path) as fh:
            self.bench = json.load(fh)

    def test_benchmark_json_matches_the_metrics_printed(self):
        self.assertEqual(
            [(m["name"], m["unit"], m["better"]) for m in self.bench["end_to_end"]],
            run.END_TO_END)
        self.assertEqual(
            [(m["name"], m["unit"], m["better"]) for m in self.bench["per_layer"]],
            run.PER_LAYER)
        self.assertEqual(
            [w["name"] for w in self.bench["workloads"]], list(run.WORKLOADS))

    def test_sizes_within_contract(self):
        self.assertLessEqual(len(run.PER_LAYER), 128)
        names = [n for (n, _, _) in run.END_TO_END + run.PER_LAYER]
        self.assertEqual(len(names), len(set(names)))
        self.assertIn("setup_s", [m["name"] for m in self.bench["end_to_end"]])


if __name__ == "__main__":
    unittest.main()
