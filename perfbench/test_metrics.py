"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import shutil
import tempfile
import unittest

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))


class GmeanOfKindMedians(unittest.TestCase):
    def test_each_kind_contributes_its_median(self):
        # medians 2 and 8; the outliers 100 and 0.001 do not move them
        samples = {"a": [1.0, 2.0, 100.0], "b": [8.0, 0.001, 9.0]}
        self.assertAlmostEqual(metrics.gmean_of_kind_medians(samples), 4.0)

    def test_kinds_weigh_the_same_whatever_their_sample_count(self):
        few = {"a": [3.0], "b": [12.0]}
        many = {"a": [3.0] * 9, "b": [12.0]}
        self.assertAlmostEqual(metrics.gmean_of_kind_medians(few),
                               metrics.gmean_of_kind_medians(many))
        self.assertAlmostEqual(metrics.gmean_of_kind_medians(few), 6.0)

    def test_even_sample_count_takes_the_mean_of_the_middle_two(self):
        self.assertAlmostEqual(metrics.gmean_of_kind_medians({"a": [1.0, 2.0, 4.0, 100.0]}), 3.0)


class DriverGap(unittest.TestCase):
    def test_wall_minus_union_of_overlapping_jobs(self):
        # op 0..100 ms; jobs 10-30 and 20-50 overlap (40 ms covered), 60-70 adds 10
        jobs = [[10, 30], [20, 50], [60, 70]]
        self.assertEqual(metrics.union_ms(jobs), 50)
        self.assertEqual(metrics.driver_gap_ms(100.0, jobs, 0, 100), 50.0)

    def test_jobs_are_clipped_to_the_op(self):
        # a job that started before the op and one that ends after it
        jobs = [[-20, 10], [90, 130]]
        self.assertEqual(metrics.union_ms(jobs, 0, 100), 20)
        self.assertEqual(metrics.driver_gap_ms(100.0, jobs, 0, 100), 80.0)

    def test_nested_and_touching_jobs(self):
        self.assertEqual(metrics.union_ms([[0, 100], [10, 20], [100, 110]]), 110)

    def test_no_jobs_is_all_driver_time(self):
        self.assertEqual(metrics.driver_gap_ms(42.0, [], 0, 42), 42.0)


class Amplification(unittest.TestCase):
    """The ratios on a tiny fixture: a table directory with two live data
    files, one rewritten (dead) file and a log, and the same rows as one
    plain parquet file."""

    def setUp(self):
        self.dir = tempfile.mkdtemp()
        self.files = {"part-0.parquet": 300, "part-1.parquet": 200,
                      "part-old.parquet": 250, "_delta_log/00000.json": 40,
                      "_delta_log/00001.json": 60}
        for name, size in self.files.items():
            path = os.path.join(self.dir, name)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "wb") as f:
                f.write(b"x" * size)

    def tearDown(self):
        shutil.rmtree(self.dir)

    def test_ratios(self):
        sizes = {n: os.path.getsize(os.path.join(self.dir, n)) for n in self.files}
        written = sum(sizes.values())              # nothing was deleted: 850
        live = sizes["part-0.parquet"] + sizes["part-1.parquet"]   # 500
        user = 425                                 # the rows as plain parquet
        self.assertAlmostEqual(metrics.write_amp(written, user), 2.0)
        self.assertAlmostEqual(metrics.space_amp(written, live), 1.7)


class MetricNames(unittest.TestCase):
    def test_benchmark_json_declares_what_the_benchmark_prints(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]},
                         metrics.E2E_UNITS)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]},
                         metrics.LAYER_UNITS)


if __name__ == "__main__":
    unittest.main()
