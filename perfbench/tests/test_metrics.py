"""Tests of the benchmark's own arithmetic and of its input generator.

    python3 -m unittest discover -s perfbench/tests     # from the repository root
"""
import json
import os
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import datagen  # noqa: E402
import metrics as M  # noqa: E402
import run  # noqa: E402


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(M.tail_percentile(157), 90)
        self.assertEqual(M.tail_percentile(47), 75)
        self.assertEqual(M.tail_percentile(200), 95)
        self.assertEqual(M.tail_percentile(1000), 99)
        self.assertEqual(M.tail_percentile(20), 50)

    def test_too_few_samples_reports_the_median_without_a_percentile(self):
        self.assertIsNone(M.tail_percentile(19))
        self.assertEqual(M.tail([1, 2, 3, 4, 100]), (3, None))

    def test_tail_value_interpolates_like_numpy(self):
        values = list(range(1, 48))  # 47 samples -> p75
        self.assertEqual(M.tail(values), (35.5, 75))


class GeoMean(unittest.TestCase):
    def test_geomean(self):
        self.assertAlmostEqual(M.geomean([1, 100]), 10)
        self.assertAlmostEqual(M.geomean([5, 5, 5]), 5)
        self.assertEqual(M.geomean([]), 0.0)


class TaskIntervals(unittest.TestCase):
    def test_union_merges_overlaps_and_gaps(self):
        self.assertEqual(M.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(M.union_length([(20, 25), (0, 10), (10, 12)]), 17)
        self.assertEqual(M.union_length([]), 0)

    def test_union_is_clipped_to_the_window(self):
        self.assertEqual(M.union_length([(0, 10), (5, 15)], 8, 12), 4)
        self.assertEqual(M.union_length([(0, 5)], 6, 9), 0)

    def test_idle_time_is_window_minus_busy(self):
        # Window 0..100; tasks busy 10..30 and 20..50 (one union of 40).
        self.assertEqual(M.idle_time(0, 100, [(10, 30), (20, 50)]), 60)
        self.assertEqual(M.idle_time(0, 100, []), 100)
        self.assertEqual(M.idle_time(0, 100, [(-10, 200)]), 0)


class SelfTime(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_direct_children(self):
        spans = [
            {"id": 1, "parent": 0, "start": 0, "end": 100},
            {"id": 2, "parent": 1, "start": 10, "end": 40},
            {"id": 3, "parent": 1, "start": 30, "end": 60},   # overlaps 2
            {"id": 4, "parent": 2, "start": 15, "end": 20},   # grandchild
            {"id": 5, "parent": 1, "start": 90, "end": 120},  # runs past parent
        ]
        st = M.self_times(spans)
        self.assertEqual(st[1], 100 - 50 - 10)
        self.assertEqual(st[2], 30 - 5)
        self.assertEqual(st[3], 30)
        self.assertEqual(st[5], 30)


class ChangeLog(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.dir = tempfile.TemporaryDirectory()
        cls.days = datagen.generate(cls.dir.name, 7, 0.1, etl_days=10, revisions_per_day=20,
                                    history_days=300)

    @classmethod
    def tearDownClass(cls):
        cls.dir.cleanup()

    def log(self, name):
        return pq.read_table(os.path.join(self.dir.name, "etl", name)).to_pydict()

    def test_at_most_one_revision_per_key_per_day(self):
        base = self.log("base.parquet")
        seen = set(base["o_orderkey"])
        self.assertEqual(len(seen), len(base["o_orderkey"]))
        self.assertEqual(len(self.days), 10)
        for day in self.days:
            d = self.log(f"day_{day}.parquet")
            keys = d["o_orderkey"]
            self.assertEqual(len(keys), len(set(keys)), f"day {day} repeats a key")
            self.assertEqual(set(d["upd_day"]), {day})
            revised = set(keys) & seen
            self.assertEqual(len(revised), 20, "both MERGE arms must run every day")
            self.assertGreater(len(set(keys) - seen), 0)
            seen |= set(keys)

    def test_base_ends_before_the_first_replayed_day(self):
        self.assertLess(max(self.log("base.parquet")["upd_day"]), self.days[0])

    def test_same_seed_same_inputs(self):
        with tempfile.TemporaryDirectory() as other:
            datagen.generate(other, 7, 0.1, etl_days=10, revisions_per_day=20,
                                    history_days=300)
            for name in ["orders.parquet", os.path.join("etl", f"day_{self.days[3]}.parquet")]:
                a = pq.read_table(os.path.join(self.dir.name, name))
                b = pq.read_table(os.path.join(other, name))
                self.assertTrue(a.equals(b), name)


class BenchmarkFile(unittest.TestCase):
    def test_declares_exactly_the_metrics_run_py_prints(self):
        with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]},
                         {k: run.unit(k) for k in run.E2E})
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         {k: run.unit(k) for k in run.LAYERS})
        self.assertEqual(spec["run_seconds"], run.RUN_SECONDS)


if __name__ == "__main__":
    unittest.main()
