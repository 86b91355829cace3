#!/usr/bin/env python3
"""Tests for the benchmark's own code.

  python3 perfbench/test_bench.py                      # statistics, checker helpers
  PERFBENCH_SMOKE=1 python3 perfbench/test_bench.py    # + a smoke run per workload

The smoke runs build the engine if needed and run every workload on small
inputs for one second, traced and untraced; each must exit 0 with
``"correct": true`` and report every metric BENCHMARK.json names.
"""
import json
import os
import statistics
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 31))  # 30 samples
        value, pct, beyond = stats.tail(xs)
        self.assertEqual(value, 20)  # 10 samples (21..30) lie beyond it
        self.assertEqual(beyond, 10)
        self.assertAlmostEqual(pct, 100 * 20 / 30)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 6
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))

    def test_twenty_samples_give_the_median(self):
        self.assertEqual(stats.tail(range(1, 21)), (10.5, 50.0, 10))
        value, pct, beyond = stats.tail(range(1, 22))
        self.assertEqual((value, beyond), (11, 10))

    def test_short_window_falls_back_to_the_median(self):
        xs = [3.0, 1.0, 2.0, 10.0]
        self.assertEqual(stats.tail(xs), (statistics.median(xs), 50.0, 2))
        self.assertEqual(stats.tail([7.0]), (7.0, 50.0, 0))

    def test_tail_never_below_median(self):
        for n in range(1, 60):
            xs = list(range(n))
            self.assertGreaterEqual(stats.tail(xs)[0], statistics.median(xs))

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            stats.tail([])


class MedianQuartileTest(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_quartiles_match_statistics_quantiles(self):
        xs = [1.0, 2.0, 4.0, 8.0, 16.0, 32.0, 64.0, 128.0, 256.0, 512.0]
        self.assertEqual(stats.quartiles(xs), tuple(statistics.quantiles(xs, n=4)))
        self.assertEqual(stats.quartiles([3.0, 3.0])[1], 3.0)


class SpanTest(unittest.TestCase):
    def test_union_merges_overlap_and_keeps_gaps(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(stats.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(5, 5), (7, 6)]), 0)

    def test_self_time_with_overlapping_children(self):
        # two report threads overlap each other; one child outlives the parent
        parent = (0, 100)
        children = [(10, 40), (30, 60), (90, 120)]
        self.assertEqual(stats.self_time(parent, children), 100 - (50 + 10))

    def test_self_time_children_outside_parent_do_not_count(self):
        self.assertEqual(stats.self_time((100, 200), [(0, 50), (250, 300)]), 100)

    def test_self_time_fully_covered(self):
        self.assertEqual(stats.self_time((0, 10), [(0, 6), (4, 10)]), 0)

    def test_layer_self_and_wait_from_trace(self):
        spans = [
            {"id": 1, "parent": 0, "run": 5, "name": "run", "start_us": 0, "end_us": 1000},
            {"id": 2, "parent": 1, "run": 5, "name": "sink.supplier_report",
             "start_us": 100, "end_us": 900},
            {"id": 3, "parent": 1, "run": 5, "name": "sink.part_brand_report",
             "start_us": 200, "end_us": 800},
        ]
        jobs = [{"id": 7, "run": 5, "span": 2, "desc": "execution", "start_us": 300,
                 "end_us": 500, "stages": [70]}]
        stages = [{"id": 70, "run": 5, "span": 2, "num_tasks": 1, "tasks": 1,
                   "submit_us": 300, "complete_us": 500, "first_launch_us": 340,
                   "records_read": 0, "records_written": 3, "shuffle_write_bytes": 0,
                   "spill_bytes": 0, "cached_rdds": []}]
        t = metrics.RunTrace({"gc_ms": 0}, spans, jobs, stages, [], 0)
        self.assertEqual(t.self_and_wait(spans[0]), (200 / 1e6, 0.0))
        self.assertEqual(t.self_and_wait(spans[1]), (600 / 1e6, 40 / 1e6))
        values = metrics.layer_values("trickle", t, {"rows": 10, "parts": 2})
        self.assertAlmostEqual(values["reports.overlap"], (800 + 600) / 800)
        self.assertEqual(values["job.spark_jobs"], 1)
        self.assertEqual(values["job.one_task_stages"], 1)
        self.assertAlmostEqual(values["job.driver_gap_s"], 800 / 1e6)


class CheckerHelperTest(unittest.TestCase):
    def test_round_half_up_like_spark(self):
        self.assertEqual(check.round_half_up(0.9140625), 0.914063)
        self.assertEqual(check.round_half_up(0.5), 0.5)
        self.assertEqual(check.round_half_up(2 / 3), 0.666667)

    def test_shingles_match_engine_hash(self):
        # PolyHash of "abc" folded as ((97 * 31) + 98) * 31 + 99
        self.assertEqual(check.shingles("abc"), {(97 * 31 + 98) * 31 + 99})
        self.assertEqual(check.shingles("ab"), set())
        self.assertEqual(len(check.shingles("aaaa")), 1)

    def test_components_take_min_id(self):
        comp = check.components([(5, 9), (9, 2), (7, 8)])
        self.assertEqual(comp, {2: 2, 5: 2, 9: 2, 7: 7, 8: 7})


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            la = gen.generate("trickle", a, 11, 0.01, 3)
            lb = gen.generate("trickle", b, 11, 0.01, 3)
            for ea, eb in zip(la["batches"], lb["batches"]):
                with open(ea["file"], "rb") as fa, open(eb["file"], "rb") as fb:
                    self.assertEqual(fa.read(), fb.read())
            lc = gen.generate("trickle", a, 12, 0.01, 3)
            self.assertNotEqual(la["batches"][0]["max_key"], lc["batches"][0]["max_key"])

    def test_batches_ascend_and_late_rows_fall_below(self):
        with tempfile.TemporaryDirectory() as d:
            ledger = gen.generate("rds_redshift", d, 3, 0.05, 4)
            prev = ledger["history"][-1]["max_key"]
            for e in ledger["batches"]:
                self.assertEqual(e["min_key"], prev + 1)
                self.assertGreater(e["max_key"], prev)
                with open(e["file"]) as f:
                    keys = [int(line.split(",")[0]) for line in f]
                self.assertEqual(len(keys), e["rows"])
                late = [k for k in keys if k <= prev]
                self.assertEqual(len(late), e["late_rows"])
                self.assertTrue(all(k > prev - 10_000 for k in late))
                prev = e["max_key"]


class BenchmarkJsonTest(unittest.TestCase):
    def test_metrics_match_the_code(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        e2e = [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]]
        self.assertEqual(e2e, metrics.END_TO_END)
        layer = [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]]
        self.assertEqual(layer, metrics.PER_LAYER)
        for w in spec["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)


@unittest.skipUnless(os.environ.get("PERFBENCH_SMOKE"), "set PERFBENCH_SMOKE=1")
class SmokeTest(unittest.TestCase):
    def run_bench(self, workload, trace):
        res = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", "5", "--seconds", "1", "--trace", str(trace), "--scale", "0.05"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600)
        self.assertEqual(res.returncode, 0, res.stdout[-2000:] + res.stderr[-2000:])
        out = json.loads(res.stdout.strip().splitlines()[-1])
        self.assertTrue(out["correct"])
        self.assertGreaterEqual(out["attempted"], 1)
        names = [n for n, _, _ in (metrics.PER_LAYER if trace else metrics.END_TO_END)]
        self.assertEqual(sorted(out["metrics"]), sorted(names))
        return out

    def test_every_workload(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                self.run_bench(w, 0)
                traced = self.run_bench(w, 1)
                self.assertGreater(traced["metrics"]["job.spark_jobs"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
