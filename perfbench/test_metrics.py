"""Tests of the benchmark's own metric math, on synthetic inputs.

  python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import shutil
import tempfile
import unittest

import pandas as pd

import gen
import metrics as M
import run


class PercentileTest(unittest.TestCase):
    def test_nearest_rank_and_sample_count(self):
        xs = list(range(1, 101))  # 1..100
        self.assertEqual(M.percentile(xs, 50), (50, 100))
        self.assertEqual(M.percentile(xs, 90), (90, 100))
        self.assertEqual(M.percentile(xs, 99), (99, 100))
        self.assertEqual(M.percentile(xs, 100), (100, 100))

    def test_small_samples_pick_an_observed_value(self):
        self.assertEqual(M.percentile([30, 10, 20], 50), (20, 3))
        self.assertEqual(M.percentile([30, 10, 20], 99), (30, 3))
        self.assertEqual(M.percentile([7], 90), (7, 1))
        self.assertEqual(M.percentile([], 50), (None, 0))

    def test_median_of_even_count_is_the_middle_mean(self):
        self.assertEqual(M.median([4, 1, 3, 2]), 2.5)


class DriverGapTest(unittest.TestCase):
    def test_gap_is_wall_minus_union_of_overlapping_jobs(self):
        # jobs [10,40) and [30,60) overlap: union 50, not the sum 60
        self.assertEqual(M.driver_gap(0, 100, [(10, 40), (30, 60)]), 50)

    def test_nested_and_disjoint_jobs(self):
        self.assertEqual(M.driver_gap(0, 100, [(10, 90), (20, 30), (95, 99)]), 16)

    def test_jobs_outside_the_window_are_clipped_never_negative(self):
        self.assertEqual(M.driver_gap(50, 100, [(0, 200)]), 0)
        self.assertEqual(M.driver_gap(50, 100, [(0, 60), (90, 300)]), 30)
        # more summed job time than wall time still gives no negative gap
        self.assertEqual(M.driver_gap(0, 10, [(0, 10)] * 5), 0)

    def test_self_time_subtracts_the_union_of_children(self):
        spans = [{"id": 0, "parent": -1, "start": 0, "end": 100},
                 {"id": 1, "parent": 0, "start": 10, "end": 50},
                 {"id": 2, "parent": 0, "start": 40, "end": 70},
                 {"id": 3, "parent": 1, "start": 10, "end": 20}]
        self.assertEqual(M.self_times(spans), {0: 40, 1: 30, 2: 30, 3: 10})


class LatencyMatchingTest(unittest.TestCase):
    def test_records_map_to_the_batch_whose_end_offset_passes_them(self):
        ends = [(0, {0: 3, 1: 1}), (1, {0: 3, 1: 4}), (2, {0: 5, 1: 4})]
        recs = [(0, 0), (0, 2), (0, 3), (0, 4), (1, 0), (1, 1), (1, 3), (1, 4), (0, 5)]
        self.assertEqual(M.admitting_batches(ends, recs),
                         [0, 0, 2, 2, 0, 1, 1, None, None])

    def test_shard_absent_from_early_batches(self):
        ends = [(0, {0: 2}), (1, {0: 2, 1: 2})]
        self.assertEqual(M.admitting_batches(ends, [(1, 0), (1, 1), (0, 1)]), [1, 1, 0])

    def test_latency_runs_from_due_time_to_the_admitting_batch_document(self):
        recs = [{"shard": 0, "seq": 0, "due": 1000, "target": 1, "kind": "frame",
                 "phase": "nominal"},
                {"shard": 0, "seq": 1, "due": 1100, "target": 2, "kind": "frame",
                 "phase": "nominal"},
                {"shard": 1, "seq": 0, "due": 1200, "target": 3, "kind": "frame",
                 "phase": "peak"}]
        progress = [{"batchId": 4, "sources": [{"endOffset": {"shard-0": {"seq": 1}}}]},
                    {"batchId": 5, "sources": [
                        {"endOffset": {"shard-0": {"seq": 2}, "shard-1": {"seq": 1}}}]}]
        docs = {4: (1500.0, {1: {}}, 10), 5: (2000.0, {2: {}}, 10)}
        failed, lat = run.score_stream_records(recs, progress, docs)
        self.assertEqual(lat["nominal"], [500.0, 900.0])
        # target 3 is missing from its batch's document: never reflected
        self.assertEqual(failed, {2})

    def test_wrong_final_state_fails_both_tail_records(self):
        recs = [{"shard": 0, "seq": 0, "due": 10, "target": 1, "kind": "frame",
                 "phase": "tail"},
                {"shard": 0, "seq": 1, "due": 20, "target": 1, "kind": "command",
                 "phase": "tail", "expect": [1500] * 8}]
        progress = [{"batchId": 0, "sources": [{"endOffset": {"shard-0": {"seq": 2}}}]}]

        def doc(channels, overridden, remaining):
            return {0: (30.0, {1: {"channels": channels, "is_channels_overridden": overridden,
                                   "override_timeout_remaining": remaining}}, 10)}
        good = doc([1500] * 8, True, gen.TAIL_TTL_MS)
        self.assertEqual(run.score_stream_records(recs, progress, good)[0], set())
        for bad in (doc([1500] * 7 + [1501], True, gen.TAIL_TTL_MS),
                    doc([1500] * 8, False, 0), doc([1500] * 8, True, 5)):
            self.assertEqual(run.score_stream_records(recs, progress, bad)[0], {0, 1})


class WrongOutputTest(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp()
        self.data = os.path.join(self.dir, "data")
        os.makedirs(self.data)
        for t in run.TABLES:
            pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]}).to_parquet(
                os.path.join(self.data, f"{t}.parquet"))

    def tearDown(self):
        shutil.rmtree(self.dir)

    def _result(self, rows):
        out = os.path.join(self.dir, "run", "out", "q99_x")
        os.makedirs(out, exist_ok=True)
        pd.DataFrame(rows).to_parquet(os.path.join(out, "part-0.parquet"))
        samples = [{"pass": p, "query": "q99_x", "wall_ms": 10.0 + p, "build_ms": 1.0,
                    "plan_ms": 1.0, "exec_ms": 8.0, "error": None} for p in (0, 1)]
        return {"samples": samples, "pass_ms": [11.0, 12.0], "first_timed_ms": 5000.0,
                "jvm_start_ms": 1000.0, "held_mb": 50.0,
                "oracle_sql": {"q99_x": "SELECT k, v FROM region ORDER BY k"}}

    def test_matching_output_passes(self):
        res = self._result({"v": [2.5, 0.5, 1.5], "k": [3, 1, 2]})
        attempted, failed, e2e, _, notes = run.score_batch(
            res, os.path.join(self.dir, "run"), self.data, False)
        self.assertEqual((attempted, failed), (2, 0))
        self.assertEqual(e2e["setup_s"], 4.0)
        self.assertEqual(e2e["work_s"], 0.0105)  # the query's median, 10.5 ms

    def test_planted_wrong_output_counts_every_execution_as_failed(self):
        res = self._result({"k": [1, 2, 3], "v": [0.5, 1.5, 2.6]})
        attempted, failed, _, _, notes = run.score_batch(
            res, os.path.join(self.dir, "run"), self.data, False)
        self.assertEqual((attempted, failed), (2, 2))
        self.assertIn("q99_x", notes["oracle_mismatch"])

    def test_float_tolerance_is_absolute_1e_9(self):
        exp = pd.DataFrame({"a": [1.0]})
        self.assertIsNone(M.compare_frames(exp, pd.DataFrame({"a": [1.0 + 1e-10]})))
        self.assertIsNotNone(M.compare_frames(exp, pd.DataFrame({"a": [1.0 + 1e-8]})))


class ScheduleTest(unittest.TestCase):
    def test_same_seed_same_records_and_one_shard_per_target(self):
        a = gen.schedule(7, 2, 10000, 20000)
        b = gen.schedule(7, 2, 10000, 20000)
        self.assertEqual(a, b)
        self.assertNotEqual(a, gen.schedule(8, 2, 10000, 20000))
        for r in a:
            self.assertEqual(r["shard"], gen.shard_of(r["target"]))
        tails = [r for r in a if "expect" in r]
        self.assertEqual(len(tails), gen.TARGETS)


if __name__ == "__main__":
    unittest.main()
