"""Self-tests for the benchmark's own arithmetic. run.py runs them before
every run; alone: cd perfbench && python3 -m unittest test_reduce"""
import json
import math
import os
import unittest

import reduce


class Percentile(unittest.TestCase):
    def test_median_and_count(self):
        self.assertEqual(reduce.percentile([3.0, 1.0, 2.0], 50), (2.0, 3))
        self.assertEqual(reduce.percentile([1.0, 2.0, 3.0, 4.0], 50), (2.5, 4))

    def test_interpolates_between_ranks(self):
        v, n = reduce.percentile(list(range(1, 11)), 90)  # 1..10
        self.assertAlmostEqual(v, 9.1)
        self.assertEqual(n, 10)

    def test_single_and_empty(self):
        self.assertEqual(reduce.percentile([7.0], 90), (7.0, 1))
        v, n = reduce.percentile([], 50)
        self.assertTrue(math.isnan(v))
        self.assertEqual(n, 0)


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        iv = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0)]
        self.assertEqual(reduce.union_length(iv), 4.0)
        self.assertEqual(reduce.union_length(iv, 1.5, 5.5), 2.0)
        self.assertEqual(reduce.union_length([]), 0.0)

    def test_driver_gap(self):
        # op 0..10 s; planning 0..1; stages 2..4 and 3..6 overlap; one stage outside the op
        gap = reduce.uncovered(0.0, 10.0, [(0.0, 1.0), (2.0, 4.0), (3.0, 6.0), (11.0, 12.0)])
        self.assertAlmostEqual(gap, 10.0 - 1.0 - 4.0)

    def test_gap_never_negative(self):
        self.assertEqual(reduce.uncovered(0.0, 1.0, [(-1.0, 2.0)]), 0.0)


class SelfTime(unittest.TestCase):
    def test_span_minus_children_coverage(self):
        spans = [
            {"id": 1, "parent": 0, "start": 0.0, "end": 10.0},
            {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
            {"id": 3, "parent": 1, "start": 3.0, "end": 5.0},   # overlaps its sibling
            {"id": 4, "parent": 2, "start": 1.5, "end": 2.0},
        ]
        st = reduce.self_times(spans)
        self.assertAlmostEqual(st[1], 6.0)
        self.assertAlmostEqual(st[2], 2.5)
        self.assertAlmostEqual(st[3], 2.0)
        self.assertAlmostEqual(st[4], 0.5)


class Amplification(unittest.TestCase):
    def test_write_and_space_amp(self):
        self.assertAlmostEqual(reduce.amplification(3_000, 1_000), 3.0)
        self.assertAlmostEqual(reduce.amplification(1_500, 2_000), 0.75)
        self.assertTrue(math.isnan(reduce.amplification(10, 0)))


class Reduction(unittest.TestCase):
    """A two-client front-door record: the op id reaches the jobs through
    the SQL tag, the execution's job group, and the stage's job."""
    RAW = {
        "clients": 2, "start": 0.0, "end": 2.0, "peak_rss_mb": 100.0,
        "setup": {"boot_s": 1.0, "session_s": 2.0, "warmup_s": 3.0},
        "ops": [{"id": 0, "client": 0, "traced": True, "t0": 0.0, "t1": 1.0, "ok": True,
                 "sub": {"response_bytes": 10, "status": 200}},
                {"id": 1, "client": 1, "traced": False, "t0": 0.0, "t1": 2.0, "ok": True,
                 "sub": {"response_bytes": 20, "status": 200}}],
        "spans": [{"id": 1, "name": "op", "start": 0.0, "end": 1.0, "parent": 0, "op": 0},
                  {"id": 2, "name": "frontdoor.request", "start": 0.0, "end": 0.9, "parent": 1, "op": 0}],
        "execs": [{"id": 7, "exec": 3, "group": "g0", "tag_op": 0, "start": 0.1, "end": 0.2,
                   "analysis_s": 0.05, "analysis_start": 0.05}],
        "jobs": [{"id": 5, "start": 0.3, "end": 0.6, "op": -1, "exec": -1, "group": "g0",
                  "stage_ids": [11, 12]}],
        "stages": [{"id": 11, "attempt": 0, "start": 0.3, "end": 0.6, "tasks": 4, "run_s": 0.8,
                    "cpu_s": 0.6, "gc_s": 0.0, "peak_mem_bytes": 5, "input_bytes": 100,
                    "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "fetch_wait_s": 0.0,
                    "spill_bytes": 0}],
    }

    def test_end_to_end_names_and_values(self):
        m = reduce.end_to_end(self.RAW, 0.5)
        self.assertEqual(list(m), list(reduce.END_TO_END))
        self.assertAlmostEqual(m["setup_s"], 6.5)       # 0.5 + 1 + 2 + 3
        self.assertAlmostEqual(m["ops_per_s"], 1.0)     # 2 ops, last ends at 2 s
        self.assertAlmostEqual(m["latency_p50_s"], 1.5)

    def test_per_layer_attribution(self):
        m = reduce.per_layer(self.RAW, 0.5)
        self.assertEqual(list(m), list(reduce.PER_LAYER))
        self.assertEqual(m["sched.jobs"], 1)
        self.assertEqual(m["sched.stages"], 1)
        self.assertEqual(m["sched.stages_skipped"], 1)           # stage 12 never ran
        self.assertAlmostEqual(m["frontdoor.self_s"], 0.9 - 0.1 - 0.3)
        self.assertAlmostEqual(m["sched.driver_gap_s"], 1.0 - 0.05 - 0.3)
        self.assertAlmostEqual(m["exec.eff_par"], 0.8)
        self.assertAlmostEqual(m["trace.harness_self_s"], 0.1)
        self.assertAlmostEqual(m["trace.overhead_latency_p50_s"], -1.0)


class LayerMap(unittest.TestCase):
    def test_map_names_the_per_layer_metrics(self):
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "layers.json")) as f:
            m = json.load(f)
        named = set(m["workload"]) | {n for layer in m["layers"].values() for n in layer["metrics"]}
        self.assertEqual(named, set(reduce.PER_LAYER))


if __name__ == "__main__":
    unittest.main()
