"""Unit tests for the benchmark's statistics and span arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import layers  # noqa: E402
import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_highest_rung_with_ten_beyond(self):
        xs = list(range(1, 101))
        p, v, beyond = stats.tail(xs)
        self.assertEqual(p, 90)  # p95 would leave only 5 samples beyond
        self.assertAlmostEqual(v, 90.1)
        self.assertEqual(beyond, 10)

    def test_more_samples_reach_higher_rungs(self):
        self.assertEqual(stats.tail(list(range(1, 201)))[0], 95)
        self.assertEqual(stats.tail(list(range(1, 1001)))[0], 99)
        self.assertEqual(stats.tail(list(range(1, 41)))[0], 75)

    def test_too_few_samples_fall_back_to_median(self):
        p, v, beyond = stats.tail(list(range(1, 20)))
        self.assertEqual((p, v, beyond), (50, 10, 9))

    def test_ties_do_not_count_as_beyond(self):
        xs = [1.0] * 30 + [2.0] * 9
        p, v, beyond = stats.tail(xs)
        self.assertEqual((p, v, beyond), (50, 1.0, 9))

    def test_percentile_interpolates(self):
        self.assertEqual(stats.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(stats.percentile([5], 90), 5)


class GeomeanTest(unittest.TestCase):
    def test_values(self):
        self.assertAlmostEqual(stats.geomean([1, 4]), 2.0)
        self.assertAlmostEqual(stats.geomean([0.1, 10, 1]), 1.0)

    def test_weights_each_key_once(self):
        meds = stats.per_key_medians([("a", 1.0), ("a", 3.0), ("a", 2.0), ("b", 8.0)])
        self.assertEqual(meds, {"a": 2.0, "b": 8.0})
        self.assertAlmostEqual(stats.geomean(list(meds.values())), 4.0)

    def test_rejects_non_positive(self):
        with self.assertRaises(ValueError):
            stats.geomean([1.0, 0.0])


class SpanTest(unittest.TestCase):
    def test_covered_merges_overlaps_and_clips(self):
        self.assertEqual(stats.covered([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.covered([(0, 10)], 2, 4), 2)
        self.assertEqual(stats.covered([(3, 1)]), 0)
        self.assertEqual(stats.covered([]), 0)

    def test_self_time(self):
        # a 10 ms query: build 0-3, a job 2-6 inside it, a plan phase 7-8
        self.assertEqual(stats.self_time((0, 10), [(0, 3), (2, 6), (7, 8)]), 3)
        # children spilling past the span only count inside it
        self.assertEqual(stats.self_time((5, 10), [(0, 7), (9, 20)]), 2)
        self.assertEqual(stats.self_time((0, 4), []), 4)


def _events():
    """One traced pass with two queries, times in ms."""
    return [
        {"k": "query", "id": "0.0", "name": "a", "round": 0},
        {"k": "span", "span": "query", "id": "0.0", "t0": 0.0, "t1": 100.0},
        {"k": "span", "span": "build", "id": "0.0", "t0": 0.0, "t1": 30.0},
        {"k": "span", "span": "exec", "id": "0.0", "t0": 30.0, "t1": 100.0},
        {"k": "job_start", "id": "0.0", "job": 1, "t": 10},   # launched while building
        {"k": "job_end", "job": 1, "t": 20},
        {"k": "job_start", "id": "0.0", "job": 2, "t": 50},
        {"k": "job_end", "job": 2, "t": 90},
        {"k": "phase", "phase": "analysis", "t0": 30, "t1": 32},
        {"k": "phase", "phase": "planning", "t0": 40, "t1": 45},
        {"k": "stage", "id": "0.0", "stage": 7, "tasks": 2},
        {"k": "task", "id": "0.0", "wall_ms": 30, "run_ms": 20, "cpu_ns": 10_000_000,
         "gc_ms": 1, "shuffle_write": 100, "shuffle_read": 0, "fetch_wait_ms": 0,
         "spill": 0, "in_rows": 6000, "in_bytes": 5000, "out_bytes": 0},
        {"k": "task", "id": "0.0", "wall_ms": 25, "run_ms": 25, "cpu_ns": 20_000_000,
         "gc_ms": 0, "shuffle_write": 0, "shuffle_read": 100, "fetch_wait_ms": 3,
         "spill": 8, "in_rows": 0, "in_bytes": 0, "out_bytes": 0},
        {"k": "block", "block": "rdd_1_0", "mem": 64, "disk": 0, "t": 60.0},
        {"k": "block", "block": "rdd_1_1", "mem": 32, "disk": 0, "t": 61.0},
        {"k": "block", "block": "rdd_1_0", "mem": 0, "disk": 0, "t": 70.0},
        {"k": "query", "id": "0.1", "name": "b", "round": 0},
        {"k": "span", "span": "query", "id": "0.1", "t0": 100.0, "t1": 120.0},
        {"k": "span", "span": "build", "id": "0.1", "t0": 100.0, "t1": 105.0},
        {"k": "span", "span": "exec", "id": "0.1", "t0": 105.0, "t1": 120.0},
        {"k": "phase", "phase": "optimization", "t0": 106, "t1": 110},
    ]


class AggregateTest(unittest.TestCase):
    def test_layer_sums(self):
        m = layers.aggregate(_events(), pass_wall=0.2, cores=4)
        self.assertAlmostEqual(m["build.wall_s"], 0.035)
        self.assertEqual(m["build.jobs"], 1)
        self.assertEqual((m["sched.jobs"], m["sched.stages"], m["sched.tasks"]), (2, 1, 2))
        self.assertAlmostEqual(m["sched.job_s"], 0.05)
        self.assertAlmostEqual(m["sched.overhead_s"], 0.01)
        self.assertAlmostEqual(m["plan.analysis_s"], 0.002)
        self.assertAlmostEqual(m["plan.optimization_s"], 0.004)
        self.assertAlmostEqual(m["plan.planning_s"], 0.005)
        # query a: 100 ms minus build 0-30, phases 30-32 and 40-45, job 50-90
        # query b: 20 ms minus build 100-105 and phase 106-110
        self.assertAlmostEqual(m["driver.self_s"], (100 - 30 - 2 - 5 - 40 + 20 - 5 - 4) / 1e3)
        self.assertAlmostEqual(m["exec.run_s"], 0.045)
        self.assertAlmostEqual(m["exec.cpu_s"], 0.03)
        self.assertAlmostEqual(m["exec.busy_frac"], 0.045 / (0.2 * 4))
        self.assertEqual((m["scan.rows"], m["scan.bytes"]), (6000, 5000))
        self.assertEqual((m["shuffle.write_bytes"], m["shuffle.read_bytes"]), (100, 100))
        self.assertAlmostEqual(m["shuffle.fetch_wait_s"], 0.003)
        self.assertEqual(m["spill.bytes"], 8)
        self.assertEqual((m["storage.persisted_peak"], m["storage.mem_peak_bytes"]), (2, 96))


if __name__ == "__main__":
    unittest.main()
