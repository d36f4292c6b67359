"""End-to-end check of the traced run's listener aggregation: a run of one
query (q6) over the sf0.001 tables, with its traced pass. Builds the
library first if needed.

    python3 -m unittest perfbench/tests/test_listener.py
"""
import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow.parquet as pq  # noqa: E402

import run  # noqa: E402

LINEITEM_ROWS = pq.ParquetFile(
    os.path.join(run.DATA, "sf0.001", "lineitem.parquet")).metadata.num_rows


class ListenerTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.result, cls.report, _ = run.run_workload(
            "test_q6", "sf0.001", seed=7, seconds=1, trace=1, mix=["q6_forecast_revenue"])

    def metric(self, name):
        return self.result["metrics"][name]["value"]

    def test_oracle_passes(self):
        self.assertTrue(self.result["correct"], self.report["failures"])
        self.assertEqual(self.result["failed"], 0)
        # the set-up, the warm-ups, at least one timed pass, the check pass,
        # the traced pass and its untraced control
        self.assertGreaterEqual(self.result["attempted"], run.WARMUPS + 5)

    def test_every_layer_is_reported(self):
        self.assertEqual(set(self.result["metrics"]), set(run.layers.UNITS))

    def test_scheduler_counts_nest(self):
        jobs, stages, tasks = (self.metric(f"sched.{k}") for k in ("jobs", "stages", "tasks"))
        self.assertGreaterEqual(jobs, 1)
        self.assertGreaterEqual(stages, jobs)
        self.assertGreaterEqual(tasks, stages)

    def test_scan_reads_lineitem(self):
        # q6 scans lineitem only; one row group, so every row is read
        self.assertEqual(self.metric("scan.rows"), LINEITEM_ROWS)
        self.assertGreater(self.metric("scan.bytes"), 0)

    def test_times_fit_inside_the_pass(self):
        wall = self.metric("build.wall_s") + self.metric("driver.self_s")
        self.assertGreater(self.metric("build.wall_s"), 0)
        self.assertGreaterEqual(self.metric("driver.self_s"), 0)
        self.assertGreater(self.metric("exec.run_s"), 0)
        self.assertLessEqual(self.metric("exec.cpu_s"), self.metric("exec.run_s") * 1.5 + 0.05)
        self.assertGreater(self.metric("exec.busy_frac"), 0)
        self.assertLess(self.metric("exec.busy_frac"), 1)
        self.assertLess(wall, 60)
        self.assertGreater(self.metric("trace.overhead"), 0)

    def test_no_persisted_blocks_or_writes(self):
        self.assertEqual(self.metric("storage.persisted_peak"), 0)
        self.assertEqual(self.metric("write.bytes"), 0)


if __name__ == "__main__":
    unittest.main()
