"""Unit tests for the per-layer report built from a run's raw files.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import report  # noqa: E402


def _write(out, name, rows):
    with open(os.path.join(out, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _stage(sid, group, tasks, shuffle_b, submit, complete):
    return {"stage": sid, "attempt": 0, "group": group,
            "submit_ms": submit, "complete_ms": complete, "tasks": tasks,
            "failed_tasks": 0, "run_ms": 100 * tasks, "gc_ms": 0,
            "shuffle_read_b": 0, "shuffle_write_b": shuffle_b, "spill_b": 0,
            "failed": False}


class SharedStageTest(unittest.TestCase):
    """Two ops of one traced pass whose jobs share shuffle map stage 1:
    op `a` ran it; op `b`'s job listed it but skipped it, because its
    output already existed, so the listener never saw it submitted under
    `b`'s group."""

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        out = self.tmp.name
        ops = [("a", "get_node", "read", "graphops", "", []),
               ("b", "query", "write", "analytics", "", [])]
        with open(os.path.join(out, "summary.json"), "w") as f:
            json.dump({"setup": {"setup_s": 1.0}, "sentinel_start_s": 0.1,
                       "sentinel_end_s": 0.1, "storage_bytes": 0,
                       "sink_stored_bytes": 0}, f)
        _write(out, "passes.jsonl", [
            {"pass": p, "traced": p != 2, "wall_s": 1.0, "steal_frac": 0.0,
             "memo_builds": 0} for p in (1, 2, 3)])
        _write(out, "samples.jsonl", [
            {"pass": p, "op": o[0], "kind": o[1], "cls": o[2],
             "layer": o[3], "wall_ms": 10.0, "ok": True,
             "bytes_written": 0} for p in (1, 2, 3) for o in ops])
        _write(out, "spans.jsonl", [
            {"id": 1, "parent": 0, "name": "exec", "op": "3:a",
             "start_ms": 1000, "end_ms": 1100},
            {"id": 2, "parent": 0, "name": "exec", "op": "3:b",
             "start_ms": 1200, "end_ms": 1300}])
        _write(out, "jobs.jsonl", [
            {"job": 1, "group": "3:a", "start_ms": 1000, "end_ms": 1090,
             "ok": True},
            {"job": 2, "group": "3:b", "start_ms": 1200, "end_ms": 1290,
             "ok": True}])
        _write(out, "stages.jsonl", [
            _stage(1, "3:a", 4, 2_000_000, 1000, 1050),
            _stage(2, "3:a", 1, 0, 1050, 1090),
            _stage(3, "3:b", 2, 0, 1210, 1290)])
        self.m = report.per_layer(report.RunFiles(out, ops))

    def tearDown(self):
        self.tmp.cleanup()

    def test_shared_stage_counts_only_in_the_op_that_ran_it(self):
        self.assertEqual(self.m["graphops.tasks"], 5)
        self.assertEqual(self.m["analytics.tasks"], 2)
        self.assertEqual(self.m["graphops.shuffle_mb"], 2.0)
        self.assertEqual(self.m["analytics.shuffle_mb"], 0.0)
        self.assertAlmostEqual(self.m["analytics.busy_s"], 0.2)

    def test_skipped_stage_does_not_cover_the_other_ops_driver_gap(self):
        # b's call spans 1200-1300; only its own stage 3 (1210-1290) ran
        self.assertAlmostEqual(self.m["analytics.driver_gap_s"], 0.02)
        self.assertAlmostEqual(self.m["graphops.driver_gap_s"], 0.01)

    def test_jobs_count_per_group(self):
        self.assertEqual(self.m["graphops.jobs"], 1)
        self.assertEqual(self.m["analytics.jobs"], 1)


if __name__ == "__main__":
    unittest.main()
