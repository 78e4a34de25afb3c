"""Tests of tools/diff_runs.py.

Run: python3 -m unittest discover -s tools -p 'test_*.py'
"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.realpath(__file__)))

import diff_runs  # noqa: E402


def trace(d, seed, write_ms):
    """A traced run of two units in one pass: each unit's root span holds one
    `PartitionedLake.deleteInsert` span of `write_ms`, and one job."""
    units, spans = [], []
    for uid in (1, 2):
        spans.append({"id": 10 * uid, "parent": -1, "unit": uid, "name": "unit:refresh",
                      "start_s": 0.0, "end_s": 0.5})
        spans.append({"id": 10 * uid + 1, "parent": 10 * uid, "unit": uid,
                      "name": "PartitionedLake.deleteInsert",
                      "start_s": 0.1, "end_s": 0.1 + write_ms[uid - 1] / 1000.0})
        units.append({"id": uid, "name": "refresh", "wall_s": 0.5, "start_ms": 0.0, "end_ms": 500.0,
                      "jobs": [[100.0, 200.0]], "streams": [], "error": None, "pass": 0,
                      "phase": "traced", "counters": {"tasks": 2, "task_run_ms": 80}})
    # an untraced unit's span is not counted
    spans.append({"id": 99, "parent": -1, "unit": 7, "name": "PartitionedLake.deleteInsert",
                  "start_s": 0.0, "end_s": 9.0})
    raw = {"workload": "medallion_refresh", "seed": seed, "cores": 4, "traced_units": units,
           "traced_passes": [{"wall_s": 1.0}], "passes": [{"wall_s": 0.9, "cpu_s": 1.5}],
           "jvm": {"gc_s": 0.1, "jit_s": 2.0}, "peak_rss_mb": 900.0}
    with open(os.path.join(d, "raw.json"), "w") as f:
        json.dump(raw, f)
    with open(os.path.join(d, "spans.jsonl"), "w") as f:
        f.writelines(json.dumps(sp) + "\n" for sp in spans)


class DiffRuns(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.before = os.path.join(self.tmp.name, "before")
        self.after = os.path.join(self.tmp.name, "after")
        os.makedirs(self.before)
        os.makedirs(self.after)
        trace(self.before, 1, (100.0, 140.0))
        trace(self.after, 2, (50.0, 70.0))

    def tearDown(self):
        self.tmp.cleanup()

    def table(self):
        return diff_runs.diff(diff_runs.report.load(self.before), diff_runs.report.load(self.after))

    def row(self, name):
        return next(line.split() for line in self.table().splitlines() if line.split()[0] == name)

    def test_span_counts_and_medians(self):
        self.assertEqual(self.row("PartitionedLake.deleteInsert"),
                         ["PartitionedLake.deleteInsert", "2", "120.0", "2", "60.0", "-50.0", "%"])
        self.assertEqual(self.row("unit:refresh")[1:5], ["2", "500.0", "2", "500.0"])

    def test_every_per_layer_metric(self):
        table = self.table()
        for name in diff_runs.metrics.per_layer(*diff_runs.report.load(self.before)):
            self.assertIn(f"  {name} ", table)
        self.assertEqual(self.row("operators.driver_gap_s")[1:4], ["0.8000", "0.8000", "s"])
        self.assertEqual(self.row("operators.jobs")[1:3], ["2.0000", "2.0000"])

    def test_header_names_both_runs(self):
        self.assertTrue(self.table().startswith(
            "== medallion_refresh: before seed 1, 1 traced passes | after seed 2, 1 traced passes"))

    def test_change(self):
        self.assertEqual(diff_runs.change(2.0, 1.0), "-50.0 %")
        self.assertEqual(diff_runs.change(0.0, 0.0), "")
        self.assertEqual(diff_runs.change(0.0, 1.0), "new")
        self.assertEqual(diff_runs.change(None, 1.0), "")


if __name__ == "__main__":
    unittest.main()
