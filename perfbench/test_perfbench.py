"""Tests of the benchmark's own arithmetic and of BENCHMARK.json.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import copy
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.realpath(__file__)))

import metrics  # noqa: E402
import schema  # noqa: E402


class Percentiles(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 50), 50)
        self.assertEqual(metrics.percentile(xs, 90), 90)
        self.assertEqual(metrics.percentile(xs, 100), 100)
        self.assertEqual(metrics.percentile([3.0], 90), 3.0)
        self.assertEqual(metrics.percentile([5, 1, 4, 2, 3], 50), 3)

    def test_ten_samples_beyond(self):
        self.assertEqual(metrics.beyond(100, 90), 10)
        self.assertEqual(metrics.beyond(99, 90), 9)
        self.assertEqual(metrics.tail_percentile(100), 90)
        self.assertEqual(metrics.tail_percentile(99), 75)
        self.assertEqual(metrics.tail_percentile(20), 50)
        self.assertIsNone(metrics.tail_percentile(19))
        self.assertEqual(metrics.tail_percentile(1000), 99)

    def test_geomean(self):
        self.assertAlmostEqual(metrics.geomean([1.0, 100.0]), 10.0)
        self.assertAlmostEqual(metrics.geomean([2.0, 2.0, 2.0]), 2.0)
        # a small unit's halving moves the mean as much as a large one's
        self.assertAlmostEqual(metrics.geomean([0.5, 10.0]), metrics.geomean([1.0, 5.0]))
        with self.assertRaises(ValueError):
            metrics.geomean([1.0, 0.0])


def span(id_, parent, start, end, name="x", unit=1):
    return {"id": id_, "parent": parent, "start_s": start, "end_s": end, "name": name, "unit": unit}


class SelfTime(unittest.TestCase):
    def test_nested(self):
        spans = [span(1, -1, 0.0, 10.0), span(2, 1, 1.0, 4.0), span(3, 1, 5.0, 6.0),
                 span(4, 2, 2.0, 3.0)]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st[1], 6.0)
        self.assertAlmostEqual(st[2], 2.0)
        self.assertAlmostEqual(st[3], 1.0)
        self.assertAlmostEqual(st[4], 1.0)
        self.assertAlmostEqual(sum(st.values()), 10.0)

    def test_overlapping_children_count_once(self):
        spans = [span(1, -1, 0.0, 10.0), span(2, 1, 1.0, 5.0), span(3, 1, 3.0, 7.0)]
        self.assertAlmostEqual(metrics.self_times(spans)[1], 4.0)

    def test_layer_names(self):
        self.assertEqual(metrics.layer_of("SparkEntry.build"), "SparkEntry")
        self.assertEqual(metrics.layer_of("PartitionedLake.deleteInsert"), "sources")
        self.assertEqual(metrics.layer_of("Medallion.bucketize"), "operators")
        self.assertIsNone(metrics.layer_of("unit:q07_agg_full"))


class DriverGap(unittest.TestCase):
    def test_overlapping_jobs(self):
        jobs = [(10, 20), (15, 30), (40, 50)]
        self.assertAlmostEqual(metrics.union_length(jobs), 30.0)
        self.assertAlmostEqual(metrics.driver_gap(0, 60, jobs), 30.0)

    def test_jobs_clipped_to_unit(self):
        self.assertAlmostEqual(metrics.driver_gap(10, 20, [(0, 12), (18, 40)]), 6.0)
        self.assertAlmostEqual(metrics.driver_gap(0, 10, []), 10.0)
        self.assertAlmostEqual(metrics.driver_gap(0, 10, [(0, 10), (2, 3)]), 0.0)


class OracleCompare(unittest.TestCase):
    def test_canonical_order_and_drift(self):
        import pandas as pd
        import oracle
        got = pd.DataFrame({"b": [2.0, 1.0], "a": [1, 2]})
        self.assertIsNone(oracle.compare(got, pd.DataFrame({"a": [2, 1], "b": [1.0, 2.0]})))
        self.assertIn("render drift", oracle.compare(
            pd.DataFrame({"a": [0.0]}), pd.DataFrame({"a": [-0.0]})))
        self.assertIn("dtype drift", oracle.compare(
            pd.DataFrame({"a": [1]}), pd.DataFrame({"a": [1.0]})))
        self.assertIn("rowcount", oracle.compare(got, got.head(1)))


class Benchmark(unittest.TestCase):
    def setUp(self):
        self.bench, self.preds = schema.load()

    def test_schema(self):
        self.assertEqual(schema.problems(self.bench, self.preds), [])

    def test_workloads_and_whys(self):
        ws = {w["name"]: w["why"] for w in self.bench["workloads"]}
        self.assertEqual(set(ws), {"medallion_refresh", "batch_mix"})
        self.assertTrue(all(ws.values()))

    def test_every_layer_predicted(self):
        names = [m["name"] for m in self.bench["per_layer"]]
        for layer in metrics.LAYERS:
            self.assertTrue(any(n.startswith(layer + ".") for n in names), layer)
        p = schema.prediction(self.preds, "sources.bronze_s")
        self.assertIn("medallion_refresh", p["on"])
        self.assertIn("batch_mix", p["no_change_on"])
        p = schema.prediction(self.preds, "SparkEntry.build_s")
        self.assertIn("medallion_refresh", p["no_change_on"])
        p = schema.prediction(self.preds, "operators.driver_gap_s")
        self.assertIn("medallion_refresh", p["on"])

    def test_schema_rejects(self):
        bad = copy.deepcopy(self.bench)
        bad["end_to_end"][0]["bound"] = 0.3
        bad["workloads"][0]["why"] = "two\nlines"
        bad["per_layer"].append({"name": "nolayer.x", "unit": "s", "better": "lower"})
        bad["paths"] = ["../elsewhere"]
        found = " ".join(schema.problems(bad, self.preds))
        for part in ("bound", "why", "no layer-to-metric prediction", "bad paths"):
            self.assertIn(part, found)


if __name__ == "__main__":
    unittest.main()
