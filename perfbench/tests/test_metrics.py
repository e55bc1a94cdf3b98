"""Unit tests of the benchmark's own arithmetic and of BENCHMARK.json.

    python3 -m unittest discover -s perfbench/tests
"""

import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import metrics  # noqa: E402
import run  # noqa: E402


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        # 100 samples: p90 (rank 90) has exactly 10 beyond it, p95 only 5
        p, value, n = metrics.tail(list(range(1, 101)))
        self.assertEqual((p, value, n), (90, 90, 100))

    def test_order_of_samples_does_not_matter(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.tail(xs[::-1]), metrics.tail(xs))

    def test_eleven_samples_reach_p50_only(self):
        # rank ceil(0.5 * 11) = 6 leaves 5 beyond; no percentile qualifies
        self.assertEqual(metrics.tail(list(range(11))), (100, 10, 11))
        # 20 samples: p50 is rank 10, ten beyond it
        self.assertEqual(metrics.tail(list(range(20)))[:2], (50, 9))

    def test_too_few_samples_report_the_maximum(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (100, 3.0, 3))

    def test_thousand_samples_reach_p99(self):
        p, value, _ = metrics.tail(list(range(1, 1001)))
        self.assertEqual((p, value), (99, 990))


class Attribution(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp()
        for rel in ("graft/JobRunner.scala", "graft/operators/Dedup.scala",
                    "graft/operators/Search.scala", "graft/sinks/ParquetSink.scala",
                    "graft/sources/JsonlSource.scala", "graft/state/StateStore.scala",
                    "graft/infra/Tracing.scala"):
            path = os.path.join(self.dir, rel)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            open(path, "w").close()
        self.modules = metrics.module_map(self.dir)

    def test_call_site_to_module(self):
        cases = {
            "parquet at ParquetSink.scala:166": "sinks",
            "collect at Dedup.scala:1204": "Dedup",
            "count at Search.scala:117": "Search",
            "json at JsonlSource.scala:40": "sources",
            "parquet at StateStore.scala:12": "state",
            "run at JobRunner.scala:300": "JobRunner",
            "span at Tracing.scala:40": "Tracing",
            "save at Workloads.scala:85": "other",
            "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768": "other",
            "": "other",
        }
        for site, module in cases.items():
            self.assertEqual(metrics.attribute(site, self.modules), module, site)

    def test_long_call_site_names_the_calling_method(self):
        stack = ("org.apache.spark.sql.DataFrameWriter.parquet(DataFrameWriter.scala:802)\n"
                 "graft.sinks.ParquetSink$.estimateMaxRecordsPerFile(ParquetSink.scala:89)\n"
                 "graft.JobRunner$.commit(JobRunner.scala:836)")
        self.assertTrue(metrics.called_from(
            stack, "ParquetSink", "estimateMaxRecordsPerFile"))
        self.assertTrue(metrics.called_from(
            "graft.sinks.ParquetSink$.$anonfun$estimateMaxRecordsPerFile$1(ParquetSink.scala:90)",
            "ParquetSink", "estimateMaxRecordsPerFile"))
        self.assertFalse(metrics.called_from(
            "graft.sinks.ParquetSink$.write(ParquetSink.scala:166)\n"
            "graft.JobRunner$.commit(JobRunner.scala:840)",
            "ParquetSink", "estimateMaxRecordsPerFile"))
        self.assertFalse(metrics.called_from(
            "graft.sinks.OtherParquetSink$.estimateMaxRecordsPerFile(X.scala:1)",
            "ParquetSink", "estimateMaxRecordsPerFile"))
        self.assertFalse(metrics.called_from("", "ParquetSink", "write"))


class Arithmetic(unittest.TestCase):
    def test_prefix_marginals(self):
        prefix = {"source": [100.0, 120.0, 110.0],
                  "validate": [150.0, 170.0],
                  "curate": [400.0, 420.0, 410.0]}
        m = metrics.marginals(prefix, ["source", "validate", "curate"])
        self.assertEqual(m, {"source": 110.0, "validate": 50.0, "curate": 250.0})

    def test_union_counts_overlap_once(self):
        self.assertEqual(metrics.union_ms([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics.union_ms([]), 0.0)
        self.assertEqual(metrics.union_ms(
            metrics.clip([(0, 10), (5, 15), (20, 25)], 8, 22)), 9)

    def test_same_ranking_lets_tied_ids_swap(self):
        ref = [[1, 9.0], [2, 5.0], [3, 5.0], [4, 1.0], [5, 0.5]]
        self.assertTrue(metrics.same_ranking(ref, ref))
        # ranks 2 and 3 tie: their ids may swap
        swapped = [[1, 9.0], [3, 5.0], [2, 5.0], [4, 1.0], [5, 0.5]]
        self.assertTrue(metrics.same_ranking(swapped, ref))
        # the last rank may hold another id at the same score
        self.assertTrue(metrics.same_ranking(ref[:4] + [[6, 0.5]], ref))
        # an untied rank must hold the same id
        self.assertFalse(metrics.same_ranking([[7, 9.0]] + ref[1:], ref))
        self.assertFalse(metrics.same_ranking(ref[:4] + [[5, 0.4]], ref))
        self.assertFalse(metrics.same_ranking(ref[:4], ref))

    def test_recall(self):
        truth = {"q1": [1, 2, 3, 4], "q2": [5, 6, 7, 8]}
        got = {"q1": [1, 2, 3, 9], "q2": [8, 7, 6, 5]}
        self.assertAlmostEqual(metrics.recall_at_k(got, truth, 4), 0.875)


class BenchmarkFile(unittest.TestCase):
    """BENCHMARK.json names exactly what run.py prints."""

    def setUp(self):
        with open(os.path.join(os.path.dirname(os.path.dirname(HERE)),
                               "BENCHMARK.json")) as f:
            self.b = json.load(f)

    def test_metric_lists_match_the_runner(self):
        self.assertEqual([(m["name"], m["unit"]) for m in self.b["end_to_end"]],
                         run.E2E)
        self.assertEqual([(m["name"], m["unit"]) for m in self.b["per_layer"]],
                         run.PER_LAYER)

    def test_workloads_are_runnable(self):
        for w in self.b["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)

    def test_setup_has_the_largest_bound(self):
        bounds = {m["name"]: m["bound"] for m in self.b["end_to_end"]}
        self.assertEqual(max(bounds.values()), bounds["setup_s"])
        self.assertTrue(all(0 < b <= 0.25 for b in bounds.values()))


if __name__ == "__main__":
    unittest.main()
