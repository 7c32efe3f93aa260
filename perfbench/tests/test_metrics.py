"""Self-tests of the benchmark's own arithmetic.

    python3 -m pytest perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from metrics import (driver_gap, fail_frac, sample_module, self_times,  # noqa: E402
                     site_module, tail, union_length)


class TailPercentile(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_above(self):
        xs = list(range(1, 21))  # 20 samples
        value, pct, n = tail(reversed(xs))
        self.assertEqual((value, pct, n), (10, 50.0, 20))
        self.assertEqual(sum(x > value for x in xs), 10)

    def test_eleven_samples_leave_only_the_minimum(self):
        value, pct, n = tail([5.0] + [9.0] * 10)
        self.assertEqual((value, n), (5.0, 11))
        self.assertAlmostEqual(pct, 100.0 / 11)

    def test_too_few_samples_report_the_maximum(self):
        self.assertEqual(tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))
        self.assertEqual(tail([]), (0.0, 0.0, 0))


class DriverGap(unittest.TestCase):
    def test_overlapping_jobs_count_once(self):
        jobs = [(1, 4), (3, 6), (8, 12)]  # the last runs past the query
        self.assertEqual(union_length([(1, 4), (3, 6)]), 5)
        self.assertEqual(driver_gap(0, 10, jobs), 10 - (5 + 2))

    def test_nested_and_disjoint_jobs(self):
        self.assertEqual(driver_gap(0, 10, [(2, 8), (3, 4), (20, 30)]), 4)
        self.assertEqual(driver_gap(0, 10, []), 10)


SPARK_TOP = "org.apache.spark.sql.Dataset.count(Dataset.scala:3650)\n"


class CallSiteModule(unittest.TestCase):
    def test_innermost_engine_frame_wins(self):
        site = (SPARK_TOP +
                "graft.operators.Dedup$.pairs(Dedup.scala:40)\n"
                "graft.queries.PipelineQueries$.$anonfun$all$3(PipelineQueries.scala:90)\n"
                "perfbench.Harness$Run.execute(Harness.scala:180)")
        self.assertEqual(site_module(site), "operators")

    def test_top_level_engine_objects(self):
        self.assertEqual(site_module(SPARK_TOP + "graft.Tables$.load(Tables.scala:30)"),
                         "Tables")
        self.assertEqual(site_module(SPARK_TOP + "graft.FlinkSql$.run(FlinkSql.scala:9)"),
                         "sql")
        self.assertEqual(
            site_module(SPARK_TOP + "graft.SparkEntry$.entry(SparkEntry.scala:33)"),
            "queries")
        self.assertEqual(
            site_module("graft.streaming.StreamRunner$.runToTable(StreamRunner.scala:158)"),
            "streaming")

    def test_jobs_without_engine_frames(self):
        harness = SPARK_TOP + "perfbench.Harness$Run.execute(Harness.scala:180)"
        self.assertEqual(site_module(harness), "queries")
        self.assertEqual(site_module(harness, stream_query="abc"), "streaming")
        pool = ("org.apache.spark.sql.execution.SQLExecution$.$anonfun$x$2(SQLExecution.scala:329)\n"
                "java.base/java.lang.Thread.run(Thread.java:840)")
        self.assertEqual(site_module(pool, SPARK_TOP + "graft.operators.Pq$.train(Pq.scala:7)"),
                         "operators")
        self.assertEqual(site_module(SPARK_TOP), "spark")
        self.assertEqual(site_module(None), "spark")

    def test_driver_samples(self):
        self.assertEqual(sample_module("graft.operators.IndexPaths$"), "operators")
        self.assertEqual(sample_module("org.apache.hadoop.fs.RawLocalFileSystem"), "fs")
        self.assertEqual(sample_module("org.apache.spark.scheduler.DAGScheduler"),
                         "spark")


class SpanSelfTime(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_children(self):
        spans = [
            {"id": 1, "parent": 0, "start": 0, "end": 10},
            {"id": 2, "parent": 1, "start": 1, "end": 3},
            {"id": 3, "parent": 1, "start": 2, "end": 5},
            {"id": 4, "parent": 1, "start": 7, "end": 12},  # ends after parent
            {"id": 5, "parent": 3, "start": 2, "end": 5},
        ]
        selfs = self_times(spans)
        self.assertEqual(selfs[1], 10 - (4 + 3))
        self.assertEqual(selfs[2], 2)
        self.assertEqual(selfs[3], 0)
        self.assertEqual(selfs[4], 5)


class FailFrac(unittest.TestCase):
    def test_thrown_and_mismatching_queries_both_fail(self):
        records = [
            {"name": "q1", "error": None, "match": True},
            {"name": "q2", "error": "java.lang.IllegalStateException: x",
             "match": False},
            {"name": "q3", "error": None, "match": False},
            {"name": "q3", "error": None, "match": True},
        ]
        self.assertEqual(fail_frac(records), (2, 4, ["q2", "q3"]))


class LayerTable(unittest.TestCase):
    def test_samples_scans_and_io_go_to_their_layer(self):
        import analyze
        q = {"name": "q1", "qid": "q1", "start": 0.0, "build_end": 400.0,
             "end": 1000.0, "gc_ms": 0, "cpu_s": 1.0, "error": None,
             "io": {"bytes_read": 70, "bytes_written": 5, "read_ops": 3,
                    "write_ops": 1}}
        res = {"queries": [q], "cores": 4, "sample_ms": 50,
               "spans": [{"id": 1, "parent": 0, "name": "build", "kind": "build",
                          "qid": "q1", "start": 0.0, "end": 400.0}],
               "executions": [
                   # the count() inside the query, then the untimed output check
                   {"start": 500, "plan_ms": 20, "scan_bytes": 900,
                    "scan_rows": 10, "files_written": 0},
                   {"start": 1500, "plan_ms": 20, "scan_bytes": 900,
                    "scan_rows": 10, "files_written": 2}],
               "samples": [
                   {"qid": "q1", "side": "task", "count": 4,
                    "frame": "graft.functions.NearestCentroids"},
                   {"qid": "q1", "side": "driver", "count": 2,
                    "frame": "graft.operators.Similarity$"},
                   {"qid": "", "side": "task", "count": 9,
                    "frame": "graft.functions.NearestCentroids"}]}
        m = analyze.layers(res, analyze.span_tree(res), {"q1"})
        self.assertAlmostEqual(m["tasks.self_s.functions"], 0.2)
        self.assertAlmostEqual(m["driver.self_s.operators"], 0.1)
        self.assertEqual((m["spark.scan_bytes"], m["spark.scan_rows"]), (900, 10))
        self.assertEqual((m["fs.files_written"], m["fs.bytes_read"]), (0, 70))
        self.assertAlmostEqual(m["queries.driver_gap_s"], 1.0)


class OracleCompare(unittest.TestCase):
    def test_compare_aligns_dtypes_and_reports_differences(self):
        try:
            import pandas as pd
            import oracle
        except ImportError:
            self.skipTest("pandas or duckdb not installed")
        want = oracle.normalize(pd.DataFrame({"b": [2, 1], "a": ["x", "y"]}))
        got = pd.DataFrame({"a": ["y", "x"], "b": pd.Series([1, 2], dtype="int32")})
        self.assertIsNone(oracle.compare(got, want))
        bad = pd.DataFrame({"a": ["y", "x"], "b": [1, 3]})
        self.assertIn("values differ in b", oracle.compare(bad, want))
        self.assertIn("rows", oracle.compare(got.head(1), want))


if __name__ == "__main__":
    unittest.main()
