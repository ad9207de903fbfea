"""The benchmark's own arithmetic. Run: python3 -m unittest discover -s perfbench/tests"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


def span(i, layer, parent, start, end, name="x", counts=None):
    return {"id": i, "layer": layer, "name": name, "parent": parent,
            "start": start, "end": end, "counts": counts or {}}


def job(i, span_id, start, end, site="count at BenchMain.scala:1", **kw):
    j = {"id": i, "span": span_id, "call_site": site, "start": start, "end": end,
         "cpu_ns": 0, "max_task_ms": 0, "tasks": 1, "failed_tasks": 0, "shuffle_read": 0,
         "shuffle_write": 0, "spill": 0, "records_read": 0, "bytes_read": 0,
         "bytes_written": 0, "files_written": 0}
    j.update(kw)
    return j


class TailPercentile(unittest.TestCase):
    def test_ten_or_fewer_samples_have_no_tail(self):
        self.assertIsNone(stats.tail_percentile([1.0] * 10))
        self.assertIsNone(stats.tail_percentile([]))

    def test_eleven_samples_leave_ten_beyond_the_lowest(self):
        p, v = stats.tail_percentile(list(range(1, 12)))
        self.assertEqual((p, v), (9, 1))

    def test_twenty_samples_give_the_median(self):
        p, v = stats.tail_percentile(list(range(1, 21)))
        self.assertEqual((p, v), (50, 10))

    def test_hundred_samples_give_p90(self):
        p, v = stats.tail_percentile(list(range(1, 101)))
        self.assertEqual((p, v), (90, 90))

    def test_ten_samples_lie_beyond_and_one_more_percent_breaks_it(self):
        for n in (11, 23, 57, 100, 250, 1000):
            xs = list(range(n))
            p, v = stats.tail_percentile(xs)
            self.assertGreaterEqual(sum(1 for x in xs if x > v), 10, n)
            if p < 99:
                k = -(-(p + 1) * n // 100)
                self.assertLess(n - k, 10, n)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0] * 10
        self.assertEqual(stats.tail_percentile(xs), stats.tail_percentile(sorted(xs)))


class Covered(unittest.TestCase):
    def test_union_of_overlapping_and_clipped_intervals(self):
        self.assertAlmostEqual(stats.covered([(0, 2), (1, 3), (5, 6)], 0, 10), 4.0)
        self.assertAlmostEqual(stats.covered([(-5, 1), (9, 20)], 0, 10), 2.0)
        self.assertEqual(stats.covered([], 0, 10), 0.0)
        self.assertEqual(stats.covered([(3, 2)], 0, 10), 0.0)


class SelfTime(unittest.TestCase):
    def setUp(self):
        # op [0, 10] -> a [1, 4] (-> c [2, 3]), b [5, 9]
        spans = [span(0, "op", -1, 0, 10), span(1, "incremental", 0, 1, 4),
                 span(2, "pipelines", 1, 2, 3), span(3, "graph", 0, 5, 9)]
        jobs = [job(0, 2, 2.0, 2.5), job(1, 1, 3.5, 4.0, site="parquet at Merge.scala:9"),
                job(2, 3, 5.0, 8.0)]
        self.tree = stats.SpanTree(spans, jobs)

    def test_self_time_is_wall_minus_children(self):
        self.assertAlmostEqual(self.tree.self_time(0), 10 - 3 - 4)
        self.assertAlmostEqual(self.tree.self_time(1), 3 - 1)
        self.assertAlmostEqual(self.tree.self_time(2), 1)

    def test_self_times_add_up_to_the_root_wall(self):
        self.assertAlmostEqual(sum(self.tree.self_time(k) for k in self.tree.subtree(0)), 10)
        self.assertAlmostEqual(stats.accounting_residual(self.tree, [0]), 0.0)

    def test_driver_gap_is_wall_not_covered_by_jobs(self):
        self.assertAlmostEqual(self.tree.driver_gap(0), 10 - 0.5 - 0.5 - 3)
        self.assertAlmostEqual(self.tree.driver_gap(1), 3 - 1)

    def test_layer_table_attributes_by_call_site_then_span(self):
        rows = stats.layer_table(self.tree, [0])
        self.assertEqual(rows["merge"]["jobs"], 1)       # call site in Merge.scala
        self.assertEqual(rows["pipelines"]["jobs"], 1)   # benchmark call site: span layer
        self.assertEqual(rows["graph"]["jobs"], 1)
        self.assertEqual(rows["incremental"]["jobs"], 0)
        self.assertAlmostEqual(rows["incremental"]["self_s"], 2)
        self.assertAlmostEqual(rows["graph"]["busy_s"], 3)


class CallSites(unittest.TestCase):
    def test_file_to_layer(self):
        self.assertEqual(stats.call_site_layer("parquet at Merge.scala:559"), "merge")
        self.assertEqual(stats.call_site_layer("head at Incremental.scala:1480"), "incremental")
        self.assertEqual(stats.call_site_layer("collect at GraphMetrics.scala:12"), "graph")
        self.assertEqual(stats.call_site_layer("foreachPartition at BulkSink.scala:72"), "bulk")
        self.assertEqual(stats.call_site_layer("parquet at Tables.scala:29"), "sources")
        self.assertEqual(stats.call_site_layer("count at Curation.scala:10"), "queries")

    def test_other_sites_fall_back_to_the_span(self):
        for site in ("count at BenchMain.scala:130", "",
                     "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768"):
            self.assertIsNone(stats.call_site_layer(site))

    def test_pool_jobs_take_their_execution_call_site(self):
        raw = {"clock": {"epoch_ms": 1000.0, "nano": 0}, "spans": [],
               "execution_sites": {"7": "parquet at Merge.scala:160"},
               "jobs": [{"call_site": "x at CompletableFuture.java:1", "execution": "7",
                         "start_ms": 1, "end_ms": 2},
                        {"call_site": "parquet at Tables.scala:29", "execution": "",
                         "start_ms": 1, "end_ms": 2}]}
        _, jobs = stats.normalize(raw)
        self.assertEqual([stats.call_site_layer(j["call_site"]) for j in jobs],
                         ["merge", "sources"])


class KindGeomean(unittest.TestCase):
    def test_one_kind_is_its_median(self):
        ops = [{"name": "epoch", "wall_s": w} for w in (5.0, 7.0, 6.0)]
        self.assertAlmostEqual(stats.kind_geomean(ops), 6.0)

    def test_kinds_weigh_the_same_however_many_runs_each_has(self):
        ops = ([{"name": "a", "wall_s": w} for w in (1.0, 1.0, 9.0)]
               + [{"name": "b", "wall_s": 4.0}])
        self.assertAlmostEqual(stats.kind_geomean(ops), 2.0)


class FailedShare(unittest.TestCase):
    def test_errors_and_wrong_results_both_count(self):
        ops = [{"name": "q1", "ok": True}, {"name": "q1", "ok": False},
               {"name": "q2", "ok": True}, {"name": "q2", "ok": True}]
        self.assertEqual(stats.count_outcomes(ops), (4, 1))
        # q2's oracle mismatch fails both of its executions
        self.assertEqual(stats.count_outcomes(ops, ["q2"]), (4, 3))
        self.assertAlmostEqual(stats.failed_share(4, 3), 0.75)

    def test_nothing_attempted_is_all_failed(self):
        self.assertEqual(stats.failed_share(0, 0), 1.0)


class PerLayerContract(unittest.TestCase):
    def test_traced_run_reports_exactly_the_declared_per_layer_metrics(self):
        import json
        import run
        raw = {"clock": {"epoch_ms": 0.0, "nano": 0}, "setup": {}, "facts": {},
               "execution_sites": {},
               "spans": [{"id": 0, "layer": "op", "name": "epoch", "parent": -1,
                          "start_ns": 0, "end_ns": 10**9, "counts": {}}],
               "jobs": [], "ops": [{"name": "epoch", "wall_s": 1.0, "traced": True,
                                   "span": 0, "ok": True}]}
        metrics = stats.per_layer_metrics(raw, run.QUERY_MIX)[0]
        root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            declared = json.load(f)["per_layer"]
        self.assertEqual(list(metrics), [m["name"] for m in declared])
        self.assertEqual([run.unit_of(k) for k in metrics], [m["unit"] for m in declared])


if __name__ == "__main__":
    unittest.main()
