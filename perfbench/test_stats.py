"""Tests of the benchmark's own arithmetic: python3 perfbench/test_stats.py"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertIsNone(stats.percentile(list(range(99)), 0.9))
        self.assertEqual(stats.percentile(list(range(100)), 0.9), 89)
        self.assertEqual(stats.percentile(list(range(200, 0, -1)), 0.9), 180)

    def test_empty_has_no_percentile(self):
        self.assertIsNone(stats.percentile([], 0.5))

    def test_median_needs_ten_beyond_too(self):
        self.assertIsNone(stats.percentile(list(range(19)), 0.5))
        self.assertEqual(stats.percentile(list(range(20)), 0.5), 9)


class Intervals(unittest.TestCase):
    def test_union_counts_overlap_once(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(stats.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(5, 5), (7, 3)]), 0)

    def test_self_time_is_span_minus_union_of_children(self):
        # children overlap each other: counted once
        self.assertEqual(stats.self_time((0, 100), [(10, 40), (30, 50)]), 60)
        # a child running past the span only covers its part inside it
        self.assertEqual(stats.self_time((0, 100), [(90, 150), (-20, 5)]), 85)
        self.assertEqual(stats.self_time((0, 100), []), 100)

    def test_driver_ms_is_wall_minus_union_of_jobs(self):
        # span in epoch µs, jobs in epoch ms
        span = (1_000_000_000, 1_001_000_000)  # 1000 ms
        jobs = [{"start_ms": 1_000_100, "end_ms": 1_000_400},
                {"start_ms": 1_000_300, "end_ms": 1_000_600}]
        self.assertEqual(stats.driver_ms(span, jobs), 500)
        self.assertEqual(stats.driver_ms(span, []), 1000)


class FailureCounting(unittest.TestCase):
    def test_wrong_answers_and_bad_statuses_both_fail(self):
        recs = [{"ok": True, "status": 200},
                {"ok": False, "status": 200},
                {"ok": False, "status": 500},
                {"ok": True, "status": 400}]
        self.assertEqual(stats.failures(recs), (4, 3, 0.75))

    def test_no_requests(self):
        self.assertEqual(stats.failures([]), (0, 0, None))

    def test_throughput_counts_only_correct_responses(self):
        recs = [{"start_us": 0, "end_us": 1_000_000, "ok": True, "status": 200},
                {"start_us": 1_000_000, "end_us": 2_000_000, "ok": False, "status": 200}]
        raw = {"requests": recs, "phase_start_us": 0, "setup_s": [3, 9, 9, 9, 9, 1, 2, 5],
               "heap_after_gc_mb": 100}
        metrics, extra = stats.end_to_end(raw)
        self.assertEqual(metrics["throughput_qps"][0], 0.5)
        self.assertEqual(metrics["latency_p50_s"][0], 1.0)
        self.assertEqual(metrics["setup_s"][0], 2)
        self.assertEqual(extra["setup_cold_s"], 3)
        self.assertEqual(extra["error_rate"], 0.5)
        self.assertIsNone(extra["latency_p90_s"])


class LayerSplit(unittest.TestCase):
    def span(self, name, s, e, request=1, kind="static", attrs=None):
        return {"name": name, "request": request, "kind": kind,
                "start_us": s * 1000, "end_us": e * 1000, "attrs": attrs or {}}

    def test_run_self_time_subtracts_the_sources_spans_before_it(self):
        read_attrs = {"files_total": 96, "files_after_partition": 24,
                      "files_after_zone": 3, "bytes_planned": 1000}
        spans = [
            self.span("http.untraced", -1000, -200),
            self.span("http", 0, 1000),
            self.span("server.session", 1000, 1002),
            self.span("model.parse", 1002, 1003),
            self.span("sources.resolve", 1003, 1013),
            self.span("sources.partition_prune", 1013, 1063),
            self.span("sources.zone_prune", 1063, 1065),
            self.span("sources.read", 1065, 1075, attrs=read_attrs),
            self.span("plans.run", 1075, 1175),
            self.span("plans.exec", 1175, 1675),
            self.span("server.encode", 1675, 1685, attrs={"response_bytes": 10}),
            self.span("request", 1000, 1685),
            self.span("direct", 1685, 2185),
        ]
        jobs = [{"request": 1, "start_ms": 1200, "end_ms": 1400, "stages": 2, "tasks": 5,
                 "failed_tasks": 0, "input_bytes": 7, "input_rows": 9,
                 "shuffle_write_bytes": 0, "shuffle_fetch_wait_ms": 0,
                 "executor_run_ms": 300, "max_task_ms": 100},
                {"request": 1, "start_ms": 1300, "end_ms": 1500, "stages": 1, "tasks": 1,
                 "failed_tasks": 0, "input_bytes": 0, "input_rows": 0,
                 "shuffle_write_bytes": 0, "shuffle_fetch_wait_ms": 0,
                 "executor_run_ms": 50, "max_task_ms": 50}]
        m = stats.per_layer({"spans": spans, "jobs": jobs})
        # run 100 ms minus resolve 10 + prune 50 + zone 2 + read 10
        self.assertEqual(m["plans.run_ms"][0], 28)
        # exec 500 ms minus the union of jobs 1200..1500
        self.assertEqual(m["plans.driver_ms"][0], 200)
        self.assertEqual(m["plans.jobs"][0], 2)
        self.assertEqual(m["plans.tasks"][0], 6)
        self.assertEqual(m["sources.files_after_zone"][0], 3)
        # http 1000 ms minus session 2 + parse 1 + run 100 + exec 500 + encode 10
        self.assertEqual(m["server.overhead_ms"][0], 387)
        # engine (parse + run + exec) over the direct statement
        self.assertAlmostEqual(m["plans.overhead_ratio.pruned_interactive"][0], 601 / 500)
        # HTTP with the job listener attached over the same request without
        self.assertAlmostEqual(m["trace_overhead_ratio"][0], 1000 / 800)

    def test_operator_metrics_are_medians_over_runs(self):
        spans, jobs = [], []
        for request, (wall, tasks) in enumerate([(3000, 10), (1000, 30), (2000, 20)], 1):
            spans.append(self.span("operators.q", 0, wall, request=request, kind="operator"))
            jobs.append({"request": request, "start_ms": 0, "end_ms": wall // 2,
                         "tasks": tasks, "shuffle_write_bytes": 5, "failed_tasks": 0})
        m = stats.per_layer({"spans": spans, "jobs": jobs})
        self.assertEqual(m["operators.q.wall_s"][0], 2.0)
        self.assertEqual(m["operators.q.tasks"][0], 20)
        self.assertEqual(m["operators.q.jobs"][0], 1)
        self.assertEqual(m["operators.q.driver_ms"][0], 1000)


if __name__ == "__main__":
    unittest.main()
