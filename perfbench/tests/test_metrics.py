"""The benchmark's own arithmetic. Run: python3 -m unittest discover perfbench/tests"""
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_touching(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (3, 4)]), 4)

    def test_union_keeps_gaps_and_nesting(self):
        self.assertEqual(metrics.union_length([(5, 6), (0, 10), (20, 21)]), 11)

    def test_union_ignores_empty(self):
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.union_length([(3, 3), (4, 2)]), 0)

    def test_driver_only_is_pass_minus_job_union(self):
        # a 10 ms pass with jobs 1-4 and 3-6 (overlapping, as under Par)
        jobs = metrics.clip([(1, 4), (3, 6), (9, 12)], 0, 10)
        self.assertEqual(metrics.union_length(jobs), 6)
        self.assertEqual(10 - metrics.union_length(jobs), 4)

    def test_overlap_and_peak(self):
        covered, peak = metrics.concurrency([(0, 4), (2, 6), (3, 5), (7, 8)])
        self.assertEqual(covered, 3)  # 2-5 has two or more active
        self.assertEqual(peak, 3)

    def test_back_to_back_jobs_do_not_overlap(self):
        self.assertEqual(metrics.concurrency([(0, 2), (2, 4)]), (0, 1))

    def test_sequential_jobs_read_zero_overlap(self):
        covered, peak = metrics.concurrency([(0, 1), (2, 3), (4, 5)])
        self.assertEqual((covered, peak), (0, 1))


class Statistics(unittest.TestCase):
    def test_percentile_needs_more_than_ten_samples(self):
        self.assertIsNone(metrics.high_percentile(list(range(10))))

    def test_percentile_leaves_exactly_ten_beyond(self):
        xs = list(range(1, 101))  # 1..100
        p, v = metrics.high_percentile(xs)
        self.assertEqual(p, 90.0)
        self.assertEqual(v, 90)
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_percentile_order_free(self):
        xs = [5, 3, 9, 1, 7, 2, 8, 4, 6, 0, 11, 10]
        p, v = metrics.high_percentile(xs)
        self.assertAlmostEqual(p, 100 * 2 / 12)
        self.assertEqual(v, 1)

    def test_geomean(self):
        self.assertAlmostEqual(metrics.geomean([1, 100]), 10)
        self.assertAlmostEqual(metrics.geomean([2, 2, 2]), 2)
        with self.assertRaises(ValueError):
            metrics.geomean([1, 0])

    def test_summary_reports_n(self):
        s = metrics.summary([1.0] * 20 + [2.0], "s")
        self.assertEqual(s["n"], 21)
        self.assertEqual(s["median"], 1.0)
        self.assertIn("p52.4", s)


class SelfTime(unittest.TestCase):
    def span(self, sid, kind, start, end, parent):
        return {"id": sid, "kind": kind, "start": start, "end": end,
                "parent": parent}

    def test_self_time_subtracts_child_union(self):
        spans = [self.span(0, "query", 0, 10, None),
                 self.span(1, "job", 1, 4, 0),
                 self.span(2, "job", 3, 6, 0),  # overlaps its sibling
                 self.span(3, "stage", 1, 2, 1)]
        st = metrics.self_times(spans)
        self.assertEqual(st["query"], 5)      # 10 - |[1,6]|
        self.assertEqual(st["job"], 2 + 3)    # (3 - 1) + 3
        self.assertEqual(st["stage"], 1)

    def test_child_outside_parent_is_clipped(self):
        spans = [self.span(0, "action", 0, 4, None),
                 self.span(1, "job", 3, 9, 0)]
        st = metrics.self_times(spans)
        self.assertEqual(st["action"], 3)
        self.assertEqual(st["job"], 6)

    def test_self_times_sum_to_root_duration(self):
        spans = [self.span(0, "pass", 0, 100, None),
                 self.span(1, "query", 0, 60, 0),
                 self.span(2, "build", 0, 20, 1),
                 self.span(3, "action", 20, 60, 1),
                 self.span(4, "exec", 25, 55, 3),
                 self.span(5, "job", 30, 50, 4)]
        self.assertTrue(math.isclose(sum(metrics.self_times(spans).values()), 100))


def records():
    """A tiny two-pass run: pass 0 untraced, pass 1 traced, one query that
    runs two jobs (the second inside a SQL execution)."""
    r = [
        {"kind": "meta", "jvm_start_ms": 0, "cpus": 2, "heap_max_mb": 1,
         "spark_version": "x", "conf": []},
        {"kind": "setup_done", "ms": 1000},
        {"kind": "pass", "pass": 0, "traced": False, "start_ms": 1000,
         "end_ms": 1100, "gc_ms": 1, "codegen_compiles": 3, "cpu_ms": 150,
         "steal_ratio": 0.01,
         "heap_retained_mb": 50.0, "store_bytes": 0, "store_files": 0},
        {"kind": "query", "pass": 0, "query": "a", "start_ms": 1000,
         "built_ms": 1010, "end_ms": 1100, "error": None},
        {"kind": "pass", "pass": 1, "traced": True, "start_ms": 1200,
         "end_ms": 1320, "gc_ms": 2, "codegen_compiles": 4, "cpu_ms": 200,
         "steal_ratio": 0.02,
         "heap_retained_mb": 60.0, "store_bytes": 10, "store_files": 2},
        {"kind": "query", "pass": 1, "query": "a", "start_ms": 1200,
         "built_ms": 1220, "end_ms": 1320, "error": None},
        {"kind": "exec_start", "exec": 7, "ms": 1230},
        {"kind": "exec_end", "exec": 7, "ms": 1300},
        {"kind": "job_start", "job": 1, "ms": 1205, "exec": -1, "stages": [1]},
        {"kind": "job_end", "job": 1, "ms": 1215, "ok": True},
        {"kind": "job_start", "job": 2, "ms": 1240, "exec": 7, "stages": [2]},
        {"kind": "job_end", "job": 2, "ms": 1290, "ok": True},
        {"kind": "stage", "stage": 1, "attempt": 0, "start_ms": 1206,
         "end_ms": 1214, "ok": True, "tasks": 2, "task_failures": 0,
         "task_ms": 10, "run_ms": 9, "cpu_ns": 5e6, "shuffle_write_bytes": 100,
         "shuffle_read_bytes": 0, "spill_bytes": 0, "output_bytes": 0,
         "input_bytes": 0},
        {"kind": "stage", "stage": 2, "attempt": 0, "start_ms": 1245,
         "end_ms": 1285, "ok": True, "tasks": 4, "task_failures": 0,
         "task_ms": 70, "run_ms": 60, "cpu_ns": 4e7, "shuffle_write_bytes": 0,
         "shuffle_read_bytes": 100, "spill_bytes": 0, "output_bytes": 0,
         "input_bytes": 0},
        {"kind": "action", "ms": 1300, "ok": True,
         "phases_ms": {"analysis": 3, "optimization": 2, "planning": 1},
         "scan_rows": 10, "scan_bytes": 1000, "scan_files": 1, "scan_ms": 4},
        {"kind": "compile", "ms": 1250, "compile_ms": 7.5},
        {"kind": "timed_done", "start_ms": 1000, "end_ms": 1400},
    ]
    return r


class Records(unittest.TestCase):
    def test_end_to_end(self):
        values, detail = metrics.end_to_end(records())
        self.assertEqual(values["setup_s"], 1.0)
        self.assertAlmostEqual(values["pass_s"], 0.1)
        self.assertAlmostEqual(values["query_geomean_s"], 0.1)
        self.assertEqual(values["heap_retained_mb"], 50.0)
        self.assertEqual(detail["pass_s"]["n"], 1)
        self.assertEqual(detail["pass_cpu_s"]["median"], 0.15)

    def test_per_layer(self):
        m, spans = metrics.per_layer(records(), 2, ["a"])
        self.assertEqual(m["spark.jobs"], 2)
        self.assertEqual(m["spark.tasks"], 6)
        self.assertAlmostEqual(m["spark.job_active_s"], 0.060)
        self.assertAlmostEqual(m["spark.driver_only_s"], 0.060)
        self.assertAlmostEqual(m["spark.slot_busy_ratio"], 80 / (2 * 60))
        self.assertEqual(m["graft.core.jobs_in_flight_max"], 1)
        self.assertEqual(m["graft.core.job_overlap_s"], 0)
        self.assertEqual(m["spark.catalyst.analysis_ms"], 3)
        self.assertEqual(m["spark.codegen.compile_ms"], 7.5)
        self.assertEqual(m["spark.codegen.compiles"], 4)
        self.assertAlmostEqual(m["trace.overhead_s"], 0.02)
        self.assertAlmostEqual(m["query.a_s"], 0.12)
        # job 2 sits under SQL execution 7, which sits under the action
        by_kind = {(s["kind"], s["name"]): s for s in spans}
        job2, ex = by_kind[("job", "2")], by_kind[("exec", "7")]
        self.assertEqual(job2["parent"], ex["id"])
        self.assertEqual(spans[ex["parent"]]["kind"], "action")
        self.assertEqual(job2["qid"], "1:a")
        # layer self times of the traced pass add up to its wall time
        total = sum(v for k, v in m.items() if k.startswith("self."))
        self.assertAlmostEqual(total, 0.120)


class Contract(unittest.TestCase):
    """The metric names a run prints are the ones BENCHMARK.json lists."""

    def spec(self):
        root = os.path.dirname(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))))
        import json
        with open(os.path.join(root, "BENCHMARK.json")) as fh:
            return json.load(fh)

    def test_end_to_end_names(self):
        import run
        values, _ = metrics.end_to_end(records())
        want = {m["name"]: m["unit"] for m in self.spec()["end_to_end"]}
        self.assertEqual(set(values), set(want))
        self.assertEqual(run.END_TO_END_UNITS, want)
        self.assertEqual({w["name"] for w in self.spec()["workloads"]},
                         set(run.WORKLOADS))

    def test_per_layer_names_and_units(self):
        import run
        m, _ = metrics.per_layer(records(), 2, run.TIMED_QUERIES)
        want = {x["name"]: x["unit"] for x in self.spec()["per_layer"]}
        self.assertEqual({k: run.layer_unit(k) for k in m}, want)


class ActionOverlap(unittest.TestCase):
    def test_jobs_of_one_execution_do_not_count_as_overlap(self):
        jobs = [{"job": 1, "ms": 0, "exec": 5}, {"job": 2, "ms": 1, "exec": 5}]
        ends = {1: 4, 2: 3}
        self.assertEqual(metrics.action_overlap(jobs, ends, 0, 10), (0, 1))

    def test_jobs_of_two_executions_overlap(self):
        jobs = [{"job": 1, "ms": 0, "exec": 5}, {"job": 2, "ms": 2, "exec": 6},
                {"job": 3, "ms": 3, "exec": -1}]
        ends = {1: 4, 2: 6, 3: 5}
        self.assertEqual(metrics.action_overlap(jobs, ends, 0, 10), (3, 3))


if __name__ == "__main__":
    unittest.main()
