"""Tests for the benchmark's metric math.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import json
import unittest
from pathlib import Path

import metrics as m


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertIsNone(m.supported_percentile(19))
        self.assertEqual(m.supported_percentile(20), 50.0)
        self.assertEqual(m.supported_percentile(39), 50.0)
        self.assertEqual(m.supported_percentile(40), 75.0)
        self.assertEqual(m.supported_percentile(99), 75.0)
        self.assertEqual(m.supported_percentile(100), 90.0)
        self.assertEqual(m.supported_percentile(200), 95.0)
        self.assertEqual(m.supported_percentile(1000), 99.0)
        self.assertEqual(m.supported_percentile(10000), 99.9)

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(m.percentile(xs, 50), 50)
        self.assertEqual(m.percentile(xs, 90), 90)
        self.assertEqual(m.percentile(list(reversed(xs)), 90), 90)
        self.assertEqual(m.percentile([7.0], 99), 7.0)

    def test_tail_refuses_unsupported_percentile(self):
        self.assertEqual(m.tail(list(range(100)), 90), 89)
        with self.assertRaises(m.MetricError):
            m.tail(list(range(99)), 90)
        with self.assertRaises(m.MetricError):
            m.tail(list(range(19)), 50)


class FilesToTriggers(unittest.TestCase):
    def test_cumulative_rows_place_each_file(self):
        # files of 3, 3, 4 and 2 lines; triggers read 6, then 4, then 2
        self.assertEqual(m.map_files_to_triggers([3, 3, 4, 2], [6, 4, 2]), [0, 0, 1, 2])

    def test_file_split_across_triggers_belongs_to_the_last(self):
        # a trigger boundary inside file 1: it is visible after trigger 1
        self.assertEqual(m.map_files_to_triggers([3, 3], [4, 2]), [0, 1])

    def test_unread_file_is_an_error(self):
        with self.assertRaises(m.MetricError):
            m.map_files_to_triggers([3, 3], [3])

    def test_freshness_uses_trigger_end(self):
        p = {"files": [{"lines": 2, "arrive_ms": 1000.0}, {"lines": 2, "arrive_ms": 1100.0}],
             "progress": [
                 {"batch": 1, "ts_ms": 1500.0, "rows": 2, "dur": {"triggerExecution": 500}},
                 {"batch": 0, "ts_ms": 900.0, "rows": 0, "dur": {"triggerExecution": 5}},
                 {"batch": 2, "ts_ms": 2000.0, "rows": 2, "dur": {"triggerExecution": 300}}]}
        self.assertEqual(m.freshness_s(p), [1.0, 1.2])


class SpanSelfTime(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(m.union_length([(0, 2), (1, 3), (5, 6), (6, 6)]), 4)

    def test_self_time_subtracts_covered_children(self):
        # span 0..10, children 1..3 and 2..4 overlap (cover 3), 9..12 is clipped (covers 1)
        self.assertEqual(m.self_time((0, 10), [(1, 3), (2, 4), (9, 12)]), 6)

    def test_no_children_is_whole_span(self):
        self.assertEqual(m.self_time((5, 8), []), 3)

    def test_children_outside_span_do_not_count(self):
        self.assertEqual(m.self_time((5, 8), [(0, 4), (9, 10)]), 3)


def synthetic_pass(traced):
    """A small, consistent harness pass: 100 files of 12 lines read by 10
    triggers, 20 reads, and with tracing one apply span and job per
    trigger plus one fold job."""
    files = [{"lines": 12, "due_ms": 1000.0 + 10 * i, "late_ms": 0.5,
              "arrive_ms": 1000.0 + 10 * i} for i in range(100)]
    progress = [{"batch": b, "ts_ms": 1100.0 + 100 * b, "rows": 120,
                 "dur": {"triggerExecution": 90, "addBatch": 60, "latestOffset": 5,
                         "getBatch": 1, "queryPlanning": 2, "walCommit": 3, "commitOffsets": 4}}
                for b in range(10)]
    reads = [{"kind": ("point", "count", "scan")[i % 3], "start_ms": 1001.0 + 50 * i, "end_ms": 1031.0 + 50 * i, "ok": True,
              "span": f"read-{i}" if traced else "", "files": 3, "deltas": 1, "bytes": 300}
             for i in range(20)]
    spans, jobs, stages, tasks = [], [], [], []
    if traced:
        for b in range(10):
            t0 = 1100.0 + 100 * b
            spans.append({"id": f"apply-{b}", "name": "apply", "start": t0 + 10, "end": t0 + 80,
                          "parent": f"trigger-{b}", "run": "traced"})
            jobs.append({"id": b, "start": t0 + 20, "end": t0 + 70, "stages": [b],
                         "parent": f"apply-{b}", "pool": "", "site": "Replicate"})
            stages.append({"id": b, "tasks": 4, "task_ms": 100, "shuffle_bytes": 10,
                           "bytes_written": 20})
            tasks.append([float(b), t0 + 20, t0 + 70])
        jobs.append({"id": 99, "start": 1500.0, "end": 1800.0, "stages": [99],
                     "parent": "apply-4", "pool": m.FOLD_POOL, "site": "Replicate"})
        stages.append({"id": 99, "tasks": 2, "task_ms": 300, "shuffle_bytes": 0,
                       "bytes_written": 500})
        tasks.append([99.0, 1500.0, 1800.0])
    return {"traced": traced, "files": files, "delivered_files": 100, "rows_in": 1200,
            "drain_ms": 50.0, "progress": progress,
            "reads": reads, "gc_s": 0.1, "gc_count": 3, "heap_peak_mb": 500.0,
            "spans": spans, "jobs": jobs, "stages": stages, "tasks": tasks,
            "apply_files": {str(b): 1 for b in range(10)}, "problems": []}


def synthetic_raw(trace):
    passes = [synthetic_pass(True), synthetic_pass(False)] if trace else [synthetic_pass(False)]
    return {"session_s": 5.0, "warmup_s": 10.0, "snapshot_reps_s": [1.0, 2.0, 1.5],
            "gen_input_s": 0.5, "ops_per_file": 10, "nproc": 4,
            "load1_start": 1.0, "load1_end": 2.0, "passes": passes}


class ResultLine(unittest.TestCase):
    bench = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())

    def test_untraced_prints_every_end_to_end_metric(self):
        res, problems = m.result(synthetic_raw(False), trace=False)
        self.assertEqual(problems, [])
        self.assertTrue(res["correct"])
        self.assertEqual(set(res["metrics"]), {e["name"] for e in self.bench["end_to_end"]})
        for e in self.bench["end_to_end"]:
            self.assertEqual(res["metrics"][e["name"]]["unit"], e["unit"])
        self.assertEqual(res["metrics"]["setup_s"]["value"], 16.5)
        # 1000 changes over 10 triggers of 90 ms plus a 50 ms drain
        self.assertAlmostEqual(res["metrics"]["apply_rows_per_busy_s"]["value"], 1000 / 0.95)

    def test_traced_prints_every_per_layer_metric(self):
        res, problems = m.result(synthetic_raw(True), trace=True)
        self.assertEqual(problems, [])
        self.assertEqual(set(res["metrics"]), {e["name"] for e in self.bench["per_layer"]})
        for e in self.bench["per_layer"]:
            self.assertEqual(res["metrics"][e["name"]]["unit"], e["unit"])
        got = {k: v["value"] for k, v in res["metrics"].items()}
        self.assertEqual(got["apply.jobs_per_trigger"], 1)
        self.assertEqual(got["apply.job_gap_p50_ms"], 20)
        self.assertEqual(got["fold.count"], 1)
        # the fold task (1500..1800) overlaps the apply jobs of triggers 4..6, 50 ms each
        self.assertAlmostEqual(got["fold.overlap_task_s"], 0.15)
        self.assertEqual(got["trace.overhead.freshness_p50_s"], 0)

    def test_a_failed_check_fails_every_operation(self):
        raw = synthetic_raw(False)
        raw["passes"][0]["problems"] = ["replica != replay"]
        res, _ = m.result(raw, trace=False)
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], res["attempted"])


if __name__ == "__main__":
    unittest.main()
