"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import math
import os
import sys
import unittest

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))

import checks  # noqa: E402
import layers  # noqa: E402
import parity  # noqa: E402
import timeline  # noqa: E402


class CompareFollowsParity(unittest.TestCase):
    """checks.first_difference against tools/parity.py's own verdict."""
    base = pd.DataFrame({"k": [2, 1, 3], "v": [0.5, None, 2.25], "s": ["b", "a", None]})

    def agree(self, other: pd.DataFrame, expect: bool):
        a, b = parity.canon(self.base), parity.canon(other)
        verdict = (list(a.columns) == list(b.columns) and len(a) == len(b)
                   and all(parity.cell_eq(x, y) for c in a.columns
                           for x, y in zip(a[c].tolist(), b[c].tolist())))
        self.assertEqual(verdict, expect)
        self.assertEqual(checks.first_difference(self.base, other) is None, expect)

    def test_column_order(self):
        self.agree(self.base[["s", "v", "k"]], True)

    def test_row_order(self):
        self.agree(self.base.iloc[[2, 0, 1]].reset_index(drop=True), True)

    def test_null_equals_nan(self):
        self.agree(self.base.assign(v=[0.5, math.nan, 2.25]), True)

    def test_integral_float_equals_int(self):
        self.agree(self.base.assign(k=[2.0, 1.0, 3.0]), True)

    def test_value_change(self):
        self.agree(self.base.assign(v=[0.5, None, 2.2500001]), False)

    def test_string_change(self):
        self.agree(self.base.assign(s=["b", "a", "c"]), False)

    def test_row_count(self):
        self.agree(self.base.iloc[:2], False)

    def test_column_name(self):
        self.agree(self.base.rename(columns={"s": "t"}), False)

    def test_reason_names_the_cell(self):
        self.assertEqual(checks.first_difference(self.base, self.base.assign(s=["b", "a", "c"])),
                         "first mismatch s[2] duck=None spark='c'")


class EmnistFailures(unittest.TestCase):
    """A stage that throws counts once, as a failed operation."""
    def test_failed_stage(self):
        ok = {"kind": "cold", "wall_s": 1.0, "stages": {st: 0.1 for st, _, _ in layers.EMNIST_STAGES},
              "checks": {}}
        bad = {"kind": "warm", "wall_s": 0.5, "stages": {"EmnistFixture.df": 0.1, "EmnistPipeline.scaler_fit": 0.2},
               "failed_stage": "EmnistPipeline.scaler_fit", "error": "java.lang.RuntimeException: x"}
        res = {"setup_s": 1.0, "session_s": 0.5, "passes": [ok, bad]}
        rep = layers.report("emnist_ref", 1, "s", {"mode": "emnist"}, res, {}, None, 0.0, "")
        self.assertEqual((rep["attempted"], rep["failed"]), (10, 1))
        self.assertEqual(rep["detail"]["failed_operations"],
                         [("warm", "EmnistPipeline.scaler_fit", False, "java.lang.RuntimeException: x")])


class SelfTime(unittest.TestCase):
    spans = [
        {"id": 1, "parent": 0, "name": "cold", "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "name": "query:a", "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "name": "query:b", "start": 5.0, "end": 9.0},
        {"id": 4, "parent": 2, "name": "build", "start": 1.0, "end": 2.0},
        {"id": 5, "parent": 3, "name": "run", "start": 5.0, "end": 8.0},
        # two concurrent jobs under one phase: their overlap counts once
        {"id": 6, "parent": 5, "name": "job", "start": 5.0, "end": 7.0},
        {"id": 7, "parent": 5, "name": "job", "start": 6.0, "end": 7.5},
    ]

    def test_values(self):
        st = timeline.self_times(self.spans)
        # job 7 starts later, so it owns the 6.0-7.0 overlap with job 6
        self.assertEqual(st, {1: 3.0, 2: 2.0, 3: 1.0, 4: 1.0, 5: 0.5, 6: 1.0, 7: 1.5})

    def test_pass_is_accounted_for(self):
        # overlapping jobs included, a pass's subtree self times sum to its duration
        self.assertAlmostEqual(sum(timeline.self_times(self.spans).values()), 10.0)

    def test_layer_table(self):
        table = timeline.self_time_table(self.spans)
        self.assertEqual(table["query"], 3.0)
        self.assertEqual(table["pass"], 3.0)
        self.assertEqual(table["job"], 2.5)

    def test_children_clipped_to_parent(self):
        spans = [{"id": 1, "parent": 0, "name": "p", "start": 0.0, "end": 2.0},
                 {"id": 2, "parent": 1, "name": "c", "start": 1.0, "end": 5.0}]
        self.assertEqual(timeline.self_times(spans), {1: 1.0, 2: 1.0})


class IdleTime(unittest.TestCase):
    def test_union_and_gaps(self):
        tasks = [(1.0, 3.0), (2.0, 4.0), (6.0, 7.0), (6.5, 6.8)]
        self.assertEqual(timeline.union_length(tasks), 4.0)
        self.assertEqual(timeline.idle_seconds(tasks, 0.0, 10.0), 6.0)
        # tasks are clipped to the window
        self.assertEqual(timeline.idle_seconds(tasks, 2.5, 6.5), 4.0 - 2.0)

    def test_no_tasks(self):
        self.assertEqual(timeline.idle_seconds([], 3.0, 5.0), 2.0)

    def test_pass_metrics_from_listener_events(self):
        spans = [{"id": 1, "parent": 0, "name": "cold", "start": 0.0, "end": 10.0},
                 {"id": 2, "parent": 1, "name": "query:q", "start": 0.0, "end": 6.0},
                 {"id": 3, "parent": 2, "name": "run", "start": 0.0, "end": 6.0},
                 {"id": 4, "parent": 1, "name": "check", "start": 6.0, "end": 8.0}]
        jobs = [{"id": 0, "group": "perfbench:3", "start": 1.0, "end": 3.0},
                # an old group from a pool thread: attributed by time window
                {"id": 1, "group": "perfbench:4", "start": 4.0, "end": 5.0},
                # a job submitted with no group at all
                {"id": 2, "group": "", "start": 6.5, "end": 7.5}]
        tasks = [{"job": 0, "launch": 1.0, "finish": 3.0, "run_ms": 1500, "gc_ms": 100,
                  "shuffle_write_b": 2e6, "spill_b": 0, "input_b": 1e6, "result_b": 1e3},
                 {"job": 1, "launch": 4.0, "finish": 5.0, "run_ms": 900, "gc_ms": 0,
                  "shuffle_write_b": 0, "spill_b": 0, "input_b": 0, "result_b": 1e3},
                 {"job": 2, "launch": 6.5, "finish": 7.5, "run_ms": 1000, "gc_ms": 0,
                  "shuffle_write_b": 0, "spill_b": 0, "input_b": 5e6, "result_b": 0}]
        all_spans, by_window = timeline.attach_jobs(spans, jobs)
        self.assertEqual(by_window, 2)
        parents = {s["job"]: s["parent"] for s in all_spans if s["name"] == "job"}
        self.assertEqual(parents, {0: 3, 1: 3, 2: 4})
        rec = {j["id"]: j for j in jobs}
        by_span = {}
        for s in all_spans:
            if s["name"] == "job":
                by_span.setdefault(s["parent"], []).append(rec[s["job"]])
        by_job = {t["job"]: [t] for t in tasks}
        m = layers.engine_metrics(spans[0], all_spans, by_span, by_job)
        # 10 s pass minus the 2 s check, 3 s of it with a task running
        self.assertEqual(m["sched.idle_s"], 5.0)
        self.assertEqual((m["sched.jobs"], m["sched.tasks"]), (2, 2))
        self.assertEqual(m["exec.busy_s"], 2.4)
        self.assertEqual(m["scan.input_mb"], 1.0)


if __name__ == "__main__":
    unittest.main()
