#!/usr/bin/env python3
"""Self-tests of the benchmark's arithmetic and output check.

    python3 perfbench/selftest.py

No JVM needed: the tests feed hand-made raw run records to metrics.py.
"""
import copy
import json
import os
import unittest

import metrics

BENCH = os.path.dirname(os.path.abspath(__file__))


def op(oid, query, t0, t1, t2, fp=None, ok=True):
    return {"id": oid, "query": query, "t0": t0, "t1": t1, "t2": t2, "ok": ok,
            "error": None if ok else "boom", "fingerprint": fp, "counters": [0, 0, 0, 0, 0]}


def raw_record(ops_by_pass, checked_pass, records=None, failed_tables=()):
    passes = []
    for i, ops in enumerate(ops_by_pass):
        passes.append({"pass": i, "kind": "cold" if i == 0 else "steady",
                       "checked": i == checked_pass,
                       "start_ms": min(o["t0"] for o in ops), "end_ms": max(o["t2"] for o in ops),
                       "ops": ops})
    return {"passes": passes, "queries": sorted({o["query"] for o in ops_by_pass[0]}),
            "seed": 7, "cores": 4, "jvm_start_ms": 0.0, "peak_rss_mb": 1.0,
            "table_load_ms": {"t": 5.0}, "trace_records": records or {},
            "setup": {"call_ms": 500.0, "session_ms": 1000.0, "warm_ms": 3000.0, "tables": 10,
                      "failed_tables": list(failed_tables)}}


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        cases = {9: None, 19: None, 20: 50.0, 39: 50.0, 40: 75.0, 99: 75.0, 100: 90.0,
                 199: 90.0, 200: 95.0, 999: 95.0, 1000: 99.0, 10000: 99.9}
        for n, want in cases.items():
            self.assertEqual(metrics.tail_percentile(n), want, n)

    def test_quantile_interpolates_between_ranks(self):
        self.assertEqual(metrics.quantile([4, 1, 3, 2], 0.5), 2.5)
        self.assertEqual(metrics.quantile([4, 1, 3, 2], 0.0), 1)
        self.assertEqual(metrics.quantile([4, 1, 3, 2], 1.0), 4)
        self.assertAlmostEqual(metrics.quantile(list(range(101)), 0.95), 95.0)


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        kids = [(10, 30), (20, 50), (90, 120)]
        self.assertEqual(metrics.union_ms(kids, 0, 100), 50)
        self.assertEqual(metrics.self_ms(0, 100, kids), 50)

    def test_children_outside_the_parent_are_clipped(self):
        self.assertEqual(metrics.self_ms(0, 100, [(-50, -10), (100, 200)]), 100)
        self.assertEqual(metrics.self_ms(0, 100, [(-50, 200)]), 0)
        self.assertEqual(metrics.self_ms(0, 100, []), 100)

    def test_spans_and_unattributed_remainder(self):
        # One query: build [1000,1400] holds an eager action whose job runs
        # [1160,1290] with one stage; the timed write runs [1500,1990].
        # A second job in the window carries another query's job group.
        records = {
            "jobs": [
                {"job": 1, "start_ms": 1160, "end_ms": 1290, "group": "p1.0.qa", "exec": 5,
                 "call_site": "head at X.scala:1", "stages": [3]},
                {"job": 2, "start_ms": 1600, "end_ms": 1700, "group": "p0.3.qz", "exec": 6,
                 "call_site": "parquet at Tables.scala:150", "stages": [4]},
            ],
            "stages": [
                {"stage": 3, "attempt": 0, "submit_ms": 1170, "complete_ms": 1280, "tasks": 4,
                 "failed_tasks": 0, "empty_tasks": 1, "run_ms": 300, "cpu_ms": 200.0,
                 "deser_ms": 10, "shuffle_read_bytes": 0, "shuffle_write_bytes": 2**20,
                 "spill_bytes": 0, "sched_wait_ms": 8, "task_wall_ms": 400},
                {"stage": 4, "attempt": 0, "submit_ms": 1610, "complete_ms": 1690, "tasks": 4,
                 "failed_tasks": 0, "empty_tasks": 3, "run_ms": 100, "cpu_ms": 50.0,
                 "deser_ms": 2, "shuffle_read_bytes": 2**20, "shuffle_write_bytes": 0,
                 "spill_bytes": 0, "sched_wait_ms": 4, "task_wall_ms": 120},
            ],
            "executions": [
                {"exec": 5, "start_ms": 1155, "end_ms": 1300, "group": "p1.0.qa",
                 "phases": {"analysis": [1100, 1110], "optimization": [1110, 1130],
                            "planning": [1130, 1150]}, "nodes": 7, "ok": True},
                {"exec": 6, "start_ms": 1500, "end_ms": 1990, "group": "p1.0.qa",
                 "phases": {"analysis": [1400, 1410], "optimization": [1410, 1480],
                            "planning": [1480, 1520]}, "nodes": 9, "ok": True},
            ],
            "batches": [], "streams": [],
        }
        cold = [op("p0.0.qa", "qa", 0, 100, 900)]
        steady = [op("p1.0.qa", "qa", 1000, 1400, 2000)]
        raw = raw_record([cold, steady], checked_pass=None, records=records)
        spans, remainder = metrics.build_spans(raw, metrics.Attribution(raw))
        by_name = {s["name"]: s for s in spans}
        # build: 400 ms, children: analysis+optimization+planning [1100,1150]
        # and execute [1155,1300] -> 195 ms covered.
        self.assertAlmostEqual(by_name["build"]["self_ms"], 400 - 195)
        self.assertAlmostEqual(by_name["exec#5"]["self_ms"], 145 - 130)
        self.assertAlmostEqual(by_name["job#1"]["self_ms"], 130 - 110)
        # query: 1000 ms; build [1000,1400], analysis [1400,1410],
        # optimization [1410,1480], planning [1480,1520], execute
        # [1520,1990] -> 990 ms covered, 10 ms unattributed.
        self.assertAlmostEqual(remainder["p1.0.qa"], 10)
        # every span below a query carries that query's trace id
        for s in spans:
            if s["kind"] not in ("run", "pass", "query"):
                self.assertEqual(s["trace"], spans[s["parent"]]["trace"])
        self.assertEqual({s["trace"] for s in spans if s["kind"] == "job"}, {"p1.0.qa"})
        layers, _, _ = metrics.per_layer(raw, [0.8, 0.9, 0.7])
        self.assertEqual(layers["exec.misattributed_jobs"][0], 1)
        self.assertEqual(layers["exec.jobs"][0], 2)
        self.assertEqual(layers["build.jobs"][0], 1)
        self.assertEqual(layers["tables.infer_jobs"][0], 1)
        self.assertEqual(layers["exec.empty_task_frac"][0], 0.5)
        self.assertEqual(layers["exec.core_busy_frac"][0], 520 / (4 * 1000))
        self.assertAlmostEqual(layers["trace.unattributed_frac"][0], 10 / 1000)
        self.assertEqual(layers["plan.optimization_ms"][0], 20 + 70)
        # traced pass 1.0 s against the untraced runs' median 0.8 s
        self.assertAlmostEqual(layers["trace.overhead_s"][0], 0.2)
        self.assertEqual(metrics.per_layer(raw, [])[0]["trace.overhead_s"][0], 0.0)


class OutputCheck(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(BENCH, "pins.json")) as f:
            self.pins = {q: v["fp"] for q, v in json.load(f)["queries"].items()}
        q1, q2 = sorted(self.pins)[:2]
        self.queries = (q1, q2)
        cold = [op("p0.0." + q1, q1, 0, 1, 2), op("p0.1." + q2, q2, 2, 3, 4)]
        steady = [op("p1.0." + q2, q2, 10, 11, 12, fp=self.pins[q2]),
                  op("p1.1." + q1, q1, 12, 13, 14, fp=self.pins[q1])]
        self.raw = raw_record([cold, steady], checked_pass=1)

    def test_pinned_outputs_pass(self):
        attempted, failures = metrics.check_outputs(self.raw, self.pins)
        self.assertEqual((attempted, failures), (4 + 10, []))

    def test_corrupted_pin_is_reported_as_a_failure(self):
        q1, _ = self.queries
        bad = dict(self.pins)
        bad[q1] = [bad[q1][0], bad[q1][1] + 1, bad[q1][2]]
        attempted, failures = metrics.check_outputs(self.raw, bad)
        self.assertEqual(attempted, 14)
        self.assertEqual([f[0] for f in failures], ["p1.1." + q1])
        self.assertIn("fingerprint", failures[0][1])

    def test_missing_pin_thrown_query_and_failed_warm_up_count(self):
        q1, q2 = self.queries
        raw = copy.deepcopy(self.raw)
        raw["passes"][0]["ops"][1]["ok"] = False
        raw["setup"]["failed_tables"] = ["lineitem"]
        pins = {q2: self.pins[q2]}
        _, failures = metrics.check_outputs(raw, pins)
        self.assertEqual(sorted(f[0] for f in failures),
                         sorted(["p0.1." + q2, "p1.1." + q1, "setup.lineitem"]))


class EndToEnd(unittest.TestCase):
    def test_setup_and_pass_totals(self):
        cold = [op("p0.0.a", "a", 0, 1, 3000), op("p0.1.b", "b", 3000, 3001, 4000)]
        steady = [op("p1.0.b", "b", 5000, 5001, 5500), op("p1.1.a", "a", 5500, 5501, 7000)]
        raw = raw_record([cold, steady], checked_pass=1)
        values, report = metrics.end_to_end(raw)
        # JVM boot 0.5 s + session 1 s + warm-up 3 s
        self.assertEqual(values["setup_s"][0], 4.5)
        self.assertEqual(values["cold_pass_s"][0], 4.0)
        self.assertEqual(values["pass_s"][0], 2.0)
        self.assertEqual(values["latency_p50_ms"][0], 1000.0)
        self.assertEqual(report["latency_samples"], 2)
        self.assertIsNone(report["latency_tail"])
        self.assertEqual([p["total_s"] for p in report["pass_totals_s"]], [4.0, 2.0])


if __name__ == "__main__":
    unittest.main()
