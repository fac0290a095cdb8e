"""Tests of the benchmark's own logic (no JVM needed).

  python3 perfbench/test_bench.py
"""
import math
import io
import json
import os
import sys
import tempfile
import unittest
from contextlib import redirect_stderr, redirect_stdout
from unittest import mock

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bench_lib  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

QUERIES = [f"q{i}" for i in range(12)]


class PercentileRule(unittest.TestCase):
    def test_p90_needs_a_hundred_samples(self):
        self.assertEqual(bench_lib.tail_percentile(100), 0.9)
        self.assertEqual(bench_lib.tail_percentile(5000), 0.9)
        self.assertEqual(bench_lib.tail_percentile(99), 0.89)

    def test_fewer_samples_take_the_highest_percentile_with_ten_beyond(self):
        self.assertEqual(bench_lib.tail_percentile(50), 0.8)
        self.assertEqual(bench_lib.tail_percentile(40), 0.75)

    def test_falls_back_to_the_median(self):
        for n in (1, 6, 20):
            self.assertEqual(bench_lib.tail_percentile(n), 0.5)

    def test_at_least_ten_samples_lie_beyond_the_percentile_rank(self):
        for n in range(21, 400, 7):
            rank = math.ceil(bench_lib.tail_percentile(n) * n)
            self.assertGreaterEqual(n - rank, 10, n)

    def test_harrell_davis(self):
        self.assertAlmostEqual(bench_lib.hd_quantile([4.0] * 7, 0.5), 4.0)
        self.assertAlmostEqual(bench_lib.hd_quantile([1.0, 2.0, 3.0], 0.5), 2.0)
        values = [x * x for x in range(23)]
        self.assertLess(bench_lib.hd_quantile(values, 0.5), bench_lib.hd_quantile(values, 0.56))
        # on a large sample it agrees with the nearest-rank percentile
        self.assertAlmostEqual(bench_lib.hd_quantile(list(range(1, 1001)), 0.9), 900.5, delta=1.0)


def ok(i, name, seconds, rows=3, h="7"):
    return {"i": i, "name": name, "status": "ok", "seconds": seconds, "cpu_s": 2 * seconds,
            "build_s": 0.0, "plan_s": 0.0, "exec_s": seconds, "rows": rows, "hash": h}


class FailureAccounting(unittest.TestCase):
    expected = {"a": {"rows": 3, "hash": "7"}, "b": {"rows": 3, "hash": "7"},
                "c": {"rows": 3, "hash": "7"}}

    def records(self):
        return [ok(0, "a", 1.0),
                {"i": 1, "name": "b", "status": "error", "error": "boom"},
                ok(2, "c", 50.0, h="8"),
                ok(3, "a", 2.0)]

    def test_throw_and_wrong_hash_fail_and_are_not_timed(self):
        attempted, failures, passed = bench_lib.account(
            self.records(), lambda r: self.expected[r["name"]])
        self.assertEqual(attempted, 4)
        self.assertEqual(sorted(r["i"] for r, _ in failures), [1, 2])
        self.assertEqual([r["i"] for r in passed], [0, 3])
        stats = bench_lib.op_stats(passed)
        self.assertEqual(stats["n"], 2)
        self.assertAlmostEqual(stats["p50"], 3.0)
        self.assertAlmostEqual(stats["tail"], 3.0)

    def test_wrong_row_count_fails(self):
        self.assertIn("rows", bench_lib.check_op(ok(0, "a", 1.0, rows=4), {"rows": 3, "hash": "7"}))

    def test_run_reports_failures_and_exits_nonzero(self):
        out = {"setup_s": [4.0, 1.0, 3.5], "setup_errors": [], "ops": self.records(),
               "heap_mb": [100.0, 120.0, 110.0], "layers": {}, "spans": []}
        cfg = {"unit_seconds": 10, "warm_scale": 0.1, "data_scale": 0.1,
               "query_mix": {"queries": ["a", "b", "c"], "heap_every": 10, "setup_reps": 3}}
        stdout = io.StringIO()
        with mock.patch.object(run, "load_json",
                               lambda n: cfg if n == "workloads.json" else {"queries": self.expected}), \
                mock.patch.object(run.build, "build", lambda: ""), \
                mock.patch.object(run, "make_plan", lambda *a: {"kind": "queries", "cores": 4}), \
                mock.patch.object(run, "run_jvm", lambda plan, work: json.loads(json.dumps(out))), \
                redirect_stdout(stdout), redirect_stderr(io.StringIO()):
            code = run.main(["--workload", "query_mix", "--seed", "1", "--seconds", "10"])
        result = json.loads(stdout.getvalue().strip().splitlines()[-1])
        self.assertEqual(code, 1)
        self.assertFalse(result["correct"])
        self.assertEqual((result["attempted"], result["failed"]), (4, 2))
        self.assertEqual(result["metrics"]["cpu_s"]["value"], 6.0)
        self.assertAlmostEqual(result["metrics"]["op_cpu_p50_s"]["value"], 3.0)
        self.assertEqual(result["metrics"]["setup_s"]["value"], 3.5)


class SeedDeterminism(unittest.TestCase):
    def test_query_order(self):
        order = bench_lib.query_order(3, QUERIES, QUERIES[:4], 2, units=2)
        self.assertEqual(order, bench_lib.query_order(3, QUERIES, QUERIES[:4], 2, units=2))
        self.assertNotEqual(order, bench_lib.query_order(4, QUERIES, QUERIES[:4], 2, units=2))
        # per unit: every query once, then two passes over the repeat subset
        self.assertEqual(len(order), 2 * (12 + 2 * 4))
        for unit in (order[:20], order[20:]):
            self.assertEqual(sorted(unit[:12]), sorted(QUERIES))
            self.assertEqual(sorted(unit[12:16]), sorted(QUERIES[:4]))
            self.assertEqual(sorted(unit[16:]), sorted(QUERIES[:4]))
        self.assertNotEqual(order[:20], order[20:])

    def test_replay_order(self):
        days = ["2024-06-10", "2024-06-11", "2024-06-12"]
        self.assertEqual(bench_lib.replay_order(9, days), bench_lib.replay_order(9, days))
        self.assertEqual(sorted(bench_lib.replay_order(9, days, 1)), days)
        orders = {tuple(bench_lib.replay_order(s, days)) for s in range(20)}
        self.assertGreater(len(orders), 1)

    def test_plans_depend_only_on_the_seed(self):
        cfg = run.load_json("workloads.json")
        with tempfile.TemporaryDirectory() as work:
            plan = lambda seed: run.make_plan("dag_backfill", seed, 10, 0, work, cfg)  # noqa: E731
            self.assertEqual(plan(7), plan(7))
            self.assertEqual(len(plan(7)["ops"]), 3 + 1 + cfg["dag_backfill"]["replays_per_unit"] + 1)
            days = {tuple(o["day"] for o in plan(s)["ops"] if o.get("phase") == "replay")
                    for s in range(12)}
            self.assertGreater(len(days), 1)


    def test_query_plan_warms_up_on_inputs_of_its_own(self):
        cfg = dict(run.load_json("workloads.json"), warm_scale=0.05, data_scale=0.05)
        w = cfg["query_mix"]
        with tempfile.TemporaryDirectory() as work:
            plan = run.make_plan("query_mix", 5, 10, 0, work, cfg)
            self.assertEqual(plan["ops"], bench_lib.query_order(
                5, w["queries"] + [w["stream"]], w["repeat"], w["repeat_rounds"]))
            # the warm-up covers every op of the selection
            self.assertEqual(set(plan["warm"]), set(plan["ops"]))
            warm = set()
            for rep in plan["setup"]:
                with open(os.path.join(rep["warm_dir"], "events.parquet"), "rb") as f:
                    warm.add(f.read())
            self.assertEqual(len(warm), w["setup_reps"])
            parts = sorted(os.listdir(os.path.join(plan["data_dir"], "events_stream")))
            self.assertEqual(len(parts), gen.STREAM_FILES)


class SelfTimes(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [{"id": 1, "parent": -1, "kind": "op", "start_us": 0, "end_us": 10_000_000},
                 {"id": 2, "parent": 1, "kind": "exec", "start_us": 1_000_000, "end_us": 6_000_000},
                 {"id": 3, "parent": 1, "kind": "exec", "start_us": 4_000_000, "end_us": 8_000_000}]
        self.assertAlmostEqual(bench_lib.self_times(spans)["op"], 3.0)
        self.assertAlmostEqual(bench_lib.self_times(spans)["exec"], 9.0)


if __name__ == "__main__":
    unittest.main()
