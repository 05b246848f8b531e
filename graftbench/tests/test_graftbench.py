"""Tests of the benchmark itself: statistics, metric output, the trace
summary, the models (through the JVM self-test) and the refusal to run
without the engine sources.

    python3 -m unittest discover -s graftbench/tests
"""
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import build  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import trace_summary  # noqa: E402


def raw_result(failed=0):
    ms = [100.0 + i for i in range(12)]
    return {
        "workload": "pk_serve", "seed": 1, "setup_s": 9.5, "measured_s": 20.0,
        "rows_upserted": 8000, "docs_deduped": 200, "dedup_s": 2.5,
        "space_amp": 3.1, "heap_retained_mb": 101.0, "attempted": 50,
        "failed": failed, "failures": [],
        "samples_upsert": ms, "samples_lookup": ms + ms, "samples_freshness": ms,
        "samples_poll": ms, "samples_query": ms[:4],
    }


def spans_dump(path):
    """A small dump: one measured upsert with a job and a planning phase,
    one lookup, one query with a scan, one poll, dedup stages."""
    recs = [
        {"kind": "span", "id": 0, "parent": -1, "name": "upsert", "layer": "core", "req": 1, "t0": 1000, "t1": 1400},
        {"kind": "span", "id": 1, "parent": -1, "name": "lookup", "layer": "core", "req": 1, "t0": 1400, "t1": 1500},
        {"kind": "span", "id": 2, "parent": -1, "name": "query", "layer": "connector", "req": 1, "t0": 1500, "t1": 1700},
        {"kind": "span", "id": 3, "parent": -1, "name": "poll", "layer": "streaming", "req": 1, "t0": 1700, "t1": 1750},
        {"kind": "span", "id": 4, "parent": -1, "name": "dedup", "layer": "pipeline", "req": 1, "t0": 1750, "t1": 1950},
        {"kind": "span", "id": 5, "parent": 4, "name": "exact", "layer": "pipeline", "req": 1, "t0": 1760, "t1": 1800},
        {"kind": "job", "span": 0, "t0": 1100, "t1": 1300, "tasks": 4, "run_ms": 600, "cpu_ms": 300.0,
         "records_read": 2000, "bytes_read": 0, "bytes_written": 5000, "shuffle_write": 1048576,
         "shuffle_read": 0, "spill": 0},
        {"kind": "job", "span": 1, "t0": 1420, "t1": 1480, "tasks": 1, "run_ms": 50, "cpu_ms": 40.0,
         "records_read": 64, "bytes_read": 0, "bytes_written": 0, "shuffle_write": 0,
         "shuffle_read": 0, "spill": 0},
        {"kind": "stage", "span": 0, "t0": 1100, "t1": 1300, "tasks": 4, "max_task_ms": 200, "median_task_ms": 100},
        {"kind": "plan", "phase": "optimization", "t0": 1010, "t1": 1060},
        {"kind": "scan", "t": 1510, "files": 16, "rows": 30000},
        {"kind": "counter", "name": "measured_t0", "value": 1000},
        {"kind": "counter", "name": "measured_t1", "value": 2000},
        {"kind": "counter", "name": "measured_s", "value": 1.0},
        {"kind": "counter", "name": "measured_cycles", "value": 1},
        {"kind": "counter", "name": "nproc", "value": 4},
        {"kind": "counter", "name": "rows_upserted", "value": 1000},
        {"kind": "counter", "name": "lookup_keys", "value": 32},
        {"kind": "counter", "name": "live_rows", "value": 30000},
        {"kind": "counter", "name": "candidate_pairs", "value": 10},
        {"kind": "counter", "name": "verified_pairs", "value": 4},
    ]
    with open(path, "w") as fh:
        fh.writelines(json.dumps(r) + "\n" for r in recs)


class StatsTest(unittest.TestCase):
    def test_tail_percentile_needs_ten_samples_beyond(self):
        expected = {9: 0, 19: 0, 20: 50, 40: 75, 100: 90, 200: 95, 1000: 99, 10000: 99.9}
        for n, pct in expected.items():
            xs = list(range(n))
            got, value = stats.tail_percentile(xs)
            self.assertEqual(got, pct, n)
            if pct:
                self.assertGreaterEqual(sum(1 for x in xs if x > value), 10)

    def test_nearest_rank(self):
        self.assertEqual(stats.nearest_rank([5, 1, 3, 2, 4], 50), 3)
        self.assertEqual(stats.nearest_rank(list(range(1, 101)), 90), 90)

    def test_spread_uses_the_acceptance_quartiles(self):
        xs = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8, 10.1, 9.9, 10.4]
        med, q1, q3, spr = stats.spread(xs)
        eq1, _, eq3 = statistics.quantiles(xs, n=4)
        self.assertEqual((q1, q3), (eq1, eq3))
        self.assertAlmostEqual(spr, (eq3 - eq1) / statistics.median(xs))

    def test_drift(self):
        self.assertEqual(stats.drift([5.0] * 8), 1.0)
        self.assertAlmostEqual(stats.drift([1.0, 1.0, 2.0, 2.0]), 2.0)
        self.assertEqual(stats.drift([3.0]), 0.0)


class OutputTest(unittest.TestCase):
    def setUp(self):
        self.spec = run.spec()

    def test_end_to_end_metrics_are_the_declared_ones(self):
        values = run.end_to_end(raw_result())
        self.assertEqual(sorted(values), sorted(m["name"] for m in self.spec["end_to_end"]))
        for v in values.values():
            self.assertTrue(math.isfinite(v) and v > 0)

    def test_a_failed_op_lowers_ok_ratio(self):
        self.assertEqual(run.end_to_end(raw_result())["ok_ratio"], 1.0)
        self.assertAlmostEqual(run.end_to_end(raw_result(failed=1))["ok_ratio"], 49 / 50)

    def test_per_layer_metrics_are_complete_and_stable(self):
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "spans.jsonl")
            spans_dump(path)
            first = trace_summary.per_layer(path, raw_result())
            second = trace_summary.per_layer(path, raw_result())
        self.assertEqual(first, second)
        for m in self.spec["per_layer"]:
            self.assertIn(m["name"], first)
            self.assertTrue(math.isfinite(first[m["name"]]), m["name"])
        self.assertEqual(first["core.upsert_driver_ms"], 400 - 200 - 50)
        self.assertEqual(first["core.rows_read_per_lookup"], 64 / 32)
        self.assertEqual(first["connector.files_read_per_query"], 16)
        self.assertEqual(first["pipeline.verify_yield"], 0.4)
        self.assertEqual(first["spark.stage_skew"], 2.0)


class TraceTest(unittest.TestCase):
    def test_union(self):
        self.assertEqual(trace_summary.union_ms([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(trace_summary.union_ms([]), 0)

    def test_self_time_subtracts_children(self):
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "spans.jsonl")
            spans_dump(path)
            layers = trace_summary.Trace(trace_summary.load(path)).self_ms()
        # upsert 400 ms minus its job (200) and planning (50)
        # + lookup 100 minus its job (60)
        self.assertEqual(layers["core"], 150 + 40)
        self.assertEqual(layers["pipeline"], 160 + 40)
        self.assertEqual(layers["spark"], 260)
        self.assertEqual(layers["bench"], 1000 - 950)

    def test_overhead_compares_medians(self):
        traced, untraced = raw_result(), raw_result()
        for op in trace_summary.TIMED_OPS:
            traced[f"samples_{op}"] = [x * 1.1 for x in untraced[f"samples_{op}"]]
        self.assertAlmostEqual(trace_summary.overhead_pct(traced, untraced), 10.0)

    def test_overhead_needs_the_same_seed(self):
        with tempfile.TemporaryDirectory() as d:
            other = dict(raw_result(), seed=2)
            with open(os.path.join(d, "pk_serve-2-t0.json"), "w") as fh:
                json.dump(other, fh)
            self.assertIsNone(trace_summary.untraced_baseline(d, raw_result()))
            self.assertIn("no untraced run", trace_summary.overhead_line(raw_result(), None))
            with open(os.path.join(d, "pk_serve-1-t0.json"), "w") as fh:
                json.dump(raw_result(), fh)
            self.assertEqual(trace_summary.untraced_baseline(d, raw_result())["seed"], 1)


class JvmTest(unittest.TestCase):
    def test_model_self_test(self):
        """Runs graftbench.SelfTest: wrong lookups, polls, aggregates and
        dedup results must fail their checks and count in the ledger."""
        if not os.path.isdir(build.ENGINE_SRC) or not os.path.isdir(build.spark_jars()):
            self.skipTest("engine sources or Spark jars not present")
        cp = build.build()
        res = subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp, "graftbench.SelfTest"],
                             capture_output=True, text=True)
        self.assertEqual(res.returncode, 0, res.stderr)
        self.assertIn("checks passed", res.stdout)


class RefusalTest(unittest.TestCase):
    def test_refuses_without_engine_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(build.ROOT, "BENCHMARK.json"), d)
            shutil.copytree(BENCH, os.path.join(d, "graftbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            res = subprocess.run([sys.executable, "graftbench/run.py", "--workload", "pk_serve",
                                  "--seed", "1", "--seconds", "1", "--trace", "0"],
                                 capture_output=True, text=True, cwd=d, timeout=120)
        self.assertNotEqual(res.returncode, 0)
        self.assertNotIn('"metrics"', res.stdout)


if __name__ == "__main__":
    unittest.main()
