"""Self-tests of the benchmark. From the root of a graft checkout:

    python3 -m unittest discover -s perfbench/tests

The fault-injection tests run the real program (about a minute each);
set PERFBENCH_FAST=1 to skip them.
"""
import json
import os
import statistics
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.dont_write_bytecode = True

import stats  # noqa: E402
import summary  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(HERE))


class MathTest(unittest.TestCase):
    def test_percentile_interpolates_between_ranks(self):
        xs = [10, 20, 30, 40, 50]
        self.assertEqual(stats.percentile(xs, 50), 30)
        self.assertEqual(stats.percentile(xs, 0), 10)
        self.assertEqual(stats.percentile(xs, 100), 50)
        self.assertAlmostEqual(stats.percentile(xs, 90), 46)
        self.assertAlmostEqual(stats.percentile([5, 1], 25), 2)
        q = statistics.quantiles(list(range(1, 101)), n=100, method="inclusive")
        self.assertAlmostEqual(stats.percentile(list(range(1, 101)), 99), q[98])

    def test_supported_percentile_needs_ten_beyond(self):
        self.assertIsNone(stats.supported_percentile(19))
        self.assertEqual(stats.supported_percentile(20), 50)
        self.assertEqual(stats.supported_percentile(100), 90)
        self.assertEqual(stats.supported_percentile(1000), 99)

    def test_geomean_weighs_each_value_equally(self):
        self.assertAlmostEqual(stats.geomean([1, 100]), 10)
        self.assertAlmostEqual(stats.geomean([4, 4, 4]), 4)
        with self.assertRaises(ValueError):
            stats.geomean([1, 0])

    def test_self_time_subtracts_the_union_of_children(self):
        spans = [
            {"id": 1, "parent": -1, "layer": "query", "start": 0, "end": 100},
            {"id": 2, "parent": 1, "layer": "construct", "start": 0, "end": 30},
            {"id": 3, "parent": 1, "layer": "execute", "start": 30, "end": 100},
            {"id": 4, "parent": 3, "layer": "job", "start": 40, "end": 70},
            {"id": 5, "parent": 3, "layer": "job", "start": 60, "end": 80},
            {"id": 6, "parent": 4, "layer": "stage", "start": 45, "end": 65},
            # a child sticking out of its parent only counts inside it
            {"id": 7, "parent": 2, "layer": "plan", "start": 20, "end": 35},
        ]
        st = stats.self_times(spans)
        self.assertEqual(st["query"], 0)
        self.assertEqual(st["construct"], 20)
        self.assertEqual(st["execute"], 70 - 40)
        self.assertEqual(st["job"], (30 - 20) + 20)
        self.assertEqual(st["stage"], 20)
        self.assertEqual(st["plan"], 15)


def _batch_jvm(fail_kind=None):
    ops = []
    for phase in ("cold", "measure", "measure"):
        for kind, ms in (("q_a", 100.0), ("q_b", 400.0)):
            bad = phase == "measure" and kind == fail_kind
            ops.append({"kind": kind, "phase": phase, "traced": False,
                        "wall_ms": ms, "cpu_ms": ms / 4, "construct_ms": 1.0,
                        "ok": not bad,
                        "error": "java.lang.IllegalStateException: x" if bad
                        else None})
    return {"workload": "relational", "trace": False, "setup_s": [9, 2, 3],
            "catchup_s": 1.5, "heap_peak_mb": 100.0, "ops": ops,
            "oracle_sql": {"q_a": "SELECT 1 FROM events",
                           "q_b": "SELECT 1 FROM lineitem JOIN orders"},
            "table_rows": {"events": 1000, "lineitem": 3000, "orders": 500}}


class SchemaTest(unittest.TestCase):
    def test_end_to_end_result_has_every_declared_metric(self):
        r = summary.summarize(_batch_jvm(), {"q_a": None, "q_b": None})
        self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics",
                                  "all", "failures"})
        self.assertTrue(r["correct"])
        self.assertEqual((r["attempted"], r["failed"]), (6, 0))
        m = r["metrics"]
        self.assertEqual(set(m), set(summary.END_TO_END))
        self.assertEqual(m["setup_s"]["value"], 3)
        self.assertAlmostEqual(m["query_cpu_s"]["value"], 0.125)
        self.assertAlmostEqual(m["query_cpu_geomean_ms"]["value"], 50)
        for v in m.values():
            self.assertEqual(set(v), {"value", "unit"})
        a = r["all"]
        self.assertAlmostEqual(a["query_total_s"], 0.5)
        self.assertAlmostEqual(a["query_geomean_ms"], 200)
        self.assertAlmostEqual(a["ingest_rows_per_s"], 4500 / 0.5)
        self.assertEqual(a["error_rate"], 0)

    def test_benchmark_json_matches_what_runs_print(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual({e["name"]: e["unit"] for e in b["end_to_end"]},
                         summary.END_TO_END)
        self.assertEqual([p["name"] for p in b["per_layer"]], summary.PER_LAYER)
        self.assertEqual(max(e["bound"] for e in b["end_to_end"]),
                         next(e["bound"] for e in b["end_to_end"]
                              if e["name"] == "setup_s"))

    def test_failed_query_and_wrong_output_count(self):
        r = summary.summarize(_batch_jvm(fail_kind="q_b"), {"q_a": None,
                                                           "q_b": None})
        self.assertEqual((r["attempted"], r["failed"]), (6, 2))
        self.assertGreater(r["all"]["error_rate"], 0)
        r = summary.summarize(_batch_jvm(), {"q_a": "rows 3 vs 4", "q_b": None})
        self.assertEqual(r["failed"], 3)
        self.assertFalse(r["correct"])


def _run(workload, inject):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", "0", "--inject", inject],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        timeout=900)
    assert p.returncode == 0, p.stderr[-2000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


@unittest.skipIf(os.environ.get("PERFBENCH_FAST"), "runs the program")
class FaultInjectionTest(unittest.TestCase):
    def test_query_that_throws_raises_error_rate(self):
        full, res = _run("relational", "query-throws")
        self.assertFalse(res["correct"])
        self.assertGreater(res["failed"], 0)
        self.assertGreater(full["all_metrics"]["error_rate"]["value"], 0)
        self.assertTrue(any("injected fault" in f for f in full["failures"]))

    def test_dropped_stream_row_raises_error_rate(self):
        full, res = _run("stream_ingest", "drop-row")
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], 1)
        self.assertGreater(full["all_metrics"]["error_rate"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
