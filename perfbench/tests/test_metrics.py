"""Self-tests of the benchmark's metric rules and its BENCHMARK.json.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

import metrics  # noqa: E402
import run  # noqa: E402


def op(latency, ok=True, traced=False, layers=None):
    return {"id": "op", "name": "q", "latency_s": latency, "release_s": 0.0, "ok": ok,
            "traced": traced, "error": "" if ok else "boom", "layers": layers or {}}


def result(ops, checks=()):
    return {"ops": ops, "checks": list(checks), "session_s": 1.5, "generate_s": 0.5,
            "warm_s": 2.0, "heap_mb": 100.0, "heap_growth_mb_traced": 12.0,
            "heap_growth_mb": 2.0}


class LatencyRules(unittest.TestCase):
    def test_p90_needs_100_ops(self):
        self.assertIsNone(metrics.p90([op(0.1)] * 99))
        self.assertEqual(metrics.p90([op(i / 100) for i in range(1, 101)]), 0.9)
        _, _, _, _, lines = metrics.summarize(result([op(0.1)] * 99), trace=False)
        self.assertIn("latency_p90_s not reported: 99 ops < 100", lines)

    def test_failed_op_is_never_fast(self):
        ops = [op(0.001, ok=False), op(1.0), op(2.0)]
        self.assertEqual(metrics.latency(ops, 0.5), 2.0)
        # when the median lands on failures it reads as the whole window
        ops = [op(0.001, ok=False), op(0.002, ok=False), op(1.0)]
        self.assertEqual(metrics.latency(ops, 0.5), metrics.window_s(ops))
        e2e = metrics.end_to_end(ops, result([]), 1.0)
        self.assertAlmostEqual(e2e["throughput_ops_s"], 1 / 1.003)
        self.assertAlmostEqual(e2e["ok_frac"], 1 / 3)

    def test_failures_counted_and_reported(self):
        values, attempted, failed, correct, lines = metrics.summarize(
            result([op(0.5), op(0.01, ok=False)]), trace=False)
        self.assertEqual((attempted, failed, correct), (2, 1, False))
        self.assertTrue(any(l.startswith("failed_frac 0.5") for l in lines))
        self.assertTrue(any("boom" in l for l in lines))

    def test_setup_is_session_generate_and_warm(self):
        values, *_ = metrics.summarize(result([op(0.5)]), trace=False)
        self.assertEqual(values["setup_s"]["value"], 4.0)


class TracedRun(unittest.TestCase):
    def test_every_layer_metric_and_overhead(self):
        ops = [op(0.6, traced=True, layers={"spark.jobs": 4}), op(0.5)]
        values, *_, lines = metrics.summarize(result(ops), trace=True,
                                              spread={"heap_retained_mb": 0.2})
        self.assertEqual(set(values), set(metrics.PER_LAYER))
        self.assertEqual(values["spark.jobs"]["value"], 4)
        self.assertEqual(values["setup.warm_s"]["value"], 2.0)
        self.assertAlmostEqual(values["trace.overhead.latency_p50_s"]["value"], 0.1)
        self.assertAlmostEqual(values["trace.overhead.heap_retained_mb"]["value"], 10.0)
        # +10 MB against a 20 % spread of 100 MB is not resolved; +0.1 s
        # against no recorded spread is
        note = {l.split()[0]: l for l in lines if l.startswith("trace.overhead.")}
        self.assertIn("unresolved", note["trace.overhead.heap_retained_mb"])
        self.assertIn("(resolved)", note["trace.overhead.latency_p50_s"])


class Names(unittest.TestCase):
    def test_metric_names(self):
        for name in list(metrics.END_TO_END) + list(metrics.PER_LAYER):
            self.assertRegex(name, metrics.NAME)

    def test_benchmark_json_matches(self):
        bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
        self.assertEqual(e2e, metrics.END_TO_END)
        self.assertEqual(layer, metrics.PER_LAYER)
        for m in bench["workloads"]:
            self.assertRegex(m["name"], metrics.NAME)


class Draws(unittest.TestCase):
    def setUp(self):
        self.spec = json.loads((HERE / "workloads.json").read_text())
        self.expected = json.loads((HERE / "expected.json").read_text())

    def test_same_seed_same_plan(self):
        for w in self.spec["workloads"]:
            a = run.plan_lines(self.spec, self.expected, w, 5, 10, 0)
            self.assertEqual(a, run.plan_lines(self.spec, self.expected, w, 5, 10, 0))
        self.assertNotEqual(run.plan_lines(self.spec, self.expected, "interactive_mix", 5, 10, 0),
                            run.plan_lines(self.spec, self.expected, "interactive_mix", 6, 10, 0))

    def test_query_set_is_recorded_and_readable(self):
        queries = self.spec["workloads"]["interactive_mix"]["queries"]
        excluded = set(self.spec["excluded"]["queries"])
        self.assertEqual(len(excluded), 7)
        self.assertFalse(set(queries) & excluded)
        self.assertTrue(set(queries) <= set(self.expected))
        self.assertEqual(set(self.expected) & excluded, set())


if __name__ == "__main__":
    unittest.main()
