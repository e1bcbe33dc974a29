"""The report carries every metric BENCHMARK.json names, each with its unit.

    python3 -m unittest bench/test_report.py

Needs no build and no Spark: it checks run.py's metric catalogue against
BENCHMARK.json, the result line run.py assembles from a harness report, and
that the harness source computes every per-layer metric it promises.
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402


def raw_report():
    """A harness report as Harness.scala writes it, with made-up values."""
    return {
        "setup_s": 4.2, "setups_s": [4.2, 3.9, 4.4], "first_call_s": 9.1, "warmup_s": [1.5], "call_s": [1.2, 1.1, 1.3],
        "heap_live_mb": [90.0, 104.5], "stored_bytes": 1000, "json_bytes": 4000, "seed_s": 0.1,
        "layers": {"session.build_s": 4.2, "es.requests": 170.0, "query.q01_pricing_summary.s": 0.4},
    }


class ReportTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_catalogue_matches_benchmark_json(self):
        self.assertEqual({m["name"]: m["unit"] for m in self.bench["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in self.bench["per_layer"]}, run.PER_LAYER)
        self.assertLessEqual({w["name"] for w in self.bench["workloads"]}, set(run.WORKLOADS))

    def test_result_line_has_every_metric_with_its_unit(self):
        for trace, names in ((0, self.bench["end_to_end"]), (1, self.bench["per_layer"])):
            metrics = run.metrics_of(raw_report(), trace)
            self.assertEqual(set(metrics), {m["name"] for m in names})
            for m in names:
                self.assertEqual(metrics[m["name"]]["unit"], m["unit"])
                self.assertIsInstance(metrics[m["name"]]["value"], (int, float))

    def test_end_to_end_values(self):
        m = run.metrics_of(raw_report(), 0)
        self.assertEqual(m["setup_s"]["value"], 4.2)
        self.assertEqual(m["call_s"]["value"], 1.2)
        self.assertEqual(m["heap_live_peak_mb"]["value"], 104.5)
        self.assertEqual(m["stored_bytes_ratio"]["value"], 0.25)

    def test_harness_computes_every_named_layer_metric(self):
        src = "".join(open(os.path.join(HERE, "src", f)).read() for f in os.listdir(os.path.join(HERE, "src")))
        for name in run.PER_LAYER:
            if name.startswith("query."):
                name = "query.$q." + name.rsplit(".", 1)[1]
            self.assertIn(f'"{name}"' if "$" not in name else f's"{name}"', src, name)


if __name__ == "__main__":
    unittest.main()
