"""BENCHMARK.json names exactly the metrics and workloads run.py reports."""
import json
import os
import unittest

import run

HERE = os.path.dirname(os.path.abspath(__file__))


class BenchmarkJson(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as fh:
            self.bench = json.load(fh)

    def test_metrics_match_the_runner(self):
        self.assertEqual([(m["name"], m["unit"]) for m in self.bench["end_to_end"]],
                         run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in self.bench["per_layer"]],
                         run.PER_LAYER)

    def test_workloads_match_the_runner(self):
        self.assertEqual(sorted(w["name"] for w in self.bench["workloads"]),
                         sorted(run.WORKLOADS))

    def test_setup_has_the_largest_bound(self):
        bounds = {m["name"]: m["bound"] for m in self.bench["end_to_end"]}
        self.assertEqual(max(bounds.values()), bounds["setup_s"])
        self.assertLessEqual(max(bounds.values()), 0.25)


if __name__ == "__main__":
    unittest.main()
