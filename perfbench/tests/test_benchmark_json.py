import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import layers  # noqa: E402
import run  # noqa: E402
from tests.test_run import record  # noqa: E402


class BenchmarkJsonTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def test_workloads_match_the_runner(self):
        self.assertEqual([w["name"] for w in self.spec["workloads"]], list(run.WORKLOADS))

    def test_end_to_end_metrics_match_the_untraced_result(self):
        metrics = run.result(record(), traced=False)["metrics"]
        self.assertEqual({m["name"]: m["unit"] for m in self.spec["end_to_end"]},
                         {k: v["unit"] for k, v in metrics.items()})

    def test_per_layer_metrics_match_the_traced_result(self):
        self.assertEqual([(m["name"], m["unit"]) for m in self.spec["per_layer"]],
                         [(m, layers.unit(m)) for m in layers.METRICS])


if __name__ == "__main__":
    unittest.main()
