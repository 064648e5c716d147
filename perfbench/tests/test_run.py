import io
import os
import sys
import unittest
from contextlib import redirect_stdout
from unittest import mock

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import run  # noqa: E402


def record(failures=(), cert_failures=()):
    it = {"k": 0, "traced": False, "wall_s": 2.0, "cpu_s": 5.0, "gc_s": 0.1,
          "peak_heap_mb": 100.0, "ops": {"fit_gaussian_s": 1.0, "fit_binomial_s": 1.0},
          "attempted": 2, "failures": list(failures), "counts": {}}
    return {"workload": "slope_fit_dist", "seed": 1, "nproc": 4,
            "setup": {"session_s": 3.0, "prepare_s": [4.0, 1.0, 2.0], "certify_s": 5.0},
            "cert_failures": list(cert_failures), "iterations": [it, dict(it, k=1, wall_s=4.0)]}


class ResultTest(unittest.TestCase):
    def test_passing_run(self):
        res = run.result(record(), traced=False)
        self.assertTrue(res["correct"])
        self.assertEqual((res["attempted"], res["failed"]), (5, 0))
        m = res["metrics"]
        self.assertEqual(set(m), {"setup_s", "iter_s", "cpu_s"})
        self.assertEqual(m["setup_s"], {"value": 10.0, "unit": "s"})  # 3 + median(4,1,2) + 5
        self.assertEqual(m["iter_s"]["value"], 3.0)

    def test_failed_checks_count_and_flip_correct(self):
        res = run.result(record(failures=["a", "b", "c"]), traced=False)
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], 4)  # at most the ops attempted, per iteration
        res = run.result(record(cert_failures=["certificate"]), traced=False)
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], 1)

    def test_main_exits_nonzero_when_a_check_fails(self):
        argv = ["--workload", "slope_fit_dist", "--seed", "1", "--seconds", "1"]
        for rec, code in ((record(), 0), (record(failures=["x"]), 1)):
            out = io.StringIO()
            with mock.patch.object(run, "build", return_value=("cp", False)), \
                    mock.patch.object(run, "run_jvm", return_value=rec), redirect_stdout(out):
                self.assertEqual(run.main(argv), code)
            last = out.getvalue().splitlines()[-1]
            self.assertEqual(set(run.json.loads(last)), {"correct", "attempted", "failed", "metrics"})

    def test_missing_engine_sources_fail_without_result(self):
        out = io.StringIO()
        with mock.patch.object(run, "ROOT", "/nonexistent"), redirect_stdout(out), \
                mock.patch("sys.stderr", io.StringIO()):
            self.assertEqual(run.main(["--workload", "slope_fit_dist", "--seed", "1",
                                       "--seconds", "1"]), 2)
        self.assertEqual(out.getvalue(), "")


if __name__ == "__main__":
    unittest.main()
