"""Tests that run the benchmark's JVM side (they build it first)."""

import os
import sys
import time
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import run  # noqa: E402


class JvmTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.classpath, _ = run.build()

    def jvm(self, *args):
        return run.run_jvm(self.classpath, list(args), time.monotonic() + 170)

    def digest(self, workload, seed):
        rec = self.jvm("--workload", workload, "--seed", str(seed), "--seconds", "0",
                       "--digest", "1")
        return rec["digest"]

    def test_generators_are_deterministic_in_the_seed(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                first = self.digest(w, 11)
                self.assertEqual(first, self.digest(w, 11))
                self.assertNotEqual(first, self.digest(w, 12))

    def test_corrupted_output_fails_the_checks(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                rec = self.jvm("--workload", w, "--seed", "3", "--seconds", "1", "--fault", "1")
                res = run.result(rec, traced=False)
                self.assertFalse(res["correct"])
                self.assertGreater(res["failed"], 0)


if __name__ == "__main__":
    unittest.main()
