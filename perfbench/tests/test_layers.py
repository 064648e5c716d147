import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import layers  # noqa: E402

MS = 1000000  # ns per ms


def span(i, name, start_ms, end_ms, parent=0, **attrs):
    return {"id": i, "name": name, "parent": parent, "op": 1,
            "start_ns": start_ms * MS, "end_ns": end_ms * MS, "attrs": attrs}


def stage(cpu_ms, durations):
    return {"tasks": len(durations), "cpu_ns": cpu_ms * MS,
            "gc_ms": 1, "scheduler_delay_ms": 2, "fetch_wait_ms": 0,
            "shuffle_write_bytes": 100, "spill_bytes": 0, "result_bytes": 10,
            "durations_ms": durations}


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_skips_empty(self):
        self.assertEqual(layers.union_length([(0, 10), (5, 15), (20, 25), (30, 30)]), 20)
        self.assertEqual(layers.union_length([]), 0)

    def test_self_time_subtracts_children_and_jobs_once(self):
        sp = {"start_ns": 0, "end_ns": 100}
        # child 10-40 and job 30-50 overlap; job 90-120 is clipped to the span
        self.assertEqual(layers.self_time(sp, [(10, 40)], [(30, 50), (90, 120)]), 50)

    def test_self_time_without_children_is_duration(self):
        self.assertEqual(layers.self_time({"start_ns": 5, "end_ns": 25}, [], []), 20)


class TraceTest(unittest.TestCase):
    TREE = ["treeAggregate at Backend.scala:461"]

    def trace(self):
        spans = [span(1, "iteration", 0, 1000),
                 span(2, "slope.fit", 0, 600, parent=1, family="binomial",
                      passes=10, steps=5, active_max=7),
                 span(3, "serve.predictions", 600, 1000, parent=1)]
        jobs = [
            {"id": 0, "start_ms": 100, "end_ms": 200, "span": "2", "stages": [0],
             "call_sites": self.TREE},
            # lost its property: attributed by time to the innermost span
            {"id": 1, "start_ms": 300, "end_ms": 500, "span": None, "stages": [1],
             "call_sites": self.TREE},
            {"id": 2, "start_ms": 700, "end_ms": 900, "span": "3", "stages": [2, 1],
             "call_sites": ["save at Serving.scala:10"]},
        ]
        stages = {"0": stage(50, [40, 60]), "1": stage(80, [100, 20]), "2": stage(30, [10])}
        return {"spans": spans,
                "spark": {"jobs": jobs, "stages": stages,
                          "cached_blocks": [{"time_ms": 150, "bytes": 4096}]},
                "codegen": {"failures_ms": [800]}}

    def record(self, trace):
        return {"nproc": 4, "trace": trace, "iterations": [
            {"traced": False, "wall_s": 1.0, "cpu_s": 1.0, "gc_s": 0.0,
             "peak_heap_mb": 10.0, "ops": {}, "counts": {}},
            {"traced": True, "wall_s": 1.1, "cpu_s": 1.0, "gc_s": 0.5,
             "peak_heap_mb": 10.0, "ops": {"fit_binomial_s": 0.6}, "counts": {}}]}

    def test_jobs_attributed_by_property_then_time(self):
        t = layers.Trace(self.trace())
        self.assertEqual([j["span_id"] for j in t.jobs], [2, 2, 3])
        # stage 1 ran in job 1; job 2 only lists it
        self.assertEqual(t.jobs[2]["own_stages"], ["2"])

    def test_span_self_time_excludes_jobs(self):
        t = layers.Trace(self.trace())
        fit = t.spans[2]
        self.assertEqual(t.self_time(fit), 300 * MS)
        # the iteration's children cover it entirely
        self.assertEqual(t.self_time(t.spans[1]), 0)

    def test_per_layer_metrics(self):
        out = layers.per_layer(self.record(self.trace()))
        self.assertEqual(set(out), set(layers.METRICS))
        self.assertEqual(out["backend.jobs"], 2)
        self.assertEqual(out["backend.jobs_per_pass"], 0.2)
        self.assertAlmostEqual(out["backend.cluster_s"], 0.3)
        self.assertAlmostEqual(out["slope.fit_self_s"], 0.3)
        self.assertAlmostEqual(out["backend.task_cpu_s"], 0.13)
        self.assertEqual(out["backend.cache_bytes"], 4096)
        # job 0 wall 100 ms, longest task 60 ms; job 1 wall 200, longest 100
        self.assertAlmostEqual(out["backend.job_overhead_s"], 0.14)
        self.assertEqual(out["serve.codegen_failures"], 1)
        self.assertAlmostEqual(out["serve.predict_s"], 0.4)
        self.assertEqual(out["spark.jobs"], 3)
        self.assertEqual(out["fit_binomial_s"], 0.6)
        self.assertAlmostEqual(out["trace.overhead_pct"], 10.0)
        self.assertEqual(out["cv.jobs"], 0)

    def test_backend_jobs_follow_call_sites_not_span_names(self):
        trace = self.trace()
        # the same jobs under a CV span still count as backend work ...
        trace["spans"][1]["name"] = "cv.trainSlope"
        out = layers.per_layer(self.record(trace))
        self.assertEqual(out["backend.jobs"], 2)
        self.assertEqual(out["cv.jobs"], 2)
        # ... and jobs from elsewhere never do, whatever span ran them
        for j in trace["spark"]["jobs"]:
            j["call_sites"] = ["collect at Slope.scala:300"]
        out = layers.per_layer(self.record(trace))
        self.assertEqual(out["backend.jobs"], 0)
        self.assertEqual(out["backend.cache_bytes"], 0)


if __name__ == "__main__":
    unittest.main()
