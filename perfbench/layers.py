"""Per-layer metrics from a traced run.

The JVM side records spans (name, start, end, parent, op id, attributes)
around every call the benchmark makes into an engine module, plus Spark
jobs, per-stage task totals, cached RDD blocks and code generator events.
This module attributes jobs to spans and reduces everything to
per-iteration numbers for each layer.
"""

from stats import median

NS = 1e9

# Stages of graft.slope's DistributedBackend carry its call sites
# ("treeAggregate at Backend.scala:355"); LocalBackend runs no Spark jobs.
BACKEND_CALL_SITE = " at Backend.scala:"

# Layer metric names, in report order. Metrics of a layer a workload does
# not exercise read 0.
OP_STAGES = ["quality", "exact_dedup", "minhash", "clusters", "pack"]
OP_FIELDS = ["rows_in", "rows_out", "shuffle_write_bytes", "spill_bytes", "task_skew"]
WORKLOAD_OPS = ["fit_gaussian_s", "fit_binomial_s", "cv_s", "score_rows_per_s", "docs_per_s"]

METRICS = (
    ["slope.fit_self_s", "slope.passes", "slope.passes_per_step", "slope.active_max"]
    + ["backend.jobs", "backend.jobs_per_pass", "backend.cluster_s",
       "backend.job_overhead_s", "backend.task_cpu_s", "backend.task_gc_s",
       "backend.result_bytes", "backend.cache_bytes"]
    + ["cv.jobs", "cv.self_s", "cv.core_util"]
    + ["serve.predict_s", "serve.score_s", "serve.task_cpu_s",
       "serve.codegen_failures", "serve.codegen_compile_s", "serve.coef_at_us"]
    + [m for s in OP_STAGES for m in ["op.%s_s" % s] + ["op.%s.%s" % (s, f) for f in OP_FIELDS]]
    + ["fn.quality_task_cpu_s", "fn.pack_task_cpu_s"]
    + ["src.read_s", "src.write_s", "src.bytes_written"]
    + ["spark.jobs", "spark.stages", "spark.tasks", "spark.scheduler_delay_s",
       "spark.shuffle_fetch_wait_s", "jvm.gc_s", "jvm.peak_heap_mb"]
    + WORKLOAD_OPS
    + ["trace.overhead_pct"]
)

UNITS = {
    "passes": "count", "passes_per_step": "ratio", "active_max": "count",
    "jobs": "count", "jobs_per_pass": "ratio", "core_util": "ratio",
    "codegen_failures": "count", "coef_at_us": "us", "rows_in": "rows",
    "rows_out": "rows", "task_skew": "ratio", "stages": "count", "tasks": "count",
    "peak_heap_mb": "MB", "score_rows_per_s": "rows/s", "docs_per_s": "docs/s",
    "overhead_pct": "%", "bytes_written": "bytes",
}


def unit(name):
    last = name.rsplit(".", 1)[-1]
    if last in UNITS:
        return UNITS[last]
    if last.endswith("_bytes"):
        return "bytes"
    if last.endswith("_s"):
        return "s"
    return "count"


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0
    cur_start = cur_end = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clip(interval, within):
    return (max(interval[0], within[0]), min(interval[1], within[1]))


def self_time(span, children, jobs):
    """A span's duration minus the part of it covered by its child spans
    and by the Spark jobs it started directly (all in the same unit)."""
    own = (span["start_ns"], span["end_ns"])
    covered = [clip(c, own) for c in children] + [clip(j, own) for j in jobs]
    return (own[1] - own[0]) - union_length(covered)


class Trace:
    """Spans with their jobs attributed: by the span id the job carried,
    or else to the deepest span whose interval holds the job's start."""

    def __init__(self, trace):
        self.spans = {s["id"]: s for s in trace["spans"]}
        self.children = {i: [] for i in self.spans}
        for s in self.spans.values():
            if s["parent"] in self.children:
                self.children[s["parent"]].append(s["id"])
        spark = trace["spark"]
        self.stages = spark["stages"]
        self.blocks = spark["cached_blocks"]
        self.codegen = trace["codegen"]
        self.jobs = []
        owner = {}  # a stage counts toward the first job that lists it
        for j in sorted(spark["jobs"], key=lambda j: j["id"]):
            span = self._owner(j)
            if span is None:
                continue
            stages = [str(s) for s in j["stages"] if str(s) in self.stages and str(s) not in owner]
            for s in stages:
                owner[s] = j["id"]
            self.jobs.append(dict(j, span_id=span, start_ns=j["start_ms"] * 1e6,
                                  end_ns=j["end_ms"] * 1e6, own_stages=stages))
        self.direct = {i: [] for i in self.spans}
        for j in self.jobs:
            self.direct[j["span_id"]].append(j)

    def _owner(self, job):
        sid = job.get("span")
        if sid is not None and int(sid) in self.spans:
            return int(sid)
        t = job["start_ms"] * 1e6
        covering = [s for s in self.spans.values() if s["start_ns"] <= t <= s["end_ns"]]
        if not covering:
            return None
        return max(covering, key=self.depth)["id"]

    def depth(self, span):
        d = 0
        while span["parent"] in self.spans:
            span = self.spans[span["parent"]]
            d += 1
        return d

    def named(self, name, **attrs):
        return [s for s in self.spans.values() if s["name"] == name
                and all(s["attrs"].get(k) == v for k, v in attrs.items())]

    def descendants(self, span_id):
        out, todo = [], [span_id]
        while todo:
            i = todo.pop()
            out.append(i)
            todo.extend(self.children[i])
        return out

    def jobs_under(self, spans):
        ids = {d for s in spans for d in self.descendants(s["id"])}
        return [j for j in self.jobs if j["span_id"] in ids]

    def backend_jobs(self, spans=None):
        """Jobs of the distributed SLOPE backend, told by their call sites,
        under `spans` (default: anywhere)."""
        jobs = self.jobs if spans is None else self.jobs_under(spans)
        return [j for j in jobs if is_backend_job(j)]

    def self_time(self, span):
        kids = [(self.spans[c]["start_ns"], self.spans[c]["end_ns"]) for c in self.children[span["id"]]]
        jobs = [(j["start_ns"], j["end_ns"]) for j in self.direct[span["id"]]]
        return self_time(span, kids, jobs)

    def stage_sum(self, jobs, field):
        return sum(self.stages[s][field] for j in jobs for s in j["own_stages"])

    def task_durations(self, jobs):
        return [d for j in jobs for s in j["own_stages"] for d in self.stages[s]["durations_ms"]]

    def job_overhead_ns(self, job):
        longest = max((d for s in job["own_stages"] for d in self.stages[s]["durations_ms"]), default=0)
        return max(0.0, job["end_ns"] - job["start_ns"] - longest * 1e6)

    def in_spans(self, times_ms, spans):
        return [t for t in times_ms
                if any(s["start_ns"] <= t * 1e6 <= s["end_ns"] for s in spans)]


def is_backend_job(job):
    return any(BACKEND_CALL_SITE in c for c in job.get("call_sites", []))


def dur(spans):
    return sum(s["end_ns"] - s["start_ns"] for s in spans) / NS


def attr_sum(spans, key):
    return sum(s["attrs"].get(key, 0) for s in spans)


def ratio(a, b):
    return a / b if b else 0.0


def per_layer(record):
    """Per-iteration layer metrics of the traced iterations of a run."""
    iters = record["iterations"]
    traced = [i for i in iters if i["traced"]]
    plain = [i for i in iters if not i["traced"]]
    n = len(traced)
    out = {m: 0.0 for m in METRICS}
    if not n:
        return out
    t = Trace(record["trace"])
    nproc = record["nproc"]

    fits = t.named("slope.fit")
    cv = t.named("cv.trainSlope")
    solved = fits + cv
    out["slope.fit_self_s"] = sum(t.self_time(s) for s in fits) / NS / n
    out["slope.passes"] = attr_sum(solved, "passes") / n
    out["slope.passes_per_step"] = ratio(attr_sum(solved, "passes"), attr_sum(solved, "steps"))
    out["slope.active_max"] = max((s["attrs"].get("active_max", 0) for s in solved), default=0)

    bj = t.backend_jobs()
    out["backend.jobs"] = len(bj) / n
    # FISTA passes are backend passes; the gaussian ADMM passes run on the driver
    fista = [s for s in solved if s["attrs"].get("family") != "gaussian" and t.backend_jobs([s])]
    out["backend.jobs_per_pass"] = ratio(len(t.backend_jobs(fista)), attr_sum(fista, "passes"))
    out["backend.cluster_s"] = union_length([(j["start_ns"], j["end_ns"]) for j in bj]) / NS / n
    out["backend.job_overhead_s"] = sum(t.job_overhead_ns(j) for j in bj) / NS / n
    out["backend.task_cpu_s"] = t.stage_sum(bj, "cpu_ns") / NS / n
    out["backend.task_gc_s"] = t.stage_sum(bj, "gc_ms") / 1e3 / n
    out["backend.result_bytes"] = t.stage_sum(bj, "result_bytes") / n
    # the backend caches its training rows inside the span that runs it
    owners = [t.spans[i] for i in {j["span_id"] for j in bj}]
    out["backend.cache_bytes"] = sum(
        b["bytes"] for b in t.blocks
        if any(s["start_ns"] <= b["time_ms"] * 1e6 <= s["end_ns"] for s in owners)) / n

    out["cv.jobs"] = len(t.jobs_under(cv)) / n
    out["cv.self_s"] = sum(t.self_time(s) for s in cv) / NS / n
    out["cv.core_util"] = ratio(attr_sum(cv, "process_cpu_ns") / NS, dur(cv) * nproc)

    serve = t.named("serve.predictions") + t.named("serve.scoreMany")
    out["serve.predict_s"] = dur(t.named("serve.predictions")) / n
    out["serve.score_s"] = dur(t.named("serve.scoreMany")) / n
    out["serve.task_cpu_s"] = t.stage_sum(t.jobs_under(serve), "cpu_ns") / NS / n
    out["serve.codegen_failures"] = len(t.in_spans(t.codegen["failures_ms"], serve)) / n
    out["serve.codegen_compile_s"] = attr_sum(serve, "codegen_compile_ms") / 1e3 / n
    out["serve.coef_at_us"] = dur(t.named("serve.coefAt")) * 1e6 / n

    for stage in OP_STAGES:
        spans = t.named("op." + stage)
        jobs = t.jobs_under(spans)
        tasks = t.task_durations(jobs)
        pre = "op.%s." % stage
        out["op.%s_s" % stage] = dur(spans) / n
        out[pre + "rows_in"] = attr_sum(spans, "rows_in") / n
        out[pre + "rows_out"] = attr_sum(spans, "rows_out") / n
        out[pre + "shuffle_write_bytes"] = t.stage_sum(jobs, "shuffle_write_bytes") / n
        out[pre + "spill_bytes"] = t.stage_sum(jobs, "spill_bytes") / n
        out[pre + "task_skew"] = ratio(max(tasks), median(tasks)) if tasks else 0.0
    out["fn.quality_task_cpu_s"] = t.stage_sum(t.jobs_under(t.named("op.quality")), "cpu_ns") / NS / n
    out["fn.pack_task_cpu_s"] = t.stage_sum(t.jobs_under(t.named("op.pack")), "cpu_ns") / NS / n

    out["src.read_s"] = dur(t.named("src.read")) / n
    out["src.write_s"] = dur(t.named("src.write")) / n
    out["src.bytes_written"] = attr_sum(t.named("src.write"), "bytes") / n

    every = t.jobs_under(t.named("iteration"))
    out["spark.jobs"] = len(every) / n
    out["spark.stages"] = sum(len(j["own_stages"]) for j in every) / n
    out["spark.tasks"] = t.stage_sum(every, "tasks") / n
    out["spark.scheduler_delay_s"] = t.stage_sum(every, "scheduler_delay_ms") / 1e3 / n
    out["spark.shuffle_fetch_wait_s"] = t.stage_sum(every, "fetch_wait_ms") / 1e3 / n
    out["jvm.gc_s"] = sum(i["gc_s"] for i in traced) / n
    out["jvm.peak_heap_mb"] = median([i["peak_heap_mb"] for i in traced])

    out.update(workload_ops(traced))
    if plain:
        base = median([i["wall_s"] for i in plain])
        out["trace.overhead_pct"] = 100.0 * (median([i["wall_s"] for i in traced]) / base - 1.0)
    return out


def workload_ops(iters):
    """Median per-operation timings of the workload's own operations."""
    ops = {}
    for name in ("fit_gaussian_s", "fit_binomial_s", "cv_s"):
        vals = [i["ops"][name] for i in iters if name in i["ops"]]
        ops[name] = median(vals) if vals else 0.0
    served = [i["counts"]["score_rows"] / (i["ops"]["predict_s"] + i["ops"]["score_s"])
              for i in iters if "predict_s" in i["ops"]]
    ops["score_rows_per_s"] = median(served) if served else 0.0
    docs = [i["counts"]["docs"] / i["ops"]["pipeline_s"] for i in iters if "pipeline_s" in i["ops"]]
    ops["docs_per_s"] = median(docs) if docs else 0.0
    return ops
