#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the engine and the benchmark from source on first use (sbt, through
perfbench/build.sbt), runs the workload in one JVM with Spark at
local[nproc], checks the outputs, and prints the metrics as a JSON object
on the last line of stdout. With --trace 0 the metrics are the end-to-end
ones; with --trace 1 the per-layer ones. The line before it holds the
sample counts, tail percentiles and per-operation medians. Exit code 0
means every output check passed.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import layers  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("slope_fit_dist", "slope_cv_serve", "corpus_pipeline")
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
DEADLINE_S = 172  # the command must end within 180 s of its start
BUILD_TIMEOUT_S = 480
ARCHIVE_TIMEOUT_S = 240
ARCHIVE = os.path.join(BUILD_DIR, "classes.jsa")
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def build_inputs():
    """Every file whose content decides the build."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise BenchError("engine sources not found next to perfbench/")
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for proj in (ROOT, HERE):
        props = os.path.join(proj, "project", "build.properties")
        if os.path.isfile(props):
            files.append(props)
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(files)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + benchmark unless the sources are unchanged since the
    last build; returns the runtime classpath and whether it built."""
    want = stamp(build_inputs())
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == want:
                with open(cp_file) as g:
                    return g.read(), False
    env = dict(os.environ, COURSIER_MODE="offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    cmd = ["sbt", "-batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
           "compile", "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                           stdout=subprocess.PIPE, stderr=sys.stderr,
                           timeout=BUILD_TIMEOUT_S, text=True)
    except (OSError, subprocess.TimeoutExpired) as e:
        raise BenchError("build failed: %s" % e)
    lines = [l.strip() for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        raise BenchError("build failed (sbt exit %d)" % p.returncode)
    shutil.rmtree(BUILD_DIR, ignore_errors=True)
    os.makedirs(BUILD_DIR)
    classpath = os.pathsep.join(jarred(lines[-1].split(os.pathsep)))
    write_archive(classpath)
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp_file, "w") as f:
        f.write(want)
    return classpath, True


def write_archive(classpath):
    """Set every workload up once in one JVM (no measured iteration) and
    write the classes it loaded to a class data sharing archive, which
    every measured run maps; it cuts JVM and Spark start-up and warm-up by
    several seconds."""
    try:
        record = run_jvm(classpath, ["--workload", "all", "--seed", "1", "--seconds", "0"],
                         time.monotonic() + ARCHIVE_TIMEOUT_S,
                         ["-XX:ArchiveClassesAtExit=" + ARCHIVE])
    except BenchError as e:
        raise BenchError("class archive run: %s" % e)
    if "error" in record or not os.path.isfile(ARCHIVE):
        raise BenchError("class archive run failed: %s" % record.get("error"))


def jarred(entries):
    """The classpath with each class directory packed into a jar: the JVM
    archives (class data sharing) only classes loaded from jars."""
    out = []
    for i, e in enumerate(entries):
        if os.path.isdir(e):
            jar = os.path.join(BUILD_DIR, "classes-%d.jar" % i)
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED, strict_timestamps=False) as z:
                for d, _, names in os.walk(e):
                    for n in sorted(names):
                        path = os.path.join(d, n)
                        z.write(path, os.path.relpath(path, e))
            e = jar
        out.append(e)
    return out


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else None
    return exe if exe and os.path.isfile(exe) else "java"


def run_jvm(classpath, args, deadline, jvm_opts=()):
    """Run perfbench.Main with `args` in a fresh work directory and return
    its run record (or raise when the JVM wrote none)."""
    work = os.path.join(BUILD_DIR, "run-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "record.json")
    cmd = ([java()] + ["--add-opens=%s=ALL-UNNAMED" % m for m in ADD_OPENS]
           + ["-Xms" + HEAP, "-Xmx" + HEAP, "-Xss16m", "-Xlog:cds=off",
              "-Djava.io.tmpdir=" + os.path.join(work, "tmp")] + list(jvm_opts)
           + ["-cp", classpath, "perfbench.Main"]
           + args + ["--work", work, "--out", out])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                            stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    try:
        proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        raise BenchError("workload did not finish in time")
    try:
        with open(out) as f:
            return json.load(f)
    except (OSError, ValueError):
        raise BenchError("JVM exited %d without a run record" % proc.returncode)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def setup_seconds(record):
    s = record["setup"]
    return s["session_s"] + stats.median(s["prepare_s"]) + s["certify_s"]


def end_to_end(record):
    iters = record["iterations"]
    return {
        "setup_s": (setup_seconds(record), "s"),
        "iter_s": (stats.median([i["wall_s"] for i in iters]), "s"),
        "cpu_s": (stats.median([i["cpu_s"] for i in iters]), "s"),
    }


def detail(record):
    """Sample counts, tail percentiles and per-operation medians."""
    iters = record.get("iterations", [])
    out = {"workload": record["workload"], "seed": record["seed"],
           "setup": record.get("setup"), "failures": [], "ops": {}}
    if iters:
        out["iter_s"] = stats.summary([i["wall_s"] for i in iters])
        out["iter_s"]["samples"] = [i["wall_s"] for i in iters]
        out["cpu_s"] = stats.summary([i["cpu_s"] for i in iters])
        out["peak_heap_mb"] = stats.summary([i["peak_heap_mb"] for i in iters])
        names = sorted({k for i in iters for k in i["ops"]})
        out["ops"] = {k: stats.summary([i["ops"][k] for i in iters if k in i["ops"]])
                      for k in names}
        out["rates"] = {k: v for k, v in layers.workload_ops(iters).items()
                        if v and k.endswith("_per_s")}
    out["failures"] = (record.get("cert_failures", [])
                       + [f for i in iters for f in i["failures"]])[:20]
    if "error" in record:
        out["error"] = record["error"]
    return out


def result(record, traced):
    """The result line: correctness, op counts and the metrics."""
    iters = record.get("iterations", [])
    cert_failed = bool(record.get("cert_failures")) or "error" in record
    attempted = 1 + sum(i["attempted"] for i in iters)  # 1 = the setup certificate
    failed = int(cert_failed) + sum(min(len(i["failures"]), i["attempted"]) for i in iters)
    metrics = {}
    if iters:
        if traced:
            metrics = {k: (v, layers.unit(k)) for k, v in layers.per_layer(record).items()}
        else:
            metrics = end_to_end(record)
    return {"correct": failed == 0 and bool(iters), "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, v, u in
                        ((k, float(v), u) for k, (v, u) in metrics.items())}}


def main(argv=None):
    start = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fault", action="store_true",
                    help="corrupt one output on purpose (tests that checks fire)")
    a = ap.parse_args(argv)
    try:
        classpath, built = build()
        # a run that had to build may take the first run's longer allowance
        deadline = (time.monotonic() if built else start) + DEADLINE_S
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
        if a.fault:
            args += ["--fault", "1"]
        record = run_jvm(classpath, args, deadline, ["-XX:SharedArchiveFile=" + ARCHIVE])
    except BenchError as e:
        sys.stderr.write("perfbench: %s\n" % e)
        return 2
    res = result(record, a.trace == 1)
    print(json.dumps({"detail": detail(record)}))
    print(json.dumps(res))
    sys.stdout.flush()
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
