#!/usr/bin/env python3
"""Run one workload of the pipeline benchmark and print its result.

    python3 perfbench/run.py --workload enrich_metro --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the benchmark (an sbt
project in this directory that compiles the engine's sources from
src/main/scala); later runs reuse the build while those sources are
unchanged. Each run starts one JVM with the engine's forked-run flag set,
prints its progress, one `name = value unit` line per metric, and as the
last line of standard output one JSON object:
{"correct", "attempted", "failed", "metrics"}.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "perfbench.stamp")
WORK = os.path.join(BENCH, "work")
ENGINE_SRC = os.path.join(ROOT, "src", "main")

BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 175

# The flag set of the engine's forked runs (build.sbt javaOptions, which
# match what spark-submit adds on JDK 17). Without
# -Djdk.reflect.useDirectMethodHandle=false wide joins run about 4x slower.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_FLAGS = [f for p in ADD_OPENS for f in ("--add-opens", p + "=ALL-UNNAMED")] + [
    "-Djdk.reflect.useDirectMethodHandle=false",
    "-Dio.netty.tryReflectionSetAccessible=true",
    "-XX:+IgnoreUnrecognizedVMOptions",
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
    "-Xmx" + os.environ.get("SPARK_DRIVER_MEM", "8g"),
]


def fail(msg, code):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for top in (ENGINE_SRC, os.path.join(BENCH, "src", "main")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.isfile(CLASSPATH) and os.path.isfile(STAMP):
        with open(STAMP) as fh:
            if fh.read() == stamp:
                return
    print("[perfbench] building (sbt writeClasspath) ...", flush=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.override.build.repos=true", "-Dsbt.offline=true",
           "writeClasspath"]
    t0 = time.time()
    try:
        r = subprocess.run(cmd, cwd=BENCH, env=env, stdout=sys.stderr,
                           stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out", 3)
    if r.returncode != 0 or not os.path.isfile(CLASSPATH):
        fail("build failed", 3)
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    print("[perfbench] built in %.1f s" % (time.time() - t0), flush=True)


def cores():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(4, n))


def declared(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["enrich_metro", "corpus_gram"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        fail("no engine sources at src/main/scala/graft; run from the root "
             "of a full checkout", 2)
    build()
    with open(CLASSPATH) as fh:
        classpath = fh.read().strip()

    run_dir = os.path.join(WORK, "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    trace_out = os.path.join(WORK, "traces", "%s-seed%d.json" % (a.workload, a.seed))
    result_file = os.path.join(run_dir, "result.json")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    n = cores()
    cmd = (["java"] + JVM_FLAGS + ["-Djava.io.tmpdir=" + tmp, "-cp", classpath,
           "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--work", run_dir, "--result", result_file, "--trace-out", trace_out,
           "--cores", str(n), "--launch-ms", str(int(time.time() * 1000))])
    print("[perfbench] local[%d], java %s" % (n, " ".join(JVM_FLAGS)), flush=True)
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True)
    deadline = time.time() + RUN_TIMEOUT_S
    try:
        for line in proc.stdout:
            print(line.rstrip("\n"), flush=True)
            if time.time() > deadline:
                break
        proc.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        pass
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
            shutil.rmtree(run_dir, ignore_errors=True)
            fail("run exceeded %d s" % RUN_TIMEOUT_S, 5)
    try:
        with open(result_file) as fh:
            res = json.load(fh)
    except (OSError, ValueError):
        res = None
    shutil.rmtree(run_dir, ignore_errors=True)
    if proc.returncode != 0 or res is None:
        fail("benchmark process exited with %d" % proc.returncode, 4)

    metrics = res["metrics"]
    want = declared(a.trace)
    got = {k: v["unit"] for k, v in metrics.items()}
    if got != want:
        fail("metrics differ from BENCHMARK.json: %s" % sorted(
            set(got.items()) ^ set(want.items())), 6)
    for k, v in metrics.items():
        print("[perfbench] %-45s = %s %s" % (k, v["value"], v["unit"]))
    print("[perfbench] fail_ratio = %.4f (%d of %d passes failed, %d timed samples)"
          % (res["failed"] / res["attempted"], res["failed"], res["attempted"],
             res["samples"]))
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}), flush=True)


if __name__ == "__main__":
    main()
