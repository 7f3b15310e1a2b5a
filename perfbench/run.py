#!/usr/bin/env python3
"""Benchmark entry point for the nelspark ER engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and the harness from
source with sbt when either changed (perfbench/build.sbt), runs one
workload in one JVM on at most four local cores, and prints as its last
line one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 the per-layer ones; a traced run also prints the
per-layer table and keeps its spans under .bench_work/traces/.
Exits non-zero without a result when the build, the run or the result
is incomplete.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("er_batch_hot", "er_incremental")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, in a stable order."""
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += sorted(glob.glob(os.path.join(base, "**", "*.*"), recursive=True))
    return [f for f in files if os.path.isfile(f)]


def spark_home():
    """SPARK_HOME, or the first PATH entry <home>/bin that holds
    spark-submit next to a <home>/jars directory."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        if os.path.isfile(os.path.join(d, "spark-submit")):
            homes.append(os.path.dirname(os.path.abspath(d)))
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    fail("no Spark installation found: set SPARK_HOME")


def build():
    main_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main_src):
        fail("engine sources not found at src/main/scala; run from a full checkout")
    digest = hashlib.sha256()
    for f in sources():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(hashlib.sha256(fh.read()).digest())
    stamp = os.path.join(HERE, "target", "bench-stamp")
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    if os.path.isfile(stamp) and os.path.isdir(classes):
        with open(stamp) as fh:
            if fh.read() == digest.hexdigest():
                return classes
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    cmd = [sbt, "--batch", "-Dsbt.log.noformat=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        cmd += ["-Dsbt.override.build.repos=true",
                "-Dsbt.repository.config=" + repos, "-Dsbt.offline=true"]
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    t0 = time.time()
    proc = subprocess.run(cmd + ["compile"], cwd=HERE, env=env,
                          stdout=sys.stderr, stderr=sys.stderr,
                          timeout=BUILD_LIMIT_S)
    if proc.returncode != 0:
        fail("build failed")
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    print("perfbench: built in %.1f s" % (time.time() - t0), file=sys.stderr)
    return classes


def run_jvm(classes, args, work, out, deadline):
    java = shutil.which("java")
    if java is None:
        fail("java not found on PATH")
    spark_jars = os.path.join(spark_home(), "jars", "*")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, "-Xmx" + JVM_HEAP, "-XX:+UseParallelGC",
           "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + spark_jars, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out]
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep its
    # scratch files inside the work directory either way
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=work, env=env, start_new_session=True,
                            stdout=sys.stdout, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("run exceeded its time limit")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    if code != 0:
        fail("benchmark JVM exited with code %d" % code)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")
    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(bench_json):
        fail("BENCHMARK.json not found at the checkout root")
    with open(bench_json) as fh:
        spec = json.load(fh)

    classes = build()
    deadline = time.time() + RUN_LIMIT_S
    work_root = os.path.join(ROOT, ".bench_work")
    work = os.path.join(work_root, "run-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    try:
        run_jvm(classes, args, work, out, deadline)
        if not os.path.isfile(out):
            fail("benchmark JVM wrote no result")
        with open(out) as fh:
            res = json.load(fh)
        for spans in glob.glob(os.path.join(work, "spans-*.json")):
            traces = os.path.join(work_root, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.move(spans, os.path.join(traces, os.path.basename(spans)))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    section = "per_layer" if args.trace else "end_to_end"
    measured = res[section]
    wanted = {m["name"]: m["unit"] for m in spec[section]}
    unknown = sorted(set(measured) - set(wanted))
    if unknown:
        fail("metrics missing from BENCHMARK.json: %s" % ", ".join(unknown), 3)
    metrics = {}
    for name, unit in wanted.items():
        value = measured.get(name)
        if value is None and section == "end_to_end":
            fail("end-to-end metric %s was not measured" % name, 3)
        # a per-layer metric of a layer this workload never calls reads 0
        metrics[name] = {"value": 0.0 if value is None else value, "unit": unit}
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
