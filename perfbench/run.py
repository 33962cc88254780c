#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1 [--smoke]

Run it from the repository root. The first run builds the library and the
benchmark runner from source with sbt (perfbench/build.sbt) and reuses the
build while the sources are unchanged. The runner runs in one JVM with one
local Spark session. Human-readable lines (every named metric with its unit
and sample count, the checks, the run context) come first; the last line of
standard output is the result object:

    {"correct": true, "attempted": 17, "failed": 1, "metrics": {...}}

Workloads: ledger_personal, table_curation.
Everything the run writes stays under perfbench/.work and perfbench/target.
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

WORKLOADS = ("ledger_personal", "table_curation")
BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "bench-classpath.txt")
STAMP = os.path.join(TARGET, "bench-stamp.txt")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit (as in the root build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp():
    """Hash of every input of the build, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        if os.path.isfile(r):
            files = [r]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(r)
                           for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                       " -Dsbt.server.autostart=false").strip()
    print("perfbench: building library and runner with sbt", file=sys.stderr)
    try:
        res = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "writeClasspath"],
            cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
            timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if res.returncode != 0 or not os.path.exists(CLASSPATH):
        fail(f"build failed (exit {res.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(stamp + "\n")


def run_jvm(args, work, out):
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        # a fixed heap: a heap still growing through the first rounds makes
        # their timings drift with GC sizing
        "-Xms4g", "-Xmx4g",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={local}",
        f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
        f"-Dperfbench.warehouse={os.path.join(work, 'warehouse')}",
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", os.path.join(work, "data"), "--out", out,
    ]
    if args.smoke:
        cmd.append("--smoke")
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = local
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stdout,
                            stderr=sys.stderr, start_new_session=True)
    try:
        return proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs and one round (the benchmark's own test)")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("library sources not found: run from a checkout of the repository")
    build()
    sys.stdout.flush()

    work = os.path.join(BENCH, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    t0 = time.time()
    try:
        rc = run_jvm(args, work, out)
        sys.stdout.flush()
        if rc != 0 or not os.path.exists(out):
            fail(f"runner exited with {rc}")
        with open(out) as fh:
            result = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"perfbench: run took {time.time() - t0:.1f} s", file=sys.stderr)
    print(json.dumps(result, separators=(", ", ": ")))


if __name__ == "__main__":
    main()
