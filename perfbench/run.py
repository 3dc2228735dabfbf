#!/usr/bin/env python3
"""Run one fairyspark benchmark workload and print its result.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload kv_mixed|fs_meta|registry \
        --seed N --seconds S --trace 0|1

The first run in a checkout builds the engine and the benchmark from the
checkout's sources with sbt (offline) into .bench_build/; later runs reuse
that build while the sources are unchanged. The run itself is one JVM
(perfbench.Main). Its stdout ends with one JSON line:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
SF_DIR = os.path.join(os.path.expanduser("~"), "testdata", "sf0.01")
BUILD_TIMEOUT_S = 700  # build + first run stay under 900 s
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (the same list as the
# engine's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout.
    Returns (returncode, stdout) with returncode None on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, stdout=subprocess.PIPE, text=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return None, ""


def source_stamp():
    h = hashlib.sha256()
    for top in (ENGINE_SRC, os.path.join(BENCH, "src", "main"), os.path.join(BENCH, "build.sbt"),
                os.path.join(BENCH, "project", "build.properties")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile with sbt unless the last build saw the same sources."""
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return True
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env["SBT_OPTS"] = " ".join(
        ["-Xmx2g", "-Dsbt.offline=true", f"-Djava.io.tmpdir={BUILD}/tmp"]
        + ([f"-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
           if os.path.exists(repos) else []))
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    rc, out = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                        BUILD_TIMEOUT_S, cwd=BENCH, env=env, stderr=subprocess.STDOUT)
    if rc != 0:
        sys.stderr.write(out[-4000:] + f"\nperfbench: build failed (rc={rc})\n")
        return False
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return True


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["kv_mixed", "fs_meta", "registry"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(ENGINE_SRC):
        sys.exit(f"perfbench: engine sources not found at {ENGINE_SRC}; run from a checkout root")
    if not build():
        sys.exit(2)

    if "SPARK_HOME" not in os.environ:
        sys.exit("perfbench: SPARK_HOME is not set")
    spark_jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    classpath = os.path.join(BUILD, "sbt", "scala-2.13", "classes") + ":" + spark_jars + "/*"
    # a fixed-size heap: letting G1 resize it made runs of one seed differ
    # by up to a third in throughput
    cmd = (["java", "-Xms4g", "-Xmx4g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--cores", str(cores), "--work", work,
              "--trace-out", os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.jsonl"),
              "--oracle", os.path.join(BENCH, "registry_oracle.tsv"), "--sf-dir", SF_DIR])
    try:
        rc, out = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").split("\n")
    try:
        result = json.loads(lines[-1])
        ok = rc == 0 and set(result) == {"correct", "attempted", "failed", "metrics"}
    except ValueError:
        ok = False
    if not ok:
        sys.stderr.write(out + f"\nperfbench: run failed (rc={rc})\n")
        sys.exit(1)
    print("\n".join(lines))


if __name__ == "__main__":
    main()
