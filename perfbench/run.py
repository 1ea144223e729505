#!/usr/bin/env python3
"""Run one workload of the benchmark and print its metrics.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload zoom_etl --seed 1 --seconds 12 --trace 0

Builds the program from this checkout's sources together with the
benchmark (perfbench/build.sbt, rebuilt only when a source changes),
then runs the workload in one JVM with Spark as local[nproc/2]. The last
line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}; --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones. Lines before it are a
human-readable report (tail percentiles with their sample counts,
fail_ratio, per-operation medians). Exits non-zero when the build fails,
an operation fails or a correctness check finds a mismatch.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(TARGET, "bench.classpath")
STAMP_FILE = os.path.join(TARGET, "bench.stamp")
WORKLOADS = ("zoom_etl", "fact_sql")
RUN_LIMIT_S = 170
HEAP = "1536m"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(HERE, "src"),
             os.path.join(HERE, "resources")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH_FILE) and os.path.exists(STAMP_FILE):
        with open(STAMP_FILE) as fh:
            if fh.read().strip() == stamp:
                return
    log("building program and benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "-Dsbt.server.autostart=false", "compile", "writeClasspath"],
        cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
        stdin=subprocess.DEVNULL)
    if r.returncode != 0:
        sys.exit(f"perfbench: build failed (sbt exit {r.returncode})")
    with open(STAMP_FILE, "w") as fh:
        fh.write(stamp)
    log(f"build took {time.time() - t0:.1f} s")


def spark_threads():
    """Half the cores this process may run on: the driver thread, the
    JVM's GC and JIT threads and the host's other tenants keep the rest,
    so a slow core delays fewer of a job's tasks."""
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, n // 2)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(PROGRAM_SRC):
        sys.exit(f"perfbench: no program sources at {PROGRAM_SRC}; "
                 "run from the root of a full checkout")
    build()
    with open(CLASSPATH_FILE) as fh:
        cp = fh.read().strip()
    if a.trace:
        cp = os.path.join(HERE, "trace-conf") + os.pathsep + cp

    work = os.path.join(HERE, "work", f"{a.workload}-{os.getpid()}")
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # a fixed heap, so GC sizing does not drift within a run
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={local}",
            f"-Dspark.local.dir={local}", "-Dspark.ui.enabled=false",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", os.path.join(work, "data"),
            "--spawn-ms", str(int(time.time() * 1000)),
            "--cores", str(spark_threads())]
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True)
    result = None
    timer = threading.Timer(RUN_LIMIT_S, proc.kill)
    timer.start()
    try:
        for line in proc.stdout:
            if line.startswith("RESULT "):
                result = line[len("RESULT "):].strip()
            else:
                sys.stdout.write(line)
        code = proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if code < 0:
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(f"perfbench: run killed after {RUN_LIMIT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    if result is None:
        sys.exit(f"perfbench: no result (JVM exit {code})")
    print(result, flush=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
