#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload search|upsert --seed N \
        --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
benchmark with sbt (offline, from source); later runs reuse the build
until a source or build file changes. The JVM is sized from the machine:
heap = MemTotal / 2 clamped to 2-8 GB, Spark at local[nproc]. Refuses to
start when any SPARK_GRAFT_* variable other than SPARK_GRAFT_CPUS (which
it sets to nproc) is set, since those change engine behaviour.

Everything but the result goes to stderr. The last stdout line is the
result, {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1. The line
before it is a detail object (per-workload latencies with sample counts
and percentile levels, set-up stage rates, the effective Spark conf, the
io probe) for diagnosis.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "build.stamp")
WORKLOADS = ("search", "upsert")
MAIN = "graft.perfbench.Main"
FIRST_RUN_BUDGET_S = 900
RUN_BUDGET_S = 180
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


def fail(code, msg):
    log(msg)
    sys.exit(code)


def build_inputs():
    """Every file whose change needs a rebuild, relative to the root."""
    files = []
    for top in ("src/main", "project", "perfbench/src/main", "perfbench/project"):
        base = os.path.join(ROOT, top)
        for d, subdirs, names in os.walk(base):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    files += [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    return [f for f in files if os.path.isfile(f)]


def fingerprint():
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure_built(deadline):
    """Builds with sbt unless the stamp matches; returns the classpath."""
    fp = fingerprint()
    if os.path.isfile(STAMP) and os.path.isfile(CLASSPATH):
        with open(STAMP) as fh:
            if fh.read().strip() == fp:
                with open(CLASSPATH) as fh:
                    return fh.read().strip()
    log("building engine and benchmark with sbt")
    cmd = ["sbt", "-batch", "-Dsbt.server.forcestart=false", "writeClasspath"]
    proc = subprocess.Popen(cmd, cwd=HERE, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    if wait(proc, deadline - time.monotonic()) != 0 or not os.path.isfile(CLASSPATH):
        fail(4, "build failed")
    with open(STAMP, "w") as fh:
        fh.write(fp + "\n")
    with open(CLASSPATH) as fh:
        return fh.read().strip()


def wait(proc, timeout_s):
    """Waits for `proc`; on timeout kills its process group. Returns the exit
    code (None after a kill)."""
    try:
        return proc.wait(timeout=max(1.0, timeout_s))
    except subprocess.TimeoutExpired:
        log(f"timed out after {timeout_s:.0f} s; stopping it")
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        return None


def heap_gb():
    """MemTotal / 2 in whole GB, clamped to 2..8."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return max(2, min(8, int(line.split()[1]) // 2097152))
    except OSError:
        pass
    return 2


def cores():
    """What `nproc` reports: the CPUs this process may run on."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    t_start = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if args.seconds < 1:
        fail(2, "--seconds must be at least 1")

    # the runner sets SPARK_GRAFT_CPUS itself (to nproc, as tier-1 does);
    # any other engine override is refused
    stray = sorted(k for k in os.environ
                   if k.startswith("SPARK_GRAFT_") and k != "SPARK_GRAFT_CPUS")
    if stray:
        fail(2, "refusing to run with engine overrides set: " + ", ".join(stray))
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(3, f"engine sources not found under {ROOT}")

    first = not os.path.isfile(STAMP)
    deadline = t_start + (FIRST_RUN_BUDGET_S if first else RUN_BUDGET_S) - 10
    classpath = ensure_built(deadline)

    work = os.path.join(ROOT, ".bench_build", "perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    heap, ncores = heap_gb(), cores()
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Xmx{heap}g",
        # the engine's latency setting for its forked runs (build.sbt)
        "-XX:MaxGCPauseMillis=50",
        "-Dspark.ui.enabled=false",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", classpath, MAIN,
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--cores", str(ncores), "--heap-gb", str(heap),
    ]
    log(f"{args.workload} seed={args.seed} seconds={args.seconds} "
        f"trace={args.trace} local[{ncores}] heap={heap}g")
    env = {k: v for k, v in os.environ.items() if k != "SPARK_EXECUTOR_DIRS"}
    env["SPARK_GRAFT_CPUS"] = str(ncores)
    # Spark prefers this variable over spark.local.dir; keep its scratch
    # files in the run's directory
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    try:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr,
                                stderr=sys.stderr, stdin=subprocess.DEVNULL,
                                start_new_session=True)
        code = wait(proc, deadline - time.monotonic())
        result_path = os.path.join(work, "result.json")
        if code != 0 or not os.path.isfile(result_path):
            fail(5, f"benchmark process failed (exit {code})")
        with open(result_path) as fh:
            result = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    detail = result.pop("detail")
    detail["wall_s"] = time.monotonic() - t_start
    print(json.dumps({"detail": detail}, sort_keys=True))
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}),
          flush=True)


if __name__ == "__main__":
    main()
