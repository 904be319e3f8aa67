#!/usr/bin/env python3
"""Run one workload of the repository benchmark and print its result.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload dedupe_dense --seed 1 --seconds 20 --trace 0

The first run in a checkout compiles the library sources together with the
harness in perfbench/src (sbt, offline); later runs reuse the build while
the sources are unchanged. All inputs, scratch and build outputs stay
inside the checkout, under .bench_build/ and perfbench/target/. The last
line on stdout is one JSON object: correct, attempted, failed, metrics.
The exit code is non-zero when a check fails, the run does not finish in
time, or the library sources are missing.
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
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(ROOT, ".bench_build")
STAMP = os.path.join(BUILD, "perfbench-classpath.json")
WORKLOADS = ("dedupe_dense", "match_ingest")
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (the library's own
# build passes the same list).
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
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def fingerprint():
    """Hash of every input of the build: library sources, harness, build files."""
    h = hashlib.sha256()
    inputs = [LIB_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for top in inputs:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Compile if the sources changed since the last build; return the classpath."""
    for need in (LIB_SRC, os.path.join(HERE, "build.sbt")):
        if not os.path.exists(need):
            fail(f"{os.path.relpath(need, ROOT)} not found: run from the root of a full checkout")
    fp = fingerprint()
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            stamp = json.load(fh)
        if stamp.get("fingerprint") == fp:
            return stamp["classpath"]
    if not os.path.isdir(os.path.join(os.environ.get("SPARK_HOME", ""), "jars")):
        fail("SPARK_HOME must point at the Spark 4 distribution to build against")
    # keep sbt's temp files, file watcher, socket and lock inside the checkout
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=tmp)
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", ""), "-Dsbt.offline=true",
                                f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}",
                                "-Dsbt.boot.lock=false"]).strip()
    # every JVM the sbt launcher starts, its version probe included
    env["JAVA_TOOL_OPTIONS"] = " ".join([env.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData"]).strip()
    print("perfbench: building (first run in this checkout)", file=sys.stderr)
    try:
        out = subprocess.run(
            ["sbt", "-batch", "--no-server", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=BUILD_TIMEOUT_S, start_new_session=True)
    except subprocess.TimeoutExpired:
        fail("build timed out", 3)
    lines = [l.strip() for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(out.stdout[-4000:])
        fail("build failed", 3)
    os.makedirs(BUILD, exist_ok=True)
    with open(STAMP, "w") as fh:
        json.dump({"fingerprint": fp, "classpath": lines[-1]}, fh)
    return lines[-1]


def heap():
    """JVM heap as the library's test tier sizes it: half of RAM, 2..8 GB."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    cp = classpath()
    started = time.monotonic()
    scratch = os.path.join(BUILD, "run")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(os.path.join(scratch, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{heap()}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    # Each run is a fresh JVM. Under the default tiered JIT, C2 compiles
    # keep landing for minutes, so consecutive operations of one run differ
    # by up to 40 %. C1 alone, at its default thresholds, still compiles
    # the planner code a dedupe run calls only tens of times per operation
    # during the first measured operation (10-20 % slower than the second);
    # with thresholds ten times lower it is compiled during the warm-up.
    # The throughput collector has no concurrent threads competing with
    # the Spark tasks for the cores.
    cmd += ["-XX:TieredStopAtLevel=1", "-XX:Tier3InvocationThreshold=20",
            "-XX:Tier3MinInvocationThreshold=10", "-XX:Tier3CompileThreshold=200",
            "-XX:Tier3BackEdgeThreshold=6000", "-XX:+UseParallelGC"]
    cmd += [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", args.trace, "--scratch", scratch]
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", "4")
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(10, RUN_TIMEOUT_S - (time.monotonic() - started)))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)
        fail("run timed out", 4)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(scratch, ignore_errors=True)
    lines = out.splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    for line in lines[:-1] if result is not None else lines:
        print(line, file=sys.stderr)
    if result is None:
        fail(f"no result (exit code {proc.returncode})", proc.returncode or 5)
    print(json.dumps(result))
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
