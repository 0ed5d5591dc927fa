#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <qc_cruise|dedup_stream>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the benchmark (the repository's main
sources plus perfbench/src) with sbt on first use, then runs one JVM at
local[4] whose last stdout line is the JSON record; this script checks the
record and the run's hygiene and prints the record as its own last line.
Exits non-zero, printing no record, if anything fails.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH, "target", "perfbench.stamp")
WORKLOADS = ("qc_cruise", "dedup_stream")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the whole group on timeout
    and waits for it, so nothing it started outlives this script."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def build():
    digest = source_digest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    code, _ = run_group(["sbt", "--batch", "-Dsbt.server.forcestart=false",
                         "-Dsbt.log.noformat=true", "Compile/products"],
                        BUILD_TIMEOUT_S, cwd=BENCH, env=env,
                        stdout=sys.stderr, stdin=subprocess.DEVNULL)
    if code != 0:
        fail(f"build failed (sbt exit {code})")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def listing(d):
    if not os.path.isdir(d):
        return None
    return sorted((os.path.relpath(os.path.join(p, n), d), os.path.getmtime(os.path.join(p, n)))
                  for p, _, names in os.walk(d) for n in names)


def main():
    # a terminated run unwinds, so the JVM's process group is killed too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the program's sources (src/main/scala/graft) are not next to perfbench/")
    spark_home = os.environ.get("SPARK_HOME", "")
    if not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must point at a Spark install with a jars/ directory")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    build()

    work = os.path.join(BENCH, ".work", f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(work, "tmp"))
    warehouse = os.path.join(os.getcwd(), "spark-warehouse")
    before = listing(warehouse)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xms3g", "-Xmx3g", "-Xss32m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
            "-cp", CLASSES + os.pathsep + os.path.join(spark_home, "jars", "*"),
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", work])
    try:
        code, out = run_group(cmd, RUN_TIMEOUT_S, stdout=subprocess.PIPE,
                              stdin=subprocess.DEVNULL, text=True)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        left = os.path.exists(work)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    lines = [l for l in out.splitlines() if l.strip()]
    sys.stdout.write("".join(l + "\n" for l in lines[:-1]))
    if code != 0 or not lines:
        fail(f"benchmark JVM exited {code}")
    rec = json.loads(lines[-1])
    if set(rec) != {"correct", "attempted", "failed", "metrics"} or rec["attempted"] < 1:
        fail("malformed record")
    hygiene = []
    if left:
        hygiene.append("run temp dir left behind")
    if listing(warehouse) != before:
        hygiene.append("spark-warehouse/ in the working directory was written")
    if hygiene:
        print(json.dumps({"hygiene": hygiene}))
        rec["correct"] = False
    print(json.dumps(rec))


if __name__ == "__main__":
    main()
