#!/usr/bin/env python3
"""Benchmark driver: builds the engine and harness, generates seeded inputs,
runs one workload in one Spark JVM, checks its outputs and prints one JSON
result line.

  python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. Everything it writes goes
under ``.bench_build/`` in that checkout; the per-run directory is removed
before it exits. See README.md in this directory for the workloads and
metrics.
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
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

# Size of the query tables per query workload (1.0 ≙ sf1 row counts).
SCALE = {"relational": 0.01, "driver_loops": 0.001}
# ingest_flow: batch 0 is set-up, batch 1 is the timed window.
INGEST_BATCHES = 2
INGEST_REVIEWS = 1000
WORKLOADS = sorted(SCALE) + ["ingest_flow"]
JVM_TIMEOUT_S = 150
# A fixed heap, touched in full at start, so peak_rss_mb tracks off-heap and
# metaspace growth instead of how much of the heap GC timing happened to use.
HEAP = "1536m"
BUILD_TIMEOUT_S = 840

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
    sys.exit(2)


def source_stamp():
    """Digest of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project/build.properties")])
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine sources of this checkout plus the harness with sbt
    (once per source state) and return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src/main/scala/graft")):
        fail("no engine sources under src/main/scala; run from a checkout of the repository")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME must point at the Spark distribution whose jars/ the build uses")
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
    with open(log) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    if rc != 0 or not lines or lines[-1].startswith("["):
        fail(f"build failed; see {log}")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def run_jvm(cp, args, work, log):
    java = os.path.join(os.environ["JAVA_HOME"], "bin/java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness"] + args
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            return None
        finally:  # also on SIGTERM: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()


def main():
    # SIGTERM unwinds like Ctrl-C, so the JVM is killed and the run directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    t_start = time.monotonic()
    cp = build()
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(BUILD, "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.workload == "ingest_flow":
            manifest = gen.gen_ingest(f"{work}/input", a.seed, INGEST_BATCHES, INGEST_REVIEWS)
        else:
            manifest = gen.gen_tables(f"{work}/input", a.seed, SCALE[a.workload])
        raw_path = f"{work}/raw.json"
        log = f"{work}/jvm.log"
        rc = run_jvm(cp, [
            "--workload", a.workload, "--data", f"{work}/input", "--ingest", f"{work}/input",
            "--work", work, "--out", raw_path, "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cpus", str(cpus)], work, log)
        if rc != 0 or not os.path.exists(raw_path):
            with open(log, errors="replace") as f:
                tail = f.read()[-4000:]
            fail(f"harness JVM {'timed out' if rc is None else f'exited {rc}'}:\n{tail}")
        with open(raw_path) as f:
            raw = json.load(f)
        t_jvm = time.monotonic()
        result = metrics.evaluate(raw, manifest, trace=bool(a.trace))
        result["notes"].append(
            f"timeline: jvm {t_jvm - t_start:.1f}s (session {raw['session_s']:.1f}s, "
            f"finish {raw['finish_s']:.1f}s), checks {time.monotonic() - t_jvm:.1f}s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in result.pop("notes"):
        print(line, file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
