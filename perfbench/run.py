#!/usr/bin/env python3
"""Benchmark runner for graft: builds the engine and the benchmark from
source, runs one workload in a single JVM, and prints one JSON result line.

    python3 perfbench/run.py --workload econ_daily --seed 1 --seconds 8 --trace 0

Run it from the repository root. The build (plain scalac against the Spark
jars, no sbt) goes to .bench_build/perfbench and is reused while the sources
are unchanged. Workloads: econ_daily, econ_read, corpus_curate, stream_upsert
(see perfbench/README.md).
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

WORKLOADS = ("econ_daily", "econ_read", "corpus_curate", "stream_upsert")
ROOT = os.getcwd()
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
RUN_LIMIT_S = 170
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


# the one child process at a time (compiler or benchmark JVM) and the run's
# work directory, both cleaned up when this runner is terminated
child = None
work = None


def stop(signum, _frame):
    if child is not None:
        child.kill()
        child.wait()
    if work is not None:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(128 + signum)


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def scala_files(d):
    out = []
    for dirpath, _, names in os.walk(d):
        out += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(out)


def spark_jars():
    """The Spark distribution's jars, which include the Scala compiler:
    $SPARK_HOME/jars, else those of the first spark-submit on the PATH
    that has them."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        exe = os.path.join(d, "spark-submit")
        if os.path.isfile(exe):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(exe))))
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if os.path.isdir(jars) and any(n.startswith("scala-compiler") for n in os.listdir(jars)):
            return jars
    fail("no Spark distribution with a Scala compiler in its jars (set SPARK_HOME)")


def build(jars):
    """Compile engine + benchmark into one class directory, keyed by a hash
    of every source file so an unchanged tree is never rebuilt."""
    if not os.path.isdir(ENGINE_SRC) or not os.path.isdir(BENCH_SRC):
        fail("run from the repository root: src/main/scala and perfbench/src are required")
    sources = scala_files(ENGINE_SRC) + scala_files(BENCH_SRC)
    h = hashlib.sha256()
    for f in sources:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp and os.path.isdir(classes):
        return classes
    staging = classes + ".tmp"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", staging, "-cp", cp] + sources
    log = os.path.join(OUT, "build.log")
    global child
    with open(log, "w") as fh:
        child = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT)
        try:
            rc = child.wait(timeout=800)
        except subprocess.TimeoutExpired:
            child.kill()
            child.wait()
            rc = -1
    if rc != 0:
        fail(f"build failed (see {log})", 3)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(staging, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    jars = spark_jars()
    os.makedirs(OUT, exist_ok=True)
    started = time.time()
    classes = build(jars)

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    global work
    work = os.path.join(OUT, "work", f"{tag}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    spans = os.path.join(OUT, "traces", f"{tag}.jsonl")
    log = os.path.join(OUT, "logs", f"{tag}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    cmd = ["java", "-Xmx3g", "-Xss4m"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/tmp",
            f"-Dspark.sql.warehouse.dir={work}/warehouse", "-Dspark.ui.enabled=false",
            "-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", os.path.join(work, "data"), "--spans", spans]
    # the session takes every core and Spark's scratch space stays in the
    # checkout, whatever the calling shell exports
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_INGEST_PARALLELISM", "SPARK_LOCAL_DIRS")}
    global child
    with open(log, "w") as err:
        proc = child = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, env=env, text=True)
        try:
            out, _ = proc.communicate(timeout=max(10, RUN_LIMIT_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"{a.workload} did not finish in time (see {log})", 4)
    shutil.rmtree(work, ignore_errors=True)
    with open(log) as fh:
        for line in fh:
            if line.startswith("[perfbench]"):
                print(line.rstrip(), file=sys.stderr)
    result = [l[len("RESULT "):] for l in out.splitlines() if l.startswith("RESULT ")]
    if proc.returncode != 0 or not result:
        fail(f"{a.workload} exited with {proc.returncode} (see {log})", 1)
    print(json.dumps(json.loads(result[-1])))


if __name__ == "__main__":
    main()
