#!/usr/bin/env python3
"""Seeded end-to-end benchmark of graft's SCD and corpus-ingest paths.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload scd --seed 1 --seconds 6 --trace 0

Workloads are listed in BENCHMARK.json. The script compiles graft's main
sources plus the harness in perfbench/src with the Scala compiler that ships
in Spark's jar directory ($SPARK_HOME/jars; no sbt, no network), caches the classes under
.bench_build/perfbench keyed by a hash of every source, then runs one
benchmark JVM for the workload. The JVM prints its result as its last stdout
line; this script checks that the metric names match BENCHMARK.json and
prints that line again as the last line of its own output.

    python3 perfbench/run.py --selftest   # the harness's own checks
    python3 perfbench/run.py --list-metrics --trace 1
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
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
SCALA_VERSION = "2.13.17"
# The JVM must finish well inside the 180 s a run may take.
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME, else the one
    whose bin/ holds the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        die("no Spark distribution: set SPARK_HOME")
    return jars


def sources():
    """Every file the build depends on, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(ROOT, "src", "main", "resources"),
             os.path.join(HERE, "src")]
    for r in roots:
        if not os.path.isdir(r):
            die(f"missing source directory {os.path.relpath(r, ROOT)}: "
                "run from the root of a graft checkout")
    files = []
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build(spark_jars):
    """Compile graft + harness once per source hash; return the classes dir."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()[:16]
    classes = os.path.join(BUILD, "classes-" + stamp)
    if os.path.isdir(classes):
        return classes
    jars = [os.path.join(spark_jars, f"scala-{m}-{SCALA_VERSION}.jar")
            for m in ("compiler", "library", "reflect")]
    for j in jars:
        if not os.path.isfile(j):
            die(f"missing Scala compiler jar {j}")
    os.makedirs(BUILD, exist_ok=True)
    for old in os.listdir(BUILD):
        if old.startswith("classes-") or old.startswith("tmp-classes"):
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    tmp = os.path.join(BUILD, f"tmp-classes-{os.getpid()}")
    os.makedirs(tmp)
    scala_files = [f for f in files if f.endswith(".scala")]
    t0 = time.time()
    cmd = ["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", "-cp", os.pathsep.join(jars),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp:false",
           "-classpath", os.path.join(spark_jars, "*"), "-d", tmp]
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(scala_files) + "\n")
    rc = subprocess.call(cmd + ["@" + argfile], stdout=sys.stderr)
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        die(f"compilation failed (exit {rc})")
    os.rename(tmp, classes)
    print(f"[perfbench] compiled {len(scala_files)} files in "
          f"{time.time() - t0:.1f}s", file=sys.stderr)
    return classes


def jvm_cmd(spark_jars, classes, main_args, work):
    cpus = os.cpu_count() or 1
    try:
        cpus = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    cp = os.pathsep.join([classes, os.path.join(ROOT, "src", "main", "resources"),
                          os.path.join(spark_jars, "*")])
    # -UsePerfData: no hsperfdata file outside the checkout
    return ["java", *opens, "-XX:-UsePerfData", "-Xmx3g", "-Xss8m",
            "-Duser.timezone=UTC",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", cp, "perfbench.Main",
            "--cpus", str(cpus), "--work", work, *main_args]


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    key = "per_layer" if trace else "end_to_end"
    return {m["name"]: m["unit"] for m in spec[key]}, spec


def run_jvm(cmd, work):
    """Run the benchmark JVM in its own process group; return (rc, last line)."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    last = None
    deadline = time.time() + JVM_TIMEOUT_S
    try:
        # relay every line but the last: the caller prints the result
        for line in proc.stdout:
            line = line.rstrip("\n")
            if not line:
                continue
            if last is not None:
                print(last, flush=True)
            last = line
            if time.time() > deadline:
                break
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if rc is None:
        die(f"benchmark JVM exceeded {JVM_TIMEOUT_S}s and was killed")
    return rc, last


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--list-metrics", action="store_true")
    args = ap.parse_args()
    jars = spark_jars()
    if not os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")):
        die("BENCHMARK.json not found: run from the root of the checkout")
    expected, spec = expected_metrics(args.trace)
    names = [w["name"] for w in spec["workloads"]]
    classes = build(jars)
    work = os.path.join(BUILD, "work", f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    if args.selftest:
        rc, last = run_jvm(jvm_cmd(jars, classes, ["--selftest"], work), work)
        print(last)
        sys.exit(rc)
    if args.list_metrics:
        rc, last = run_jvm(jvm_cmd(jars, classes,
            ["--list-metrics", "--trace", str(args.trace)], work), work)
        got = json.loads(last) if rc == 0 else {}
        if got != expected:
            die(f"harness metrics {got} != BENCHMARK.json {expected}")
        sys.exit(0)
    if args.workload not in names:
        die(f"--workload must be one of {names}")
    traces = os.path.join(BUILD, "traces")
    os.makedirs(traces, exist_ok=True)
    spans = os.path.join(traces, f"{args.workload}-seed{args.seed}.jsonl")
    rc, last = run_jvm(jvm_cmd(jars, classes, [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--spans", spans], work), work)
    if rc != 0 or last is None:
        print(last, file=sys.stderr)
        die(f"benchmark JVM exited with {rc}")
    result = json.loads(last)
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != expected:
        die(f"reported metrics {got} do not match BENCHMARK.json {expected}")
    print(json.dumps(result, separators=(",", ":")), flush=True)


if __name__ == "__main__":
    main()
