#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds graft and the
benchmark program from source (sbt, offline); later runs reuse the build
while the sources are unchanged. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import oracle

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("frame-analytics", "index-search")
TABLES = ("lineitem", "orders", "events", "documents", "embeddings")
# One JVM per run with a fixed maximum heap, so that runs are comparable.
# The initial heap is left to the JVM, so that the resident set grows with
# what the program keeps live and peak_rss_mb follows it.
HEAP = "3g"
# the JVM's share of the 180 s a run may take once built
RUN_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 850
JDK_OPENS = [
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


def data_dir():
    """The sf0.1 tables of the repository's test data set (TESTDATA.md)."""
    return os.environ.get("PERFBENCH_DATA",
                          os.path.join(os.path.expanduser("~"), "testdata", "sf0.1"))


def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(HERE, "src", "main", "scala")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile graft plus the benchmark program; return the classpath."""
    target = os.path.join(ROOT, ".bench_build")
    stamp_f = os.path.join(target, "stamp")
    cp_f = os.path.join(target, "classpath")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    if os.path.exists(stamp_f) and os.path.exists(cp_f):
        with open(stamp_f) as fh:
            if fh.read() == stamp:
                with open(cp_f) as fh2:
                    return fh2.read().strip()
    os.makedirs(target, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SPARK_HOME" not in env and shutil.which("spark-submit"):
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.forcestart=false",
           "compile", "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, capture_output=True,
                           text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out", 3)
    lines = [l for l in p.stdout.splitlines()
             if l and not l.startswith("[") and ".jar" in l]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed", 3)
    cp = lines[-1].strip()
    with open(cp_f, "w") as fh:
        fh.write(cp)
    with open(stamp_f, "w") as fh:
        fh.write(stamp)
    return cp


def run_jvm(cp, args, work, out, trace_file, budget_s):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    cmd = [java, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"]
    for o in JDK_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", data_dir(), "--work", work, "--out", out,
            "--trace-file", trace_file]
    # the child's output goes to stderr: stdout carries only our result
    p = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = p.wait(timeout=budget_s)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail("run timed out", 4)
    if rc != 0:
        fail(f"the benchmark JVM exited with {rc}", 4)
    with open(os.path.join(out, "result.json")) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft's sources (src/main/scala/graft) are not beside perfbench/")
    for t in TABLES:
        if not os.path.exists(os.path.join(data_dir(), f"{t}.parquet")):
            fail(f"test table {t}.parquet not found in {data_dir()}")
    cp = build()
    t0 = time.time()
    work = os.path.join(ROOT, ".bench_work",
                        f"run-{os.getpid()}-{time.time_ns()}")
    out = os.path.join(work, "out")
    trace_file = os.path.join(ROOT, ".bench_out",
                              f"trace-{args.workload}-seed{args.seed}.json")
    os.makedirs(work)
    try:
        budget = RUN_TIMEOUT_S - (time.time() - t0)
        res = run_jvm(cp, args, work, out, trace_file, budget)
        attempted, failed, notes = oracle.check(args.workload, res, data_dir())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"perfbench: run took {time.time() - t0:.1f} s after the build",
          file=sys.stderr)
    for n in notes[:20]:
        print(f"perfbench: check: {n}", file=sys.stderr)
    print(f"perfbench: env {json.dumps(res['env'])}", file=sys.stderr)
    print("perfbench: latencies_ms " +
          " ".join(f"{x:.0f}" for x in res["latencies_ms"]), file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": res["metrics"]}))


if __name__ == "__main__":
    main()
