#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload parse --seed 1 --seconds 10 --trace 0

Run it from the root of the repository. The first run builds the program
and the benchmark from source with sbt (offline) and records the runtime
classpath; later runs reuse that build until a source file changes. The
workload then runs in one JVM (``local[<all processors>]``), which writes its
result and artifacts; this script prints every metric by name with its
unit, and as its last line the result object:

    {"correct": true, "attempted": 5, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics and the tracing overhead. Artifacts (unit timings, generation
time, spans) go to ``perfbench/results/``; inputs and outputs live in
``perfbench/work/`` while the run lasts.
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
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "perfbench-classpath.txt")
STAMP = os.path.join(TARGET, "perfbench-sources.sha256")
WORKLOADS = ("parse", "curate")
RUN_LIMIT_S = 175  # the whole run, build excluded
BUILD_LIMIT_S = 840

# JDK 17 module opens Spark needs outside spark-submit (as in the root build)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads from this checkout."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the program and the benchmark; return the runtime classpath."""
    fp = fingerprint()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as s, open(CLASSPATH) as c:
            if s.read().strip() == fp:
                return c.read().strip()
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.override.build.repos=true"
                       f" -Dsbt.offline=true -Djava.io.tmpdir={tmp} -Xmx2g").strip()
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "--no-server", "--no-colors", "compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_LIMIT_S)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    lines = [l for l in proc.stdout.splitlines()
             if not l.startswith("[") and "scala-library" in l]
    if not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build printed no classpath")
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as c:
        c.write(lines[-1].strip())
    with open(STAMP, "w") as s:
        s.write(fp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("the program's sources (src/main/scala/graft, build.sbt) are not here; "
             "run from the root of a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    cp = build()
    run = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(BENCH, "work", run)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    log = os.path.join(BENCH, "results", run + ".log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.sql.session.timeZone=UTC"] + opens +
           ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work, "--result", result,
            "--artifacts", os.path.join(BENCH, "results")])
    # a terminated benchmark stops its JVM too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code is None:
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_LIMIT_S} s; log: {log}")
    if code != 0 or not os.path.exists(result):
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        shutil.rmtree(work, ignore_errors=True)
        fail(f"workload exited with code {code}")
    with open(result) as f:
        res = json.load(f)
    shutil.rmtree(work, ignore_errors=True)
    for name, m in sorted(res["metrics"].items()):
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    print(f"correct = {res['correct']} ({res['failed']} of {res['attempted']} units failed)")
    print(json.dumps(res))


if __name__ == "__main__":
    main()
