#!/usr/bin/env python3
"""Runs one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and
the harness from source with sbt (about a minute); later runs reuse the
build in `.bench_build/` for as long as the sources it was built from
are unchanged, and rebuild (incrementally) when any of them changed. Each run gets its own directory under
`.bench_build/runs/` holding `artifacts.json` (provenance, every
operation with its failure reason, spans) and the JVM's log; the
workload's scratch files are deleted when the run ends. The last line
of standard output is the run's result as one JSON object.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("scan_poll", "catalog_mix")
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170
# A fixed, pre-touched heap: without pre-touch, page faults on the heap's
# first use made whole runs of the same code differ by up to a fifth.
# The throughput collector, and a metaspace and code cache large enough
# for the classes Spark generates for each plan, keep concurrent GC
# work, metadata GCs and code-cache flushes out of the timed operations.
JVM_FLAGS = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC",
             "-XX:MetaspaceSize=256m", "-XX:ReservedCodeCacheSize=512m"]
JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, 9)
        proc.wait()
        return None, proc.returncode
    return out, proc.returncode


def sources_digest():
    """Hash of every file the build reads: the program's and the
    harness's sources and the harness's build definition."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Builds when the sources differ from the last build's; returns the
    runtime classpath."""
    stamp = os.path.join(BUILD, "classpath.txt")
    digest = sources_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            built_from, _, cp = f.read().partition("\n")
        if built_from == digest:
            return cp.strip()
    os.makedirs(BUILD, exist_ok=True)
    out, code = run_bounded(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(os.path.join(BUILD, "build.log"), "wb") as log:
        log.write(out or b"")
    if out is None or code != 0:
        fail("build failed, see .bench_build/build.log", 4)
    lines = [l for l in out.decode().splitlines() if l.strip()]
    cp = lines[-1].strip() if lines else ""
    if "perfbench" not in cp:
        fail("build did not report a classpath", 4)
    with open(stamp, "w") as f:
        f.write(digest + "\n" + cp)
    return cp


def commit_id():
    try:
        out = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"],
                             cwd=ROOT, capture_output=True, timeout=10)
        top, head = (out.stdout.decode().split() + ["", ""])[:2]
        if out.returncode == 0 and os.path.realpath(top) == os.path.realpath(ROOT):
            return head
    except (OSError, subprocess.TimeoutExpired):
        pass
    return os.environ.get("BENCH_COMMIT", "unknown")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("program sources not found; run from the root of a checkout", 2)
    cp = classpath()

    run_dir = os.path.join(
        BUILD, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}-{time.time_ns()}")
    work = os.path.join(run_dir, "work")
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (work, tmp, local):
        os.makedirs(d)
    cmd = (["java"]
           + [x for p in JAVA_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + JVM_FLAGS
           + [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
              "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--work", work, "--data", os.path.join(HERE, "data"),
              "--commit", commit_id()])
    try:
        with open(os.path.join(run_dir, "jvm.log"), "wb") as log:
            out, code = run_bounded(cmd, RUN_TIMEOUT_S, cwd=run_dir,
                                    stdout=subprocess.PIPE, stderr=log,
                                    stdin=subprocess.DEVNULL)
        artifacts = os.path.join(work, "artifacts.json")
        if os.path.exists(artifacts):
            shutil.move(artifacts, os.path.join(run_dir, "artifacts.json"))
    finally:
        for d in (work, tmp, local, os.path.join(run_dir, "spark-warehouse")):
            shutil.rmtree(d, ignore_errors=True)
    if out is None:
        fail(f"run exceeded {RUN_TIMEOUT_S}s; see {run_dir}/jvm.log", 3)
    lines = [l for l in out.decode().splitlines() if l.strip()]
    if code != 0 or not lines:
        fail(f"run failed (exit {code}); see {run_dir}/jvm.log", 5)
    result = json.loads(lines[-1])
    for l in lines[:-1]:
        print(l)
    print(f"[perfbench] artifacts {os.path.relpath(run_dir, ROOT)}/artifacts.json")
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()
