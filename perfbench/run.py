#!/usr/bin/env python3
"""Build and run the graft benchmark for one workload.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
        [--scale <f>] [--corrupt none|drop|dup] [--timeout <s>]

The program and the benchmark are compiled from source with sbt on first
use (perfbench/build.sbt references the root build) and reused while their
sources are unchanged. The benchmark runs in one JVM; everything it writes
stays under .bench_build/ in the current directory. The last line of
standard output is the result object: correct, attempted, failed, metrics.
The exit code is 0 only when every output check passed.
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

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ["transfer", "curate", "transfer_parquet", "transfer_jdbc", "curate_text", "dedup_media"]
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these (the root build.sbt
# passes the same list to its forked JVMs).
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
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_files():
    """Every file the build reads: the root build and the benchmark package."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files.extend(os.path.join(d, f) for f in fs)
    return sorted(f for f in files if os.path.isfile(f))


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, cwd, timeout, stdout):
    """Run `cmd` in its own process group; kill the group on timeout and
    wait for it, so no process outlives this script."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=sys.stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        log(f"timed out after {timeout} s: {cmd[0]}")
        return -1
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def build():
    """Compile the program and the benchmark; return the runtime classpath."""
    cp_file = os.path.join(OUT, "classpath.txt")
    stamp_file = os.path.join(OUT, "build.stamp")
    want = stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == want:
                with open(cp_file) as g:
                    return g.read().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    log("building the program and the benchmark with sbt")
    t0 = time.time()
    rc = run_bounded([sbt, "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                     HERE, BUILD_TIMEOUT_S, sys.stderr)
    if rc != 0:
        fail(f"sbt build failed (exit {rc})", 1)
    written = os.path.join(HERE, "target", "runtime-classpath.txt")
    with open(written) as f:
        cp = f.read().strip()
    os.makedirs(OUT, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(want)
    log(f"build done in {time.time() - t0:.1f} s")
    return cp


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--corrupt", default="none", choices=["none", "drop", "dup"])
    ap.add_argument("--timeout", type=float, default=RUN_TIMEOUT_S,
                    help="seconds before the benchmark JVM is killed")
    a = ap.parse_args()

    for need in ["build.sbt", os.path.join("src", "main", "scala"), "BENCHMARK.json"]:
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"not a graft checkout: {need} is missing in {ROOT}")
    cp = build()

    work = os.path.join(OUT, "work", a.workload)
    result = os.path.join(OUT, f"{a.workload}.result.json")
    for p in [work, result]:
        if os.path.isdir(p):
            shutil.rmtree(p)
        elif os.path.exists(p):
            os.remove(p)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={os.path.join(work, 'derby')}",
           f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--scale", str(a.scale), "--corrupt", a.corrupt,
            "--work", work, "--out", result]
    rc = run_bounded(cmd, ROOT, a.timeout, sys.stderr)
    if not os.path.exists(result):
        fail(f"the benchmark JVM exited {rc} without a result", 1)
    with open(result) as f:
        res = json.loads(f.read())
    detail = result[:-len(".json")] + ".detail.json"
    if os.path.exists(detail):
        with open(detail) as f:
            print(f.read().strip())
    want = expected_metrics(a.trace)
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if got != want:
        fail(f"metrics differ from BENCHMARK.json: {sorted(set(got) ^ set(want))}", 3)
    print(json.dumps(res))
    sys.exit(0 if rc == 0 and res["correct"] else 1)


if __name__ == "__main__":
    main()
