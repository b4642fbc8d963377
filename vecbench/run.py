#!/usr/bin/env python3
"""Vector-search benchmark for graft: build, then run one workload.

Run from the repository root:

    python3 vecbench/run.py --workload sql-topk-bycell --seed 1 --seconds 12 --trace 0

The first run in a checkout compiles graft and the benchmark with sbt
(vecbench/build.sbt); later runs reuse the build until a source changes.
The last line of standard output is the JSON result. The exit code is not
0 when the build fails, a correctness check fails, or the run times out.
"""

import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
OUT = os.path.join(BENCH, "out")
WORKLOADS = ("sql-topk-bycell", "api-topk-scattered", "ingest-serve")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark 4 on JDK 17 outside spark-submit: the same opens as the root build.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"vecbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build depends on, relative to the repository root."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile graft and the benchmark once per source state; returns the
    runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"graft sources not found ({need} missing next to vecbench/)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")
    want = stamp()
    stamp_file = os.path.join(TARGET, "vecbench.stamp")
    cp_file = os.path.join(TARGET, "classpath.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                with open(cp_file) as cf:
                    return cf.read().strip()
    os.makedirs(TARGET, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    p = subprocess.Popen(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "vecbench/compile",
         "export vecbench/Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, err = p.communicate(timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        die("build timed out")
    if p.returncode != 0:
        sys.stderr.write(out[-4000:] + err[-4000:])
        die(f"build failed (exit {p.returncode})")
    cp = [l for l in out.splitlines() if l.strip() and not l.startswith("[")]
    if not cp or ".jar" not in cp[-1]:
        die("build did not print a classpath")
    with open(cp_file, "w") as fh:
        fh.write(cp[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(want)
    print(f"[vecbench] built in {time.time() - t0:.1f} s", flush=True)
    return cp[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    base = os.path.join(BENCH, "work", a.workload)
    work, tmp = os.path.join(base, "run"), os.path.join(base, "tmp")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(tmp)
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ)
    # keep every file graft, Spark or the JVM writes inside the checkout
    env["GRAFT_INDEX_DIR"] = os.path.join(work, "default-index")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # with Netty's pooled allocator the retained heap jumped by about one
    # 16 MiB pool chunk from run to run; the heap starts at its full size,
    # so it does not grow while requests are timed
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dio.netty.allocator.type=unpooled"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-cp", cp, "vecbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work, "--out", OUT])
    log = os.path.join(OUT, f"{a.workload}.stderr.log")
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                             stdout=subprocess.PIPE, stderr=err, text=True,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            shutil.rmtree(base, ignore_errors=True)
            die(f"run exceeded {RUN_TIMEOUT_S} s (stderr in {os.path.relpath(log, ROOT)})", 3)
    shutil.rmtree(base, ignore_errors=True)
    lines = out.splitlines()
    result = [l for l in lines if l.startswith("{")]
    for l in lines:
        if l.startswith("[vecbench"):
            print(l)
    if p.returncode != 0 or not result:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-3000:])
        if result:
            print(result[-1], flush=True)
        die(f"run failed (exit {p.returncode})", 1)
    print(result[-1], flush=True)


if __name__ == "__main__":
    main()
