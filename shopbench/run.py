#!/usr/bin/env python3
"""End-to-end benchmark of the shop ETL program in this checkout.

    python3 shopbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program and the harness from source with sbt (once per source
fingerprint), then runs one workload in one JVM: `local[nproc]`, a heap of
half the machine's memory clamped to 2-8 GB and fixed (-Xms = -Xmx), and the
parallel collector: with G1's adaptive sizing identical runs differed by 20%.
The last line of stdout is the result object; the line before it
(`# detail {...}`) carries diagnostics.
Exits non-zero without a result when the build, the run or a time limit
fails. All files it writes stay under shopbench/ (target/ and .work/).
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
STAMP = os.path.join(TARGET, "shopbench.stamp")
CLASSPATH = os.path.join(TARGET, "shopbench.classpath")
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("invoice_month", "cdc_stream")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 720
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"shopbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Everything the build reads from this checkout, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    out = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            out += [os.path.join(d, n) for n in names]
    return sorted(out)


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, limit_s, **kw):
    """Run `cmd` in its own process group; kill the group past `limit_s`."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{cmd[0]} exceeded {limit_s:.0f} s", 3)
    return p.returncode, out


def build():
    """Compile once per source fingerprint; return the runtime classpath."""
    fp = fingerprint()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as f:
            if f.read().strip() == fp:
                with open(CLASSPATH) as c:
                    return c.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    code, out = run_bounded(
        ["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
         "compile", "export Runtime/fullClasspath"],
        BUILD_LIMIT_S, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True)
    lines = out.splitlines()
    cp = [l for l in lines if l.startswith("/") and "shopbench" in l and ".jar" in l]
    if code != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed", 4)
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as c:
        c.write(cp[-1])
    with open(STAMP, "w") as f:
        f.write(fp)
    return cp[-1]


def heap():
    """Half of MemTotal in whole GB, clamped to 2-8 GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def main():
    started = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("program sources (src/main/scala/graft) not found next to shopbench/")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    cp = build()
    built = time.monotonic()
    work = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{heap()}", f"-Xms{heap()}", "-XX:+UseParallelGC", "-XX:ReservedCodeCacheSize=512m",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-cp", cp, "shopbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", work]
    limit = RUN_LIMIT_S - (built - started) if built - started < 5 else RUN_LIMIT_S
    try:
        code, out = run_bounded(cmd, limit, cwd=ROOT, stdout=subprocess.PIPE,
                                stdin=subprocess.DEVNULL, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out)
        fail(f"workload run failed (exit {code})", 5)
    print("\n".join(lines[-2:]))


if __name__ == "__main__":
    main()
