#!/usr/bin/env python3
"""Build and run the end-to-end benchmark of the graft pipeline.

Usage (from the repository root):

    python3 perfbench/run.py --workload bulk_ingest --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke        # every workload, tiny inputs

The first run compiles the program's sources (../src/main) together with the
harness (perfbench/src) with sbt, offline; later runs reuse the build while
the sources are unchanged. Inputs, output roots, samples and spans live under
.bench_build/perfbench in the repository root. The last stdout line is the
result JSON; the line before it gives the sample count of every metric.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
PROGRAM_SRC = os.path.join(ROOT, "src", "main")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark 4 on JDK 17 outside spark-submit needs these (the repository's
# build.sbt passes the same list to its forked runs).
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
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def heap_gb():
    """Half the machine's memory, clamped to 2..8 GiB (the Tier-1 rule; the
    repository's build defaults to 32g, more than small hosts have)."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return max(2, min(8, int(line.split()[1]) // 2097152))
    except OSError:
        pass
    return 2


def source_files():
    for base in (PROGRAM_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                if f.endswith((".scala", ".properties", ".dat", ".png", ".sbt")):
                    yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")


def fingerprint():
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt unless the recorded build matches the sources."""
    stamp = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    fp = fingerprint()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read().strip() == fp:
                with open(cp_file) as f:
                    return f.read().strip()
    log("building (sbt writeClasspath)")
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                       "-Dsbt.server.forcestart=false -Xmx2g")
    t0 = time.time()
    proc = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                            cwd=HERE, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.STDOUT, start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=BUILD_TIMEOUT_S)
    finally:
        stop(proc)
    if proc.returncode != 0 or not os.path.exists(cp_file):
        sys.stderr.write(out[-4000:])
        log(f"build failed (exit {proc.returncode})")
        sys.exit(3)
    log(f"built in {time.time() - t0:.0f} s")
    os.makedirs(WORK, exist_ok=True)
    with open(stamp, "w") as f:
        f.write(fp)
    with open(cp_file) as f:
        return f.read().strip()


def stop(proc):
    """Stop a process group started here and wait for it to end."""
    if proc.poll() is None:
        try:
            os.killpg(proc.pid, signal.SIGTERM)
            proc.wait(timeout=10)
        except (ProcessLookupError, subprocess.TimeoutExpired):
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    proc.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", default="bulk_ingest",
                    choices=["bulk_ingest", "checkpoint_churn", "corpus_kernels"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="every workload at a tiny size, untraced and traced")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(PROGRAM_SRC, "scala", "graft")):
        log(f"program sources not found under {PROGRAM_SRC}")
        return 2
    cp = build()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap and generation sizes: with adaptive sizing the young
    # generation grows from run to run, and heap_peak_mb follows it
    heap = heap_gb()
    cmd = (["java", f"-Xms{heap}g", f"-Xmx{heap}g", "-XX:-UseAdaptiveSizePolicy",
            "-Xss16m", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-Duser.timezone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--work", WORK,
              "--workload", "all" if a.smoke else a.workload,
              "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace)]
           + (["--smoke"] if a.smoke else []))
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    result = samples = None
    deadline = time.time() + RUN_TIMEOUT_S
    try:
        timer = threading.Timer(max(1.0, deadline - time.time()), lambda: stop(proc))
        timer.start()
        for line in proc.stdout:
            if line.startswith("PERFBENCH_RESULT "):
                result = line.split(" ", 1)[1].strip()
            elif line.startswith("PERFBENCH_SAMPLES "):
                samples = line.split(" ", 1)[1].strip()
            else:
                sys.stderr.write(line)
        proc.wait()
        timer.cancel()
    finally:
        stop(proc)
    if result is None:
        log(f"no result (exit {proc.returncode}; limit {RUN_TIMEOUT_S} s)")
        return proc.returncode or 4
    parsed = json.loads(result)
    if samples is not None:
        print(json.dumps({"samples": json.loads(samples)}, separators=(",", ":")))
    print(json.dumps(parsed, separators=(",", ":")), flush=True)
    if proc.returncode != 0 or not parsed["correct"]:
        log(f"failed checks: {parsed['failed']} of {parsed['attempted']}")
        return proc.returncode or 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
