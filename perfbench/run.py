#!/usr/bin/env python3
"""The repository benchmark: one workload at one seed.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program and the benchmark from
source (perfbench/build.py), then runs graftbench.Main in one JVM on a
local[nproc] Spark session whose heap is derived from /proc/meminfo. All
scratch (Spark local dirs, warehouse, inputs, tmp) lives under
.bench_build/run-<pid> and is removed at the end. The last stdout line is
the JSON result; the exit code is 0 only when every output check passed.

Workloads: batch_dedup, lsh_pairs.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["batch_dedup", "lsh_pairs"]
DEFAULT_SEED = 0x5EAC15D
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def heap():
    """Half the host memory in GiB, clamped to [2, 8], as the test command does."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def commit(stamp_file):
    root = os.getcwd()
    try:
        top = subprocess.run(["git", "-C", root, "rev-parse", "--show-toplevel"],
                             capture_output=True, text=True, timeout=10)
        if top.returncode == 0 and os.path.realpath(top.stdout.strip()) == os.path.realpath(root):
            head = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                                  capture_output=True, text=True, timeout=10)
            if head.returncode == 0:
                return head.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    with open(stamp_file) as fh:  # not a git checkout: name the sources instead
        return "src-" + fh.read().strip()[:16]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    classes = build.build()
    out = build.build_dir()
    work = os.path.join(out, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", f"-Xmx{heap()}", "-XX:-UsePerfData", "-XX:+ExplicitGCInvokesConcurrent",
           "-XX:ReservedCodeCacheSize=512m", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Dspark.cleaner.periodicGC.interval=90s"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
            "--commit", commit(os.path.join(out, "classes.stamp"))]

    result = None
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    deadline = time.monotonic() + JVM_TIMEOUT_S

    def kill(sig, _frame=None):
        try:
            os.killpg(proc.pid, signal.SIGTERM)
            proc.wait(timeout=10)
        except (ProcessLookupError, subprocess.TimeoutExpired):
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
        if sig is not None:
            shutil.rmtree(work, ignore_errors=True)
            sys.exit(128 + sig)

    signal.signal(signal.SIGTERM, kill)
    signal.signal(signal.SIGINT, kill)
    try:
        import selectors
        sel = selectors.DefaultSelector()
        sel.register(proc.stdout, selectors.EVENT_READ)
        timed_out = False
        while True:
            left = deadline - time.monotonic()
            if left <= 0:
                timed_out = True
                break
            if not sel.select(timeout=min(left, 5)):
                continue
            line = proc.stdout.readline()
            if not line:
                break
            if line.startswith('{"correct"'):
                result = line.strip()
            else:
                print(line, end="", flush=True)
        if timed_out:
            print(f"run: timed out after {JVM_TIMEOUT_S} s", file=sys.stderr)
            kill(None)
            return 3
        code = proc.wait()
    finally:
        if proc.poll() is None:
            kill(None)
        shutil.rmtree(work, ignore_errors=True)
    if result is None:
        print(f"run: no result (exit code {code})", file=sys.stderr)
        return code or 4
    print(result, flush=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
