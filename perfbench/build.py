#!/usr/bin/env python3
"""Build file of the benchmark: compiles the repository's main sources
(src/main/scala) together with the benchmark's own sources (perfbench/src)
with the Scala compiler that ships in the Spark distribution's jars.

    python3 perfbench/build.py      # from the root of a checkout

Output goes to <build>/classes, where <build> is $CARGO_TARGET_DIR if set,
else .bench_build. A stamp (hash of every source file and of the jar
listing) skips the compile when nothing changed. No network, no sbt.
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def spark_jars():
    home = os.environ.get("SPARK_HOME") or os.path.join(os.sep, "opt", "spark")
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        sys.exit(f"build: no Spark jars at {jars} (set SPARK_HOME)")
    return jars


def sources():
    out = []
    for base in (MAIN_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def build():
    """Compile if needed; return the classes directory."""
    if not os.path.isdir(MAIN_SRC) or not os.path.isdir(BENCH_SRC):
        sys.exit("build: run from the root of a repository checkout "
                 "(src/main/scala and perfbench/src are missing)")
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    out = build_dir()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file) \
            and open(stamp_file).read().strip() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp] + files
    print(f"build: compiling {len(files)} sources", file=sys.stderr, flush=True)
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    return classes


if __name__ == "__main__":
    print(build())
