#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's Scala sources
(src/main/scala) together with the benchmark's own (kgbench/src) with the
Scala compiler that ships in Spark's jars directory.

    python3 kgbench/build.py        # prints the classes directory

Output goes to .bench_build/kgbench/classes-<source hash>; an up-to-date
build is reused, so only the first run in a checkout pays the compile, and
a new build replaces the stale ones.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "kgbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(ROOT, "kgbench", "src")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
        raise SystemExit("kgbench: SPARK_HOME must point at a Spark install whose "
                         "jars/ holds the Scala compiler")
    return os.path.join(home, "jars")


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources():
    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "jobs", "IngestJob.scala")):
        raise SystemExit("kgbench: engine sources not found under src/main/scala; "
                         "run from a checkout of the repository")
    files = []
    for top in (ENGINE_SRC, BENCH_SRC):
        files += glob.glob(os.path.join(top, "**", "*.scala"), recursive=True)
    return sorted(files)


def build():
    """Returns the classes directory, compiling first if the sources changed."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    classes = os.path.join(OUT, "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(classes, ".complete")):
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = [java(), "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", cp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("kgbench: compile failed")
    open(os.path.join(tmp, ".complete"), "w").close()
    for old in glob.glob(os.path.join(OUT, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    print(build())
