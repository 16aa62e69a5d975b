#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program (`src/main/scala`) together with the benchmark's own
sources (`perfbench/scala`) into `.bench_build/classes` with the Scala 2.13
compiler that ships in the Spark distribution, against the same Spark jars
the sbt build uses ($SPARK_HOME/jars, or else build.sbt's unmanagedBase).
Nothing is written outside `.bench_build`.

    python3 perfbench/build.py          # from the repository root

A stamp over every source file makes a rebuild a no-op when nothing changed.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "scala")]


def spark_jars():
    """$SPARK_HOME/jars, or else the jar directory the sbt build names."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise SystemExit("set SPARK_HOME: build.sbt names no unmanagedBase")
    return m.group(1)


def sources():
    found = []
    for d in SOURCE_DIRS:
        for base, _, files in os.walk(d):
            found += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def build(log=sys.stderr):
    """Compile if needed; raises SystemExit with a message on failure."""
    if not os.path.isdir(SOURCE_DIRS[0]):
        raise SystemExit("program sources not found: %s" % SOURCE_DIRS[0])
    if not os.path.isdir(spark_jars()):
        raise SystemExit("Spark jars not found: %s" % spark_jars())
    files = sources()
    want = stamp(files)
    if os.path.exists(STAMP) and open(STAMP).read().strip() == want:
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", jars, "-d", CLASSES] + files
    r = subprocess.run(cmd, stdout=log, stderr=log, cwd=ROOT)
    if r.returncode != 0:
        raise SystemExit("compile failed (exit %d)" % r.returncode)
    with open(STAMP, "w") as fh:
        fh.write(want + "\n")


if __name__ == "__main__":
    build()
