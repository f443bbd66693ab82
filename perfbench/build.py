#!/usr/bin/env python3
"""Build file of the benchmark: compiles the repository's main sources and
the benchmark's Scala sources with the Scala compiler that ships in the
Spark distribution (the jars build.sbt compiles against), into
.bench_build/classes under the repository root.

Usage: python3 perfbench/build.py   (from the repository root)

The build is skipped when the sources are unchanged since the last one.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
# hash of the sources the classes were compiled from
STAMP = os.path.join(OUT, "classes.stamp")


def spark_jars():
    """The Spark distribution's jars: the directory build.sbt names as its
    unmanagedBase, else $SPARK_HOME/jars."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    where = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    jars = sorted(glob.glob(os.path.join(where, "*.jar")))
    if not jars:
        sys.exit(f"perfbench: no Spark jars in {where!r}")
    return jars


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        sys.exit("perfbench: no src/main/scala here; run from the repository root")
    bench = sorted(glob.glob(os.path.join(os.path.dirname(os.path.abspath(__file__)), "scala", "*.scala")))
    return main + bench


def build():
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return CLASSES
    cp = ":".join(spark_jars())
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-classpath", cp] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=850)
    if r.returncode != 0:
        sys.exit(f"perfbench: compile failed ({r.returncode})")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as f:
        f.write(stamp)
    return CLASSES


if __name__ == "__main__":
    build()
