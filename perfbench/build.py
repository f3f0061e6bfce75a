#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the harness (perfbench/src) into
.bench_build/perfbench/classes with the Scala compiler that ships in the
Spark distribution. Rebuilds only when a source file changed.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys


def spark_jars():
    """The Spark jar directory: $SPARK_JARS, else the one the program's own
    build.sbt compiles against (its `unmanagedBase`)."""
    if "SPARK_JARS" in os.environ:
        return os.environ["SPARK_JARS"]
    try:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    return m.group(1) if m else ""


SPARK_JARS = spark_jars()
OUT = os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
CLASSES = os.path.join(OUT, "classes")


def sources():
    found = []
    for base in ("src/main/scala", "perfbench/src"):
        found += glob.glob(os.path.join(".", base, "**", "*.scala"), recursive=True)
    return sorted(found)


def classpath():
    return os.path.abspath(CLASSES) + os.pathsep + os.path.join(SPARK_JARS, "*")


def build(log=sys.stderr):
    """Compile if needed; raises SystemExit(2) when there is nothing to build
    or the compiler fails."""
    srcs = sources()
    if not any(s.startswith("./src/main/scala") for s in srcs):
        print("perfbench: program sources (src/main/scala) not found", file=log)
        raise SystemExit(2)
    if not os.path.isdir(SPARK_JARS):
        print(f"perfbench: Spark jars not found ({SPARK_JARS!r}); set SPARK_JARS", file=log)
        raise SystemExit(2)
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = os.path.join(OUT, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    cmd = ["java", "-Xss16m", "-Xmx3g", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(SPARK_JARS, "*"),
           "-d", CLASSES] + srcs
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        print("perfbench: compilation failed", file=log)
        raise SystemExit(2)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())


if __name__ == "__main__":
    build()
