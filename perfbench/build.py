#!/usr/bin/env python3
"""Build the benchmark: compile the library sources (src/main/scala) and
the benchmark's own sources (perfbench/src) with the Scala compiler that
ships with Spark, into .bench_build/perfbench/classes.

Usage: python3 perfbench/build.py   (from the repository root)

A build is skipped when the sources are unchanged since the last one.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")

SCALA_VERSION = "2.13.17"
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]


def sources():
    files = []
    for d in SOURCE_DIRS:
        for dirpath, _, names in os.walk(d):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the repository's own
    build.sbt compiles against (its unmanagedBase)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    m = os.path.exists(sbt) and re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m:
        sys.exit("perfbench: set SPARK_HOME to the Spark installation")
    return m.group(1)


def classpath():
    return os.path.join(spark_jars(), "*")


def ensure_built():
    """Compile if needed; returns the runtime classpath."""
    files = sources()
    if not any(f.startswith(SOURCE_DIRS[0]) for f in files):
        sys.exit(f"perfbench: no library sources under {SOURCE_DIRS[0]}")
    stamp = os.path.join(OUT, "classes.stamp")
    fp = fingerprint(files)
    if os.path.isdir(CLASSES) and os.path.exists(stamp) and open(stamp).read() == fp:
        return CLASSES + os.pathsep + classpath()
    os.makedirs(OUT, exist_ok=True)
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    compiler = os.pathsep.join(os.path.join(spark_jars(), f"scala-{m}-{SCALA_VERSION}.jar")
                               for m in ("compiler", "library", "reflect"))
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr, flush=True)
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
                    "-nowarn", "-d", tmp, "-cp", classpath(), "@" + argfile], check=True)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(stamp, "w") as fh:
        fh.write(fp)
    return CLASSES + os.pathsep + classpath()


if __name__ == "__main__":
    ensure_built()
