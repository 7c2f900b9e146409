#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

Usage, from the repository root:
  python3 perfbench/run.py --workload batch_lambda|stream_index \
      --seed N --seconds S --trace 0|1 [--tiny] [--corrupt-reference]

Builds the program from source on first use (perfbench/build.py), then
runs the workload in one JVM on a local Spark session with one slot per
core. --tiny shrinks every input (for the self-test); --corrupt-reference
plants an error in one reference value, which must fail the run.
Exits 0 only when every checked output was correct.
"""
import argparse
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("batch_lambda", "stream_index")
# the JVM must end within this; a build before it has a budget of its own
# (a cold build of every source takes about 25 s on 4 cores)
RUN_LIMIT_S = 175
JAVA_OPTS = [
    # a fixed heap keeps the resident set (peak_rss_mb) from following
    # the collector's run-to-run sizing decisions
    "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", p + "=ALL-UNNAMED")]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--corrupt-reference", action="store_true")
    a = ap.parse_args()
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")

    cp = build.ensure_built()
    tmp = os.path.join(build.OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + JAVA_OPTS + [
        "-Djava.io.tmpdir=" + tmp,
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--data-dir", os.path.join(HERE, "data"), "--out-dir", build.OUT]
        + (["--tiny"] if a.tiny else []) + (["--corrupt-reference"] if a.corrupt_reference else []))
    proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit("perfbench: run exceeded its time limit")
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines:
        print(l, flush=True)
    if proc.returncode != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.exit(proc.returncode or 1)


if __name__ == "__main__":
    main()
