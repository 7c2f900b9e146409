#!/usr/bin/env python3
"""Self-test of the benchmark, at tiny input sizes.

Usage, from the repository root: python3 perfbench/selftest.py

For every workload in BENCHMARK.json it asserts that
  * an untraced run prints every end-to-end metric, and a traced run every
    per-layer metric, each with the declared unit, and reports correct
    (a traced run with a measured trace.overhead_ratio);
  * a run with a deliberately wrong reference value is reported incorrect
    and exits non-zero.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "10", "--trace", str(trace), "--tiny", *extra]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=600)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    return p.returncode, (json.loads(lines[-1]) if lines else None)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    failures = []

    def expect(cond, what):
        print(("ok   " if cond else "FAIL ") + what, flush=True)
        if not cond:
            failures.append(what)

    for w in (x["name"] for x in bench["workloads"]):
        for trace, declared in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            code, res = run(w, trace)
            expect(code == 0 and res is not None and res["correct"] and res["failed"] == 0
                   and res["attempted"] >= 1, f"{w} trace={trace}: correct, exit 0")
            got = res["metrics"] if res else {}
            missing = [m["name"] for m in declared
                       if m["name"] not in got or got[m["name"]]["unit"] != m["unit"]]
            expect(not missing, f"{w} trace={trace}: every declared metric printed "
                                f"with its unit{' (missing: ' + ', '.join(missing) + ')' if missing else ''}")
            if trace:
                # the rounds a traced run times must hold a traced/untraced pair
                expect(got.get("trace.overhead_ratio", {}).get("value", 0) > 0,
                       f"{w} trace=1: trace.overhead_ratio measured")
            extra = sorted(set(got) - {m["name"] for m in declared})
            expect(not extra, f"{w} trace={trace}: no undeclared metric {extra if extra else ''}")
        code, res = run(w, 0, "--corrupt-reference")
        expect(code != 0 and res is not None and not res["correct"] and res["failed"] >= 1,
               f"{w}: a wrong reference is caught as a failure")
    if failures:
        sys.exit(f"{len(failures)} self-test check(s) failed")
    print("self-test passed")


if __name__ == "__main__":
    main()
