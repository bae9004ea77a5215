#!/usr/bin/env python3
"""Self-test of the benchmark at tiny size (the sf 0.001 tables, 3 s of stream).

Usage (from the repository root): python3 perfbench/selftest.py

Checks that
- every workload passes its output checks and exits 0;
- every metric named in BENCHMARK.json is printed with its unit, the
  end-to-end ones positive, and each per-layer one measured on at least
  one workload's traced run;
- an injected failing query, and an injected wrong output row, each raise
  `failed`, clear `correct` and make the exit code non-zero; on the hot
  path the wrong row is caught in the live output and in the checked replay.
Eight runs; takes a few minutes.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("batch", "hot_path")


def run(workload, trace=0, inject="none"):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "3", "--trace", str(trace),
           "--data", os.path.join(HERE, "data", "sf0.001"),
           "--inject", inject]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if len(lines) < 2:
        raise AssertionError(f"{workload} trace={trace} inject={inject}: no result "
                             f"(exit {p.returncode})\n{p.stderr[-2000:]}")
    return p.returncode, json.loads(lines[-2]), json.loads(lines[-1])


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    problems = []

    def expect(cond, msg):
        print(("ok   " if cond else "FAIL ") + msg, flush=True)
        if not cond:
            problems.append(msg)

    measured = set()
    for w in WORKLOADS:
        rc, rec, res = run(w)
        expect(rc == 0 and res["correct"] and res["failed"] == 0 and res["attempted"] > 0,
               f"{w}: clean run passes its checks (exit {rc}, failed {res['failed']})")
        got = res["metrics"]
        expect(set(got) == set(e2e) and all(got[k]["unit"] == u and got[k]["value"] > 0
                                            for k, u in e2e.items()),
               f"{w}: every end-to-end metric printed, positive, with its unit")
        rc, rec, res = run(w, trace=1)
        got = res["metrics"]
        expect(rc == 0 and set(got) == set(layers)
               and all(got[k]["unit"] == u for k, u in layers.items()),
               f"{w}: traced run prints every per-layer metric with its unit")
        measured |= set(layers) - set(rec["record"]["not_applicable"])
    expect(measured == set(layers),
           f"every per-layer metric is measured on some workload (missing: {sorted(set(layers) - measured)})")

    for w in WORKLOADS:
        for inject in ("fail", "wrong"):
            rc, rec, res = run(w, inject=inject)
            expect(rc != 0 and not res["correct"] and res["failed"] >= 1,
                   f"{w}: injected {inject} output raises failed ({res['failed']}) and the exit code ({rc})")
            if w == "hot_path" and inject == "wrong":
                replay = [f for f in rec["failures"] if f.startswith("replay: ")]
                expect(replay and len(replay) < len(rec["failures"]),
                       f"{w}: the wrong row is caught both live and in the replay")
    if problems:
        sys.exit(f"{len(problems)} self-test check(s) failed")
    print("self-test passed")


if __name__ == "__main__":
    main()
