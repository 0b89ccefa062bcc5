#!/usr/bin/env python3
"""Toy-size self-test of the benchmark harness (a few minutes, 4 cores).

    python3 perfbench/selftest.py

Checks that BENCHMARK.json names the harness's workloads, metrics and
units, then, each through a separate run.py process:
  1. every workload runs end to end at toy scale, reports every end-to-end
     metric, and its correctness checks pass;
  2. a deliberately wrong expected count is reported as a failed operation
     (exit 0, "correct": false, failed >= 1), not as a crash;
  3. a traced run reports every per-layer metric, with 8 replayed buckets;
  4. a directory holding only BENCHMARK.json and perfbench/ makes run.py
     exit non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]


def bench(workload: str, *extra: str, cwd: str = ROOT, trace: int = 0):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
           "--workload", workload, "--seed", "3", "--seconds", "2",
           "--trace", str(trace), *extra]
    if cwd == ROOT:
        cmd += ["--scale", "toy"]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return p.returncode, result, p.stdout + p.stderr[-2000:]


def main() -> int:
    failures = []

    def expect(ok: bool, what: str, log: str = "") -> None:
        print(("PASS " if ok else "FAIL ") + what, flush=True)
        if not ok:
            failures.append(what)
            print(log[-3000:], flush=True)

    import layers
    import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    expect({m["name"]: m["unit"] for m in spec["end_to_end"]} == workloads.E2E_UNITS
           and {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.UNITS
           and {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS),
           "BENCHMARK.json names the harness's workloads, metrics and units")

    for w in workloads.WORKLOADS:
        rc, res, log = bench(w)
        expect(rc == 0 and res is not None and res["correct"] and res["failed"] == 0
               and set(res["metrics"]) == set(workloads.E2E_UNITS),
               f"{w}: toy run correct, all metrics", log)

    rc, res, log = bench("batch_bulk", "--corrupt-expected")
    expect(rc == 0 and res is not None and not res["correct"]
           and 1 <= res["failed"] <= res["attempted"],
           "wrong expected count is a failed operation, not a crash", log)

    rc, res, log = bench("batch_bulk", trace=1)
    ok = rc == 0 and res is not None and res["correct"] and set(res["metrics"]) == set(layers.UNITS)
    expect(ok and res["metrics"]["job.buckets_replayed"]["value"] == 8,
           "traced run reports every per-layer metric, 8 buckets replayed", log)

    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        rc, res, log = bench("batch_bulk", cwd=bare)
        expect(rc != 0 and res is None, "without the package: non-zero exit, no result", log)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        if not os.listdir(os.path.dirname(bare)):
            os.rmdir(os.path.dirname(bare))

    print(f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
