#!/usr/bin/env python3
"""Pipeline benchmark: run one workload, check its outputs, print its metrics.

    python3 perfbench/run.py --workload batch_bulk --seed 7 --seconds 8 --trace 0

Run from the repository root. Workloads are defined in workloads.py and
documented in perfbench/README.md. With ``--trace 0`` the result carries the
end-to-end metrics; with ``--trace 1`` it carries the per-layer metrics
(layers.py). Human-readable lines go to stdout first; the LAST line of stdout
is one JSON object: {"correct", "attempted", "failed", "metrics"}.

The benchmark pins its own run environment before Spark starts (see
``pin_environment``) and writes only under ``.perfbench_work/`` in the
current directory, which it removes on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# the package under test lives at the repository root; without it the
# imports below fail and the run exits non-zero before printing a result
sys.path[:0] = [HERE, ROOT]

import layers  # noqa: E402
import workloads  # noqa: E402

# Claims made while tuning on other seeds are validated on this one.
HELD_OUT_SEED = 90210
# Set-ups per run: the cold one (JVM launch) and a restart in the same JVM;
# setup_s reports their median, i.e. their mean. Each further set-up costs
# 6-9 s of a run's wall time, which the gate's time budget does not allow.
# A trace run reports no setup_s and sets up once.
SETUPS = 2
SPARK_CONF = {"spark.ui.showConsoleProgress": "false"}


def pin_environment(root: str, work: str) -> dict:
    """Environment every Spark process of the run inherits.

    PYTHONPATH must name the repository root: Arrow Python workers (record
    encode, stateful forward fill) import the package by name and fail with
    ModuleNotFoundError when the benchmark is launched from another cwd.
    SPARK_DRIVER_MEM stays well under physical RAM (the package default is
    24g). Set before the JVM launches, so it and its workers inherit it.
    """
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_DRIVER_MEM": "4g",
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH", "")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
    }
    os.environ.update(env)
    return env


class Session:
    """The SparkSession under test, restartable for repeated set-ups."""

    def __init__(self) -> None:
        self.spark = None

    def start(self) -> float:
        from apm_opentelemetry_collector_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf=SPARK_CONF)
        return time.perf_counter() - t

    def restart(self) -> float:
        self.spark.stop()
        return self.start()

    def close(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        workers = _descendants(proc.pid) if proc is not None else []
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            # the JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        # Python workers are the JVM's children; they exit once it is gone
        deadline = time.monotonic() + 30
        while workers and time.monotonic() < deadline:
            workers = [p for p in workers if os.path.exists(f"/proc/{p}")]
            time.sleep(0.1)
        for p in workers:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tasks = os.listdir(f"/proc/{p}/task")
        except FileNotFoundError:
            continue
        for t in tasks:
            try:
                with open(f"/proc/{p}/task/{t}/children") as f:
                    kids = [int(c) for c in f.read().split()]
            except FileNotFoundError:
                continue
            out += kids
            todo += kids
    return out


def run(args) -> dict:
    work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    env = pin_environment(ROOT, work)
    print("env " + " ".join(f"{k}={v}" for k, v in sorted(env.items())), flush=True)
    wl = workloads.WORKLOADS[args.workload](
        seed=args.seed, scale=args.scale, work=work, seconds=args.seconds,
        corrupt=args.corrupt_expected,
    )
    tracer = layers.Tracer(enabled=bool(args.trace))
    sess = Session()
    phases = {}
    clock = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal clock
        now = time.perf_counter()
        phases[name] = round(now - clock, 2)
        clock = now

    try:
        # Set-up 1 launches the JVM; the warm-up's input is generated
        # between get_spark and the warm-up call and is not timed. The
        # measured inputs are generated after it, on a warm JVM. Set-ups
        # 2.. restart the SparkContext in the same JVM.
        start_s = [sess.start()]
        phase("start")
        wl.prepare_warm_up(sess.spark)
        setups = [start_s[0] + _timed(wl.warm_up, sess.spark)]
        phase("setup1")
        wl.prepare(sess.spark)
        phase("prepare")
        for _ in range(SETUPS - 1 if not args.trace else 0):
            start_s.append(sess.restart())
            setups.append(start_s[-1] + _timed(wl.warm_up, sess.spark))
        phase("setups")
        tracer.start_s = start_s
        wl.measure(sess.spark, tracer)
        phase("measure")
        e2e = {"setup_s": statistics.median(setups), **wl.end_to_end()}
        per_layer = layers.per_layer(sess.spark, wl, tracer) if args.trace else None
        phase("trace")
    finally:
        sess.close()
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
        phase("close")

    for msg in wl.failures:
        print(f"FAILED {msg}", flush=True)
    print(f"workload {args.workload} seed {args.seed} scale {args.scale} "
          f"setups {[round(s, 3) for s in setups]} phases_s {phases}", flush=True)
    print(f"  setup_s = {e2e['setup_s']:.6g} s", flush=True)
    for name, (value, unit) in wl.named_metrics().items():
        print(f"  {name} = {value:.6g} {unit}", flush=True)
    failed_frac = wl.failed / wl.attempted
    print(f"  failed_frac = {failed_frac:.6g} ({wl.failed}/{wl.attempted})", flush=True)
    if per_layer is not None:
        metrics = {k: {"value": v, "unit": layers.UNITS[k]} for k, v in per_layer.items()}
        for k, m in metrics.items():
            print(f"  {k} = {m['value']:.6g} {m['unit']}", flush=True)
        for name, (n, total) in layers.span_summary(tracer).items():
            print(f"  span {name}: {n} x, {total:.4g} s", flush=True)
    else:
        metrics = {k: {"value": v, "unit": workloads.E2E_UNITS[k]} for k, v in e2e.items()}
    return {
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": metrics,
    }


def _timed(fn, *a) -> float:
    t = time.perf_counter()
    fn(*a)
    return time.perf_counter() - t


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "toy"), default="full",
                   help="toy: minutes-long harness self-test sizes")
    p.add_argument("--corrupt-expected", action="store_true",
                   help="self-test only: perturb one expected count")
    return p.parse_args(argv)


def main(argv=None) -> int:
    result = run(parse_args(argv))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
