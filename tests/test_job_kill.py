"""Kill harness: a bucketed job, SIGKILLed mid-run three times and then
re-run to completion, writes exactly what a clean run writes.

The job runs as `scripts/submit_job.py` in its own process group (the
Python driver and its JVM). Each attempt's Spark session starts while
the previous attempt runs, and its job once that attempt is dead. Each
attempt is killed, group and all, at a seeded random moment after one
point of the run is reached:
  1. inside the `_bucketed` input write;
  2. inside a wave's routed write;
  3. between a wave's writes and its manifests: wave 1's manifests are
     written and a metrics write is in flight.
The same command then runs to completion. Its routed and rejected rows
(every column, batch_no included) and its manifests must equal those of
a clean run, and every bucket directory must have a manifest.
"""

from __future__ import annotations

import glob
import json
import os
import random
import signal
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import pytest

from apm_opentelemetry_collector_spark.plans.job import read_all_manifests, run_job
from apm_opentelemetry_collector_spark.sources.transcripts import synth_transcripts

pytestmark = pytest.mark.slow

SUBMIT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                      "scripts", "submit_job.py")
N_BUCKETS = 16


def _writing(out: str, name: str) -> bool:
    """A write under out/name is in flight: a dynamic-overwrite staging
    dir, or a static write's _temporary dir in out/name or below it."""
    d = os.path.join(out, name)
    return bool(glob.glob(os.path.join(d, ".spark-staging-*"))
                or glob.glob(os.path.join(d, "_temporary"))
                or glob.glob(os.path.join(d, "*", "_temporary")))


def _in_materialize(out: str) -> bool:
    return _writing(out, "_bucketed")


def _in_wave_write(out: str) -> bool:
    return _writing(out, "routed")


def _before_manifests(out: str) -> bool:
    done = glob.glob(os.path.join(out, "_manifests", "bucket=*.json"))
    return len(done) >= 4 and _writing(out, "metrics")


def _group_alive(pgid: int) -> list[int]:
    """Pids of the process group that are not zombies."""
    pids = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                state, _, pgrp = f.read().rsplit(")", 1)[1].split()[:3]
        except OSError:
            continue
        if int(pgrp) == pgid and state not in "ZX":
            pids.append(int(pid))
    return pids


# Run as `python -c`: starts a Spark session, waits for the go file
# named by argv[1], then runs the script argv[2] with the rest of argv as
# its command line. The script's getOrCreate() returns the started
# session, so the next attempt's JVM starts while the previous one runs.
_PRESTARTED = """
import os, runpy, sys, time
from pyspark.sql import SparkSession
SparkSession.builder.getOrCreate()
go, sys.argv = sys.argv[1], sys.argv[2:]
while not os.path.exists(go):
    time.sleep(0.005)
runpy.run_path(sys.argv[0], run_name="__main__")
"""


@pytest.fixture
def attempt(tmp_path):
    """attempt(i, inp, out) starts run i of submit_job.py in a new process
    group: its Spark session at once, the job once go-i exists. Its
    output goes to job-i.log; a group whose leader still runs at
    teardown is killed."""
    procs = []

    def start(i: int, inp: str, out: str) -> subprocess.Popen:
        # spark-submit flags size the job for its 5k rows. A driver lives
        # seconds, so its JVM skips the optimizing JIT tier: with the
        # test's JVM and two attempts' on 4 vCPUs, C2's compiler threads
        # took the harness from 42 s to 59 s.
        env = dict(os.environ, PYSPARK_SUBMIT_ARGS=(
            "--conf spark.sql.shuffle.partitions=8 --conf spark.ui.enabled=false "
            "--driver-java-options -XX:TieredStopAtLevel=1 pyspark-shell"))
        with open(tmp_path / f"job-{i}.log", "w") as f:
            procs.append(subprocess.Popen(
                [sys.executable, "-c", _PRESTARTED, str(tmp_path / f"go-{i}"), SUBMIT,
                 "--input", inp, "--output", out, "--buckets", str(N_BUCKETS)],
                start_new_session=True, stdout=f, stderr=subprocess.STDOUT, env=env,
            ))
        return procs[-1]

    yield start
    for p in procs:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def _tail(log: str) -> str:
    with open(log) as f:
        return f.read()[-2000:]


def _kill_when(proc: subprocess.Popen, reached, out: str, delay: float,
               log: str) -> None:
    """SIGKILL proc's process group `delay` seconds after reached(out)."""
    deadline = time.monotonic() + 120
    while not reached(out):
        assert proc.poll() is None and time.monotonic() < deadline, (
            f"job ended ({proc.returncode}) before {reached.__name__}: {_tail(log)}"
        )
        time.sleep(0.005)
    time.sleep(delay)
    os.killpg(proc.pid, signal.SIGKILL)
    proc.wait(timeout=30)
    deadline = time.monotonic() + 10
    while _group_alive(proc.pid) and time.monotonic() < deadline:
        time.sleep(0.05)
    assert not _group_alive(proc.pid), f"group alive after {reached.__name__}"


@pytest.mark.skipif(not os.path.isdir("/proc"), reason="reads process groups from /proc")
def test_killed_job_equals_clean_run(spark, tmp_path, attempt):
    inp = str(tmp_path / "input")
    # a hot conversation holds a fifth of the turns; two spans are over
    # the default 900,000-byte cap and get truncated
    synth_transcripts(spark, n_rows=5_000, n_convs=50, seed=3, hot_conv_fraction=0.2,
                      oversize_every=2_500, oversize_len=1_000_000).write.parquet(inp)
    out, clean = str(tmp_path / "killed"), str(tmp_path / "clean")
    log = lambda i: str(tmp_path / f"job-{i}.log")  # noqa: E731
    rng = random.Random(20)
    with ThreadPoolExecutor(1) as pool:
        # the clean run goes in this session while the attempts run
        clean_run = pool.submit(run_job, spark, spark.read.parquet(inp), clean,
                                n_buckets=N_BUCKETS)
        runs = [attempt(0, inp, out)]
        (tmp_path / "go-0").touch()
        for i, reached in enumerate((_in_materialize, _in_wave_write, _before_manifests)):
            runs.append(attempt(i + 1, inp, out))
            _kill_when(runs[i], reached, out, rng.uniform(0, 0.05), log(i))
            (tmp_path / f"go-{i + 1}").touch()
        assert len(read_all_manifests(out)) < N_BUCKETS

        assert runs[-1].wait(timeout=120) == 0, _tail(log(3))
        with open(log(3)) as f:
            assert json.loads(f.read().splitlines()[-1])["buckets_run"]
        clean_run.result()

    assert not spark.read.parquet(os.path.join(clean, "routed")).filter("truncated").isEmpty()
    for name in ("routed", "rejected"):
        got = spark.read.parquet(os.path.join(out, name))
        want = spark.read.parquet(os.path.join(clean, name))
        assert not want.isEmpty(), name
        assert got.exceptAll(want).unionByName(want.exceptAll(got)).isEmpty(), name

    strip = lambda m: {k: v for k, v in m.items() if k != "completed_at"}  # noqa: E731
    assert ([strip(m) for m in read_all_manifests(out)]
            == [strip(m) for m in read_all_manifests(clean)])
    done = {f"bucket={m['bucket']}" for m in read_all_manifests(out)}
    for name in ("routed", "rejected"):
        dirs = {os.path.basename(d) for d in glob.glob(os.path.join(out, name, "bucket=*"))}
        assert dirs and dirs <= done, name
