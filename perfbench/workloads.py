"""The four benchmark workloads, each driving the package's public functions.

Every workload follows the same life cycle, driven by run.py:

  prepare_warm_up(spark)
                   generate what the warm-up call reads (untimed);
  warm_up(spark)   the workload's first call (timed as part of setup_s);
  prepare(spark)   generate the measured inputs from the seed and compute
                   expected results (untimed; it runs after the first
                   warm-up, so the JVM's one-time warm-up is not paid twice);
  measure(spark, tracer)
                   run operations for the run's seconds, checking each one;
  end_to_end()     the generic end-to-end metrics (E2E_UNITS);
  named_metrics()  the same numbers under the workload's own names.

Operations are jobs (batch), files (stream) and encode calls. Each counts
once in `attempted`; a failed correctness check makes it a failure.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import statistics
import threading
import time

import duckdb
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from apm_opentelemetry_collector_spark.config import PipelineConfig
from apm_opentelemetry_collector_spark.functions import sqlgen
from apm_opentelemetry_collector_spark.operators.encode import (
    decode_record,
    encode_records,
)
from apm_opentelemetry_collector_spark.operators.pack import assign_batches
from apm_opentelemetry_collector_spark.operators.route import (
    fan_out,
    with_send_outcome,
)
from apm_opentelemetry_collector_spark.operators.truncate import TRUNC_MARKER
from apm_opentelemetry_collector_spark.plans import job as job_mod
from apm_opentelemetry_collector_spark.plans.pipeline import run_pipeline
from apm_opentelemetry_collector_spark.sources import fixtures
from apm_opentelemetry_collector_spark.sources.transcripts import synth_transcripts
from apm_opentelemetry_collector_spark.streaming.stream_pipeline import (
    forward_fill_stateful,
    stream_transcripts,
    write_sinks_stream,
)

import layers

E2E_UNITS = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "latency_s": "s",
    "latency_tail_s": "s",
}
# 32 shards, as bench.py: packing windows parallelize per (sink, shard)
CFG = PipelineConfig(n_shards=32)
# turns in the small input a trace run measures off-path layers over
PROBE_ROWS = 5_000
# the probe's kill/resume cycle: killed after one bucket, it replays 8
# buckets as batch_resume does, in 9 bucket runs instead of 16
PROBE_BUCKETS, PROBE_FAIL_AFTER = 9, 1


def write_synth(spark, path: str, rows: int, seed: int, **kw) -> None:
    synth_transcripts(
        spark, n_rows=rows, n_convs=max(rows // 100, 1), seed=seed, **kw
    ).write.mode("overwrite").parquet(path)


def oracle_counts(input_dir: str, max_span_size: int) -> dict:
    """Expected job outcome counts, computed by DuckDB from the frozen SQL
    twin of the pipeline (functions/sqlgen.py) over the input parquet."""
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW transcripts AS SELECT * FROM "
            f"read_parquet('{input_dir}/*.parquet')"
        )
        chain = sqlgen.pipeline_with(
            sqlgen.INVALID_CTE, sqlgen.FILLED_CTE, sqlgen.VALID_CTE,
            sqlgen.ROUTED_CTE, sqlgen.OUTCOME_CTE,
        )
        by_outcome = dict(
            con.execute(
                chain + " SELECT outcome, count(*) FROM outcomes GROUP BY outcome"
            ).fetchall()
        )
        refused = con.execute(
            sqlgen.pipeline_with(sqlgen.INVALID_CTE)
            + " SELECT count(*) FROM transcripts JOIN invalid_convs USING (conv_id)"
        ).fetchone()[0]
        # truncation drops a span only when even its marker exceeds the cap
        marker_len = f"({len(TRUNC_MARKER) + 2} + length(CAST(length(text) AS VARCHAR)))"
        fatal = con.execute(
            f"SELECT count(*) FROM transcripts WHERE length(text) > {max_span_size} "
            f"AND {max_span_size} - {marker_len} < 0"
        ).fetchone()[0]
    finally:
        con.close()
    return {
        "by_outcome": {k: int(v) for k, v in by_outcome.items()},
        "rejected_rows": int(refused),
        "fatal_rows": int(fatal),
    }


def resume_cycle(spark, input_dir: str, out: str, n_buckets: int, fail_after: int):
    """A bucketed job killed after fail_after buckets, then re-invoked.
    Returns (crashed, first_pass_s, replay_s, replay JobResult)."""
    t0 = time.perf_counter()
    crashed = False
    try:
        job_mod.run_job(spark, spark.read.parquet(input_dir), out, cfg=CFG,
                        n_buckets=n_buckets, fail_after=fail_after)
    except RuntimeError:
        crashed = True
    t1 = time.perf_counter()
    replay = job_mod.run_job(spark, spark.read.parquet(input_dir), out, cfg=CFG,
                             n_buckets=n_buckets)
    return crashed, t1 - t0, time.perf_counter() - t1, replay


def write_packed(spark, input_dir: str, packed_dir: str) -> None:
    """The accepted, batch-assigned rows the sink encoder consumes."""
    res = run_pipeline(spark, spark.read.parquet(input_dir), CFG)
    packed = assign_batches(res.routed.filter(F.col("outcome") == "accepted"), CFG)
    packed.select("sink", "shard_id", "batch_no", "conv_id", "turn_idx", "text") \
        .write.parquet(packed_dir)


def encode_once(spark, packed_dir: str, out: str) -> float:
    t = time.perf_counter()
    encode_records(spark.read.parquet(packed_dir), framing="proto").write.parquet(out)
    return time.perf_counter() - t


def _sum_outcomes(manifests: list[dict]) -> dict:
    total: dict = {}
    for m in manifests:
        for k, v in m["by_outcome"].items():
            total[k] = total.get(k, 0) + v
    return total


def _without_time(manifest: dict) -> dict:
    return {k: v for k, v in manifest.items() if k != "completed_at"}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Workload:
    name = ""
    SIZES: dict = {}
    NAMES: dict = {}
    # layer groups ("resume", "encode", "stream") on the workload's own
    # measured path; a trace run measures the others over a small input
    OWN: frozenset = frozenset()
    cfg = CFG

    def __init__(self, seed: int, scale: str, work: str, seconds: float,
                 corrupt: bool = False):
        self.seed = seed
        self.size = self.SIZES[scale]
        self.work = work
        self.seconds = seconds
        self.corrupt = corrupt
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        # per-layer values observed while measuring (trace runs only)
        self.layer: dict = {}
        # input the prefix-chain trace replays, and the routed rows and
        # fatal truncations it must end with
        self.prefix_input: str | None = None
        self.routed_rows: int | None = None
        self.fatal_rows: int | None = None

    def count(self, what: str, problems: list[str], n: int = 1) -> None:
        """Record n operations; any problem makes one of them a failure."""
        self.attempted += n
        if problems:
            self.fail(f"{what}: " + "; ".join(problems))

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.failures.append(msg)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def prepare_warm_up(self, spark) -> None:
        pass

    def prepare(self, spark) -> None:
        pass

    def trace(self, spark, tracer) -> dict:
        """Per-layer figures of the layers off this workload's path,
        measured after the run over a small input from the same seed, so
        that every per-layer metric a trace run reports is measured.
        job.* and pipeline.construct_s come from the resume probe only
        when the workload has no traced job of its own."""
        out = {}
        probe = self.path("probe")
        write_synth(spark, probe, PROBE_ROWS, self.seed)
        expected = oracle_counts(probe, CFG.max_span_size)["by_outcome"]
        if "resume" not in self.OWN:
            out.update(self._probe_resume(spark, tracer, probe, expected))
        if "encode" not in self.OWN:
            out.update(self._probe_encode(spark, probe, expected.get("accepted", 0)))
        if "stream" not in self.OWN:
            out.update(self._probe_stream(spark, tracer))
        if self.routed_rows is None:
            exp = oracle_counts(self.prefix_input, CFG.max_span_size)
            self.routed_rows = sum(exp["by_outcome"].values())
            self.fatal_rows = exp["fatal_rows"]
        return out

    def _probe_resume(self, spark, tracer, probe: str, expected: dict) -> dict:
        out_dir = self.path("probe-resume")
        with tracer.job(spark, True) as span:
            crashed, first_s, replay_s, replay = resume_cycle(
                spark, probe, out_dir, PROBE_BUCKETS, PROBE_FAIL_AFTER)
        stats = span.stats()
        total = _sum_outcomes(job_mod.read_all_manifests(out_dir))
        self.count("probe resume cycle",
                   [] if crashed and total == expected
                   else [f"resumed by_outcome {total} != oracle {expected}"], n=2)
        return {
            **stats,
            "job.buckets_replayed": len(replay.buckets_run),
            "resume.first_pass_s": first_s,
            "resume.replay_s": replay_s,
            "resume.construct_s": stats["pipeline.construct_s"],
        }

    def _probe_encode(self, spark, probe: str, accepted: int) -> dict:
        write_packed(spark, probe, self.path("probe-packed"))
        out = self.path("probe-records")
        enc_s = encode_once(spark, self.path("probe-packed"), out)
        t = pq.read_table(out, columns=["span_count", "uncompressed_bytes", "compressed_bytes"])
        spans = sum(t.column("span_count").to_pylist())
        self.count("probe encode", [] if spans == accepted
                   else [f"span_count sum {spans} != accepted rows {accepted}"])
        return {
            "encode.exec_s": enc_s,
            "encode.records": t.num_rows,
            "encode.compress_factor": sum(t.column("uncompressed_bytes").to_pylist())
            / sum(t.column("compressed_bytes").to_pylist()),
        }

    def _probe_stream(self, spark, tracer) -> dict:
        """A toy-size open-loop stream run; its files count as operations."""
        stream = StreamOpenLoop(self.seed, "toy", self.path("probe-stream"), seconds=2)
        os.makedirs(stream.work)
        stream.prepare(spark)
        stream.measure(spark, tracer)
        self.attempted += stream.attempted
        self.failed += stream.failed
        self.failures += stream.failures
        return {k: v for k, v in stream.layer.items() if k.startswith("stream.")}

    def named_metrics(self) -> dict:
        """The end-to-end figures under this workload's own names."""
        e = self.end_to_end()
        return {name: (e[k], unit) for k, (name, unit) in self.NAMES.items()}

    def expect(self) -> dict:
        exp = oracle_counts(self.path("input"), CFG.max_span_size)
        if self.corrupt:
            exp["by_outcome"]["accepted"] += 1
        return exp


class _Timer:
    """Alternates traced and untraced operations in a trace run, so the
    tracing overhead is the ratio of their medians within one run."""

    def __init__(self, tracer: layers.Tracer):
        self.tracer = tracer
        self.plain: list[float] = []
        self.traced: list[float] = []

    @property
    def min_ops(self) -> int:
        # a trace run needs one untraced and one traced operation
        return 2 if self.tracer.enabled else 1

    def is_traced(self, i: int) -> bool:
        return self.tracer.enabled and i % 2 == 1

    def add(self, i: int, seconds: float) -> None:
        (self.traced if self.is_traced(i) else self.plain).append(seconds)

    def overhead(self) -> float:
        if not (self.traced and self.plain):
            return 0.0
        return _median(self.traced) / _median(self.plain) - 1.0


class BatchBulk(Workload):
    """run_job(n_buckets=None) over uniform synthetic turns: the data-volume
    path (scan, window, parse, route, shard, pack, routed/metrics writes)."""

    name = "batch_bulk"
    NAMES = {
        "rows_per_s": ("bulk_turns_per_s", "turns/s"),
        "latency_s": ("bulk_job_p50_s", "s"),
        "latency_tail_s": ("bulk_job_max_s", "s"),
    }
    SIZES = {"full": {"rows": 150_000}, "toy": {"rows": 20_000}}
    WARM_ROWS = 1_000

    def prepare_warm_up(self, spark) -> None:
        write_synth(spark, self.path("warm"), self.WARM_ROWS, self.seed)

    def prepare(self, spark) -> None:
        write_synth(spark, self.path("input"), self.size["rows"], self.seed)
        self.expected = self.expect()
        self.prefix_input = self.path("input")
        self.fatal_rows = self.expected["fatal_rows"]
        self.reference = None

    def warm_up(self, spark) -> None:
        out = self.path("warm-out")
        job_mod.run_job(spark, spark.read.parquet(self.path("warm")), out,
                        cfg=CFG, n_buckets=None)
        shutil.rmtree(out)

    def check(self, manifest: dict) -> list[str]:
        problems = []
        if manifest["by_outcome"] != self.expected["by_outcome"]:
            problems.append(f"by_outcome {manifest['by_outcome']} != oracle "
                            f"{self.expected['by_outcome']}")
        if manifest["rejected_rows"] != self.expected["rejected_rows"]:
            problems.append(f"rejected {manifest['rejected_rows']} != oracle "
                            f"{self.expected['rejected_rows']}")
        m = _without_time(manifest)
        if self.reference is None:
            self.reference = m
        elif m != self.reference:
            problems.append("manifest differs from the first rep")
        return problems

    def measure(self, spark, tracer) -> None:
        self.timer = timer = _Timer(tracer)
        deadline = time.perf_counter() + self.seconds
        i = 0
        while i < timer.min_ops or time.perf_counter() < deadline:
            out = self.path(f"out-{i}")
            with tracer.job(spark, timer.is_traced(i)) as span:
                t = time.perf_counter()
                res = job_mod.run_job(spark, spark.read.parquet(self.path("input")),
                                      out, cfg=CFG, n_buckets=None)
                timer.add(i, time.perf_counter() - t)
            self.count(f"job {i}", self.check(res.manifests[0]))
            self.routed_rows = res.manifests[0]["routed_rows"]
            shutil.rmtree(out)
            span.collect()
            i += 1
        self.layer["trace.overhead_frac"] = timer.overhead()

    def end_to_end(self) -> dict:
        job_s = self.timer.plain
        return {
            "rows_per_s": self.size["rows"] / _median(job_s),
            "latency_s": _median(job_s),
            "latency_tail_s": max(job_s),
        }


class BatchResume(Workload):
    """A bucketed job killed after half its buckets, then re-invoked: the
    fixed-cost path (per-bucket plan construction and jobs, manifests, the
    bucket thread pool), with a hot conversation and XL spans."""

    name = "batch_resume"
    NAMES = {
        "rows_per_s": ("resume_turns_per_s", "turns/s"),
        "latency_s": ("resume_replay_s", "s"),
        "latency_tail_s": ("resume_first_pass_s", "s"),
    }
    OWN = frozenset({"resume"})
    N_BUCKETS = 16
    FAIL_AFTER = 8
    SIZES = {
        "full": {"rows": 100_000, "hot": 0.1, "oversize_every": 25_000,
                 "oversize_len": 2_000_000},
        "toy": {"rows": 20_000, "hot": 0.1, "oversize_every": 10_000,
                "oversize_len": 1_000_000},
    }

    def prepare_warm_up(self, spark) -> None:
        # the warm-up is a clean run over the measured input
        s = self.size
        write_synth(spark, self.path("input"), s["rows"], self.seed,
                    hot_conv_fraction=s["hot"], oversize_every=s["oversize_every"],
                    oversize_len=s["oversize_len"])
        self.clean = None

    def prepare(self, spark) -> None:
        self.expected = self.expect()
        self.prefix_input = self.path("input")
        self.routed_rows = sum(self.expected["by_outcome"].values())
        self.fatal_rows = self.expected["fatal_rows"]
        self.reference = None

    def warm_up(self, spark) -> None:
        # The first job of the set-up is a clean single-pass run; its
        # manifest is the reference every resumed cycle must add up to.
        out = self.path("clean")
        res = job_mod.run_job(spark, spark.read.parquet(self.path("input")), out,
                              cfg=CFG, n_buckets=None)
        shutil.rmtree(out)
        if self.clean is None:
            self.clean = _without_time(res.manifests[0])

    def check(self, out: str, crashed: bool, replay) -> list[str]:
        problems = []
        if not crashed:
            problems.append("first pass did not stop at the injected failure")
        if len(replay.buckets_run) != self.N_BUCKETS - self.FAIL_AFTER:
            problems.append(f"replayed {len(replay.buckets_run)} buckets")
        mans = job_mod.read_all_manifests(out)
        if len(mans) != self.N_BUCKETS:
            problems.append(f"{len(mans)} manifests")
        total = _sum_outcomes(mans)
        if total != self.expected["by_outcome"]:
            problems.append(f"by_outcome {total} != oracle {self.expected['by_outcome']}")
        rejected = sum(m["rejected_rows"] for m in mans)
        checksum = sum(m["checksum"] for m in mans)
        if (total, rejected, checksum) != (
            self.clean["by_outcome"], self.clean["rejected_rows"], self.clean["checksum"]
        ):
            problems.append("first pass + replay differ from a clean run")
        per_bucket = [_without_time(m) for m in mans]
        if self.reference is None:
            self.reference = per_bucket
        elif per_bucket != self.reference:
            problems.append("bucket manifests differ from the first rep")
        return problems

    def measure(self, spark, tracer) -> None:
        self.timer = timer = _Timer(tracer)
        self.first_s: list[float] = []
        self.replay_s: list[float] = []
        deadline = time.perf_counter() + self.seconds
        i = 0
        while i < timer.min_ops or time.perf_counter() < deadline:
            out = self.path(f"out-{i}")
            with tracer.job(spark, timer.is_traced(i)) as span:
                crashed, first_s, replay_s, replay = resume_cycle(
                    spark, self.path("input"), out, self.N_BUCKETS, self.FAIL_AFTER)
            timer.add(i, first_s + replay_s)
            if not timer.is_traced(i):
                self.first_s.append(first_s)
                self.replay_s.append(replay_s)
            # two jobs: the killed attempt and the re-invocation
            self.count(f"cycle {i}", self.check(out, crashed, replay), n=2)
            self.layer["job.buckets_replayed"] = len(replay.buckets_run)
            shutil.rmtree(out)
            span.collect()
            i += 1
        self.layer["trace.overhead_frac"] = timer.overhead()
        self.layer["resume.first_pass_s"] = _median(self.first_s)
        self.layer["resume.replay_s"] = _median(self.replay_s)

    def trace(self, spark, tracer) -> dict:
        # here every traced operation is a whole kill/resume cycle
        return {**super().trace(spark, tracer), "resume.construct_s": _median(
            [s["pipeline.construct_s"] for s in tracer.job_stats])}

    def end_to_end(self) -> dict:
        return {
            "rows_per_s": self.size["rows"] / _median(self.timer.plain),
            "latency_s": _median(self.replay_s),
            "latency_tail_s": _median(self.first_s),
        }


class StreamOpenLoop(Workload):
    """stream_transcripts -> forward_fill_stateful -> fan_out ->
    with_send_outcome -> write_sinks_stream, fed open loop: a generator
    thread moves pre-built parquet files into the watched directory on a
    fixed schedule, then drops one burst of files at once."""

    name = "stream_open_loop"
    NAMES = {
        "latency_s": ("stream_lag_p50_s", "s"),
        "latency_tail_s": ("stream_lag_tail_s", "s"),
        "rows_per_s": ("stream_burst_rows_per_s", "rows/s"),
    }
    OWN = frozenset({"stream"})
    SIZES = {
        "full": {"convs": 400, "rows_per_file": 250, "interval_s": 0.13,
                 "burst_files": 32, "max_files": 64},
        "toy": {"convs": 50, "rows_per_file": 100, "interval_s": 0.5,
                "burst_files": 4, "max_files": 4},
    }

    def prepare_warm_up(self, spark) -> None:
        # warm-up queries read a copy of one file, with their own state
        self.warm_file = self._stage(spark, "warm", 1, self.seed)[0]
        self.warm_runs = 0

    def prepare(self, spark) -> None:
        s = self.size
        self.n_sched = max(int(self.seconds / s["interval_s"]), 4)
        n_files = self.n_sched + s["burst_files"]
        self.files = self._stage(spark, "stage", n_files, self.seed)
        self.expected = self._batch_twin(self.files)
        if self.corrupt:
            self.expected[min(self.expected)] += 1

    def _stage(self, spark, name: str, n_files: int, seed: int) -> list[str]:
        """Write n_files parquet files whose turns ascend file by file, so a
        conversation's turns reach the stateful fill in order, and stamp
        their mtimes in that order (the file source orders by mtime)."""
        s = self.size
        d = self.path(name)
        (
            synth_transcripts(spark, n_rows=n_files * s["rows_per_file"],
                              n_convs=s["convs"], seed=seed)
            .repartitionByRange(n_files, "turn_idx", "conv_id")
            .sortWithinPartitions("turn_idx", "conv_id")
            .write.parquet(d)
        )
        files = sorted(glob.glob(os.path.join(d, "part-*.parquet")))
        now = time.time()
        for k, f in enumerate(files):
            os.utime(f, (now - len(files) + k, now - len(files) + k))
        return files

    @staticmethod
    def _batch_twin(files: list[str]) -> dict:
        """(sink, outcome) counts of the batch fan-out of the same files,
        from the frozen SQL twin of fill -> fan-out -> outcome, in DuckDB
        (the stream applies no protocol filter, so every row is valid)."""
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW transcripts AS SELECT * FROM read_parquet({files!r})")
            chain = sqlgen.pipeline_with(
                sqlgen.FILLED_CTE, "valid AS (SELECT * FROM filled)",
                sqlgen.ROUTED_CTE, sqlgen.OUTCOME_CTE,
            )
            rows = con.execute(
                chain + " SELECT sink, outcome, count(*) FROM outcomes GROUP BY 1, 2"
            ).fetchall()
        finally:
            con.close()
        return {(sink, outcome): n for sink, outcome, n in rows}

    @staticmethod
    def _committed(out: str) -> dict:
        """(sink, outcome) counts of every epoch the stream committed."""
        con = duckdb.connect()
        try:
            rows = con.execute(
                "SELECT sink, outcome, count(*) FROM read_parquet("
                f"'{out}/epoch=*/sink=*/*.parquet', hive_partitioning = true) GROUP BY 1, 2"
            ).fetchall()
        finally:
            con.close()
        return {(sink, outcome): n for sink, outcome, n in rows}

    def _query(self, spark, src: str, out: str, ckpt: str):
        routes = fixtures.routes_df(spark)
        stream = stream_transcripts(spark, src, max_files_per_trigger=self.size["max_files"])
        routed = with_send_outcome(fan_out(forward_fill_stateful(stream), routes))
        return write_sinks_stream(routed, out, ckpt)

    def warm_up(self, spark) -> None:
        # the first micro-batch of a fresh query over one file
        k = self.warm_runs
        self.warm_runs += 1
        src = self.path(f"warm-src-{k}")
        os.makedirs(src)
        shutil.copy(self.warm_file, src)
        q = self._query(spark, src, self.path(f"warm-out-{k}"), self.path(f"warm-ckpt-{k}"))
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    def measure(self, spark, tracer) -> None:
        s = self.size
        src, out, ckpt = self.path("src"), self.path("out"), self.path("ckpt")
        os.makedirs(src)
        self.prefix_input = src
        q = self._query(spark, src, out, ckpt)
        drops: list[tuple[str, float, float]] = []  # (name, due, actual)
        poll_stop = threading.Event()
        busy: list[bool] = []

        def poll():
            # trace only: sample from the driver whether a trigger is running
            while not poll_stop.wait(0.1):
                busy.append(q.status["isTriggerActive"])

        try:
            t0 = time.time() + 0.5
            poller = None
            half = self.n_sched // 2
            for i in range(self.n_sched):
                due = t0 + i * s["interval_s"]
                time.sleep(max(0.0, due - time.time()))
                if tracer.enabled and i == half:
                    poller = threading.Thread(target=poll, daemon=True)
                    poller.start()
                name = f"f{i:05d}.parquet"
                os.rename(self.files[i], os.path.join(src, name))
                drops.append((name, due, time.time()))
            q.processAllAvailable()
            if poller is not None:
                poll_stop.set()
                poller.join()
            burst_due = time.time()
            for i in range(self.n_sched, len(self.files)):
                name = f"f{i:05d}.parquet"
                os.rename(self.files[i], os.path.join(src, name))
                drops.append((name, burst_due, time.time()))
            q.processAllAvailable()
            progress = q.recentProgress
        finally:
            poll_stop.set()
            q.stop()
        commit_t = self._commit_times(ckpt)
        missing = [name for name, _, _ in drops if name not in commit_t]
        sched = [commit_t[n] - due for n, due, _ in drops[: self.n_sched] if n in commit_t]
        burst_rows = s["rows_per_file"] * s["burst_files"]
        burst_commit = max(commit_t.get(n, burst_due) for n, _, _ in drops[self.n_sched:])
        self.lag_s = sched
        self.burst_rows_per_s = burst_rows / max(burst_commit - burst_due, 1e-9)
        got = self._committed(out)
        self.attempted += len(drops)
        for name in missing:
            self.fail(f"file {name}: never committed")
        if got != self.expected:
            self.fail(f"per-sink commits: stream {got} != batch {self.expected}")
        # per-layer values for the trace
        self.layer.update(layers.stream_progress(progress))
        # files dropped but not yet committed, at each scheduled drop
        self.layer["stream.backlog_files_max"] = max(
            sum(1 for _, d, _ in drops if d <= due) - sum(1 for t in commit_t.values() if t <= due)
            for _, due, _ in drops[: self.n_sched]
        )
        self.layer["stream.gen_late_ms_max"] = 1000 * max(a - d for _, d, a in drops[: self.n_sched])
        pct, _ = self._tail(sched)
        self.layer["stream.tail_pct"] = pct
        self.layer["stream.busy_frac"] = sum(busy) / len(busy) if busy else 0.0
        traced = sched[half:] if tracer.enabled else []
        self.layer["trace.overhead_frac"] = (
            _median(traced) / _median(sched[:half]) - 1.0 if traced else 0.0
        )

    @staticmethod
    def _commit_times(ckpt: str) -> dict:
        """file name -> wall time its micro-batch committed, from the
        query's own checkpoint: the file-source log says which batch took
        each file, and a batch's commit file is written when it ends."""
        batch_of = {}
        for f in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
            with open(f) as fh:
                for line in fh:
                    if line.startswith("{"):
                        e = json.loads(line)
                        batch_of[os.path.basename(e["path"])] = e["batchId"]
        commits = {}
        for f in glob.glob(os.path.join(ckpt, "commits", "*")):
            b = os.path.basename(f)
            if b.isdigit():
                commits[int(b)] = os.path.getmtime(f)
        return {n: commits[b] for n, b in batch_of.items() if b in commits}

    @staticmethod
    def _tail(xs: list[float]) -> tuple[float, float]:
        """Highest percentile with at least ten samples beyond it."""
        n = len(xs)
        if n < 11:
            return 100.0, max(xs)
        k = n - 10  # samples at or below the tail value
        pct = 100.0 * k / n
        return pct, sorted(xs)[k - 1]

    def end_to_end(self) -> dict:
        return {
            "rows_per_s": self.burst_rows_per_s,
            "latency_s": _median(self.lag_s),
            "latency_tail_s": self._tail(self.lag_s)[1],
        }

    def named_metrics(self) -> dict:
        named = super().named_metrics()
        pct, _ = self._tail(self.lag_s)
        named[f"stream_lag_tail_s (p{pct:.0f} of {len(self.lag_s)} files)"] = \
            named.pop("stream_lag_tail_s")
        return named


class SinkEncode(Workload):
    """encode_records(framing='proto') over a packed table built in
    prepare: the omnishard encoder's grouped Arrow-Python + gzip path."""

    name = "sink_encode"
    NAMES = {
        "rows_per_s": ("encode_rows_per_s", "rows/s"),
        "latency_s": ("encode_call_p50_s", "s"),
        "latency_tail_s": ("encode_call_max_s", "s"),
    }
    OWN = frozenset({"encode"})
    SIZES = {"full": {"rows": 100_000}, "toy": {"rows": 10_000}}

    def prepare_warm_up(self, spark) -> None:
        # the warm-up encodes part of the measured packed table
        write_synth(spark, self.path("input"), self.size["rows"], self.seed)
        self.prefix_input = self.path("input")
        write_packed(spark, self.path("input"), self.path("packed"))
        con = duckdb.connect()
        try:
            self.packed_rows, self.n_records = con.execute(
                "SELECT count(*), count(DISTINCT (sink, shard_id, batch_no)) FROM "
                f"read_parquet('{self.path('packed')}/*.parquet')"
            ).fetchone()
        finally:
            con.close()
        if self.corrupt:
            self.packed_rows += 1
        self.digest = None

    def warm_up(self, spark) -> None:
        # first encode: one record per (sink, shard)
        out = self.path("warm-out")
        encode_records(
            spark.read.parquet(self.path("packed")).filter(F.col("batch_no") == 0),
            framing="proto",
        ).write.mode("overwrite").parquet(out)
        shutil.rmtree(out)

    def check(self, out: str) -> list[str]:
        t = pq.read_table(out)
        problems = []
        if t.num_rows != self.n_records:
            problems.append(f"{t.num_rows} records != {self.n_records}")
        spans = sum(t.column("span_count").to_pylist())
        if spans != self.packed_rows:
            problems.append(f"span_count sum {spans} != packed rows {self.packed_rows}")
        keyed = sorted(zip(t.column("sink").to_pylist(), t.column("shard_id").to_pylist(),
                           t.column("batch_no").to_pylist(), t.column("data").to_pylist()))
        digest = hashlib.sha256(b"".join(d for *_, d in keyed)).hexdigest()
        if self.digest is None:
            # full round trip once; later reps must be byte-identical
            spans_of = dict(zip(
                zip(t.column("sink").to_pylist(), t.column("shard_id").to_pylist(),
                    t.column("batch_no").to_pylist()),
                t.column("span_count").to_pylist(),
            ))
            for sink, shard, batch, data in keyed:
                if len(decode_record(data, framing="proto")) != spans_of[(sink, shard, batch)]:
                    problems.append(f"record {(sink, shard, batch)} does not round-trip")
                    break
            self.digest = digest
            self.uncompressed = sum(t.column("uncompressed_bytes").to_pylist())
            self.compressed = sum(t.column("compressed_bytes").to_pylist())
        elif digest != self.digest:
            problems.append("records differ from the first rep")
        return problems

    def measure(self, spark, tracer) -> None:
        self.timer = timer = _Timer(tracer)
        deadline = time.perf_counter() + self.seconds
        i = 0
        while i < timer.min_ops or time.perf_counter() < deadline:
            out = self.path(f"rec-{i}")
            timer.add(i, encode_once(spark, self.path("packed"), out))
            self.count(f"encode {i}", self.check(out))
            shutil.rmtree(out)
            i += 1
        self.layer.update({
            "encode.exec_s": _median(timer.traced),
            "encode.records": self.n_records,
            "encode.compress_factor": self.uncompressed / self.compressed,
            "trace.overhead_frac": timer.overhead(),
        })

    def end_to_end(self) -> dict:
        enc = self.timer.plain
        return {
            "rows_per_s": self.packed_rows / _median(enc),
            "latency_s": _median(enc),
            "latency_tail_s": max(enc),
        }


WORKLOADS = {w.name: w for w in (BatchBulk, BatchResume, StreamOpenLoop, SinkEncode)}
