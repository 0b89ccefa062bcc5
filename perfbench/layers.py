"""Traced run: per-layer metrics, measured from outside the package.

Spans are recorded in memory around the benchmark's calls into each layer
(the run_job call, and plans.job's lookup of run_pipeline, which this
module wraps for traced operations only). Counts come from Spark's live
status store (read through py4j; the UI stays disabled), from
StreamingQuery.recentProgress, and from a prefix replay of the
plans/pipeline.py operator chain: each prefix is written to the noop sink,
and a layer's exec_s is the increase over the prefix before it.

Every per-layer metric is measured on every workload: layers off a
workload's path are measured over a small input (Workload.trace).
"""

from __future__ import annotations

import contextlib
import resource
import statistics
import threading
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

from apm_opentelemetry_collector_spark.functions import sharding
from apm_opentelemetry_collector_spark.functions.parse import with_parsed
from apm_opentelemetry_collector_spark.operators.aggregate import sink_outcome_counts
from apm_opentelemetry_collector_spark.operators.enrich import enrich
from apm_opentelemetry_collector_spark.operators.forward_fill import forward_fill
from apm_opentelemetry_collector_spark.operators.pack import assign_batches
from apm_opentelemetry_collector_spark.operators.route import fan_out, with_send_outcome
from apm_opentelemetry_collector_spark.operators.truncate import truncate_oversize
from apm_opentelemetry_collector_spark.operators.validate import split_valid
from apm_opentelemetry_collector_spark.plans import job as job_mod
from apm_opentelemetry_collector_spark.sources import fixtures

# prefix chain: (layer, parent layer whose prefix it extends)
CHAIN = [
    ("sources", None),
    ("validate_fill", "sources"),
    ("parse", "validate_fill"),
    ("truncate", "parse"),
    ("enrich", "truncate"),
    ("route", "enrich"),
    ("sharding", "route"),
    ("pack", "sharding"),
    ("aggregate", "sharding"),
]

UNITS = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    **{f"{layer}.{m}": u for layer, _ in CHAIN
       for m, u in (("exec_s", "s"), ("rows_out", "count"))},
    "route.fanout_ratio": "ratio",
    "truncate.fatal_rows": "count",
    "aggregate.task_skew": "ratio",
    "pipeline.construct_s": "s",
    "job.spark_jobs": "count",
    "job.tasks": "count",
    "job.shuffle_write_mb": "MB",
    "job.spill_mb": "MB",
    "job.output_mb": "MB",
    "job.buckets_replayed": "count",
    "resume.first_pass_s": "s",
    "resume.replay_s": "s",
    "resume.construct_s": "s",
    "stream.batch_ms_p50": "ms",
    "stream.add_batch_ms_p50": "ms",
    "stream.state_update_ms": "ms",
    "stream.state_rows": "count",
    "stream.backlog_files_max": "count",
    "stream.tail_pct": "pct",
    "stream.busy_frac": "frac",
    "stream.gen_late_ms_max": "ms",
    "encode.exec_s": "s",
    "encode.records": "count",
    "encode.compress_factor": "ratio",
    "trace.overhead_frac": "frac",
}


class Tracer:
    """In-memory spans (name, start, end, parent op) plus per-op job stats."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple[str, float, float, int | None]] = []
        self.start_s: list[float] = []
        self.job_stats: list[dict] = []
        self._lock = threading.Lock()
        self._ops = 0

    def record(self, name: str, start: float, end: float, parent: int | None) -> None:
        with self._lock:
            self.spans.append((name, start, end, parent))

    @contextlib.contextmanager
    def job(self, spark, traced: bool):
        """Span one operation that submits jobs through plans.job. When
        traced, run_pipeline calls inside it are spanned (bucket threads
        included) and op.collect() reads its jobs from the status store."""
        op = _Op(self, spark, traced, self._ops)
        self._ops += 1
        if not traced:
            yield op
            return
        op.first_job = next_job_id(spark)
        orig = job_mod.run_pipeline

        def spanned(*a, **kw):
            t = time.perf_counter()
            try:
                return orig(*a, **kw)
            finally:
                self.record("pipeline.run_pipeline", t, time.perf_counter(), op.id)

        job_mod.run_pipeline = spanned
        t = time.perf_counter()
        try:
            yield op
        finally:
            job_mod.run_pipeline = orig
            self.record("job.op", t, time.perf_counter(), None)


class _Op:
    def __init__(self, tracer: Tracer, spark, traced: bool, op_id: int):
        self.tracer, self.spark, self.traced, self.id = tracer, spark, traced, op_id
        self.first_job = None

    def stats(self) -> dict:
        """Status-store figures of this op's jobs plus its time inside
        run_pipeline (summed over bucket threads)."""
        stats = job_stats(self.spark, self.first_job)
        stats["pipeline.construct_s"] = sum(
            e - s for n, s, e, p in self.tracer.spans
            if p == self.id and n == "pipeline.run_pipeline"
        )
        return stats

    def collect(self) -> None:
        if self.traced:
            self.tracer.job_stats.append(self.stats())


# --- Spark status store (py4j) ------------------------------------------------

def _store(spark):
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(30_000)
    return jsc.statusStore()


def _list(spark, seq) -> list:
    return list(spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))


def _doubles(spark, values):
    gw = spark.sparkContext._gateway
    arr = gw.new_array(gw.jvm.double, len(values))
    for i, v in enumerate(values):
        arr[i] = v
    return arr


def next_job_id(spark) -> int:
    jobs = _list(spark, _store(spark).jobsList(None))
    return max((j.jobId() for j in jobs), default=-1) + 1


def _stages_since(spark, first_job: int):
    ss = _store(spark)
    jobs = [j for j in _list(spark, ss.jobsList(None)) if j.jobId() >= first_job]
    ids = {int(s) for j in jobs for s in _list(spark, j.stageIds())}
    stages = [
        s for s in _list(spark, ss.stageList(None, False, False, _doubles(spark, []), None))
        if s.stageId() in ids
    ]
    return ss, jobs, stages


def job_stats(spark, first_job: int) -> dict:
    _, jobs, stages = _stages_since(spark, first_job)
    mb = 1e-6
    return {
        "job.spark_jobs": len(jobs),
        "job.tasks": sum(j.numCompletedTasks() for j in jobs),
        "job.shuffle_write_mb": mb * sum(s.shuffleWriteBytes() for s in stages),
        "job.spill_mb": mb * sum(s.diskBytesSpilled() for s in stages),
        "job.output_mb": mb * sum(s.outputBytes() for s in stages),
    }


def task_skew(spark, first_job: int) -> float:
    """max / median task run time of the busiest multi-task stage of the
    jobs since first_job."""
    ss, _, stages = _stages_since(spark, first_job)
    multi = [s for s in stages if s.numCompleteTasks() >= 2]
    if not multi:
        return 1.0
    busiest = max(multi, key=lambda s: s.executorRunTime())
    opt = ss.taskSummary(busiest.stageId(), busiest.attemptId(), _doubles(spark, [0.5, 1.0]))
    if not opt.isDefined():
        return 1.0
    median, top = _list(spark, opt.get().executorRunTime())
    return top / median if median else 1.0


# --- prefix chain of plans/pipeline.py -----------------------------------------

def prefix_chain(spark, input_dir: str, cfg) -> dict:
    """Write each prefix of the run_pipeline operator chain to the noop
    sink; returns per-layer exec_s / rows_out plus the ratios."""
    transcripts = spark.read.parquet(input_dir)
    valid, _ = split_valid(transcripts, cfg.backpressure_on)
    filled = forward_fill(valid)
    parsed = with_parsed(filled)
    truncated = truncate_oversize(parsed, cfg)
    enriched = enrich(truncated.drop("outcome", "drop_reason"), fixtures.service_dim_df(spark))
    routed = with_send_outcome(fan_out(enriched, fixtures.routes_df(spark)), cfg)
    sharded = sharding.assign_shard(routed, sharding.even_shards(cfg.n_shards), "conv_id", "left")
    frames = {
        "sources": transcripts,
        "validate_fill": filled,
        "parse": parsed,
        "truncate": truncated,
        "enrich": enriched,
        "route": routed,
        "sharding": sharded,
        "pack": assign_batches(sharded.filter(F.col("outcome") == "accepted"), cfg),
        "aggregate": sink_outcome_counts(sharded, cfg, salted=True),
    }
    wall, out = {}, {}
    for layer, parent in CHAIN:
        obs = Observation(layer)
        exprs = [F.count(F.lit(1)).alias("rows")]
        if layer == "truncate":
            exprs.append(F.sum(F.col("drop_reason").isNotNull().cast("int")).alias("fatal"))
        first = next_job_id(spark)
        t = time.perf_counter()
        # run_job drops these wide derived columns before writing, so the
        # job never evaluates them (parse's regexes are quadratic on XL
        # spans); the prefixes prune them the same way
        frames[layer].drop("parsed", "hash_key").observe(obs, *exprs) \
            .write.format("noop").mode("overwrite").save()
        wall[layer] = time.perf_counter() - t
        got = obs.get
        out[f"{layer}.rows_out"] = int(got["rows"])
        out[f"{layer}.exec_s"] = wall[layer] - (wall[parent] if parent else 0.0)
        if layer == "truncate":
            out["truncate.fatal_rows"] = int(got["fatal"] or 0)
        if layer == "aggregate":
            out["aggregate.task_skew"] = task_skew(spark, first)
    out["route.fanout_ratio"] = out["route.rows_out"] / max(out["enrich.rows_out"], 1)
    return out


def stream_progress(progress: list) -> dict:
    """Per-micro-batch figures from StreamingQuery.recentProgress."""
    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    if not data:
        return {}

    def med(key):
        return statistics.median(p["durationMs"].get(key, 0) for p in data)

    state = [p["stateOperators"][0] for p in data if p.get("stateOperators")]
    return {
        "stream.batch_ms_p50": med("triggerExecution"),
        "stream.add_batch_ms_p50": med("addBatch"),
        "stream.state_update_ms": statistics.median(s["allUpdatesTimeMs"] for s in state)
        if state else 0,
        "stream.state_rows": state[-1]["numRowsTotal"] if state else 0,
    }


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this driver process plus the Spark JVM."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
    return kb / 1024


def per_layer(spark, wl, tracer: Tracer) -> dict:
    """Every per-layer metric, measured: the workload's own path first,
    then its trace() probes for the layers off that path."""
    out = {"session.start_s": statistics.median(tracer.start_s)}
    # the workload's own traced jobs take precedence over the probes'
    out.update(wl.trace(spark, tracer))
    for key in {k for s in tracer.job_stats for k in s}:
        out[key] = statistics.median(s[key] for s in tracer.job_stats)
    out.update(wl.layer)
    chain = prefix_chain(spark, wl.prefix_input, wl.cfg)
    out.update(chain)
    problems = []
    if chain["sharding.rows_out"] != wl.routed_rows:
        problems.append(f"routed {chain['sharding.rows_out']} rows, "
                        f"the pipeline routed {wl.routed_rows}")
    if chain["truncate.fatal_rows"] != wl.fatal_rows:
        problems.append(f"truncate.fatal_rows {chain['truncate.fatal_rows']} != oracle "
                        f"{wl.fatal_rows}")
    wl.count("prefix chain", problems)
    out["session.peak_rss_mb"] = peak_rss_mb(spark)
    missing = UNITS.keys() - out.keys()
    if missing:
        raise RuntimeError(f"trace run measured no {sorted(missing)}")
    return {k: float(out[k]) for k in UNITS}


def span_summary(tracer: Tracer) -> dict:
    """name -> (count, total seconds) of the spans recorded in the run."""
    out: dict = {}
    for name, start, end, _ in tracer.spans:
        n, total = out.get(name, (0, 0.0))
        out[name] = (n + 1, total + end - start)
    return out
