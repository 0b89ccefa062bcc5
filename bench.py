#!/usr/bin/env python
"""Benchmark harness — one JSON line per run (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The flagship measurement is the full parse→enrich→route→aggregate
pipeline over a deterministic synthetic transcript table
(SPARK_GRAFT_BENCH_ROWS turns, default 2,000,000) — the turns/sec
number BASELINE.md targets. Per-query timings for representative
operators at the sf dir ride along in "queries".
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import shutil  # noqa: E402
import tempfile  # noqa: E402

from pyspark.sql import functions as F  # noqa: E402

from apm_opentelemetry_collector_spark.config import PipelineConfig  # noqa: E402
from apm_opentelemetry_collector_spark.plans.job import run_job  # noqa: E402
from apm_opentelemetry_collector_spark.session import get_spark  # noqa: E402
from apm_opentelemetry_collector_spark.sources.transcripts import (  # noqa: E402
    synth_transcripts,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
BENCH_ROWS = int(os.environ.get("SPARK_GRAFT_BENCH_ROWS", "2000000"))
# more shards than the 4-shard correctness fixture: packing windows
# parallelize per (sink, shard), so the bench uses a production-like count
BENCH_CFG = PipelineConfig(n_shards=32)


def time_pipeline_e2e(spark, n_rows: int, workdir: str) -> float:
    """Materialize a synthetic input table (untimed — it stands in for the
    pre-existing Iceberg table), then time the full job: scan → validate →
    fill → parse → enrich → route → outcome → shard → pack → write routed
    per-sink + rejected + metric aggregates + lineage manifest."""
    inp = os.path.join(workdir, "input")
    if not os.path.isdir(inp):
        tr = synth_transcripts(spark, n_rows=n_rows, n_convs=max(n_rows // 100, 1))
        tr.write.mode("overwrite").parquet(inp)

    out = os.path.join(workdir, f"out_{time.time_ns()}")
    t0 = time.time()
    run_job(spark, spark.read.parquet(inp), out, cfg=BENCH_CFG, n_buckets=None)
    elapsed = time.time() - t0
    shutil.rmtree(out, ignore_errors=True)
    return elapsed


def main() -> None:
    spark = get_spark("bench", cores=CPUS, shuffle_partitions=CPUS * 2)
    import __spark_entry__ as entry

    # warm the JVM/codegen so the flagship number isn't startup-skewed
    spark.range(1000).select(F.sum("id")).collect()

    queries: dict[str, float] = {}

    t0 = time.time()
    headline = [
        "transcripts_derive",
        "sink_outcome_counts",
        "record_packing",
        "conservation",
        "metrics_translate",
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_local_supplier_volume",
        "knn_bruteforce",
        "asof_last_event",
        "metrics_resample",
        # r3 additions
        "weighted_reservoir",
        "tdigest_value_quantiles",
        "kmeans_assign",
        "tfidf_top_terms",
        "events_funnel",
        "rate_limit_exceeded",
        # r4 additions
        "value_percentiles_tdigest",
        "repeated_passages",
        # r5 additions
        "repeated_spans",
        "ewma_anomalies",
        "bigram_lm_scores",
        # r6 additions
        "span_cores",
        "pack_sequences",
        "mixture_weights",
        "gopher_quality_filters",
        "gopher_repetition",
        "c4_line_filters",
        "c4_span_dedup",
        "dsir_weights",
        "ccnet_buckets",
        "ngram_decontaminate",
        "decontaminate_splice",
        "exactsubstr_dedup",
        "curation_funnel",
        "trigram_lm_scores",
        "temperature_mixture",
        "tokenizer_fertility",
        "fineweb_filters",
    ]
    # Per-query: best-of-REPS, INTERLEAVED round-robin so a transient host
    # slowdown (documented 3-5× contention spikes) hits all queries alike
    # instead of poisoning one number. A fresh DataFrame per rep — timing
    # the same object twice reuses shuffle outputs (skipped stages).
    # Expensive queries stop repeating once past QUERY_BUDGET_S so the
    # whole bench stays under ~5 minutes. The flagship e2e rides INSIDE
    # this round-robin (r4 VERDICT #1): its reps are spread across the
    # whole bench window with a wider budget, so the recorded minimum
    # samples 3 well-separated instants of host load instead of two
    # adjacent ones — under the documented 3-5× contention spikes, the
    # minimum of spread samples tracks quiet-machine capacity.
    REPS = 3
    QUERY_BUDGET_S = 40.0
    SOFT_DEADLINE_S = 420.0
    E2E = "pipeline_e2e_synth"
    workdir = tempfile.mkdtemp(prefix="bench_")
    qmap = entry.queries()
    loop = [E2E] + headline
    times: dict[str, list[float]] = {name: [] for name in loop}
    try:
        for _rep in range(REPS):
            for name in loop:
                n = len(times[name])
                if n >= REPS:
                    continue
                if name != E2E:
                    # Budget caps use the MINIMUM so far and only after 2
                    # reps: a contention spike on rep 1 must neither lock
                    # in the spiky number nor stop the retry that would
                    # correct it (the flagship e2e is exempt entirely —
                    # its recorded minimum IS the headline).
                    if n >= 2 and sum(times[name]) + min(times[name]) > QUERY_BUDGET_S:
                        continue
                    if n >= 1 and time.time() - t0 > SOFT_DEADLINE_S:
                        continue
                if name == E2E:
                    times[name].append(
                        time_pipeline_e2e(spark, BENCH_ROWS, workdir)
                    )
                    continue
                t = time.time()
                # noop-sink write forces EVERY ROW of the full plan with
                # no driver transfer and no disk. count() (used through
                # r6) is NOT that: Catalyst prunes all columns under a
                # count, eliminating unique-key left joins and whole
                # projection pipelines — rewrite operators (exactsubstr,
                # c4_span_dedup) and pure-projection scorers (gopher,
                # c4_line_filters) timed as bare corpus counts. Numbers
                # recalibrate upward at the switch (BENCH/BASELINE.md
                # §2i); the flagship e2e is unaffected (run_job always
                # wrote real output).
                qmap[name](spark, SF_DIR).write.format("noop").mode(
                    "overwrite"
                ).save()
                times[name].append(time.time() - t)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    e2e = min(times[E2E])
    for name in loop:
        queries[name] = round(min(times[name]), 3)
    reps = {name: len(times[name]) for name in loop}

    total = round(time.time() - t0, 3)
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    out = {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "bench_rows": BENCH_ROWS,
        "turns_per_sec": round(BENCH_ROWS / e2e, 1),
        "cores": CPUS,
        "reps": reps,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
