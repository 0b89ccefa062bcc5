"""Materializing job runner — lineage manifests + checkpoint resume.

The reference's resilience machinery (retry queue exporter.go:194-235,
graceful drain encoder.go:226-263, SHARD_CONFIG_MISTMATCH re-send
exporter.go:260-267) exists because its pipeline is a lossy stream of
one-shot sends. The batch engine replaces it with idempotent partitioned
writes plus per-partition lineage manifests: work is divided into
conversation buckets; each bucket's outputs land under bucket-partitioned
directories (routed/bucket=b/sink=s/, rejected/bucket=b/,
metrics/bucket=b/) and a manifest, _manifests/bucket=b.json, records
(per-outcome counts, rejected rows, a checksum). A killed job, re-invoked
with the same arguments, REPLAYS ONLY the buckets without a manifest
(north_star: "a killed job replays only incomplete partitions").

The manifests are the commit record. A bucket's files appear under
routed/, rejected/ and metrics/ when its wave's writes commit, before its
manifest is written, and a killed write can leave some of them behind: a
reader of routed/ can see a bucket that has no manifest yet. Read only
the buckets _manifests/ names; a replay rewrites the others.

Scale design: the unit of resumability is the conv_id bucket — the same
key the input table is partitioned by (write_partitioned: ts_day ×
bucket(conv_id)), so a wave prunes its scan to its buckets' files and
buckets never overlap. The unit of work is a wave of WAVE_BUCKETS pending
buckets run as one plan; its writes use dynamic partition overwrite, so
a wave replaces its own buckets' directories and never a completed
bucket's. On a 1000-executor cluster you would raise N_BUCKETS to a few
thousand so stragglers re-run cheaply; locally 16 keeps job overhead
negligible. `buckets=None` runs the whole input as a single pass
(fastest when resume granularity is not needed).
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import time
import warnings
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..operators.aggregate import conv_bucket_col
from ..plans.pipeline import run_pipeline
from ..session import file_listing

# Pending buckets run this many at a time, as one plan: a kill loses at
# most one wave of in-flight buckets.
WAVE_BUCKETS = 4


def bucket_expr(n_buckets: int) -> F.Column:
    """Deterministic conversation bucket (engine-internal, xxhash-based).

    Unlike conv_bucket_col (oracle-friendly numeric-suffix bucket), the
    job runner buckets by hash so arbitrary conv_id shapes spread evenly.
    """
    return F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets))


@dataclass
class JobResult:
    out_dir: str
    buckets_run: list[int]
    buckets_skipped: list[int]
    manifests: list[dict]


def _manifest_path(out_dir: str, bucket: int) -> str:
    return os.path.join(out_dir, "_manifests", f"bucket={bucket}.json")


def _bucketed_marker(out_dir: str) -> str:
    return os.path.join(out_dir, "_bucketed", "_fingerprint.json")


def _write_json(path: str, payload: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f, sort_keys=True)
    os.replace(tmp, path)  # atomic: a record exists only when complete


def job_fingerprint(
    spark: SparkSession,
    transcripts: DataFrame,
    cfg: PipelineConfig,
    routes: DataFrame | None,
    shards: list[dict] | None,
) -> dict:
    """What a run's outputs depend on besides n_buckets, one digest per
    part: the config, the routing table and shard list as passed (None =
    the defaults), and the sorted (path, size, mtime) of the input files
    (an input that is not file-backed lists none). The routing table is a
    small config table; its sorted rows come back as one aggregate row."""
    if routes is not None:
        routes = routes.select(
            F.sort_array(F.collect_list(F.to_json(F.struct(*routes.columns))))
        ).first()[0]
    parts = {
        "config": dataclasses.asdict(cfg),
        "routing table": routes,
        "shard list": shards,
        "input listing": file_listing(spark, transcripts.inputFiles()),
    }
    return {
        k: hashlib.sha256(json.dumps(v, sort_keys=True, default=str).encode())
        .hexdigest()
        for k, v in parts.items()
    }


def completed_buckets(out_dir: str) -> set[int]:
    d = os.path.join(out_dir, "_manifests")
    if not os.path.isdir(d):
        return set()
    out = set()
    for name in os.listdir(d):
        if name.startswith("bucket=") and name.endswith(".json"):
            out.add(int(name[len("bucket="):-len(".json")]))
    return out


def _process(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    cfg: PipelineConfig,
    wave: list[int] | None,
    n_buckets: int | None,
    fingerprint: dict,
    routes: DataFrame | None = None,
    shards: list[dict] | None = None,
) -> list[dict]:
    """Run the pipeline over one wave of buckets (None = a single pass
    over all rows), write its outputs and return one manifest per bucket.

    Single materialization discipline: the routed rows (with outcome,
    shard, batch assignment) are written ONCE; every aggregate is then
    derived from the written files — no stage of the lineage is computed
    twice. The manifests record n_buckets and the job fingerprint so a
    resume under another bucket layout or fingerprint can be refused.
    """
    res = run_pipeline(spark, transcripts, cfg, routes=routes, shards=shards)
    keys = [] if wave is None else ["bucket"]
    sub = ["all"] if wave is None else []

    def _write(df: DataFrame, name: str, *parts: str) -> DataFrame:
        """Write df under out_dir/name, a wave's rows partitioned by
        bucket (dynamic overwrite: only this wave's buckets are
        replaced), and read this run's rows back, pruned. The schema is
        the written one: an empty bucket leaves no part file to infer it
        from, and empty buckets are legal (sparse inputs, layouts written
        with fewer buckets than requested)."""
        path = os.path.join(out_dir, name, *sub)
        w = df.write.mode("overwrite").partitionBy(*keys, *parts)
        if wave is not None:
            w = w.option("partitionOverwriteMode", "dynamic")
        w.parquet(path)
        back = spark.read.schema(df.schema).parquet(path)
        return back if wave is None else back.filter(F.col("bucket").isin(wave))

    sink_table = res.routed.withColumn(
        "conv_bucket", conv_bucket_col(cfg.n_conv_buckets)
    )

    # The routed chain (write → metrics aggregate → totals) and the
    # rejected chain (write → count) share no lineage, so they run as
    # two concurrent driver-submitted job chains (guide §2.6: actions
    # are only sequential because the driver calls them sequentially;
    # the rejected chain's tasks back-fill executors left idle by the
    # routed write's stragglers).

    def _routed_chain() -> list:
        # aggregates from the written table — ONE pruned scan (group
        # cols + crc only; parquet column pruning keeps text out)
        # produces the metric table, the outcome totals, and the lineage
        # checksum.
        sink_counts = _write(sink_table, "routed", "sink").groupBy(
            *keys, "sink", "conv_bucket", "role", "tool", "outcome"
        ).agg(
            F.count("*").alias("n"),
            F.sum(
                F.crc32(F.concat_ws("|", "conv_id", "turn_idx", "sink", "outcome"))
            ).alias("crc"),
        )
        # Metrics are written by Spark directly — never collected to the
        # driver: cardinality is sinks × n_conv_buckets × roles × tools
        # × outcomes, and n_conv_buckets is "a few thousand" on a real
        # cluster. The manifest totals come from a second aggregate over
        # the WRITTEN metrics table (tiny scan), collapsed to one row per
        # (bucket, outcome): bounded by WAVE_BUCKETS × #outcomes (≤4).
        return (
            _write(sink_counts, "metrics")
            .groupBy(*keys, "outcome")
            .agg(F.sum("n").alias("n"), F.sum("crc").alias("crc"))
            .collect()
        )

    def _rejected_chain() -> list:
        # one row per bucket of the wave (one row in the single pass)
        return _write(res.rejected, "rejected").groupBy(*keys).count().collect()

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        totals_f = pool.submit(_routed_chain)
        rejected_f = pool.submit(_rejected_chain)
        totals = totals_f.result()
        rejected = rejected_f.result()

    buckets = [None] if wave is None else wave
    by_outcome: dict = {b: {} for b in buckets}
    checksum = dict.fromkeys(buckets, 0)
    n_rejected = dict.fromkeys(buckets, 0)
    for r in totals:
        b = r["bucket"] if keys else None
        by_outcome[b][r["outcome"]] = int(r["n"])
        checksum[b] += int(r["crc"] or 0)
    for r in rejected:
        n_rejected[r["bucket"] if keys else None] = int(r["count"])
    return [
        {
            "bucket": b,
            "n_buckets": n_buckets,
            "fingerprint": fingerprint,
            "routed_rows": int(sum(by_outcome[b].values())),
            "by_outcome": by_outcome[b],
            "rejected_rows": n_rejected[b],
            "checksum": checksum[b],
            "completed_at": time.time(),
        }
        for b in buckets
    ]


def wave_input(transcripts: DataFrame, wave: list[int], n_buckets: int) -> DataFrame:
    """The input rows of a wave of buckets, with their bucket as column
    `bucket`, scan-pruned when the layout allows.

    If the input carries the write_partitioned `conv_bucket` partition
    column (same pmod(xxhash64(conv_id), n) bucketing as bucket_expr),
    filter on IT — the parquet scan then prunes to the wave's files
    (PartitionFilters; asserted in tests/test_plan_audit.py). The caller
    must run with the layout's n_buckets; run_job fails fast on a
    mismatch (validate_bucket_layout). Without the column, the bucket
    is computed on the fly, which cannot prune — run_job materializes the
    bucketed input ONCE in that case rather than rescanning per wave.
    The column is not named conv_bucket: the sink table's conv_bucket is
    the metrics bucket (conv_bucket_col), another function.
    """
    if "conv_bucket" in transcripts.columns:
        return transcripts.filter(F.col("conv_bucket").isin(wave)).withColumnRenamed(
            "conv_bucket", "bucket"
        )
    return transcripts.withColumn("bucket", bucket_expr(n_buckets)).filter(
        F.col("bucket").isin(wave)
    )


def validate_bucket_layout(transcripts: DataFrame, n_buckets: int) -> None:
    """Fail fast when a pre-bucketed layout disagrees with n_buckets.

    wave_input trusts an existing conv_bucket column; if the layout was
    written with MORE buckets than this run's n_buckets, rows with
    conv_bucket >= n_buckets would silently never be processed yet the
    job would complete and write manifests. conv_bucket is a partition
    column, so the distinct query below is answered from partition values
    (column-pruned scan, no data pages) — cheap even on a huge layout.
    """
    vals = [
        r[0]
        for r in transcripts.select("conv_bucket").distinct().collect()
    ]
    bad = sorted(
        (-1 if v is None else int(v))
        for v in vals
        if v is None or not 0 <= int(v) < n_buckets
    )
    if bad:
        raise ValueError(
            f"input layout has conv_bucket values {bad[:8]}{'...' if len(bad) > 8 else ''} "
            f"outside range({n_buckets}) (-1 = NULL); re-run with the layout's "
            "bucket count or drop the conv_bucket column to re-bucket on the fly"
        )
    # Fewer populated buckets than requested is NOT an error (rows are
    # still processed exactly once, and a sparse input can legitimately
    # leave buckets empty) — but a layout written with a smaller bucket
    # count silently coarsens manifest/resume granularity, so tell the
    # caller what the effective layout holds.
    effective = max((int(v) for v in vals), default=-1) + 1
    if effective < n_buckets:
        warnings.warn(
            f"input layout populates only buckets [0, {effective}) of the "
            f"requested {n_buckets}; buckets {effective}..{n_buckets - 1} will "
            "be empty and resume granularity follows the written layout",
            stacklevel=2,
        )


def _materialize_bucketed(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    n_buckets: int,
    fingerprint: dict,
) -> DataFrame:
    """One full input scan + partitioned write; wave reads then prune.

    Idempotent across resume: a completed `_bucketed` layout (its
    fingerprint record, written after Spark's _SUCCESS marker) is reused
    — a killed 16-bucket job replays only its incomplete buckets AND
    never rescans the raw input. check_manifest_layout has already
    refused a layout recorded under another n_buckets or fingerprint.
    """
    bucketed_dir = os.path.join(out_dir, "_bucketed")
    marker = _bucketed_marker(out_dir)
    if not os.path.exists(marker):
        (
            transcripts.withColumn("conv_bucket", bucket_expr(n_buckets))
            .write.mode("overwrite")
            .partitionBy("conv_bucket")
            .parquet(bucketed_dir)
        )
        _write_json(marker, {"n_buckets": n_buckets, "fingerprint": fingerprint})
    return spark.read.parquet(bucketed_dir)


def run_job(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    cfg: PipelineConfig | None = None,
    n_buckets: int | None = 16,
    fail_after: int | None = None,
    routes: DataFrame | None = None,
    shards: list[dict] | None = None,
) -> JobResult:
    """Run (or resume) the full job. Buckets with a manifest are skipped.

    Input scanning is pruned, never repeated: an input that already
    carries the write_partitioned conv_bucket layout is read per wave
    with partition pruning; any other input is bucket-partitioned to
    `out_dir/_bucketed` exactly once (reused on resume) so an N-bucket
    run costs one full scan + one write + N/WAVE_BUCKETS pruned reads,
    not N scans.

    The pending buckets run in order, WAVE_BUCKETS at a time: each wave
    is ONE run_pipeline plan (_process) whose writes are partitioned by
    bucket, and its manifests are written, one atomic rename per bucket,
    after the wave's writes commit. A record never spans buckets
    (assign_batches packs per bucket), so a bucket's outputs do not
    depend on which wave ran it.

    routes/shards override the default fixtures (e.g. loaded from the
    YAML service config). fail_after injects a crash after that many
    completed buckets (kill-replay tests): exactly the first fail_after
    pending buckets run and get their manifests before the injected
    error.

    Resuming is refused (ValueError) when out_dir holds manifests or a
    `_bucketed` layout written under a different n_buckets (bucket ids
    would not name the same rows, so skipping "completed" buckets would
    lose or double-count rows) or a different fingerprint (config, routing
    table, shard list or input files changed: outputs of two runs would
    mix).
    """
    if n_buckets is not None and n_buckets < 1:
        raise ValueError(
            f"n_buckets={n_buckets}: a bucketed job needs at least 1 bucket "
            "(None runs a single pass)"
        )
    cfg = cfg or PipelineConfig()
    fingerprint = job_fingerprint(spark, transcripts, cfg, routes, shards)
    check_manifest_layout(out_dir, n_buckets, fingerprint)
    manifests: list[dict] = []
    run: list[int] = []
    skipped: list[int] = []

    if n_buckets is None:
        if 0 in completed_buckets(out_dir):
            skipped.append(0)
        else:
            manifests = _process(spark, transcripts, out_dir, cfg, None, n_buckets,
                                 fingerprint, routes, shards)
            _write_json(_manifest_path(out_dir, 0), manifests[0])
            run.append(0)
        return JobResult(out_dir, run, skipped, manifests)

    done = completed_buckets(out_dir)
    skipped = sorted(b for b in range(n_buckets) if b in done)
    todo = [b for b in range(n_buckets) if b not in done]
    if "conv_bucket" in transcripts.columns:
        validate_bucket_layout(transcripts, n_buckets)
    elif len(todo) > 1:
        transcripts = _materialize_bucketed(
            spark, transcripts, out_dir, n_buckets, fingerprint
        )

    crash = fail_after is not None and len(todo) > fail_after
    if crash:
        todo = todo[:fail_after]

    for i in range(0, len(todo), WAVE_BUCKETS):
        wave = todo[i:i + WAVE_BUCKETS]
        for m in _process(spark, wave_input(transcripts, wave, n_buckets), out_dir,
                          cfg, wave, n_buckets, fingerprint, routes, shards):
            _write_json(_manifest_path(out_dir, m["bucket"]), m)
            manifests.append(m)
        run.extend(wave)
    if crash:
        raise RuntimeError(f"injected failure after {fail_after} buckets")
    return JobResult(out_dir, run, skipped, manifests)


def check_manifest_layout(
    out_dir: str, n_buckets: int | None, fingerprint: dict
) -> None:
    """Raise if out_dir holds manifests, or a `_bucketed` layout, written
    under another n_buckets (None = single pass) or another fingerprint
    (job_fingerprint); the error names the parts that differ."""
    records = read_all_manifests(out_dir)
    marker = _bucketed_marker(out_dir)
    if os.path.exists(marker):
        with open(marker) as f:
            records.append(json.load(f))
    for rec in records:
        if rec.get("n_buckets") != n_buckets:
            raise ValueError(
                f"{out_dir} holds outputs written with n_buckets={rec.get('n_buckets')}; "
                f"this run asks for n_buckets={n_buckets}. Resume with the original "
                "bucket count or write to a fresh out_dir"
            )
        recorded = rec.get("fingerprint") or {}
        changed = [k for k in fingerprint if recorded.get(k) != fingerprint[k]]
        if changed:
            raise ValueError(
                f"{out_dir} holds outputs written under another "
                f"{' and '.join(changed)}; resume with the original config, routes, "
                "shards and input or write to a fresh out_dir"
            )


def read_all_manifests(out_dir: str) -> list[dict]:
    d = os.path.join(out_dir, "_manifests")
    out = []
    for b in sorted(completed_buckets(out_dir)):
        with open(os.path.join(d, f"bucket={b}.json")) as f:
            out.append(json.load(f))
    return out
