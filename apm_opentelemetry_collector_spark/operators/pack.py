"""Record packing — size-budget batch assignment (W3).

Reference (exporter/omnishard/shard_encoder.go:274-296, default
factory.go:33): the shard encoder accumulates encoded spans and flushes a
record once the accumulated uncompressed size reaches MaxRecordSize
(default 100,000 B); the record's partitionKey is the FIRST span's
traceID (shard_encoder.go:211); per-record stats are spanCount and
uncompressedBytes (shard_encoder.go:209-214).

The reference batches by arrival order (non-deterministic under
concurrency); its tests assert only counts/sets (shard_encoder_test.go:
84-170), so the Spark engine replaces arrival order with the DEFINED
order (conv_id, turn_idx) — outputs become reproducible run-to-run, a
property the reference cannot offer. Golden compatibility holds: N spans
with a big budget → 1 record of SpanCount=N keyed by the first span; a
minimal budget → N records of 1.

Implementation: running byte total per (sink, shard_id) via a window
cumsum; batch_no = floor(previous_cumsum / max_record_size). A row is
packed into the batch that was open when it ARRIVED (matching the
reference's flush-after-append semantics: a record may overshoot the
budget by one span).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import PipelineConfig


def assign_batches(
    df: DataFrame,
    cfg: PipelineConfig | None = None,
    gate: F.Column | None = None,
) -> DataFrame:
    """Adds `batch_no` (int64) per (sink, shard_id) under the byte budget:
    rows are sized by the UTF-8 byte length of `text` (the oracle's
    strlen). A `bucket` column (a job wave's input, plans/job.py) is part
    of the window key too, so a record never spans job buckets.

    gate (optional bool Column): rows failing it contribute 0 bytes and
    get NULL batch_no — this packs exactly the gated subset (e.g. only
    accepted sends) without splitting the DataFrame into two scans.
    """
    cfg = cfg or PipelineConfig()
    size = F.octet_length("text")
    if gate is not None:
        size = F.when(gate, size).otherwise(F.lit(0))
    keys = ["bucket", "sink", "shard_id"] if "bucket" in df.columns else ["sink", "shard_id"]
    w = (
        Window.partitionBy(*keys)
        .orderBy("conv_id", "turn_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_cum = F.coalesce(F.sum(size).over(w), F.lit(0))
    batch = F.floor(prev_cum / F.lit(cfg.max_record_size)).cast("bigint")
    if gate is not None:
        batch = F.when(gate, batch).otherwise(F.lit(None).cast("bigint"))
    return df.withColumn("batch_no", batch)


def record_stats(packed: DataFrame) -> DataFrame:
    """Per-record stats: spanCount, uncompressedBytes, partition_key.

    partition_key = first row's conv_id in the defined order
    (shard_encoder.go:211 'first span's traceID').
    """
    return packed.groupBy("sink", "shard_id", "batch_no").agg(
        F.count("*").alias("span_count"),
        F.sum(F.octet_length("text")).alias("uncompressed_bytes"),
        F.min_by(
            F.col("conv_id"), F.struct(F.col("conv_id"), F.col("turn_idx"))
        ).alias("partition_key"),
    )

