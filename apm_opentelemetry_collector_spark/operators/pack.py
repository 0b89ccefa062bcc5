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
    group_cols: tuple[str, ...] = ("sink", "shard_id"),
    size_col: str = "text",
    gate: F.Column | None = None,
) -> DataFrame:
    """Adds `batch_no` (int64) per group under the byte budget: rows are
    sized by the UTF-8 byte length of `size_col` (the oracle's strlen).

    gate (optional bool Column): rows failing it contribute 0 bytes and
    get NULL batch_no — this packs exactly the gated subset (e.g. only
    accepted sends) without splitting the DataFrame into two scans.
    """
    cfg = cfg or PipelineConfig()
    size = F.octet_length(size_col)
    if gate is not None:
        size = F.when(gate, size).otherwise(F.lit(0))
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("conv_id", "turn_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_cum = F.coalesce(F.sum(size).over(w), F.lit(0))
    batch = F.floor(prev_cum / F.lit(cfg.max_record_size)).cast("bigint")
    if gate is not None:
        batch = F.when(gate, batch).otherwise(F.lit(None).cast("bigint"))
    return df.withColumn("batch_no", batch)


def record_stats(packed: DataFrame, group_cols: tuple[str, ...] = ("sink", "shard_id")) -> DataFrame:
    """Per-record stats: spanCount, uncompressedBytes, partition_key.

    partition_key = first row's conv_id in the defined order
    (shard_encoder.go:211 'first span's traceID').
    """
    return packed.groupBy(*group_cols, "batch_no").agg(
        F.count("*").alias("span_count"),
        F.sum(F.octet_length("text")).alias("uncompressed_bytes"),
        F.min_by(
            F.col("conv_id"), F.struct(F.col("conv_id"), F.col("turn_idx"))
        ).alias("partition_key"),
    )


SEQ_LEN = 256  # context-window token budget; renders into the oracle


def pack_sequences(
    docs: DataFrame,
    seq_len: int = SEQ_LEN,
    n_ranges: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Concat-and-chunk sequence packing for LLM pretraining: documents
    concatenated in `id_col` order into one token stream, the stream cut
    into fixed `seq_len`-token context windows, documents split across
    window boundaries (the standard GPT-style packing; contrast
    assign_batches, which never splits a row across records). Emits per
    document its global token offset and the chunk span it lands in —
    the metadata a training loader needs to materialize windows and the
    curation signal (boundary-crossing rate) packing QA dashboards plot.

    The global prefix sum is the scale problem: a single ORDER BY window
    funnels the corpus through ONE partition. Two-pass ranged design
    instead (the textbook distributed scan): (1) ONE keys-only range
    shuffle of (id, n_tokens) pairs — the text never moves; (2)
    per-partition token totals (n_ranges rows, bounded by config) get
    their exclusive prefix via a single-partition window over that TINY
    table; (3) partition offsets broadcast-join back and the
    within-partition running sum completes the global offset map-side of
    any further exchange. The ranged projection is persisted and
    reliably checkpointed so the totals branch and the join branch share
    ONE range exchange (and spark_partition_id, which is only
    well-defined against a materialized partitioning). Output is
    independent of n_ranges (tested), so partition count is purely a
    memory knob at 100 TB.

    Chunk math (empty docs occupy no chunk: n_chunks=0, end=start,
    crosses=false):
      start_chunk = start_tok // seq_len
      end_chunk   = (start_tok + n_tokens - 1) // seq_len
      n_chunks    = end_chunk - start_chunk + 1

    Oracle: __spark_entry__._pack_sequences_sql — one SUM() OVER
    (ORDER BY) window; fine in DuckDB at sf, the exact thing the ranged
    design replaces at scale. Reference analog: shard_encoder.go:274-296
    packs by a size budget per record; this is the token-budget,
    split-allowed variant training pipelines use.
    """
    from ..functions.text import token_count
    from ..session import ensure_checkpoint_dir

    spark = docs.sparkSession
    if n_ranges is None:
        n_ranges = spark.sparkContext.defaultParallelism
    ranged = (
        docs.select(F.col(id_col).alias("id"), token_count(text_col).alias("n_tokens"))
        .repartitionByRange(n_ranges, F.col("id"))
        .withColumn("pid", F.spark_partition_id())
    )
    ensure_checkpoint_dir(spark.sparkContext)
    ranged = ranged.persist()
    ranged_ck = ranged.checkpoint(eager=True)
    ranged.unpersist()

    totals = ranged_ck.groupBy("pid").agg(F.sum("n_tokens").alias("p_tokens"))
    # single-partition window over ≤ n_ranges rows — bounded by config,
    # never by data
    w_pid = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "pid", F.coalesce(F.sum("p_tokens").over(w_pid), F.lit(0)).alias("p_offset")
    )

    w_in = (
        Window.partitionBy("pid")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = (
        F.col("p_offset") + F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0))
    ).alias("start_tok")
    out = (
        ranged_ck.join(F.broadcast(offsets), "pid")
        .select(F.col("id").alias(id_col), "n_tokens", start)
    )
    sc = F.floor(F.col("start_tok") / F.lit(seq_len)).cast("bigint")
    ec_hot = F.floor((F.col("start_tok") + F.col("n_tokens") - 1) / F.lit(seq_len)).cast(
        "bigint"
    )
    ec = F.when(F.col("n_tokens") > 0, ec_hot).otherwise(sc)
    return out.select(
        id_col,
        "n_tokens",
        "start_tok",
        sc.alias("start_chunk"),
        ec.alias("end_chunk"),
        F.when(F.col("n_tokens") > 0, ec_hot - sc + 1)
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("n_chunks"),
        F.when(F.col("n_tokens") > 0, ec_hot > sc)
        .otherwise(F.lit(False))
        .alias("crosses_boundary"),
    )
