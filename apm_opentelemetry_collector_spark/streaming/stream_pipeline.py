"""Structured Streaming variant of the collector path.

The reference is a continuous stream processor; the batch engine is the
primary deliverable (deterministic, oracle-checkable), and this module
holds the stream half of the collector path and the Spark-native homes
of its time/state semantics (SURVEY.md §2.8):

  - T1 batch flush ticker (5 s)      → trigger(processingTime='5 seconds')
  - S3 node multiplexing             → applyInPandasWithState keyed by
    conv_id (forward_fill_stateful): the last non-null role/tool
    persists ACROSS micro-batches — the literal stream-scoped
    inheritance of octrace/opencensus.go:150-165, and the module's
    only cross-batch Python state
  - A1-A7 obsreport views            → windowed streaming aggregation
    with a watermark for late data (windowed_sink_counts)
  - T5/T7 sessions, duplicate sends  → session_window and
    dropDuplicatesWithinWatermark (sessionize_session_window,
    dedup_stream), state bounded by the watermark
  - T6 retry/idempotence             → foreachBatch + idempotent writes
    (write_sinks_stream*; checkpointLocation gives exactly-once file
    sinks)

Stateless stages (parse, enrich, fan-out, outcome) are the SAME operator
functions as the batch plan — DataFrame transformations don't care which
engine runs them; that is the point of declaring the pipeline
relationally.

Cost of the stateful fill (forward_fill_stateful) per micro-batch:
  - State partitions = slots. A streaming query runs with AQE off, so
    its state stage has spark.sql.shuffle.partitions tasks, which
    session.get_spark sets to defaultParallelism: one wave of state
    tasks. Each task has a fixed cost of ~0.3 s, so a second wave adds
    ~0.5 s to a micro-batch (4 vCPUs, 3,750 rows, 400 conversations).
  - The count is fixed for a checkpoint's life. The first run records
    it in the checkpoint's offset log and every restart keeps it, even
    under another session value: a stream started before the slot
    sizing keeps its old state partition count.
  - The fill has a fast path. A group's rows that arrive as one chunk
    already in turn order are not re-sorted, a column with no nulls is
    not filled, and a chunk that needed neither is yielded as it came.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..sources.transcripts import TRANSCRIPT_SCHEMA

FILLED_SCHEMA = T.StructType(
    list(TRANSCRIPT_SCHEMA.fields)
)
FILLED_COLUMNS = FILLED_SCHEMA.fieldNames()

STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_role", T.StringType()),
        T.StructField("last_tool", T.StringType()),
        T.StructField("max_us", T.LongType()),  # max event ts seen, epoch µs
    ]
)


def stream_transcripts(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over a transcript directory (schema pinned —
    no inference on the hot path)."""
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def _fill_group(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    track_event_ts: bool = False,
) -> Iterator[pd.DataFrame]:
    """Stateful forward fill for one conversation across micro-batches.

    State = (last_role, last_tool) seen so far on this conversation's
    stream — exactly the receiver's per-stream Node/Resource memory
    (octrace/opencensus.go:150-165). Event-time tracking (max_us) is
    only needed to arm the event-clock TTL — it costs a column
    conversion per call, so it stays OFF unless ttl_clock="event" (the
    no-TTL hot path must not pay for the option it doesn't use).

    Spark hands a group over in chunks of at most
    spark.sql.execution.arrow.maxRecordsPerBatch rows, in shuffle
    order, not turn order. Several chunks are concatenated before the
    sort and the fill, so the fill follows turn_idx across the whole
    micro-batch; the cost is that one conversation's rows of one
    micro-batch are held in memory at once. A single chunk is used
    as it came.
    """
    role, tool, max_us = state.get if state.exists else (None, None, 0)
    last = {"role": role, "tool": tool}
    max_us = int(max_us or 0)
    chunks = list(pdfs)
    pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
    # fast path: rows already in turn order skip the sort, a column with
    # no nulls skips the fill, an untouched chunk is yielded as it came
    if not pdf["turn_idx"].is_monotonic_increasing:
        pdf = pdf.sort_values("turn_idx")
    if track_event_ts and len(pdf):
        ts_us = pdf["ts"].astype("int64") // 1000
        max_us = max(max_us, int(ts_us.max()))
    fills = {}
    for col in last:
        s = pdf[col]
        if s.hasnans:
            # vectorized last-non-null: pandas ffill within the
            # micro-batch, seeded by the cross-batch state for leading
            # nulls
            s = s.ffill()
            if last[col] is not None:
                s = s.fillna(last[col])
            fills[col] = s
        if len(s) and pd.notna(s.iloc[-1]):
            last[col] = s.iloc[-1]
    if fills:
        pdf = pdf.assign(**fills)
    if list(pdf.columns) != FILLED_COLUMNS:
        pdf = pdf[FILLED_COLUMNS]
    yield pdf
    state.update((last["role"], last["tool"], max_us))
    return max_us


def forward_fill_stateful(
    stream: DataFrame,
    state_ttl_s: float | None = None,
    ttl_clock: str = "processing",
) -> DataFrame:
    """Node-multiplexing forward fill with cross-micro-batch state.

    Ordering contract. Within one micro-batch the fill follows turn_idx,
    so a conversation whose turns all arrive in one micro-batch gets
    exactly the batch forward_fill, whatever order its rows came in.
    Across micro-batches it follows arrival: the state holds the last
    non-null role/tool of the turns seen so far, so a turn that arrives
    after a higher turn of the same conversation is seeded from that
    state, not from its predecessor in turn order.

    state_ttl_s evicts conversations idle longer than the TTL — a
    finished conversation's two-string state otherwise lives for the
    life of the stream, so the state store grows with every
    conversation EVER seen instead of the active set. A conversation
    resuming after eviction starts with no inherited role/tool (leading
    nulls stay null until its next non-null), the same as a brand-new
    stream in the reference receiver. ttl_clock: "processing" (wall
    time since last seen) or "event" (the conversation's max event time
    falls ttl behind the stream's watermark — the right clock when
    replaying history; caller must set withWatermark on ts)."""
    ttl_ms, event_ttl, timeout = _resolve_ttl(state_ttl_s, ttl_clock)

    def fill(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if _evict_if_timed_out(state, ttl_ms):
            return
        max_us = yield from _fill_group(key, pdfs, state, event_ttl)
        _arm_ttl(state, ttl_ms, event_ttl, max_us)

    return stream.groupBy("conv_id").applyInPandasWithState(
        fill,
        FILLED_SCHEMA,
        STATE_SCHEMA,
        "append",
        timeout,
    )


def windowed_sink_counts(
    routed: DataFrame, window: str = "5 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Streaming obsreport view: per-sink outcome counts in event-time
    windows, late rows beyond the watermark dropped (T5)."""
    return (
        routed.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "sink", "outcome")
        .agg(F.count("*").alias("n"))
    )


def dedup_stream(
    stream: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "10 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Exactly-once turn delivery under at-least-once ingest: drop
    duplicate (conv_id, turn_idx) rows across micro-batches, keeping
    state only within the watermark horizon (bounded state — the
    streaming twin of the batch engine's exact dedup).

    The reference tolerates duplicate sends (at-least-once with retries,
    exporter.go:194-235); a consumer that needs exactly-once semantics
    dedups at ingest, which is this operator.
    """
    keys = keys or ["conv_id", "turn_idx"]
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        keys
    )


def sessionize_session_window(
    events: DataFrame, gap: str = "30 minutes", watermark: str | None = None
) -> DataFrame:
    """T5: gap-based sessionization in its idiomatic Spark home —
    F.session_window — usable on both batch and streaming DataFrames.

    Semantics twin of the batch lag+cumsum (q_events_sessionize):
    identical sessions whenever no two consecutive events are EXACTLY
    `gap` apart — session_window's interval is half-open (an event at
    last_ts + gap starts a new session) while the batch rule's
    `gap > G` breaker merges it. With microsecond timestamps the
    boundary case has measure zero; the equality is asserted on real
    data in tests/test_streaming.py.

    Output: user_id, session_start, session_end, n_events — session_no
    is an ordinal only the batch cumsum can assign (streaming sessions
    emit unordered); join on (user_id, session_start) to correlate.
    """
    src = events.withWatermark("ts", watermark) if watermark else events
    return (
        src.groupBy("user_id", F.session_window("ts", gap))
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .drop("session_window")
    )


# --- state-TTL machinery of forward_fill_stateful ---------------------------


def _resolve_ttl(state_ttl_s: float | None, ttl_clock: str = "processing"):
    """Validate and normalize forward_fill_stateful's TTL knobs.
    Returns (ttl_ms, event_ttl, timeout_enum): ttl_ms = 0
    means never evict (NoTimeout), event_ttl selects watermark-driven
    EventTimeTimeout over wall-clock ProcessingTimeTimeout."""
    if ttl_clock not in ("processing", "event"):
        raise ValueError(f"ttl_clock must be processing|event, got {ttl_clock}")
    # None is the documented 'never evict' sentinel. A caller passing 0
    # (or a sub-millisecond value that truncates to ttl_ms=0) expects
    # AGGRESSIVE eviction and would silently get the opposite — reject.
    if state_ttl_s is not None and state_ttl_s < 0.001:
        raise ValueError(
            f"state_ttl_s must be >= 0.001 s or None (never evict), got {state_ttl_s}"
        )
    ttl_ms = int(state_ttl_s * 1000) if state_ttl_s else 0
    event_ttl = bool(ttl_ms) and ttl_clock == "event"
    timeout = GroupStateTimeout.NoTimeout
    if ttl_ms:
        timeout = (
            GroupStateTimeout.EventTimeTimeout
            if event_ttl
            else GroupStateTimeout.ProcessingTimeTimeout
        )
    return ttl_ms, event_ttl, timeout


def _evict_if_timed_out(state: GroupState, ttl_ms: int) -> bool:
    """True when this invocation IS the timeout firing: the key's state
    is removed and the handler must return without emitting."""
    if ttl_ms and state.hasTimedOut:
        state.remove()
        return True
    return False


def _arm_ttl(state: GroupState, ttl_ms: int, event_ttl: bool, max_us: int = 0):
    """Re-arm the idle timeout after state.update (timeouts clear every
    invocation). Event clock: evict when the watermark passes the key's
    own max event time + TTL — clamped strictly above the current
    watermark or Spark rejects the timestamp (late-arriving keys)."""
    if not ttl_ms:
        return
    if event_ttl:
        state.setTimeoutTimestamp(
            max(max_us // 1000 + ttl_ms, state.getCurrentWatermarkMs() + 1)
        )
    else:
        state.setTimeoutDuration(ttl_ms)


def write_sinks_stream(
    routed: DataFrame, out_dir: str, checkpoint_dir: str
):
    """Exactly-once streaming sink: foreachBatch writing per-sink parquet.

    The reference guarantees at-least-once with retries + drop codes
    (exporter.go:194-290); Structured Streaming's checkpoint + foreachBatch
    upgrades that to exactly-once for file sinks: a micro-batch replayed
    after a crash rewrites the same epoch deterministically (idempotent
    overwrite by epoch directory). This is the streaming twin of the
    batch job's manifest-gated buckets (plans/job.py).
    """

    def write_batch(df: DataFrame, epoch_id: int) -> None:
        (
            df.write.mode("overwrite")
            .partitionBy("sink")
            .parquet(f"{out_dir}/epoch={epoch_id}")
        )

    return (
        routed.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def write_sinks_stream_merge(
    routed: DataFrame, table: str, checkpoint_dir: str
):
    """Streaming sink upgraded to MERGE semantics: each micro-batch
    upserts into an Iceberg table on the routed-row identity key, so a
    replayed epoch is idempotent at the ROW level (not just the epoch
    directory level of write_sinks_stream). Iceberg runtime required —
    gated like the rest of sources/iceberg.py; the parquet epoch sink
    remains the fallback."""
    from ..sources.iceberg import iceberg_available, merge_resume

    spark = routed.sparkSession
    if not iceberg_available(spark):
        raise RuntimeError(
            "MERGE streaming sink requires the Iceberg runtime; use "
            "write_sinks_stream (epoch-idempotent parquet) instead"
        )

    def merge_batch(df: DataFrame, epoch_id: int) -> None:
        merge_resume(spark, table, df, view_name=f"_epoch_{epoch_id}")

    return (
        routed.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def write_sinks_stream_upsert(
    routed: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx", "sink"),
):
    """Row-level idempotent streaming sink WITHOUT the Iceberg runtime:
    foreachBatch upserts each micro-batch into a parquet table on the
    routed-row identity key (sources/iceberg.merge_resume_parquet) —
    the executed twin of the MERGE sink's contract: a replayed epoch,
    or the same rows arriving again in a later epoch, leaves exactly
    one row per key. Production uses write_sinks_stream_merge (Iceberg
    snapshot-atomic commit); this fallback's dir-rename commit is the
    documented weaker guarantee."""
    from ..sources.iceberg import merge_resume_parquet

    spark = routed.sparkSession

    def upsert_batch(df: DataFrame, epoch_id: int) -> None:
        merge_resume_parquet(spark, out_dir, df, key_cols)

    return (
        routed.writeStream.foreachBatch(upsert_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def run_to_memory(
    df: DataFrame, name: str, output_mode: str = "append"
) -> None:
    """Drive a streaming DataFrame to completion into a memory sink
    (synchronous — for tests and smoke checks)."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .start()
    )
    q.processAllAvailable()
    q.stop()
