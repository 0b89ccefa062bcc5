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
  - T7 duplicate sends               → dropDuplicatesWithinWatermark
    (dedup_stream), state bounded by the watermark
  - T6 retry/idempotence             → foreachBatch + idempotent writes
    (write_sinks_stream: an epoch directory per micro-batch, overwritten
    on replay; checkpointLocation gives exactly-once file sinks)

The stream runs the stateful fill, then fan-out and send outcome: the
SAME operator functions as the batch plan — DataFrame transformations
don't care which engine runs them; that is the point of declaring the
pipeline relationally. Truncation, enrich and shard assignment run in
the batch job only.

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
    state only within the watermark horizon (bounded state).

    The reference tolerates duplicate sends (at-least-once with retries,
    exporter.go:194-235); a consumer that needs exactly-once semantics
    dedups at ingest, which is this operator.
    """
    keys = keys or ["conv_id", "turn_idx"]
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        keys
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
