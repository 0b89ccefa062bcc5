"""Structured Streaming variant of the pipeline.

The reference is a continuous stream processor; the batch engine is the
primary deliverable (deterministic, oracle-checkable), but the streaming
re-expression demonstrates the Spark-native homes of its time/state
semantics (SURVEY.md §2.8):

  - T1 batch flush ticker (5 s)      → trigger(processingTime='5 seconds')
  - S3 node multiplexing             → applyInPandasWithState keyed by
    conv_id: the last non-null role/tool persists ACROSS micro-batches —
    the literal stream-scoped inheritance of octrace/opencensus.go:150-165
  - A1-A7 obsreport views            → windowed streaming aggregation
    with a watermark for late data
  - T6 retry/idempotence             → foreachBatch + idempotent writes
    (checkpointLocation gives exactly-once file sinks)

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
  - The fill has a fast path. A group's chunk already in turn order is
    not re-sorted, a column with no nulls is not filled, and a chunk
    that needed neither is yielded as it came.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
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
    only needed to arm the event-clock TTL — it costs a per-chunk
    column conversion, so it stays OFF unless ttl_clock="event" (the
    no-TTL hot path must not pay for the option it doesn't use).
    """
    role, tool, max_us = state.get if state.exists else (None, None, 0)
    last = {"role": role, "tool": tool}
    max_us = int(max_us or 0)
    for pdf in pdfs:
        # fast path: a chunk already in turn order skips the sort, a
        # column with no nulls skips the fill, an untouched chunk is
        # yielded as it came
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
                # chunk, seeded by the cross-batch state for leading nulls
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


ANOMALY_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("zscore", T.DoubleType()),
        T.StructField("is_anomaly", T.BooleanType()),
    ]
)

EWMA_STATE_SCHEMA = T.StructType(
    [
        T.StructField("mean", T.DoubleType()),
        T.StructField("var", T.DoubleType()),
        T.StructField("n", T.LongType()),
        T.StructField("max_us", T.LongType()),  # max event ts seen, epoch µs
    ]
)


def ewma_anomalies(
    stream: DataFrame,
    alpha: float = 0.3,
    k: float = 3.0,
    min_points: int = 5,
    state_ttl_s: float | None = None,
    ttl_clock: str = "processing",
) -> DataFrame:
    """Stateful streaming anomaly detection per host: exponentially
    weighted mean/variance carried ACROSS micro-batches; a point whose
    z-score exceeds k (after a min_points warm-up) is flagged BEFORE it
    updates the state, so a spike cannot mask itself.

    This is the custom-stateful-operator case Spark has no Column home
    for (sequential state per key): applyInPandasWithState with numeric
    state, the numeric sibling of the forward-fill's string state.
    Expects columns (host, ts, value).

    state_ttl_s evicts hosts idle past the TTL; a revived host restarts
    its warm-up from n=0. ttl_clock: "processing" (wall time since last
    seen) or "event" (the host's max event time falls ttl behind the
    watermark — for history replay; caller sets withWatermark on ts).
    """
    ttl_ms, event_ttl, timeout = _resolve_ttl(state_ttl_s, ttl_clock)

    def detect(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if _evict_if_timed_out(state, ttl_ms):
            return
        mean, var, n, max_us = (
            state.get if state.exists else (0.0, 0.0, 0, 0)
        )
        max_us = int(max_us or 0)
        for pdf in pdfs:
            pdf = pdf.sort_values("ts")
            if event_ttl and len(pdf):
                max_us = max(
                    max_us, int(pdf["ts"].astype("int64").max() // 1000)
                )
            zs, flags = [], []
            for x in pdf["value"].astype(float):
                if n >= min_points and var > 0:
                    z = (x - mean) / (var ** 0.5)
                else:
                    z = 0.0
                flag = bool(abs(z) > k)
                zs.append(z)
                flags.append(flag)
                if n == 0:
                    mean, var = x, 0.0
                else:
                    d = x - mean
                    mean += alpha * d
                    var = (1 - alpha) * (var + alpha * d * d)
                n += 1
            yield pd.DataFrame(
                {
                    "host": pdf["host"],
                    "ts": pdf["ts"],
                    "value": pdf["value"].astype(float),
                    "zscore": zs,
                    "is_anomaly": flags,
                }
            )
        state.update((float(mean), float(var), int(n), int(max_us)))
        _arm_ttl(state, ttl_ms, event_ttl, max_us)

    return stream.groupBy("host").applyInPandasWithState(
        detect,
        ANOMALY_SCHEMA,
        EWMA_STATE_SCHEMA,
        "append",
        timeout,
    )


# --- shared state-TTL machinery (one implementation, five operators) --------


def _resolve_ttl(state_ttl_s: float | None, ttl_clock: str = "processing"):
    """Validate and normalize the TTL knobs shared by the stateful
    operators. Returns (ttl_ms, event_ttl, timeout_enum): ttl_ms = 0
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


COUNTER_DELTA_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("host", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("delta", T.DoubleType()),
    ]
)

COUNTER_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_value", T.DoubleType()),
        T.StructField("max_us", T.LongType()),
        T.StructField("buf_us", T.ArrayType(T.LongType())),
        T.StructField("buf_val", T.ArrayType(T.DoubleType())),
    ]
)


def counter_delta_stateful(
    stream: DataFrame,
    reorder_delay_s: int = 0,
    state_ttl_s: float | None = None,
    ttl_clock: str = "processing",
) -> DataFrame:
    """Streaming twin of operators/rates.counter_delta: cumulative →
    delta with reset handling, per (name, host) series, the LAST value
    carried ACROSS micro-batches — the batch operator's lag window
    becomes one float of keyed state. Inside a batch the differencing
    is vectorized (numpy shift), seeded by the state for the first
    released row; first point of a series ever → NULL delta (no
    baseline), decrease → reset → delta = the post-reset value itself.

    Counter differencing is ORDER-CRITICAL — a late point processed out
    of order fabricates a reset — so reorder_delay_s > 0 applies the
    same watermark-sized reorder buffer as the funnel: points within
    the delay of the series' max event time wait in keyed state and are
    differenced in event-time order once the series' clock passes
    (equality vs batch under shuffled arrival is tested; a terminal
    heartbeat per series drains the buffer). reorder_delay_s=0 keeps
    the immediate (ordered-ingest) behavior.

    state_ttl_s bounds the KEY-SET cardinality (per-key state is already
    O(1 + buffer)): a series idle longer than the TTL is evicted from
    the state store (ProcessingTimeTimeout), so months of churning
    series don't grow state linearly — the streaming analog of the
    reference collector's capacity-bounded queues
    (exporter/omnishard/encoder.go:163-166). A series reviving AFTER
    eviction is a NEW series: its first point gets a NULL delta (no
    baseline) and any reorder buffer it had is dropped — choose the TTL
    longer than the longest legitimate series gap. None = never evict
    (the pre-r5 behavior).

    ttl_clock picks the idle clock: "processing" (wall time since the
    series was last seen — live-ingest housekeeping) or "event" (the
    series' max EVENT time falls ttl behind the stream's watermark —
    the right clock when replaying history, where wall time says
    nothing; requires the caller to set withWatermark on ts, and
    eviction only advances as the watermark does).
    Expects columns (name, host, ts, value).
    """
    delay_us = int(reorder_delay_s) * 1_000_000
    ttl_ms, event_ttl, timeout = _resolve_ttl(state_ttl_s, ttl_clock)

    def diff(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if _evict_if_timed_out(state, ttl_ms):
            return
        if state.exists:
            last, max_us, buf_us, buf_val = state.get
            buf_us, buf_val = list(buf_us or []), list(buf_val or [])
        else:
            last, max_us, buf_us, buf_val = None, 0, [], []
        for pdf in pdfs:
            ts_us_all = pdf["ts"].astype("int64").to_numpy() // 1000
            if len(ts_us_all):
                max_us = max(max_us, int(ts_us_all.max()))
            cand_us = np.concatenate(
                [np.asarray(buf_us, dtype=np.int64), ts_us_all]
            )
            cand_val = np.concatenate(
                [
                    np.asarray(buf_val, dtype=float),
                    pdf["value"].to_numpy(dtype=float),
                ]
            )
            ready = cand_us <= max_us - delay_us
            order = np.argsort(cand_us[ready], kind="stable")
            us = cand_us[ready][order]
            vals = cand_val[ready][order]
            buf_us = [int(x) for x in cand_us[~ready]]
            buf_val = [float(x) for x in cand_val[~ready]]
            if not len(us):
                continue
            prev = np.empty_like(vals)
            prev[1:] = vals[:-1]
            prev[0] = last if last is not None else np.nan
            # no baseline → NULL (nullable Float64, masked — NOT NaN: the
            # batch twin emits NULL and downstream `delta IS NULL` filters
            # and sum/avg must behave identically on both paths); decrease
            # → reset → the value itself
            delta = pd.array(
                np.where(vals >= prev, vals - prev, vals), dtype="Float64"
            )
            delta[np.isnan(prev)] = pd.NA
            last = float(vals[-1])
            yield pd.DataFrame(
                {
                    "name": key[0],
                    "host": key[1],
                    "ts": pd.to_datetime(us * 1000),
                    "value": vals,
                    "delta": pd.Series(delta),
                }
            )
        state.update(
            (last, int(max_us), buf_us, buf_val)
            if last is not None
            else (None, int(max_us), buf_us, buf_val)
        )
        _arm_ttl(state, ttl_ms, event_ttl, max_us)

    return stream.groupBy("name", "host").applyInPandasWithState(
        diff,
        COUNTER_DELTA_SCHEMA,
        COUNTER_STATE_SCHEMA,
        "append",
        timeout,
    )


FUNNEL_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("step_idx", T.IntegerType()),
        T.StructField("step", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)

FUNNEL_STATE_SCHEMA = T.StructType(
    [
        T.StructField("step_reached", T.IntegerType()),
        T.StructField("last_us", T.LongType()),  # completion ts, epoch µs
        T.StructField("max_us", T.LongType()),   # max event ts seen, epoch µs
        T.StructField("buf_us", T.ArrayType(T.LongType())),    # held-back
        T.StructField("buf_step", T.ArrayType(T.IntegerType())),  # step idx
    ]
)


def _advance_np(step_idx, ts_us, reached: int, last_us: int, steps):
    """Greedy funnel advance over (step_idx, ts_us) sorted by ts —
    vectorized: one np.flatnonzero per STEP (≤ len(steps) iterations),
    never a per-row Python loop. Strict ts > last step's time, first
    (= min-ts, arrays are sorted) qualifying event wins — exactly the
    batch operator's chained conditional-min semantics."""
    out = []
    pos = 0
    while reached < len(steps):
        m = step_idx[pos:] == reached
        if reached > 0:
            m &= ts_us[pos:] > last_us
        hit = np.flatnonzero(m)
        if len(hit) == 0:
            break
        i = pos + int(hit[0])
        reached += 1
        last_us = int(ts_us[i])
        out.append((reached, last_us))
        pos = i + 1
    return out, reached, last_us


def funnel_stateful(
    stream: DataFrame,
    steps: tuple[str, ...] = ("view", "click", "purchase"),
    reorder_delay_s: int = 0,
    state_ttl_s: float | None = None,
    ttl_clock: str = "processing",
) -> DataFrame:
    """Streaming twin of analytics.funnel_stages: per-user funnel
    progress as keyed state across micro-batches; one row emitted per
    ADVANCE.

    Out-of-order tolerance (reorder_delay_s > 0): step events within
    `reorder_delay_s` of the maximum event time seen for the user are
    HELD in keyed state (a watermark-sized reorder buffer — bounded by
    the user's event rate × delay) and only processed once the user's
    max time passes ts + delay, so any arrival order whose displacement
    is under the delay yields the batch answer. Non-step events pass
    through unbuffered but still advance the user's clock — a terminal
    heartbeat drains the buffer. reorder_delay_s=0 processes everything
    immediately (ordered-ingest mode, the r3 behavior).

    The advance itself is vectorized (numpy flatnonzero per step, no
    per-row Python — the r3 review's last per-row loop).

    state_ttl_s evicts users idle longer than the TTL — completed OR
    stalled — keeping the state store's KEY count proportional to the
    active-user window instead of all users ever seen. A user whose
    events resume after eviction restarts the funnel from step 0 (may
    re-emit early steps); choose the TTL longer than the funnel's
    conversion horizon. None = never evict (the pre-r5 behavior).
    ttl_clock: "processing" (wall-clock idle) or "event" (the user's
    max event time falls ttl behind the watermark — the right clock
    when replaying history; caller must set withWatermark on ts).
    Expects columns (user_id, event_type, ts).
    """
    delay_us = int(reorder_delay_s) * 1_000_000
    ttl_ms, event_ttl, timeout = _resolve_ttl(state_ttl_s, ttl_clock)
    step_of = {s: i for i, s in enumerate(steps)}

    def advance(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if _evict_if_timed_out(state, ttl_ms):
            return
        if state.exists:
            reached, last_us, max_us, buf_us, buf_step = state.get
            buf_us = list(buf_us or [])
            buf_step = list(buf_step or [])
        else:
            reached, last_us, max_us, buf_us, buf_step = 0, 0, 0, [], []
        for pdf in pdfs:
            ts_us_all = pdf["ts"].astype("int64").to_numpy() // 1000
            if len(ts_us_all):
                max_us = max(max_us, int(ts_us_all.max()))
            sidx = pdf["event_type"].map(step_of).to_numpy()
            keep = ~pd.isna(sidx)
            cand_us = np.concatenate(
                [np.asarray(buf_us, dtype=np.int64), ts_us_all[keep]]
            )
            cand_step = np.concatenate(
                [np.asarray(buf_step, dtype=np.int64), sidx[keep].astype(np.int64)]
            )
            cutoff = max_us - delay_us
            ready = cand_us <= cutoff
            order = np.argsort(cand_us[ready], kind="stable")
            hits, reached, last_us = _advance_np(
                cand_step[ready][order], cand_us[ready][order], reached, last_us, steps
            )
            buf_us = [int(x) for x in cand_us[~ready]]
            buf_step = [int(x) for x in cand_step[~ready]]
            if hits:
                yield pd.DataFrame(
                    {
                        "user_id": int(key[0]),
                        "step_idx": [s for s, _ in hits],
                        "step": [steps[s - 1] for s, _ in hits],
                        "ts": [pd.Timestamp(us * 1000) for _, us in hits],
                    }
                )
        state.update((int(reached), int(last_us), int(max_us), buf_us, buf_step))
        _arm_ttl(state, ttl_ms, event_ttl, max_us)

    return stream.groupBy("user_id").applyInPandasWithState(
        advance,
        FUNNEL_EVENT_SCHEMA,
        FUNNEL_STATE_SCHEMA,
        "append",
        timeout,
    )


WRS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("snapshot", T.LongType()),
        T.StructField("id", T.StringType()),
        T.StructField("weight", T.DoubleType()),
        T.StructField("wrs_key", T.DoubleType()),
    ]
)

WRS_STREAM_STATE_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType()),
        T.StructField("ids", T.ArrayType(T.StringType())),
        T.StructField("weights", T.ArrayType(T.DoubleType())),
        T.StructField("keys", T.ArrayType(T.DoubleType())),
        T.StructField("max_us", T.LongType()),  # max event ts seen, epoch µs
    ]
)


def weighted_reservoir_stateful(
    stream: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    group_cols: list[str] | None = None,
    state_ttl_s: float | None = None,
    ttl_clock: str = "processing",
    ts_col: str | None = None,
) -> DataFrame:
    """Streaming twin of sample.weighted_reservoir_sample — A-ES over an
    unbounded stream with BOUNDED keyed state (NOTES r4 candidate #2 /
    VERDICT r3 #6).

    The ranking key ln(u48(id))/w is computed as a Column expression
    (same deterministic hash-derived uniform as the batch operator, so
    streaming ≡ batch on any arrival order — the key depends on DATA,
    not arrival). The stateful stage only maintains the k largest keys:
    state = (ids, weights, keys) arrays of length ≤ k plus a snapshot
    counter.

    Efraimidis–Spirakis A-ExpJ's exponential jump exists to skip the
    RNG draw + log for items that cannot enter the reservoir; with a
    hash-derived u the keys are free vectorized columns, so the
    vectorized analog is the THRESHOLD SHORT-CIRCUIT here: once the
    reservoir is full, a batch is masked down to keys ≥ the current
    k-th key before the merge — the same work-skipping, Arrow-shaped.

    Each micro-batch emits the current reservoir tagged with a snapshot
    sequence number (append mode cannot retract displaced rows; readers
    take the max-snapshot rows per group — asserted ≡ batch in tests).
    group_cols=None keeps ONE global reservoir (single-key state — the
    semantic twin of the batch global top-k); pass strata (e.g. source)
    to shard state and emit one reservoir per stratum at scale.

    state_ttl_s evicts strata idle longer than the TTL (their ≤k-row
    reservoirs are dropped), bounding the state store by the ACTIVE
    stratum count under stratum churn; an evicted stratum restarts
    from an empty reservoir on revival. None = never evict.
    ttl_clock="event" requires ts_col (the reservoir's keyed projection
    otherwise carries no event-time column — the ranking key is
    arrival-order independent by construction): the stratum's max
    event time falling ttl behind the watermark evicts it — for
    history replay; caller sets withWatermark on ts_col.
    """
    from ..operators.sample import _u48

    ttl_ms, event_ttl, timeout = _resolve_ttl(state_ttl_s, ttl_clock)
    if event_ttl and not ts_col:
        raise ValueError('ttl_clock="event" requires ts_col')

    w = F.col(weight_col).cast("double")
    gcols = list(group_cols or [])
    keyed = stream.select(
        *gcols,
        F.col(id_col).cast("string").alias("_id"),
        w.alias("_w"),
        (F.log(_u48(id_col)) / w).alias("_key"),
        *([F.col(ts_col).alias("_ts")] if ts_col else []),
        *([] if gcols else [F.lit(0).alias("_g")]),
    )
    out_fields = [T.StructField(f.name, f.dataType) for f in keyed.schema.fields if f.name in gcols]
    out_schema = T.StructType(out_fields + list(WRS_STREAM_SCHEMA.fields))

    def hold(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if _evict_if_timed_out(state, ttl_ms):
            return
        # seq bumps ONCE per invocation (= per micro-batch per group),
        # after draining every Arrow chunk of the iterator — a group
        # split across chunks still emits exactly one snapshot.
        seq, ids, ws, ks, max_us = (
            state.get if state.exists else (0, [], [], [], 0)
        )
        ids, ws, ks = list(ids or []), list(ws or []), list(ks or [])
        max_us = int(max_us or 0)
        for pdf in pdfs:
            if ts_col and len(pdf):
                max_us = max(
                    max_us, int(pdf["_ts"].astype("int64").max() // 1000)
                )
            bk = pdf["_key"].to_numpy(dtype=float)
            bi = pdf["_id"].to_numpy(dtype=object)
            bw = pdf["_w"].to_numpy(dtype=float)
            if len(ks) == k and len(bk):
                # threshold short-circuit (vectorized ExpJ analog)
                m = bk >= min(ks)
                bk, bi, bw = bk[m], bi[m], bw[m]
            ck = np.concatenate([np.asarray(ks, dtype=float), bk])
            ci = np.concatenate([np.asarray(ids, dtype=object), bi])
            cw = np.concatenate([np.asarray(ws, dtype=float), bw])
            # Total order: key DESC, then id ASC as STRING (ids enter
            # this operator cast to string). The batch operator breaks
            # key ties in the id column's NATIVE order, which differs
            # from string order for numeric ids — behavior-neutral in
            # practice because the ranking key is a 48-bit hash-derived
            # double, so exact key ties are measure-zero.
            order = np.lexsort((ci.astype(str), -ck))[:k]
            ks = [float(x) for x in ck[order]]
            ids = [str(x) for x in ci[order]]
            ws = [float(x) for x in cw[order]]
        seq += 1
        snap = pd.DataFrame(
            {"snapshot": seq, "id": ids, "weight": ws, "wrs_key": ks}
        )
        for g, v in zip(gcols, key):
            snap[g] = v
        yield snap[[*gcols, "snapshot", "id", "weight", "wrs_key"]]
        state.update((int(seq), ids, ws, ks, int(max_us)))
        _arm_ttl(state, ttl_ms, event_ttl, max_us)

    return keyed.groupBy(*(gcols or ["_g"])).applyInPandasWithState(
        hold,
        out_schema,
        WRS_STREAM_STATE_SCHEMA,
        "append",
        timeout,
    )


PASSAGE_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("fingerprint", T.StringType()),
        T.StructField("passage", T.StringType()),
        T.StructField("n_docs", T.LongType()),
        T.StructField("n_total", T.LongType()),
    ]
)

PASSAGE_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_docs", T.LongType()),
        T.StructField("n_total", T.LongType()),
        T.StructField("passage", T.StringType()),
    ]
)


def repeated_passages_stateful(
    stream: DataFrame,
    passage_len: int | None = None,
    stride: int | None = None,
    min_docs: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    state_ttl_s: float | None = None,
) -> DataFrame:
    """Streaming twin of operators/dedup.repeated_passages — the
    two-level counting aggregate as keyed state (r5 VERDICT next #5):
    the window explode + md5 fingerprint are the SAME Column
    expressions as the batch operator (stateless, run per micro-batch);
    the per-fingerprint (n_docs, n_total, min passage) counters live in
    keyed state and merge each batch's contribution, so boilerplate is
    detected INCREMENTALLY as documents stream in instead of re-scanning
    the corpus.

    Per-key state is O(1) — three counters and one passage_len-char
    string — because doc-distinctness is counted incrementally: each
    invocation counts its batch's DISTINCT doc ids (vectorized pandas
    nunique) and adds them, which equals the batch operator's exact
    count(DISTINCT id) PROVIDED each document is ingested exactly once
    (the standard curation ingest; under at-least-once transport put
    dedup_stream keyed on the doc id in front). The KEY-set — every
    distinct window fingerprint ever seen, including cold count-1 seeds
    the batch aggregate discards — is the unbounded resource, which is
    exactly what state_ttl_s bounds (shared _resolve_ttl machinery,
    processing clock: a fingerprint not reinforced within the TTL is
    dropped; boilerplate recurring across the horizon keeps itself
    alive; counts restart after eviction, so choose TTL ≥ the dedup
    horizon you care about).

    Emission: a fingerprint emits its updated cumulative row whenever a
    batch touches it AND n_docs ≥ min_docs (append mode cannot
    retract). n_total strictly increases per emission, so readers take
    the max-n_total row per fingerprint — asserted ≡ the batch operator
    on the full corpus for any slicing of documents into micro-batches
    (tests/test_streaming.py).
    """
    from ..functions.text import normalized
    from ..operators.dedup import PASSAGE_LEN, PASSAGE_MIN_DOCS, PASSAGE_STRIDE

    passage_len = PASSAGE_LEN if passage_len is None else passage_len
    stride = PASSAGE_STRIDE if stride is None else stride
    min_docs = PASSAGE_MIN_DOCS if min_docs is None else min_docs
    ttl_ms, event_ttl, timeout = _resolve_ttl(state_ttl_s, "processing")

    norm = normalized(text_col)
    base = stream.select(
        F.col(id_col).cast("string").alias("id"), norm.alias("norm")
    ).filter(F.length("norm") >= passage_len)
    keyed = base.select(
        "id",
        F.explode(
            F.sequence(
                F.lit(1), F.length("norm") - (passage_len - 1), F.lit(stride)
            )
        ).alias("i"),
        "norm",
    ).select(
        "id",
        F.substring(F.col("norm"), F.col("i"), F.lit(passage_len)).alias("passage"),
    ).select(
        "id", "passage", F.md5(F.col("passage").cast("binary")).alias("fingerprint")
    )

    def count(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if _evict_if_timed_out(state, ttl_ms):
            return
        n_docs, n_total, passage = (
            state.get if state.exists else (0, 0, None)
        )
        touched = False
        # distinct-doc set accumulated ACROSS Arrow chunks of this
        # invocation (a doc repeating the passage may split across
        # chunks; per-chunk nunique would double-count it). Bounded by
        # this batch's distinct docs for this fingerprint — not state.
        batch_ids: set = set()
        for pdf in pdfs:
            if not len(pdf):
                continue
            touched = True
            batch_ids.update(pdf["id"].unique())
            n_total += int(len(pdf))
            bmin = pdf["passage"].min()
            passage = bmin if passage is None else min(passage, bmin)
        n_docs += len(batch_ids)
        state.update((int(n_docs), int(n_total), passage))
        _arm_ttl(state, ttl_ms, event_ttl)
        if touched and n_docs >= min_docs:
            yield pd.DataFrame(
                {
                    "fingerprint": [key[0]],
                    "passage": [passage],
                    "n_docs": [n_docs],
                    "n_total": [n_total],
                }
            )

    return keyed.groupBy("fingerprint").applyInPandasWithState(
        count,
        PASSAGE_STREAM_SCHEMA,
        PASSAGE_STATE_SCHEMA,
        "append",
        timeout,
    )


def minhash_candidates_stateful(
    stream: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    cfg=None,
    state_ttl_s: float | None = None,
) -> DataFrame:
    """Streaming MinHash+LSH near-dup CANDIDATE detection — the
    incremental form of operators/dedup.candidate_pairs: as documents
    stream in, each is hashed into its LSH band buckets and paired
    against every document already resident in those buckets, so
    near-duplicates of anything seen within the state horizon are
    flagged on ARRIVAL instead of by re-banding the corpus.

    The whole signature pipeline runs as map-side higher-order Column
    expressions BEFORE the stateful op — no aggregation, which matters
    because Structured Streaming allows only one stateful operator per
    query: a minhash component is min over the doc's shingle MULTISET
    (= min over its set, so the batch path's distinct() is
    unnecessary), i.e. F.array_min over a transform of the in-row
    shingle array, with the SAME md5('<j>:' || shingle) component
    hashes and band-key md5 as the batch operator — stream and batch
    bucket keys are byte-identical by construction.

    Keyed state per (band_idx, band_key) bucket is the resident member
    id list. A new doc emits one (id_a, id_b) = (min, max) row per
    resident member of each of its buckets (same-batch arrivals pair in
    ascending-id order); re-delivery of a resident id is a no-op
    (at-least-once tolerant). A pair sharing several bands is emitted
    once per band — readers take DISTINCT, the same normalization
    candidate_pairs applies. Equality with the batch operator over any
    micro-batch slicing is asserted in tests. Downstream exact-Jaccard
    verification is a batch join against the emitted pairs (a second
    stateful stage can't live in the same query).

    Bucket state is bounded by bucket occupancy — near-dup GROUP size,
    the same hot-bucket hazard the batch LSH join has (a degenerate
    normalizer → one giant bucket → quadratic pairs); state_ttl_s
    bounds the horizon (shared _resolve_ttl machinery, processing
    clock): a bucket not touched within the TTL is dropped, so the
    state store tracks recently-active buckets instead of every band
    key ever seen. Eviction forgets residents — a later duplicate of an
    evicted doc is NOT flagged; choose TTL ≥ the dedup horizon.
    """
    from ..functions.text import normalized
    from ..operators.dedup import CI_BANDING, SHINGLE_LEN

    cfg = cfg or CI_BANDING
    ttl_ms, event_ttl, timeout = _resolve_ttl(state_ttl_s, "processing")

    id_type = stream.schema[id_col].dataType
    out_schema = T.StructType(
        [T.StructField("id_a", id_type), T.StructField("id_b", id_type)]
    )
    state_schema = T.StructType(
        [T.StructField("members", T.ArrayType(id_type))]
    )

    norm = normalized(text_col)
    base = stream.select(
        F.col(id_col).alias("id"), norm.alias("norm")
    ).filter(F.length("norm") >= SHINGLE_LEN)
    sh_arr = F.transform(
        F.sequence(F.lit(1), F.length("norm") - (SHINGLE_LEN - 1)),
        lambda i: F.substring(F.col("norm"), i, SHINGLE_LEN),
    )
    sig_cols = [
        F.array_min(
            F.transform(
                F.col("_sh"),
                lambda s: F.md5(F.concat(F.lit(f"{j}:"), s).cast("binary")),
            )
        ).alias(f"m{j}")
        for j in range(cfg.n_hashes)
    ]
    sigs = base.select("id", sh_arr.alias("_sh")).select("id", *sig_cols)
    r = cfg.rows_per_band
    band_structs = [
        F.struct(
            F.lit(b).alias("band_idx"),
            F.md5(
                F.concat(*[F.col(f"m{b * r + i}") for i in range(r)]).cast(
                    "binary"
                )
            ).alias("band_key"),
        )
        for b in range(cfg.n_bands)
    ]
    banded = sigs.select(
        "id", F.explode(F.array(*band_structs)).alias("band")
    ).select(
        "id",
        F.col("band.band_idx").alias("band_idx"),
        F.col("band.band_key").alias("band_key"),
    )

    def pair(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if _evict_if_timed_out(state, ttl_ms):
            return
        (members,) = state.get if state.exists else ([],)
        members = list(members or [])
        resident = set(members)
        fresh: list = []
        for pdf in pdfs:
            for i in pdf["id"]:
                i = i.item() if hasattr(i, "item") else i
                if i not in resident:
                    resident.add(i)
                    fresh.append(i)
        fresh.sort()
        ida, idb = [], []
        for n_idx, n in enumerate(fresh):
            for m in members + fresh[:n_idx]:
                ida.append(min(m, n))
                idb.append(max(m, n))
        state.update((members + fresh,))
        _arm_ttl(state, ttl_ms, event_ttl)
        if ida:
            yield pd.DataFrame({"id_a": ida, "id_b": idb})

    return banded.groupBy("band_idx", "band_key").applyInPandasWithState(
        pair,
        out_schema,
        state_schema,
        "append",
        timeout,
    )


def semdedup_stateful(
    stream: DataFrame,
    centroids,
    threshold: float | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    state_ttl_s: float | None = None,
) -> DataFrame:
    """Streaming SemDeDup (Abbas et al. 2023) against a FROZEN codebook —
    the incremental form of operators/dedup.semdedup: as embeddings
    stream in, each is cluster-assigned map-side against `centroids`
    (a plain list of vectors — e.g. a batch k-means run's output) and
    compared ONLY against residents of its own cluster's keyed state,
    so semantic near-duplicates of anything seen within the state
    horizon are flagged on ARRIVAL. Freezing the codebook is what makes
    the op streamable — Lloyd iteration is a batch concern; production
    stacks retrain offline and hot-swap.

    Assignment is the SAME strictly-smaller-d2 literal fold as the
    batch _assign (ties to the lower cluster id), rendered over literal
    centroid arrays — a pure projection, no join, no shuffle before the
    one stateful stage.

    Keep rule and its streaming contract: a doc is dropped iff some
    SMALLER-id resident of its cluster has cosine >= threshold — the
    batch operator's rule, evaluated at emit time over residents (which
    is every smaller-id doc when arrival order respects ids across
    micro-batches; within a batch ids are processed ascending).
    Dropped docs still enter the resident set (a dropped doc suppresses
    its own larger-id near-dups, matching batch). A LATE smaller-id
    arrival cannot retro-drop an already-emitted keep (append mode) —
    it is compared only against residents with ids below its own.
    n_prior_similar counts smaller-id tau-neighbors at arrival (batch
    n_similar counts both directions, so only `keep` is
    slicing-invariant — the equality tests compare keep).

    State per cluster is the resident (id, vector) list — bounded by
    cluster occupancy, the SemDeDup cell-bounded contract (k grows with
    the corpus so cells stay small); state_ttl_s bounds the horizon
    (shared _resolve_ttl machinery, processing clock): an idle cluster
    is dropped, so a later duplicate of an evicted doc is NOT flagged —
    choose TTL >= the dedup horizon. The at-least-once RE-DELIVERY
    guard has the same horizon (ADVICE r6): it skips an arrival only
    while the id is still resident, so a redelivery AFTER the id's
    cluster was TTL-evicted is treated as new and re-emitted (possibly
    with a different keep verdict against the rebuilt residents). If
    the source can redeliver across gaps longer than the TTL, pair a
    TTL'd semdedup with an upstream dedup_stream on vec_id — the same
    guidance pack_sequences_stateful documents.

    Output (append, one row per arrival): vec_id, cluster, keep,
    n_prior_similar.
    """
    from ..operators.clustering import _dist2
    from ..operators.dedup import SEMDEDUP_TAU

    tau = float(SEMDEDUP_TAU if threshold is None else threshold)
    ttl_ms, event_ttl, timeout = _resolve_ttl(state_ttl_s, "processing")

    id_type = stream.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("vec_id", id_type),
            T.StructField("cluster", T.IntegerType()),
            T.StructField("keep", T.BooleanType()),
            T.StructField("n_prior_similar", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("ids", T.ArrayType(id_type)),
            T.StructField("vecs", T.ArrayType(T.ArrayType(T.DoubleType()))),
        ]
    )

    cents = F.array(
        *[
            F.struct(
                F.lit(ci).alias("cluster"),
                F.array(*[F.lit(float(x)) for x in c]).alias("c"),
            )
            for ci, c in enumerate(centroids)
        ]
    )
    acc0 = F.struct(F.lit(float("inf")).alias("d2"), F.lit(-1).alias("cluster"))

    def step(acc, x):
        d2 = _dist2(F.col("v"), x["c"])
        return F.when(
            d2 < acc["d2"],
            F.struct(d2.alias("d2"), x["cluster"].alias("cluster")),
        ).otherwise(acc)

    assigned = stream.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    ).select("id", "v", F.aggregate(cents, acc0, step)["cluster"].alias("cluster"))

    def dedup(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        import numpy as np

        if _evict_if_timed_out(state, ttl_ms):
            return
        ids, vecs = state.get if state.exists else ([], [])
        ids = list(ids or [])
        vecs = [np.asarray(v, dtype=np.float64) for v in (vecs or [])]
        # resident norms computed ONCE per invocation (O(R + A)), not
        # per arrival (O(A*R)) — they never change while resident
        norms = [float(np.sqrt(w @ w)) for w in vecs]
        resident = set(ids)
        arrivals: list = []
        for pdf in pdfs:
            for i, v in zip(pdf["id"], pdf["v"]):
                i = i.item() if hasattr(i, "item") else i
                if i in resident:
                    continue  # at-least-once re-delivery
                resident.add(i)
                arrivals.append((i, np.asarray(list(v), dtype=np.float64)))
        arrivals.sort(key=lambda t: t[0])
        out_id, out_keep, out_n = [], [], []
        for i, v in arrivals:
            nv = float(np.sqrt(v @ v))
            n_sim = 0
            for j, w, nw in zip(ids, vecs, norms):
                if j >= i:
                    continue
                cos = float(v @ w) / (nv * nw) if nv > 0 and nw > 0 else 0.0
                if cos >= tau:
                    n_sim += 1
            ids.append(i)
            vecs.append(v)
            norms.append(nv)
            out_id.append(i)
            out_keep.append(n_sim == 0)
            out_n.append(n_sim)
        state.update((ids, [list(map(float, w)) for w in vecs]))
        _arm_ttl(state, ttl_ms, event_ttl)
        if out_id:
            yield pd.DataFrame(
                {
                    "vec_id": out_id,
                    "cluster": key[0],
                    "keep": out_keep,
                    "n_prior_similar": out_n,
                }
            )

    return assigned.groupBy("cluster").applyInPandasWithState(
        dedup,
        out_schema,
        state_schema,
        "append",
        timeout,
    )


def decontaminate_hits_stream(
    stream: DataFrame,
    eval_docs: DataFrame,
    n: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_source_col: str = "source",
) -> DataFrame:
    """Streaming exact n-gram decontamination — the incremental form of
    operators/dedup.ngram_decontaminate: as training documents stream
    in, each one's word-level n-grams (the SAME md5-keyed higher-order
    fold as the batch operator) join a STATIC benchmark gram table, so
    contaminated docs are flagged on ARRIVAL (the eval-hygiene sweep as
    an admission gate instead of a corpus pass).

    Shape: this is deliberately STATELESS — a stream-static inner join
    in append mode. The eval side is batch-prepared here (distinct
    (gram, eval_source)) and re-planned per micro-batch by Spark;
    AQE/broadcast applies exactly as in the batch operator, and there
    is no keyed state to bound or evict. One output row per MATCHING
    GRAM OCCURRENCE (doc_id, eval_source, g): the per-doc aggregate
    (n_hits, n_distinct_grams) is a downstream batch groupBy — a
    second stateful stage can't live in the same query, the
    minhash_candidates_stateful contract — and aggregating the emitted
    rows reproduces the batch operator's numbers exactly over any
    micro-batch slicing (tested).

    Output (append): doc_id, eval_source, g.
    """
    from ..functions.text import normalized
    from ..operators.dedup import DECONTAM_N

    n = n or DECONTAM_N
    grams_expr = F.expr(
        "transform(sequence(1, size(l) - {n} + 1), "
        "i -> md5(cast(concat_ws(' ', slice(l, i, {n})) as binary)))".format(
            n=n
        )
    )

    def _grams(df: DataFrame, src_col: str, out_name: str):
        toks = df.select(
            F.col(src_col).alias(out_name),
            F.filter(
                F.split(normalized(text_col), " "), lambda w: w != ""
            ).alias("l"),
        ).filter(F.size("l") >= n)
        return toks.select(out_name, F.explode(grams_expr).alias("g"))

    ev = (
        _grams(eval_docs, eval_source_col, "eval_source")
        .select("g", "eval_source")
        .distinct()
    )
    tr = _grams(stream, id_col, "doc_id")
    return tr.join(ev, "g").select("doc_id", "eval_source", "g")


def pack_sequences_stateful(
    stream: DataFrame,
    seq_len: int = 256,
    stream_col: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    state_ttl_s: float | None = None,
) -> DataFrame:
    """Streaming concat-and-chunk sequence packing — the incremental
    form of operators/pack.pack_sequences: documents arriving on a
    stream are appended to a per-stream token cursor and emit the same
    chunk metadata (global token offset, chunk span, boundary-crossing
    flag) the batch operator computes with its two-pass ranged prefix
    sum. This is the op a live training-data loader runs: the batch
    prefix sum needs the whole corpus; the stream needs only ONE LONG
    of state per stream — the cursor.

    Semantics and contract: token offsets are assigned in ARRIVAL
    order (ids ascending within a micro-batch; across batches, arrival
    IS the packing order — the stream defines the concatenation).
    When arrival respects id order and `stream_col=None` (a single
    global stream), per-doc rows equal the batch operator's exactly —
    asserted across micro-batch slicings in tests. Re-delivery is NOT
    deduplicated (packing is positional; an at-least-once source needs
    upstream dedup_stream — documented trade, the same reason the
    batch op keys on a materialized partitioning).

    n_tokens is computed map-side (token_count Column expression)
    before the one stateful stage. state_ttl_s evicts idle stream
    cursors (shared _resolve_ttl machinery, processing clock): an
    evicted stream RESTARTS at token 0 — only sane when streams are
    session-scoped; leave None for training-corpus packing.

    Output (append): doc_id, stream, n_tokens, start_tok, start_chunk,
    end_chunk, n_chunks, crosses_boundary — the batch columns plus the
    stream key.
    """
    from ..functions.text import token_count

    ttl_ms, event_ttl, timeout = _resolve_ttl(state_ttl_s, "processing")
    id_type = stream.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("doc_id", id_type),
            T.StructField("stream", T.StringType()),
            T.StructField("n_tokens", T.LongType()),
            T.StructField("start_tok", T.LongType()),
            T.StructField("start_chunk", T.LongType()),
            T.StructField("end_chunk", T.LongType()),
            T.StructField("n_chunks", T.LongType()),
            T.StructField("crosses_boundary", T.BooleanType()),
        ]
    )
    state_schema = T.StructType([T.StructField("cursor", T.LongType())])

    key = (
        F.col(stream_col).cast("string")
        if stream_col
        else F.lit("__all__")
    )
    base = stream.select(
        F.col(id_col).alias("id"),
        key.alias("stream"),
        token_count(text_col).cast("long").alias("n_tokens"),
    )

    def pack(key_, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if _evict_if_timed_out(state, ttl_ms):
            return
        (cursor,) = state.get if state.exists else (0,)
        rows: list = []
        for pdf in pdfs:
            for i, n in zip(pdf["id"], pdf["n_tokens"]):
                rows.append(
                    (
                        i.item() if hasattr(i, "item") else i,
                        int(n),
                    )
                )
        rows.sort(key=lambda t: t[0])
        out = []
        for i, n in rows:
            start = cursor
            sc = start // seq_len
            if n > 0:
                ec = (start + n - 1) // seq_len
                nch = ec - sc + 1
                crosses = ec > sc
            else:
                ec, nch, crosses = sc, 0, False
            out.append((i, key_[0], n, start, sc, ec, nch, crosses))
            cursor += n
        state.update((cursor,))
        _arm_ttl(state, ttl_ms, event_ttl)
        if out:
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id",
                    "stream",
                    "n_tokens",
                    "start_tok",
                    "start_chunk",
                    "end_chunk",
                    "n_chunks",
                    "crosses_boundary",
                ],
            )

    return base.groupBy("stream").applyInPandasWithState(
        pack,
        out_schema,
        state_schema,
        "append",
        timeout,
    )


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
