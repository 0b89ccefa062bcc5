"""Streaming semantics tests: stateless parity with the batch plan, and
node-multiplexing state carried ACROSS micro-batches (the reference's
per-stream inheritance, octrace/opencensus.go:150-165, proven per-batch
in octrace/opencensus_test.go:172-304)."""

from __future__ import annotations

import pytest

# the streaming suites take ~2 min of the full gate (4 vCPUs); the fast
# per-change loop skips them: pytest -m "not slow"
pytestmark = pytest.mark.slow

import datetime as dt
import time as _time

import pandas as pd
from pyspark.sql import Row
from pyspark.sql import functions as F

from apm_opentelemetry_collector_spark.operators.route import fan_out, with_send_outcome
from apm_opentelemetry_collector_spark.sources import fixtures
from apm_opentelemetry_collector_spark.sources.transcripts import TRANSCRIPT_SCHEMA
from apm_opentelemetry_collector_spark.streaming.stream_pipeline import (
    forward_fill_stateful,
    run_to_memory,
    stream_transcripts,
    windowed_sink_counts,
)

TS = "2024-01-01 00:00:00"


def _write_batch(spark, path, rows, mode="append"):
    df = spark.createDataFrame(
        [
            Row(conv_id=c, turn_idx=i, role=r, text=t, tool=o,
                ts=dt.datetime.fromisoformat(TS))
            for c, i, r, t, o in rows
        ],
        TRANSCRIPT_SCHEMA,
    )
    df.coalesce(1).write.mode(mode).parquet(path)


def test_stateful_fill_across_microbatches(spark, tmp_path):
    path = str(tmp_path / "stream_in")
    # micro-batch 1: node set on the first turn only
    _write_batch(spark, path, [("c1", 0, "node1", "a", "search"), ("c1", 1, None, "b", None)])
    # micro-batch 2 (separate file): no node at all → must inherit node1
    _write_batch(spark, path, [("c1", 2, None, "c", None), ("c1", 3, "node2", "d", None)])

    filled = forward_fill_stateful(stream_transcripts(spark, path))
    run_to_memory(filled, "filled_out")
    got = {
        r["turn_idx"]: (r["role"], r["tool"])
        for r in spark.sql("SELECT * FROM filled_out").collect()
    }
    assert got[0] == ("node1", "search")
    assert got[1] == ("node1", "search")   # filled within batch 1
    assert got[2] == ("node1", "search")   # state crossed the micro-batch
    assert got[3] == ("node2", "search")


# (conv_id, turn_idx, role, tool) per file; each file is one micro-batch.
# c_unsorted arrives out of turn order inside a file, c_first_null opens
# with a null turn, c_clean never has a null, c_late_nulls opens its
# second micro-batch with nulls, c_new appears only in the third file.
# c_hot fills the fourth file alone: ten turns in descending turn order,
# role and tool only on turn 0, a second role on turn 5; the parity test
# caps Arrow batches at 4 rows, so its rows reach the fill in 3 chunks.
_FILL_FILES = [
    [
        ("c_unsorted", 2, None, None), ("c_unsorted", 0, "user", "search"),
        ("c_unsorted", 1, None, "code"),
        ("c_first_null", 0, None, None), ("c_first_null", 1, None, "code"),
        ("c_first_null", 2, "assistant", None),
        ("c_clean", 0, "user", "none"), ("c_clean", 1, "assistant", "search"),
        ("c_clean", 2, "tool", "code"),
        ("c_late_nulls", 0, "system", "browser"), ("c_late_nulls", 1, "user", "none"),
        ("c_late_nulls", 2, "assistant", "code"),
    ],
    [
        ("c_unsorted", 3, "tool", None), ("c_unsorted", 5, None, None),
        ("c_unsorted", 4, None, "browser"),
        ("c_first_null", 3, None, None), ("c_first_null", 4, "user", "search"),
        ("c_first_null", 5, None, None),
        ("c_clean", 3, "user", "none"), ("c_clean", 4, "user", "none"),
        ("c_clean", 5, "assistant", "code"),
        ("c_late_nulls", 3, None, None), ("c_late_nulls", 4, None, "search"),
        ("c_late_nulls", 5, "tool", None),
    ],
    [
        ("c_unsorted", 6, None, None), ("c_unsorted", 7, "user", "code"),
        ("c_first_null", 7, None, None), ("c_first_null", 6, None, "none"),
        ("c_clean", 6, "tool", "search"), ("c_clean", 7, "system", "none"),
        ("c_late_nulls", 6, None, None), ("c_late_nulls", 7, None, None),
        ("c_new", 0, None, "code"), ("c_new", 1, "user", None),
    ],
    [
        ("c_hot", i, {0: "user", 5: "assistant"}.get(i), "search" if i == 0 else None)
        for i in range(9, -1, -1)
    ],
]


def _fill_rows(rows):
    return [(c, i, r, f"t{c}{i}", o) for c, i, r, o in rows]


def test_stateful_fill_equals_batch_fill_row_for_row(spark, tmp_path):
    """forward_fill_stateful over three micro-batches equals the batch
    forward_fill over the same rows, every column of every row. The
    input drives both paths of _fill_group: chunks already in turn order
    with no nulls come back untouched (fast path), the others are
    sorted and filled (full path). A conversation split over several
    Arrow chunks, out of turn order, is filled as one frame."""
    import os

    from apm_opentelemetry_collector_spark.operators.forward_fill import forward_fill
    from apm_opentelemetry_collector_spark.streaming.stream_pipeline import (
        FILLED_COLUMNS,
        _fill_group,
    )

    class _State:
        exists, get = False, None

        def update(self, v):
            self.exists, self.get = True, v

    # the same chunks through _fill_group in-process: both paths are hit
    states, untouched = {}, []
    ts = dt.datetime.fromisoformat(TS)
    for rows in _FILL_FILES:
        chunks = {}
        for r in _fill_rows(rows):
            chunks.setdefault(r[0], []).append((*r, ts))
        for conv, chunk in chunks.items():
            pdf = pd.DataFrame(chunk, columns=FILLED_COLUMNS)
            (out,) = _fill_group((conv,), iter([pdf]), states.setdefault(conv, _State()))
            untouched.append(out is pdf)
    assert any(untouched) and not all(untouched)

    path = str(tmp_path / "fill_parity_in")
    for k, rows in enumerate(_FILL_FILES):
        _write_batch(spark, path, _fill_rows(rows))
        # the file source orders by mtime: pin it to the write order
        for f in os.listdir(path):
            p = os.path.join(path, f)
            if f.endswith(".parquet") and os.path.getmtime(p) > 1_700_000_000 + k:
                os.utime(p, (1_700_000_000 + k,) * 2)

    arrow_batch = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(arrow_batch)
    spark.conf.set(arrow_batch, "4")
    try:
        q = (
            forward_fill_stateful(stream_transcripts(spark, path))
            .writeStream.format("memory")
            .queryName("fill_parity_out")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
            batches = [p for p in q.recentProgress if p["numInputRows"]]
        finally:
            q.stop()
    finally:
        spark.conf.set(arrow_batch, saved)
    assert len(batches) == len(_FILL_FILES)

    got = spark.sql("SELECT * FROM fill_parity_out").select(*FILLED_COLUMNS)
    want = forward_fill(spark.read.schema(TRANSCRIPT_SCHEMA).parquet(path)).select(
        *FILLED_COLUMNS
    )
    assert got.count() == sum(len(rows) for rows in _FILL_FILES)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # a conversation whose first turn is null keeps it null
    first = spark.sql(
        "SELECT role, tool FROM fill_parity_out WHERE conv_id = 'c_first_null' AND turn_idx = 0"
    ).first()
    assert first["role"] is None and first["tool"] is None


def test_stateless_stages_match_batch(spark, tmp_path):
    path = str(tmp_path / "stream_in2")
    rows = [
        ("c1", 0, "user", "x", "search"),
        ("c1", 1, "assistant", "y", "code"),
        ("c2", 0, "tool", "z", "browser"),
    ]
    _write_batch(spark, path, rows)

    routes = fixtures.routes_df(spark)
    stream = stream_transcripts(spark, path)
    routed_stream = with_send_outcome(fan_out(stream, routes))
    run_to_memory(routed_stream.select("sink", "conv_id", "turn_idx", "outcome"), "routed_out")
    got = {
        (r["sink"], r["conv_id"], r["turn_idx"], r["outcome"])
        for r in spark.sql("SELECT * FROM routed_out").collect()
    }

    batch_df = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(path)
    want = {
        (r["sink"], r["conv_id"], r["turn_idx"], r["outcome"])
        for r in with_send_outcome(fan_out(batch_df, routes))
        .select("sink", "conv_id", "turn_idx", "outcome")
        .collect()
    }
    assert got == want and got  # identical operator, two engines


def test_windowed_counts_with_watermark(spark, tmp_path):
    path = str(tmp_path / "stream_in3")
    rows = [("c1", i, "user", "x", "search") for i in range(10)]
    _write_batch(spark, path, rows)
    stream = stream_transcripts(spark, path)
    routed = with_send_outcome(fan_out(stream, fixtures.routes_df(spark)))
    agg = windowed_sink_counts(routed)
    # append mode emits only closed windows; with a single batch nothing
    # closes — use update-compatible complete mode for the smoke
    run_to_memory(agg, "win_out", output_mode="complete")
    out = spark.sql("SELECT sink, sum(n) AS n FROM win_out GROUP BY sink").collect()
    got = {r["sink"]: r["n"] for r in out}
    assert got["sink_all"] == 10 and got["sink_tools"] == 10


# --- T2: rate-source scrape twin (monitor.go:48-61 ticker) --------------------
def test_rate_scrape_stream_matches_batch_generator(spark):
    """memorymonitor_stream emits EXACTLY the batch generator's rows for
    the tick ids the rate source produced (pure function of id)."""
    import time

    from apm_opentelemetry_collector_spark.operators.translate import (

        memorymonitor_scrape,
        memorymonitor_stream,
        to_signalfx,
    )

    out = to_signalfx(memorymonitor_stream(spark, rows_per_second=500))
    q = (
        out.writeStream.format("memory")
        .queryName("scrape_out")
        .outputMode("append")
        .start()
    )
    try:
        time.sleep(2)
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT * FROM scrape_out").collect()
    assert len(got) > 0

    # batch rows for enough rounds to cover everything the stream emitted
    max_ts = max(r["ts"] for r in got)
    batch = to_signalfx(memorymonitor_scrape(spark, n_rounds=10_000)).filter(
        F.col("ts") <= max_ts
    )
    want = {
        (r["name"], r["host"], r["ts"]): (r["sf_type"], r["value"], r["unit"])
        for r in batch.collect()
    }
    for r in got:
        assert want[(r["name"], r["host"], r["ts"])] == (
            r["sf_type"], r["value"], r["unit"],
        ), r


def test_stream_dedup_across_microbatches(spark, tmp_path):
    """Duplicate (conv_id, turn_idx) rows arriving in later micro-batches
    within the watermark are dropped — exactly-once turn delivery under
    at-least-once ingest."""
    from apm_opentelemetry_collector_spark.streaming.stream_pipeline import (
        dedup_stream,
        run_to_memory,
        stream_transcripts,
    )

    path = str(tmp_path / "dedup_in")
    rows = [("c1", 0, "user", "a", "search"), ("c1", 1, "assistant", "b", None)]
    _write_batch(spark, path, rows)
    # batch 2 re-delivers turn 1 (retry duplicate) plus a new turn
    _write_batch(spark, path, [("c1", 1, "assistant", "b", None),
                               ("c1", 2, "user", "c", None)])

    out = dedup_stream(stream_transcripts(spark, path))
    run_to_memory(out.select("conv_id", "turn_idx", "text"), "dedup_out")
    got = sorted(
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in spark.sql("SELECT * FROM dedup_out").collect()
    )
    assert got == [("c1", 0, "a"), ("c1", 1, "b"), ("c1", 2, "c")]


# --- state TTL (r4 VERDICT #2) ----------------------------------------------
# NOTE: with ProcessingTimeTimeout the engine schedules micro-batches
# continuously while any timeout is registered, and processAllAvailable
# never latches noNewData — so these tests POLL the memory sink and the
# progress metrics instead of calling processAllAvailable.


def _wait_for(pred, timeout_s=90.0, step_s=0.2):
    deadline = _time.time() + timeout_s
    while _time.time() < deadline:
        v = pred()
        if v:
            return v
        _time.sleep(step_s)
    return None


def _wait_state_rows(q, expected, timeout_s=90.0, after_batch=-1):
    """Wait until some progress report AFTER batch `after_batch` shows
    exactly `expected` state rows; returns that count or None on
    timeout. Scans recentProgress (a history) rather than polling
    lastProgress (a snapshot): with a short TTL the expected peak is
    transient — the wave's own keys evict one TTL later — and a
    lastProgress poll can sleep straight through it under host
    contention. `after_batch` (the batchId returned by
    _wait_state_empty) excludes wave-1 decay reports that could
    coincidentally equal the wave-2 expectation."""

    def check():
        for p in q.recentProgress:
            ops = p.get("stateOperators") if p else None
            if (
                ops
                and p.get("batchId", -1) > after_batch
                and ops[0]["numRowsTotal"] == expected
            ):
                return ops[0]["numRowsTotal"]
        return None

    return _wait_for(check, timeout_s)


def _wait_state_empty(q, timeout_s=90.0):
    """Poll lastProgress until the state store reports ZERO rows (all
    keys evicted); returns that report's batchId (≥1 here: batch 0 is
    the wave-1 ingest, so the first empty report is always later), or
    None on timeout. Used instead of wall-clock sleeps: on a VM with
    3-5x timing noise a fixed sleep can race the timeout micro-batch,
    so the tests make eviction a confirmed PRECONDITION before
    ingesting the next wave."""

    def check():
        p = q.lastProgress
        ops = p.get("stateOperators") if p else None
        if ops is not None and ops[0]["numRowsTotal"] == 0:
            return p["batchId"]
        return None

    return _wait_for(check, timeout_s)


def test_forward_fill_state_ttl_evicts_idle_keys(spark, tmp_path):
    """forward_fill_stateful honors state_ttl_s via the TTL helpers:
    idle conversations are evicted under key churn, and a revived
    conversation starts with NO inherited role/tool (leading nulls stay
    null — same as a new stream)."""

    from pyspark.sql import Row

    from apm_opentelemetry_collector_spark.sources.transcripts import (
        TRANSCRIPT_SCHEMA,
    )
    from apm_opentelemetry_collector_spark.streaming.stream_pipeline import (
        forward_fill_stateful,
        stream_transcripts,
    )

    path = str(tmp_path / "ff_ttl_in")
    t0 = dt.datetime(2024, 1, 1)
    w1 = [
        Row(conv_id=f"c{i}", turn_idx=0, role="user", text="a", tool="srch", ts=t0)
        for i in range(12)
    ]
    spark.createDataFrame(w1, TRANSCRIPT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)
    q = (
        forward_fill_stateful(stream_transcripts(spark, path), state_ttl_s=1.0)
        .writeStream.format("memory")
        .queryName("ff_ttl_out")
        .outputMode("append")
        .start()
    )
    try:
        assert _wait_for(
            lambda: spark.sql("SELECT count(*) FROM ff_ttl_out").first()[0] == 12
        )
        empty_bid = _wait_state_empty(q)
        assert empty_bid, "wave-1 state never fully evicted"
        # wave 2: fresh convs + c0 returning with a NULL role/tool turn
        w2 = [
            Row(conv_id=f"d{i}", turn_idx=0, role="user", text="b", tool=None, ts=t0)
            for i in range(5)
        ] + [Row(conv_id="c0", turn_idx=1, role=None, text="c", tool=None, ts=t0)]
        spark.createDataFrame(w2, TRANSCRIPT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(path)
        assert _wait_for(
            lambda: spark.sql("SELECT count(*) FROM ff_ttl_out").first()[0] == 18
        )
        assert _wait_state_rows(q, 6, after_batch=empty_bid) == 6  # 5 fresh + c0, not 17
        got = spark.sql(
            "SELECT role, tool FROM ff_ttl_out WHERE conv_id='c0' AND turn_idx=1"
        ).collect()[0]
    finally:
        q.stop()
    # evicted conversation: nothing inherited — nulls stay null
    assert got["role"] is None and got["tool"] is None


def test_resolve_ttl_rejects_zero_and_submillisecond():
    """r5 ADVICE: state_ttl_s=0 (or any value truncating to ttl_ms=0)
    must RAISE, not silently become 'never evict' — None is the only
    documented never-evict sentinel."""
    import pytest

    from apm_opentelemetry_collector_spark.streaming.stream_pipeline import (
        _resolve_ttl,
    )

    for bad in (0, 0.0, 0.0005, -1.0):
        with pytest.raises(ValueError, match="state_ttl_s"):
            _resolve_ttl(bad)
    # the sentinels still work
    ttl_ms, event_ttl, timeout = _resolve_ttl(None)
    assert ttl_ms == 0 and not event_ttl
    ttl_ms, event_ttl, timeout = _resolve_ttl(1.5)
    assert ttl_ms == 1500
    ttl_ms, event_ttl, timeout = _resolve_ttl(1.5, ttl_clock="event")
    assert ttl_ms == 1500 and event_ttl


def test_forward_fill_event_time_ttl_evicts_by_watermark(spark, tmp_path):
    """ttl_clock='event' on the forward fill: conversations whose own
    event clock falls ttl behind the watermark are evicted regardless
    of replay speed; a conversation touched within the event-time TTL
    keeps its inheritance across the same watermark advance, and a
    conversation reviving AFTER the watermark evicted it inherits
    nothing."""
    import datetime as dt

    from pyspark.sql import Row

    sec = lambda s: dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)
    path = str(tmp_path / "ff_ettl_in")
    w1 = [
        Row(conv_id=f"c{i}", turn_idx=0, role="user", text="a", tool="search",
            ts=sec(0))
        for i in range(8)
    ]
    # c0 touched BEFORE the watermark can fire its timeout (watermark
    # only advances after this batch) → inherits; d0/d1 fresh
    w2 = [Row(conv_id="c0", turn_idx=1, role=None, text="b", tool=None,
              ts=sec(300))] + [
        Row(conv_id=f"d{i}", turn_idx=0, role="tool", text="c", tool=None,
            ts=sec(300))
        for i in range(2)
    ]
    # watermark-advancer batch: timeouts for c1-c7 (armed at t0+30,
    # watermark already t0+290) fire HERE — a revived key's data would
    # otherwise land in the same batch as its timeout, and data wins
    w3 = [Row(conv_id="e0", turn_idx=0, role="assistant", text="e", tool=None,
              ts=sec(320))]
    # c1 was evicted in wave 3's batch → revival inherits nothing
    w4 = [Row(conv_id="c1", turn_idx=1, role=None, text="d", tool=None,
              ts=sec(330))]
    for w in (w1, w2, w3, w4):
        spark.createDataFrame(w, TRANSCRIPT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(path)

    stream = stream_transcripts(spark, path).withWatermark("ts", "10 seconds")
    q = (
        forward_fill_stateful(stream, state_ttl_s=30.0, ttl_clock="event")
        .writeStream.format("memory")
        .queryName("ff_ettl_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        state_rows = None
        for p in reversed(q.recentProgress):
            ops = p.get("stateOperators")
            if ops:
                state_rows = ops[0]["numRowsTotal"]
                break
        got = spark.sql("SELECT * FROM ff_ettl_out").toPandas()
    finally:
        q.stop()

    # c0 (touched), d0, d1, e0, re-created c1 survive; c2-c7 evicted
    assert state_rows == 5
    c0 = got[(got["conv_id"] == "c0") & (got["turn_idx"] == 1)].iloc[0]
    assert c0["role"] == "user" and c0["tool"] == "search"  # state survived
    c1 = got[(got["conv_id"] == "c1") & (got["turn_idx"] == 1)].iloc[0]
    assert pd.isna(c1["role"]) and pd.isna(c1["tool"])      # nothing inherited

