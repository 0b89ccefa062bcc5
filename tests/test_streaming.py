"""Streaming semantics tests: stateless parity with the batch plan, and
node-multiplexing state carried ACROSS micro-batches (the reference's
per-stream inheritance, octrace/opencensus.go:150-165, proven per-batch
in octrace/opencensus_test.go:172-304)."""

from __future__ import annotations

import pytest

# streaming restart/slicing suites dominate the full gate (~16 min);
# the fast per-change loop skips them: pytest -m "not slow"
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
# second micro-batch with nulls, c_new appears only in the last file.
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
]


def _fill_rows(rows):
    return [(c, i, r, f"t{c}{i}", o) for c, i, r, o in rows]


def test_stateful_fill_equals_batch_fill_row_for_row(spark, tmp_path):
    """forward_fill_stateful over three micro-batches equals the batch
    forward_fill over the same rows, every column of every row. The
    input drives both paths of _fill_group: chunks already in turn order
    with no nulls come back untouched (fast path), the others are
    sorted and filled (full path)."""
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


# --- T5: session_window sessionization (SURVEY §2.8) --------------------------
def test_session_window_matches_batch_cumsum(spark):
    """The F.session_window plan and the batch lag+cumsum assign identical
    sessions on real data (identical gap semantics away from the
    measure-zero exact-boundary case)."""
    import __spark_entry__ as entrymod
    from apm_opentelemetry_collector_spark.streaming.stream_pipeline import (
        sessionize_session_window,
    )

    sf = "/root/testdata/sf0.001"
    key = ("user_id", "session_start", "session_end", "n_events")
    want = {
        tuple(r)
        for r in entrymod.queries()["events_sessionize"](spark, sf)
        .select(*key)
        .collect()
    }
    events = spark.read.parquet(f"{sf}/events.parquet")
    got = {
        tuple(r) for r in sessionize_session_window(events).select(*key).collect()
    }
    assert got == want and len(got) > 100


def test_session_window_streaming_closes_on_watermark(spark, tmp_path):
    """Streaming sessionization: a session emits once the watermark passes
    session_end + gap; the still-open tail session stays in state."""
    import datetime as dt

    from pyspark.sql import Row
    from pyspark.sql import types as T

    from apm_opentelemetry_collector_spark.streaming.stream_pipeline import (
        run_to_memory,
        sessionize_session_window,
    )

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    mins = lambda m: t0 + dt.timedelta(minutes=m)
    path = str(tmp_path / "sess_in")
    # file 1: user 1 session A (2 events), then a gap to session B
    spark.createDataFrame(
        [Row(user_id=1, ts=mins(0)), Row(user_id=1, ts=mins(10)),
         Row(user_id=1, ts=mins(120))],
        schema,
    ).coalesce(1).write.mode("append").parquet(path)
    # file 2: advances the watermark in a second micro-batch
    spark.createDataFrame(
        [Row(user_id=2, ts=mins(120))], schema
    ).coalesce(1).write.mode("append").parquet(path)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    sess = sessionize_session_window(stream, gap="30 minutes", watermark="0 seconds")
    run_to_memory(sess, "sess_out", output_mode="append")
    rows = spark.sql("SELECT * FROM sess_out").collect()
    emitted = {(r["user_id"], r["session_start"], r["n_events"]) for r in rows}
    # session A closed (end+gap far below the t0+120min watermark)...
    assert (1, mins(0), 2) in emitted
    # ...while the sessions still inside watermark+gap remain open state
    assert all(r["session_start"] != mins(120) for r in rows)


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


def test_ewma_anomaly_state_crosses_microbatches(spark, tmp_path):
    """Baseline learned in micro-batch 1 must flag a spike arriving in
    micro-batch 2 (state crossed the batch boundary), and the spike must
    not suppress itself (flagged before updating state)."""
    import datetime as dt

    from pyspark.sql import Row
    from pyspark.sql import types as T

    from apm_opentelemetry_collector_spark.streaming.stream_pipeline import (
        ewma_anomalies,
        run_to_memory,
    )

    schema = T.StructType(
        [
            T.StructField("host", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    t0 = dt.datetime(2024, 1, 1)
    sec = lambda s: t0 + dt.timedelta(seconds=s)
    path = str(tmp_path / "anom_in")
    # batch 1: steady baseline around 10 (slight wobble so var > 0)
    base = [Row(host="h0", ts=sec(i), value=10.0 + (i % 2) * 0.5) for i in range(20)]
    spark.createDataFrame(base, schema).coalesce(1).write.mode("append").parquet(path)
    # batch 2: one spike then recovery
    b2 = [Row(host="h0", ts=sec(20), value=100.0),
          Row(host="h0", ts=sec(21), value=10.0)]
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(path)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(path)
    )
    run_to_memory(ewma_anomalies(stream), "anom_out")
    rows = {r["ts"]: r for r in spark.sql("SELECT * FROM anom_out").collect()}
    assert len(rows) == 22
    assert rows[sec(20)]["is_anomaly"] is True        # spike flagged
    assert abs(rows[sec(20)]["zscore"]) > 3
    assert rows[sec(5)]["is_anomaly"] is False        # baseline quiet
    # state crossed batches: the spike's z-score used batch-1 statistics
    assert rows[sec(0)]["zscore"] == 0.0              # warm-up


def test_counter_delta_state_crosses_microbatches(spark, tmp_path):
    """Streaming counter deltas must equal the batch operator over the
    concatenated input: the baseline value crosses the micro-batch
    boundary, resets yield the post-reset value, first point is NULL."""
    import datetime as dt

    from pyspark.sql import Row
    from pyspark.sql import types as T

    from apm_opentelemetry_collector_spark.operators.rates import counter_delta
    from apm_opentelemetry_collector_spark.streaming.stream_pipeline import (
        counter_delta_stateful,
        run_to_memory,
    )

    schema = T.StructType(
        [
            T.StructField("name", T.StringType()),
            T.StructField("host", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    t0 = dt.datetime(2024, 1, 1)
    sec = lambda s: t0 + dt.timedelta(seconds=s)
    path = str(tmp_path / "ctr_in")
    # batch 1: counter climbs; batch 2: continues, then RESETS
    b1 = [Row(name="m", host="h0", ts=sec(i), value=float(10 * i)) for i in range(5)]
    b2 = [
        Row(name="m", host="h0", ts=sec(5), value=55.0),
        Row(name="m", host="h0", ts=sec(6), value=3.0),   # reset
        Row(name="m", host="h0", ts=sec(7), value=9.0),
    ]
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(path)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(path)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(path)
    )
    run_to_memory(counter_delta_stateful(stream), "ctr_out")
    got = {r["ts"]: r["delta"] for r in spark.sql("SELECT * FROM ctr_out").collect()}

    want = {
        r["ts"]: r["delta"]
        for r in counter_delta(
            spark.read.parquet(path), ["name", "host"], "ts", "value"
        ).collect()
    }
    assert set(got) == set(want) and len(got) == 8
    for ts in want:
        # strict: first point is NULL on BOTH paths (not NaN — a NaN
        # would slip past `delta IS NULL` filters and poison sum/avg)
        assert got[ts] == want[ts] or (got[ts] is None and want[ts] is None)
    # boundary point (first of batch 2) used batch-1 state: 55-40=15
    assert got[sec(5)] == 15.0
    assert got[sec(6)] == 3.0  # reset → post-reset value


def test_streaming_funnel_matches_batch(spark, tmp_path):
    """Funnel progress carried across micro-batches equals the batch
    funnel over the concatenated events; strict order still enforced."""
    import datetime as dt

    from pyspark.sql import Row
    from pyspark.sql import types as T

    from apm_opentelemetry_collector_spark.operators.analytics import funnel_stages
    from apm_opentelemetry_collector_spark.streaming.stream_pipeline import (
        funnel_stateful,
        run_to_memory,
    )

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    t = lambda s: dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)
    path = str(tmp_path / "fun_in")
    # batch 1: u1 views; u2 views+clicks; u3 purchases (never viewed)
    b1 = [Row(user_id=1, event_type="view", ts=t(0)),
          Row(user_id=2, event_type="view", ts=t(0)),
          Row(user_id=2, event_type="click", ts=t(1)),
          Row(user_id=3, event_type="purchase", ts=t(0))]
    # batch 2: u1 clicks+purchases (advance uses batch-1 state);
    # u2 purchases; u3 views (starts funnel late)
    b2 = [Row(user_id=1, event_type="click", ts=t(10)),
          Row(user_id=1, event_type="purchase", ts=t(11)),
          Row(user_id=2, event_type="purchase", ts=t(10)),
          Row(user_id=3, event_type="view", ts=t(10))]
    for b in (b1, b2):
        spark.createDataFrame(b, schema).coalesce(1).write.mode("append").parquet(path)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(path)
    )
    run_to_memory(funnel_stateful(stream), "fun_out")
    emitted = spark.sql("SELECT * FROM fun_out")

    # per-step distinct-user counts equal the batch funnel
    from pyspark.sql import functions as FF

    stream_counts = {
        r["step"]: r["n"]
        for r in emitted.groupBy("step")
        .agg(FF.count_distinct("user_id").alias("n"))
        .collect()
    }
    batch_counts = {
        r["step"]: r["n_users"]
        for r in funnel_stages(spark.read.parquet(path)).collect()
    }
    assert stream_counts == {k: v for k, v in batch_counts.items() if v > 0}
    # u1 advanced across the batch boundary; u3's early purchase ignored
    rows = {(r["user_id"], r["step"]) for r in emitted.collect()}
    assert (1, "purchase") in rows and (3, "purchase") not in rows


def test_streaming_funnel_out_of_order_matches_batch(spark, tmp_path):
    """VERDICT r3 #5: with a reorder buffer sized to the arrival
    displacement, SHUFFLED arrival must still equal the batch funnel —
    events inside the delay are held in keyed state and replayed in
    event-time order once the user's clock passes; a terminal non-step
    heartbeat drains the buffer."""
    import datetime as dt
    import random

    from pyspark.sql import Row
    from pyspark.sql import functions as FF
    from pyspark.sql import types as T

    from apm_opentelemetry_collector_spark.operators.analytics import funnel_stages
    from apm_opentelemetry_collector_spark.streaming.stream_pipeline import (
        funnel_stateful,
        run_to_memory,
    )

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    t = lambda s: dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)
    rng = random.Random(7)
    kinds = ["view", "click", "purchase", "scroll"]
    rows = []
    for uid in range(40):
        for j in range(12):
            rows.append(
                Row(
                    user_id=uid,
                    event_type=rng.choice(kinds),
                    ts=t(j * 10 + rng.randint(0, 9)),
                )
            )
    # shuffled arrival: displacement bounded by the 3-way interleave of
    # a 120 s history → far under the 200 s reorder delay
    arrival = rows[:]
    rng.shuffle(arrival)
    barrier = [Row(user_id=uid, event_type="scroll", ts=t(10_000)) for uid in range(40)]
    thirds = [arrival[0::3], arrival[1::3], arrival[2::3], barrier]
    path = str(tmp_path / "fun_ooo")
    for b in thirds:
        spark.createDataFrame(b, schema).coalesce(1).write.mode("append").parquet(path)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(path)
    )
    run_to_memory(funnel_stateful(stream, reorder_delay_s=200), "fun_ooo_out")
    emitted = spark.sql("SELECT * FROM fun_ooo_out")

    stream_counts = {
        r["step"]: r["n"]
        for r in emitted.groupBy("step")
        .agg(FF.count_distinct("user_id").alias("n"))
        .collect()
    }
    batch = spark.createDataFrame(rows, schema)
    batch_counts = {
        r["step"]: r["n_users"] for r in funnel_stages(batch).collect()
    }
    assert stream_counts == {k: v for k, v in batch_counts.items() if v > 0}
    # per-user completion times match the batch chain exactly
    from apm_opentelemetry_collector_spark.operators.analytics import (
        funnel_user_steps,
    )

    want = {
        (r["user_id"], r["step_idx"], r["ts"])
        for r in funnel_user_steps(batch).collect()
    }
    got = {
        (r["user_id"], r["step_idx"], r["ts"]) for r in emitted.collect()
    }
    assert got == want


def test_streaming_weighted_reservoir_matches_batch(spark, tmp_path):
    """VERDICT r3 #6: streaming A-ES with bounded keyed state — the
    hash-derived ranking key makes the sample a pure function of the
    DATA, so the final reservoir must equal the batch operator's top-k
    regardless of micro-batch slicing, every snapshot stays ≤ k rows
    (bounded state), and arrival order doesn't matter."""
    from pyspark.sql import functions as FF

    from apm_opentelemetry_collector_spark.operators.sample import (
        weighted_reservoir_sample,
    )
    from apm_opentelemetry_collector_spark.streaming.stream_pipeline import (
        run_to_memory,
        weighted_reservoir_stateful,
    )

    from tests.conftest import SF_TINY

    k = 12
    docs = (
        spark.read.parquet(f"{SF_TINY}/documents.parquet")
        .select(
            "doc_id", (FF.length("text") + FF.lit(1)).cast("double").alias("weight")
        )
    )
    pdf = docs.toPandas()
    path = str(tmp_path / "wrs_in")
    # three interleaved micro-batches, deliberately NOT in doc_id order
    for i in range(3):
        chunk = pdf.iloc[i::3].sample(frac=1.0, random_state=i)
        spark.createDataFrame(chunk).coalesce(1).write.mode("append").parquet(path)

    stream = spark.readStream.schema(docs.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(path)
    run_to_memory(
        weighted_reservoir_stateful(stream, k, "weight", "doc_id"), "wrs_out"
    )
    snaps = spark.sql("SELECT * FROM wrs_out").toPandas()
    # bounded state: every snapshot holds at most k rows
    assert snaps.groupby("snapshot").size().max() <= k
    assert snaps["snapshot"].max() == 3

    final = set(snaps[snaps["snapshot"] == 3]["id"])
    want = {
        str(r["doc_id"])
        for r in weighted_reservoir_sample(docs, k, "weight", "doc_id").collect()
    }
    assert final == want and len(final) == k


def test_counter_delta_out_of_order_matches_batch(spark, tmp_path):
    """Counter differencing is order-critical (a late point processed
    eagerly fabricates a reset). With the reorder buffer sized to the
    displacement, shuffled arrival must reproduce the batch operator's
    (ts, value, delta) rows exactly — including true NULL first points."""
    import datetime as dt
    import random

    from pyspark.sql import Row
    from pyspark.sql import types as T

    from apm_opentelemetry_collector_spark.operators.rates import counter_delta
    from apm_opentelemetry_collector_spark.streaming.stream_pipeline import (
        counter_delta_stateful,
        run_to_memory,
    )

    schema = T.StructType(
        [
            T.StructField("name", T.StringType()),
            T.StructField("host", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    t0 = dt.datetime(2024, 1, 1)
    sec = lambda s: t0 + dt.timedelta(seconds=s)
    rng = random.Random(11)
    rows = []
    for host in ("h0", "h1"):
        v = 0.0
        for i in range(30):
            # climbing counter with two resets per series
            v = 3.0 if i in (11, 23) else v + rng.randint(1, 9)
            rows.append(Row(name="m", host=host, ts=sec(i * 5), value=float(v)))
    arrival = rows[:]
    rng.shuffle(arrival)
    # heartbeat far in the future drains each series' buffer
    barrier = [
        Row(name="m", host=h, ts=sec(10_000), value=1e9) for h in ("h0", "h1")
    ]
    path = str(tmp_path / "ctr_ooo")
    for b in (arrival[0::3], arrival[1::3], arrival[2::3], barrier):
        spark.createDataFrame(b, schema).coalesce(1).write.mode("append").parquet(path)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(path)
    )
    run_to_memory(counter_delta_stateful(stream, reorder_delay_s=600), "ctr_ooo_out")
    got = {
        (r["host"], r["ts"]): (r["value"], r["delta"])
        for r in spark.sql("SELECT * FROM ctr_ooo_out").collect()
    }
    batch = spark.createDataFrame(rows + barrier, schema)
    want = {
        (r["host"], r["ts"]): (r["value"], r["delta"])
        for r in counter_delta(batch, ["name", "host"], "ts", "value").collect()
    }
    # streaming emitted everything except the still-buffered heartbeats
    assert set(got) == {k for k in want if k[1] != sec(10_000)}
    for k, v in got.items():
        assert v == want[k], (k, v, want[k])


def test_streaming_stratified_reservoir_per_group_state(spark, tmp_path):
    """group_cols path of the streaming reservoir: one bounded reservoir
    PER STRATUM, each equal to the batch operator run on that stratum."""
    from pyspark.sql import functions as FF

    from apm_opentelemetry_collector_spark.operators.sample import (
        weighted_reservoir_sample,
    )
    from apm_opentelemetry_collector_spark.streaming.stream_pipeline import (
        run_to_memory,
        weighted_reservoir_stateful,
    )
    from tests.conftest import SF_TINY

    k = 5
    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet").select(
        "source",
        "doc_id",
        (FF.length("text") + FF.lit(1)).cast("double").alias("weight"),
    )
    pdf = docs.toPandas()
    path = str(tmp_path / "wrs_strat")
    for i in range(2):
        spark.createDataFrame(pdf.iloc[i::2]).coalesce(1).write.mode(
            "append"
        ).parquet(path)

    stream = spark.readStream.schema(docs.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(path)
    run_to_memory(
        weighted_reservoir_stateful(
            stream, k, "weight", "doc_id", group_cols=["source"]
        ),
        "wrs_strat_out",
    )
    snaps = spark.sql("SELECT * FROM wrs_strat_out").toPandas()
    assert snaps.groupby(["source", "snapshot"]).size().max() <= k
    final = snaps[snaps["snapshot"] == snaps.groupby("source")["snapshot"].transform("max")]
    for src, grp in final.groupby("source"):
        want = {
            str(r["doc_id"])
            for r in weighted_reservoir_sample(
                docs.filter(FF.col("source") == src), k, "weight", "doc_id"
            ).collect()
        }
        assert set(grp["id"]) == want, src


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


def test_funnel_state_ttl_evicts_idle_users(spark, tmp_path):
    """With state_ttl_s set, users idle past the TTL are EVICTED: under
    churning keys the state-store row count settles at the ACTIVE wave
    size (not cumulative), and an evicted user restarts the funnel
    (re-emits step 1)."""
    import datetime as dt

    from pyspark.sql import Row
    from pyspark.sql import types as T

    from apm_opentelemetry_collector_spark.streaming.stream_pipeline import (
        funnel_stateful,
    )

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    t0 = dt.datetime(2024, 1, 1)
    path = str(tmp_path / "fun_ttl_in")
    wave1 = [Row(user_id=i, event_type="view", ts=t0) for i in range(20)]
    spark.createDataFrame(wave1, schema).coalesce(1).write.mode("append").parquet(path)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(path)
    )
    q = (
        funnel_stateful(stream, state_ttl_s=1.0)
        .writeStream.format("memory")
        .queryName("fun_ttl_out")
        .outputMode("append")
        .start()
    )
    try:
        n1 = _wait_for(
            lambda: spark.sql("SELECT count(*) FROM fun_ttl_out").first()[0] == 20
        )
        assert n1, "wave-1 output never arrived"
        # eviction as a confirmed precondition (not a wall-clock sleep):
        # wave-1 users idle past the 1 s TTL → state drains to zero
        empty_bid = _wait_state_empty(q)
        assert empty_bid, "wave-1 state never fully evicted"
        # wave 2: 20 FRESH users plus user 0 returning after eviction
        wave2 = [
            Row(user_id=100 + i, event_type="view", ts=t0 + dt.timedelta(seconds=9))
            for i in range(20)
        ] + [Row(user_id=0, event_type="view", ts=t0 + dt.timedelta(seconds=9))]
        spark.createDataFrame(wave2, schema).coalesce(1).write.mode("append").parquet(
            path
        )
        n2 = _wait_for(
            lambda: spark.sql("SELECT count(*) FROM fun_ttl_out").first()[0] == 41
        )
        assert n2, "wave-2 output never arrived"
        # churn bound: wave-1's 20 users evicted, only wave-2's 21 remain
        assert _wait_state_rows(q, 21, after_batch=empty_bid) == 21
        got = spark.sql("SELECT * FROM fun_ttl_out").toPandas()
    finally:
        q.stop()
    # evicted user 0 RESTARTED the funnel: two step-1 rows
    assert len(got[(got["user_id"] == 0) & (got["step_idx"] == 1)]) == 2


def test_counter_delta_state_ttl_evicts_idle_series(spark, tmp_path):
    """Series idle past the TTL are evicted; a revived series is a NEW
    series (NULL-delta first point), and the key count settles at the
    active-wave size under series churn."""
    import datetime as dt

    from pyspark.sql import Row
    from pyspark.sql import types as T

    from apm_opentelemetry_collector_spark.streaming.stream_pipeline import (
        counter_delta_stateful,
    )

    schema = T.StructType(
        [
            T.StructField("name", T.StringType()),
            T.StructField("host", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    t0 = dt.datetime(2024, 1, 1)
    sec = lambda s: t0 + dt.timedelta(seconds=s)
    path = str(tmp_path / "ctr_ttl_in")
    wave1 = [
        Row(name=f"m{i}", host="h", ts=sec(j), value=float(10 * j))
        for i in range(10)
        for j in range(2)
    ]
    spark.createDataFrame(wave1, schema).coalesce(1).write.mode("append").parquet(path)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(path)
    )
    q = (
        counter_delta_stateful(stream, state_ttl_s=1.0)
        .writeStream.format("memory")
        .queryName("ctr_ttl_out")
        .outputMode("append")
        .start()
    )
    try:
        n1 = _wait_for(
            lambda: spark.sql("SELECT count(*) FROM ctr_ttl_out").first()[0] == 20
        )
        assert n1, "wave-1 output never arrived"
        empty_bid = _wait_state_empty(q)
        assert empty_bid, "wave-1 state never fully evicted"
        # wave 2: fresh series + series m0 reviving with a LOWER value —
        # with state alive that would read as a reset (delta = 5.0);
        # after eviction it is a NEW series → NULL delta
        wave2 = [
            Row(name=f"n{i}", host="h", ts=sec(60), value=1.0) for i in range(10)
        ] + [Row(name="m0", host="h", ts=sec(60), value=5.0)]
        spark.createDataFrame(wave2, schema).coalesce(1).write.mode("append").parquet(
            path
        )
        n2 = _wait_for(
            lambda: spark.sql("SELECT count(*) FROM ctr_ttl_out").first()[0] == 31
        )
        assert n2, "wave-2 output never arrived"
        assert _wait_state_rows(q, 11, after_batch=empty_bid) == 11  # wave-1 gone, not 21
        got = spark.sql("SELECT * FROM ctr_ttl_out WHERE name='m0'").toPandas()
    finally:
        q.stop()
    revived = got[got["value"] == 5.0]["delta"]
    assert len(revived) == 1 and revived.isna().all()


def test_reservoir_state_ttl_evicts_idle_strata(spark, tmp_path):
    """Strata idle past the TTL drop their reservoirs: state rows settle
    at the ACTIVE stratum count under stratum churn."""

    from pyspark.sql import functions as FF

    from apm_opentelemetry_collector_spark.streaming.stream_pipeline import (
        weighted_reservoir_stateful,
    )

    path = str(tmp_path / "wrs_ttl_in")
    w1 = spark.range(100).select(
        (FF.col("id") % 10).cast("string").alias("source"),
        FF.col("id").cast("string").alias("doc_id"),
        (FF.col("id") + 1).cast("double").alias("weight"),
    )
    w1.coalesce(1).write.mode("append").parquet(path)

    stream = spark.readStream.schema(w1.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(path)
    q = (
        weighted_reservoir_stateful(
            stream, 5, "weight", "doc_id", group_cols=["source"], state_ttl_s=1.0
        )
        .writeStream.format("memory")
        .queryName("wrs_ttl_out")
        .outputMode("append")
        .start()
    )
    try:
        # wave 1: 10 strata × reservoir of 5 = 50 snapshot rows
        n1 = _wait_for(
            lambda: spark.sql("SELECT count(*) FROM wrs_ttl_out").first()[0] == 50
        )
        assert n1, "wave-1 snapshots never arrived"
        empty_bid = _wait_state_empty(q)
        assert empty_bid, "wave-1 state never fully evicted"
        w2 = spark.range(100, 140).select(
            ((FF.col("id") % 4) + 100).cast("string").alias("source"),
            FF.col("id").cast("string").alias("doc_id"),
            (FF.col("id") + 1).cast("double").alias("weight"),
        )
        w2.coalesce(1).write.mode("append").parquet(path)
        n2 = _wait_for(
            lambda: spark.sql("SELECT count(*) FROM wrs_ttl_out").first()[0] == 70
        )
        assert n2, "wave-2 snapshots never arrived"
        assert _wait_state_rows(q, 4, after_batch=empty_bid) == 4  # 10 wave-1 strata evicted
    finally:
        q.stop()


def test_funnel_ttl_equals_no_timeout_on_active_window(spark, tmp_path):
    """With a TTL longer than the stream's lifetime nothing is evicted:
    the TTL'd operator must emit EXACTLY the no-timeout operator's
    output (same advances, same timestamps) — idle eviction changes
    nothing for keys inside the active window."""
    import datetime as dt

    from pyspark.sql import Row
    from pyspark.sql import types as T

    from apm_opentelemetry_collector_spark.streaming.stream_pipeline import (
        funnel_stateful,
    )

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    t0 = dt.datetime(2024, 1, 1)
    sec = lambda s: t0 + dt.timedelta(seconds=s)
    path = str(tmp_path / "fun_eq_in")
    # two micro-batches: users advance across the batch boundary
    b1 = [Row(user_id=u, event_type="view", ts=sec(u)) for u in range(8)]
    b1 += [Row(user_id=u, event_type="click", ts=sec(20 + u)) for u in range(4)]
    b2 = [Row(user_id=u, event_type="purchase", ts=sec(40 + u)) for u in range(2)]
    b2 += [Row(user_id=u, event_type="click", ts=sec(60 + u)) for u in (4, 5)]
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(path)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(path)

    def run(name, ttl):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
        )
        q = (
            funnel_stateful(stream, state_ttl_s=ttl)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .start()
        )
        try:
            if ttl:
                # processAllAvailable never latches with pending
                # processing-time timeouts — poll the sink instead
                assert _wait_for(
                    lambda: spark.sql(f"SELECT count(*) FROM {name}").first()[0]
                    >= 16
                )
            else:
                q.processAllAvailable()
        finally:
            q.stop()
        return sorted(
            map(tuple, spark.sql(f"SELECT * FROM {name}").collect())
        )

    base = run("fun_eq_none", None)
    ttl = run("fun_eq_ttl", 3600.0)
    assert base == ttl and len(base) == 16


def test_funnel_event_time_ttl_evicts_by_watermark(spark, tmp_path):
    """ttl_clock='event': eviction follows the WATERMARK, not wall
    time — replaying months of history evicts users whose own event
    clock falls ttl behind the stream's, regardless of how fast the
    replay runs. A user touched within the event-time TTL survives the
    same watermark advance that evicts the idle ones. (EventTimeTimeout
    fires on watermark movement, so processAllAvailable terminates —
    unlike the processing-time tests above.)"""
    import datetime as dt

    from pyspark.sql import Row
    from pyspark.sql import types as T

    from apm_opentelemetry_collector_spark.streaming.stream_pipeline import (
        funnel_stateful,
    )

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    t0 = dt.datetime(2024, 1, 1)
    sec = lambda s: t0 + dt.timedelta(seconds=s)
    path = str(tmp_path / "fun_ettl_in")
    # wave 1 at t0; wave 2 at t0+300 s — far beyond the 30 s event TTL.
    # user 0 is touched again in wave 2 BEFORE its timeout can fire
    # (watermark only reaches t0+290 after wave 2), so it survives;
    # users 1-9 are idle in event time and are evicted.
    wave1 = [Row(user_id=i, event_type="view", ts=sec(0)) for i in range(10)]
    wave2 = [
        Row(user_id=100 + i, event_type="view", ts=sec(300)) for i in range(5)
    ] + [Row(user_id=0, event_type="view", ts=sec(300))]
    spark.createDataFrame(wave1, schema).coalesce(1).write.mode("append").parquet(path)
    spark.createDataFrame(wave2, schema).coalesce(1).write.mode("append").parquet(path)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
        .withWatermark("ts", "10 seconds")
    )
    q = (
        funnel_stateful(stream, state_ttl_s=30.0, ttl_clock="event")
        .writeStream.format("memory")
        .queryName("fun_ettl_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        state_rows = None
        for p in reversed(q.recentProgress):
            ops = p["stateOperators"] if not isinstance(p, dict) else p.get("stateOperators")
            if ops:
                state_rows = ops[0]["numRowsTotal"]
                break
        got = spark.sql("SELECT * FROM fun_ettl_out").toPandas()
    finally:
        q.stop()

    # user 0 survived (touched within TTL of the watermark); users 1-9
    # evicted; the 5 fresh users remain → 6 keys
    assert state_rows == 6
    # outputs: 10 wave-1 advances + 5 fresh-user advances; user 0's
    # second view is NOT an advance (still at step 1, state intact)
    assert len(got) == 15
    assert len(got[(got["user_id"] == 0) & (got["step_idx"] == 1)]) == 1


def test_counter_delta_event_time_ttl_evicts_by_watermark(spark, tmp_path):
    """Counter-delta twin of the event-clock test: series idle in EVENT
    time beyond the TTL are evicted when the watermark passes; a series
    touched within the TTL keeps its baseline across the same advance."""
    import datetime as dt

    from pyspark.sql import Row
    from pyspark.sql import types as T

    from apm_opentelemetry_collector_spark.streaming.stream_pipeline import (
        counter_delta_stateful,
    )

    schema = T.StructType(
        [
            T.StructField("name", T.StringType()),
            T.StructField("host", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    t0 = dt.datetime(2024, 1, 1)
    sec = lambda s: t0 + dt.timedelta(seconds=s)
    path = str(tmp_path / "ctr_ettl_in")
    wave1 = [
        Row(name=f"m{i}", host="h", ts=sec(0), value=10.0) for i in range(8)
    ]
    # m0 touched again within the (watermark-relative) TTL → baseline
    # kept: 25-10=15 delta; m1-m7 idle → evicted
    wave2 = [Row(name="m0", host="h", ts=sec(300), value=25.0)] + [
        Row(name=f"n{i}", host="h", ts=sec(300), value=1.0) for i in range(3)
    ]
    spark.createDataFrame(wave1, schema).coalesce(1).write.mode("append").parquet(path)
    spark.createDataFrame(wave2, schema).coalesce(1).write.mode("append").parquet(path)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
        .withWatermark("ts", "10 seconds")
    )
    q = (
        counter_delta_stateful(stream, state_ttl_s=30.0, ttl_clock="event")
        .writeStream.format("memory")
        .queryName("ctr_ettl_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        state_rows = None
        for p in reversed(q.recentProgress):
            ops = p["stateOperators"] if not isinstance(p, dict) else p.get("stateOperators")
            if ops:
                state_rows = ops[0]["numRowsTotal"]
                break
        got = spark.sql("SELECT * FROM ctr_ettl_out").toPandas()
    finally:
        q.stop()

    assert state_rows == 4  # m0 + n0..n2
    m0 = got[(got["name"] == "m0") & (got["value"] == 25.0)]["delta"]
    assert len(m0) == 1 and float(m0.iloc[0]) == 15.0  # baseline survived


def test_ewma_batch_twin_matches_streaming(spark, tmp_path):
    """The r5 vectorized batch EWMA and the stateful streaming EWMA
    implement the SAME recurrence: on ordered input split across
    micro-batches, per-row z-scores must agree to float-reassociation
    noise (the streaming loop computes mean += α·d where the batch
    Horner fold computes β·acc + α·x — algebraically equal, different
    rounding; observed ~3e-8 after the planted spikes) and anomaly
    flags must be identical."""
    import datetime as dt

    import numpy as np
    from pyspark.sql import Row
    from pyspark.sql import types as T

    from apm_opentelemetry_collector_spark.operators.outliers import (
        ewma_anomalies_batch,
    )
    from apm_opentelemetry_collector_spark.streaming.stream_pipeline import (
        ewma_anomalies,
        run_to_memory,
    )

    schema = T.StructType(
        [
            T.StructField("host", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    t0 = dt.datetime(2024, 1, 1)
    rng = np.random.default_rng(3)
    xs = (100 + 10 * rng.standard_normal(120)).round(3)
    xs[[30, 77]] = [1500.0, -1200.0]
    rows = [
        Row(host="h", ts=t0 + dt.timedelta(seconds=i), value=float(x))
        for i, x in enumerate(xs)
    ]
    path = str(tmp_path / "ewma_eq_in")
    # 3 micro-batches, ordered within and across
    for i in range(3):
        spark.createDataFrame(rows[i * 40 : (i + 1) * 40], schema).coalesce(
            1
        ).write.mode("append").parquet(path)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(path)
    )
    run_to_memory(ewma_anomalies(stream), "ewma_eq_out")
    got_s = (
        spark.sql("SELECT * FROM ewma_eq_out").toPandas().sort_values("ts")
    )
    got_b = (
        ewma_anomalies_batch(
            spark.createDataFrame(rows, schema), ["host"], ["ts"], "value"
        )
        .toPandas()
        .sort_values("ts")
    )
    assert len(got_s) == len(got_b) == 120
    assert (
        np.abs(got_s["zscore"].to_numpy() - got_b["zscore"].to_numpy()).max()
        <= 1e-6
    )
    assert got_s["is_anomaly"].tolist() == got_b["is_anomaly"].tolist()
    assert got_b.set_index("ts")["is_anomaly"].to_numpy()[[30, 77]].all()


def test_forward_fill_and_ewma_state_ttl_evict_idle_keys(spark, tmp_path):
    """The remaining two stateful operators honor state_ttl_s via the
    shared helpers: idle conversations / hosts are evicted under key
    churn, and a revived conversation starts with NO inherited
    role/tool (leading nulls stay null — same as a new stream)."""

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


def test_ewma_event_time_ttl_evicts_by_watermark(spark, tmp_path):
    """EWMA twin of the event-clock eviction test: hosts idle in EVENT
    time beyond the TTL are dropped when the watermark passes; a host
    touched within the TTL keeps its running state across the same
    advance."""
    import datetime as dt

    from pyspark.sql import Row
    from pyspark.sql import types as TT

    from apm_opentelemetry_collector_spark.streaming.stream_pipeline import (
        ewma_anomalies,
    )

    schema = TT.StructType(
        [
            TT.StructField("host", TT.StringType()),
            TT.StructField("ts", TT.TimestampType()),
            TT.StructField("value", TT.DoubleType()),
        ]
    )
    sec = lambda s: dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)
    path = str(tmp_path / "ewma_ettl_in")
    w1 = [Row(host=f"h{i}", ts=sec(0), value=10.0) for i in range(8)]
    w2 = [Row(host="h0", ts=sec(300), value=11.0)] + [
        Row(host=f"g{i}", ts=sec(300), value=1.0) for i in range(3)
    ]
    for w in (w1, w2):
        spark.createDataFrame(w, schema).coalesce(1).write.mode("append").parquet(path)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
        .withWatermark("ts", "10 seconds")
    )
    q = (
        ewma_anomalies(stream, state_ttl_s=30.0, ttl_clock="event")
        .writeStream.format("memory")
        .queryName("ewma_ettl_out")
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
        n_out = spark.sql("SELECT count(*) FROM ewma_ettl_out").first()[0]
    finally:
        q.stop()

    assert state_rows == 4   # h0 (touched) + g0-g2; h1-h7 evicted
    assert n_out == 12       # every point emitted exactly once


def test_reservoir_event_time_ttl_evicts_by_watermark(spark, tmp_path):
    """Reservoir event-clock eviction (new in r6 — the op was
    processing-only): strata idle in event time beyond the TTL drop
    their reservoirs on watermark advance; a touched stratum's
    reservoir SURVIVES the same advance (its wave-2 snapshot still
    holds wave-1 members)."""
    import datetime as dt

    from pyspark.sql import Row
    from pyspark.sql import types as TT

    from apm_opentelemetry_collector_spark.streaming.stream_pipeline import (
        weighted_reservoir_stateful,
    )

    schema = TT.StructType(
        [
            TT.StructField("source", TT.StringType()),
            TT.StructField("doc_id", TT.StringType()),
            TT.StructField("weight", TT.DoubleType()),
            TT.StructField("ts", TT.TimestampType()),
        ]
    )
    sec = lambda s: dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)
    path = str(tmp_path / "wrs_ettl_in")
    w1 = [
        Row(source=f"s{i % 5}", doc_id=f"a{i}", weight=float(i + 1), ts=sec(0))
        for i in range(20)
    ]
    w2 = [Row(source="s0", doc_id="z0", weight=100.0, ts=sec(300)),
          Row(source="s9", doc_id="z1", weight=1.0, ts=sec(300))]
    for w in (w1, w2):
        spark.createDataFrame(w, schema).coalesce(1).write.mode("append").parquet(path)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
        .withWatermark("ts", "10 seconds")
    )
    q = (
        weighted_reservoir_stateful(
            stream, k=3, weight_col="weight", group_cols=["source"],
            state_ttl_s=30.0, ttl_clock="event", ts_col="ts",
        )
        .writeStream.format("memory")
        .queryName("wrs_ettl_out")
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
        got = spark.sql("SELECT * FROM wrs_ettl_out").toPandas()
    finally:
        q.stop()

    assert state_rows == 2   # s0 (touched) + s9; s1-s4 evicted
    # s0's wave-2 snapshot keeps wave-1 members alongside the new doc
    s0 = got[got["source"] == "s0"]
    snap2 = s0[s0["snapshot"] == s0["snapshot"].max()]
    assert "z0" in set(snap2["id"])
    assert any(i.startswith("a") for i in snap2["id"])


def test_reservoir_event_ttl_requires_ts_col():
    import pytest

    from apm_opentelemetry_collector_spark.streaming.stream_pipeline import (
        weighted_reservoir_stateful,
    )

    with pytest.raises(ValueError, match="ts_col"):
        weighted_reservoir_stateful(
            None, k=3, weight_col="w", state_ttl_s=1.0, ttl_clock="event"
        )


def _passage_reader(spark, table):
    """Max-n_total row per fingerprint = the cumulative final state
    (n_total strictly increases per emission)."""
    df = spark.sql(f"SELECT * FROM {table}").toPandas()
    if not len(df):
        return df
    idx = df.groupby("fingerprint")["n_total"].idxmax()
    return df.loc[idx]


def test_repeated_passages_stream_equals_batch_on_any_slicing(spark, tmp_path):
    """The stateful two-level counter must reproduce the batch
    repeated_passages output exactly — same fingerprints, passages, and
    counts — when the corpus arrives sliced across micro-batches with
    block-sharing docs split across slices."""
    from apm_opentelemetry_collector_spark.operators.dedup import repeated_passages
    from apm_opentelemetry_collector_spark.streaming.stream_pipeline import (
        repeated_passages_stateful,
    )

    block = (
        "this agreement is governed by the laws of the state and any "
        "dispute shall be resolved in its courts"
    )
    rows = []
    for i in range(6):
        rows.append((i, f"intro{i}{i} {block} outro{i}{i}"))
    for i in range(6, 12):
        rows.append((i, " ".join(f"q{i}z{j}w" for j in range(30))))
    schema = "doc_id long, text string"
    path = str(tmp_path / "pass_in")
    # slice so block-sharing docs land in DIFFERENT micro-batches
    for lo, hi in ((0, 2), (2, 7), (7, 12)):
        spark.createDataFrame(rows[lo:hi], schema).coalesce(1).write.mode(
            "append"
        ).parquet(path)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    q = (
        repeated_passages_stateful(stream)
        .writeStream.format("memory")
        .queryName("pass_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = _passage_reader(spark, "pass_out")
    finally:
        q.stop()

    batch = repeated_passages(
        spark.createDataFrame(rows, schema)
    ).toPandas()
    key = ["fingerprint", "passage", "n_docs", "n_total"]
    a = sorted(map(tuple, got[key].itertuples(index=False)))
    b = sorted(map(tuple, batch[key].itertuples(index=False)))
    assert a == b and len(a) > 0


def test_repeated_passages_stream_ttl_bounds_fingerprints(spark, tmp_path):
    """state_ttl_s bounds the KEY-set (every fingerprint ever seen,
    including cold count-1 seeds): after the TTL drains wave-1 state to
    zero, wave-2 counts restart — a single fresh occurrence of wave-1
    boilerplate stays below min_docs and is NOT emitted with inflated
    cumulative counts."""
    from apm_opentelemetry_collector_spark.streaming.stream_pipeline import (
        repeated_passages_stateful,
    )

    block = (
        "subscribe to our newsletter for weekly updates and exclusive "
        "member offers every friday"
    )
    schema = "doc_id long, text string"
    path = str(tmp_path / "pass_ttl_in")
    w1 = [(i, f"aa{i}{i} {block} zz{i}{i}") for i in range(4)]
    spark.createDataFrame(w1, schema).coalesce(1).write.mode("append").parquet(path)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    q = (
        repeated_passages_stateful(stream, state_ttl_s=1.0)
        .writeStream.format("memory")
        .queryName("pass_ttl_out")
        .outputMode("append")
        .start()
    )
    try:
        n1 = _wait_for(
            lambda: spark.sql("SELECT count(*) FROM pass_ttl_out").first()[0] > 0
        )
        assert n1, "wave-1 hot passages never emitted"
        max_docs_w1 = spark.sql(
            "SELECT max(n_docs) FROM pass_ttl_out"
        ).first()[0]
        assert max_docs_w1 == 4
        empty_bid = _wait_state_empty(q)
        assert empty_bid, "wave-1 fingerprint state never fully evicted"
        # wave 2: ONE fresh doc with the same block + one unique doc
        w2 = [(100, f"mm00 {block} nn00"), (101, "unique " + " ".join(
            f"r{j}t" for j in range(30)))]
        spark.createDataFrame(w2, schema).coalesce(1).write.mode("append").parquet(
            path
        )
        # wave 2 must be PROCESSED (state re-created for its fingerprints)
        def wave2_processed():
            for p in q.recentProgress:
                ops = p.get("stateOperators") if p else None
                if (
                    ops
                    and p.get("batchId", -1) > empty_bid
                    and ops[0]["numRowsTotal"] > 0
                ):
                    return True
            return False

        assert _wait_for(wave2_processed), "wave-2 state never re-created"
        rows_after = spark.sql(
            "SELECT max(n_docs) FROM pass_ttl_out"
        ).first()[0]
    finally:
        q.stop()
    # counts restarted: no emission ever reported n_docs = 5 (which the
    # surviving cumulative state would have produced)
    assert rows_after == 4


def test_minhash_candidates_stream_equals_batch_on_any_slicing(spark, tmp_path):
    """The expression-based streaming signature/banding math must be
    byte-identical to the batch pipeline: DISTINCT emitted pairs over
    any micro-batch slicing == candidate_pairs(lsh_bands(
    minhash_signatures(shingles))) — including near-dup docs arriving
    in DIFFERENT micro-batches and same-batch arrivals."""
    from apm_opentelemetry_collector_spark.operators.dedup import (
        candidate_pairs,
        lsh_bands,
        minhash_signatures,
        shingles,
    )
    from apm_opentelemetry_collector_spark.streaming.stream_pipeline import (
        minhash_candidates_stateful,
    )

    blk = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill nearby"
    )
    rows = [
        (0, blk),
        (1, blk + " extra tail words here"),
        (2, "completely different content about distributed query engines"),
        (3, blk),                                   # same-batch dup of 0? sliced below
        (4, "another unrelated string of words with no overlap at all"),
        (5, blk + " extra tail words here too"),
    ]
    schema = "doc_id long, text string"
    path = str(tmp_path / "mh_in")
    # doc 0 and its dups 3/5 land in different micro-batches; 1 shares
    # a batch with 0
    for lo, hi in ((0, 2), (2, 4), (4, 6)):
        spark.createDataFrame(rows[lo:hi], schema).coalesce(1).write.mode(
            "append"
        ).parquet(path)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    q = (
        minhash_candidates_stateful(stream)
        .writeStream.format("memory")
        .queryName("mh_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT DISTINCT id_a, id_b FROM mh_out").toPandas()
    finally:
        q.stop()

    batch = candidate_pairs(
        lsh_bands(minhash_signatures(shingles(
            spark.createDataFrame(rows, schema), distinct=False
        )))
    ).toPandas()
    a = sorted(map(tuple, got.itertuples(index=False)))
    b = sorted(map(tuple, batch.itertuples(index=False)))
    assert a == b and len(a) > 0


def test_minhash_candidates_ttl_bounds_bucket_horizon(spark, tmp_path):
    """state_ttl_s drops idle buckets: after wave-1 state drains, a
    wave-2 duplicate of wave-1 text pairs only with its OWN wave's
    duplicate, not with the evicted wave-1 residents."""
    from apm_opentelemetry_collector_spark.streaming.stream_pipeline import (
        minhash_candidates_stateful,
    )

    blk = (
        "limited time offer click here to claim your exclusive reward "
        "before the deadline passes tonight"
    )
    schema = "doc_id long, text string"
    path = str(tmp_path / "mh_ttl_in")
    w1 = [(0, blk), (1, blk)]
    spark.createDataFrame(w1, schema).coalesce(1).write.mode("append").parquet(path)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    q = (
        minhash_candidates_stateful(stream, state_ttl_s=1.0)
        .writeStream.format("memory")
        .queryName("mh_ttl_out")
        .outputMode("append")
        .start()
    )
    try:
        ok = _wait_for(
            lambda: spark.sql(
                "SELECT count(*) FROM (SELECT DISTINCT id_a, id_b FROM mh_ttl_out)"
            ).first()[0] == 1
        )
        assert ok, "wave-1 pair never emitted"
        empty_bid = _wait_state_empty(q)
        assert empty_bid, "bucket state never evicted"
        w2 = [(10, blk), (11, blk)]
        spark.createDataFrame(w2, schema).coalesce(1).write.mode("append").parquet(path)
        ok = _wait_for(
            lambda: spark.sql(
                "SELECT count(*) FROM mh_ttl_out WHERE id_a = 10 AND id_b = 11"
            ).first()[0] > 0
        )
        assert ok, "wave-2 pair never emitted"
        pairs = spark.sql("SELECT DISTINCT id_a, id_b FROM mh_ttl_out").toPandas()
    finally:
        q.stop()
    got = sorted(map(tuple, pairs.itertuples(index=False)))
    # no cross-wave pair (0,10), (0,11), (1,10), (1,11): residents forgotten
    assert got == [(0, 1), (10, 11)]


def test_semdedup_stream_equals_batch_on_any_slicing(spark, tmp_path):
    """Streaming SemDeDup against a frozen codebook: keep decisions are
    identical across micro-batch slicings (id-ordered arrival) and
    equal the batch operator's — including a near-dup pair split across
    batches and a dropped doc suppressing its own later near-dups."""
    from apm_opentelemetry_collector_spark.operators.dedup import semdedup
    from apm_opentelemetry_collector_spark.streaming.stream_pipeline import (
        semdedup_stateful,
    )

    # two well-separated clusters; ids 0/1 seed batch kmeans into the
    # same natural partition the frozen means encode
    X = {0: [1.0, 0.0], 2: [0.99, 0.01], 4: [0.8, -0.55]}
    Y = {1: [0.0, 1.0], 3: [0.01, 0.99], 5: [-0.55, 0.8]}
    rows = sorted((i, v) for i, v in {**X, **Y}.items())
    schema = "vec_id long, embedding array<double>"
    cents = [
        [sum(v[d] for v in X.values()) / len(X) for d in (0, 1)],
        [sum(v[d] for v in Y.values()) / len(Y) for d in (0, 1)],
    ]

    batch = {
        r["vec_id"]: r["keep"]
        for r in semdedup(
            spark.createDataFrame(rows, schema), threshold=0.9, k=2
        ).collect()
    }
    assert batch == {0: True, 2: False, 4: True, 1: True, 3: False, 5: True}

    for slices in (((0, 6),), ((0, 2), (2, 4), (4, 6))):
        path = str(tmp_path / f"sd_in_{len(slices)}")
        for lo, hi in slices:
            spark.createDataFrame(rows[lo:hi], schema).coalesce(1).write.mode(
                "append"
            ).parquet(path)
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
        )
        q = (
            semdedup_stateful(stream, cents, threshold=0.9)
            .writeStream.format("memory")
            .queryName(f"sd_out_{len(slices)}")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
            got = spark.sql(
                f"SELECT vec_id, cluster, keep, n_prior_similar"
                f" FROM sd_out_{len(slices)}"
            ).toPandas()
        finally:
            q.stop()
        assert dict(zip(got["vec_id"], got["keep"])) == batch
        # one emission per arrival, cluster-pure: X ids share a cluster
        # distinct from Y ids
        assert len(got) == 6
        cl = dict(zip(got["vec_id"], got["cluster"]))
        assert {cl[0], cl[2], cl[4]} != {cl[1], cl[3], cl[5]}
        assert len({cl[0], cl[2], cl[4]}) == 1 and len({cl[1], cl[3], cl[5]}) == 1


def test_semdedup_stream_ttl_bounds_horizon(spark, tmp_path):
    """state_ttl_s drops idle cluster state: a wave-2 duplicate of an
    EVICTED wave-1 doc is kept (residents forgotten), while its own
    same-wave duplicate is still dropped."""
    from apm_opentelemetry_collector_spark.streaming.stream_pipeline import (
        semdedup_stateful,
    )

    schema = "vec_id long, embedding array<double>"
    path = str(tmp_path / "sd_ttl_in")
    w1 = [(10, [1.0, 0.0]), (11, [0.99, 0.01])]
    spark.createDataFrame(w1, schema).coalesce(1).write.mode("append").parquet(path)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    q = (
        semdedup_stateful(stream, [[1.0, 0.0]], threshold=0.9, state_ttl_s=1.0)
        .writeStream.format("memory")
        .queryName("sd_ttl_out")
        .outputMode("append")
        .start()
    )
    try:
        ok = _wait_for(
            lambda: spark.sql("SELECT count(*) FROM sd_ttl_out").first()[0] == 2
        )
        assert ok, "wave-1 rows never emitted"
        assert _wait_state_empty(q), "cluster state never evicted"
        w2 = [(20, [1.0, 0.0]), (21, [0.99, 0.01])]
        spark.createDataFrame(w2, schema).coalesce(1).write.mode("append").parquet(path)
        ok = _wait_for(
            lambda: spark.sql("SELECT count(*) FROM sd_ttl_out").first()[0] == 4
        )
        assert ok, "wave-2 rows never emitted"
        got = spark.sql(
            "SELECT vec_id, keep FROM sd_ttl_out ORDER BY vec_id"
        ).toPandas()
    finally:
        q.stop()
    keeps = dict(zip(got["vec_id"], got["keep"]))
    # 20 is a dup of the EVICTED 10 — kept; 21 pairs with resident 20
    assert keeps == {10: True, 11: False, 20: True, 21: False}


def test_pack_sequences_stream_equals_batch_on_any_slicing(spark, tmp_path):
    """Streaming packing with a single global stream and id-ordered
    arrival emits exactly the batch pack_sequences rows — global token
    offsets, chunk spans, and boundary flags — for any micro-batch
    slicing, including a doc whose span crosses a chunk boundary split
    from its neighbors and an empty doc occupying no chunk."""
    from apm_opentelemetry_collector_spark.operators.pack import pack_sequences
    from apm_opentelemetry_collector_spark.streaming.stream_pipeline import (
        pack_sequences_stateful,
    )

    rows = [
        (0, " ".join(f"w{i}" for i in range(200))),
        (1, " ".join(f"x{i}" for i in range(100))),   # crosses 256
        (2, ""),                                        # empty: no chunk
        (3, " ".join(f"y{i}" for i in range(300))),   # crosses again
        (4, "one two three"),
        (5, " ".join(f"z{i}" for i in range(256))),   # exact chunk
    ]
    schema = "doc_id long, text string"
    batch = {
        r["doc_id"]: r.asDict()
        for r in pack_sequences(
            spark.createDataFrame(rows, schema), seq_len=256
        ).collect()
    }
    assert batch[1]["crosses_boundary"] and batch[2]["n_chunks"] == 0

    for slices in (((0, 6),), ((0, 2), (2, 4), (4, 6)), ((0, 1), (1, 6))):
        path = str(tmp_path / f"pk_in_{len(slices)}_{slices[0][1]}")
        for lo, hi in slices:
            spark.createDataFrame(rows[lo:hi], schema).coalesce(1).write.mode(
                "append"
            ).parquet(path)
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
        )
        qname = f"pk_out_{len(slices)}_{slices[0][1]}"
        q = (
            pack_sequences_stateful(stream, seq_len=256)
            .writeStream.format("memory")
            .queryName(qname)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
            got = spark.sql(f"SELECT * FROM {qname}").toPandas()
        finally:
            q.stop()
        assert len(got) == len(rows)
        for _, r in got.iterrows():
            b = batch[r["doc_id"]]
            for c in ("n_tokens", "start_tok", "start_chunk", "end_chunk",
                      "n_chunks", "crosses_boundary"):
                assert r[c] == b[c], (r["doc_id"], c, r[c], b[c])


def test_pack_sequences_stream_per_stream_cursors(spark, tmp_path):
    """stream_col keys independent cursors: two sources interleave
    arbitrarily but each packs its own contiguous token stream."""
    from apm_opentelemetry_collector_spark.streaming.stream_pipeline import (
        pack_sequences_stateful,
    )

    rows = [
        (0, "a", "one two three"),
        (1, "b", "four five"),
        (2, "a", "six seven eight nine"),
        (3, "b", "ten"),
    ]
    schema = "doc_id long, source string, text string"
    path = str(tmp_path / "pk_ms_in")
    for lo, hi in ((0, 2), (2, 4)):
        spark.createDataFrame(rows[lo:hi], schema).coalesce(1).write.mode(
            "append"
        ).parquet(path)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    q = (
        pack_sequences_stateful(stream, seq_len=4, stream_col="source")
        .writeStream.format("memory")
        .queryName("pk_ms_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql(
            "SELECT doc_id, stream, start_tok, n_tokens FROM pk_ms_out ORDER BY doc_id"
        ).toPandas()
    finally:
        q.stop()
    rows_by_id = {r["doc_id"]: r for _, r in got.iterrows()}
    # stream a: doc0 at 0 (3 tokens), doc2 at 3; stream b: doc1 at 0
    # (2 tokens), doc3 at 2
    assert rows_by_id[0]["start_tok"] == 0 and rows_by_id[0]["stream"] == "a"
    assert rows_by_id[2]["start_tok"] == 3
    assert rows_by_id[1]["start_tok"] == 0 and rows_by_id[1]["stream"] == "b"
    assert rows_by_id[3]["start_tok"] == 2


def test_decontaminate_hits_stream_equals_batch(spark, tmp_path):
    """Stream-static gram-join decontamination: aggregating the emitted
    per-occurrence hit rows reproduces the batch ngram_decontaminate
    table exactly over any micro-batch slicing — including a doc whose
    contaminated sentence arrives in a later batch than a clean doc and
    a doc hitting two eval sources."""
    from apm_opentelemetry_collector_spark.operators.dedup import (
        ngram_decontaminate,
    )
    from apm_opentelemetry_collector_spark.streaming.stream_pipeline import (
        decontaminate_hits_stream,
    )

    bench_a = "the capital of france is paris " * 3   # >= 13 tokens
    bench_b = "water boils at one hundred degrees " * 3
    train_rows = [
        (0, "clean document about distributed engines " * 4),
        (1, "intro text " + bench_a + " outro text"),
        (2, "quotes both " + bench_a + " and " + bench_b + " verbatim"),
        (3, "another clean one with plenty of words " * 4),
    ]
    eval_rows = [(100, bench_a, "evalA"), (101, bench_b, "evalB")]
    tschema = "doc_id long, text string"

    full = spark.createDataFrame(
        [(i, t, "train") for i, t in train_rows]
        + [(i, t, s) for i, t, s in eval_rows],
        "doc_id long, text string, source string",
    )
    batch = {
        (r["doc_id"], r["eval_source"]): (r["n_hits"], r["n_distinct_grams"])
        for r in ngram_decontaminate(full, ("evalA", "evalB")).collect()
    }
    assert batch and any(k[0] == 2 for k in batch)

    eval_docs = spark.createDataFrame(eval_rows, "doc_id long, text string, source string")
    for slices in (((0, 4),), ((0, 1), (1, 3), (3, 4))):
        path = str(tmp_path / f"dc_in_{len(slices)}")
        for lo, hi in slices:
            spark.createDataFrame(train_rows[lo:hi], tschema).coalesce(1).write.mode(
                "append"
            ).parquet(path)
        stream = (
            spark.readStream.schema(tschema)
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
        )
        qname = f"dc_out_{len(slices)}"
        q = (
            decontaminate_hits_stream(stream, eval_docs)
            .writeStream.format("memory")
            .queryName(qname)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
            got = {
                (r["doc_id"], r["eval_source"]): (r["n_hits"], r["nd"])
                for r in spark.sql(
                    f"SELECT doc_id, eval_source, count(*) AS n_hits,"
                    f" count(DISTINCT g) AS nd FROM {qname}"
                    f" GROUP BY doc_id, eval_source"
                ).collect()
            }
        finally:
            q.stop()
        assert got == batch


def test_pack_sequences_stream_cursor_survives_restart(spark, tmp_path):
    """Kill the packing query after wave 1 and restart from the same
    checkpoint: wave-2 docs continue at the cursor wave 1 left (global
    offsets keep accumulating), proving the ONE long of stream state
    rides the checkpoint, not the process."""
    from apm_opentelemetry_collector_spark.streaming.stream_pipeline import (
        pack_sequences_stateful,
    )

    schema = "doc_id long, text string"
    inp = str(tmp_path / "pkr_in")
    outp = str(tmp_path / "pkr_out")
    ckpt = str(tmp_path / "pkr_ckpt")
    w1 = [(0, " ".join(f"w{i}" for i in range(100))),
          (1, " ".join(f"x{i}" for i in range(60)))]
    spark.createDataFrame(w1, schema).coalesce(1).write.mode("append").parquet(inp)

    def start():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(inp)
        )
        return (
            pack_sequences_stateful(stream, seq_len=64)
            .writeStream.format("parquet")
            .option("path", outp)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    w2 = [(2, " ".join(f"y{i}" for i in range(40)))]
    spark.createDataFrame(w2, schema).coalesce(1).write.mode("append").parquet(inp)
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        r["doc_id"]: r.asDict()
        for r in spark.read.parquet(outp).collect()
    }
    assert got[0]["start_tok"] == 0 and got[1]["start_tok"] == 100
    # the restarted query resumed the cursor at 160, not 0
    assert got[2]["start_tok"] == 160
    # tokens 160..199 span chunks 2..3 of the 64-token grid
    assert got[2]["start_chunk"] == 2 and got[2]["end_chunk"] == 3
    assert got[2]["n_chunks"] == 2 and got[2]["crosses_boundary"]


def test_curation_scorers_run_on_streams(spark, tmp_path):
    """The doc-local curation scorers (c4_line_filters, gopher_quality,
    fineweb_filters) are pure projections, so they run UNCHANGED on a
    streaming DataFrame — the admission-gate deployment — and emit
    exactly the batch rows."""
    from apm_opentelemetry_collector_spark.functions.text import (
        c4_line_filters,
        fineweb_filters,
        gopher_quality,
    )

    good = (
        "the pipeline reads every record and that is the point of the "
        "whole exercise because we want clean data for training runs.\n"
        "it should be obvious that each of these lines ends with a "
        "proper sentence terminator and has plenty of ordinary words.\n"
        "finally the document closes with one more full sentence so "
        "the line filters keep at least three of them intact."
    )
    rows = [(0, good), (1, "short { code }"), (2, "no punct\nstill none")]
    schema = "doc_id long, text string"
    path = str(tmp_path / "gate_in")
    for lo, hi in ((0, 2), (2, 3)):
        spark.createDataFrame(rows[lo:hi], schema).coalesce(1).write.mode(
            "append"
        ).parquet(path)
    batch_df = spark.createDataFrame(rows, schema)

    for name, op in (
        ("c4", c4_line_filters),
        ("gq", gopher_quality),
        ("fw", fineweb_filters),
    ):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
        )
        q = (
            op(stream)
            .writeStream.format("memory")
            .queryName(f"gate_{name}")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
            got = spark.sql(f"SELECT * FROM gate_{name}").toPandas()
        finally:
            q.stop()
        want = op(batch_df).toPandas()
        got = got.sort_values("doc_id").reset_index(drop=True)
        want = want.sort_values("doc_id").reset_index(drop=True)
        assert got.equals(want), name
