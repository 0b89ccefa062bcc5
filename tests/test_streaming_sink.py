"""Exactly-once streaming sink: checkpointed foreachBatch replays a
micro-batch after a crash without duplicating rows (T6 idempotence,
the streaming twin of the batch manifests)."""

from __future__ import annotations

import pytest

# streaming restart/slicing suites dominate the full gate (~16 min);
# the fast per-change loop skips them: pytest -m "not slow"
pytestmark = pytest.mark.slow

import datetime as dt

from pyspark.sql import Row

from apm_opentelemetry_collector_spark.operators.route import fan_out, with_send_outcome
from apm_opentelemetry_collector_spark.sources import fixtures
from apm_opentelemetry_collector_spark.sources.transcripts import TRANSCRIPT_SCHEMA
from apm_opentelemetry_collector_spark.streaming.stream_pipeline import (
    stream_transcripts,
    write_sinks_stream,
)


def _write_batch(spark, path, rows):
    spark.createDataFrame(
        [
            Row(conv_id=c, turn_idx=i, role="user", text=f"t{i}", tool="search",
                ts=dt.datetime(2024, 1, 1))
            for c, i in rows
        ],
        TRANSCRIPT_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(path)


def test_exactly_once_across_restart(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    routes = fixtures.routes_df(spark)

    def routed_stream():
        return with_send_outcome(fan_out(stream_transcripts(spark, src), routes))

    _write_batch(spark, src, [("c1", 0), ("c1", 1)])
    q = write_sinks_stream(routed_stream(), out, ckpt)
    q.processAllAvailable()
    q.stop()  # 'crash' after epoch 0 committed

    # new data arrives while down; restart from the same checkpoint
    _write_batch(spark, src, [("c2", 0), ("c2", 1), ("c2", 2)])
    q2 = write_sinks_stream(routed_stream(), out, ckpt)
    q2.processAllAvailable()
    q2.stop()

    got = spark.read.parquet(out).select("sink", "conv_id", "turn_idx")
    rows = [(r["sink"], r["conv_id"], r["turn_idx"]) for r in got.collect()]
    # every routed row exactly once — the restart neither lost epoch-0
    # rows nor reprocessed them into duplicates
    assert len(rows) == len(set(rows))
    want = {
        (r["sink"], r["conv_id"], r["turn_idx"])
        for r in with_send_outcome(
            fan_out(spark.read.schema(TRANSCRIPT_SCHEMA).parquet(src), routes)
        ).collect()
    }
    assert set(rows) == want


def test_dedup_state_survives_checkpoint_restart(spark, tmp_path):
    """A restarted query (same checkpoint) must still drop duplicates
    first seen BEFORE the restart — dedup state lives in the checkpoint,
    not the process."""
    import datetime as dt

    from pyspark.sql import Row

    from apm_opentelemetry_collector_spark.sources.transcripts import (
        TRANSCRIPT_SCHEMA,
    )
    from apm_opentelemetry_collector_spark.streaming.stream_pipeline import (
        dedup_stream,
        stream_transcripts,
    )

    in_path = str(tmp_path / "in")
    out_path = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    ts = dt.datetime(2024, 1, 1)

    def write(rows):
        spark.createDataFrame(
            [Row(conv_id=c, turn_idx=i, role="user", text=t, tool=None, ts=ts)
             for c, i, t in rows],
            TRANSCRIPT_SCHEMA,
        ).coalesce(1).write.mode("append").parquet(in_path)

    def run_once():
        q = (
            dedup_stream(stream_transcripts(spark, in_path))
            .select("conv_id", "turn_idx", "text")
            .writeStream.format("parquet")
            .option("path", out_path)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()

    write([("c1", 0, "a"), ("c1", 1, "b")])
    run_once()
    # after restart: turn 0 re-delivered (must be dropped via restored
    # state) plus a genuinely new turn
    write([("c1", 0, "a"), ("c1", 2, "c")])
    run_once()

    got = sorted(
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in spark.read.parquet(out_path).collect()
    )
    assert got == [("c1", 0, "a"), ("c1", 1, "b"), ("c1", 2, "c")]


def test_counter_state_survives_checkpoint_restart(spark, tmp_path):
    """A restarted counter-delta query (same checkpoint) must difference
    against the last value seen BEFORE the restart — the per-series
    float lives in the state store, not the process."""
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
    in_path = str(tmp_path / "in")
    out_path = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    t = lambda s: dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)

    def write(rows):
        spark.createDataFrame(
            [Row(name="m", host="h", ts=t(s), value=float(v)) for s, v in rows],
            schema,
        ).coalesce(1).write.mode("append").parquet(in_path)

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_path)
        )
        q = (
            counter_delta_stateful(stream)
            .writeStream.format("parquet")
            .option("path", out_path)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()

    write([(0, 10), (1, 25)])
    run_once()
    # process "restarts"; next point must difference against 25 (state),
    # and a reset mid-file must still yield the post-reset value
    write([(2, 40), (3, 4)])
    run_once()

    got = {r["ts"]: r["delta"] for r in spark.read.parquet(out_path).collect()}
    assert got[t(1)] == 15.0
    assert got[t(2)] == 15.0  # 40 - 25: baseline restored from checkpoint
    assert got[t(3)] == 4.0   # reset
    assert got[t(0)] is None or got[t(0)] != got[t(0)]  # first point: NULL/NaN


def test_state_partitions_survive_restart_under_another_session_value(spark, tmp_path):
    """A stateful stream keeps the state partition count its checkpoint
    recorded: started with 8 shuffle partitions, stopped after one epoch
    and restarted under another session value, it still runs 8 state
    partitions, and its committed epochs equal an uninterrupted run's
    with no (conv_id, turn_idx, sink) written twice."""
    import os

    from pyspark.sql import Row

    from apm_opentelemetry_collector_spark.streaming.stream_pipeline import (
        forward_fill_stateful,
    )

    routes = fixtures.routes_df(spark)
    files = [
        [(f"c{c}", i, "user" if i == 0 else None, "search" if c % 2 else None)
         for c in range(6) for i in (0, 1)],
        [(f"c{c}", i, None if i == 2 else "tool", None) for c in range(6) for i in (2, 3)],
        [(f"c{c}", 4, None, "code") for c in range(6)],
    ]

    def stage(src, k):
        spark.createDataFrame(
            [Row(conv_id=c, turn_idx=i, role=r, text=f"t{i}", tool=o,
                 ts=dt.datetime(2024, 1, 1))
             for c, i, r, o in files[k]],
            TRANSCRIPT_SCHEMA,
        ).coalesce(1).write.mode("append").parquet(src)
        # the file source orders by mtime: pin it to the staging order
        for f in os.listdir(src):
            p = os.path.join(src, f)
            if f.endswith(".parquet") and os.path.getmtime(p) > 1_700_000_000 + k:
                os.utime(p, (1_700_000_000 + k,) * 2)

    def start(src, out, ckpt):
        routed = with_send_outcome(
            fan_out(forward_fill_stateful(stream_transcripts(spark, src)), routes)
        )
        return write_sinks_stream(routed, out, ckpt)

    def run(src, out, ckpt) -> list[int]:
        q = start(src, out, ckpt)
        try:
            q.processAllAvailable()
            return [
                op["numShufflePartitions"]
                for p in q.recentProgress
                for op in p["stateOperators"]
            ]
        finally:
            q.stop()

    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    src, out, ckpt = (str(tmp_path / n) for n in ("src", "out", "ckpt"))
    try:
        spark.conf.set(key, "8")
        stage(src, 0)
        assert set(run(src, out, ckpt)) == {8}
        stage(src, 1)
        stage(src, 2)
        spark.conf.set(key, "3")
        assert set(run(src, out, ckpt)) == {8}  # the checkpoint's count wins

        # the uninterrupted run, all files present from the start
        src2, out2, ckpt2 = (str(tmp_path / n) for n in ("src2", "out2", "ckpt2"))
        for k in range(len(files)):
            stage(src2, k)
        assert set(run(src2, out2, ckpt2)) == {3}
    finally:
        spark.conf.set(key, old)

    got, want = spark.read.parquet(out), spark.read.parquet(out2)
    assert sorted(r[0] for r in got.select("epoch").distinct().collect()) == [0, 1, 2]
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    assert got.groupBy("conv_id", "turn_idx", "sink").count().where("count > 1").count() == 0
