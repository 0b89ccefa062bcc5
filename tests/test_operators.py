"""Operator unit tests — the reference's test oracles re-expressed
(SURVEY.md §5): shard goldens, packing goldens, truncation, node
multiplexing counts, backpressure matrix, salting equivalence,
conservation, config round-trip behaviors.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from apm_opentelemetry_collector_spark.config import PipelineConfig
from apm_opentelemetry_collector_spark.functions import sharding
from apm_opentelemetry_collector_spark.operators.aggregate import sink_outcome_counts
from apm_opentelemetry_collector_spark.operators.forward_fill import forward_fill
from apm_opentelemetry_collector_spark.operators.pack import assign_batches
from apm_opentelemetry_collector_spark.operators.route import fan_out, with_send_outcome
from apm_opentelemetry_collector_spark.operators.truncate import truncate_oversize
from apm_opentelemetry_collector_spark.operators.validate import split_valid
from apm_opentelemetry_collector_spark.sources import fixtures
from apm_opentelemetry_collector_spark.sources.transcripts import synth_transcripts

TS = "2024-01-01 00:00:00"


def turns(spark, rows):
    return spark.createDataFrame(
        [Row(conv_id=c, turn_idx=i, role=r, text=t, tool=o, ts=None) for c, i, r, t, o in rows],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )


# --- sharding goldens (encoder_test.go:98-117, sharding_config_test.go) ----
def test_shard_golden_abc():
    sh = sharding.even_shards(4)
    assert sharding.shard_of("abc", sh) == "shard#2"


def test_even_shards_contiguous():
    sh = sharding.even_shards(7)
    assert sh[0]["start_key"] == "0" * 32
    assert sh[-1]["end_key"] == "f" * 32
    for prev, nxt in zip(sh, sh[1:]):
        assert int(prev["end_key"], 16) + 1 == int(nxt["start_key"], 16)


def test_spark_assignment_matches_python_oracle(spark):
    sh = sharding.even_shards(4)
    df = spark.createDataFrame([(f"key-{i}",) for i in range(500)], "conv_id string")
    got = {
        r["conv_id"]: r["shard_id"]
        for r in sharding.assign_shard(df, sharding.shards_df(spark, sh)).collect()
    }
    for k, v in got.items():
        assert v == sharding.shard_of(k, sh)


def test_invalid_configs_rejected():
    with pytest.raises(ValueError, match="startingHashKey > endingHashKey"):
        sharding.validate_sharding_config(
            [{"shard_id": "a", "start_key": "f" * 32, "end_key": "0" * 32}]
        )
    with pytest.raises(ValueError, match="overlap"):
        sharding.validate_sharding_config(
            [
                {"shard_id": "a", "start_key": "0" * 32, "end_key": "8" + "0" * 31},
                {"shard_id": "b", "start_key": "7" * 32, "end_key": "f" * 32},
            ]
        )


def test_unsorted_config_sorted():
    sh = list(reversed(sharding.even_shards(4)))
    ordered = sharding.validate_sharding_config(sh)
    assert [s["shard_id"] for s in ordered] == [f"shard#{i}" for i in range(4)]


# --- node multiplexing golden (octrace/opencensus_test.go:172-304) ---------
def test_forward_fill_node_multiplexing(spark):
    # stream: initiator node (1 span), node1 (3 spans), node2 (5 spans);
    # nodes only present on the first span of each segment.
    rows = [("c", 0, "initiator", "t", None)]
    rows += [("c", 1, "node1", "t", None)] + [("c", i, None, "t", None) for i in (2, 3)]
    rows += [("c", 4, "node2", "t", None)] + [("c", i, None, "t", None) for i in (5, 6, 7, 8)]
    out = forward_fill(turns(spark, rows)).groupBy("role").count().collect()
    got = {r["role"]: r["count"] for r in out}
    assert got == {"initiator": 1, "node1": 3, "node2": 5}


# --- protocol filter + backpressure matrix (opencensus_test.go:308-590) ----
def test_protocol_filter_refuses_whole_conversation(spark):
    rows = [
        ("bad", 0, None, "x", None), ("bad", 1, "user", "x", None),
        ("good", 0, "user", "x", None), ("good", 1, None, "x", None),
    ]
    valid, rejected = split_valid(turns(spark, rows), backpressure_on=True)
    assert {r["conv_id"] for r in valid.collect()} == {"good"}
    rej = rejected.collect()
    assert {r["conv_id"] for r in rej} == {"bad"} and len(rej) == 2
    assert all(r["outcome"] == "refused" for r in rej)


def test_backpressure_off_drops_silently(spark):
    rows = [("bad", 0, None, "x", None), ("bad", 1, "user", "x", None)]
    _, rejected = split_valid(turns(spark, rows), backpressure_on=False)
    assert all(r["outcome"] == "dropped" for r in rejected.collect())


# --- truncation goldens (encoder_test.go:243-319) ---------------------------
def test_truncation_rewrites_oversized_text(spark):
    cfg = PipelineConfig(max_span_size=100)
    rows = [("c", 0, "user", "x" * 500, None), ("c", 1, "user", "small", None)]
    # passthrough names that parse only when quoted: a reserved word, a dot
    df = turns(spark, rows).withColumn("select", F.lit(1)).withColumn("a.b", F.lit(2))
    out = {r["turn_idx"]: r for r in truncate_oversize(df, cfg).collect()}
    assert out[0]["select"] == 1 and out[0]["a.b"] == 2
    assert out[0]["truncated"] and out[0]["text"].startswith("[TRUNCATED reason=")
    assert "size=500" in out[0]["text"]
    assert not out[1]["truncated"] and out[1]["text"] == "small"
    assert out[0]["outcome"] is None  # truncated but delivered

    # the cap is in bytes: multibyte text (2-, 3- and 4-byte characters,
    # shifted by ASCII so the byte budget ends at every offset inside a
    # character) is cut on a character boundary and still fits the cap
    multi = [
        "é" * 80, "a" + "é" * 80,
        "a" + "中" * 60, "中" * 60, "ab" + "中" * 60,
        "😀" * 40, "a" + "😀" * 40, "abc" + "😀" * 40,
    ]
    mdf = turns(spark, [("m", i, "user", t, None) for i, t in enumerate(multi)])
    rows = truncate_oversize(mdf, cfg).collect()
    assert len(rows) == len(multi)
    for r in rows:
        src, got = multi[r["turn_idx"]], r["text"]
        marker = f"[TRUNCATED reason=max_span_size size={len(src.encode())}] "
        assert r["truncated"] and got.startswith(marker)
        assert len(got.encode()) <= cfg.max_span_size, (src[:3], len(got.encode()))
        body = got[len(marker):]
        assert "\ufffd" not in body and src.startswith(body)
        # longest fitting prefix: one more character would overshoot
        keep = cfg.max_span_size - len(marker.encode())
        assert len(src[: len(body) + 1].encode()) > keep


def test_truncation_fatal_drop_when_cap_below_marker(spark):
    cfg = PipelineConfig(max_span_size=10)  # marker alone exceeds the cap
    rows = [("c", 0, "user", "y" * 50, None)]
    df = turns(spark, rows).withColumn("a.b", F.lit(2))
    truncated = truncate_oversize(df, cfg)
    r = truncated.collect()[0]
    assert r["outcome"] == "dropped" and r["drop_reason"] == "FatalEncodingError"
    # the send outcome keeps the fatal drop and adds no second copy of
    # the outcome columns
    sent = with_send_outcome(truncated.withColumn("sink", F.lit("s")), cfg)
    assert len(sent.columns) == len(set(sent.columns))
    r = sent.collect()[0]
    assert r["outcome"] == "dropped" and r["drop_reason"] == "FatalEncodingError"
    assert r["a.b"] == 2


# --- parse: SQL-expression grok equals its Arrow twin ------------------------
def test_parse_cols_equals_pandas_twin(spark):
    """The SQL-expression grok and the pandas-UDF twin agree row for row.
    parse_cols embeds its regexes as SQL literals escaped for the default
    parser, so get_spark pins that setting."""
    from apm_opentelemetry_collector_spark.functions.parse import (
        parse_cols,
        parse_pandas_udf,
    )

    assert spark.conf.get("spark.sql.parser.escapedStringLiterals") == "false"
    df = spark.createDataFrame(
        [
            ("[WARN] tool_call(name=grep, arg=x1) k=v a_b=1 z=3.5",),
            ("[INFO] user=alice n=42 tool_call(name=ls-2, arg=dir) [ERROR]",),
            ("no markers at all",),
            # a key never starts inside a word, so a long word scans once
            ("9abc=1 x",),
            ("a" * 20000 + " k=1",),
        ],
        "text string",
    )
    rows = df.select(
        parse_cols("text").alias("sql"), parse_pandas_udf(F.col("text")).alias("arrow")
    ).collect()
    assert all(r["sql"] == r["arrow"] for r in rows)
    assert rows[0]["sql"]["tool_call_name"] == "grep"
    assert rows[0]["sql"]["kv"] == {"k": "v", "a_b": "1", "z": "3.5"}
    assert rows[3]["sql"]["kv"] == {}
    assert rows[4]["sql"]["kv"] == {"k": "1"}
    with pytest.raises(TypeError):
        parse_cols(F.col("text"))


def test_read_input_table_sees_rewritten_schema(spark, tmp_path):
    """The input-schema cache is keyed by the file listing too: a path
    rewritten with another schema is inferred afresh."""
    from apm_opentelemetry_collector_spark.session import read_input_table

    path = str(tmp_path / "t.parquet")
    spark.range(3).selectExpr("id AS a").write.parquet(path)
    assert read_input_table(spark, path).columns == ["a"]
    assert read_input_table(spark, path).columns == ["a"]
    spark.range(3).selectExpr("id AS a", "id * 2 AS b").write.mode(
        "overwrite"
    ).parquet(path)
    df = read_input_table(spark, path)
    assert df.columns == ["a", "b"] and df.count() == 3


# --- packing goldens (shard_encoder_test.go:84-170) --------------------------
def _packed(spark, texts, max_record_size):
    cfg = PipelineConfig(max_record_size=max_record_size)
    rows = [("c", i, "user", t, None) for i, t in enumerate(texts)]
    df = turns(spark, rows).withColumn("sink", F.lit("s")).withColumn(
        "shard_id", F.lit("sh")
    )
    return assign_batches(df, cfg).collect()


def test_packing_one_big_record(spark):
    out = _packed(spark, ["abc"] * 10, max_record_size=10_000)
    assert {r["batch_no"] for r in out} == {0}


def test_packing_one_record_per_span(spark):
    out = _packed(spark, ["abc"] * 10, max_record_size=1)
    assert sorted(r["batch_no"] for r in out) == list(range(0, 30, 3))  # floor(prev/1)
    # each batch_no distinct → one record per span
    assert len({r["batch_no"] for r in out}) == 10


def test_packing_overshoot_by_one_span(spark):
    # budget 10, spans of 6 bytes: batches go [0,0], [1,1], ... flush AFTER
    # exceeding, matching the reference's append-then-flush
    out = _packed(spark, ["x" * 6] * 4, max_record_size=10)
    got = [r["batch_no"] for r in sorted(out, key=lambda r: r["turn_idx"])]
    assert got == [0, 0, 1, 1]


# --- salting equivalence (SURVEY.md §4 item 1) -------------------------------
def test_salted_equals_unsalted(spark):
    tr = synth_transcripts(spark, n_rows=20_000, n_convs=50, hot_conv_fraction=0.5)
    valid, _ = split_valid(tr)
    routed = with_send_outcome(fan_out(forward_fill(valid), fixtures.routes_df(spark)))
    key = lambda r: tuple("" if v is None else str(v) for v in r)
    a = sink_outcome_counts(routed, salted=True).collect()
    b = sink_outcome_counts(routed, salted=False).collect()
    assert sorted(map(key, a)) == sorted(map(key, b))


# --- conservation (encoder_test.go:140-199 invariant) ------------------------
def test_conservation_accepted_plus_dropped_is_routed(spark):
    tr = synth_transcripts(spark, n_rows=5_000, n_convs=100)
    valid, rejected = split_valid(tr)
    routed = with_send_outcome(fan_out(forward_fill(valid), fixtures.routes_df(spark)))
    per_sink = routed.groupBy("sink").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("outcome") == "accepted", 1).otherwise(0)).alias("a"),
        F.sum(F.when(F.col("outcome") == "dropped", 1).otherwise(0)).alias("d"),
    ).collect()
    assert per_sink and all(r["n"] == r["a"] + r["d"] for r in per_sink)
    # and every input row is exactly one of admitted/rejected
    assert valid.count() + rejected.count() == tr.count()


# --- memorymonitor descriptor set (metrics.go:29-134, monitor.go:93-112) -----
def test_memorymonitor_os_conditional_descriptor_sets(spark):
    from apm_opentelemetry_collector_spark.operators.translate import (
        DESCRIPTORS,
        memorymonitor_scrape,
        os_descriptors,
        to_signalfx,
    )

    assert len(DESCRIPTORS) == 11  # the full reference set
    names = lambda os: {d[0] for d in os_descriptors(os)}
    common = {"memory.utilization", "memory.used"}
    assert names("windows") == common | {"memory.available"}
    assert names("darwin") == common | {
        "memory.free", "memory.active", "memory.inactive", "memory.wired"
    }
    assert names("linux") == common | {
        "memory.free", "memory.buffered", "memory.cached",
        "memory.slab_reclaimable", "memory.slab_unreclaimable",
    }

    out = to_signalfx(memorymonitor_scrape(spark, os_name="linux")).toPandas()
    assert set(out["name"]) == names("linux")
    # utilization is the one double-typed gauge; everything is a gauge here
    assert set(out["sf_type"]) == {"gauge"}
    assert (out["value"] >= 0).all()  # cached/slab subtractions never negative
    util = out[out["name"] == "memory.utilization"]["value"]
    assert ((util >= 0) & (util < 100)).all()


def test_resource_auto_detect_env_contract(spark, monkeypatch):
    """S8: OC_RESOURCE_TYPE / OC_RESOURCE_LABELS env detection attached
    to every scraped metric (receiver.go:86-102 via OpenCensus FromEnv)."""
    from apm_opentelemetry_collector_spark.operators.translate import (
        detect_resource,
        memorymonitor_scrape,
        with_resource,
    )

    monkeypatch.setenv("OC_RESOURCE_TYPE", "host")
    monkeypatch.setenv("OC_RESOURCE_LABELS", 'zone=us-east-1, name="node-7"')
    rtype, labels = detect_resource()
    assert rtype == "host" and labels == {"zone": "us-east-1", "name": "node-7"}

    out = with_resource(memorymonitor_scrape(spark), rtype, labels).toPandas()
    assert (out["resource_type"] == "host").all()
    assert all(dict(m) == labels for m in out["resource_labels"])

    monkeypatch.delenv("OC_RESOURCE_TYPE")
    monkeypatch.delenv("OC_RESOURCE_LABELS")
    rtype2, labels2 = detect_resource()
    assert rtype2 is None and labels2 == {}
    bare = with_resource(memorymonitor_scrape(spark), rtype2, labels2).toPandas()
    assert bare["resource_type"].isna().all()


def test_sample_conversations_keeps_whole_conversations(spark):
    """Consistent sampling: a conversation is kept or dropped whole, and
    rate 0.25 keeps exactly the conversations whose md5 starts with a hex
    digit below 4 (the oracle's cut)."""
    import hashlib

    from apm_opentelemetry_collector_spark.operators.sample import (
        sample_conversations,
    )

    tr = synth_transcripts(spark, 2000, 200)
    kept = sample_conversations(tr, 0.25)
    assert kept.count() == tr.join(kept.select("conv_id").distinct(), "conv_id").count()
    convs = {r["conv_id"] for r in tr.select("conv_id").distinct().collect()}
    want = {c for c in convs if hashlib.md5(c.encode()).hexdigest()[0] in "0123"}
    assert {r["conv_id"] for r in kept.select("conv_id").distinct().collect()} == want
    assert 0 < len(want) < len(convs)
    for bad in (-0.1, 1.5):
        with pytest.raises(ValueError, match="rate"):
            sample_conversations(tr, bad)
