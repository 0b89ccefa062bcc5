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
        ],
        "text string",
    )
    rows = df.select(
        parse_cols("text").alias("sql"), parse_pandas_udf(F.col("text")).alias("arrow")
    ).collect()
    assert all(r["sql"] == r["arrow"] for r in rows)
    assert rows[0]["sql"]["tool_call_name"] == "grep"
    assert rows[0]["sql"]["kv"] == {"k": "v", "a_b": "1", "z": "3.5"}
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


# --- as-of join randomized equivalence (one Spark job, many timelines) -------
def test_asof_join_matches_python_reference(spark):
    import datetime as dt
    import random

    from apm_opentelemetry_collector_spark.operators.asof import asof_join

    rng = random.Random(42)
    t0 = dt.datetime(2024, 1, 1)
    lrows, rrows = [], []
    for k in range(25):
        for ts in sorted(rng.sample(range(0, 10_000), rng.randint(1, 40))):
            lrows.append((k, t0 + dt.timedelta(seconds=ts), f"L{k}:{ts}"))
        for ts in sorted(rng.sample(range(0, 10_000), rng.randint(0, 25))):
            rrows.append((k, t0 + dt.timedelta(seconds=ts), f"V{k}:{ts}"))

    left = spark.createDataFrame(lrows, "k int, ts timestamp, payload string")
    right = spark.createDataFrame(rrows, "k int, ts timestamp, v string")
    got = {
        (r["k"], r["ts"], r["payload"]): r["v"]
        for r in asof_join(left, right, ["k"], "ts", ["v"]).collect()
    }

    by_key: dict[int, list] = {}
    for k, ts, v in rrows:
        by_key.setdefault(k, []).append((ts, v))
    for k in by_key:
        by_key[k].sort()
    want = {}
    for k, ts, payload in lrows:
        match = None
        for rts, v in by_key.get(k, []):
            if rts <= ts:  # inclusive — latest right at or before left ts
                match = v
            else:
                break
        want[(k, ts, payload)] = match
    assert len(got) == len(lrows)
    assert got == want


# --- salted join: identical results, hot key spread over n_salts tasks -------
def test_salted_join_equals_plain_join(spark):
    from apm_opentelemetry_collector_spark.operators.skew import salted_join

    # hot key: conv 'hot' holds half the big side
    big = spark.createDataFrame(
        [("hot" if i % 2 == 0 else f"c{i % 37}", i, f"t{i}") for i in range(4000)],
        "conv_id string, turn_idx long, text string",
    )
    small = spark.createDataFrame(
        [("hot", "sinkH"), ("c1", "sink1"), ("c2", "sink2")],
        "conv_id string, sink string",
    )
    plain = {
        tuple(r)
        for r in big.join(small, "conv_id").select(
            "conv_id", "turn_idx", "sink"
        ).collect()
    }
    salted = {
        tuple(r)
        for r in salted_join(big, small, ["conv_id"], salt_from="turn_idx")
        .select("conv_id", "turn_idx", "sink")
        .collect()
    }
    assert salted == plain and len(plain) > 2000

    # the hot key's rows really spread: >1 distinct salt value observed
    from pyspark.sql import functions as FF
    n_salts_used = (
        big.filter(FF.col("conv_id") == "hot")
        .select(FF.pmod(FF.xxhash64("turn_idx"), FF.lit(8)).alias("s"))
        .distinct()
        .count()
    )
    assert n_salts_used > 4


def test_pii_scrub_rules_fire(spark):
    """The scrub rules must actually fire (the testdata corpus contains
    no PII, so the driver oracle alone would be vacuous)."""
    from apm_opentelemetry_collector_spark.functions.text import (
        scrub_counts,
        scrub_text,
    )

    rows = [
        (1, "contact alice.smith+x@example.co.uk or https://ex.com/a?b=1 now"),
        (2, "server 192.168.001.250 responded; card 4111111111111111 used"),
        (3, "clean text, no sensitive content here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    counts = scrub_counts("text")
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            scrub_text("text").alias("s"),
            *[c.alias(f"n_{n}") for n, c in counts.items()],
        ).collect()
    }
    assert out[1]["s"] == "contact <EMAIL> or <URL> now"
    assert out[1]["n_email"] == 1 and out[1]["n_url"] == 1
    assert out[2]["s"] == "server <IP> responded; card <NUM> used"
    assert out[2]["n_ipv4"] == 1 and out[2]["n_long_number"] == 1
    assert out[3]["s"] == rows[2][1]
    assert all(out[3][f"n_{n}"] == 0 for n in ("email", "url", "ipv4", "long_number"))


def test_salted_join_rejects_outer_modes(spark):
    """ADVICE r2: right/full outer would replicate unmatched small-side
    rows once per salt — salted_join must refuse those modes."""
    import pytest

    from apm_opentelemetry_collector_spark.operators.skew import salted_join

    big = spark.createDataFrame([("a", 1)], "conv_id string, turn_idx long")
    small = spark.createDataFrame([("a", "s")], "conv_id string, sink string")
    for how in ("right", "full", "full_outer", "left_anti"):
        with pytest.raises(ValueError, match="not equivalence-preserving"):
            salted_join(big, small, ["conv_id"], salt_from="turn_idx", how=how)
    # allowed modes still run
    assert salted_join(big, small, ["conv_id"], salt_from="turn_idx", how="left").count() == 1


def test_weighted_reservoir_bias_and_determinism(spark):
    """A-ES sampling: heavy items dominate the sample in proportion to
    weight; result is deterministic across parallelism and exactly k."""
    from apm_opentelemetry_collector_spark.operators.sample import (
        weighted_reservoir_sample,
    )

    rows = [(i, 100.0 if i < 500 else 1.0) for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, weight double")
    got = weighted_reservoir_sample(df, 100, "weight")
    ids = sorted(r["doc_id"] for r in got.collect())
    assert len(ids) == 100 and len(set(ids)) == 100
    heavy = sum(1 for i in ids if i < 500)
    # E[heavy] ≈ 97 of 100 at 100:1 weights; far above any noise floor
    assert heavy >= 85, heavy

    again = sorted(
        r["doc_id"]
        for r in weighted_reservoir_sample(df.repartition(13), 100, "weight").collect()
    )
    assert again == ids


def test_kmeans_deterministic_and_partitions_points(spark):
    """Lloyd assignment: every point exactly once, deterministic across
    parallelism, clusters converge on the planted structure."""
    from apm_opentelemetry_collector_spark.operators.clustering import (
        kmeans_assign,
        kmeans_sizes,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = {r["vec_id"]: r["cluster"] for r in kmeans_assign(emb).collect()}
    b = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_assign(emb.repartition(7)).collect()
    }
    assert a == b and len(a) == emb.count()
    sizes = {r["cluster"]: r["n_points"] for r in kmeans_sizes(emb).collect()}
    assert sum(sizes.values()) == len(a) and len(sizes) >= 2


def test_tfidf_prefers_group_specific_terms(spark):
    from apm_opentelemetry_collector_spark.functions.text import tfidf_top_terms

    rows = (
        [(i, "alpha beta common words here", "s1") for i in range(20)]
        + [(100 + i, "gamma delta common words here", "s2") for i in range(20)]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    top = {
        (r["source"], r["term"]) for r in tfidf_top_terms(docs, top_n=2).collect()
    }
    # group-exclusive terms outrank corpus-wide ones (ln(N/df)=0 for
    # terms in every doc)
    assert ("s1", "alpha") in top and ("s1", "beta") in top
    assert ("s2", "gamma") in top and ("s2", "delta") in top


def test_repeated_passages_finds_planted_boilerplate(spark):
    """The cross-document passage counter must flag a license block
    planted in many documents (regardless of surrounding text), count
    distinct docs exactly, and stay silent on unique-content docs."""
    from apm_opentelemetry_collector_spark.operators.dedup import (
        repeated_passages,
    )

    license_block = (
        "this software is provided as is without warranty of any kind "
        "express or implied including fitness"
    )
    rows = []
    for i in range(8):
        rows.append((i, f"{license_block} document body number {i} " + "x" * i))
    for i in range(8, 16):
        rows.append((i, f"unique content {i} " + " ".join(f"w{i}{j}" for j in range(30))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    out = repeated_passages(docs, passage_len=40, stride=7, min_docs=3).collect()
    assert out, "planted boilerplate not found"
    # the license block's leading window is shared by all 8 planted docs
    lead = [r for r in out if r["passage"] == license_block[:40]]
    assert lead and lead[0]["n_docs"] == 8 and lead[0]["n_total"] == 8
    # nothing from the unique docs: every flagged passage lies in the
    # shared region (license block + the common filler that follows)
    shared = f"{license_block} document body number"
    assert all(r["passage"] in shared for r in out)


def test_leakage_safe_split_groups_share_folds(spark):
    """Exact duplicates (same fingerprint) must land in the SAME fold,
    and the fold ratios must approximate the weights."""
    from apm_opentelemetry_collector_spark.functions.text import fingerprint
    from apm_opentelemetry_collector_spark.operators.sample import (
        leakage_safe_split,
    )
    from pyspark.sql import functions as FF

    # 300 base docs, each duplicated once (whitespace/case variants
    # normalize to the same fingerprint)
    rows = []
    for i in range(300):
        rows.append((2 * i, f"Document body number {i} with content"))
        rows.append((2 * i + 1, f"  DOCUMENT body NUMBER {i}   with CONTENT "))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = docs.select(
        "doc_id",
        fingerprint("text").alias("fp"),
        leakage_safe_split(fingerprint("text")).alias("split"),
    )
    # same fingerprint → same split, for every group
    n_violations = (
        out.groupBy("fp")
        .agg(FF.countDistinct("split").alias("k"), FF.count("*").alias("n"))
        .filter((FF.col("k") > 1) | (FF.col("n") != 2))
        .count()
    )
    assert n_violations == 0
    frac = {
        r["split"]: r["c"] / 600
        for r in out.groupBy("split").agg(FF.count("*").alias("c")).collect()
    }
    assert 0.7 <= frac["train"] <= 0.9 and frac.get("test", 0) > 0.03


def test_robust_outliers_flags_planted_spikes(spark):
    from apm_opentelemetry_collector_spark.operators.outliers import (
        robust_zscore_outliers,
    )

    rows = [(i, "g", float(50 + (i % 11))) for i in range(500)]
    rows += [(1000, "g", 10_000.0), (1001, "g", -9_999.0)]
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    got = {r["event_id"]: r["z"] for r in
           robust_zscore_outliers(df, "value", ["event_type"], ["event_id"]).collect()}
    assert set(got) == {1000, 1001}
    assert got[1000] > 3.5 and got[1001] < -3.5


def test_funnel_requires_strict_order(spark):
    """A user with purchase BEFORE click must not count as completing
    the funnel; step counts are non-increasing."""
    import datetime as dt

    from apm_opentelemetry_collector_spark.operators.analytics import funnel_stages

    t = lambda s: dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)
    rows = [
        # u1 completes in order
        (1, "view", t(0)), (1, "click", t(1)), (1, "purchase", t(2)),
        # u2: purchase precedes click → stops at click
        (2, "view", t(0)), (2, "purchase", t(1)), (2, "click", t(2)),
        # u3: view only
        (3, "view", t(0)),
        # u4: never viewed → not even step 1
        (4, "click", t(0)), (4, "purchase", t(1)),
    ]
    ev = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
    got = {r["step"]: r["n_users"] for r in funnel_stages(ev).collect()}
    assert got == {"view": 3, "click": 2, "purchase": 1}


def test_json_props_malformed_rows_null(spark):
    from pyspark.sql import functions as FF

    rows = [(1, "a", '{"k": 5}'), (2, "a", "not json"), (3, "a", None),
            (4, "a", '{"other": 1}')]
    ev = spark.createDataFrame(rows, "event_id long, event_type string, props string")
    k = FF.get_json_object("props", "$.k").cast("bigint")
    got = {r["event_id"]: r["k"] for r in ev.select("event_id", k.alias("k")).collect()}
    assert got == {1: 5, 2: None, 3: None, 4: None}


def test_sliding_rate_window_boundaries(spark):
    """RANGE frame is inclusive of both the boundary-aged event and the
    current row; an event 1s past the window ages out."""
    import datetime as dt

    from apm_opentelemetry_collector_spark.operators.rates import (
        sliding_rate_exceeded,
    )

    t = lambda s: dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)
    rows = [(1, t(0)), (1, t(60)), (1, t(60 + 60)), (2, t(0)), (2, t(61))]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    # 60s window, max 1: user1's 2nd event sees [t0, t60] → n=2 (t0 at
    # exactly -60 included); 3rd sees [t60, t120] → n=2. user2's 2nd
    # sees only itself (t0 aged out at 61s) → never exceeds.
    got = {(r["user_id"], r["ts"]): r["n_in_window"]
           for r in sliding_rate_exceeded(ev, ["user_id"], "ts", 60, 1).collect()}
    assert got == {(1, t(60)): 2, (1, t(120)): 2}


def test_repeated_spans_finds_variable_length_boilerplate(spark):
    """Seed-and-extend must recover planted boilerplate at its FULL
    maximal length: a 25-char block (shorter than the 40-char fixed
    window — repeated_passages structurally misses it) and a ~90-char
    block (the fixed window only reports 40-char fragments), each
    planted in several docs with unique flanking text; unique-content
    docs contribute nothing."""
    from apm_opentelemetry_collector_spark.operators.dedup import (
        repeated_passages,
        repeated_spans,
    )

    short_block = "short legal header block"          # 24 norm chars
    long_block = (
        "this software is provided as is without warranty of any kind "
        "express or implied including"
    )  # 90 norm chars
    rows = []
    for i in range(5):
        rows.append((i, f"alpha{i}{i} {short_block} omega{i}{i}"))
    for i in range(5, 10):
        rows.append((i, f"intro{i}{i} {long_block} outro{i}{i}"))
    for i in range(10, 16):
        rows.append(
            (i, " ".join(f"w{i}x{j}q" for j in range(30)))  # unique filler
        )
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    out = repeated_spans(docs, seed_len=16, min_len=20, min_docs=3).collect()
    spans = {r["span"]: r for r in out}
    # MAXIMAL extent: the recovered span is the full shared substring —
    # the planted block plus the shared flank fragments (" " before,
    # "omega"/"outro" prefix after), ending exactly where docs diverge
    short_span = f" {short_block} omega"
    long_span = f" {long_block} outro"
    assert short_span in spans, sorted(spans)
    assert spans[short_span]["n_docs"] == 5
    assert spans[short_span]["span_len"] == len(short_span)
    assert long_span in spans
    assert spans[long_span]["n_docs"] == 5
    assert spans[long_span]["span_len"] == len(long_span)
    # maximality: nothing shorter/fragmented reported for those docs
    assert len(spans) == 2
    # and the fixed 40-char window indeed cannot see the short block
    fixed = repeated_passages(docs, passage_len=40, stride=7, min_docs=3).collect()
    assert all(short_block not in r["passage"] for r in fixed)
    assert all(len(r["passage"]) == 40 for r in fixed)  # long block fragments


def test_ewma_batch_matches_sequential_truth(spark):
    """The truncated-Horner batch EWMA must reproduce the sequential
    EWMA recurrence within the documented bound ~2·(1-α)^W·max|x| —
    machine-precision for the default W — and flag the identical
    anomaly set on a series with planted spikes."""
    import numpy as np

    from apm_opentelemetry_collector_spark.operators.outliers import (
        EWMA_ALPHA,
        EWMA_K,
        EWMA_MIN_POINTS,
        _ewma_window,
        ewma_anomalies_batch,
    )

    rng = np.random.default_rng(7)
    xs = (50 + 5 * rng.standard_normal(400)).round(3)
    xs[[60, 200, 333]] = [500.0, -400.0, 900.0]  # planted spikes
    rows = [(int(i), "h", float(x)) for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "seq long, host string, value double")

    got = (
        ewma_anomalies_batch(df, ["host"], ["seq"], "value")
        .orderBy("seq")
        .toPandas()
    )

    # sequential truth: the sequential EWMA recurrence
    alpha, k, min_points = EWMA_ALPHA, EWMA_K, EWMA_MIN_POINTS
    mean, var, n = 0.0, 0.0, 0
    zs, flags = [], []
    for x in xs:
        z = (x - mean) / var**0.5 if n >= min_points and var > 0 else 0.0
        zs.append(z)
        flags.append(abs(z) > k)
        if n == 0:
            mean, var = float(x), 0.0
        else:
            d = x - mean
            mean += alpha * d
            var = (1 - alpha) * (var + alpha * d * d)
        n += 1

    bound = 2 * (1 - alpha) ** _ewma_window(alpha) * np.abs(xs).max() + 1e-9
    assert np.abs(got["zscore"].to_numpy() - np.array(zs)).max() <= max(
        bound * 100, 1e-6
    )
    assert got["is_anomaly"].tolist() == flags
    assert got.loc[[60, 200, 333], "is_anomaly"].all()


def test_repeated_spans_island_counting_semantics(spark):
    """Documents that EXTEND a shared block differently produce
    different maximal islands, counted separately (support is on exact
    island text, not containment): the shared core alone is NOT its own
    row, but docs agreeing on the extent still group. Documents the
    limitation stated in the repeated_spans docstring."""
    from apm_opentelemetry_collector_spark.operators.dedup import repeated_spans

    core = "the quick brown fox jumps over it"   # 33 norm chars
    rows = [
        # A and B extend the core identically on the left
        (0, f"prefix shared {core} tailA0"),
        (1, f"prefix shared {core} tailB1"),
        # C contains only the core with unique flanks
        (2, f"zq9 {core} xw7"),
        (3, "totally unrelated filler " + " ".join(f"u{j}" for j in range(20))),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["span"]: r for r in repeated_spans(
        docs, seed_len=16, min_len=20, min_docs=2
    ).collect()}
    # A∪B∪C share the core, so its seeds are hot in all three; A/B's
    # islands include the shared "prefix shared " extension, C's island
    # is just " core " bounded by its unique flanks — different texts.
    ab = [s for s in out if "prefix shared" in s]
    assert len(ab) == 1 and out[ab[0]]["n_docs"] == 2
    # C's differently-flanked island has support 1 → filtered; the bare
    # core is NOT reported as its own row (the documented limitation)
    assert all("prefix shared" in s for s in out), sorted(out)


def test_span_cores_containment_support(spark):
    """r5 VERDICT missing #2, inverted from documenting-the-limitation
    to asserting-the-fix: two doc groups extend a planted core
    differently; repeated_spans splits the support across island
    variants and never reports the core, while span_cores counts
    support by CONTAINMENT — the core reports n_docs = both groups (3:
    A, B, and C) at its maximal shared extent, and the A/B-extended
    variant still reports separately at its own support (2)."""
    from apm_opentelemetry_collector_spark.operators.dedup import (
        repeated_spans,
        span_cores,
    )

    core = "the quick brown fox jumps over it"   # 33 norm chars
    rows = [
        (0, f"prefix shared {core} tailA0"),
        (1, f"prefix shared {core} tailB1"),
        (2, f"zq9 {core} xw7"),
        (3, "totally unrelated filler " + " ".join(f"u{j}" for j in range(20))),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    got = {r["core"]: r for r in span_cores(
        docs, seed_len=16, min_len=20, min_docs=2
    ).collect()}
    # the shared core at maximal CONTAINMENT extent (boundary spaces are
    # shared by all three docs) with support from BOTH groups
    core_span = f" {core} "
    assert core_span in got, sorted(got)
    assert got[core_span]["n_docs"] == 3 and got[core_span]["n_total"] == 3
    # the A/B variant is longer, has its own (smaller) support, and is
    # NOT pruned (maximality only drops equal-support containment)
    ab = [s for s in got if "prefix shared" in s]
    assert len(ab) == 1 and got[ab[0]]["n_docs"] == 2
    assert len(got) == 2
    # contrast: repeated_spans (exact-island support) misses the core
    old = {r["span"] for r in repeated_spans(
        docs, seed_len=16, min_len=20, min_docs=2
    ).collect()}
    assert core_span not in old


def test_span_cores_agreeing_docs_match_repeated_spans(spark):
    """When all sharing docs AGREE on the maximal extent (no divergent
    flanks), containment support equals exact-island support: span_cores
    and repeated_spans report the same rows."""
    from apm_opentelemetry_collector_spark.operators.dedup import (
        repeated_spans,
        span_cores,
    )

    block = "this software is provided as is without warranty"
    rows = [(i, f"alpha{i}{i} {block} omega{i}{i}") for i in range(5)]
    rows += [(10 + i, " ".join(f"w{i}x{j}q" for j in range(25))) for i in range(4)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(
        (r["core"], r["core_len"], r["n_docs"], r["n_total"])
        for r in span_cores(docs, seed_len=16, min_len=20, min_docs=3).collect()
    )
    b = sorted(
        (r["span"], r["span_len"], r["n_docs"], r["n_total"])
        for r in repeated_spans(docs, seed_len=16, min_len=20, min_docs=3).collect()
    )
    assert a == b and len(a) == 1


def test_repeated_spans_prefilter_is_output_invariant(spark):
    """The counting-bucket prefilter is FALSE-POSITIVE-ONLY (a seed in
    ≥ min_docs docs occurs ≥ min_docs times, so its bucket always
    reaches the threshold): output must be bit-identical with the
    prefilter on and off — on a dense fixture (planted boilerplate),
    a sparse one (hash soup + one planted block), and an all-unique
    corpus where the filter prunes everything and the result is empty
    both ways."""
    from pyspark.sql import functions as FF

    from apm_opentelemetry_collector_spark.operators.dedup import repeated_spans

    def canon(df):
        return sorted(tuple(r) for r in df.collect())

    # dense: the boilerplate fixture from the maximal-extent test
    block = "this text is repeated verbatim in many docs"
    dense = spark.createDataFrame(
        [(i, f"alpha{i}{i} {block} omega{i}{i}") for i in range(6)]
        + [(10 + i, " ".join(f"w{i}x{j}q" for j in range(30))) for i in range(4)],
        "doc_id long, text string",
    )
    a = canon(repeated_spans(dense, seed_len=16, min_len=20, min_docs=3,
                             prefilter=False))
    b = canon(repeated_spans(dense, seed_len=16, min_len=20, min_docs=3,
                             prefilter=True))
    assert a == b and len(a) >= 1

    # sparse: pseudo-random docs, one planted block in a few
    boiler = "subscribe to our newsletter today"
    sparse = spark.range(200).select(
        FF.col("id").alias("doc_id"),
        FF.when(
            FF.col("id") % 40 == 0,
            FF.concat(FF.sha2(FF.col("id").cast("string"), 256),
                      FF.lit(" " + boiler + " "),
                      FF.sha2(FF.concat(FF.lit("z"), FF.col("id").cast("string")), 256)),
        ).otherwise(
            FF.concat(FF.sha2(FF.concat(FF.lit("a"), FF.col("id").cast("string")), 256),
                      FF.sha2(FF.concat(FF.lit("b"), FF.col("id").cast("string")), 256))
        ).alias("text"),
    )
    a = canon(repeated_spans(sparse, seed_len=16, min_len=20, min_docs=2,
                             prefilter=False))
    b = canon(repeated_spans(sparse, seed_len=16, min_len=20, min_docs=2,
                             prefilter=True))
    assert a == b and any(boiler in r[1] for r in a)

    # all-unique: filter prunes everything, result empty on both paths
    uniq = spark.range(50).select(
        FF.col("id").alias("doc_id"),
        FF.sha2(FF.concat(FF.lit("u"), FF.col("id").cast("string")), 256).alias("text"),
    )
    assert canon(repeated_spans(uniq, prefilter=True)) == []
    assert canon(repeated_spans(uniq, prefilter=False)) == []


def test_bigram_lm_scores_rank_gibberish_below_prose(spark):
    """The corpus-trained bigram score must order documents sensibly:
    docs made of a repeated common phrase (high-count bigrams) score
    ABOVE docs of unique token soup (every bigram count 1), and
    single-token docs yield no row."""
    from apm_opentelemetry_collector_spark.functions.text import bigram_lm_scores

    phrase = "the quick brown fox jumps"
    rows = [(i, " ".join([phrase] * 4)) for i in range(6)]            # prose-ish
    rows += [(10 + i, " ".join(f"zx{i}q{j}" for j in range(20))) for i in range(6)]
    rows += [(100, "solo")]                                           # 1 token
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in bigram_lm_scores(docs).collect()}
    assert 100 not in out
    prose = [out[i]["avg_logp"] for i in range(6)]
    soup = [out[10 + i]["avg_logp"] for i in range(6)]
    assert min(prose) > max(soup), (prose, soup)
    assert out[0]["n_bigrams"] == 19  # 20 tokens → 19 bigrams


def test_pack_sequences_matches_serial_packing(spark):
    """Concat-and-chunk vs a from-the-definition serial walk, plus
    n_ranges invariance (the two-pass ranged prefix sum must be a pure
    implementation detail) and empty-doc semantics (occupies no chunk)."""
    from apm_opentelemetry_collector_spark.operators.pack import pack_sequences

    rows = [
        (0, "a b c"),                       # 3 tokens
        (1, " ".join(f"t{j}" for j in range(10))),
        (2, "   "),                          # 0 tokens — no chunk
        (3, "one"),
        (4, " ".join(f"u{j}" for j in range(7))),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for n_ranges in (1, 3, 8):
        got = {
            r["doc_id"]: r
            for r in pack_sequences(docs, seq_len=4, n_ranges=n_ranges).collect()
        }
        # serial truth
        start = 0
        for doc_id, text in rows:
            n = len(text.split())
            r = got[doc_id]
            assert r["n_tokens"] == n
            assert r["start_tok"] == start
            sc = start // 4
            assert r["start_chunk"] == sc
            if n:
                ec = (start + n - 1) // 4
                assert r["end_chunk"] == ec
                assert r["n_chunks"] == ec - sc + 1
                assert r["crosses_boundary"] == (ec > sc)
            else:
                assert (r["end_chunk"], r["n_chunks"], r["crosses_boundary"]) == (
                    sc, 0, False,
                )
            start += n


def test_mixture_weights_realizes_target_shares(spark):
    """The binding source keeps rate 1; every surviving token mass is
    proportional to the target weights (the defining property of the
    no-upsampling mixing solve)."""
    from apm_opentelemetry_collector_spark.operators.sample import mixture_weights

    rows = (
        [(i, "w " * 100, "big") for i in range(10)]
        + [(100 + i, "w " * 10, "small") for i in range(10)]
        + [(200 + i, "w " * 30, "mid") for i in range(10)]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {
        r["source"]: r
        for r in mixture_weights(
            docs, weights={"big": 1.0, "small": 1.0, "mid": 1.0}
        ).collect()
    }
    # equal targets: the scarcest source (small) binds at rate 1
    assert out["small"]["rate"] == 1.0
    # expected tokens equalized across sources at the binding level
    for s in ("big", "mid"):
        assert abs(out[s]["expected_tokens"] - out["small"]["expected_tokens"]) < 1e-9
    # skewed targets: 3:1:1 → expected tokens in 3:1:1 ratio
    out2 = {
        r["source"]: r
        for r in mixture_weights(
            docs, weights={"big": 3.0, "_default": 1.0}
        ).collect()
    }
    assert abs(out2["big"]["expected_tokens"] / out2["mid"]["expected_tokens"] - 3.0) < 1e-9
    assert max(r["rate"] for r in out2.values()) == 1.0


def test_gopher_quality_filters_each_rule_fires(spark):
    """Crafted fixtures: each Gopher rule fails on exactly the doc built
    to violate it (and only that rule), the clean prose doc passes all
    seven, and an empty doc fails closed."""
    from apm_opentelemetry_collector_spark.functions.text import gopher_quality

    base = "the cat and the dog have seen that story with great interest today"
    good = " ".join([base] * 5)  # 65 words, mean len ~4.2, 5 stop words
    rows = [
        (0, good),
        (1, "\n".join("- " + base for _ in range(10))),        # all lines bulleted
        (2, "\n".join([base + " ..."] * 4 + [base] * 6)),      # 40% ellipsis lines
        (3, good + " " + " ".join(["#"] * 10)),                # symbol ratio > 0.1
        (4, base),                                              # 13 words < 50
        (5, " ".join(["the", "of"] + ["pneumonoultramicroscopic"] * 60)),  # mean len > 10
        (6, good + " " + " ".join(str(n) for n in range(40))),  # alpha frac <= 0.8
        (7, " ".join(["red green blue small large"] * 13)),     # no stop words
        (8, "   "),                                             # empty: fails closed
        (9, " ".join(["…"] * 10) + " " + good),                 # unicode ellipsis ratio
        # the published rule is per-symbol: 4 hashes + 4 ellipses in 73
        # words is ~0.055 EACH — passes, though the pooled 8/73 would not
        (10, " ".join(["#"] * 4 + ["..."] * 4) + " " + good),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in gopher_quality(docs).collect()}

    flags = [k for k in out[0] if k.startswith("pass_")]
    assert out[0]["keep"] is True and all(out[0][f] for f in flags)
    expected_fail = {
        1: "pass_bullet_lines",
        2: "pass_ellipsis_lines",
        3: "pass_symbol_ratio",
        4: "pass_word_count",
        5: "pass_mean_word_len",
        6: "pass_alpha_words",
        7: "pass_stopwords",
        9: "pass_symbol_ratio",
    }
    for doc_id, failing in expected_fail.items():
        got_failing = {f for f in flags if not out[doc_id][f]}
        assert got_failing == {failing}, (doc_id, got_failing)
        assert out[doc_id]["keep"] is False
    # empty text: word-count and derived rules fail, nothing passes it in
    assert out[8]["keep"] is False and out[8]["n_words"] == 0
    assert out[8]["mean_word_len"] == 0.0
    # hash and ellipsis ratios are INDEPENDENT (each < 0.1): ~0.055 each
    # passes even though the pooled count would cross the threshold
    assert out[10]["keep"] is True and out[10]["pass_symbol_ratio"] is True


def test_gopher_repetition_rules(spark):
    """Crafted fixtures for the A1.2 repetition suite: duplicate lines /
    paragraphs, top-n-gram dominance with the smallest-gram tie-break,
    duplicated-n-gram coverage with overlap merge vs separate runs, and
    the vacuous pass on empty text."""
    from apm_opentelemetry_collector_spark.functions.text import (
        gopher_repetition,
    )

    # all-distinct words, long enough that a count-1 "top" n-gram is a
    # small char fraction (the published thresholds assume real docs)
    clean = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango "
        "uniform victor whiskey xray yankee zulu one two three four five "
        "six seven eight nine ten eleven twelve thirteen fourteen"
    )
    rows = [
        (0, clean),
        # 10 identical lines: dup_line_frac = 0.9 > 0.3, char frac ~0.9
        (1, "\n".join(["same line here"] * 10)),
        # duplicate paragraph (and the 3-line view has 1 dup of 3)
        (2, "para one here\n\npara one here"),
        # dominant 2-gram: "x y" x3 of 5 grams -> 9/11 chars > 0.2
        (3, "x y x y x y"),
        # overlapping repeated 5-gram: 7x 'a' -> merged run covers all
        (4, "a a a a a a a"),
        # two separate runs of the same 5-gram with an uncovered gap
        (5, "p q r s t z1 z2 p q r s t"),
        (6, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in gopher_repetition(docs).collect()}
    flags = [k for k in out[0] if k.startswith("pass_")]

    assert out[0]["keep"] is True and all(out[0][f] for f in flags)
    assert out[1]["dup_line_frac"] == 0.9
    assert out[1]["pass_dup_lines"] is False
    assert out[1]["pass_dup_line_chars"] is False
    assert out[2]["dup_para_frac"] == 0.5
    assert out[2]["pass_dup_paras"] is False and out[2]["keep"] is False
    # top 2-gram "x y" (count 3, ties broken to the smallest gram):
    # 3 * len("x y") = 9 of 11 normalized chars
    assert abs(out[3]["top_2gram_char_frac"] - 9 / 11) < 1e-12
    assert out[3]["pass_top_2gram"] is False
    # overlapping occurrences merge into ONE run covering all 13 chars
    assert out[4]["dup_5gram_char_frac"] == 1.0
    # separate runs: 2 * len("p q r s t") = 18 of the 25 normalized
    # chars; the " z1 z2 " gap is never counted
    assert abs(out[5]["dup_5gram_char_frac"] - 18 / 25) < 1e-12
    assert out[5]["pass_dup_5gram"] is False
    # empty doc: zero repetition everywhere -> vacuous keep (the A1.1
    # quality rules are what reject empties)
    assert out[6]["keep"] is True
    assert out[6]["dup_5gram_char_frac"] == 0.0


def test_c4_line_filters_rules(spark):
    """Crafted fixtures: terminal-punctuation and min-word line rules,
    kept-line rejoin, and the three doc-level drops (too few kept
    lines, lorem ipsum, curly brace)."""
    from apm_opentelemetry_collector_spark.functions.text import c4_line_filters

    good_line = "this sentence has at least five words."
    rows = [
        (0, "\n".join([good_line] * 3)),                    # 3 kept -> keep
        (1, "\n".join([good_line, "too short.", "no terminal punctuation here at all", good_line, good_line])),
        (2, "\n".join([good_line] * 2)),                    # only 2 kept -> drop
        (3, "\n".join([good_line] * 3) + "\nsee Lorem Ipsum text."),
        (4, "\n".join([good_line] * 3) + "\nvar x = { a: 1 };"),
        (5, 'is a quote fine as terminal punctuation?" yes it is."'),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in c4_line_filters(docs).collect()}

    assert out[0]["keep"] is True and out[0]["n_kept_lines"] == 3
    assert out[0]["cleaned_text"] == "\n".join([good_line] * 3)
    # short + unterminated lines dropped, the three good ones kept
    assert out[1]["n_kept_lines"] == 3 and out[1]["keep"] is True
    assert "too short." not in out[1]["cleaned_text"]
    assert "no terminal" not in out[1]["cleaned_text"]
    assert out[2]["keep"] is False and out[2]["n_kept_lines"] == 2
    assert out[3]["keep"] is False and out[3]["has_lorem"] is True
    assert out[4]["keep"] is False and out[4]["has_brace"] is True
    # single line ending in a double quote counts as terminal
    assert out[5]["n_kept_lines"] == 1


def test_c4_span_dedup_global_first_occurrence(spark):
    """Crafted corpus: the globally-first (doc_id, position) occurrence
    of a duplicated 3-line span is kept, every other occurrence loses
    its lines (cross-doc AND within-doc), overlapping duplicate spans
    remove the union of their lines, and untouched docs pass through."""
    from apm_opentelemetry_collector_spark.operators.dedup import c4_span_dedup

    footer = "f one.\nf two.\nf three."
    rows = [
        (0, "a0.\nb0.\n" + footer),          # first footer occurrence
        (1, "a1.\nb1.\n" + footer),          # loses the footer lines
        (2, "x.\nx.\nx.\nx.\nx."),           # within-doc: j=1 kept, 2-3 dup
        (3, "solo one.\nsolo two."),          # < 3 lines: no spans
        (4, footer + "\ntail4."),            # footer at j=1, still later by id
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in c4_span_dedup(docs).collect()}

    assert out[0]["changed"] is False and out[0]["cleaned_text"] == rows[0][1]
    assert out[1]["changed"] is True and out[1]["n_removed_lines"] == 3
    assert out[1]["cleaned_text"] == "a1.\nb1."
    # overlapping dup occurrences (j=2 covers 2-4, j=3 covers 3-5)
    # remove the union 2..5; the first occurrence's line 1 survives
    assert out[2]["n_removed_lines"] == 4
    assert out[2]["cleaned_text"] == "x."
    assert out[3]["changed"] is False and out[3]["n_removed_lines"] == 0
    # global order is (doc_id, j): doc 0's footer at j=3 precedes doc 4's
    # at j=1, so doc 4 loses it despite the smaller position
    assert out[4]["n_removed_lines"] == 3
    assert out[4]["cleaned_text"] == "tail4."


def test_ccnet_buckets_per_lang_terciles(spark):
    """Docs whose common-bigram mass rises monotonically bucket into
    tail/middle/head terciles in score order — and thresholds are
    PER-LANGUAGE: the three lowest-scoring constructions, alone in a
    second language, span all three buckets there."""
    from apm_opentelemetry_collector_spark.functions.text import ccnet_buckets

    def doc(i, tag):
        return "common pair " * (i + 1) + f"rare{tag}{i}"

    rows = [(i, doc(i, "en"), "en") for i in range(9)]
    rows += [(100 + i, doc(i, "de"), "de") for i in range(3)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r["doc_id"]: r.asDict() for r in ccnet_buckets(docs).collect()}

    # scores rise with i (the unique rare-word bigram's weight shrinks)
    en_scores = [out[i]["avg_logp"] for i in range(9)]
    assert en_scores == sorted(en_scores)
    assert [out[i]["bucket"] for i in range(9)] == (
        ["tail"] * 3 + ["middle"] * 3 + ["head"] * 3
    )
    # per-language thresholds: the same three low constructions span
    # all three buckets inside 'de'
    assert [out[100 + i]["bucket"] for i in range(3)] == [
        "tail",
        "middle",
        "head",
    ]


def test_dsir_weights_rank_target_like_docs(spark):
    """DSIR must rank same-length docs by target-likeness: a doc made of
    target vocabulary scores above a mixed doc, which scores above an
    off-vocabulary doc — regardless of which source the doc sits in."""
    from apm_opentelemetry_collector_spark.functions.text import dsir_weights

    tgt_words, off_words = "alpha beta gamma delta", "zulu yankee xray whiskey"
    rows = [(i, " ".join([tgt_words] * 4), "tgt") for i in range(5)]
    rows += [(10 + i, " ".join([off_words] * 4), "other") for i in range(3)]
    rows += [(20, " ".join([tgt_words] * 4), "other")]            # target-like
    rows += [(21, " ".join([tgt_words, off_words] * 2), "other")]  # mixed
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {
        r["doc_id"]: r
        for r in dsir_weights(docs, target_source="tgt").collect()
    }
    assert all(out[i]["n_tokens"] == 16 for i in out)
    assert out[20]["log_weight"] > out[21]["log_weight"] > out[10]["log_weight"]
    # target-vocab docs score identically wherever they live
    assert out[20]["log_weight"] == out[0]["log_weight"]


def test_ngram_decontaminate_exact_13gram_boundary(spark):
    """The published rule is sharp: a 13-token run copied from an eval
    doc flags the train doc; a 12-token overlap does not. Counts are
    occurrences (n_hits) and distinct grams; eval docs never appear in
    the output; a doc quoting TWO eval sources yields one row each."""
    from apm_opentelemetry_collector_spark.operators.dedup import (
        ngram_decontaminate,
    )

    ev_a = " ".join(f"a{i}" for i in range(20))  # 20 tokens → 8 13-grams
    ev_b = " ".join(f"b{i}" for i in range(13))  # exactly one 13-gram
    quote13_a = " ".join(f"a{i}" for i in range(13))   # first 13-gram of ev_a
    quote12_a = " ".join(f"a{i}" for i in range(12))   # one token short
    filler = " ".join(f"x{i}" for i in range(15))
    rows = [
        (0, ev_a, "eval0"),
        (1, ev_b, "eval1"),
        (10, f"{filler} {quote13_a}", "train"),              # 1 hit on eval0
        (11, f"{filler} {quote12_a}", "train"),              # clean: 12 < 13
        (12, f"{quote13_a} end {quote13_a}", "train"),       # same gram twice
        (13, f"{quote13_a} {filler} {ev_b}", "train"),       # both eval sets
        (14, filler, "train"),                               # clean
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {
        (r["doc_id"], r["eval_source"]): r
        for r in ngram_decontaminate(docs, ("eval0", "eval1")).collect()
    }
    assert set(out) == {(10, "eval0"), (12, "eval0"), (13, "eval0"), (13, "eval1")}
    assert out[(10, "eval0")]["n_hits"] == 1
    assert out[(10, "eval0")]["n_distinct_grams"] == 1
    # doc 12 repeats the SAME gram: 2 occurrences, 1 distinct — plus the
    # bridging grams across " end " match nothing
    assert out[(12, "eval0")]["n_hits"] == 2
    assert out[(12, "eval0")]["n_distinct_grams"] == 1
    assert out[(13, "eval1")]["n_hits"] == 1


def test_ngram_decontaminate_prefilter_is_output_invariant(spark):
    """The bloom prefilter is false-positive-only and the exact verify
    join still runs, so prefilter=True must be bit-identical to the
    plain path — including at an aggressively small bitmap (high FP
    rate lets extra grams through; the join must kill them all)."""
    from apm_opentelemetry_collector_spark.operators.dedup import (
        ngram_decontaminate,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plain = ngram_decontaminate(docs, ("src0", "src1"))
    for bits in (1 << 20, 256):  # sane sizing AND a collision-heavy one
        filtered = ngram_decontaminate(
            docs, ("src0", "src1"), prefilter=True, bloom_bits=bits
        )
        assert filtered.exceptAll(plain).count() == 0
        assert plain.exceptAll(filtered).count() == 0


def test_decontaminate_splice_gpt3_rules(spark):
    """GPT-3 App. C removal semantics: the window is centered on the
    colliding gram and excised (no surviving piece contains it), short
    pieces are discarded, over-fragmented docs are dropped entirely,
    and fully-covered docs yield no pieces."""
    from apm_opentelemetry_collector_spark.operators.dedup import (
        decontaminate_splice,
    )

    quote = " ".join(f"q{i}" for i in range(13))          # the eval 13-gram
    pad = lambda tag, k: " ".join(f"{tag}{i}" for i in range(k))
    rows = [
        (0, quote, "eval"),
        # long flanks: one excision → two long pieces, neither holding the quote
        (10, f"{pad('a', 40)} {quote} {pad('b', 40)}", "train"),
        # the quote IS the doc (plus a hair): fully covered → zero pieces
        (11, f"x {quote}", "train"),
        # quote repeated with long gaps → many pieces; max_pieces=2 drops it
        (12, f"{pad('c', 40)} {quote} {pad('d', 40)} {quote} {pad('e', 40)}", "train"),
        (13, pad("f", 100), "train"),                     # clean, absent
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = decontaminate_splice(
        docs, ("eval",), window_chars=60, min_piece_chars=30, max_pieces=2
    ).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 10: survives with 2 pieces, quote text gone from both
    assert sorted(by_doc) == [10]
    p10 = sorted(by_doc[10], key=lambda r: r["piece_idx"])
    assert [r["n_pieces"] for r in p10] == [2, 2]
    assert all("q0" not in r["piece"] and "q12" not in r["piece"] for r in p10)
    assert all(r["n_chars"] >= 30 for r in p10)
    # doc 12 fragments into 3 pieces > max_pieces=2 → dropped (absent);
    # doc 11 fully covered → absent; doc 13 clean → absent


def test_exactsubstr_dedup_removal_rules(spark):
    """Lee et al. ExactSubstr removal on a crafted corpus: a >=32-char
    block shared by two docs is excised from BOTH at its maximal shared
    extent (including the shared 'a start' flank the seed chaining
    finds), sub-threshold duplicates survive, a fully-duplicated doc
    rewrites to '', within-doc repeats count as duplication, and
    keep_first retains exactly the globally-first occurrence."""
    from apm_opentelemetry_collector_spark.operators.dedup import (
        exactsubstr_dedup,
    )

    block = "the quick brown fox jumps over the lazy dog repeatedly"
    short_dup = "tiny duplicate bit"  # 18 chars < min_len=32
    rows = [
        (0, "alpha start " + block + " alpha end"),
        (1, "beta start " + block + " beta end"),
        (2, "unique text with no repeats anywhere in this corpus at all"),
        (3, short_dup + " padding one xxxxxxxxxxxxx"),
        (4, short_dup + " padding two yyyyyyyyyyyyy"),
        (5, block),
        (6, "self " + block + " mid " + block + " done"),
        (7, "tiny"),  # < seed_len: no windows, passes through
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in exactsubstr_dedup(docs).collect()}

    # both occurrences excised — the maximal shared substring is
    # "a start the ... repeatedly " (the flank 'a start ' is shared too)
    assert out[0]["changed"] and out[0]["cleaned_text"] == "alphalpha end"
    assert out[1]["changed"] and out[1]["cleaned_text"] == "betbeta end"
    assert out[0]["n_removed_chars"] == out[1]["n_removed_chars"] == 63
    # unique and sub-threshold docs pass through unchanged (normalized)
    for i in (2, 3, 4, 7):
        assert not out[i]["changed"] and out[i]["n_removed_chars"] == 0
        assert out[i]["cleaned_text"] == rows[i][1]
    # fully-duplicated doc rewrites to empty
    assert out[5]["changed"] and out[5]["cleaned_text"] == ""
    assert out[5]["n_removed_chars"] == out[5]["n_chars"] == len(block)
    # within-doc repetition is duplication: both copies excised
    assert out[6]["n_spans_removed"] == 2
    assert out[6]["cleaned_text"] == "selfmiddone"

    kept = {
        r["doc_id"]: r.asDict()
        for r in exactsubstr_dedup(docs, keep_first=True).collect()
    }
    # globally-first occurrence of the shared span text survives intact
    assert not kept[0]["changed"]
    assert kept[0]["cleaned_text"] == rows[0][1]
    assert kept[1]["changed"] and kept[1]["cleaned_text"] == "betbeta end"
    # doc 6's first within-doc copy survives, the second is excised
    assert kept[6]["n_spans_removed"] == 1


def test_curation_funnel_stage_semantics(spark):
    """Hand-lined corpus through the composed C4 → Gopher → exact-dedup
    funnel: a brace doc dies at C4, a short doc dies at Gopher word
    count, an exact duplicate of a surviving doc is collapsed
    keep-first, and tokens_kept sums the surviving CLEANED texts."""
    from apm_opentelemetry_collector_spark.operators.curation import (
        curation_funnel,
    )

    # 63 words, 3 keepable lines, stopword-rich, alpha-heavy
    good = (
        "the pipeline reads every record and that is the point of the "
        "whole exercise because we want clean data for training runs.\n"
        "it should be obvious that each of these lines ends with a "
        "proper sentence terminator and has plenty of ordinary words.\n"
        "finally the document closes with one more full sentence so "
        "the line filters keep at least three of them intact."
    )
    short = (
        "one short sentence that ends properly here.\n"
        "another short sentence that also ends well.\n"
        "and that is of course all there is."
    )
    rows = [
        (1, "src_a", good),
        (7, "src_a", good),                      # exact dup of doc 1
        (3, "src_a", good + "\ncode { brace }."),  # brace → fails C4
        (4, "src_b", short),                     # < 50 words → fails Gopher
        (5, "src_b", good + "\nplus one extra closing sentence to differ."),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r["source"]: r.asDict() for r in curation_funnel(docs).collect()}

    assert out["src_a"]["n_raw"] == 3
    assert out["src_a"]["n_after_c4"] == 2        # brace doc dropped
    assert out["src_a"]["n_after_gopher"] == 2
    assert out["src_a"]["n_after_dedup"] == 1     # dup collapsed to doc 1
    # tokens of ONE surviving cleaned text (all 3 lines kept = 63 words)
    assert out["src_a"]["tokens_kept"] == 63
    assert out["src_b"]["n_raw"] == 2
    assert out["src_b"]["n_after_c4"] == 2
    assert out["src_b"]["n_after_gopher"] == 1    # short doc dropped
    assert out["src_b"]["n_after_dedup"] == 1


def test_trigram_lm_stupid_backoff_branches(spark):
    """Hand-counted stupid-backoff arithmetic: a train doc scores pure
    trigram hits (S = c123/c12), a held-out doc exercises every branch
    — seen trigram, bigram backoff (0.4·c23/c2), unigram backoff with
    and without the OOV 1/N floor — and avg_logs matches the
    from-the-definition value."""
    import math

    from apm_opentelemetry_collector_spark.functions.text import (
        trigram_lm_scores,
    )

    rows = [
        (0, "a b c a b d", "train"),   # N=6; c1 a2 b2 c1 d1; ab=2 bc ca bd=1
        (1, "a b c x b d", "other"),   # abc hit; bcx/cxb bo2; xbd bo1
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {
        r["doc_id"]: r.asDict()
        for r in trigram_lm_scores(docs, train_sources=("train",)).collect()
    }

    # train doc: every trigram seen once; contexts ab=2, bc=1, ca=1
    t0 = out[0]
    assert (t0["n_hit"], t0["n_bo1"], t0["n_bo2"]) == (4, 0, 0)
    exp0 = (math.log(1 / 2) + math.log(1 / 1) + math.log(1 / 1) + math.log(1 / 2)) / 4
    assert abs(t0["avg_logs"] - exp0) < 1e-6

    # held-out doc: abc -> 1/2 (hit); bcx -> unigram OOV floor
    # 0.4*0.4*(1/6); cxb -> unigram 0.4*0.4*(2/6); xbd -> bigram
    # backoff 0.4*(bd=1 / b=2)
    t1 = out[1]
    assert (t1["n_hit"], t1["n_bo1"], t1["n_bo2"]) == (1, 1, 2)
    exp1 = (
        math.log(1 / 2)
        + math.log(0.4 * 0.4 * (1 / 6))
        + math.log(0.4 * 0.4 * (2 / 6))
        + math.log(0.4 * (1 / 2))
    ) / 4
    assert abs(t1["avg_logs"] - exp1) < 1e-6


def test_temperature_mixture_t2_smoothing(spark):
    """T=2 smoothing on a 90/10-token two-source corpus: smoothed
    shares go ∝ sqrt (0.75/0.25), the low-resource source binds at
    rate 1, and the big source downsamples to realize the smoothed
    ratio exactly (hand-computed expectations)."""
    from apm_opentelemetry_collector_spark.operators.sample import (
        temperature_mixture,
    )

    rows = [
        (1, "big", " ".join(f"w{i}" for i in range(90))),
        (2, "small", " ".join(f"v{i}" for i in range(10))),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r["source"]: r.asDict() for r in temperature_mixture(docs).collect()}

    assert out["big"]["tokens"] == 90 and out["small"]["tokens"] == 10
    assert abs(out["big"]["token_share"] - 0.9) < 1e-12
    # sqrt smoothing: 9.4868../(9.4868..+3.1622..) = 0.75
    assert abs(out["big"]["smoothed_share"] - 0.75) < 1e-9
    assert abs(out["small"]["smoothed_share"] - 0.25) < 1e-9
    assert out["small"]["rate"] == 1.0
    # big downsamples to 1/3: smoothed ratio 3:1 over a 9:1 corpus
    assert abs(out["big"]["rate"] - 1 / 3) < 1e-9
    assert abs(out["big"]["expected_tokens"] - 30.0) < 1e-6


def test_tokenizer_fertility_hand_counts(spark):
    """Hand-counted fertility: contractions and punctuation inflate the
    subword count over the whitespace count per the GPT-2 pretokenizer
    ("don't stop now!" = don / 't / stop / now / ! = 5 subwords over 3
    words), and per-language rows aggregate independently."""
    from apm_opentelemetry_collector_spark.functions.text import (
        tokenizer_fertility,
    )

    rows = [
        (0, "don't stop now!", "en"),     # 5 bpe / 3 ws / 15 chars
        (1, "plain words here", "en"),    # 3 bpe / 3 ws / 16 chars
        (2, "abc 123 x9", "xx"),          # abc,123,x,9 = 4 bpe / 3 ws
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r["lang"]: r.asDict() for r in tokenizer_fertility(docs).collect()}

    en = out["en"]
    assert (en["n_docs"], en["ws_tokens"], en["bpe_tokens"]) == (2, 6, 8)
    assert en["n_chars"] == len(rows[0][1]) + len(rows[1][1])
    assert abs(en["fertility"] - 8 / 6) < 1e-12
    xx = out["xx"]
    assert (xx["ws_tokens"], xx["bpe_tokens"]) == (3, 4)


def test_curate_job_cli_consistent_with_funnel_query(spark, tmp_path, monkeypatch):
    """The spark-submit curation runner's written outputs agree with the
    curation_funnel operator: same per-stage totals, n_final == rows in
    the cleaned parquet, and the summary JSON matches the funnel table."""
    import json
    import sys

    sys.path.insert(0, "scripts")
    import curate_job

    out = str(tmp_path / "curated")
    monkeypatch.setattr(
        sys,
        "argv",
        ["curate_job.py", "--input", "/root/testdata/sf0.001",
         "--output", out, "--demo-lined"],
    )
    curate_job.main()

    from apm_opentelemetry_collector_spark.operators.curation import (
        curation_funnel,
        curation_lined,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    funnel = {
        r["source"]: r.asDict()
        for r in curation_funnel(curation_lined(docs)).collect()
    }
    summary = json.load(open(f"{out}/_summary.json"))
    cleaned = spark.read.parquet(f"{out}/cleaned")
    assert summary["totals"]["n_final"] == cleaned.count()
    for src, row in summary["sources"].items():
        q = funnel[src]
        assert row["n_raw"] == q["n_raw"]
        assert row["n_after_c4"] == q["n_after_c4"]
        assert row["n_after_gopher"] == q["n_after_gopher"]
        assert row["n_final"] == q["n_after_dedup"]
        assert row["tokens_final"] == q["tokens_kept"]


def test_fineweb_filters_rule_semantics(spark):
    """Hand-built docs crossing each FineWeb rule exactly: a no-punct
    doc fails the 0.12 punct-line rule, a doc whose duplicated line is
    >10% of its chars fails the dup-chars rule, a doc of mostly <30-char
    lines fails the 0.67 short-line rule, and a clean doc keeps."""
    from apm_opentelemetry_collector_spark.functions.text import (
        fineweb_filters,
    )

    long_line = "this is a long enough line of ordinary prose text."
    rows = [
        (0, "\n".join([long_line] * 3 + ["another distinct long closing line."])),
        (1, "\n".join([long_line.rstrip(".")] * 1
                      + ["second line without terminal punct here",
                         "third line also with no punctuation mark",
                         "fourth line still not ending in punct"])),
        (2, "\n".join([long_line, long_line,
                       "a different long line to pad the total chars."])),
        (3, "\n".join(["a b", "c d", "e f", long_line])),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in fineweb_filters(docs).collect()}

    # doc 0: dup! 3 copies of long_line → dup chars = 2*len >> 10%
    assert not out[0]["pass_dup_chars"] and not out[0]["keep"]
    assert out[0]["pass_punct_lines"] and out[0]["pass_short_lines"]
    # doc 1: zero punct-ending lines → 0 < 0.12
    assert not out[1]["pass_punct_lines"] and not out[1]["keep"]
    # doc 2: one duplicated copy of long_line (~33% of chars) → fails
    # dup; punct fine; shorts fine
    assert not out[2]["pass_dup_chars"]
    # doc 3: 3 of 4 lines shorter than 30 chars → 0.75 >= 0.67
    assert not out[3]["pass_short_lines"] and not out[3]["keep"]
    assert out[3]["n_short_lines"] == 3


def test_curate_job_exactsubstr_swaps_changed_docs_only(spark, tmp_path, monkeypatch):
    """--exactsubstr must rewrite ONLY docs that actually lost a
    duplicated span: a unique surviving doc keeps its original-cased
    multi-line C4-cleaned text, while duplicated-span docs come back
    rewritten (regression for the review finding)."""
    import sys

    sys.path.insert(0, "scripts")
    import curate_job

    # doc 1 shares NO >=16-char run with docs 2/3 (unique wording)
    good = (
        "The Unique Report covers migration of the warehouse and that "
        "is why we keep it around for the audit trail of the quarter.\n"
        "every sentence in this particular document is written with "
        "fresh phrasing that appears nowhere else in the batch of it.\n"
        "so the report survives curation with its casing and newlines "
        "preserved exactly as the crawler and that is of it captured."
    )
    block = "a duplicated boilerplate clause long enough to excise"
    mk = (
        "the {} page opens with an introduction and that is of course "
        "fine because we want clean data for the training corpus.\n"
        "{} middle context sentence with plenty of usual words here "
        "and the shared part follows now {} then the page goes on.\n"
        "a closing sentence unique to the {} page wraps this one up "
        "and that is of it for the record being archived today."
    )
    dup = mk.format("first", "some", block, "first")
    dup2 = mk.format("second", "other", block, "second")
    rows = [(1, "src_a", "en", good), (2, "src_a", "en", dup),
            (3, "src_b", "en", dup2)]
    inp = str(tmp_path / "in")
    spark.createDataFrame(
        rows, "doc_id long, source string, lang string, text string"
    ).write.parquet(inp)

    out = str(tmp_path / "curated")
    monkeypatch.setattr(
        sys, "argv",
        ["curate_job.py", "--input", inp, "--output", out, "--exactsubstr"],
    )
    curate_job.main()

    cleaned = {
        r["doc_id"]: r["cleaned_text"]
        for r in spark.read.parquet(f"{out}/cleaned").collect()
    }
    # doc 1 has no duplicated >=32-char span: original case + newlines kept
    assert cleaned[1] == good
    # docs 2/3 shared the block: both rewritten (normalized domain,
    # block excised)
    for i in (2, 3):
        assert block not in cleaned[i]
        assert "\n" not in cleaned[i] and cleaned[i] == cleaned[i].lower()
