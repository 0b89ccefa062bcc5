"""Resilience invariance — reference e2e oracles re-expressed:

1. routed-row set equality holds under re-sharding (the reference
   re-shards 100× mid-flight and asserts the sink still receives every
   span exactly once, exporter_test.go:77-102);
2. SHARD_CONFIG_MISTMATCH analog: recomputing the routing stage with a
   NEW config table changes only shard assignment, never row membership
   (exporter.go:260-267 applies the new config and re-sends);
3. retryable-error resilience: outcomes partition the routed set — no
   row lost, none duplicated (10%-error test, exporter_test.go:104-124).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from apm_opentelemetry_collector_spark.config import PipelineConfig
from apm_opentelemetry_collector_spark.functions import sharding
from apm_opentelemetry_collector_spark.operators.forward_fill import forward_fill
from apm_opentelemetry_collector_spark.operators.route import (
    fan_out,
    with_retry_outcome,
    with_send_outcome,
)
from apm_opentelemetry_collector_spark.operators.validate import split_valid
from apm_opentelemetry_collector_spark.sources import fixtures
from apm_opentelemetry_collector_spark.sources.transcripts import synth_transcripts


def _routed(spark, n=4000):
    tr = synth_transcripts(spark, n_rows=n, n_convs=80)
    valid, _ = split_valid(tr)
    return fan_out(forward_fill(valid), fixtures.routes_df(spark)).persist()


def _keyset(df):
    return {
        (r["sink"], r["conv_id"], r["turn_idx"])
        for r in df.select("sink", "conv_id", "turn_idx").collect()
    }


def test_resharding_preserves_routed_set(spark):
    routed = _routed(spark)
    base = _keyset(routed)
    for n_shards in (1, 4, 16, 64):
        sh = sharding.shards_df(spark, sharding.even_shards(n_shards))
        assigned = sharding.assign_shard(routed, sh, "conv_id")
        # every row exactly once, no shard NULLs (config covers the space)
        assert _keyset(assigned) == base
        assert assigned.filter(F.col("shard_id").isNull()).count() == 0
        assert assigned.count() == len(base)


def test_config_swap_changes_only_assignment(spark):
    routed = _routed(spark)
    a = sharding.assign_shard(routed, sharding.shards_df(spark, sharding.even_shards(4)))
    b = sharding.assign_shard(routed, sharding.shards_df(spark, sharding.even_shards(16)))
    rows_a = {(r["sink"], r["conv_id"], r["turn_idx"]): r["shard_id"] for r in a.collect()}
    rows_b = {(r["sink"], r["conv_id"], r["turn_idx"]): r["shard_id"] for r in b.collect()}
    assert rows_a.keys() == rows_b.keys()
    # 16-shard ids refine the 4-shard ranges: shard index under 16 // 4
    # equals the index under 4 (even splits nest)
    for k, s4 in rows_a.items():
        s16 = int(rows_b[k].split("#")[1])
        assert f"shard#{s16 // 4}" == s4


def test_gap_in_config_drops_unowned_rows(spark):
    routed = _routed(spark, n=2000)
    # remove shard#1 of 4 → its keyspace is unowned → NULL shard
    holes = [s for s in sharding.even_shards(4) if s["shard_id"] != "shard#1"]
    assigned = sharding.assign_shard(routed, sharding.shards_df(spark, holes))
    n_null = assigned.filter(F.col("shard_id").isNull()).count()
    assert 0 < n_null < assigned.count()
    # unowned = exactly the keys the python oracle maps to shard#1
    full = sharding.even_shards(4)
    nulls = {
        r["conv_id"]
        for r in assigned.filter(F.col("shard_id").isNull()).select("conv_id").collect()
    }
    assert all(sharding.shard_of(c, full) == "shard#1" for c in nulls)


def test_outcomes_partition_routed_set(spark):
    routed = _routed(spark)
    out = with_retry_outcome(routed, PipelineConfig(), retry_queue_size=5)
    n = routed.count()
    by = {r["outcome"]: r["n"] for r in out.groupBy("outcome").agg(F.count("*").alias("n")).collect()}
    assert sum(by.values()) == n  # conservation under failures
    simple = with_send_outcome(routed)
    by2 = {r["outcome"]: r["n"] for r in simple.groupBy("outcome").agg(F.count("*").alias("n")).collect()}
    assert sum(by2.values()) == n


def test_retry_keeps_a_drop_made_before_the_send(spark):
    # at a 10-byte cap every span is fatally oversized: run_pipeline drops
    # it (FatalEncodingError) before the send, so the retry step must keep
    # that drop, give it no result code and no attempt, and queue nothing
    from apm_opentelemetry_collector_spark.plans.pipeline import run_pipeline

    tr = synth_transcripts(spark, n_rows=500, n_convs=10)
    routed = run_pipeline(spark, tr, PipelineConfig(max_span_size=10)).routed
    out = with_retry_outcome(routed, PipelineConfig(), retry_queue_size=1)
    fatal = out.filter(F.octet_length("text") > 10)
    assert fatal.count() == routed.count() > 0
    got = {
        tuple(r)
        for r in fatal.select("outcome", "drop_reason", "result_code", "attempts")
        .distinct()
        .collect()
    }
    assert got == {("dropped", "FatalEncodingError", None, 0)}
