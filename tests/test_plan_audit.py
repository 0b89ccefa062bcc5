"""Physical-plan audits — the 'explain and iterate until it's the plan
you'd want' discipline as executable assertions (SURVEY.md §4).

These tests fail if a future change silently degrades the plan: a config
join falling out of broadcast, a filter not reaching the parquet scan, a
Python UDF sneaking onto the hot path, or the fused validate+fill window
splitting into two exchanges.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from apm_opentelemetry_collector_spark.functions import sharding
from apm_opentelemetry_collector_spark.operators.forward_fill import forward_fill
from apm_opentelemetry_collector_spark.operators.validate import split_valid
from apm_opentelemetry_collector_spark.plans.pipeline import run_pipeline
from apm_opentelemetry_collector_spark.sources import fixtures
from apm_opentelemetry_collector_spark.sources.transcripts import derive_transcripts

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _flagship(spark):
    """The sink table run_job writes, over the derived transcripts."""
    return run_pipeline(spark, derive_transcripts(spark, SF)).routed


def test_no_rowwise_python_anywhere(spark):
    plan = plan_of(_flagship(spark))
    assert "BatchEvalPython" not in plan


def test_config_tables_are_local_relations(spark):
    """Routes, service_dim and the shard LUT are LocalTableScans: no
    ExistingRDD / PythonRDD scan, so no Python job runs per broadcast of
    a config table in the chain run_job writes."""
    plan = plan_of(_flagship(spark))
    assert "ExistingRDD" not in plan and "PythonRDD" not in plan, plan
    # service_dim, routes and the shard LUT
    assert plan.count("LocalTableScan") == 3, plan


def test_config_tables_equal_their_constants(spark):
    from pyspark.sql.types import StructType

    shards = sharding.even_shards(4)
    tables = (
        (fixtures.routes_df(spark), fixtures.ROUTES, fixtures.ROUTES_SCHEMA),
        (fixtures.service_dim_df(spark), fixtures.SERVICE_DIM,
         fixtures.SERVICE_DIM_SCHEMA),
        (sharding.shards_df(spark, shards),
         [(s["shard_id"], s["start_key"], s["end_key"]) for s in shards],
         "shard_id string, start_key string, end_key string"),
    )
    for df, rows, schema in tables:
        assert "LocalTableScan" in plan_of(df)
        assert [tuple(r) for r in df.collect()] == list(rows)
        want = StructType.fromDDL(schema)
        assert [(f.name, f.dataType) for f in df.schema] == [
            (f.name, f.dataType) for f in want
        ]


def test_local_table_round_trips_spark_literals(spark):
    # a backslash is an escape in Spark's string literals, a quote is
    # doubled; NULLs, numbers and the empty table keep their schema
    rows = [("a\\b'c", None, 7, 2.5), (None, "x", None, None)]
    schema = "s string, t string, i bigint, f double"
    df = fixtures.local_table(spark, rows, schema)
    assert [tuple(r) for r in df.collect()] == rows
    assert df.schema.simpleString() == "struct<s:string,t:string,i:bigint,f:double>"
    empty = fixtures.local_table(spark, [], schema)
    assert "LocalTableScan" in plan_of(empty) and empty.count() == 0
    assert empty.schema.simpleString() == df.schema.simpleString()


def test_batch_exchanges_use_initial_partition_num(spark):
    """get_spark sizes the two engines apart: batch exchanges start at
    initialPartitionNum = the shuffle_partitions argument (8 in
    conftest), spark.sql.shuffle.partitions (the streaming state
    partitions, AQE off) is the slot count."""
    sc = spark.sparkContext
    assert spark.conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum") == "8"
    assert spark.conf.get("spark.sql.shuffle.partitions") == str(sc.defaultParallelism)
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    try:
        # a session value other than the slot count leaves batch plans alone
        spark.conf.set(key, "3")
        plan = plan_of(spark.range(100).selectExpr("id % 3 AS k").groupBy("k").count())
    finally:
        spark.conf.set(key, old)
    assert re.search(r"Exchange hashpartitioning\(k#\d+L, 8\)", plan), plan


def test_config_joins_are_broadcast(spark):
    plan = plan_of(_flagship(spark))
    # shard lookup must be a broadcast HASH join (the equi-join rewrite),
    # never a sort-merge join or shuffle of the fact side
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # routes fan-out: tiny table broadcast (nested-loop is acceptable for
    # the pattern predicates; what matters is BuildRight broadcast)
    assert "BroadcastNestedLoopJoin" in plan or plan.count("BroadcastHashJoin") >= 2


def test_validate_and_fill_share_one_window_exchange(spark):
    tr = derive_transcripts(spark, SF)
    valid, _ = split_valid(tr)
    plan = plan_of(forward_fill(valid))
    # the conv_id sort exchange appears once: protocol-check first()
    # and the two last(ignorenulls) fills ride the same Window sort
    assert plan.count("hashpartitioning(conv_id") <= 1, plan


def test_column_pruning_reaches_scan(spark):
    # a projection of two columns must not read the text column
    df = spark.read.parquet(f"{SF}/events.parquet").select("event_id", "user_id")
    plan = plan_of(df)
    assert "ReadSchema" in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "event_type" not in read_schema and "props" not in read_schema


def test_filter_pushdown_reaches_scan(spark):
    df = spark.read.parquet(f"{SF}/events.parquet").filter(F.col("user_id") == 7)
    plan = plan_of(df)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and "user_id" in pushed[0]


def test_whole_stage_codegen_covers_parse(spark):
    # exchange-free plan (scan + parse projection): AQE doesn't wrap it,
    # so the executed plan shows the codegen span directly — the grok
    # expressions must live INSIDE WholeStageCodegen, not in a Python node
    from apm_opentelemetry_collector_spark.functions.parse import parse_cols

    df = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select(F.col("text"))
        .select(parse_cols("text").alias("parsed"))
    )
    plan = plan_of(df)
    # Known plan shape: the scalar regexp extracts codegen, but the kv
    # map (map_from_arrays + transform lambdas) is CodegenFallback —
    # still JVM-side interpreted expressions, NOT Python. The audit
    # guards the actual invariants: a codegen'd vectorized scan and zero
    # Python eval nodes on the parse path.
    assert "*(1)" in plan  # codegen span exists (vectorized scan side)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    # the severity-only projection (no higher-order fns) must codegen fully
    slim = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select(F.regexp_extract("text", r"\[(INFO|WARN|ERROR)\]", 1).alias("sev"))
    )
    sp = plan_of(slim)
    assert "*(1) Project" in sp or "WholeStageCodegen" in sp


def test_partition_pruning_on_layout(spark, tmp_path):
    from apm_opentelemetry_collector_spark.sources.transcripts import (
        synth_transcripts,
        write_partitioned,
    )

    path = str(tmp_path / "layout")
    write_partitioned(synth_transcripts(spark, 2000, 40), path, n_buckets=4)
    df = spark.read.parquet(path).filter(F.col("conv_bucket") == 2)
    plan = plan_of(df)
    # partition filter handled at scan planning: no conv_bucket post-filter
    # and the scan reports partition filters
    assert df.count() > 0
    assert "PartitionFilters: [isnotnull(conv_bucket" in plan or "conv_bucket#" in plan.split("PartitionFilters")[1][:200]


def test_job_bucket_slice_prunes_partitioned_layout(spark, tmp_path):
    # run_job's per-bucket read over the write_partitioned layout must be
    # a partition-pruned scan (one bucket's files), not a full rescan —
    # AND slice the same rows as the on-the-fly xxhash bucketing.
    from apm_opentelemetry_collector_spark.plans.job import bucket_slice
    from apm_opentelemetry_collector_spark.sources.transcripts import (
        synth_transcripts,
        write_partitioned,
    )

    raw = synth_transcripts(spark, 2000, 40)
    path = str(tmp_path / "layout")
    write_partitioned(raw, path, n_buckets=4)
    pruned = bucket_slice(spark.read.parquet(path), 2, 4)

    plan = plan_of(pruned)
    assert "PartitionFilters" in plan
    assert "conv_bucket" in plan.split("PartitionFilters")[1][:200]

    direct = bucket_slice(raw, 2, 4)
    key = lambda df: {tuple(r) for r in df.select("conv_id", "turn_idx").collect()}
    assert key(pruned) == key(direct) and len(key(pruned)) > 0


def test_job_runner_bounded_collects_only():
    # the runner must never collect config-unbounded data to the driver;
    # the TWO allowed .collect()s are the ≤#outcomes manifest totals and
    # the ≤n_buckets distinct partition values in validate_bucket_layout.
    import inspect

    from apm_opentelemetry_collector_spark.plans import job

    src = inspect.getsource(job)
    code = "\n".join(
        l for l in src.splitlines() if not l.strip().startswith("#")
    )
    assert code.count(".collect()") == 2, "new driver-side collect in plans/job.py"
    first, second = code.split(".collect()")[:2]
    bounded_markers = ('groupBy("outcome")', 'select("conv_bucket").distinct()')
    assert any(m in first[-300:] for m in bounded_markers)
    assert any(m in second[-300:] for m in bounded_markers)


def test_new_queries_no_python_nodes(spark):
    """No row-wise Python UDF in any driver query's plan."""
    import __spark_entry__ as entrymod

    for name, q in entrymod.queries().items():
        plan = plan_of(q(spark, SF))
        assert "BatchEvalPython" not in plan, name


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Co-located join: two tables bucketed by conv_id with the same
    bucket count must join with ZERO Exchange operators — the bucketed
    scan satisfies the join's hash distribution (the parquet twin of
    Iceberg's storage-partitioned join)."""
    from apm_opentelemetry_collector_spark.sources.transcripts import (
        synth_transcripts,
        write_bucketed,
    )

    spark.sql(f"CREATE DATABASE IF NOT EXISTS bdemo LOCATION '{tmp_path}/wh'")
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        tr = synth_transcripts(spark, 4000, 80)
        write_bucketed(tr, "bdemo.t_a", n_buckets=8)
        write_bucketed(
            tr.groupBy("conv_id").count(), "bdemo.t_b", n_buckets=8,
            sort_cols=("conv_id",),
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("bdemo.t_a").join(spark.table("bdemo.t_b"), "conv_id")
        assert joined.count() == 4000
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        assert "Bucketed: true" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
        spark.sql("DROP DATABASE IF EXISTS bdemo CASCADE")
