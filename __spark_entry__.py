"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

Queries cover SURVEY.md §2's operator inventory. The transcript pipeline
operates on a DETERMINISTIC derivation of the driver's ``events`` table
into the (conv_id, turn_idx, role, text, tool, ts) transcript schema
(sources/transcripts.derive_transcripts) so every stage has an exact
ANSI-SQL oracle. The Spark side executes DataFrame operators from
``apm_opentelemetry_collector_spark``; the oracle side is independently
written SQL (functions/sqlgen.py) — a genuine two-implementation check.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from apm_opentelemetry_collector_spark.config import PipelineConfig
from apm_opentelemetry_collector_spark.functions import sharding, sqlgen
from apm_opentelemetry_collector_spark.functions.parse import with_parsed
from apm_opentelemetry_collector_spark.operators.aggregate import (
    dropped_stats,
    flushed_stats,
    sink_outcome_counts,
)
from apm_opentelemetry_collector_spark.operators.enrich import enrich
from apm_opentelemetry_collector_spark.operators.forward_fill import forward_fill
from apm_opentelemetry_collector_spark.operators.pack import (
    assign_batches,
    record_stats,
)
from apm_opentelemetry_collector_spark.operators.route import (
    drop_unowned,
    fan_out,
    with_send_outcome,
)
from apm_opentelemetry_collector_spark.operators.sample import sample_conversations
from apm_opentelemetry_collector_spark.operators.translate import (
    memorymonitor_scrape,
    signalfx_oracle_sql,
    to_signalfx,
)
from apm_opentelemetry_collector_spark.operators.validate import split_valid
from apm_opentelemetry_collector_spark.sources import fixtures
from apm_opentelemetry_collector_spark.sources.transcripts import derive_transcripts

CFG = PipelineConfig()
SHARDS = sharding.even_shards(CFG.n_shards)


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from apm_opentelemetry_collector_spark.session import read_input_table

    return read_input_table(spark, f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------- pipeline
def _chain_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transcripts → protocol filter → forward fill (the admitted stream)."""
    tr = derive_transcripts(spark, sf_dir)
    valid, _ = split_valid(tr, backpressure_on=True)
    return forward_fill(valid)


def _chain_outcomes(spark: SparkSession, sf_dir: str) -> DataFrame:
    routed = fan_out(_chain_valid(spark, sf_dir), fixtures.routes_df(spark))
    return with_send_outcome(routed, CFG)


def _chain_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _chain_outcomes(spark, sf_dir)
    return drop_unowned(sharding.assign_shard(out, SHARDS, "conv_id"))


def q_transcripts_derive(spark, sf_dir):
    return derive_transcripts(spark, sf_dir)


def q_forward_fill(spark, sf_dir):
    return forward_fill(derive_transcripts(spark, sf_dir)).select(
        "conv_id", "turn_idx", "role", "tool"
    )


def q_protocol_refused(spark, sf_dir):
    _, rejected = split_valid(derive_transcripts(spark, sf_dir), backpressure_on=True)
    return rejected.select("conv_id", "turn_idx", "outcome")


def q_parse_attrs(spark, sf_dir):
    df = with_parsed(derive_transcripts(spark, sf_dir))
    return df.select(
        "conv_id",
        "turn_idx",
        F.col("parsed.severity").alias("severity"),
        F.col("parsed.tool_call_name").alias("tool_call_name"),
        F.col("parsed.tool_call_arg").alias("tool_call_arg"),
        F.element_at(F.col("parsed.kv"), "k").alias("k_val"),
        F.element_at(F.col("parsed.kv"), "value").alias("value_val"),
    )


def q_enrich_service(spark, sf_dir):
    filled = forward_fill(derive_transcripts(spark, sf_dir))
    return enrich(filled, fixtures.service_dim_df(spark)).select(
        "conv_id", "turn_idx", "service_name", "resource_type"
    )


def q_route_fanout(spark, sf_dir):
    return _chain_outcomes(spark, sf_dir).select(
        "sink", "pipeline_id", "conv_id", "turn_idx"
    )


def q_shard_assign(spark, sf_dir):
    convs = derive_transcripts(spark, sf_dir).select("conv_id").distinct()
    return sharding.assign_shard(convs, SHARDS, "conv_id").select(
        "conv_id", "shard_id"
    )


def q_send_outcomes(spark, sf_dir):
    return _chain_outcomes(spark, sf_dir).select(
        "sink", "conv_id", "turn_idx", "outcome", "drop_reason"
    )


def q_sink_outcome_counts(spark, sf_dir):
    return sink_outcome_counts(_chain_outcomes(spark, sf_dir), CFG, salted=True)


def q_receiver_counts(spark, sf_dir):
    tr = derive_transcripts(spark, sf_dir)
    valid, rejected = split_valid(tr, backpressure_on=True)
    from apm_opentelemetry_collector_spark.operators.aggregate import receiver_counts

    return receiver_counts(valid, rejected)


def q_record_packing(spark, sf_dir):
    accepted = _chain_sharded(spark, sf_dir).filter(F.col("outcome") == "accepted")
    return record_stats(assign_batches(accepted, CFG))


def q_flushed_stats(spark, sf_dir):
    return flushed_stats(q_record_packing(spark, sf_dir))


def q_dropped_stats(spark, sf_dir):
    return dropped_stats(_chain_outcomes(spark, sf_dir))


def q_conservation(spark, sf_dir):
    return _chain_outcomes(spark, sf_dir).groupBy("sink").agg(
        F.count("*").alias("n_routed"),
        F.sum(F.when(F.col("outcome") == "accepted", 1).otherwise(0)).alias(
            "n_accepted"
        ),
        F.sum(F.when(F.col("outcome") == "dropped", 1).otherwise(0)).alias(
            "n_dropped"
        ),
    )


def q_sampler_counts(spark, sf_dir):
    sampled = sample_conversations(derive_transcripts(spark, sf_dir), 0.25)
    return sampled.groupBy("role").agg(F.count("*").alias("n"))


def q_conv_stats(spark, sf_dir):
    return derive_transcripts(spark, sf_dir).groupBy("conv_id").agg(
        F.count("*").alias("n_turns"),
        F.countDistinct("role").alias("n_roles"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
    )


def q_metrics_translate(spark, sf_dir):
    # All three OS-conditional descriptor sets (monitor.go:93-112), tagged
    # by os — 11 distinct descriptors total across linux/darwin/windows.
    parts = [
        to_signalfx(memorymonitor_scrape(spark, os_name=o)).withColumn(
            "os", F.lit(o)
        )
        for o in ("linux", "darwin", "windows")
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# XL truncation (P4) exercised on documents (texts long enough to trip a
# 400-byte cap); oracle reproduces the marker arithmetic exactly.
TRUNC_CAP = 400


def q_doc_truncation(spark, sf_dir):
    from apm_opentelemetry_collector_spark.operators.truncate import truncate_oversize

    docs = _load(spark, sf_dir, "documents").select(
        F.col("doc_id"), F.col("text")
    )
    cfg = PipelineConfig(max_span_size=TRUNC_CAP)
    out = truncate_oversize(docs, cfg)
    return out.select(
        "doc_id",
        "truncated",
        F.octet_length("text").alias("new_len"),
        F.col("text").alias("new_text"),
    )


def q_xl_span_stats(spark, sf_dir):
    """A2: omnishard_xl_span_size/_spans — Sum/Count of truncated spans
    per group (telemetry.go:80-94); grouped by source here. A span is
    truncated by its byte size, and xl_size sums those byte sizes before
    truncation (the marker's size=)."""
    from apm_opentelemetry_collector_spark.operators.truncate import truncate_oversize

    docs = _load(spark, sf_dir, "documents").withColumn(
        "span_bytes", F.octet_length("text")
    )
    cfg = PipelineConfig(max_span_size=TRUNC_CAP)
    out = truncate_oversize(docs, cfg)
    return (
        out.filter(F.col("truncated"))
        .groupBy("source")
        .agg(
            F.count("*").alias("xl_spans"),
            F.sum("span_bytes").alias("xl_size"),
        )
    )


RETRY_CAP = 50  # small cap at test scale so overflow actually happens


def q_retry_outcomes(spark, sf_dir):
    """T6/O3: retryable sends, bounded retry queue, overflow drops."""
    from apm_opentelemetry_collector_spark.operators.route import with_retry_outcome

    routed = fan_out(_chain_valid(spark, sf_dir), fixtures.routes_df(spark))
    out = with_retry_outcome(routed, CFG, retry_queue_size=RETRY_CAP)
    return out.select(
        "sink", "conv_id", "turn_idx", "outcome", "drop_reason", "result_code", "attempts"
    )


def q_sent_stats(spark, sf_dir):
    """A6: omnishard_sent_spans/_bytes per (sink, result_code)
    (telemetry.go:164-190)."""
    from apm_opentelemetry_collector_spark.operators.route import with_retry_outcome

    routed = fan_out(_chain_valid(spark, sf_dir), fixtures.routes_df(spark))
    out = with_retry_outcome(routed, CFG, retry_queue_size=RETRY_CAP)
    return out.groupBy("sink", "result_code").agg(
        F.count("*").alias("sent_spans"),
        F.sum(F.octet_length("text")).alias("sent_bytes"),
        F.sum("attempts").alias("total_attempts"),
    )


def q_enqueued_stats(spark, sf_dir):
    """A3: enqueued vs dequeued spans per sink (telemetry.go:96-126):
    enqueued = all routed rows, dequeued = rows surviving the send."""
    out = _chain_outcomes(spark, sf_dir)
    return out.groupBy("sink").agg(
        F.count("*").alias("enqueued_spans"),
        F.sum(F.when(F.col("outcome") == "accepted", 1).otherwise(0)).alias(
            "dequeued_spans"
        ),
    )


def q_backpressure_matrix(spark, sf_dir):
    """S4 matrix (opencensus_test.go:410-590): same protocol violations
    are REFUSED with backpressure on, silently DROPPED with it off."""
    tr = derive_transcripts(spark, sf_dir)
    _, rej_on = split_valid(tr, backpressure_on=True)
    _, rej_off = split_valid(tr, backpressure_on=False)
    a = rej_on.groupBy("outcome").agg(F.count("*").alias("n")).withColumn(
        "backpressure", F.lit("on")
    )
    b = rej_off.groupBy("outcome").agg(F.count("*").alias("n")).withColumn(
        "backpressure", F.lit("off")
    )
    return a.unionByName(b).select("backpressure", "outcome", "n")


def q_topk_users_by_value(spark, sf_dir):
    """Top-3 users per event_type by exact decimal value sum (window
    row_number — the standard top-k-per-group plan)."""
    from pyspark.sql import Window as W

    ev = _load(spark, sf_dir, "events")
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value")
    )
    w = W.partitionBy("event_type").orderBy(
        F.col("total_value").desc(), F.col("user_id").asc()
    )
    return (
        per_user.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("event_type", "user_id", "total_value", "rnk")
    )


# ---------------------------------------------------------------- generic
def q_q1_pricing_summary(spark, sf_dir):
    li = _load(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount")))
            .cast("double")
            .alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


def q_q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 adapted to the testdata schema: the canonical join-heavy
    OLAP plan — broadcast the filtered customer dim (small side), shuffle
    equi-join orders⨝lineitem on orderkey, decimal-exact revenue, top-10
    with a deterministic tiebreak."""
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    cut = F.lit("1997-06-01 00:00:00").cast("timestamp")
    cust = _load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cut)
    li = _load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cut)
    out = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(
                dec("l_extendedprice")
                * (F.lit(1).cast("decimal(18,2)") - dec("l_discount"))
            )
            .cast("double")
            .alias("revenue")
        )
    )
    return out.orderBy(F.col("revenue").desc(), F.col("l_orderkey")).limit(10)


def q_q5_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 adapted: 6-table star join (region→nation filter chain
    broadcast, supplier/customer dims broadcast, orders⨝lineitem the only
    fact shuffle) with the local-supplier constraint c_nationkey =
    s_nationkey. Catalyst orders the joins; every dim side fits under the
    broadcast threshold at any realistic dim size."""
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    lo = F.lit("1995-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1999-01-01 00:00:00").cast("timestamp")
    cust = _load(spark, sf_dir, "customer")
    orders = _load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    li = _load(spark, sf_dir, "lineitem")
    supp = _load(spark, sf_dir, "supplier")
    nation = _load(spark, sf_dir, "nation")
    region = _load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.sum(
                dec("l_extendedprice")
                * (F.lit(1).cast("decimal(18,2)") - dec("l_discount"))
            )
            .cast("double")
            .alias("revenue")
        )
    )


def q_q14_promo_revenue(spark, sf_dir):
    """TPC-H Q14 adapted: promo vs total revenue per ship month —
    broadcast part dim onto the lineitem fact, conditional decimal
    aggregation, month rollup via date_trunc."""
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    li = _load(spark, sf_dir, "lineitem")
    part = _load(spark, sf_dir, "part")
    disc = dec("l_extendedprice") * (
        F.lit(1).cast("decimal(18,2)") - dec("l_discount")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.date_trunc("month", "l_shipdate").alias("ship_month"))
        .agg(
            F.sum(
                F.when(F.col("p_type") == "PROMO", disc).otherwise(
                    F.lit(0).cast("decimal(18,2)")
                )
            )
            .cast("double")
            .alias("promo_revenue"),
            F.sum(disc).cast("double").alias("total_revenue"),
        )
    )


def q_top_customers(spark, sf_dir):
    orders = _load(spark, sf_dir, "orders")
    cust = _load(spark, sf_dir, "customer")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_spent"),
            F.count("*").alias("n_orders"),
        )
        .orderBy(F.col("total_spent").desc(), F.col("c_custkey").asc())
        .limit(10)
    )


def q_distinct_users_per_type(spark, sf_dir):
    ev = _load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


def q_value_percentiles(spark, sf_dir):
    """Exact interpolated percentiles per event_type (Spark percentile ≡
    DuckDB quantile_cont, both linear interpolation over sorted values)."""
    ev = _load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("p50"),
        F.expr("percentile(value, 0.95)").alias("p95"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )


def q_rollup_orders(spark, sf_dir):
    """ROLLUP subtotals (SURVEY §2.5: free from Spark, absent in the
    reference): order counts + exact decimal totals per (priority,
    status), per priority, and grand total."""
    orders = _load(spark, sf_dir, "orders")
    return orders.rollup("o_orderpriority", "o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
    )


def q_cube_orders(spark, sf_dir):
    """CUBE: all grouping-set combinations over (priority, status) —
    the remaining GROUPING SETS shape beside rollup and pivot."""
    orders = _load(spark, sf_dir, "orders")
    return orders.cube("o_orderpriority", "o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
    )


def q_events_hourly_rollup(spark, sf_dir):
    """Event-time tumbling-window rollup (the batch face of the
    streaming windowed aggregate): per hour × event_type — counts,
    distinct users, exact decimal value total."""
    ev = _load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("window.start").alias("hour_start"),
            "event_type",
            "n_events",
            "n_users",
            "total_value",
        )
    )


def q_pivot_status_by_priority(spark, sf_dir):
    """Pivot with a pinned column list (stable schema both engines)."""
    orders = _load(spark, sf_dir, "orders")
    statuses = ["F", "O", "P"]  # pinned → stable schema at every sf
    out = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", statuses)
        .count()
        .na.fill(0)
    )
    for s in statuses:
        out = out.withColumnRenamed(s, f"n_{s.lower()}")
    return out


def q_record_encode_stats(spark, sf_dir):
    """P5/P6 + A4 (rows-only check: gzip bytes are not SQL-expressible):
    encoded sink records with compress factors. The byte format itself is
    covered by the decode-exactly-once pytest oracle (tests/test_encode)."""
    from apm_opentelemetry_collector_spark.operators.encode import encode_records

    sharded = _chain_sharded(spark, sf_dir)
    accepted = sharded.filter(F.col("outcome") == "accepted")
    recs = encode_records(assign_batches(accepted, CFG))
    return recs.select(
        "sink",
        "shard_id",
        "batch_no",
        "partition_key",
        "span_count",
        "uncompressed_bytes",
        "compressed_bytes",
        (F.col("uncompressed_bytes") / F.col("compressed_bytes")).cast("bigint").alias(
            "compress_factor"
        ),
    )


# ------------------------------------------------------------------ driver
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: per-sink outcome aggregate of the full pipeline at sf0.001."""
    return q_sink_outcome_counts(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The driver checks the first 50 entries in insertion order; with
    50 or fewer, every query is checked every round
    (tests/test_query_window.py keeps it that way)."""
    return {
        # rows-only: gzip bytes are not SQL-expressible; the byte format and
        # batch shape are covered by the decode-exactly-once pytest oracle
        "record_encode_stats": q_record_encode_stats,
        # --- transcript pipeline (SURVEY.md §2: S1-S4, F1, P1, P9/J7,
        # J1-J3, J6, W1, W3, A1, A5-A9, F4, T3/T6, O3) -----------------------
        "transcripts_derive": q_transcripts_derive,
        "forward_fill": q_forward_fill,
        "protocol_refused": q_protocol_refused,
        "parse_attrs": q_parse_attrs,
        "enrich_service": q_enrich_service,
        "route_fanout": q_route_fanout,
        "shard_assign": q_shard_assign,
        "send_outcomes": q_send_outcomes,
        "sink_outcome_counts": q_sink_outcome_counts,
        "receiver_counts": q_receiver_counts,
        "record_packing": q_record_packing,
        "flushed_stats": q_flushed_stats,
        "dropped_stats": q_dropped_stats,
        "conservation": q_conservation,
        "sampler_counts": q_sampler_counts,
        "conv_stats": q_conv_stats,
        # metrics path (S7, P3)
        "metrics_translate": q_metrics_translate,
        # truncation (P4) + A2 stats
        "doc_truncation": q_doc_truncation,
        "xl_span_stats": q_xl_span_stats,
        # retry loop (T6, O3)
        "retry_outcomes": q_retry_outcomes,
        # retry/backpressure taxonomy splits (S4, A3, A6)
        "sent_stats": q_sent_stats,
        "enqueued_stats": q_enqueued_stats,
        "backpressure_matrix": q_backpressure_matrix,
        # generic engine sanity (Catalyst agg/join/topk/percentiles)
        "topk_users_by_value": q_topk_users_by_value,
        "q1_pricing_summary": q_q1_pricing_summary,
        "q3_shipping_priority": q_q3_shipping_priority,
        "q5_local_supplier_volume": q_q5_local_supplier_volume,
        "q14_promo_revenue": q_q14_promo_revenue,
        "top_customers": q_top_customers,
        "distinct_users_per_type": q_distinct_users_per_type,
        "value_percentiles": q_value_percentiles,
        "rollup_orders": q_rollup_orders,
        "cube_orders": q_cube_orders,
        "events_hourly_rollup": q_events_hourly_rollup,
        "pivot_status_by_priority": q_pivot_status_by_priority,
    }


# ------------------------------------------------------------- oracle SQL
def _retry_chain_sql() -> str:
    """ROUTED chain + deterministic retry-queue CTEs (mirrors
    operators.route.with_retry_outcome)."""
    return (
        sqlgen.pipeline_with(
            sqlgen.TRANSCRIPTS_CTE,
            sqlgen.INVALID_CTE,
            sqlgen.FILLED_CTE,
            sqlgen.VALID_CTE,
            sqlgen.ROUTED_CTE,
        )
        + f"""
, sig AS (
  SELECT routed.*,
         substr(md5(conv_id || ':' || CAST(turn_idx AS VARCHAR) || ':' || sink), 1, 2) AS p2
  FROM routed
), seq AS (
  SELECT sig.*,
         sum(CASE WHEN p2 = 'fe' THEN 1 ELSE 0 END)
           OVER (PARTITION BY sink ORDER BY conv_id, turn_idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS retry_seq
  FROM sig
), retry AS (
  SELECT seq.*,
    CASE WHEN p2 = 'ff' THEN 'dropped'
         WHEN p2 = 'fe' AND retry_seq > {RETRY_CAP} THEN 'dropped'
         ELSE 'accepted' END AS outcome,
    CASE WHEN p2 = 'ff' THEN 'SendErrNotRetryable'
         WHEN p2 = 'fe' AND retry_seq > {RETRY_CAP} THEN 'RetryQueueFull' END AS drop_reason,
    CASE WHEN p2 = 'ff' THEN 'FAILED_NOT_RETRYABLE'
         WHEN p2 = 'fe' THEN 'FAILED_RETRYABLE'
         ELSE 'SUCCESS' END AS result_code,
    CASE WHEN p2 = 'fe' AND retry_seq <= {RETRY_CAP} THEN 2 ELSE 1 END AS attempts
  FROM seq
)"""
    )


def oracle_sql() -> dict[str, str]:
    dim = fixtures.service_dim_values_sql("d")
    shards_sql = fixtures.shards_values_sql(SHARDS, "s")

    return {
        "transcripts_derive": sqlgen.chain_to_transcripts()
        + "\nSELECT * FROM transcripts",
        "forward_fill": sqlgen.pipeline_with(sqlgen.TRANSCRIPTS_CTE, sqlgen.FILLED_CTE)
        + "\nSELECT conv_id, turn_idx, role, tool FROM filled",
        "protocol_refused": sqlgen.pipeline_with(
            sqlgen.TRANSCRIPTS_CTE, sqlgen.INVALID_CTE
        )
        + """
SELECT t.conv_id, t.turn_idx, 'refused' AS outcome
FROM transcripts t JOIN invalid_convs i ON i.conv_id = t.conv_id""",
        "parse_attrs": sqlgen.chain_to_transcripts()
        + r"""
SELECT conv_id, turn_idx,
  NULLIF(regexp_extract(text, '\[(INFO|WARN|ERROR)\]', 1), '') AS severity,
  NULLIF(regexp_extract(text, 'tool_call\(name=([A-Za-z0-9_-]+), arg=([A-Za-z0-9_-]+)\)', 1), '') AS tool_call_name,
  NULLIF(regexp_extract(text, 'tool_call\(name=([A-Za-z0-9_-]+), arg=([A-Za-z0-9_-]+)\)', 2), '') AS tool_call_arg,
  NULLIF(regexp_extract(text, ' k=([A-Za-z0-9_.-]+)', 1), '') AS k_val,
  NULLIF(regexp_extract(text, ' value=([A-Za-z0-9_.-]+)', 1), '') AS value_val
FROM transcripts""",
        "enrich_service": sqlgen.pipeline_with(
            sqlgen.TRANSCRIPTS_CTE, sqlgen.FILLED_CTE
        )
        + f"""
SELECT f.conv_id, f.turn_idx,
       COALESCE(d.service_name, 'unknown') AS service_name,
       COALESCE(d.resource_type, 'unknown') AS resource_type
FROM filled f
LEFT JOIN {dim} ON d.role = f.role AND d.tool = f.tool""",
        "route_fanout": sqlgen.chain_to_outcomes()
        + "\nSELECT sink, pipeline_id, conv_id, turn_idx FROM routed",
        "shard_assign": f"""
WITH convs AS (
  SELECT DISTINCT 'conv-' || lpad(CAST(user_id AS VARCHAR), 8, '0') AS conv_id
  FROM events
)
SELECT c.conv_id, s.shard_id
FROM convs c
LEFT JOIN {shards_sql}
  ON md5(c.conv_id) >= s.start_key AND md5(c.conv_id) <= s.end_key""",
        "send_outcomes": sqlgen.chain_to_outcomes()
        + "\nSELECT sink, conv_id, turn_idx, outcome, drop_reason FROM outcomes",
        "sink_outcome_counts": sqlgen.chain_to_outcomes()
        + f"""
SELECT sink, CAST(substr(conv_id, 6) AS BIGINT) % {CFG.n_conv_buckets} AS conv_bucket,
       role, tool, outcome, count(*) AS n
FROM outcomes GROUP BY ALL""",
        "receiver_counts": sqlgen.chain_to_valid()
        + """
SELECT 'transcripts' AS receiver, 'received' AS status, count(*) AS n FROM valid
UNION ALL
SELECT 'transcripts', 'refused', count(*)
FROM transcripts t JOIN invalid_convs i ON i.conv_id = t.conv_id""",
        "record_packing": sqlgen.chain_to_packed(SHARDS, CFG.max_record_size)
        + """
SELECT sink, shard_id, batch_no,
       count(*) AS span_count,
       CAST(sum(strlen(text)) AS BIGINT) AS uncompressed_bytes,
       min(conv_id) AS partition_key
FROM packed GROUP BY sink, shard_id, batch_no""",
        "flushed_stats": sqlgen.chain_to_packed(SHARDS, CFG.max_record_size)
        + """
, recs AS (
  SELECT sink, shard_id, batch_no, count(*) AS span_count,
         sum(strlen(text)) AS uncompressed_bytes
  FROM packed GROUP BY sink, shard_id, batch_no
)
SELECT sink, shard_id, CAST(sum(span_count) AS BIGINT) AS flushed_spans,
       count(*) AS flushed_batches,
       CAST(sum(uncompressed_bytes) AS BIGINT) AS flushed_bytes
FROM recs GROUP BY sink, shard_id""",
        "dropped_stats": sqlgen.chain_to_outcomes()
        + """
SELECT sink, drop_reason, count(*) AS dropped_spans
FROM outcomes WHERE outcome = 'dropped' GROUP BY sink, drop_reason""",
        "conservation": sqlgen.chain_to_outcomes()
        + """
SELECT sink, count(*) AS n_routed,
       CAST(sum(CASE WHEN outcome = 'accepted' THEN 1 ELSE 0 END) AS BIGINT) AS n_accepted,
       CAST(sum(CASE WHEN outcome = 'dropped' THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
FROM outcomes GROUP BY sink""",
        "sampler_counts": sqlgen.chain_to_transcripts()
        + """
SELECT role, count(*) AS n FROM transcripts
WHERE substr(md5(conv_id), 1, 1) IN ('0','1','2','3')
GROUP BY role""",
        "conv_stats": sqlgen.chain_to_transcripts()
        + """
SELECT conv_id, count(*) AS n_turns, count(DISTINCT role) AS n_roles,
       min(ts) AS min_ts, max(ts) AS max_ts
FROM transcripts GROUP BY conv_id""",
        "metrics_translate": signalfx_oracle_sql(),
        # sizes in UTF-8 bytes (strlen); an oversized text keeps its
        # longest character prefix whose bytes fit beside the marker
        # (a k-character prefix has at least k bytes, so k <= TRUNC_CAP)
        "doc_truncation": f"""
WITH m AS (
  SELECT doc_id, text,
         '[TRUNCATED reason=max_span_size size=' || CAST(strlen(text) AS VARCHAR) || '] ' AS marker,
         strlen(text) > {TRUNC_CAP} AS over_cap
  FROM documents
), t AS (
  SELECT doc_id, over_cap,
         CASE WHEN over_cap
              THEN marker || substr(text, 1, list_max(list_filter(
                     range(0, least(length(text), {TRUNC_CAP}) + 1),
                     k -> strlen(substr(text, 1, k)) <= {TRUNC_CAP} - strlen(marker)))::BIGINT)
              ELSE text END AS new_text
  FROM m
)
SELECT doc_id, over_cap AS truncated, strlen(new_text) AS new_len, new_text
FROM t""",
        "xl_span_stats": f"""
SELECT source, count(*) AS xl_spans, CAST(sum(strlen(text)) AS BIGINT) AS xl_size
FROM documents WHERE strlen(text) > {TRUNC_CAP}
GROUP BY source""",
        "retry_outcomes": _retry_chain_sql()
        + """
SELECT sink, conv_id, turn_idx, outcome, drop_reason, result_code, attempts
FROM retry""",
        "sent_stats": _retry_chain_sql()
        + """
SELECT sink, result_code, count(*) AS sent_spans,
       CAST(sum(strlen(text)) AS BIGINT) AS sent_bytes,
       CAST(sum(attempts) AS BIGINT) AS total_attempts
FROM retry GROUP BY sink, result_code""",
        "enqueued_stats": sqlgen.chain_to_outcomes()
        + """
SELECT sink, count(*) AS enqueued_spans,
       CAST(sum(CASE WHEN outcome = 'accepted' THEN 1 ELSE 0 END) AS BIGINT) AS dequeued_spans
FROM outcomes GROUP BY sink""",
        "backpressure_matrix": sqlgen.pipeline_with(
            sqlgen.TRANSCRIPTS_CTE, sqlgen.INVALID_CTE
        )
        + """
, rej AS (
  SELECT t.* FROM transcripts t JOIN invalid_convs i ON i.conv_id = t.conv_id
)
SELECT 'on' AS backpressure, 'refused' AS outcome, count(*) AS n FROM rej
UNION ALL
SELECT 'off', 'dropped', count(*) FROM rej""",
        "topk_users_by_value": """
WITH per_user AS (
  SELECT event_type, user_id,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
  FROM events GROUP BY event_type, user_id
), ranked AS (
  SELECT event_type, user_id, total_value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY total_value DESC, user_id ASC) AS rnk
  FROM per_user
)
SELECT event_type, user_id, total_value, rnk FROM ranked WHERE rnk <= 3""",
        "q1_pricing_summary": """
SELECT l_returnflag, l_linestatus,
  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
           * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
       AS DOUBLE) AS sum_disc_price,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus""",
        "q3_shipping_priority": """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
            AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-06-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1997-06-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10""",
        "q5_local_supplier_volume": """
SELECT n_name,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
            AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
GROUP BY n_name""",
        "q14_promo_revenue": """
SELECT date_trunc('month', l_shipdate) AS ship_month,
       CAST(sum(CASE WHEN p_type = 'PROMO'
                     THEN CAST(l_extendedprice AS DECIMAL(18,2))
                          * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                     ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS promo_revenue,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
            AS DOUBLE) AS total_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY date_trunc('month', l_shipdate)""",
        "top_customers": """
SELECT c_custkey, c_name,
  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent,
  count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY total_spent DESC, c_custkey ASC
LIMIT 10""",
        "rollup_orders": """
SELECT o_orderpriority, o_orderstatus, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY ROLLUP (o_orderpriority, o_orderstatus)""",
        "cube_orders": """
SELECT o_orderpriority, o_orderstatus, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY CUBE (o_orderpriority, o_orderstatus)""",
        "events_hourly_rollup": """
SELECT date_trunc('hour', ts) AS hour_start, event_type,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY date_trunc('hour', ts), event_type""",
        "pivot_status_by_priority": """
SELECT o_orderpriority,
       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
       CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
       CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
FROM orders GROUP BY o_orderpriority""",
        "distinct_users_per_type": """
SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
FROM events GROUP BY event_type""",
        "value_percentiles": """
SELECT event_type,
       quantile_cont(value, 0.5) AS p50,
       quantile_cont(value, 0.95) AS p95,
       min(value) AS vmin, max(value) AS vmax
FROM events GROUP BY event_type""",
    }
