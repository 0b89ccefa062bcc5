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
from apm_opentelemetry_collector_spark.operators.pack import record_stats
from apm_opentelemetry_collector_spark.operators.sample import sample_conversations
from apm_opentelemetry_collector_spark.operators.translate import (
    memorymonitor_scrape,
    signalfx_oracle_sql,
    to_signalfx,
)
from apm_opentelemetry_collector_spark.operators.validate import split_valid
from apm_opentelemetry_collector_spark.plans.pipeline import run_pipeline
from apm_opentelemetry_collector_spark.sources import fixtures
from apm_opentelemetry_collector_spark.sources.transcripts import derive_transcripts

CFG = PipelineConfig()
SHARDS = sharding.even_shards(CFG.n_shards)


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from apm_opentelemetry_collector_spark.session import read_input_table

    return read_input_table(spark, f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------- pipeline
def _routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The job's sink table: run_pipeline's routed rows (every send with
    its outcome, shard and batch_no)."""
    return run_pipeline(spark, derive_transcripts(spark, sf_dir), CFG).routed


def _accepted(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _routed(spark, sf_dir).filter(F.col("outcome") == "accepted")


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
    return _routed(spark, sf_dir).select(
        "sink", "pipeline_id", "conv_id", "turn_idx"
    )


def q_shard_assign(spark, sf_dir):
    convs = derive_transcripts(spark, sf_dir).select("conv_id").distinct()
    return sharding.assign_shard(convs, SHARDS, "conv_id").select(
        "conv_id", "shard_id"
    )


def q_send_outcomes(spark, sf_dir):
    return _routed(spark, sf_dir).select(
        "sink", "conv_id", "turn_idx", "outcome", "drop_reason"
    )


def q_sink_outcome_counts(spark, sf_dir):
    return sink_outcome_counts(_routed(spark, sf_dir), CFG, salted=True)


def q_receiver_counts(spark, sf_dir):
    tr = derive_transcripts(spark, sf_dir)
    valid, rejected = split_valid(tr, backpressure_on=True)
    from apm_opentelemetry_collector_spark.operators.aggregate import receiver_counts

    return receiver_counts(valid, rejected)


def q_record_packing(spark, sf_dir):
    return record_stats(_accepted(spark, sf_dir))


def q_flushed_stats(spark, sf_dir):
    return flushed_stats(q_record_packing(spark, sf_dir))


def q_dropped_stats(spark, sf_dir):
    return dropped_stats(_routed(spark, sf_dir))


def q_conservation(spark, sf_dir):
    return _routed(spark, sf_dir).groupBy("sink").agg(
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

    out = with_retry_outcome(_routed(spark, sf_dir), CFG, retry_queue_size=RETRY_CAP)
    return out.select(
        "sink", "conv_id", "turn_idx", "outcome", "drop_reason", "result_code", "attempts"
    )


def q_sent_stats(spark, sf_dir):
    """A6: omnishard_sent_spans/_bytes per (sink, result_code)
    (telemetry.go:164-190); a row dropped before the send has no
    result_code and is not counted."""
    from apm_opentelemetry_collector_spark.operators.route import with_retry_outcome

    out = with_retry_outcome(_routed(spark, sf_dir), CFG, retry_queue_size=RETRY_CAP)
    sent = out.filter(F.col("result_code").isNotNull())
    return sent.groupBy("sink", "result_code").agg(
        F.count("*").alias("sent_spans"),
        F.sum(F.octet_length("text")).alias("sent_bytes"),
        F.sum("attempts").alias("total_attempts"),
    )


def q_enqueued_stats(spark, sf_dir):
    """A3: enqueued vs dequeued spans per sink (telemetry.go:96-126):
    enqueued = all routed rows, dequeued = rows surviving the send."""
    return _routed(spark, sf_dir).groupBy("sink").agg(
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


def q_record_encode_stats(spark, sf_dir):
    """P5/P6 + A4 (rows-only check: gzip bytes are not SQL-expressible):
    encoded sink records with compress factors. The byte format itself is
    covered by the decode-exactly-once pytest oracle (tests/test_encode)."""
    from apm_opentelemetry_collector_spark.operators.encode import encode_records

    recs = encode_records(_accepted(spark, sf_dir))
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
    }


# ------------------------------------------------------------- oracle SQL
def _retry_chain_sql() -> str:
    """The job's chain + deterministic retry-queue CTEs (mirrors
    operators.route.with_retry_outcome on run_pipeline's routed rows)."""
    return (
        sqlgen.run_pipeline_sql(CFG)
        + f"""
, sig AS (
  SELECT packed.*,
         substr(md5(conv_id || ':' || CAST(turn_idx AS VARCHAR) || ':' || sink), 1, 2) = 'fe'
           AND outcome = 'accepted' AS slot,
         outcome <> 'accepted' AND drop_reason <> 'SendErrNotRetryable' AS not_sent
  FROM packed
), seq AS (
  SELECT sig.*,
         sum(CASE WHEN slot THEN 1 ELSE 0 END)
           OVER (PARTITION BY sink ORDER BY conv_id, turn_idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS retry_seq
  FROM sig
), retry AS (
  SELECT seq.* REPLACE (
    CASE WHEN slot AND retry_seq > {RETRY_CAP} THEN 'dropped' ELSE outcome END AS outcome,
    CASE WHEN slot AND retry_seq > {RETRY_CAP} THEN 'RetryQueueFull'
         ELSE drop_reason END AS drop_reason),
    CASE WHEN not_sent THEN NULL
         WHEN outcome <> 'accepted' THEN 'FAILED_NOT_RETRYABLE'
         WHEN slot THEN 'FAILED_RETRYABLE'
         ELSE 'SUCCESS' END AS result_code,
    CASE WHEN not_sent THEN 0 WHEN slot AND retry_seq <= {RETRY_CAP} THEN 2 ELSE 1 END AS attempts
  FROM seq
)"""
    )


def oracle_sql() -> dict[str, str]:
    dim = fixtures.service_dim_values_sql("d")
    shards_sql = fixtures.shards_values_sql(SHARDS, "s")
    chain = sqlgen.run_pipeline_sql(CFG)

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
        "route_fanout": chain
        + "\nSELECT sink, pipeline_id, conv_id, turn_idx FROM packed",
        "shard_assign": f"""
WITH convs AS (
  SELECT DISTINCT 'conv-' || lpad(CAST(user_id AS VARCHAR), 8, '0') AS conv_id
  FROM events
)
SELECT c.conv_id, s.shard_id
FROM convs c
LEFT JOIN {shards_sql}
  ON md5(c.conv_id) >= s.start_key AND md5(c.conv_id) <= s.end_key""",
        "send_outcomes": chain
        + "\nSELECT sink, conv_id, turn_idx, outcome, drop_reason FROM packed",
        "sink_outcome_counts": chain
        + f"""
SELECT sink, CAST(substr(conv_id, 6) AS BIGINT) % {CFG.n_conv_buckets} AS conv_bucket,
       role, tool, outcome, count(*) AS n
FROM packed GROUP BY ALL""",
        "receiver_counts": chain
        + """
SELECT 'transcripts' AS receiver, 'received' AS status, count(*) AS n FROM valid
UNION ALL
SELECT 'transcripts', 'refused', count(*)
FROM transcripts t JOIN invalid_convs i ON i.conv_id = t.conv_id""",
        "record_packing": chain
        + """
SELECT sink, shard_id, batch_no,
       count(*) AS span_count,
       CAST(sum(strlen(text)) AS BIGINT) AS uncompressed_bytes,
       min(conv_id) AS partition_key
FROM packed WHERE outcome = 'accepted' GROUP BY sink, shard_id, batch_no""",
        "flushed_stats": chain
        + """
, recs AS (
  SELECT sink, shard_id, batch_no, count(*) AS span_count,
         sum(strlen(text)) AS uncompressed_bytes
  FROM packed WHERE outcome = 'accepted' GROUP BY sink, shard_id, batch_no
)
SELECT sink, shard_id, CAST(sum(span_count) AS BIGINT) AS flushed_spans,
       count(*) AS flushed_batches,
       CAST(sum(uncompressed_bytes) AS BIGINT) AS flushed_bytes
FROM recs GROUP BY sink, shard_id""",
        "dropped_stats": chain
        + """
SELECT sink, drop_reason, count(*) AS dropped_spans
FROM packed WHERE outcome = 'dropped' GROUP BY sink, drop_reason""",
        "conservation": chain
        + """
SELECT sink, count(*) AS n_routed,
       CAST(sum(CASE WHEN outcome = 'accepted' THEN 1 ELSE 0 END) AS BIGINT) AS n_accepted,
       CAST(sum(CASE WHEN outcome = 'dropped' THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
FROM packed GROUP BY sink""",
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
FROM retry WHERE result_code IS NOT NULL GROUP BY sink, result_code""",
        "enqueued_stats": chain
        + """
SELECT sink, count(*) AS enqueued_spans,
       CAST(sum(CASE WHEN outcome = 'accepted' THEN 1 ELSE 0 END) AS BIGINT) AS dequeued_spans
FROM packed GROUP BY sink""",
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
    }
