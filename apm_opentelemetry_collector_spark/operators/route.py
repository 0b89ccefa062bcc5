"""Routing — pipeline fan-out + deterministic send outcomes.

Reference semantics:
  - J6 pipeline fan-out: a batch entering pipeline P is delivered to every
    exporter of P; several pipelines can share a receiver, so one span can
    reach several sinks (service.pipelines YAML,
    receiver/opencensusreceiver/testdata/config.yaml:24-29).
  - T6/A5/A6 send outcomes: each record send ends SUCCESS /
    FAILED_NOT_RETRYABLE (drop) / FAILED_RETRYABLE (retry)
    (exporter/omnishard/exporter.go:240-290). In the deterministic batch
    engine, transient retryable failures are invisible (retries converge);
    the observable taxonomy is accepted vs dropped, keyed per (row, sink).

Spark-first: fan-out is an inner theta-join of turns against the tiny
broadcast routes table on ('*' OR exact)-match predicates — one
BroadcastNestedLoopJoin, no shuffle of the fact side, output multiplicity
= number of matching pipelines. The deterministic drop rule hashes
(conv_id, turn_idx, sink) so the same row can succeed on one sink and
drop on another, like independent per-exporter sends.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark.sql import Window

from ..config import (
    DROP_FATAL_ENCODING,
    DROP_RETRY_QUEUE_FULL,
    DROP_SEND_NOT_RETRYABLE,
    OUTCOME_ACCEPTED,
    OUTCOME_DROPPED,
    RESULT_FAILED_NOT_RETRYABLE,
    RESULT_FAILED_RETRYABLE,
    RESULT_SUCCESS,
    RETRY_MD5_PREFIX,
    RETRY_QUEUE_SIZE,
    PipelineConfig,
)


def fan_out(turns: DataFrame, routes: DataFrame) -> DataFrame:
    """turns × matching routes (inner join; may multiply rows).

    NULL role/tool matches only '*' patterns (SQL equality semantics) —
    unset attributes never satisfy exact matchers, as in the reference's
    attribute matching.
    """
    cond = (
        (F.col("role_pattern") == "*") | (F.col("role_pattern") == F.col("role"))
    ) & ((F.col("tool_pattern") == "*") | (F.col("tool_pattern") == F.col("tool")))
    return turns.join(F.broadcast(routes), cond, "inner")


def passthrough(df: DataFrame, replaced: tuple[str, ...]) -> list[str]:
    """df's columns minus `replaced`, backtick-quoted for selectExpr (a
    reserved word or a dotted name then reads as one column)."""
    return ["`" + c.replace("`", "``") + "`" for c in df.columns if c not in replaced]


def outcome_exprs(
    df: DataFrame, is_drop: str, reason: str, otherwise: str
) -> tuple[str, str]:
    """selectExpr items (outcome, drop_reason) for one stage's drop rule.

    Rows where the SQL predicate `is_drop` holds are dropped with `reason`;
    the rest get the SQL value `otherwise`. When df already carries
    outcome/drop_reason, a row that arrives with an outcome other than
    accepted (an earlier stage's drop) keeps both.
    """
    outcome = f"CASE WHEN {is_drop} THEN '{OUTCOME_DROPPED}' ELSE {otherwise} END"
    why = f"CASE WHEN {is_drop} THEN '{reason}' ELSE CAST(NULL AS STRING) END"
    if {"outcome", "drop_reason"} <= set(df.columns):
        prior = f"(`outcome` <> '{OUTCOME_ACCEPTED}')"
        outcome = f"CASE WHEN {prior} THEN `outcome` ELSE {outcome} END"
        why = f"CASE WHEN {prior} THEN `drop_reason` ELSE {why} END"
    return f"{outcome} AS outcome", f"{why} AS drop_reason"


# md5 hex of a send's identity (conv_id:turn_idx:sink): its prefix
# decides the send's deterministic result
SEND_SIG = (
    "md5(CAST(concat(conv_id, ':', CAST(turn_idx AS STRING), ':', sink) AS BINARY))"
)


def with_send_outcome(routed: DataFrame, cfg: PipelineConfig | None = None) -> DataFrame:
    """Deterministic per-(row, sink) send outcome + drop reason.

    outcome = dropped iff md5(conv_id:turn_idx:sink) starts with
    cfg.drop_md5_prefix (~0.39% at the default 'ff') — the batch-engine
    stand-in for FAILED_NOT_RETRYABLE sends (exporter.go:252-255), chosen
    so a pure-SQL oracle reproduces it exactly. A row already dropped
    upstream (e.g. a fatal truncation) keeps its outcome and reason.
    """
    cfg = cfg or PipelineConfig()
    # one selectExpr instead of two withColumns (r7 construction-cost
    # pass; run_pipeline builds this per job submission)
    pfx = cfg.drop_md5_prefix
    is_drop = f"(substring({SEND_SIG}, 1, {len(pfx)}) = '{pfx}')"
    return routed.selectExpr(
        *passthrough(routed, ("outcome", "drop_reason")),
        *outcome_exprs(
            routed, is_drop, DROP_SEND_NOT_RETRYABLE, f"'{OUTCOME_ACCEPTED}'"
        ),
    )


def drop_unowned(sharded: DataFrame) -> DataFrame:
    """A send that no shard owns ends dropped(FatalEncodingError).

    A valid sharding config may leave gaps in the hash space; a row whose
    hash key falls in one gets shard_id NULL from assign_shard, and the
    reference drops it ('no shard found', encoder.go:451-464). An earlier
    drop keeps its own reason. Column order is kept.
    """
    outcome, drop_reason = outcome_exprs(
        sharded, "(shard_id IS NULL)", DROP_FATAL_ENCODING, "`outcome`"
    )
    new = {"outcome": outcome, "drop_reason": drop_reason}
    return sharded.selectExpr(
        *(new.get(c, q) for c, q in zip(sharded.columns, passthrough(sharded, ())))
    )


def with_retry_outcome(
    routed: DataFrame,
    cfg: PipelineConfig | None = None,
    retry_queue_size: int = RETRY_QUEUE_SIZE,
) -> DataFrame:
    """Retry-queue semantics (T6/O3) as deterministic columns.

    Reference: FAILED_RETRYABLE sends go to a bounded retry queue
    (capacity 10,000; exporter.go:31-33) and are re-sent until success
    (exporter.go:194-235); when the queue is full the batch is dropped
    with RetryQueueFull (exporter.go:213-221; drop code
    datadropcode.go:22).

    Batch re-expression: the send outcome of with_send_outcome first; a
    send still accepted is RETRYABLE iff md5(conv:turn:sink) starts with
    RETRY_MD5_PREFIX (disjoint from the non-retryable cfg.drop_md5_prefix
    rule) and takes a queue slot. Retryable sends ultimately succeed —
    attempts = 2 — except those beyond the queue capacity per sink in the
    deterministic (conv_id, turn_idx) order, which become
    dropped(RetryQueueFull). A row dropped before the send (any drop but
    the send's own, e.g. a fatal truncation) keeps its outcome and
    reason, with result_code NULL and attempts 0.

    Output columns: outcome, drop_reason, result_code, attempts.
    """
    sent = with_send_outcome(routed, cfg)
    is_retry = f"(substring({SEND_SIG}, 1, {len(RETRY_MD5_PREFIX)}) = '{RETRY_MD5_PREFIX}')"
    w = (
        Window.partitionBy("sink")
        .orderBy("conv_id", "turn_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    queued = sent.withColumn(
        "_slot", F.expr(f"{is_retry} AND `outcome` = '{OUTCOME_ACCEPTED}'")
    ).withColumn("_retry_seq", F.sum(F.col("_slot").cast("int")).over(w))
    overflow = f"(_slot AND _retry_seq > {int(retry_queue_size)})"
    not_sent = (
        f"(`outcome` <> '{OUTCOME_ACCEPTED}' "
        f"AND `drop_reason` <> '{DROP_SEND_NOT_RETRYABLE}')"
    )
    return queued.selectExpr(
        *passthrough(sent, ("outcome", "drop_reason")),
        *outcome_exprs(sent, overflow, DROP_RETRY_QUEUE_FULL, "`outcome`"),
        f"CASE WHEN {not_sent} THEN CAST(NULL AS STRING) "
        f"WHEN `outcome` <> '{OUTCOME_ACCEPTED}' THEN '{RESULT_FAILED_NOT_RETRYABLE}' "
        f"WHEN _slot THEN '{RESULT_FAILED_RETRYABLE}' "
        f"ELSE '{RESULT_SUCCESS}' END AS result_code",
        f"CAST(CASE WHEN {not_sent} THEN 0 WHEN _slot AND NOT {overflow} THEN 2 "
        "ELSE 1 END AS INT) AS attempts",
    )
