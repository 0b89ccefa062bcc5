"""ANSI-SQL oracle generation — DuckDB twins of the Spark operators.

The driver's correctness gate runs each __spark_entry__.queries() entry on
Spark AND its oracle_sql() twin on DuckDB over the same parquet tables,
then compares row counts + schemas + order-insensitive value hashes.

This module is the single source of truth for the shared semantics:
  - the deterministic events → transcripts derivation (must stay in
    lockstep with sources/transcripts.derive_transcripts);
  - run_pipeline's whole chain (validate → forward-fill → route →
    outcome → truncate → enrich → shard → pack; run_pipeline_sql)
    re-expressed in portable ANSI SQL (runs on DuckDB; the Spark side
    executes the DataFrame operators, NOT this SQL — so the comparison
    is a genuine two-implementation cross-check). Truncate and enrich
    are row-wise and read neither the sink nor the send outcome, so they
    commute with fan-out: the twin runs them after the send outcome,
    where a fatal truncation overrides a send drop, as the Spark
    chain's earlier truncation keeps its drop (route.outcome_exprs).

Portability notes (probed against DuckDB 1.0 / Spark 4.1):
  - regexp_extract returns '' on no-match in both → wrap with NULLIF;
  - byte sizes use strlen(), which counts UTF-8 bytes of a VARCHAR
    like Spark's octet_length (DuckDB's octet_length takes BLOBs only;
    its length() counts characters);
  - md5(varchar) → identical lowercase hex in both;
  - lexicographic compare of fixed-width lowercase hex == unsigned
    128-bit compare (the sharding invariant).
"""

from __future__ import annotations

from ..config import PipelineConfig
from ..operators.truncate import TRUNC_MARKER
from ..sources.fixtures import (
    routes_values_sql,
    service_dim_values_sql,
    shards_values_sql,
)
from .sharding import even_shards

# --- events → transcripts derivation (lockstep with derive_transcripts) ---
BASE_TOOL_SQL = (
    "(CASE event_id % 4 WHEN 0 THEN 'none' WHEN 1 THEN 'search' "
    "WHEN 2 THEN 'code' ELSE 'browser' END)"
)

TRANSCRIPTS_CTE = f"""
transcripts AS (
  SELECT
    'conv-' || lpad(CAST(user_id AS VARCHAR), 8, '0') AS conv_id,
    CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS INTEGER) AS turn_idx,
    CASE WHEN event_id % 97 = 0 THEN NULL
         WHEN event_type = 'error' THEN 'tool'
         WHEN event_type = 'signup' THEN 'system'
         WHEN event_type = 'purchase' THEN 'assistant'
         ELSE 'user' END AS role,
    '[' || (CASE WHEN event_type = 'error' THEN 'ERROR'
                 WHEN value > 100.0 THEN 'WARN' ELSE 'INFO' END) || '] '
        || event_type || ' '
        || (CASE WHEN event_id % 5 = 0
                 THEN 'tool_call(name=' || {BASE_TOOL_SQL} || ', arg=a'
                      || CAST(event_id % 7 AS VARCHAR) || ') '
                 ELSE '' END)
        || 'value=' || CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR)
        || ' k=' || CAST(event_id % 13 AS VARCHAR) AS text,
    CASE WHEN event_id % 11 = 0 THEN NULL ELSE {BASE_TOOL_SQL} END AS tool,
    ts
  FROM events
)"""

# conversations whose first turn (turn_idx = 0 by construction) lacks role
INVALID_CTE = """
invalid_convs AS (
  SELECT DISTINCT conv_id FROM transcripts WHERE turn_idx = 0 AND role IS NULL
)"""

FILLED_CTE = """
filled AS (
  SELECT conv_id, turn_idx,
    last_value(role IGNORE NULLS) OVER w AS role,
    text,
    last_value(tool IGNORE NULLS) OVER w AS tool,
    ts
  FROM transcripts
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)"""

VALID_CTE = """
valid AS (
  SELECT f.* FROM filled f
  WHERE NOT EXISTS (SELECT 1 FROM invalid_convs i WHERE i.conv_id = f.conv_id)
)"""

ROUTED_CTE = """
routed AS (
  SELECT v.conv_id, v.turn_idx, v.role, v.tool, v.text, v.ts,
         r.pipeline_id, r.role_pattern, r.tool_pattern, r.sink
  FROM valid v
  JOIN {routes}
    ON (r.role_pattern = '*' OR r.role_pattern = v.role)
   AND (r.tool_pattern = '*' OR r.tool_pattern = v.tool)
)"""

OUTCOME_CTE = """
outcomes AS (
  SELECT routed.*,
    CASE WHEN substr(md5(conv_id || ':' || CAST(turn_idx AS VARCHAR) || ':' || sink), 1, 2) = 'ff'
         THEN 'dropped' ELSE 'accepted' END AS outcome,
    CASE WHEN substr(md5(conv_id || ':' || CAST(turn_idx AS VARCHAR) || ':' || sink), 1, 2) = 'ff'
         THEN 'SendErrNotRetryable' END AS drop_reason
  FROM routed
)"""

# XL truncation (lockstep with operators.truncate.truncate_oversize):
# sizes in UTF-8 bytes (strlen); an oversized text becomes the marker plus
# its longest character prefix of at most `keep` bytes; keep < 0 (the
# marker alone is over the cap) is a fatal drop, which beats a send drop.
# The prefix is cut on the hex of the text's bytes (`hx`, two digits a
# byte; DuckDB cannot slice a BLOB), backing off at most 3 bytes while the
# first byte dropped is a continuation byte (hex 8-B): linear in the span.
_CONT = "substr(hx, 2 * ({}) - 1, 1) IN ('8', '9', 'A', 'B')"
_CUT = (
    f"CASE WHEN NOT {_CONT.format('keep + 1')} THEN keep "
    f"WHEN NOT {_CONT.format('keep')} THEN keep - 1 "
    f"WHEN NOT {_CONT.format('keep - 1')} THEN keep - 2 ELSE keep - 3 END"
)
TRUNCATED_CTE = f"""
truncated AS (
  SELECT * EXCLUDE (over_cap, keep, hx) REPLACE (
           CASE WHEN over_cap AND keep >= 0
                THEN '{TRUNC_MARKER}' || CAST(strlen(text) AS VARCHAR) || '] '
                     || decode(unhex(substr(hx, 1, 2 * ({_CUT}))))
                ELSE text END AS text,
           CASE WHEN over_cap AND keep < 0 THEN 'dropped' ELSE outcome END AS outcome,
           CASE WHEN over_cap AND keep < 0 THEN 'FatalEncodingError'
                ELSE drop_reason END AS drop_reason),
         over_cap AND keep >= 0 AS truncated
  FROM (
    SELECT outcomes.*, strlen(text) > {{max_span_size}} AS over_cap,
           {{max_span_size}} - {len(TRUNC_MARKER) + 2}
             - length(CAST(strlen(text) AS VARCHAR)) AS keep,
           CASE WHEN strlen(text) > {{max_span_size}} THEN hex(encode(text)) END AS hx
    FROM outcomes
  )
)"""

ENRICHED_CTE = """
enriched AS (
  SELECT t.*,
         COALESCE(d.service_name, 'unknown') AS service_name,
         COALESCE(d.resource_type, 'unknown') AS resource_type
  FROM truncated t
  LEFT JOIN {service_dim} ON d.role = t.role AND d.tool = t.tool
)"""

# a send no shard owns (a gap in the config) is dropped; an earlier drop
# keeps its own reason (lockstep with operators.route.drop_unowned)
SHARDED_CTE = """
sharded AS (
  SELECT e.* REPLACE (
           CASE WHEN s.shard_id IS NULL THEN 'dropped' ELSE e.outcome END AS outcome,
           CASE WHEN s.shard_id IS NULL AND e.outcome = 'accepted'
                THEN 'FatalEncodingError' ELSE e.drop_reason END AS drop_reason),
         s.shard_id
  FROM enriched e
  LEFT JOIN {shards}
    ON md5(e.conv_id) >= s.start_key AND md5(e.conv_id) <= s.end_key
)"""

# every routed row; batch_no only for accepted sends, whose bytes alone
# fill the records (the gated cumsum of operators.pack.assign_batches)
PACKED_CTE = """
packed AS (
  SELECT sharded.*,
    CASE WHEN outcome = 'accepted' THEN CAST(floor(COALESCE(SUM(
        CASE WHEN outcome = 'accepted' THEN strlen(text) ELSE 0 END) OVER (
        PARTITION BY sink, shard_id ORDER BY conv_id, turn_idx
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / {max_record_size}.0)
      AS BIGINT) END AS batch_no
  FROM sharded
)"""


def pipeline_with(
    *ctes: str, shards: list[dict] | None = None,
    max_record_size: int = 100_000, max_span_size: int = 900_000,
) -> str:
    """Assemble a WITH clause from the named CTE chain."""
    parts = []
    for c in ctes:
        c = c.strip()
        if "{routes}" in c:
            c = c.format(routes=routes_values_sql("r"))
        if "{service_dim}" in c:
            c = c.format(service_dim=service_dim_values_sql("d"))
        if "{shards}" in c:
            c = c.format(shards=shards_values_sql(shards or [], "s"))
        if "{max_record_size}" in c:
            c = c.format(max_record_size=max_record_size)
        if "{max_span_size}" in c:
            c = c.format(max_span_size=max_span_size)
        parts.append(c)
    return "WITH " + ",\n".join(parts)


def chain_to_transcripts() -> str:
    return pipeline_with(TRANSCRIPTS_CTE)


def run_pipeline_sql(cfg: PipelineConfig | None = None, derive: bool = True) -> str:
    """WITH clause twinning plans.pipeline.run_pipeline(spark, tr, cfg)
    with the default routes and shards: CTE `packed` is its `routed`
    (every column but the job's conv_bucket), `transcripts` joined to
    `invalid_convs` its `rejected`, and each stage's CTE the rows that
    stage passes on. derive=False reads a `transcripts` table instead of
    deriving it from `events`. OUTCOME_CTE's send rule is the default
    drop_md5_prefix."""
    cfg = cfg or PipelineConfig()
    if cfg.drop_md5_prefix != "ff":
        raise ValueError("the twin's send rule is drop_md5_prefix='ff'")
    chain = (
        INVALID_CTE, FILLED_CTE, VALID_CTE, ROUTED_CTE, OUTCOME_CTE,
        TRUNCATED_CTE, ENRICHED_CTE, SHARDED_CTE, PACKED_CTE,
    )
    return pipeline_with(
        *((TRANSCRIPTS_CTE,) if derive else ()) + chain,
        shards=even_shards(cfg.n_shards),
        max_record_size=cfg.max_record_size,
        max_span_size=cfg.max_span_size,
    )


__all__ = [
    "TRANSCRIPTS_CTE",
    "INVALID_CTE",
    "FILLED_CTE",
    "VALID_CTE",
    "ROUTED_CTE",
    "OUTCOME_CTE",
    "TRUNCATED_CTE",
    "ENRICHED_CTE",
    "SHARDED_CTE",
    "PACKED_CTE",
    "pipeline_with",
    "chain_to_transcripts",
    "run_pipeline_sql",
    "routes_values_sql",
    "service_dim_values_sql",
    "shards_values_sql",
]
