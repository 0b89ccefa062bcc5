"""ANSI-SQL oracle generation — DuckDB twins of the Spark operators.

The driver's correctness gate runs each __spark_entry__.queries() entry on
Spark AND its oracle_sql() twin on DuckDB over the same parquet tables,
then compares row counts + schemas + order-insensitive value hashes.

This module is the single source of truth for the shared semantics:
  - the deterministic events → transcripts derivation (must stay in
    lockstep with sources/transcripts.derive_transcripts);
  - the pipeline CTE chain (validate → forward-fill → route → outcome →
    shard → pack) re-expressed in portable ANSI SQL (runs on DuckDB; the
    Spark side executes the DataFrame operators, NOT this SQL — so the
    comparison is a genuine two-implementation cross-check).

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

from ..sources.fixtures import (
    routes_values_sql,
    service_dim_values_sql,
    shards_values_sql,
)

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
         r.pipeline_id, r.sink
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

# a send no shard owns (a gap in the config) is dropped; an earlier drop
# keeps its own reason (lockstep with operators.route.drop_unowned)
SHARDED_CTE = """
sharded AS (
  SELECT o.* REPLACE (
           CASE WHEN s.shard_id IS NULL THEN 'dropped' ELSE o.outcome END AS outcome,
           CASE WHEN s.shard_id IS NULL AND o.outcome = 'accepted'
                THEN 'FatalEncodingError' ELSE o.drop_reason END AS drop_reason),
         s.shard_id
  FROM outcomes o
  LEFT JOIN {shards}
    ON md5(o.conv_id) >= s.start_key AND md5(o.conv_id) <= s.end_key
)"""

PACKED_CTE = """
packed AS (
  SELECT sharded.*,
    CAST(floor(COALESCE(SUM(strlen(text)) OVER (
        PARTITION BY sink, shard_id ORDER BY conv_id, turn_idx
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / {max_record_size}.0)
      AS BIGINT) AS batch_no
  FROM sharded
  WHERE outcome = 'accepted'
)"""


def pipeline_with(
    *ctes: str, routes_alias: bool = False, shards: list[dict] | None = None,
    max_record_size: int = 100_000,
) -> str:
    """Assemble a WITH clause from the named CTE chain."""
    parts = []
    for c in ctes:
        c = c.strip()
        if "{routes}" in c:
            c = c.format(routes=routes_values_sql("r"))
        if "{shards}" in c:
            c = c.format(shards=shards_values_sql(shards or [], "s"))
        if "{max_record_size}" in c:
            c = c.format(max_record_size=max_record_size)
        parts.append(c)
    return "WITH " + ",\n".join(parts)


# convenience: the full chain up to a given stage
def chain_to_transcripts() -> str:
    return pipeline_with(TRANSCRIPTS_CTE)


def chain_to_valid() -> str:
    return pipeline_with(TRANSCRIPTS_CTE, INVALID_CTE, FILLED_CTE, VALID_CTE)


def chain_to_outcomes() -> str:
    return pipeline_with(
        TRANSCRIPTS_CTE, INVALID_CTE, FILLED_CTE, VALID_CTE, ROUTED_CTE, OUTCOME_CTE
    )


def chain_to_packed(shards: list[dict], max_record_size: int = 100_000) -> str:
    return pipeline_with(
        TRANSCRIPTS_CTE, INVALID_CTE, FILLED_CTE, VALID_CTE, ROUTED_CTE, OUTCOME_CTE,
        SHARDED_CTE, PACKED_CTE, shards=shards, max_record_size=max_record_size,
    )


__all__ = [
    "TRANSCRIPTS_CTE",
    "INVALID_CTE",
    "FILLED_CTE",
    "VALID_CTE",
    "ROUTED_CTE",
    "OUTCOME_CTE",
    "SHARDED_CTE",
    "PACKED_CTE",
    "pipeline_with",
    "chain_to_transcripts",
    "chain_to_valid",
    "chain_to_outcomes",
    "chain_to_packed",
    "routes_values_sql",
    "service_dim_values_sql",
    "shards_values_sql",
]
