"""Config-table fixtures: routes (pipeline fan-out) + service_dim (enrich).

These are the DataFrame re-expressions of the reference's YAML pipeline
config (receiver/opencensusreceiver/testdata/config.yaml:24-29 — a batch
entering pipeline P is delivered to every exporter of P) and of the
attributes/resource/k8s processors' lookup metadata
(cmd/omnitelsvc/components.go:89-95).

The constants here are the single source of truth, and _values_sql is
their one rendering: Spark reads it as a local table (local_table) and
functions/sqlgen.py hands it to the DuckDB oracle, so engine and oracle
can never skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# (pipeline_id, role_pattern, tool_pattern, sink); '*' matches anything,
# otherwise exact match. NULL role/tool matches only '*' (SQL equality
# semantics — mirrors the reference where unset attributes fail matchers).
# Overlapping routes are intentional: one turn may fan out to several
# sinks, like a receiver shared by several pipelines (config.yaml service
# blocks). 'traces/all' is the catch-all pipeline (FIXTURES.md §4).
ROUTES: list[tuple[str, str, str, str]] = [
    ("traces/all", "*", "*", "sink_all"),
    ("traces/tooling", "*", "search", "sink_tools"),
    ("traces/tooling", "*", "code", "sink_tools"),
    ("traces/tooling", "*", "browser", "sink_tools"),
    ("traces/agent", "assistant", "*", "sink_agent"),
    ("traces/errors", "tool", "*", "sink_errors"),
]

ROUTES_SCHEMA = "pipeline_id string, role_pattern string, tool_pattern string, sink string"

# (role, tool, service_name, resource_type). Unique on (role, tool);
# ('tool','browser') is deliberately ABSENT to exercise left-join null
# handling (FIXTURES.md §2).
SERVICE_DIM: list[tuple[str, str, str, str]] = [
    ("user", "none", "frontend", "host"),
    ("user", "search", "frontend", "host"),
    ("user", "code", "ide", "host"),
    ("user", "browser", "frontend", "host"),
    ("assistant", "none", "agent-core", "container"),
    ("assistant", "search", "agent-retrieval", "container"),
    ("assistant", "code", "agent-coder", "container"),
    ("assistant", "browser", "agent-browser", "container"),
    ("system", "none", "orchestrator", "k8s"),
    ("system", "search", "orchestrator", "k8s"),
    ("system", "code", "orchestrator", "k8s"),
    ("system", "browser", "orchestrator", "k8s"),
    ("tool", "none", "toolhost", "vm"),
    ("tool", "search", "toolhost-search", "vm"),
    ("tool", "code", "toolhost-code", "vm"),
    # ('tool', 'browser') intentionally missing
]

SERVICE_DIM_SCHEMA = "role string, tool string, service_name string, resource_type string"


def routes_df(spark: SparkSession) -> DataFrame:
    return local_table(spark, ROUTES, ROUTES_SCHEMA)


def service_dim_df(spark: SparkSession) -> DataFrame:
    return local_table(spark, SERVICE_DIM, SERVICE_DIM_SCHEMA)


def local_table(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """A small config table that plans as LocalTableScan: its rows travel
    inside the plan. createDataFrame(list) instead scans an ExistingRDD,
    and every broadcast of it re-runs a Python-RDD Spark job (0.1-0.4 s
    per table per query on 4 vCPUs). Columns are typed by `schema`; a column without
    NULLs is non-nullable. No rows → an empty table of that schema."""
    st = StructType.fromDDL(schema)
    cols = st.fieldNames()
    sql = _values_sql(rows or [(None,) * len(cols)], "t", cols, backslash_escapes=True)
    df = spark.sql(f"SELECT * FROM {sql}").to(st)
    return df if rows else df.where("false")


def _values_sql(
    rows: list[tuple], alias: str, cols: list[str], backslash_escapes: bool = False
) -> str:
    """ANSI `(VALUES ...) AS alias(cols)`. Spark's parser reads a backslash
    in a string literal as an escape, DuckDB's as itself:
    backslash_escapes=True renders for Spark."""

    def lit(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, str):
            if backslash_escapes:
                v = v.replace("\\", "\\\\")
            return "'" + v.replace("'", "''") + "'"
        return str(v)

    body = ", ".join("(" + ", ".join(lit(v) for v in r) + ")" for r in rows)
    return f"(VALUES {body}) AS {alias}({', '.join(cols)})"


def routes_values_sql(alias: str = "routes") -> str:
    """ANSI VALUES rendering of ROUTES for oracle SQL."""
    return _values_sql(ROUTES, alias, ["pipeline_id", "role_pattern", "tool_pattern", "sink"])


def service_dim_values_sql(alias: str = "service_dim") -> str:
    return _values_sql(SERVICE_DIM, alias, ["role", "tool", "service_name", "resource_type"])


def shards_values_sql(shards: list[dict], alias: str = "shards") -> str:
    rows = [(s["shard_id"], s["start_key"], s["end_key"]) for s in shards]
    return _values_sql(rows, alias, ["shard_id", "start_key", "end_key"])
