"""SQL API surface — temp views over the testdata tables + pipeline.

The engine is declared with the DataFrame API, which means every
operator is equally reachable from `spark.sql(...)`: register_views
exposes the raw tables, the derived transcripts, and the routed
pipeline output as temp views so an analyst can drive the whole thing
from SQL (the north_star names "DataFrame / SQL" as the query surface).
Views are lazy — registering costs nothing until a query runs, and
Catalyst optimizes SQL and DataFrame plans identically.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents"
).split()


def register_views(
    spark: SparkSession, sf_dir: str, include_pipeline: bool = True
) -> list[str]:
    """Register temp views: the nine parquet tables, `transcripts`
    (frozen events→transcripts derivation), and — when
    include_pipeline — `routed` (enrich→route→outcome→shard→pack output).
    Returns the view names registered."""
    from ..config import PipelineConfig
    from ..plans.pipeline import run_pipeline
    from .transcripts import derive_transcripts

    from ..operators.tdigest import register_digest_sql

    names = []
    from ..session import read_input_table

    for t in TABLES:
        read_input_table(spark, f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)
        names.append(t)
    tr = derive_transcripts(spark, sf_dir)
    tr.createOrReplaceTempView("transcripts")
    names.append("transcripts")
    if include_pipeline:
        res = run_pipeline(spark, tr, PipelineConfig())
        res.routed.createOrReplaceTempView("routed")
        res.rejected.createOrReplaceTempView("rejected")
        names += ["routed", "rejected"]
    # digest aggregates: approximate quantiles composable from pure SQL
    names += register_digest_sql(spark)
    return names


def tdigest_quantiles_sql(
    table: str,
    value_col: str,
    group_cols: tuple[str, ...] | list[str] = (),
    qs: tuple[float, ...] = (0.5, 0.95),
    n_salt: int = 32,
    salt_expr: str | None = None,
) -> str:
    """Generate the SAFE two-level salted form of a SQL digest-quantile
    query, so the scalable idiom is the easy form (r4 VERDICT #3).

    The naive `tdigest_quantile(tdigest_agg(v))  GROUP BY g` ships every
    raw value of a group to ONE aggregator — Spark grouped-agg pandas
    UDFs do no partial aggregation, so a 100-TB group is an OOM trap.
    The generated query bounds each aggregator instead: the inner level
    builds one digest per (group, salt) over ~1/n_salt of the rows; the
    outer level merges n_salt O(delta)-sized digests per group; the
    final select evaluates every requested quantile against the merged
    digest (one row per group × q, columns [*group_cols, q, est]).

    Requires register_views/register_digest_sql to have registered the
    aggregates. n_salt sizes the inner fan-out — the per-aggregator
    input is |group| / n_salt rows. The default salt is ROW-unique
    (monotonically_increasing_id), so the bound holds regardless of the
    value distribution — hashing the VALUE itself would collapse
    low-cardinality or skewed columns (status codes, quantized
    latencies) back onto a handful of aggregators, the exact trap this
    generator exists to close. Pass salt_expr (e.g. a deterministic
    hash of a unique key column) when the digest composition must be
    bit-reproducible across runs — mono ids are partition-dependent, so
    the default trades run-to-run bit-stability (within the sketch's
    rank tolerance) for an unconditional memory bound.
    """
    if not (qs and all(0.0 <= float(q) <= 1.0 for q in qs)):
        raise ValueError("qs must be non-empty quantiles in [0, 1]")
    gsel = "".join(f"{g}, " for g in group_cols)
    salt = salt_expr or f"pmod(monotonically_increasing_id(), {int(n_salt)})"
    inner_by = ", ".join([*group_cols, salt])
    outer_by = f"GROUP BY {', '.join(group_cols)}" if group_cols else ""
    qs_rows = ", ".join(f"({float(q)})" for q in qs)
    order_by = ", ".join([*group_cols, "q"])
    return f"""\
SELECT {gsel}CAST(q AS DOUBLE) AS q, tdigest_quantile(d, CAST(q AS DOUBLE)) AS est
FROM (
  SELECT {gsel}tdigest_merge_agg(pd) AS d
  FROM (
    SELECT {gsel}tdigest_agg({value_col}) AS pd
    FROM {table}
    GROUP BY {inner_by}
  )
  {outer_by}
)
CROSS JOIN (SELECT q FROM VALUES {qs_rows} AS _q(q))
ORDER BY {order_by}"""
