"""Robust outlier detection — median/MAD modified z-score.

The quality-filtering operator a curation pass runs over numeric
telemetry (latency, value, length): mean/stddev z-scores are themselves
corrupted by the outliers they hunt, so the robust form uses the median
and the median absolute deviation (Iglewicz–Hoban modified z-score,
0.6745·(x−med)/MAD, flag |z| > 3.5).

Two medians, two ways of computing them:

  scale=False (default, the ORACLE form): exact-percentile aggregates
  (Spark `percentile` ≡ DuckDB `quantile_cont`, both linear
  interpolation — the same parity value_percentiles relies on). Spark's
  exact percentile buffers every group's values inside one aggregator,
  so this form is bounded by the largest group fitting executor memory
  — fine at bench scale, an OOM at 100 TB with a handful of groups.

  scale=True (the 100-TB path): both medians come from the t-digest
  sketch (operators/tdigest.py) — salted Arrow-batch partials, bounded
  O(delta) centroids per group, never a full-group value buffer. The
  digest's rank error is ≤ ~0.03 at the median, which perturbs med/MAD
  by at most the local value density — tests assert the flagged set
  matches the exact form on the fixtures (|z| > 3.5 outliers sit far
  from the median, so a small med/MAD wobble doesn't flip them).

Shared tail either way: two joins against the tiny per-group stats
(config-bounded, AQE broadcasts them) and a codegen'd z filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAD_SCALE = 0.6745  # Φ⁻¹(0.75): makes MAD consistent with σ for normals
Z_CUT = 3.5


def robust_zscore_outliers(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    id_cols: list[str],
    z_cut: float = Z_CUT,
    scale: bool = False,
    salt_from: str | None = None,
) -> DataFrame:
    """Rows whose modified z-score exceeds z_cut within their group.

    Output: id_cols..., group_cols..., value, z (rounded 6dp).
    Groups with MAD = 0 (over half the values identical) flag nothing —
    division yields NULL/inf filtered out, matching the SQL twin.

    scale=True swaps both exact per-group medians for t-digest
    estimates (bounded state — the form that survives 100×);
    salt_from names the near-unique column that salts the digest
    partials (defaults to the first id column).
    """
    v = F.col(value_col).cast("double")
    if scale:
        from .tdigest import tdigest_quantiles

        salt = salt_from or id_cols[0]
        med = tdigest_quantiles(df, value_col, group_cols, salt, qs=(0.5,)).select(
            *group_cols, F.col("est").alias("_med")
        )
        dev = df.join(med, group_cols).withColumn("_ad", F.abs(v - F.col("_med")))
        mad = tdigest_quantiles(dev, "_ad", group_cols, salt, qs=(0.5,)).select(
            *group_cols, F.col("est").alias("_mad")
        )
    else:
        med = df.groupBy(*group_cols).agg(
            F.expr(f"percentile({value_col}, 0.5)").alias("_med")
        )
        dev = df.join(med, group_cols).withColumn("_ad", F.abs(v - F.col("_med")))
        mad = dev.groupBy(*group_cols).agg(
            F.expr("percentile(_ad, 0.5)").alias("_mad")
        )
    z = (F.lit(MAD_SCALE) * (v - F.col("_med"))) / F.col("_mad")
    return (
        dev.join(mad, group_cols)
        .withColumn("_z", z)
        .filter(F.col("_mad") > 0)
        .filter(F.abs(F.col("_z")) > z_cut)
        .select(
            *id_cols,
            *group_cols,
            v.alias("value"),
            F.round("_z", 6).alias("z"),
        )
    )


def robust_zscore_sql(
    table: str,
    value_col: str,
    group_col: str,
    id_col: str,
    z_cut: float = Z_CUT,
) -> str:
    """DuckDB twin (same op order: (0.6745*(v-med))/mad)."""
    return f"""
WITH med AS (
  SELECT {group_col}, quantile_cont({value_col}, 0.5) AS _med
  FROM {table} GROUP BY {group_col}
), dev AS (
  SELECT t.{id_col}, t.{group_col}, CAST(t.{value_col} AS DOUBLE) AS v,
         m._med, abs(CAST(t.{value_col} AS DOUBLE) - m._med) AS _ad
  FROM {table} t JOIN med m USING ({group_col})
), mad AS (
  SELECT {group_col}, quantile_cont(_ad, 0.5) AS _mad
  FROM dev GROUP BY {group_col}
)
SELECT d.{id_col}, d.{group_col}, d.v AS value,
       round(({MAD_SCALE} * (d.v - d._med)) / a._mad, 6) AS z
FROM dev d JOIN mad a USING ({group_col})
WHERE a._mad > 0 AND abs(({MAD_SCALE} * (d.v - d._med)) / a._mad) > {z_cut}"""


# --- EWMA anomaly detection, batch form -------------------------------------

EWMA_ALPHA = 0.3
EWMA_K = 3.0
EWMA_MIN_POINTS = 5


def _ewma_window(alpha: float, eps: float = 1e-12) -> int:
    """Smallest W with (1-alpha)^W <= eps: contributions older than W
    steps are below eps relative weight, so the truncated fold's error
    is bounded by ~2·(eps/β)·max|x| — the seed absorbs one Horner step,
    so the operative factor is β^(W-1) (derivation in
    ewma_anomalies_batch); numerically still ~1e-12 for the defaults."""
    import math

    return max(2, int(math.ceil(math.log(eps) / math.log(1.0 - alpha))))


def ewma_anomalies_batch(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    value_col: str = "value",
    alpha: float = EWMA_ALPHA,
    k: float = EWMA_K,
    min_points: int = EWMA_MIN_POINTS,
    window: int | None = None,
) -> DataFrame:
    """Per-key EWMA anomaly detection with NO per-row state (r4
    VERDICT #6): the sequential recurrences

        m_t = (1-α)·m_{t-1} + α·x_t          (m_0 = x_0)
        v_t = (1-α)·(v_{t-1} + α·d_t²)       (v_0 = 0, d_t = x_t − m_{t-1})

    are linear with CONSTANT coefficient β = 1-α, so the dependence on
    anything older than W steps carries weight β^W. The batch form
    folds only the last W points per row (collect_list over a ROWS
    window + F.aggregate — a JVM Catalyst higher-order function, no
    Python, no applyInPandas): Horner's rule seeded with the oldest
    in-window value reproduces the recurrence exactly for rows with
    t < W and truncates it for older rows with error (the seed absorbs
    one step, so the exponent is W−1, not W: after seeding with
    x_{t-W+1} the fold applies W−1 Horner steps)

        |m̂_t − m_t| = β^(W-1)·|m_{t-W+1} − x_{t-W+1}| ≤ 2·β^(W-1)·max|x| ,
        |v̂_t − v_t| = β^(W-1)·v_{t-W+1}               ≤ β^(W-1)·max d²

    — below double precision for the default W (β^(W-1) ≈ 1e-12). The
    z-score uses the PRE-UPDATE state
    (z_t from m_{t-1}, v_{t-1}; 0 during the min_points warm-up), so a
    spike cannot mask itself. Per-row cost is O(W); every row folds
    independently — embarrassingly parallel, no sequential barrier.

    NULL values are dropped before the folds (a NULL can't be scored,
    and collect_list silently skipping it while row_number counts it
    would misalign the Horner seed — and diverge from the DuckDB twin,
    whose windowed list() KEEPS NULLs).

    Output: key_cols..., order_cols..., value, zscore, is_anomaly.
    """
    from pyspark.sql import Window

    beta = 1.0 - alpha
    W = window or _ewma_window(alpha)
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    arr_w = w.rowsBetween(-(W - 1), 0)

    # rename FIRST, then build every window expression over the renamed
    # column — embedding F.col(value_col) in expressions resolved after
    # the select would break for any value_col other than "value"
    base = df.select(
        *key_cols,
        *order_cols,
        F.col(value_col).cast("double").alias("value"),
    ).filter(F.col("value").isNotNull())
    arr = F.collect_list("value").over(arr_w)
    mean_incl = F.aggregate(
        F.slice(arr, 2, W),
        F.element_at(arr, 1),
        lambda acc, v: F.lit(beta) * acc + F.lit(alpha) * v,
    )
    base = base.withColumn("_mean", mean_incl)
    d = F.col("value") - F.lag("_mean").over(w)
    g = F.coalesce(
        F.lit(beta) * F.lit(alpha) * d * d, F.lit(0.0)
    )  # t=0 has no prior mean → g=0 (v_0 = 0)
    base = base.withColumn("_g", g)
    garr = F.collect_list("_g").over(arr_w)
    var_incl = F.aggregate(
        garr, F.lit(0.0), lambda acc, gv: F.lit(beta) * acc + gv
    )
    base = (
        base.withColumn("_var", var_incl)
        .withColumn("_mean_prev", F.lag("_mean").over(w))
        .withColumn("_var_prev", F.lag("_var").over(w))
        .withColumn("_n_before", F.row_number().over(w) - 1)
    )
    z = F.when(
        (F.col("_n_before") >= min_points) & (F.col("_var_prev") > 0),
        (F.col("value") - F.col("_mean_prev")) / F.sqrt("_var_prev"),
    ).otherwise(F.lit(0.0))
    return base.select(
        *key_cols,
        *order_cols,
        "value",
        z.alias("zscore"),
        (F.abs(z) > k).alias("is_anomaly"),
    )


def ewma_anomalies_sql(
    table: str = "events",
    key_col: str = "event_type",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
    value_col: str = "value",
    alpha: float = EWMA_ALPHA,
    k: float = EWMA_K,
    min_points: int = EWMA_MIN_POINTS,
    window: int | None = None,
) -> str:
    """DuckDB twin of ewma_anomalies_batch: the same truncated Horner
    folds via windowed list() + list_reduce, identical op order so the
    doubles bit-match the Spark fold."""
    beta = 1.0 - alpha
    W = window or _ewma_window(alpha)
    ob = ", ".join(order_cols)
    return f"""
WITH base AS (
  SELECT {key_col}, {ob}, CAST({value_col} AS DOUBLE) AS value
  FROM {table}
  WHERE {value_col} IS NOT NULL
), m AS (
  SELECT *, list_reduce(
           list(value) OVER (PARTITION BY {key_col} ORDER BY {ob}
                             ROWS BETWEEN {W - 1} PRECEDING AND CURRENT ROW),
           (acc, v) -> {beta!r} * acc + {alpha!r} * v) AS _mean
  FROM base
), dg AS (
  SELECT *, coalesce(
           {beta!r} * {alpha!r}
             * (value - lag(_mean) OVER (PARTITION BY {key_col} ORDER BY {ob}))
             * (value - lag(_mean) OVER (PARTITION BY {key_col} ORDER BY {ob})),
           0.0) AS _g
  FROM m
), v AS (
  SELECT *, list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
             list(_g) OVER (PARTITION BY {key_col} ORDER BY {ob}
                            ROWS BETWEEN {W - 1} PRECEDING AND CURRENT ROW)),
           (acc, g) -> {beta!r} * acc + g) AS _var
  FROM dg
), s AS (
  SELECT *,
         lag(_mean) OVER (PARTITION BY {key_col} ORDER BY {ob}) AS _mean_prev,
         lag(_var)  OVER (PARTITION BY {key_col} ORDER BY {ob}) AS _var_prev,
         row_number() OVER (PARTITION BY {key_col} ORDER BY {ob}) - 1 AS _n_before
  FROM v
)
SELECT {key_col}, {ob}, value,
       CASE WHEN _n_before >= {min_points} AND _var_prev > 0
            THEN (value - _mean_prev) / sqrt(_var_prev) ELSE 0.0 END AS zscore,
       CASE WHEN _n_before >= {min_points} AND _var_prev > 0
            THEN abs((value - _mean_prev) / sqrt(_var_prev)) > {k!r}
            ELSE FALSE END AS is_anomaly
FROM s"""
