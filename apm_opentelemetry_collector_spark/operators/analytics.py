"""Event-sequence analytics — funnel stages and cohort retention.

The two OLAP patterns every telemetry/event pipeline ends up serving
(product analytics over the same event stream the collector routes):

  - funnel: how many users completed step1 → step2 → … IN ORDER
    (each step strictly after the previous step's first completion);
  - cohort retention: users grouped by their first-activity week,
    counted per week-offset of later activity.

Both are exact Column-expression plans over the events table: the
funnel is a chain of conditional min-aggregates (one scan per step,
each a map-side-combinable groupBy joined to the shrinking reached
set); retention is one first-seen aggregate joined back to the stream.
Week arithmetic is integer days-since-epoch // 7 — no date_trunc
dialect drift — so the DuckDB twins are bit-exact.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FUNNEL_STEPS = ("view", "click", "purchase")
EPOCH = "1970-01-01"


def funnel_stages(
    df: DataFrame,
    steps: tuple[str, ...] = FUNNEL_STEPS,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Users reaching each funnel step in strict ts order.

    Step i is reached at the MIN ts of a step-i event strictly after
    the user's step-(i−1) completion time. Output: step_idx (1-based),
    step, n_users — n_users is non-increasing by construction.
    """
    reached = (
        df.filter(F.col(type_col) == steps[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("_t"))
    )
    counts = [
        reached.agg(F.count("*").cast("bigint").alias("n_users")).select(
            F.lit(1).alias("step_idx"), F.lit(steps[0]).alias("step"), "n_users"
        )
    ]
    for i, step in enumerate(steps[1:], start=2):
        reached = (
            df.filter(F.col(type_col) == step)
            .join(reached.select(user_col, "_t"), user_col)
            .filter(F.col(ts_col) > F.col("_t"))
            .groupBy(user_col)
            .agg(F.min(ts_col).alias("_t"))
        )
        counts.append(
            reached.agg(F.count("*").cast("bigint").alias("n_users")).select(
                F.lit(i).alias("step_idx"), F.lit(step).alias("step"), "n_users"
            )
        )
    return reduce(DataFrame.unionByName, counts)


def funnel_sql(
    table: str = "events",
    steps: tuple[str, ...] = FUNNEL_STEPS,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> str:
    """DuckDB twin of funnel_stages (same strict-order chain)."""
    ctes = [
        f"""r1 AS (
  SELECT {user_col}, min({ts_col}) AS _t FROM {table}
  WHERE {type_col} = '{steps[0]}' GROUP BY {user_col}
)"""
    ]
    for i, step in enumerate(steps[1:], start=2):
        ctes.append(
            f"""r{i} AS (
  SELECT t.{user_col}, min(t.{ts_col}) AS _t
  FROM {table} t JOIN r{i - 1} p USING ({user_col})
  WHERE t.{type_col} = '{step}' AND t.{ts_col} > p._t
  GROUP BY t.{user_col}
)"""
        )
    selects = " UNION ALL ".join(
        f"SELECT {i} AS step_idx, '{s}' AS step, CAST(count(*) AS BIGINT) AS n_users FROM r{i}"
        for i, s in enumerate(steps, start=1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + selects


def cohort_retention(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly cohort retention: cohort_week = the user's first-activity
    week index (days-since-epoch // 7), week_offset = activity week −
    cohort week. Output: cohort_week, week_offset, n_active_users
    (distinct users of that cohort active in that offset week).
    """
    day = F.datediff(F.to_date(ts_col), F.to_date(F.lit(EPOCH)))
    first = df.groupBy(user_col).agg(
        F.min(F.floor(day / 7)).cast("bigint").alias("cohort_week")
    )
    return (
        df.join(first, user_col)
        .select(
            user_col,
            "cohort_week",
            (F.floor(day / 7) - F.col("cohort_week")).cast("bigint").alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct(F.col(user_col)).cast("bigint").alias("n_active_users"))
    )


def cohort_retention_sql(
    table: str = "events", user_col: str = "user_id", ts_col: str = "ts"
) -> str:
    day = f"date_diff('day', DATE '{EPOCH}', CAST({ts_col} AS DATE))"
    return f"""
WITH wk AS (
  SELECT {user_col}, {day} // 7 AS w FROM {table}
), first AS (
  SELECT {user_col}, CAST(min(w) AS BIGINT) AS cohort_week FROM wk GROUP BY {user_col}
)
SELECT f.cohort_week, CAST(wk.w - f.cohort_week AS BIGINT) AS week_offset,
       CAST(count(DISTINCT wk.{user_col}) AS BIGINT) AS n_active_users
FROM wk JOIN first f USING ({user_col})
GROUP BY f.cohort_week, week_offset"""
