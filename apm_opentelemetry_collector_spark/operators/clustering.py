"""Distributed k-means (Lloyd iterations) over an embedding column.

The iterative-algorithm representative of the suite: a fixed number of
Lloyd rounds expressed as a LAZY unrolled DataFrame plan —

  init:   the k lowest-id vectors seed the centroids (deterministic;
          production would seed with k-means|| sampling, same loop)
  assign: every point scores the k centroids (config-bounded, genuinely
          broadcastable) and keeps the nearest by squared L2, ties to
          the lower cluster id
  update: elementwise centroid mean with DECIMAL accumulation — exact
          and order-independent, so Spark and the SQL oracle produce
          bit-identical centroids regardless of partial-agg order

Squared L2 is composed as |v|² + |c|² − 2·v·c from the same left-fold
dot product the cosine operators use, so both engines bit-match and the
nearest-centroid choice (and therefore the whole trajectory) is
deterministic — the assignment table has an EXACT DuckDB twin built by
unrolling the same iterations into CTEs (__spark_entry__._kmeans_sql).

Scale notes: each round is one broadcast-join scan + one map-side-
combinable aggregate — the canonical Spark k-means shape. For many
rounds you would checkpoint/materialize centroids per round instead of
growing the lazy plan; ITERS here is small and fixed so the unrolled
plan stays shallow. Empty clusters simply drop out of the next round
(both engines agree).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import as_double, dot
from ..session import spread_small_scan

CENTROID_DECIMAL = "decimal(28,12)"
KMEANS_K = 4
KMEANS_ITERS = 2


def _dist2(v, c):
    return dot(v, v) + dot(c, c) - F.lit(2.0) * dot(v, c)


def _assign(points: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest centroid as a pure MAP-SIDE projection: the k centroids
    collapse to ONE array-of-structs row (sorted by cluster id),
    broadcast-cross-joined, and each point folds over it with
    F.aggregate keeping the strictly-smaller d2 — ties stay with the
    earlier (lower) cluster, the same (d2 ASC, cluster ASC) order the
    SQL twin's row_number encodes. No shuffle, no sort, no per-point
    aggregate anywhere in the assignment — the r3 plan's row_number
    window (shuffle+sort of k× rows per Lloyd round) and the naive
    min(struct-with-array) swap (SortAggregate — structs holding arrays
    aren't hash-aggregable) both disappear; the only per-round exchange
    left is the tiny centroid-mean aggregate."""
    cent_arr = cents.agg(
        F.array_sort(F.collect_list(F.struct("cluster", "c"))).alias("_cents")
    )
    acc0 = F.struct(F.lit(float("inf")).alias("d2"), F.lit(-1).alias("cluster"))

    def step(acc, x):
        d2 = _dist2(F.col("v"), x["c"])
        return F.when(
            d2 < acc["d2"],
            F.struct(d2.alias("d2"), x["cluster"].alias("cluster")),
        ).otherwise(acc)

    return points.crossJoin(F.broadcast(cent_arr)).select(
        "id", "v", F.aggregate("_cents", acc0, step)["cluster"].alias("cluster")
    )


def _means(assigned: DataFrame) -> DataFrame:
    comp = assigned.select("cluster", F.posexplode("v").alias("pos", "x"))
    m = comp.groupBy("cluster", "pos").agg(
        (F.sum(F.col("x").cast(CENTROID_DECIMAL)).cast("double") / F.count("*")).alias("m")
    )
    return (
        m.groupBy("cluster")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select("cluster", F.transform("pm", lambda s: s["m"]).alias("c"))
    )


def kmeans_assign(
    embeddings: DataFrame,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cluster assignment after `iters` Lloyd rounds.

    Output: vec_id, cluster (bigint-keyed points, int cluster 0..k-1).
    """
    base = spread_small_scan(
        embeddings.select(F.col(id_col).alias("id"), as_double(vec_col).alias("v"))
    )
    seed_w = Window.orderBy(F.col("id").asc())
    cents = (
        base.orderBy("id")
        .limit(k)
        .select((F.row_number().over(seed_w) - 1).alias("cluster"), F.col("v").alias("c"))
    )
    assigned = _assign(base, cents)
    for _ in range(iters - 1):
        assigned = _assign(base, _means(assigned))
    return assigned.select(F.col("id").alias(id_col), "cluster")


def kmeans_sizes(
    embeddings: DataFrame,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cluster sizes after `iters` rounds. Output: cluster, n_points."""
    return (
        kmeans_assign(embeddings, k, iters, id_col, vec_col)
        .groupBy("cluster")
        .agg(F.count("*").cast("bigint").alias("n_points"))
    )
