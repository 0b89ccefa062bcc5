"""Vector/embedding primitives — similarity search over array<float>.

Dot products / norms / cosine are expressed with F.zip_with +
F.aggregate (higher-order functions → JVM-side, codegen'd; no Python).
Embeddings are cast to double before arithmetic so Spark and the DuckDB
oracle (list_dot_product / list_cosine_similarity over DOUBLE[]) agree to
the last ulp on identical summation order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import spread_small_scan


def as_double(vec: Column | str) -> Column:
    v = F.col(vec) if isinstance(vec, str) else vec
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_knn(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Baseline exact top-k cosine neighbors for each query vector.

    Plan shape: broadcast the (small) query set against the embedding
    corpus — a BroadcastNestedLoopJoin scanning the corpus ONCE for all
    queries; ranking is a window per query. At 100 TB the corpus side
    stays partitioned and the query side is broadcast, so this scales
    linearly with corpus size.

    Output: query_id, neighbor_id, rank (1..k), cos (double).
    """
    from pyspark.sql import Window

    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(vec_col).alias("qvec")
    )
    c = spread_small_scan(
        embeddings.select(
            F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("cvec")
        )
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"), "inner")
        .withColumn("cos", cosine(F.col("qvec"), F.col("cvec")))
        .drop("qvec", "cvec")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )
