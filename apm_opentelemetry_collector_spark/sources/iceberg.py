"""Iceberg storage layer — capability-detected, parquet fallback.

The north_star input is "an Iceberg table of transcripts" partitioned by
days(ts) + bucket(conv_id). The reference analog is the receiver/exporter
factory contract (exporter/omnishard/factory.go:43-79): the storage layer
is this engine's "receiver", selected by what the runtime offers.

This sandbox ships no Iceberg jars, so every Iceberg-only path is gated
behind `iceberg_available(spark)` (a JVM classpath probe) and falls back
to the equivalent parquet layout with MATERIALIZED partition columns
(sources/transcripts.write_partitioned) — identical pruning behavior,
same downstream plans. On a cluster with the Iceberg runtime jar and a
catalog configured, the same calls switch to:

  - hidden partitioning: writeTo(...).partitionedBy(days(ts),
    bucket(N, conv_id)) — no materialized ts_day/conv_bucket columns,
    pruning from the transform metadata;
  - pruned per-bucket reads via the system.bucket(N, conv_id) transform
    predicate (the Iceberg twin of plans/job.bucket_slice);
  - MERGE-based idempotent resume: re-running a bucket MERGEs on the
    (conv_id, turn_idx, sink) key instead of relying on
    directory-overwrite atomicity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .transcripts import write_partitioned

ICEBERG_PROBE_CLASS = "org.apache.iceberg.spark.SparkCatalog"


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime is on the JVM classpath."""
    try:
        spark.sparkContext._jvm.java.lang.Class.forName(ICEBERG_PROBE_CLASS)
        return True
    except Exception:
        return False


def is_table_identifier(target: str) -> bool:
    """Heuristic: catalog.db.table identifiers vs filesystem paths."""
    return "/" not in target and not target.startswith("file:")


def write_transcripts(
    spark: SparkSession, df: DataFrame, target: str, n_buckets: int = 16
) -> str:
    """Write transcripts in the production layout; returns the engine used.

    Iceberg (jars + table identifier): hidden partitioning
    days(ts) × bucket(n_buckets, conv_id) — the exact north_star layout.
    Otherwise: parquet with materialized ts_day/conv_bucket columns,
    which prunes identically (tests/test_plan_audit.py).
    """
    if iceberg_available(spark) and is_table_identifier(target):
        (
            df.writeTo(target)
            .using("iceberg")
            .partitionedBy(F.days("ts"), F.bucket(n_buckets, "conv_id"))
            .createOrReplace()
        )
        return "iceberg"
    write_partitioned(df, target, n_buckets=n_buckets)
    return "parquet"


def read_transcripts(spark: SparkSession, target: str) -> DataFrame:
    """Read the transcript table written by write_transcripts."""
    if is_table_identifier(target):
        return spark.read.table(target)
    return spark.read.parquet(target)


def iceberg_bucket_slice(
    spark: SparkSession, table: str, bucket: int, n_buckets: int
) -> DataFrame:
    """Pruned per-bucket read from an Iceberg table: the bucket-transform
    predicate prunes at snapshot planning time (Iceberg twin of
    plans/job.bucket_slice's conv_bucket partition filter)."""
    if not iceberg_available(spark):
        raise RuntimeError(
            "Iceberg runtime not on the classpath; use plans.job.bucket_slice "
            "over the parquet layout instead"
        )
    return spark.read.table(table).filter(
        F.expr(f"system.bucket({n_buckets}, conv_id) = {bucket}")
    )


def merge_resume_sql(table: str, updates_view: str) -> str:
    """MERGE statement for idempotent bucket replay into an Iceberg sink
    table: re-running a bucket upserts on the routed-row identity key, so
    a crash between write and manifest cannot duplicate rows. (Parquet
    fallback gets the same guarantee from whole-directory overwrite +
    atomic manifest rename in plans/job.py.)"""
    return f"""
MERGE INTO {table} t
USING {updates_view} s
  ON  t.conv_id = s.conv_id
  AND t.turn_idx = s.turn_idx
  AND t.sink = s.sink
WHEN MATCHED THEN UPDATE SET *
WHEN NOT MATCHED THEN INSERT *
""".strip()


def merge_resume(
    spark: SparkSession, table: str, updates: DataFrame, view_name: str = "_updates"
) -> None:
    """Execute the idempotent MERGE (Iceberg only)."""
    if not iceberg_available(spark):
        raise RuntimeError(
            "MERGE INTO requires the Iceberg runtime; the parquet path is "
            "already idempotent via plans/job.py overwrite+manifest"
        )
    updates.createOrReplaceTempView(view_name)
    spark.sql(merge_resume_sql(table, view_name))


MERGE_KEY = ("conv_id", "turn_idx", "sink")


def merge_resume_parquet(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: tuple[str, ...] = MERGE_KEY,
) -> None:
    """EXECUTED engine-agnostic twin of merge_resume: upsert `updates`
    into a parquet directory on key_cols — matched keys are replaced,
    new keys inserted — so a replayed epoch is idempotent at the ROW
    level, the same contract merge_resume_sql states for Iceberg.

    Plan: left ANTI join the existing table against the distinct update
    keys (drops matched rows; Catalyst/AQE broadcast the key side when
    the epoch is small), union the updates, rewrite. Commit is
    write-to-tmp + directory rename — atomic for readers on a POSIX
    local FS but NOT against a crash between the two renames; that
    snapshot-commit atomicity is precisely what the Iceberg layer buys
    and why this fallback exists for testing the MERGE contract, not as
    the production sink (object stores also lack atomic dir rename).
    """
    import os
    import shutil

    old = path.rstrip("/") + ".__old__"
    # Recover from a crash between the two renames of a prior merge:
    # a leftover .__old__ with no live `path` IS the last good table
    # (the crash hit after rename #1, before rename #2).
    if os.path.exists(old) and not os.path.exists(path):
        os.rename(old, path)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        updates.write.mode("overwrite").parquet(path)
        return
    existing = spark.read.schema(updates.schema).parquet(path)
    keep = existing.join(
        updates.select(*key_cols).distinct(), list(key_cols), "left_anti"
    )
    merged = keep.unionByName(updates)
    tmp = path.rstrip("/") + ".__merge_tmp__"
    merged.write.mode("overwrite").parquet(tmp)
    # A stale .__old__ (crash after rename #1 with `path` since
    # recreated, or crash before the cleanup rmtree) would make the
    # rename below raise forever; clear it first.
    shutil.rmtree(old, ignore_errors=True)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)
