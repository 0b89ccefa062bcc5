"""Iceberg storage layer — capability-detected, parquet fallback.

The north_star input is "an Iceberg table of transcripts" partitioned by
days(ts) + bucket(conv_id). The reference analog is the receiver/exporter
factory contract (exporter/omnishard/factory.go:43-79): the storage layer
is this engine's "receiver", selected by what the runtime offers.

Without the Iceberg runtime jars, write_transcripts falls back to the
equivalent parquet layout with MATERIALIZED partition columns
(sources/transcripts.write_partitioned) — identical pruning behavior,
same downstream plans; `iceberg_available(spark)` (a JVM classpath
probe) decides. On a cluster with the Iceberg runtime jar and a catalog
configured, a table identifier switches the write to hidden
partitioning: writeTo(...).partitionedBy(days(ts), bucket(N, conv_id)) —
no materialized ts_day/conv_bucket columns, pruning from the transform
metadata. read_transcripts reads either. The job resumes through its
manifests and directory overwrite (plans/job.py) on both layouts.
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
