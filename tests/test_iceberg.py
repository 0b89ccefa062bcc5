"""Iceberg storage layer: capability detection and the parquet fallback
(without the Iceberg jars, detection must say so and the fallback must
produce the pruning-equivalent layout)."""

from __future__ import annotations

from pyspark.sql import functions as F

from apm_opentelemetry_collector_spark.sources.iceberg import (
    iceberg_available,
    is_table_identifier,
    read_transcripts,
    write_transcripts,
)
from apm_opentelemetry_collector_spark.sources.transcripts import synth_transcripts


def test_detection_is_honest(spark):
    # this environment has no Iceberg runtime; detection must say so
    # (on a cluster with iceberg-spark-runtime on the classpath it
    # flips to True and write_transcripts switches engines)
    assert iceberg_available(spark) is False


def test_table_identifier_heuristic():
    assert is_table_identifier("local.db.transcripts")
    assert not is_table_identifier("/data/transcripts")
    assert not is_table_identifier("file:/data/transcripts")


def test_fallback_writes_prunable_layout(spark, tmp_path):
    df = synth_transcripts(spark, 2000, 40)
    path = str(tmp_path / "t")
    assert write_transcripts(spark, df, path, n_buckets=4) == "parquet"
    back = read_transcripts(spark, path)
    assert back.count() == 2000
    pruned = back.filter(F.col("conv_bucket") == 1)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and pruned.count() > 0
