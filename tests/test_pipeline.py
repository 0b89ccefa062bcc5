"""run_pipeline builds exactly the chain run_job writes."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from apm_opentelemetry_collector_spark.config import PipelineConfig
from apm_opentelemetry_collector_spark.functions.sharding import even_shards
from apm_opentelemetry_collector_spark.plans.job import run_job
from apm_opentelemetry_collector_spark.plans.pipeline import run_pipeline
from apm_opentelemetry_collector_spark.sources.transcripts import synth_transcripts


def test_routed_is_the_written_sink_table(spark, tmp_path):
    # a stage built here but not written would reappear as a column gap
    tr = synth_transcripts(spark, n_rows=500, n_convs=10)
    routed = run_pipeline(spark, tr).routed
    out_dir = str(tmp_path / "job")
    run_job(spark, tr, out_dir, n_buckets=None)
    written = spark.read.parquet(os.path.join(out_dir, "routed", "all"))
    assert sorted(written.columns) == sorted(routed.columns + ["conv_bucket"])


def test_fatal_truncation_ends_as_drop(spark):
    # a span even the truncation marker cannot fit is unsendable: it must
    # end dropped(FatalEncodingError) and never be packed into a record
    tr = synth_transcripts(spark, n_rows=500, n_convs=10)
    routed = run_pipeline(spark, tr, PipelineConfig(max_span_size=10)).routed
    assert len(routed.columns) == len(set(routed.columns))
    over = routed.filter(F.octet_length("text") > 10)
    got = {tuple(r) for r in over.select("outcome", "drop_reason").distinct().collect()}
    assert got == {("dropped", "FatalEncodingError")}
    assert over.filter(F.col("batch_no").isNotNull()).count() == 0


def test_unowned_send_ends_as_drop(spark):
    # a config may leave a gap in the hash space: a send whose key no shard
    # owns ends dropped(FatalEncodingError) and is never packed; a send
    # already dropped keeps its reason ('f' drops 1 in 16 sends)
    tr = synth_transcripts(spark, n_rows=2000, n_convs=200)
    cfg = PipelineConfig(drop_md5_prefix="f")
    routed = run_pipeline(spark, tr, cfg, shards=even_shards(4)[:3]).routed
    unowned = routed.filter(F.col("shard_id").isNull())
    got = {tuple(r) for r in unowned.select("outcome", "drop_reason").distinct().collect()}
    assert got == {("dropped", "FatalEncodingError"), ("dropped", "SendErrNotRetryable")}
    assert unowned.filter(F.col("batch_no").isNotNull()).count() == 0
    owned = routed.filter(F.col("shard_id").isNotNull())
    assert owned.filter(F.col("drop_reason") == "FatalEncodingError").count() == 0
    assert owned.filter(F.col("outcome") == "accepted").count() > 0
