"""run_job writes exactly what the DuckDB twin of run_pipeline computes.

The written `routed/` (every column: batch_no, shard_id and the truncated
text included), `rejected/` and the `n` of `metrics/` must equal
functions/sqlgen.run_pipeline_sql over the same parquet input, in a
single pass and with 4 buckets. The input has invalid first turns,
a hot conversation (`conv-hot`, whose conv_bucket falls back to the
hash), multibyte spans over the cap, and spans so large that even the
truncation marker is over it (fatal drops).

DuckDB has no xxhash64, so Spark computes each conversation's job bucket
(plans/job.bucket_expr) and conv_bucket and hands that table to the
twin. run_pipeline runs once per bucket, so batch_no restarts per
bucket: the twin runs once per bucket's conversations too.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from apm_opentelemetry_collector_spark.config import PipelineConfig
from apm_opentelemetry_collector_spark.functions.sqlgen import run_pipeline_sql
from apm_opentelemetry_collector_spark.operators.aggregate import conv_bucket_col
from apm_opentelemetry_collector_spark.plans.job import bucket_expr, run_job
from apm_opentelemetry_collector_spark.sources.transcripts import (
    TRANSCRIPT_SCHEMA,
    synth_transcripts,
)
from tests.test_oracle_parity import _assert_frames_match

# marker + size digits leave 3 bytes of text for a 45-99 byte span, 2 for
# 100-999, 1 for 1,000-9,999, 0 for 10,000-99,999; a span of 100,000
# bytes or more cannot fit even the marker and is a fatal drop
CFG = PipelineConfig(max_span_size=44)
N_BUCKETS = 4
# (character unit, repeats): 2-, 3- and 4-byte characters and mixes, cut
# at every keep above, so the cut backs off 0 to 3 bytes; the last is fatal
MULTIBYTE = (
    ("é", 30), ("中", 20), ("😀", 20), ("a中😀", 10), ("aé", 20),
    ("é", 100), ("中", 50), ("😀", 50), ("a中😀", 20),
    ("é", 600), ("中", 400), ("😀", 3000), ("中", 40_000),
)


@pytest.fixture(scope="module")
def job_input(spark, tmp_path_factory):
    """The parquet input and a DuckDB connection with its per-conversation
    job bucket and conv_bucket as table `buckets`."""
    path = str(tmp_path_factory.mktemp("twin") / "input")
    synth = synth_transcripts(
        spark, n_rows=5000, n_convs=60, seed=11,
        hot_conv_fraction=0.1, oversize_every=700, oversize_len=100_000,
    )
    ts = synth.select(F.min("ts")).first()[0]
    extra = [
        (f"conv-{90_000_000 + i:08d}", t, "user" if t == 0 else None,
         unit * n if t == 1 else f"turn {t}", "code", ts)
        for i, (unit, n) in enumerate(MULTIBYTE)
        for t in range(3)
    ]
    df = synth.unionByName(spark.createDataFrame(extra, TRANSCRIPT_SCHEMA))
    df.write.parquet(path)
    tr = spark.read.parquet(path)
    assert tr.filter("turn_idx = 0 AND role IS NULL").count() > 0  # invalid
    buckets = (
        tr.select("conv_id").distinct()
        .select("conv_id", bucket_expr(N_BUCKETS).alias("bucket"),
                conv_bucket_col(CFG.n_conv_buckets))
        .toPandas()
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW input AS SELECT * FROM read_parquet('{path}/*.parquet')")
    con.register("buckets", buckets)
    yield tr, con
    con.close()


def _twin(con, bucket: int | None):
    """(routed, rejected, metrics) of the twin over one bucket's
    conversations (None = all), as pandas frames."""
    keep = "" if bucket is None else f"WHERE b.bucket = {bucket}"
    con.execute(
        "CREATE OR REPLACE VIEW transcripts AS SELECT t.* FROM input t "
        f"JOIN buckets b USING (conv_id) {keep}"
    )
    tag = "" if bucket is None else f", {bucket} AS bucket"
    chain = (
        run_pipeline_sql(CFG, derive=False)
        + ", sink_table AS (SELECT p.*, b.conv_bucket FROM packed p "
        "JOIN buckets b USING (conv_id))"
    )
    routed = con.sql(chain + f" SELECT *{tag} FROM sink_table").df()
    rejected = con.sql(
        chain + f" SELECT t.*, 'refused' AS outcome{tag} FROM transcripts t "
        "JOIN invalid_convs USING (conv_id)"
    ).df()
    metrics = con.sql(
        chain + f" SELECT sink, conv_bucket, role, tool, outcome, count(*) AS n{tag} "
        "FROM sink_table GROUP BY ALL"
    ).df()
    return routed, rejected, metrics


def _written(spark, out: str, name: str, bucketed: bool):
    path = os.path.join(out, name) if bucketed else os.path.join(out, name, "all")
    return spark.read.parquet(path)


@pytest.mark.parametrize("n_buckets", [None, N_BUCKETS])
def test_job_equals_twin(spark, job_input, tmp_path, n_buckets):
    tr, con = job_input
    out = str(tmp_path / "job")
    run_job(spark, tr, out, cfg=CFG, n_buckets=n_buckets)

    slices = [None] if n_buckets is None else range(n_buckets)
    twins = [_twin(con, b) for b in slices]
    bucketed = n_buckets is not None
    routed = _written(spark, out, "routed", bucketed)
    # the input exercises every path the twin mirrors
    assert routed.filter("truncated").count() > 0
    assert routed.filter("drop_reason = 'FatalEncodingError'").count() > 0
    assert routed.filter("conv_id = 'conv-hot'").count() > 0
    for i, name in enumerate(("routed", "rejected", "metrics")):
        got = _written(spark, out, name, bucketed)
        if name == "metrics":
            got = got.drop("crc")
        want = pd.concat([t[i] for t in twins], ignore_index=True)
        _assert_frames_match(name, got.toPandas(), want)
