"""End-to-end pipeline assembly: validate → truncate → enrich → route → pack.

The Spark lifecycle equivalent of the reference's EP1 flagship path
(SURVEY.md §3): scan transcripts → validate (receiver protocol) →
forward-fill (node multiplexing) → truncate (XL spans) → enrich
(resource processor, broadcast) → fan-out (pipelines config) → send
outcomes (exporter result codes) → shard assignment (omnishard md5
ranges) → record packing.

This is the package's one definition of the collector chain: the batch
job, the driver's collector queries and sql_api's `routed` view all read
it, and functions/sqlgen.run_pipeline_sql is its DuckDB twin.

Everything is lazy; `run_pipeline` builds exactly the chain the batch job
writes: `routed` is the sink table (plans/job.py adds only conv_bucket)
and every metric is aggregated from the written files, not here. The
plan shuffles the fact table on conv_id (protocol check and forward fill
share that window) and on (sink, shard_id) for the packing order; every
config join is broadcast.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import OUTCOME_ACCEPTED, PipelineConfig
from ..functions import sharding
from ..operators.enrich import enrich
from ..operators.forward_fill import forward_fill
from ..operators.pack import assign_batches
from ..operators.route import drop_unowned, fan_out, with_send_outcome
from ..operators.truncate import truncate_oversize
from ..operators.validate import split_valid
from ..sources import fixtures


@dataclass
class PipelineResult:
    rejected: DataFrame  # refused/dropped at the receiver
    routed: DataFrame    # fan-out + outcome + shard + batch_no: the sink table


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    cfg: PipelineConfig | None = None,
    routes: DataFrame | None = None,
    shards: list[dict] | None = None,
) -> PipelineResult:
    cfg = cfg or PipelineConfig()
    routes = routes if routes is not None else fixtures.routes_df(spark)
    service_dim = fixtures.service_dim_df(spark)
    shard_list = shards if shards is not None else sharding.even_shards(cfg.n_shards)

    # receiver stage: protocol validation (F1/S4) + node multiplexing (S3/W1)
    valid, rejected = split_valid(transcripts, cfg.backpressure_on)
    valid = forward_fill(valid)
    # XL truncation (P4) — rewrites text, marks fatal drops
    valid = truncate_oversize(valid, cfg)
    # enrich (J7/P9/P2)
    valid = enrich(valid, service_dim)

    # routing: fan-out (J6) + deterministic send outcomes (T6/A5/A6); a
    # fatal truncation drop keeps its outcome
    routed = fan_out(valid, routes)
    routed = with_send_outcome(routed, cfg)
    # shard assignment (J1-J3) on the routed stream, like the omnishard
    # exporter sharding each pipeline's output; a send no shard owns is
    # dropped
    routed = drop_unowned(sharding.assign_shard(routed, shard_list, "conv_id", "left"))
    # record packing (W3): batch_no for accepted rows only, NULL for
    # dropped sends — they never reach a record (hooks.go:128-160 orders
    # drop before flush); one scan via the gated cumsum
    routed = assign_batches(routed, cfg, gate=F.col("outcome") == OUTCOME_ACCEPTED)
    return PipelineResult(rejected=rejected, routed=routed)
