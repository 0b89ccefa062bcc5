"""SQL API surface — temp views over the testdata tables + pipeline.

The engine is declared with the DataFrame API, which means every
operator is equally reachable from `spark.sql(...)`: register_views
exposes the raw tables, the derived transcripts, and the routed
pipeline output as temp views so an analyst can drive the whole thing
from SQL (the north_star names "DataFrame / SQL" as the query surface).
Views are lazy — registering costs nothing until a query runs, and
Catalyst optimizes SQL and DataFrame plans identically.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

TABLES = ("events", "documents")


def register_views(spark: SparkSession, sf_dir: str) -> list[str]:
    """Register temp views: the `events` and `documents` parquet tables,
    `transcripts` (frozen events→transcripts derivation), `routed`
    (run_pipeline's sink table: validate→fill→truncate→enrich→route→
    outcome→shard→pack) and `rejected`. Returns the view names
    registered."""
    from ..config import PipelineConfig
    from ..plans.pipeline import run_pipeline
    from .transcripts import derive_transcripts

    names = []
    from ..session import read_input_table

    for t in TABLES:
        read_input_table(spark, f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)
        names.append(t)
    tr = derive_transcripts(spark, sf_dir)
    tr.createOrReplaceTempView("transcripts")
    names.append("transcripts")
    res = run_pipeline(spark, tr, PipelineConfig())
    res.routed.createOrReplaceTempView("routed")
    res.rejected.createOrReplaceTempView("rejected")
    return names + ["routed", "rejected"]

