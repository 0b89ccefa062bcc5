"""Probabilistic sampler — deterministic hash sampling (F4).

Reference: the upstream probabilisticsamplerprocessor (declared at
cmd/omnitelsvc/components.go:94) keeps a span iff a hash of its traceID
falls below the sampling-rate threshold — sampling is CONSISTENT per
trace, so whole conversations are kept or discarded together.

Spark-first: filter on the 16-bit md5(conv_id) prefix (F.conv, still
deterministic). Rates that are multiples of 1/16 cut on the first hex
digit, so a SQL oracle reproduces them exactly (0.25 ≡ digit < 4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sample_conversations(df: DataFrame, rate: float) -> DataFrame:
    """Consistent per-conversation sampling: md5 16-bit prefix < rate * 65536."""
    if not 0 <= rate <= 1:
        raise ValueError("rate in [0,1]")
    threshold = int(rate * 65536)
    prefix16 = F.conv(F.substring(F.md5(F.col("conv_id").cast("binary")), 1, 4), 16, 10).cast("bigint")
    return df.filter(prefix16 < threshold)

