"""Node/Resource multiplexing — forward fill of missing per-turn metadata.

Reference: spans arriving without Node/Resource inherit the LAST non-nil
Node/Resource seen earlier on the same stream
(receiver/opencensusreceiver/octrace/opencensus.go:150-176; goldens
octrace/opencensus_test.go:172-304 — counts {initiator:1, node1:3,
node2:5}).

Spark-first: `last(col, ignorenulls=True)` over a conv_id window ordered
by turn_idx, frame [unboundedPreceding, currentRow] — the canonical
stateful-scan-as-window re-expression (SURVEY.md §2.6 W1). One shuffle on
conv_id, shared with every other per-conversation stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def forward_fill(df: DataFrame, cols: tuple[str, ...] = ("role", "tool")) -> DataFrame:
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = df
    for c in cols:
        out = out.withColumn(c, F.last(F.col(c), ignorenulls=True).over(w))
    return out

