"""OC metric → SignalFx datapoint translation + memorymonitor source (P3/S7).

Reference:
  - memorymonitor scrape source emits, per tick, one Metric per descriptor
    with a single-point TimeSeries (receiver/memorymonitor/monitor.go:68-115,
    toPBMetrics :203-214). The descriptor set is OS-CONDITIONAL
    (metrics.go:29-134 defines all 11; monitor.go:93-112 selects):
      common      memory.utilization (GAUGE_DOUBLE, %), memory.used
      windows     + memory.available
      non-windows + memory.free
      darwin      + memory.active, memory.inactive, memory.wired
      linux       + memory.buffered, memory.cached, memory.slab_reclaimable,
                    memory.slab_unreclaimable
    with the derived values (monitor.go:149-168):
      cached             = Cached - SReclaimable
      slab_unreclaimable = Slab - SReclaimable
  - the signalfx translator explodes Metric → TimeSeries → Point and maps
    {CUMULATIVE_* → counter, GAUGE_* → gauge}, {*_DOUBLE → double value,
    *_INT64 → int64 value} adding the constant dimension translator=otel
    (translator/metric/signalfx/opencensus_to_signalfx.go:28-88).

Spark-first: the scrape is a deterministic `spark.range` generator — a
synthetic mem.VirtualMemoryStat per (round, host) — producing the NESTED
Metric shape so the translator genuinely exercises explode; the translator
is explode + chained F.when — no UDFs (SURVEY.md §2.2 P3). The field and
value arithmetic lives ONCE as SQL expression strings (FIELD_SQL /
DESCRIPTORS) consumed verbatim by both the Spark plan (F.expr) and the
DuckDB oracle, so the two cannot drift.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Synthetic mem.VirtualMemoryStat: every field is a pure function of the
# per-(round, host) seed `s`. Cached/Slab embed SReclaimable so the
# reference's subtractions stay non-negative, as they are for real stats.
FIELD_SQL = {
    "used_percent": "(s % 1000) / 10.0",
    "used": "(s * 37) % 1000000 + 100000",
    "available": "(s * 41) % 1000000",
    "free": "(s * 43) % 1000000",
    "active": "(s * 47) % 1000000",
    "inactive": "(s * 53) % 1000000",
    "wired": "(s * 59) % 1000000",
    "buffers": "(s * 61) % 1000000",
    "sreclaimable": "(s * 71) % 100000",
    "cached": "(s * 67) % 1000000 + (s * 71) % 100000",
    "slab": "(s * 71) % 100000 + (s * 73) % 100000",
}

# (name, unit, oc_type, gate, value expression over FIELD_SQL columns) —
# the FULL descriptor set, reference order (metrics.go:122-134).
DESCRIPTORS = [
    ("memory.utilization", "%", "GAUGE_DOUBLE", "common", "used_percent"),
    ("memory.used", "By", "GAUGE_INT64", "common", "used"),
    ("memory.available", "By", "GAUGE_INT64", "windows", "available"),
    ("memory.free", "By", "GAUGE_INT64", "nonwindows", "free"),
    ("memory.active", "By", "GAUGE_INT64", "darwin", "active"),
    ("memory.inactive", "By", "GAUGE_INT64", "darwin", "inactive"),
    ("memory.wired", "By", "GAUGE_INT64", "darwin", "wired"),
    ("memory.buffered", "By", "GAUGE_INT64", "linux", "buffers"),
    ("memory.cached", "By", "GAUGE_INT64", "linux", "cached - sreclaimable"),
    ("memory.slab_reclaimable", "By", "GAUGE_INT64", "linux", "sreclaimable"),
    (
        "memory.slab_unreclaimable",
        "By",
        "GAUGE_INT64",
        "linux",
        "slab - sreclaimable",
    ),
]

N_ROUNDS = 10  # scrape ticks
N_HOSTS = 3
SCRAPE_INTERVAL_S = 10
BASE_TS = "2024-01-01 00:00:00"


def os_descriptors(os_name: str) -> list[tuple[str, str, str, str, str]]:
    """The descriptor subset a host of `os_name` emits (monitor.go:93-112)."""
    gates = {"common"}
    if os_name == "windows":
        gates.add("windows")
    else:
        gates.add("nonwindows")
    if os_name == "darwin":
        gates.add("darwin")
    if os_name == "linux":
        gates.add("linux")
    return [d for d in DESCRIPTORS if d[3] in gates]


def scrape_from_ids(ids: DataFrame, os_name: str, n_hosts: int) -> DataFrame:
    """Metric rows from a tick-id column: id enumerates (round, host)
    pairs; every value is the same pure function of id in the batch and
    streaming sources. Per (tick, host, descriptor) one Metric row with a
    single-point TimeSeries — exactly the shape monitor.go's
    scrapeAndEmit hands the consumer each tick."""
    # ONE inline(array(<descriptor structs>)) explode instead of an
    # 11-branch union: same rows (tick-major instead of descriptor-major
    # order — every consumer aggregates or sorts), one pass over the tick
    # table instead of eleven, and ~100 py4j round trips of per-branch
    # Column construction collapse into three selectExpr calls (r7:
    # construction was most of this source's wall time).
    fields = (
        ids.selectExpr(
            f"CAST(id / {n_hosts} AS BIGINT) AS r",
            f"id % {n_hosts} AS h",
        )
        .withColumn("s", F.expr("r * 9973 + h * 101"))
        .selectExpr(
            "r", "h", *[f"{sql} AS {k}" for k, sql in FIELD_SQL.items()]
        )
    )

    def _desc_struct(name: str, unit: str, oc_type: str, val: str) -> str:
        is_double = oc_type.endswith("DOUBLE")
        ival = "CAST(NULL AS BIGINT)" if is_double else f"CAST(({val}) AS BIGINT)"
        dval = f"CAST(({val}) AS DOUBLE)" if is_double else "CAST(NULL AS DOUBLE)"
        return (
            f"named_struct('name', '{name}', 'unit', '{unit}', "
            f"'oc_type', '{oc_type}', 'ival', {ival}, 'dval', {dval})"
        )

    structs = ", ".join(
        _desc_struct(name, unit, oc_type, val)
        for name, unit, oc_type, _gate, val in os_descriptors(os_name)
    )
    per_tick = fields.selectExpr(
        "concat('h', CAST(h AS STRING)) AS host",
        f"to_timestamp('{BASE_TS}') + make_interval(0, 0, 0, 0, 0, 0, "
        f"CAST(r * {SCRAPE_INTERVAL_S} AS INT)) AS _ts",
        f"inline(array({structs}))",
    )
    return per_tick.selectExpr(
        "name",
        "unit",
        "oc_type",
        "host",
        "array(named_struct('ts', _ts, 'ival', ival, 'dval', dval)) AS points",
    )


def memorymonitor_scrape(
    spark: SparkSession,
    os_name: str = "linux",
    n_rounds: int = N_ROUNDS,
    n_hosts: int = N_HOSTS,
) -> DataFrame:
    """Deterministic nested metric batch (oracle-checked source)."""
    # single partition: tens of rows per union branch — default
    # parallelism would schedule 32 empty tasks per branch
    return scrape_from_ids(
        spark.range(0, n_rounds * n_hosts, 1, 1), os_name, n_hosts
    )


def memorymonitor_stream(
    spark: SparkSession,
    os_name: str = "linux",
    n_hosts: int = N_HOSTS,
    rows_per_second: int = 100,
) -> DataFrame:
    """T2 streaming twin of the scrape ticker (monitor.go:48-61): the
    reference's time.Ticker loop maps to Structured Streaming's rate
    source — each rate row is one (round, host) tick, expanded into the
    SAME OS-conditional Metric rows as the batch generator (pure function
    of the rate `value`, so batch and stream emit identical rows for
    identical ids; asserted in tests/test_streaming.py)."""
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
        .select(F.col("value").alias("id"))
    )
    return scrape_from_ids(rate, os_name, n_hosts)


def detect_resource() -> tuple[str | None, dict[str, str]]:
    """S8 resource auto-detect (receiver.go:86-102): the reference calls
    OpenCensus auto.Detect, whose environment detector reads
    OC_RESOURCE_TYPE and OC_RESOURCE_LABELS (comma-separated k=v pairs,
    values optionally quoted) — that public contract, re-expressed."""
    rtype = os.environ.get("OC_RESOURCE_TYPE", "").strip() or None
    labels: dict[str, str] = {}
    for kv in os.environ.get("OC_RESOURCE_LABELS", "").split(","):
        if "=" in kv:
            k, v = kv.split("=", 1)
            labels[k.strip()] = v.strip().strip('"')
    return rtype, labels


def with_resource(
    metrics: DataFrame,
    rtype: str | None = None,
    labels: dict[str, str] | None = None,
) -> DataFrame:
    """Attach the detected Resource{Type, Labels} to every metric row —
    the monitor stamps each emitted Metric with the receiver's resource
    (monitor.go:203-214). Detection result enters the plan as literal
    columns (driver-side constants; broadcast-free)."""
    if rtype is None and labels is None:
        rtype, labels = detect_resource()
    labels = labels or {}
    if labels:
        lab = F.create_map(
            *[x for k, v in sorted(labels.items()) for x in (F.lit(k), F.lit(v))]
        )
    else:
        lab = F.lit(None).cast("map<string,string>")
    return metrics.withColumn(
        "resource_type", F.lit(rtype).cast("string")
    ).withColumn("resource_labels", lab)


def to_signalfx(metrics: DataFrame) -> DataFrame:
    """Explode Metric → Point rows with SignalFx typing.

    Output: name, unit, sf_type (counter|gauge), value (double — the
    int64/double oneof collapsed), ts, translator ('otel'), host.
    """
    pts = metrics.select(
        "name", "unit", "oc_type", "host", F.explode("points").alias("pt")
    )
    sf_type = F.when(
        F.col("oc_type").startswith("CUMULATIVE"), "counter"
    ).otherwise("gauge")
    value = F.coalesce(F.col("pt.dval"), F.col("pt.ival").cast("double"))
    return pts.select(
        "name",
        "unit",
        sf_type.alias("sf_type"),
        value.alias("value"),
        F.col("pt.ts").alias("ts"),
        F.lit("otel").alias("translator"),
        "host",
    )


def signalfx_oracle_sql(n_rounds: int = N_ROUNDS, n_hosts: int = N_HOSTS) -> str:
    """DuckDB twin of to_signalfx(memorymonitor_scrape(os)) for linux,
    darwin and windows, tagged with an `os` column — same FIELD_SQL /
    DESCRIPTORS strings verbatim."""
    fields_cols = ",\n         ".join(
        f"{sql} AS {k}" for k, sql in FIELD_SQL.items()
    )
    branches = []
    for os_name in ("linux", "darwin", "windows"):
        for name, unit, oc_type, _gate, val in os_descriptors(os_name):
            sf_type = "counter" if oc_type.startswith("CUMULATIVE") else "gauge"
            branches.append(
                f"""
SELECT '{os_name}' AS os, '{name}' AS name, '{unit}' AS unit,
       '{sf_type}' AS sf_type, CAST({val} AS DOUBLE) AS value,
       TIMESTAMP '{BASE_TS}' + to_seconds(r * {SCRAPE_INTERVAL_S}) AS ts,
       'otel' AS translator, 'h' || CAST(h AS VARCHAR) AS host
FROM fields"""
            )
    return (
        f"""
WITH rh AS (
  SELECT r, h, r * 9973 + h * 101 AS s
  FROM range({n_rounds}) t1(r), range({n_hosts}) t2(h)
), fields AS (
  SELECT r, h,
         {fields_cols}
  FROM rh
)"""
        + " UNION ALL ".join(branches)
    )
