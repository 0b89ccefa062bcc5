"""Transcript input table — derivation + synthetic generators.

The engine's primary input is a table of multi-turn conversation/agent
transcripts with schema (BASELINE.json `input_hint`):

    conv_id:string, turn_idx:int32, role:string, text:string,
    tool:string, ts:timestamp

one row = one turn (the jaeger span analog, SURVEY.md §1.1; span fields at
reference exporter/omnishard/encoder.go:434, shard_encoder.go:245-251).

Two ways to obtain it here:

1. ``derive_transcripts(spark, sf_dir)`` — a DETERMINISTIC projection of
   the driver-provided ``events`` parquet into the transcript schema.
   Every rule is pure column arithmetic over (event_id, user_id,
   event_type, value, ts), so an independent ANSI-SQL oracle (DuckDB)
   reproduces it bit-for-bit. This powers the driver correctness gate.

2. ``synth_transcripts(spark, ...)`` — a seeded generator built on
   ``spark.range`` (fully distributed, no data movement, no Python on the
   hot path) for scale/skew tests: configurable row count, a hot
   conversation holding ~50% of rows (FIXTURES.md §1 skew variant), and
   protocol-violation / oversized-text edge rows.

Derivation rules (frozen — the DuckDB oracle in __spark_entry__.py and
functions/sqlgen.py must stay in lockstep):

    conv_id   = 'conv-' || lpad(user_id, 8, '0')
    turn_idx  = row_number() over (partition by user_id order by event_id) - 1
    base_tool = ['none','search','code','browser'][event_id % 4]
    severity  = 'ERROR' if event_type='error' else ('WARN' if value > 100 else 'INFO')
    toolfrag  = event_id % 5 == 0 → 'tool_call(name=<base_tool>, arg=a<event_id%7>) ' else ''
    text      = '[<severity>] <event_type> <toolfrag>value=<round(value*100)> k=<event_id%13>'
    role      = NULL if event_id % 97 == 0 else
                {'error':'tool','signup':'system','purchase':'assistant'}.get(event_type,'user')
    tool      = NULL if event_id % 11 == 0 else base_tool
    ts        = events.ts

The injected NULLs exercise the reference's node-multiplexing forward fill
(octrace/opencensus.go:150-165) and the Node-required protocol filter
(octrace/opencensus.go:120-121): a conversation whose turn 0 has NULL role
is refused wholesale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), False),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
    ]
)


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import read_input_table

    return read_input_table(spark, f"{sf_dir}/events.parquet")


def derive_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic events → transcripts projection (rules in module doc).

    All expressions are built-in Column functions (JVM-side, codegen'd);
    the single window (row_number per conversation) is the only shuffle,
    keyed on the natural partition key conv_id — at scale this is the same
    hash-partitioning the downstream pipeline reuses.
    """
    ev = load_events(spark, sf_dir)
    eid = F.col("event_id")

    base_tool = eid % 4
    base_tool_s = (
        F.when(base_tool == 0, "none")
        .when(base_tool == 1, "search")
        .when(base_tool == 2, "code")
        .otherwise("browser")
    )
    severity = (
        F.when(F.col("event_type") == "error", "ERROR")
        .when(F.col("value") > 100.0, "WARN")
        .otherwise("INFO")
    )
    toolfrag = F.when(
        eid % 5 == 0,
        F.concat(
            F.lit("tool_call(name="),
            base_tool_s,
            F.lit(", arg=a"),
            (eid % 7).cast("string"),
            F.lit(") "),
        ),
    ).otherwise("")
    text = F.concat(
        F.lit("["), severity, F.lit("] "),
        F.col("event_type"), F.lit(" "),
        toolfrag,
        F.lit("value="),
        F.round(F.col("value") * 100).cast("bigint").cast("string"),
        F.lit(" k="),
        (eid % 13).cast("string"),
    )
    role = F.when(eid % 97 == 0, F.lit(None).cast("string")).otherwise(
        F.when(F.col("event_type") == "error", "tool")
        .when(F.col("event_type") == "signup", "system")
        .when(F.col("event_type") == "purchase", "assistant")
        .otherwise("user")
    )
    tool = F.when(eid % 11 == 0, F.lit(None).cast("string")).otherwise(base_tool_s)

    w = Window.partitionBy("user_id").orderBy("event_id")
    return ev.select(
        F.concat(F.lit("conv-"), F.lpad(F.col("user_id").cast("string"), 8, "0")).alias(
            "conv_id"
        ),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        F.col("ts"),
    )


def synth_transcripts(
    spark: SparkSession,
    n_rows: int = 1_000_000,
    n_convs: int = 10_000,
    seed: int = 42,
    hot_conv_fraction: float = 0.0,
    oversize_every: int = 0,
    oversize_len: int = 2_000_000,
    partitions: int | None = None,
) -> DataFrame:
    """Seeded synthetic transcripts, pure function of (seed, row id).

    Built on ``spark.range`` so generation is embarrassingly parallel and
    entirely JVM-side (xxhash64 as the PRNG — deterministic, vectorized).

    hot_conv_fraction > 0 routes ~that fraction of rows to a single hot
    conversation (``conv-hot``) to exercise salted aggregation and AQE
    skew handling (FIXTURES.md §1 skew variant, SURVEY.md §4 item 1).

    oversize_every = k > 0 makes every k-th row's text exceed
    MAX_ALLOWED_SIZE_PER_SPAN via repeat() — the XL-span truncation path
    (reference shard_encoder.go:231-272).
    """
    df = spark.range(0, n_rows, 1, partitions or spark.sparkContext.defaultParallelism)
    rid = F.col("id")
    h = F.abs(F.xxhash64(rid, F.lit(seed)))

    conv_num = h % n_convs
    if hot_conv_fraction > 0:
        hot = (F.abs(F.xxhash64(rid, F.lit(seed + 1))) % 1000) < int(
            hot_conv_fraction * 1000
        )
        conv_id = F.when(hot, F.lit("conv-hot")).otherwise(
            F.concat(F.lit("conv-"), F.lpad(conv_num.cast("string"), 8, "0"))
        )
    else:
        conv_id = F.concat(F.lit("conv-"), F.lpad(conv_num.cast("string"), 8, "0"))

    role_i = h % 100
    role = (
        F.when(role_i < 2, F.lit(None).cast("string"))
        .when(role_i < 40, "user")
        .when(role_i < 80, "assistant")
        .when(role_i < 90, "system")
        .otherwise("tool")
    )
    tool_i = F.floor(h / 100) % 100
    tool = (
        F.when(tool_i < 5, F.lit(None).cast("string"))
        .when(tool_i < 45, "none")
        .when(tool_i < 65, "search")
        .when(tool_i < 85, "code")
        .otherwise("browser")
    )
    sev_i = F.floor(h / 10_000) % 10
    severity = F.when(sev_i < 6, "INFO").when(sev_i < 9, "WARN").otherwise("ERROR")
    body = F.concat(
        F.lit("["), severity, F.lit("] step "),
        (h % 13).cast("string"),
        F.when(
            h % 5 == 0,
            F.concat(F.lit(" tool_call(name=search, arg=a"), (h % 7).cast("string"), F.lit(")")),
        ).otherwise(""),
        F.lit(" value="), (h % 10_000).cast("string"),
        F.lit(" k="), (h % 13).cast("string"),
    )
    if oversize_every:
        body = F.when(
            rid % oversize_every == 0, F.repeat(F.lit("x"), oversize_len)
        ).otherwise(body)

    w = Window.partitionBy("conv_id").orderBy("id")
    out = (
        df.select(
            rid.alias("id"),
            conv_id.alias("conv_id"),
            role.alias("role"),
            body.alias("text"),
            tool.alias("tool"),
            (
                F.to_timestamp(F.lit("2024-01-01 00:00:00"))
                + F.make_interval(mins=(h % 40_320).cast("int"))
            ).alias("ts"),
        )
        .withColumn("turn_idx", (F.row_number().over(w) - 1).cast("int"))
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    )
    return out


def write_partitioned(df: DataFrame, path: str, n_buckets: int = 16) -> None:
    """Write transcripts in the large-scale layout: days(ts) + bucket(conv_id).

    Iceberg hidden partitioning (days(ts), bucket(N, conv_id)) is the
    production layout (north_star); without Iceberg jars in this sandbox we
    materialize the same pruning columns explicitly for parquet. Partition
    pruning on ts_day and conv_bucket then works identically.
    """
    (
        df.withColumn("ts_day", F.to_date("ts"))
        .withColumn("conv_bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)))
        .write.mode("overwrite")
        .partitionBy("ts_day", "conv_bucket")
        .parquet(path)
    )
