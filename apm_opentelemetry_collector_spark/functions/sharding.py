"""md5 hash-range sharding — the reference's Kinesis-style routing core.

Reference semantics (exporter/omnishard/sharding_config.go):
  - partition key → md5 digest interpreted as a big-endian unsigned
    128-bit integer over [0, 2^128 - 1] (sharding_config.go:95-108);
  - a shard owns the inclusive range [startingHashKey, endingHashKey]
    (belongsToShard, sharding_config.go:90-93);
  - configs must be sorted by start, with start ≤ end and no overlaps
    (sharding_config.go:59-88).

Spark-first re-expression: the canonical hash-key representation is the
32-char lowercase hex md5 string. For fixed-length lowercase hex,
lexicographic string comparison is IDENTICAL to unsigned big-endian
numeric comparison, so shard assignment is a BETWEEN predicate on
strings — broadcast-nested-loop-joinable against the tiny config table,
expressible in any ANSI SQL oracle, and needing no 128-bit arithmetic at
run time. (A BinaryType variant would byte-compare the same way; hex keeps
oracles and goldens human-readable.)

The even-split generator mirrors the reference's test harness
(encoder_test.go:35-69): N contiguous shards covering [0, 2^128-1] with
prev_end + 1 == next_start and last end == 2^128 - 1.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.fixtures import local_table

HASH_SPACE_MAX = (1 << 128) - 1  # sharding_config.go:33-35


def hash_key_col(partition_key: Column | str) -> Column:
    """md5(partition_key) as 32-char lowercase hex (the canonical key)."""
    col = F.col(partition_key) if isinstance(partition_key, str) else partition_key
    return F.md5(col.cast("binary"))


def hash_key_py(partition_key: str) -> str:
    """Pure-Python oracle twin of hash_key_col (for goldens/tests)."""
    return hashlib.md5(partition_key.encode()).hexdigest()


def hash_key_int(partition_key: str) -> int:
    """128-bit big-endian integer form (reference sharding_config.go:95-98)."""
    return int.from_bytes(hashlib.md5(partition_key.encode()).digest(), "big")


def even_shards(n: int) -> list[dict]:
    """N contiguous shards evenly splitting [0, 2^128-1].

    Mirrors the reference test harness (encoder_test.go:35-69): shard ids
    'shard#i', contiguous inclusive ranges, final end = 2^128 - 1.
    Returned keys are canonical hex strings.
    """
    if n <= 0:
        raise ValueError("n must be positive")
    step = (HASH_SPACE_MAX + 1) // n
    shards = []
    for i in range(n):
        start = i * step
        end = HASH_SPACE_MAX if i == n - 1 else (i + 1) * step - 1
        shards.append(
            {
                "shard_id": f"shard#{i}",
                "start_key": f"{start:032x}",
                "end_key": f"{end:032x}",
            }
        )
    return shards


def validate_sharding_config(shards: list[dict]) -> list[dict]:
    """Sort + validate a sharding config (sharding_config.go:59-88).

    Sorts by start_key, then rejects:
      - start > end           (sharding_config.go:68-70)
      - overlapping ranges    (sharding_config.go:77-85)
    Returns the sorted config; raises ValueError on violation, mirroring
    the reference's load-time errors (sharding_config_test.go:26-64).
    """
    for s in shards:
        for k in ("start_key", "end_key"):
            v = s[k]
            if len(v) != 32 or any(c not in "0123456789abcdef" for c in v):
                raise ValueError(f"bad hash key {v!r} for shard {s['shard_id']}")
    ordered = sorted(shards, key=lambda s: s["start_key"])
    prev_end: str | None = None
    for s in ordered:
        if s["start_key"] > s["end_key"]:
            raise ValueError(
                f"shard {s['shard_id']}: startingHashKey > endingHashKey"
            )
        if prev_end is not None and s["start_key"] <= prev_end:
            raise ValueError(f"shard {s['shard_id']}: overlapping hash ranges")
        prev_end = s["end_key"]
    return ordered


def shards_df(spark: SparkSession, shards: list[dict]) -> DataFrame:
    """Tiny config DataFrame {shard_id, start_key, end_key} (validated)."""
    ordered = validate_sharding_config(shards)
    return local_table(
        spark,
        [(s["shard_id"], s["start_key"], s["end_key"]) for s in ordered],
        "shard_id string, start_key string, end_key string",
    )


def assign_shard(
    df: DataFrame,
    shards: DataFrame | list[dict],
    partition_key: str = "conv_id",
    how: str = "left",
) -> DataFrame:
    """Broadcast hash-range join: each row → its owning shard.

    The reference scans shards linearly per span (encoder.go:451-464, with
    a binary-search TODO). A naive Spark translation is a
    BroadcastNestedLoopJoin on the BETWEEN predicate — O(n_shards)
    comparisons per row, measurably slow at millions of rows. Instead the
    range join is bucketized into a broadcast EQUI-join: each shard range
    is exploded (driver-side, tiny) into the 2-hex-char prefixes it
    covers, rows join on their hash key's prefix (BroadcastHashJoin, O(1)
    per row), and the residual BETWEEN filter resolves prefixes straddling
    a shard boundary. Ranges are validated non-overlapping, so each row
    matches at most one shard. Rows matching no shard keep shard_id NULL
    ('no shard found', encoder.go:462); route.drop_unowned then drops
    them as FatalEncodingError.
    `shards` may be the config DataFrame or the plain shard list; the
    list path skips a shards_df + collect round trip per call
    (config is driver-side either way — the LUT below is identical
    because shards_df preserves validate_sharding_config order).
    """
    if isinstance(shards, DataFrame):
        rows = [
            (r["shard_id"], r["start_key"], r["end_key"])
            for r in shards.select("shard_id", "start_key", "end_key").collect()
        ]
        spark = shards.sparkSession
    else:
        rows = [
            (s["shard_id"], s["start_key"], s["end_key"])
            for s in validate_sharding_config(shards)
        ]
        spark = df.sparkSession
    exploded = []
    for shard_id, start, end in rows:
        for p in range(int(start[:2], 16), int(end[:2], 16) + 1):
            exploded.append((f"{p:02x}", shard_id, start, end))
    lut = local_table(
        spark,
        exploded,
        "lut_prefix string, shard_id string, start_key string, end_key string",
    )
    keyed = df.withColumn("hash_key", hash_key_col(partition_key)).withColumn(
        "hash_prefix", F.substring("hash_key", 1, 2)
    )
    # equality on the prefix + residual range check inside ONE join: ranges
    # don't overlap, so each row matches ≤ 1 lut entry — a left join emits
    # exactly one row per input (shard columns NULL when unowned).
    cond = (
        (F.col("hash_prefix") == F.col("lut_prefix"))
        & (F.col("hash_key") >= F.col("start_key"))
        & (F.col("hash_key") <= F.col("end_key"))
    )
    joined = keyed.join(F.broadcast(lut), cond, how)
    return joined.drop("start_key", "end_key", "hash_key", "hash_prefix", "lut_prefix")


def shard_of(partition_key: str, shards: list[dict]) -> str | None:
    """Pure-Python oracle: owning shard_id for a key (goldens)."""
    hk = hash_key_py(partition_key)
    for s in shards:
        if s["start_key"] <= hk <= s["end_key"]:
            return s["shard_id"]
    return None
