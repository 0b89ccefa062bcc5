"""SparkSession builder tuned for the transcript pipeline.

Local-mode settings follow the sandbox contract (local[N], single JVM);
cluster-scale intent is expressed through the same confs — AQE, adaptive
skew-join, shuffle-partition sizing — which carry over unchanged to a
multi-executor deployment.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "apm-otel-collector-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cores defaults to $SPARK_GRAFT_CPUS (driver contract) else all cores.

    Shuffle sizing serves two engines:
      - batch queries run with AQE on, so every exchange starts at
        `spark.sql.adaptive.coalescePartitions.initialPartitionNum` =
        shuffle_partitions (default 2×cores, 32 under local[*]; on a
        real cluster ~2-3× total executor cores) and AQE coalesces the
        small ones at runtime;
      - a streaming query always runs with AQE off and uses
        `spark.sql.shuffle.partitions` as is: it is the number of state
        partitions, i.e. state tasks per micro-batch. It is set to the
        slot count (defaultParallelism), so the stateful stage runs in
        one wave. A state task has a fixed cost (Python worker, state
        store load and commit) of ~0.3 s whatever its share of the
        rows: on 4 vCPUs, a micro-batch of 3,750 rows over 400
        conversations takes 1.0 s in 4 state tasks and 1.6 s in 8
        (two waves).
    An explicit extra_conf "spark.sql.shuffle.partitions" wins.
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        cores = int(env) if env else 0  # 0 → local[*]
    master = f"local[{cores}]" if cores else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = (cores * 2) if cores else 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(shuffle_partitions),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # the expr-string operators (parse._sql_str, the selectExpr
        # builders) escape their SQL literals for the default parser;
        # pin it so an override cannot silently change their regexes
        .config("spark.sql.parser.escapedStringLiterals", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # let the planner pick shuffled-hash joins when the build side
        # fits (guide §3.1 / §9): skips both sort passes of sort-merge;
        # AQE still falls back / skew-splits, and partitions are sized
        # by the advisory target so per-task hash maps stay bounded
        .config(
            "spark.sql.join.preferSortMergeJoin",
            os.environ.get("SPARK_GRAFT_PREFER_SMJ", "false"),
        )
        # shuffle blocks never cross a NIC in local mode and the scratch
        # disk outruns lz4 here (measured on a window-heavy query's
        # shuffle: 2.3 s → 1.4 s), so compression is pure CPU overhead
        # locally. On a network-bound cluster set
        # SPARK_GRAFT_SHUFFLE_COMPRESS=true (and consider zstd) — the
        # byte ratio dominates there.
        .config(
            "spark.shuffle.compress",
            os.environ.get("SPARK_GRAFT_SHUFFLE_COMPRESS", "false"),
        )
        .config(
            "spark.shuffle.spill.compress",
            os.environ.get("SPARK_GRAFT_SHUFFLE_COMPRESS", "false"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        # parquet writer defaults — zstd is the file-level analog of the
        # reference's per-record gzip (shard_encoder.go:308-322)
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, str(v))
    spark = builder.getOrCreate()
    if "spark.sql.shuffle.partitions" not in (extra_conf or {}):
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
        )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def file_listing(spark: SparkSession, paths) -> list[tuple[str, int, int]]:
    """Sorted (path, size, mtime) of every file under `paths` (files or
    directories; missing ones list nothing), read through Hadoop's
    FileSystem in the driver with no Spark job."""
    jvm, conf = spark.sparkContext._jvm, spark.sparkContext._jsc.hadoopConfiguration()
    out = []
    for p in paths:
        hp = jvm.org.apache.hadoop.fs.Path(p)
        fs = hp.getFileSystem(conf)
        if not fs.exists(hp):
            continue
        it = fs.listFiles(hp, True)
        while it.hasNext():
            st = it.next()
            out.append(
                (st.getPath().toString(), st.getLen(), st.getModificationTime())
            )
    return sorted(out)


_PARQUET_SCHEMAS: dict[tuple, object] = {}


def read_input_table(spark: SparkSession, path: str):
    """spark.read.parquet with the inferred schema cached per path and
    file listing.

    Plain read.parquet infers the schema with a small driver job per
    call (~0.1-0.6 s + one job here); for the static input tables the
    schema never changes, so cache that METADATA — never data: every
    action still scans the parquet files — and pass it explicitly, which
    plans with no job. The key includes the listing's names, sizes and
    mtimes, so a path rewritten between reads (even with another schema)
    misses the cache and is inferred afresh.
    """
    key = (path, tuple(file_listing(spark, [path])))
    sch = _PARQUET_SCHEMAS.get(key)
    if sch is None:
        df = spark.read.parquet(path)
        _PARQUET_SCHEMAS[key] = df.schema
        return df
    return spark.read.schema(sch).parquet(path)
