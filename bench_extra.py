#!/usr/bin/env python
"""Per-query isolation harness (guide §1.4) — NOT the driver bench.

bench.py is frozen for measurement; this file exists so optimization
work can time a single query (or a short list) in a fresh JVM with the
noop sink, optionally under config overrides, without paying for the
whole headline. Usage:

    python bench_extra.py span_cores kmeans_assign --reps 3
    python bench_extra.py pipeline_e2e_synth --rows 2000000
    SPARK_GRAFT_EXTRA_CONF="spark.foo=bar,spark.baz=1" python bench_extra.py ...

Prints one JSON line: {"queries": {name: min_sec}, "samples": {...}}.
Reps are interleaved round-robin (host contention hits all queries
alike); a fresh DataFrame is built per rep (never time the same object
twice — stage reuse).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--rows", type=int, default=2000000, help="e2e synth rows")
    ap.add_argument("--sf", default=SF_DIR)
    ap.add_argument("--explain", action="store_true", help="print formatted plans, no timing")
    args = ap.parse_args()

    extra = {}
    for kv in filter(None, os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(",")):
        k, _, v = kv.partition("=")
        extra[k.strip()] = v.strip()

    from apm_opentelemetry_collector_spark.session import get_spark

    spark = get_spark(
        "bench_extra", cores=CPUS, shuffle_partitions=CPUS * 2, extra_conf=extra or None
    )
    import __spark_entry__ as entry

    from pyspark.sql import functions as F

    spark.range(1000).select(F.sum("id")).collect()  # warm codegen
    qmap = entry.queries()

    if args.explain:
        for name in args.queries:
            if name == "pipeline_e2e_synth":
                continue
            print(f"==== {name} ====")
            # df.explain prints the formatted plan itself (the JVM
            # explainString overload isn't py4j-reachable on Spark 4)
            qmap[name](spark, args.sf).explain("formatted")
        return

    times: dict[str, list[float]] = {n: [] for n in args.queries}
    workdir = tempfile.mkdtemp(prefix="bench_extra_")
    try:
        for _rep in range(args.reps):
            for name in args.queries:
                spark.sparkContext.setJobDescription(f"{name} rep{_rep}")
                if name == "pipeline_e2e_synth":
                    from bench import BENCH_CFG, time_pipeline_e2e

                    times[name].append(
                        time_pipeline_e2e(spark, args.rows, workdir)
                    )
                    continue
                t0 = time.time()
                qmap[name](spark, args.sf).write.format("noop").mode(
                    "overwrite"
                ).save()
                times[name].append(time.time() - t0)
                spark.sparkContext.setJobDescription(None)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    out = {
        "queries": {n: round(min(ts), 3) for n, ts in times.items()},
        "samples": {n: [round(t, 3) for t in ts] for n, ts in times.items()},
        "sf": args.sf,
        "conf": extra,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
