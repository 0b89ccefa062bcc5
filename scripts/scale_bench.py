#!/usr/bin/env python
"""Two-parallelism scaling evidence (BASELINE.md / north_rule protocol).

No multi-node cluster exists in this sandbox; the north_rule's
two-cluster-size criterion is evidenced by running the IDENTICAL job on
the IDENTICAL input at local[N] and local[4N] and reporting throughput at
both plus efficiency = (throughput_4N / throughput_N) / 4 (target ≥ 0.8).

Protocol (derived empirically — full notes in BENCH/BASELINE.md):
  * levels N=1 → 4N=4. The VM advertises 32 vCPUs but delivers ~10-12
    effective parallel cores (multiprocessing probe: 16 procs → 10.6×);
    1→4 sits inside the honest envelope.
  * input 32,000,000 turns (large enough that the ~5.5 s fixed cost —
    JVM codegen, AQE barriers, broadcast builds — is <15% of the 4-core
    runtime; small enough that shuffle partitions × concurrency fit in
    executor memory without spilling).
  * shuffle partitions fixed at 64 for BOTH levels: partition size
    (~120 MB) is chosen for the DATA, not the core count — undersizing
    to cores*2 makes 4 concurrent 2 GB sort tasks blow the execution-
    memory budget and spill (measured: 206 s vs 44 s).
  * measured job: the north-rule metric enrich → route →
    aggregate, terminal action = collecting the per-sink outcome
    aggregate. Sink-table writes are excluded here because a laptop's
    single disk does not scale with cores (a cluster's aggregate disk
    does); bench.py measures the write path.
  * REPS runs per level in separate JVMs, minimum taken — the shared VM
    shows sporadic 3-5× slowdowns from host contention; minima across
    interleaved reps recover the quiet-machine capacity at both levels
    symmetrically.

Usage: python scripts/scale_bench.py [rows] → one JSON line on stdout.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPS = 3
N_SMALL, N_BIG = 1, 4


def shuffle_partitions_for(rows: int) -> int:
    """Size partitions to the DATA (~500k turns ≈ 120 MB each), identical
    at both parallelism levels; 64 at the default 32M rows."""
    return max(64, rows // 500_000)

CHILD = r"""
import json, os, sys, time
sys.path.insert(0, {root!r})
from apm_opentelemetry_collector_spark.session import get_spark
from apm_opentelemetry_collector_spark.plans.pipeline import run_pipeline
from apm_opentelemetry_collector_spark.config import PipelineConfig
from apm_opentelemetry_collector_spark.operators.aggregate import sink_outcome_counts
from apm_opentelemetry_collector_spark.sources.transcripts import synth_transcripts
from pyspark.sql import functions as F

cores = {cores}
spark = get_spark("scale-%d" % cores, cores=cores,
                  shuffle_partitions={shuffle},
                  extra_conf={{"spark.sql.files.maxPartitionBytes": "32m"}})
inp = {inp!r}
if not os.path.isdir(inp):
    synth_transcripts(spark, n_rows={rows}, n_convs={rows} // 100,
                      partitions=64).write.mode("overwrite").parquet(inp)
spark.range(1000).select(F.sum("id")).collect()  # JVM/codegen warm-up
cfg = PipelineConfig(n_shards=32)
res = run_pipeline(spark, spark.read.parquet(inp), cfg)
t0 = time.time()
sink_outcome_counts(res.routed, cfg).collect()
print(json.dumps({{"cores": cores, "sec": time.time() - t0}}))
"""


def run_once(cores: int, rows: int, inp: str) -> float:
    code = CHILD.format(
        root=ROOT, cores=cores, rows=rows, inp=inp,
        shuffle=shuffle_partitions_for(rows)
    )
    res = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=1800
    )
    if res.returncode != 0:
        raise RuntimeError(res.stderr[-2000:])
    return json.loads(res.stdout.strip().splitlines()[-1])["sec"]


def main() -> None:
    rows = int(sys.argv[1]) if len(sys.argv) > 1 and sys.argv[1].isdigit() else 32_000_000
    inp = os.path.join(tempfile.mkdtemp(prefix="scale_"), "input")
    samples: dict[int, list[float]] = {N_SMALL: [], N_BIG: []}
    for _ in range(REPS):  # interleaved so host noise hits both levels alike
        for cores in (N_BIG, N_SMALL):
            samples[cores].append(run_once(cores, rows, inp))
    t_small, t_big = min(samples[N_SMALL]), min(samples[N_BIG])
    thr_small, thr_big = rows / t_small, rows / t_big
    eff = (thr_big / thr_small) / (N_BIG / N_SMALL)
    print(
        json.dumps(
            {
                "rows": rows,
                "cores_N": N_SMALL,
                "cores_4N": N_BIG,
                "sec_N": round(t_small, 2),
                "sec_4N": round(t_big, 2),
                "samples_N": [round(s, 2) for s in samples[N_SMALL]],
                "samples_4N": [round(s, 2) for s in samples[N_BIG]],
                "turns_per_sec_N": round(thr_small, 1),
                "turns_per_sec_4N": round(thr_big, 1),
                "scaling_efficiency": round(eff, 3),
                "job": "parse→enrich→route→aggregate (aggregate-terminal)",
            }
        )
    )


if __name__ == "__main__":
    main()
