"""A bucketed job needs at least one bucket: a count below 1 is refused,
not run as an empty job that writes nothing and reports success."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from apm_opentelemetry_collector_spark.plans.job import run_job
from apm_opentelemetry_collector_spark.sources.transcripts import synth_transcripts

SUBMIT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                      "scripts", "submit_job.py")


@pytest.mark.parametrize("n_buckets", [0, -2])
def test_run_job_refuses_bucket_count_below_one(spark, tmp_path, n_buckets):
    out = str(tmp_path / "job")
    with pytest.raises(ValueError, match=f"n_buckets={n_buckets}"):
        run_job(spark, synth_transcripts(spark, n_rows=100, n_convs=5), out,
                n_buckets=n_buckets)
    assert not os.path.exists(out)


def test_submit_job_refuses_negative_buckets(tmp_path):
    # argparse refuses it before a Spark session starts
    out = str(tmp_path / "o")
    proc = subprocess.run(
        [sys.executable, SUBMIT, "--synthetic", "2000", "--output", out,
         "--buckets", "-2"],
        capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 2, proc.stdout + proc.stderr
    assert "--buckets must be 0 (single pass) or more, not -2" in proc.stderr
    assert not os.path.exists(out)
