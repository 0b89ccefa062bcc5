"""Kill-replay test: a killed job replays ONLY incomplete partitions
(north_star resumability; analog of the reference's retry/drain
invariants, encoder.go:226-263)."""

from __future__ import annotations

import contextlib

import pytest

from apm_opentelemetry_collector_spark.plans.job import (
    completed_buckets,
    read_all_manifests,
    run_job,
)
from apm_opentelemetry_collector_spark.sources.transcripts import synth_transcripts

N_BUCKETS = 4


def test_kill_replay_resumes_incomplete_only(spark, tmp_path):
    tr = synth_transcripts(spark, n_rows=4_000, n_convs=80)

    out_dir = str(tmp_path / "job")
    # first attempt dies after 2 of 4 buckets
    with pytest.raises(RuntimeError, match="injected failure"):
        run_job(spark, tr, out_dir, n_buckets=N_BUCKETS, fail_after=2)
    assert len(completed_buckets(out_dir)) == 2

    # resume: must run exactly the 2 remaining buckets
    res = run_job(spark, tr, out_dir, n_buckets=N_BUCKETS)
    assert sorted(res.buckets_skipped) == sorted(completed_buckets(out_dir))[:2] or len(
        res.buckets_skipped
    ) == 2
    assert len(res.buckets_run) == 2

    # resumed output == clean-run output (manifest counts + checksums)
    clean_dir = str(tmp_path / "clean")
    run_job(spark, tr, clean_dir, n_buckets=N_BUCKETS)
    resumed = {m["bucket"]: m for m in read_all_manifests(out_dir)}
    clean = {m["bucket"]: m for m in read_all_manifests(clean_dir)}
    assert resumed.keys() == clean.keys() == set(range(N_BUCKETS))
    for b in clean:
        for key in ("n_buckets", "routed_rows", "by_outcome", "rejected_rows",
                    "checksum"):
            assert resumed[b][key] == clean[b][key], (b, key)

    # idempotent re-run: nothing left to do
    res2 = run_job(spark, tr, out_dir, n_buckets=N_BUCKETS)
    assert res2.buckets_run == [] and len(res2.buckets_skipped) == N_BUCKETS


def test_single_pass_mode(spark, tmp_path):
    tr = synth_transcripts(spark, n_rows=2_000, n_convs=40)
    out_dir = str(tmp_path / "single")
    res = run_job(spark, tr, out_dir, n_buckets=None)
    assert res.buckets_run == [0]
    m = read_all_manifests(out_dir)[0]
    assert m["routed_rows"] > 0 and m["n_buckets"] is None
    # conservation recorded in the manifest
    assert m["routed_rows"] == sum(m["by_outcome"].values())


@pytest.mark.parametrize("first, second", [(None, 16), (16, 8)])
def test_resume_refuses_other_bucket_layout(spark, tmp_path, first, second):
    """Manifests record n_buckets: bucket ids of another layout name other
    rows, so resuming under it would skip or double-count rows."""
    tr = synth_transcripts(spark, n_rows=1_000, n_convs=20)
    out_dir = str(tmp_path / "job")
    with contextlib.suppress(RuntimeError):
        run_job(spark, tr, out_dir, n_buckets=first, fail_after=1)
    assert len(completed_buckets(out_dir)) == 1

    with pytest.raises(ValueError, match=f"n_buckets={first}.*n_buckets={second}"):
        run_job(spark, tr, out_dir, n_buckets=second)
    assert len(completed_buckets(out_dir)) == 1


def test_resume_refuses_changed_config(spark, tmp_path):
    """Manifests record the job fingerprint: a resume under another cfg
    would mix buckets sharded and dropped under two configs."""
    from apm_opentelemetry_collector_spark.config import PipelineConfig

    tr = synth_transcripts(spark, n_rows=1_000, n_convs=20)
    out_dir = str(tmp_path / "job")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_job(spark, tr, out_dir, n_buckets=N_BUCKETS, fail_after=1)

    with pytest.raises(ValueError, match="another config"):
        run_job(spark, tr, out_dir, cfg=PipelineConfig(n_shards=8),
                n_buckets=N_BUCKETS)
    assert len(completed_buckets(out_dir)) == 1


def test_resume_refuses_changed_routes(spark, tmp_path):
    """The fingerprint covers the routing table: a resume under other
    routes would mix buckets routed by two tables. The same rows in
    another order are the same table."""
    from apm_opentelemetry_collector_spark.sources import fixtures

    tr = synth_transcripts(spark, n_rows=1_000, n_convs=20)
    out_dir = str(tmp_path / "job")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_job(spark, tr, out_dir, n_buckets=N_BUCKETS, fail_after=1,
                routes=fixtures.routes_df(spark))

    fewer = spark.createDataFrame(fixtures.ROUTES[:-1], fixtures.ROUTES_SCHEMA)
    for routes in (None, fewer):
        with pytest.raises(ValueError, match="another routing table"):
            run_job(spark, tr, out_dir, n_buckets=N_BUCKETS, routes=routes)
    assert len(completed_buckets(out_dir)) == 1

    reordered = spark.createDataFrame(fixtures.ROUTES[::-1], fixtures.ROUTES_SCHEMA)
    res = run_job(spark, tr, out_dir, n_buckets=N_BUCKETS, routes=reordered)
    assert len(res.buckets_run) == N_BUCKETS - 1


def test_resume_refuses_rewritten_input(spark, tmp_path):
    """The fingerprint covers the input listing: a resume after the input
    files were rewritten must not reuse _bucketed or the old manifests."""
    inp = str(tmp_path / "input")
    synth_transcripts(spark, n_rows=1_000, n_convs=20).write.parquet(inp)
    out_dir = str(tmp_path / "job")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_job(spark, spark.read.parquet(inp), out_dir, n_buckets=N_BUCKETS,
                fail_after=1)

    synth_transcripts(spark, n_rows=1_200, n_convs=30).write.mode(
        "overwrite"
    ).parquet(inp)
    with pytest.raises(ValueError, match="another input listing"):
        run_job(spark, spark.read.parquet(inp), out_dir, n_buckets=N_BUCKETS)
    assert len(completed_buckets(out_dir)) == 1


def test_resume_reuses_materialized_bucketed_input(spark, tmp_path):
    """A resumed run must NOT rescan/rewrite the raw input: the
    _bucketed layout materialized before the crash is reused (the
    _SUCCESS marker gates it)."""
    import os

    tr = synth_transcripts(spark, n_rows=2_000, n_convs=40)
    out_dir = str(tmp_path / "job")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_job(spark, tr, out_dir, n_buckets=N_BUCKETS, fail_after=1)

    marker = os.path.join(out_dir, "_bucketed", "_SUCCESS")
    assert os.path.exists(marker)
    mtime_before = os.path.getmtime(marker)

    res = run_job(spark, tr, out_dir, n_buckets=N_BUCKETS)
    assert len(res.buckets_run) == N_BUCKETS - 1
    assert os.path.getmtime(marker) == mtime_before  # untouched on resume


def test_bucket_count_mismatch_fails_fast(spark, tmp_path):
    """ADVICE r2: a pre-bucketed layout written with MORE buckets than
    this run's n_buckets must raise, not silently drop the out-of-range
    buckets' rows."""
    from apm_opentelemetry_collector_spark.sources.transcripts import (
        write_partitioned,
    )

    tr = synth_transcripts(spark, n_rows=2_000, n_convs=40)
    layout = str(tmp_path / "layout8")
    write_partitioned(tr, layout, n_buckets=8)
    pre = spark.read.parquet(layout)

    with pytest.raises(ValueError, match="conv_bucket"):
        run_job(spark, pre, str(tmp_path / "job"), n_buckets=4)

    # matching count still works
    res = run_job(spark, pre, str(tmp_path / "job_ok"), n_buckets=8)
    assert len(res.buckets_run) == 8


def test_bucket_count_undershoot_warns(spark, tmp_path):
    """ADVICE r3: a layout written with FEWER buckets than requested is
    processed exactly once (no loss) but must WARN — buckets past the
    written layout stay empty and resume granularity follows the layout."""
    import warnings as warnings_mod

    from apm_opentelemetry_collector_spark.sources.transcripts import (
        write_partitioned,
    )

    tr = synth_transcripts(spark, n_rows=2_000, n_convs=40)
    layout = str(tmp_path / "layout4")
    write_partitioned(tr, layout, n_buckets=4)
    pre = spark.read.parquet(layout)

    with warnings_mod.catch_warnings(record=True) as caught:
        warnings_mod.simplefilter("always")
        res = run_job(spark, pre, str(tmp_path / "job16"), n_buckets=16)
    assert any("populates only buckets [0, 4)" in str(w.message) for w in caught)
    # all 16 manifests exist (12 for empty buckets), and the totals equal
    # a matching-layout run — rows processed exactly once, none lost
    assert len(res.manifests) == 16
    ok = run_job(spark, pre, str(tmp_path / "job4"), n_buckets=4)
    key = lambda r: (
        sum(m["routed_rows"] for m in r.manifests),
        sum(m["rejected_rows"] for m in r.manifests),
        sum(m["checksum"] for m in r.manifests),
    )
    assert key(res) == key(ok)
