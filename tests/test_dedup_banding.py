"""MinHash banding configurations: the production 128-hash/32-band
setting must run the same plan shape and achieve full recall against
brute-force ground truth on high-similarity near-dups (candidate
probability 1-(1-J^4)^32 ≈ 1 for J ≥ 0.7), with exact precision from the
Jaccard verify stage."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from apm_opentelemetry_collector_spark.operators.dedup import (
    CI_BANDING,
    PRODUCTION_BANDING,
    MinHashConfig,
    jaccard,
    minhash_lsh_dedup,
    shingles,
)

THRESHOLD = 0.5


def _corpus(spark):
    rows = []
    for i in range(8):
        toks = [f"tok{i}x{j}" for j in range(40)]
        rows.append((f"d{i:02d}a", " ".join(toks)))
        # near-dup: one token replaced (char-shingle jaccard ≈ 0.9)
        dup = list(toks)
        dup[7] = "REPLACED"
        rows.append((f"d{i:02d}b", " ".join(dup)))
    # unrelated documents
    for i in range(8):
        rows.append((f"u{i:02d}", " ".join(f"zq{i}w{j}" for j in range(40))))
    return spark.createDataFrame(rows, "doc_id string, text string")


def _ground_truth(spark, docs):
    ids = docs.select(F.col("doc_id").alias("id_a"))
    pairs = (
        ids.crossJoin(docs.select(F.col("doc_id").alias("id_b")))
        .filter(F.col("id_a") < F.col("id_b"))
    )
    sh = shingles(docs)
    return {
        (r["id_a"], r["id_b"])
        for r in jaccard(pairs, sh).filter(F.col("jaccard") >= THRESHOLD).collect()
    }


def test_production_banding_full_recall(spark):
    docs = _corpus(spark)
    want = _ground_truth(spark, docs)
    assert len(want) == 8  # each base with exactly its near-dup

    got = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_dedup(
            docs, THRESHOLD, cfg=PRODUCTION_BANDING
        ).collect()
    }
    # verify stage guarantees precision; 32 bands guarantee recall at J≈0.9
    assert got == want


def test_ci_banding_subset_of_truth(spark):
    docs = _corpus(spark)
    want = _ground_truth(spark, docs)
    got = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_dedup(docs, THRESHOLD, cfg=CI_BANDING).collect()
    }
    assert got <= want and got  # exact-verified: never a false positive


def test_banding_config_validates():
    with pytest.raises(ValueError):
        MinHashConfig(n_hashes=10, n_bands=4)
    assert PRODUCTION_BANDING.rows_per_band == 4


def test_distinct_scope_equality(spark):
    """The two shuffle plans (corpus-wide distinct vs candidate-scoped
    distinct with raw-shingle signatures) must produce IDENTICAL pairs —
    min over a multiset equals min over its set, and Jaccard only ever
    sees set-deduped candidate shingles."""
    docs = _corpus(spark)
    key = lambda df: {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9)) for r in df.collect()
    }
    for base in (CI_BANDING, PRODUCTION_BANDING):
        a = minhash_lsh_dedup(
            docs, THRESHOLD,
            cfg=MinHashConfig(base.n_hashes, base.n_bands, base.est_min, "corpus"),
        )
        b = minhash_lsh_dedup(
            docs, THRESHOLD,
            cfg=MinHashConfig(base.n_hashes, base.n_bands, base.est_min, "candidates"),
        )
        assert key(a) == key(b) and len(key(a)) > 0


def test_distinct_scope_validates():
    with pytest.raises(ValueError, match="distinct_scope"):
        MinHashConfig(distinct_scope="nope")


def test_semdedup_keeps_one_per_planted_group(spark):
    """Three planted groups of near-identical vectors (plus spread-out
    singletons): exactly the lowest-id member of each group survives,
    every singleton survives, and n_similar counts the group peers."""
    import numpy as np

    from apm_opentelemetry_collector_spark.operators.dedup import semdedup

    rng = np.random.default_rng(7)
    rows = []
    # groups of 3 near-identical vectors at separated centers
    for g in range(3):
        center = np.zeros(64)
        center[g * 20 : g * 20 + 20] = 5.0
        for j in range(3):
            v = center + 0.01 * rng.standard_normal(64)
            rows.append((g * 3 + j, [float(x) for x in v]))
    # singletons: pairwise-orthogonal-ish one-hot tails
    for s in range(4):
        v = np.zeros(64)
        v[60 - s] = 3.0
        rows.append((100 + s, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semdedup(df, threshold=0.9, k=3, iters=2).toPandas()
    assert len(out) == 13
    kept = set(out[out["keep"]]["vec_id"])
    # lowest id of each planted group + all singletons
    assert {0, 3, 6, 100, 101, 102, 103} <= kept
    assert not ({1, 2, 4, 5, 7, 8} & kept)
    grp = out[out["vec_id"] < 9]
    assert (grp["n_similar"] == 2).all()        # each sees its 2 peers
    assert (out[out["vec_id"] >= 100]["n_similar"] == 0).all()


def test_semdedup_chain_collapses_to_lowest_id(spark):
    """Chain semantics: with a…b similar and b…c similar but a…c NOT
    similar, b drops (smaller-id neighbor a) and c also drops (its
    smaller-id neighbor is b, dropped or not) — a similarity chain
    collapses to its lowest id, and n_similar counts only each doc's
    OWN τ-neighbors (b sees 2, a and c see 1)."""
    import numpy as np

    from apm_opentelemetry_collector_spark.operators.dedup import semdedup

    # unit vectors at 0°, 30°, 60° in a 2-D plane of 64-dim space:
    # cos(30°)≈0.866 crosses τ=0.8, cos(60°)=0.5 does not
    def vec(theta):
        v = np.zeros(64)
        v[0], v[1] = np.cos(theta), np.sin(theta)
        return [float(x) for x in v]

    rows = [(0, vec(0.0)), (1, vec(np.pi / 6)), (2, vec(np.pi / 3))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semdedup(df, threshold=0.8, k=1, iters=1).toPandas().set_index("vec_id")
    assert bool(out.loc[0, "keep"])
    assert not bool(out.loc[1, "keep"]) and not bool(out.loc[2, "keep"])
    assert out["n_similar"].tolist() == [1, 2, 1]


def test_semdedup_chain_with_largest_id_interior_keeps_both_flanks(spark):
    """The PRECISE keep-rule semantics (r6 review finding): when the
    chain's interior holds the LARGEST id — edges 0–2 and 1–2 only —
    doc 1's sole τ-neighbor is the larger id 2, so BOTH 0 and 1
    survive; a transitive group may retain more than one doc. Strict
    one-per-component is dedup_components on the τ-pair list."""
    import numpy as np

    from apm_opentelemetry_collector_spark.operators.dedup import semdedup

    def vec(theta):
        v = np.zeros(64)
        v[0], v[1] = np.cos(theta), np.sin(theta)
        return [float(x) for x in v]

    # 0 at 0°, 1 at 60°, 2 at 30°: 0–2 and 1–2 cross τ=0.8, 0–1 does not
    rows = [(0, vec(0.0)), (1, vec(np.pi / 3)), (2, vec(np.pi / 6))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semdedup(df, threshold=0.8, k=1, iters=1).toPandas().set_index("vec_id")
    assert bool(out.loc[0, "keep"]) and bool(out.loc[1, "keep"])
    assert not bool(out.loc[2, "keep"])
    assert out["n_similar"].tolist() == [1, 1, 2]


def test_dedup_canonical_keeps_longest_per_group(spark):
    """Planted near-dup group → exactly one survivor (the longest, ties
    to the smaller id); unrelated docs are singletons and survive."""
    from apm_opentelemetry_collector_spark.operators.dedup import dedup_canonical

    base = " ".join(f"tok{j}" for j in range(60))
    rows = [
        (0, base + " short"),
        (1, base + " a longer tail here"),      # longest → canonical
        (2, base + " short"),                    # ties with 0 on length
        (3, "completely different " + " ".join(f"z{j}" for j in range(40))),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in dedup_canonical(docs).collect()}
    grp = {i for i in range(3) if out[i]["component"] == out[0]["component"]}
    assert grp == {0, 1, 2}
    assert [out[i]["keep"] for i in (0, 1, 2)] == [False, True, False]
    assert out[3]["keep"] and out[3]["component"] == 3
    # pairs=... injection path: custom pair set overrides the minhash step
    pairs = spark.createDataFrame([(0, 3)], "id_a long, id_b long")
    out2 = {r["doc_id"]: r for r in dedup_canonical(docs, pairs=pairs).collect()}
    assert out2[0]["component"] == out2[3]["component"] == 0
    # doc 0 (60 tok-words) is longer than doc 3 → canonical
    assert out2[0]["keep"] and not out2[3]["keep"]
