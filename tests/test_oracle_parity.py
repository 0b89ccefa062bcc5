"""Local replica of the driver's correctness gate.

Runs every __spark_entry__.queries() entry on Spark at sf0.001 and its
oracle_sql() twin on DuckDB over the same parquet, then compares
row counts, sorted column names, and values.

The driver's check is a VALUE HASH over the pandas frames (columns
sorted by name), so it is strict: an int64 on one side and a float64 on
the other (e.g. DuckDB promoting integer sum() to HUGEINT -> float64)
hashes differently even when numerically equal. Round 1 shipped 7 such
mismatches because this gate used a float-tolerance compare that let
int-vs-float pass with diff 0. The gate now (a) asserts TYPE-CLASS
agreement per cell (both integral or both float), and (b) requires
exact equality — floats included, since the driver hashes rendered
values and both engines bit-match on identical IEEE operation order.
A divergence here means the Spark and oracle plans perform arithmetic
in different orders; fix the operation order, don't relax the gate.
"""

from __future__ import annotations

import datetime as dt
import math

import pandas as pd
import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_TINY

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)

    def norm_cell(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return None
        if isinstance(v, (pd.Timestamp, dt.datetime)):
            return pd.Timestamp(v).isoformat()
        if hasattr(v, "item"):
            v = v.item()
        return v

    out = df.apply(lambda col: col.map(norm_cell))
    return out.sort_values(by=list(out.columns), na_position="first").reset_index(
        drop=True
    )


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, duck):
    sdf = QUERIES[name](spark, SF_TINY).toPandas()
    if name not in ORACLES:
        # rows-only contract (driver's weaker check): runs, stable schema
        assert len(sdf.columns) > 0
        assert len(sdf) >= 0
        return
    _assert_frames_match(name, sdf, duck.sql(ORACLES[name]).df())


# Spellings of 1-, 2-, 3- and 4-byte characters (and a mix), at character
# lengths around and well past the byte cap of the truncation queries.
MULTIBYTE_UNITS = ("a", "é", "中", "😀", "a中😀")
MULTIBYTE_LENGTHS = (100, 133, 134, 200, 201, 399, 400, 401, 700)


def test_truncation_queries_measure_bytes_on_multibyte_text(spark, tmp_path):
    """doc_truncation and xl_span_stats size text in UTF-8 bytes on both
    engines: the testdata documents are ASCII, where bytes and
    characters agree, so this runs both queries and their oracles on a
    small documents table of multibyte text around TRUNC_CAP. xl_size is
    also checked against the byte sizes computed in Python, since both
    engines could count characters alike."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    texts = [
        (unit * n)[:n] for unit in MULTIBYTE_UNITS for n in MULTIBYTE_LENGTHS
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(len(texts)), pa.int64()),
                "text": texts,
                "lang": ["xx"] * len(texts),
                "source": [f"src{i % 3}" for i in range(len(texts))],
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path / 'documents.parquet'}')"
    )
    try:
        for name in ("doc_truncation", "xl_span_stats"):
            sdf = QUERIES[name](spark, str(tmp_path)).toPandas()
            _assert_frames_match(name, sdf, con.sql(ORACLES[name]).df())
    finally:
        con.close()
    want = {}
    for i, t in enumerate(texts):
        n = len(t.encode())
        if n > entrymod.TRUNC_CAP:
            want[f"src{i % 3}"] = want.get(f"src{i % 3}", 0) + n
    # sdf holds xl_span_stats, the loop's last query
    assert dict(zip(sdf["source"], sdf["xl_size"])) == want


def _assert_frames_match(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> None:
    assert len(sdf) == len(odf), f"{name}: rowcount spark={len(sdf)} duck={len(odf)}"
    assert sorted(map(str.lower, sdf.columns)) == sorted(
        map(str.lower, odf.columns)
    ), f"{name}: columns differ: {sorted(sdf.columns)} vs {sorted(odf.columns)}"

    s = _normalize(sdf)
    o = _normalize(odf.rename(columns=dict(zip(odf.columns, map(str, odf.columns)))))
    o.columns = s.columns  # align case after sorting

    # pandas re-coerces None to NaN inside numeric columns, so nulls can
    # reappear as NaN after normalization — treat either spelling as NULL
    # (the driver's hasher renders both as the same "NULL" token)
    def _is_null(v):
        return v is None or (isinstance(v, float) and math.isnan(v))

    for col in s.columns:
        sv, ov = s[col], o[col]
        for i, (a, b) in enumerate(zip(sv, ov)):
            if _is_null(a) and _is_null(b):
                continue
            assert not (_is_null(a) or _is_null(b)), f"{name}.{col}[{i}]: {a!r} vs {b!r}"
            # Driver hashes values: 3 (int64) and 3.0 (float64) hash
            # differently. Catch the type-class skew before comparing.
            assert isinstance(a, float) == isinstance(b, float), (
                f"{name}.{col}[{i}]: type-class mismatch "
                f"{a!r} ({type(a).__name__}) vs {b!r} ({type(b).__name__}) — "
                "the driver's value-hash will fail; cast the oracle (or Spark) side"
            )
            assert a == b, f"{name}.{col}[{i}]: {a!r} vs {b!r}"
    # Hash twin of the driver's check: sorted-by-name columns, sorted rows,
    # hash of the rendered values. Redundant with the cell loop above by
    # construction, but asserts the exact artifact the driver grades.
    assert _value_hash(s) == _value_hash(o), f"{name}: value-hash mismatch"


def _value_hash(df: pd.DataFrame) -> str:
    import hashlib

    h = hashlib.sha256()
    for row in df.itertuples(index=False):
        h.update(repr(tuple(row)).encode())
    return h.hexdigest()
