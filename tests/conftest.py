from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from apm_opentelemetry_collector_spark.session import get_spark

SF_TINY = "/root/testdata/sf0.001"
SF_SMALL = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for name in ("events", "documents"):
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{SF_TINY}/{name}.parquet')"
        )
    yield con
    con.close()
