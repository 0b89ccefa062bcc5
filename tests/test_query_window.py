"""Driver-coverage invariant.

The driver verifies the FIRST 50 queries() entries in insertion order.
With 50 or fewer, every query is checked every round, so no ordering
policy is needed; this test keeps it that way.
"""

from __future__ import annotations

import __spark_entry__ as entrymod


def test_window_covers_unverified_queries():
    assert len(entrymod.queries()) <= 50


def test_every_query_has_oracle_or_documented_exception():
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    rows_only = {"record_encode_stats"}
    missing = set(qs) - set(oracles) - rows_only
    assert not missing, missing
    assert set(oracles) <= set(qs)
