"""Driver-coverage window invariant.

The driver verifies the FIRST 50 queries() entries (r1: 44/44 checked,
r2/r3: exactly the first 50). After r3 every query has been
driver-checked at least once (r2 ∪ r3 union), so the standing policy is
newest/touched-first: anything new or implementation-touched this round
must sit inside that window, and everything past the cutoff must
already hold a hash-MATCH row in an earlier round's CORRECTNESS json.
This test freezes the invariant so a careless reorder can't silently
un-verify a query.
"""

from __future__ import annotations

import json
import os

import __spark_entry__ as entrymod

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
EARLIER_ROUNDS = [
    os.path.join(_ROOT, f"CORRECTNESS_r{i:02d}.json") for i in (2, 3, 4, 5, 6)
]

MUST_BE_IN_WINDOW = {
    # implementation-touched (outputs are hash-identical on the testdata,
    # but the touched-goes-in-window policy makes the correctness check
    # re-verify exactly the code that moved): byte-measured packing
    # (strlen oracle, record_stats), the package's flushed/dropped
    # aggregates, the single conversation sampler, the UTF-8 cut and
    # arithmetic marker length of XL truncation, and byte-measured
    # truncation and sent-bytes metrics
    "record_packing",
    "flushed_stats",
    "dropped_stats",
    "sampler_counts",
    "doc_truncation",
    "xl_span_stats",
    "sent_stats",
}


def test_window_covers_unverified_queries():
    names = list(entrymod.queries())
    window = set(names[:50])
    assert MUST_BE_IN_WINDOW <= window, MUST_BE_IN_WINDOW - window

    earlier = {}
    for path in EARLIER_ROUNDS:
        with open(path) as f:
            for name, row in json.load(f).items():
                if row.get("rows_match") and row.get("schema_match") and row.get("hash_match"):
                    earlier[name] = row
    for name in names[50:]:
        assert name in earlier, f"{name} past the cutoff with no earlier hash-MATCH row"


def test_every_query_has_oracle_or_documented_exception():
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    rows_only = {
        "record_encode_stats",
        "tdigest_value_quantiles",
        "value_percentiles_tdigest",
    }
    missing = set(qs) - set(oracles) - rows_only
    assert not missing, missing
    assert set(oracles) <= set(qs)
