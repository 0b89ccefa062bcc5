"""Property-based tests (hypothesis) over the pure-Python cores — the
sharding hash-range algebra and the record codec. The Go reference has
no property framework (SURVEY.md §5); these strengthen the invariants
its unit tests only spot-check."""

from __future__ import annotations

import gzip

from hypothesis import given, settings
from hypothesis import strategies as st

from apm_opentelemetry_collector_spark.config import RECORD_MAGIC
from apm_opentelemetry_collector_spark.functions import sharding
from apm_opentelemetry_collector_spark.operators.encode import decode_record

keys = st.text(
    alphabet=st.characters(codec="utf-8", exclude_characters="\x00"),
    min_size=0,
    max_size=64,
)


@given(keys, st.integers(min_value=1, max_value=512))
@settings(max_examples=200, deadline=None)
def test_every_key_owned_by_exactly_one_even_shard(key, n):
    sh = sharding.even_shards(n)
    owners = [
        s["shard_id"]
        for s in sh
        if s["start_key"] <= sharding.hash_key_py(key) <= s["end_key"]
    ]
    assert len(owners) == 1
    assert owners[0] == sharding.shard_of(key, sh)


@given(st.integers(min_value=1, max_value=512))
@settings(max_examples=100, deadline=None)
def test_even_shards_cover_space_without_overlap(n):
    sh = sharding.even_shards(n)
    assert sharding.validate_sharding_config(sh) == sh  # sorted, valid
    ints = [(int(s["start_key"], 16), int(s["end_key"], 16)) for s in sh]
    assert ints[0][0] == 0 and ints[-1][1] == sharding.HASH_SPACE_MAX
    for (s1, e1), (s2, e2) in zip(ints, ints[1:]):
        assert e1 + 1 == s2 and s1 <= e1 and s2 <= e2


@given(keys)
@settings(max_examples=200, deadline=None)
def test_hex_string_compare_equals_bigint_compare(key):
    # the engine's core invariant: lexicographic compare of the 32-char
    # hex md5 == unsigned 128-bit numeric compare
    hk = sharding.hash_key_py(key)
    assert len(hk) == 32
    assert int(hk, 16) == sharding.hash_key_int(key)


@given(
    st.lists(
        st.tuples(
            st.text(alphabet="abcdef0123456789-", min_size=1, max_size=16),
            st.integers(min_value=0, max_value=10**6),
            st.text(
                alphabet=st.characters(codec="utf-8", exclude_characters="\t\n\x00"),
                max_size=100,
            ),
        ),
        min_size=1,
        max_size=50,
    )
)
@settings(max_examples=100, deadline=None)
def test_record_codec_round_trip(rows):
    # mirror _encode_group's framing without Spark
    payload = "\n".join(f"{c}\t{i}\t{t}" for c, i, t in rows).encode("utf-8")
    data = RECORD_MAGIC + gzip.compress(payload)
    decoded = decode_record(data)
    assert decoded == [(c, i, t) for c, i, t in rows]
