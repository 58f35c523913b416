"""Bloom shard tests (A1): zero false negatives, round-trips."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from sitecheck_spark.seen import BloomShard

_hashes = st.lists(
    st.integers(min_value=-(2**63), max_value=2**63 - 1), min_size=1, max_size=500
)


@settings(max_examples=50, deadline=None)
@given(_hashes)
def test_bloom_zero_false_negatives(hs):
    b = BloomShard.sized_for(len(hs))
    b.add(hs)
    assert b.contains(hs).all()


def test_bloom_fp_rate_reasonable():
    rng = np.random.default_rng(7)
    items = rng.integers(-(2**63), 2**63 - 1, 20_000, dtype=np.int64)
    b = BloomShard.sized_for(10_000, fp_rate=0.01)
    b.add(items[:10_000])
    assert b.contains(items[:10_000]).all()
    fp = b.contains(items[10_000:]).mean()
    assert fp < 0.03


def test_bloom_serialization_and_merge():
    b1 = BloomShard(1 << 12, 5)
    b2 = BloomShard(1 << 12, 5)
    b1.add([1, 2, 3])
    b2.add([100, 200])
    rt = BloomShard.from_bytes(b1.to_bytes())
    assert (rt.bits == b1.bits).all() and rt.n_hashes == 5
    m = b1.merge(b2)
    assert m.contains([1, 2, 3, 100, 200]).all()
