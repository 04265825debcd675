"""Bloom sketch invariants (pure numpy, no Spark).

Contract (SURVEY.md §2.4 M1): bloom has ZERO false negatives and
round-trips through bytes; correctness never depends on it (verified at
the seen-set level in test_seen.py).
"""

import hashlib

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from web_scraper_spark.sketches import Bloom


def sha1s(n, tag=""):
    return np.array(
        [hashlib.sha1(f"{tag}{i}".encode()).hexdigest() for i in range(n)], dtype=object
    )


def test_bloom_no_false_negatives():
    b = Bloom.for_capacity(5000, 0.01)
    keys = sha1s(5000)
    b.add_many(keys)
    assert b.contains_many(keys).all()


def test_bloom_fpp_reasonable():
    b = Bloom.for_capacity(5000, 0.01)
    b.add_many(sha1s(5000, "in"))
    fp = b.contains_many(sha1s(20000, "out")).mean()
    assert fp < 0.03  # 1% target, generous bound


def test_bloom_roundtrip_and_merge():
    b = Bloom.for_capacity(1000, 0.01)
    k1, k2 = sha1s(100, "a"), sha1s(100, "b")
    b.add_many(k1)
    r = Bloom.from_bytes(b.to_bytes())
    assert (r.n_bits, r.k, r.to_bytes()) == (b.n_bits, b.k, b.to_bytes())
    assert r.contains_many(k1).all()
    # the round-tripped bloom keeps taking keys, as the sketch fold does
    r.add_many(k2)
    assert r.contains_many(k1).all() and r.contains_many(k2).all()


def test_bloom_deterministic_bytes():
    b1 = Bloom.for_capacity(1000, 0.01)
    b2 = Bloom.for_capacity(1000, 0.01)
    keys = sha1s(500)
    b1.add_many(keys)
    b2.add_many(keys[::-1].copy())  # insertion order must not matter
    assert b1.to_bytes() == b2.to_bytes()


@settings(max_examples=25, deadline=None)
@given(st.lists(st.integers(0, 10**9), min_size=1, max_size=200, unique=True))
def test_bloom_property_no_false_negatives(ints):
    keys = np.array([hashlib.sha1(str(i).encode()).hexdigest() for i in ints], dtype=object)
    b = Bloom.for_capacity(len(keys), 0.01)
    b.add_many(keys)
    assert b.contains_many(keys).all()
