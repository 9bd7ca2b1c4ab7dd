"""Property-based invariants (SURVEY.md §5.5, hypothesis):
canonicalization idempotence + native/python agreement; seen anti-join
≡ Python-set semantics, in canonical space and in Spark under both
dedupe plans (plain and candidate-hash prefilter)."""

from __future__ import annotations

import random
import string

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from seo_crawler_spark.functions.urls import _canonicalize_py, url_hash
from seo_crawler_spark.operators.seen import dedupe_against_seen

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
    anti-join itself is checked below; this pins the canonical-space
    semantics under adversarial URL multisets)."""
    c = [_canonicalize_py(u) for u in cands]
    s = {_canonicalize_py(u) for u in seen}
    fresh = [u for u in c if u not in s]
    assert set(fresh) == set(c) - s
    assert all(u not in s for u in fresh)


def test_dedupe_against_seen_equals_set_semantics(spark):
    """Both dedupe plans return exactly the candidate rows whose url is
    not in seen, duplicates kept, against adversarial inputs: a
    candidate whose url_hash equals a seen row's while its url differs
    (a forced xxhash64 collision, which must survive), a duplicated
    candidate row and a null url."""
    from pyspark.sql import functions as F

    rng = random.Random(7)
    pool = [f"https://h{i % 5}.example.com/p/{i}.html" for i in range(120)]
    seen_urls = rng.sample(pool, 60)
    cand_rows = [(u, i) for i, u in enumerate(rng.choices(pool, k=150))]
    cand_rows += [cand_rows[0], cand_rows[1], (None, 1000)]
    seen = spark.createDataFrame([(u,) for u in seen_urls], "url string").select(
        url_hash(F.col("url")).alias("url_hash"), "url", F.lit(0).alias("wave")
    )
    cands = spark.createDataFrame(cand_rows, "url string, pos int").withColumn(
        "url_hash", url_hash(F.col("url"))
    )
    collider = seen.filter(F.col("url") == seen_urls[0]).select(
        F.lit("https://collide.example.com/").alias("url"),
        F.lit(1001).alias("pos"),
        "url_hash",
    )
    cands = cands.unionByName(collider)
    cand_rows.append(("https://collide.example.com/", 1001))

    seen_set = set(seen_urls)
    expected = sorted(
        (r for r in cand_rows if r[0] not in seen_set), key=repr
    )
    assert len(expected) < len(cand_rows)  # some candidates are seen
    for prefilter in (False, True):
        got = dedupe_against_seen(cands, seen, prefilter=prefilter).collect()
        assert sorted(((r["url"], r["pos"]) for r in got), key=repr) == expected
