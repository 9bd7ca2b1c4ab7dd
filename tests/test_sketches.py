"""Round-4 session-11 sketch aggregates: HyperLogLog distinct counting
and count-min frequency estimation.

Oracle parity (value hash vs DuckDB) runs in test_oracle_parity.py;
these pin what the hash can't see — each sketch against a pure-python
reference (same md5 hashing, same integer estimator), the published
guarantees (CMS est ≥ exact; HLL register max idempotent under
duplication), and MERGEABILITY: the sketch of a union equals the
register-max / bucket-sum merge of per-part sketches — the property
that makes a 1000-executor rollup a map-side combine.
"""

from __future__ import annotations

import hashlib
import math
from collections import defaultdict

import pyarrow.parquet as pq

from seo_crawler_spark.operators.sketches import (
    CMS_D,
    CMS_W,
    HLL_ALPHA,
    HLL_CAP,
    HLL_LC_LIMIT,
    HLL_M,
    _hll_lc_table,
    cms_frequency,
    hll_distinct,
)

SF0001 = "/root/testdata/sf0.001"


def _md5int(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _tokens(text: str) -> list[str]:
    import re

    return re.findall(r"\w+", text.lower())


def _grams(text: str) -> list[str]:
    t = _tokens(text)
    return [" ".join(t[i : i + 3]) for i in range(len(t) - 2)]


def _docs(sf_dir: str):
    return pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["source", "text"]
    ).to_pylist()


# ---------------------------------------------------------------------------
# HLL
# ---------------------------------------------------------------------------


def _hll_registers(grams_by_src: dict[str, list[str]]) -> dict[str, list[int]]:
    regs = {s: [0] * HLL_M for s in grams_by_src}
    for s, gs in grams_by_src.items():
        for g in gs:
            h = _md5int(g)
            j = h % HLL_M
            w = h // HLL_M
            rho = min(55 - w.bit_length(), HLL_CAP) if w else HLL_CAP
            regs[s][j] = max(regs[s][j], rho)
    return regs


def _hll_estimate(reg: list[int]) -> tuple[int, str]:
    an, ad = HLL_ALPHA
    isum = sum(1 << (HLL_CAP - m) for m in reg)
    raw = (an * HLL_M * HLL_M * (1 << HLL_CAP)) // (ad * isum)
    zeros = sum(1 for m in reg if m == 0)
    if raw <= HLL_LC_LIMIT and zeros > 0:
        return _hll_lc_table()[zeros], "linear_counting"
    return raw, "raw"


def _hll_reference(sf_dir: str) -> dict[str, tuple[int, int, str]]:
    by_src = defaultdict(list)
    for r in _docs(sf_dir):
        by_src[r["source"]].extend(_grams(r["text"]))
    out = {}
    for s, regs in _hll_registers(by_src).items():
        est, method = _hll_estimate(regs)
        out[s] = (est, len(set(by_src[s])), method)
    return out


def test_hll_matches_python_reference(spark):
    ref = _hll_reference(SF0001)
    rows = hll_distinct(spark, SF0001).collect()
    got = {r.source: (r.est, r.exact, r.method) for r in rows}
    assert got == ref
    for r in rows:
        assert r.abs_err_bp == (abs(r.est - r.exact) * 10000) // r.exact


def test_hll_estimate_within_published_error(spark):
    # 1.04/√64 = 13% standard error; allow 4σ — a failure here means the
    # estimator arithmetic is wrong, not bad luck
    for r in hll_distinct(spark, SF0001).collect():
        assert abs(r.est - r.exact) <= 0.52 * r.exact + 3


def test_hll_registers_merge_and_dedup_invariance():
    # idempotence: feeding every gram twice changes NO register (why
    # HLL needs no dedup shuffle) — and register-wise max of per-part
    # sketches equals the sketch of the union (map-side combine)
    by_src = defaultdict(list)
    for r in _docs(SF0001):
        by_src[r["source"]].extend(_grams(r["text"]))
    src, gs = next(iter(by_src.items()))
    whole = _hll_registers({src: gs})[src]
    doubled = _hll_registers({src: gs + gs})[src]
    assert whole == doubled
    half = len(gs) // 2
    a = _hll_registers({src: gs[:half]})[src]
    b = _hll_registers({src: gs[half:]})[src]
    assert [max(x, y) for x, y in zip(a, b)] == whole


# ---------------------------------------------------------------------------
# CMS
# ---------------------------------------------------------------------------


def _cms_reference(sf_dir: str) -> dict[str, tuple[int, int]]:
    occ = []
    for r in _docs(sf_dir):
        occ.extend(_tokens(r["text"]))
    sketch = [[0] * CMS_W for _ in range(CMS_D)]
    for t in occ:
        for r in range(CMS_D):
            sketch[r][_md5int(f"cms{r}_{t}") % CMS_W] += 1
    exact: dict[str, int] = defaultdict(int)
    for t in occ:
        exact[t] += 1
    return {
        t: (
            min(sketch[r][_md5int(f"cms{r}_{t}") % CMS_W] for r in range(CMS_D)),
            c,
        )
        for t, c in exact.items()
    }


def test_cms_matches_python_reference(spark):
    ref = _cms_reference(SF0001)
    rows = cms_frequency(spark, SF0001).collect()
    got = {r.term: (r.est, r.exact) for r in rows}
    assert got == ref


def test_cms_guarantees(spark):
    rows = cms_frequency(spark, SF0001).collect()
    n = sum(r.exact for r in rows)
    over = 0
    for r in rows:
        # the one-sided CMS guarantee: collisions only ADD
        assert r.est >= r.exact
        assert r.overcount == r.est - r.exact
        # ε·N bound with ε = e/w (holds per row deterministically here
        # since the full bucket mass is an upper bound on any min)
        assert r.overcount <= n
        over += r.overcount > 0
    # w=16 vs a 31-type vocab: the collision path must actually fire
    assert over > 0


def test_cms_sketch_is_mergeable():
    # bucket-wise SUM of per-part sketches equals the whole sketch
    docs = _docs(SF0001)
    half = len(docs) // 2

    def build(rows):
        sk = [[0] * CMS_W for _ in range(CMS_D)]
        for rec in rows:
            for t in _tokens(rec["text"]):
                for r in range(CMS_D):
                    sk[r][_md5int(f"cms{r}_{t}") % CMS_W] += 1
        return sk

    whole = build(docs)
    a, b = build(docs[:half]), build(docs[half:])
    merged = [
        [x + y for x, y in zip(ra, rb)] for ra, rb in zip(a, b)
    ]
    assert merged == whole


# ---------------------------------------------------------------------------
# streaming HLL
# ---------------------------------------------------------------------------


def test_hll_stream_equals_batch_and_state_bounded(spark, tmp_path):
    from seo_crawler_spark.streaming.sketch_stream import (
        hll_distinct_stream,
    )

    stream = sorted(
        tuple(r) for r in hll_distinct_stream(spark, SF0001).collect()
    )
    batch = sorted(
        tuple(r) for r in hll_distinct(spark, SF0001).collect()
    )
    # register-wise max merge is exact → stream ≡ batch, row for row
    assert stream == batch


def test_hll_stream_state_stays_constant_size(spark):
    # the property no exact-distinct stream has: state ≤ |sources|·64
    # rows after EVERY batch, and version count == batch count
    import glob

    from seo_crawler_spark.operators.sketches import HLL_M
    from seo_crawler_spark.streaming.sketch_stream import stream_hll
    from seo_crawler_spark.streaming.versioned import _stage_batches
    from seo_crawler_spark.sources.tables import load

    import tempfile

    docs = load(spark, "documents", SF0001).select(
        "doc_id", "source", "text"
    )
    n_src = docs.select("source").distinct().count()
    work = tempfile.mkdtemp(prefix="hll_state_")
    _stage_batches(spark, docs, f"{work}/in", 4)
    stream_hll(spark, f"{work}/in", docs.schema, f"{work}/state")
    versions = sorted(glob.glob(f"{work}/state/v*"))
    assert len(versions) == 4
    for v in versions:
        assert spark.read.parquet(v).count() <= n_src * HLL_M


# ---------------------------------------------------------------------------
# histogram quantile sketch
# ---------------------------------------------------------------------------


def _lengths(sf_dir: str) -> list[int]:
    t = pq.read_table(f"{sf_dir}/documents.parquet", columns=["n_chars"])
    return [r["n_chars"] for r in t.to_pylist()]


def test_quantile_sketch_matches_python_reference(spark):
    from seo_crawler_spark.operators.sketches import (
        QSK_QS,
        QSK_W,
        length_quantile_sketch,
    )

    lens = _lengths(SF0001)
    hist = defaultdict(int)
    for v in lens:
        hist[v // QSK_W] += 1
    n = len(lens)
    svals = sorted(lens)
    ref = {}
    for q in QSK_QS:
        rank = (q * n + 99) // 100
        cum = 0
        for b in sorted(hist):
            cum += hist[b]
            if cum >= rank:
                break
        ref[q] = (rank, b, b * QSK_W, b * QSK_W + QSK_W - 1, svals[rank - 1])
    rows = length_quantile_sketch(spark, SF0001).collect()
    got = {r.q: (r.rank, r.bin, r.lo, r.hi, r.exact_val) for r in rows}
    assert got == ref
    # the sketch's ±bin guarantee: the exact value falls in the picked
    # bin whenever ranks agree — stated as the contained column
    assert all(r.contained for r in rows)


def test_quantile_histogram_is_mergeable():
    from seo_crawler_spark.operators.sketches import QSK_W

    lens = _lengths(SF0001)
    half = len(lens) // 2

    def build(vs):
        h = defaultdict(int)
        for v in vs:
            h[v // QSK_W] += 1
        return h

    whole, a, b = build(lens), build(lens[:half]), build(lens[half:])
    merged = defaultdict(int)
    for h in (a, b):
        for k, v in h.items():
            merged[k] += v
    assert dict(merged) == dict(whole)
