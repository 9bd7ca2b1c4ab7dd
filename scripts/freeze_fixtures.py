#!/usr/bin/env python
"""Freeze the golden crawl-order / seen-set fixtures (FIXTURES.md §5).

The fixtures pin the pure-Python ReferenceModel's output for the
standard corpus so accidental semantic drift in the MODEL itself (the
oracle!) is caught — the engine is separately compared to the model by
tests/test_frontier_engine.py."""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from seo_crawler_spark.reference_model import ReferenceModel
from seo_crawler_spark.sources.corpus import (
    _gen_doc,
    host_boundaries,
    seed_urls,
)

N_DOCS, N_HOSTS, SEED = 300, 5, 42


def build():
    bounds = host_boundaries(N_DOCS, N_HOSTS)
    corpus = {}
    for i in range(N_DOCS):
        d = _gen_doc(i, bounds, N_DOCS, SEED)
        corpus[d["doc_id"]] = d
    robots = {f"host{h}.example.com": ["/private/*"] for h in range(N_HOSTS)}
    model = ReferenceModel(corpus, robots, max_depth=3, max_urls=10_000)
    return model.crawl(seed_urls(N_HOSTS))


def main() -> int:
    r = build()
    with open(os.path.join(REPO, "fixtures", "crawl_order.json"), "w") as f:
        json.dump([{"url": u, "depth": d} for u, d in r["order"]], f, indent=1)
    with open(os.path.join(REPO, "fixtures", "seen_set.json"), "w") as f:
        json.dump(sorted(r["seen"]), f, indent=1)
    print(f"froze {len(r['order'])} ordered urls, {len(r['seen'])} seen")
    return 0


if __name__ == "__main__":
    sys.exit(main())
