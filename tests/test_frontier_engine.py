"""Golden crawl-order / seen-set parity: CrawlEngine (Spark waves) vs
the pure-Python ReferenceModel (FIFO deque semantics of the reference
crawler). The deterministic contract: scheduling order = BFS discovery
order; final seen set identical."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from seo_crawler_spark.operators import frontier
from seo_crawler_spark.operators.frontier import CrawlConfig, CrawlEngine
from seo_crawler_spark.reference_model import ReferenceModel
from seo_crawler_spark.sources.corpus import (
    generate_corpus,
    generate_robots,
    seed_urls,
)

N_DOCS, N_HOSTS = 300, 5
# jobs a steady wave of test_steady_waves_compile_no_classes submits,
# measured with that test on the engine before its one-wave-path cleanup
STEADY_WAVE_JOBS = 26


@pytest.fixture(scope="module")
def corpus_df(spark):
    df = generate_corpus(spark, n_docs=N_DOCS, n_hosts=N_HOSTS, seed=42)
    df = df.localCheckpoint(eager=True)
    return df


@pytest.fixture(scope="module")
def corpus_dict(corpus_df):
    return {r["doc_id"]: r.asDict() for r in corpus_df.collect()}


@pytest.fixture(scope="module")
def robots_df(spark):
    return generate_robots(spark, n_hosts=N_HOSTS, seed=42)


@pytest.fixture(scope="module")
def robots_dict(robots_df):
    return {r["host"]: list(r["disallow_globs"] or []) for r in robots_df.collect()}


def _run_pair(spark, corpus_df, corpus_dict, robots_df, robots_dict, **kw):
    seeds = seed_urls(N_HOSTS)
    model = ReferenceModel(corpus_dict, robots_dict, **kw)
    expected = model.crawl(seeds)

    cfg = CrawlConfig(**kw)
    engine = CrawlEngine(spark, corpus_df, robots_df, cfg)
    got = engine.run(seeds)
    return expected, got


def test_crawl_order_and_seen_match(spark, corpus_df, corpus_dict, robots_df, robots_dict):
    expected, got = _run_pair(
        spark, corpus_df, corpus_dict, robots_df, robots_dict,
        max_depth=2, max_urls=200,
    )
    # non-vacuous: expansion must actually happen beyond the seeds
    assert len(expected["order"]) > 20, expected["order"]

    got_order = [
        (r["url"], r["depth"])
        for r in got.pages.select("url", "depth", "seq").orderBy("seq").collect()
    ]
    assert [u for u, _ in got_order] == [u for u, _ in expected["order"]]
    assert [d for _, d in got_order] == [d for _, d in expected["order"]]

    got_seen = {r["url"] for r in got.seen.collect()}
    assert got_seen == expected["seen"]


def test_crawl_exhaustive_small(spark, corpus_df, corpus_dict, robots_df, robots_dict):
    """No budget cap: crawl to frontier exhaustion at depth 3."""
    expected, got = _run_pair(
        spark, corpus_df, corpus_dict, robots_df, robots_dict,
        max_depth=3, max_urls=10_000,
    )
    got_urls = [r["url"] for r in got.order.collect()]
    assert got_urls == [u for u, _ in expected["order"]]
    assert got.pages.count() == len(expected["order"])


def test_budget_cap_seen_matches_model(
    spark, corpus_df, corpus_dict, robots_df, robots_dict
):
    """When max_urls truncates the final wave, the reference still
    extracts + records links from every crawled page (link_manager
    add_url) — the seen set must match the model even under the cap."""
    expected, got = _run_pair(
        spark, corpus_df, corpus_dict, robots_df, robots_dict,
        max_depth=3, max_urls=15,
    )
    assert len(expected["order"]) == 15  # the cap actually bit
    got_urls = [r["url"] for r in got.order.collect()]
    assert got_urls == [u for u, _ in expected["order"]]
    assert {r["url"] for r in got.seen.collect()} == expected["seen"]
    # non-vacuous: discoveries beyond the crawled 15 are in seen
    assert len(expected["seen"]) > 15


def test_prefilter_same_result(
    spark, corpus_df, corpus_dict, robots_df, robots_dict, monkeypatch
):
    """The candidate-hash prefilter changes the dedupe plan, never the
    crawl: with it on from the first wave, order and seen set equal the
    default (plain anti-join) run's."""
    seeds = seed_urls(N_HOSTS)
    cfg = CrawlConfig(max_depth=2, max_urls=150)
    r_n = CrawlEngine(spark, corpus_df, robots_df, cfg).run(seeds)
    monkeypatch.setattr(frontier, "PREFILTER_MIN_SEEN", 0)
    plans = []  # the prefilter flag of every dedupe call
    dedupe = frontier.dedupe_against_seen
    monkeypatch.setattr(
        frontier, "dedupe_against_seen",
        lambda c, s, prefilter: plans.append(prefilter) or dedupe(c, s, prefilter),
    )
    r_p = CrawlEngine(spark, corpus_df, robots_df, cfg).run(seeds)
    assert plans and all(plans)
    op = [r["url"] for r in r_p.order.collect()]
    on = [r["url"] for r in r_n.order.collect()]
    assert op == on
    assert {r["url"] for r in r_p.seen.collect()} == {
        r["url"] for r in r_n.seen.collect()
    }


def test_politeness_budget_respected(spark, corpus_df, robots_df):
    """With a per-host budget, no wave schedules more than budget URLs of
    one host, and the crawl still reaches the same seen set eventually
    (politeness defers, never drops)."""
    seeds = seed_urls(N_HOSTS)
    cfg = CrawlConfig(
        max_depth=2, max_urls=10_000, politeness_budget=10,
        salt_buckets=2, max_waves=40,
    )
    got = CrawlEngine(spark, corpus_df, robots_df, cfg).run(seeds)
    per_wave_host = (
        got.pages.groupBy("wave", "host").count().collect()
    )
    # budget comes from robots crawl_delay: floor(60/delay) ≥ 20 > 10…
    # every host row must respect its own cap (cap = budget rounded up to
    # salt granularity: ceil(B/k)*k)
    from seo_crawler_spark.operators.politeness import host_budget

    delays = {r["host"]: r["crawl_delay"] for r in robots_df.collect()}
    import math

    for row in per_wave_host:
        b = host_budget(delays.get(row["host"], 1.0), 60.0)
        cap = math.ceil(b / 2) * 2
        assert row["count"] <= cap, (row, b, cap)

    # same final seen set as un-throttled run
    cfg2 = CrawlConfig(max_depth=2, max_urls=10_000)
    ref = CrawlEngine(spark, corpus_df, robots_df, cfg2).run(seeds)
    assert {r["url"] for r in got.seen.collect()} == {
        r["url"] for r in ref.seen.collect()
    }


def test_steady_waves_compile_no_classes(spark, corpus_df, robots_df, tmp_path):
    """From wave 3 on, a crawl wave compiles no generated Java: its plans
    carry no per-wave literal, the codegen cache holds the wave's working
    set and class names carry no stage id. A 1 s wave budgets every host
    to one page, so wave 1 is the first to defer and wave 2 the first to
    schedule from a deferred ∪ new frontier; from then on each wave has
    the same plan shape. Counted between control polls, so the snapshot
    commit is included, and checked against the ``codegen_compiles``
    each wave's metric records and persists. The same steady waves also
    submit a fixed number of Spark jobs, read per wave through a job
    group set at each poll (snapshot writes inherit it)."""
    from seo_crawler_spark.metrics import codegen_compiles
    from seo_crawler_spark.state.snapshots import SnapshotStore

    sc = spark.sparkContext
    polls: list[int] = []
    state = str(tmp_path / "state")
    cfg = CrawlConfig(
        max_depth=3, max_urls=10_000, politeness_budget=1, wave_seconds=1.0,
        max_waves=6,
    )

    def control():
        sc.setJobGroup(f"wave-{len(polls)}", "steady-wave job count")
        polls.append(codegen_compiles(spark))

    engine = CrawlEngine(spark, corpus_df, robots_df, cfg, state_dir=state)
    engine.control = control
    try:
        res = engine.run(seed_urls(N_HOSTS))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    polls.append(codegen_compiles(spark))
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = [len(sc.statusTracker().getJobIdsForGroup(f"wave-{k}")) for k in range(6)]
    assert len(set(jobs[3:])) == 1 and jobs[3] <= STEADY_WAVE_JOBS, jobs

    per_wave = [b - a for a, b in zip(polls, polls[1:])]
    assert len(res.metrics) == len(per_wave) == 6, per_wave
    assert per_wave[3:] == [0, 0, 0], per_wave
    recorded = [m["codegen_compiles"] for m in res.metrics]
    assert recorded[3:] == [0, 0, 0], recorded
    assert all(0 <= r <= p for r, p in zip(recorded, per_wave)), (recorded, per_wave)
    stored = SnapshotStore(state).metrics()
    assert [m["codegen_compiles"] for m in stored] == recorded
