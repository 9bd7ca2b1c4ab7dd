"""Checkpoint-resume: kill after wave k, resume, final tables identical
to an uninterrupted run (reference analogue crawler.py:374-495 — but
wave-atomic, no 1000-URL truncation)."""

from __future__ import annotations

import pytest

from seo_crawler_spark.operators.frontier import CrawlConfig, CrawlEngine
from seo_crawler_spark.sources.corpus import (
    generate_corpus,
    generate_robots,
    seed_urls,
)

N_DOCS, N_HOSTS = 250, 4


@pytest.fixture(scope="module")
def corpus_df(spark):
    return generate_corpus(spark, n_docs=N_DOCS, n_hosts=N_HOSTS, seed=11).localCheckpoint(
        eager=True
    )


@pytest.fixture(scope="module")
def robots_df(spark):
    return generate_robots(spark, n_hosts=N_HOSTS, seed=11)


def test_resume_equals_uninterrupted(spark, corpus_df, robots_df, tmp_path):
    _check_resume_equals_uninterrupted(
        spark, corpus_df, robots_df, tmp_path, bloom_min_seen=None
    )


def test_resume_equals_uninterrupted_bloom(spark, corpus_df, robots_df, tmp_path):
    """The bloom prune built from the restored seen table on resume
    (bloom_min_seen=0: from the first wave of every run) must give the
    crawl order of the uninterrupted exact run."""
    _check_resume_equals_uninterrupted(
        spark, corpus_df, robots_df, tmp_path, bloom_min_seen=0
    )


def _check_resume_equals_uninterrupted(
    spark, corpus_df, robots_df, tmp_path, bloom_min_seen
):
    seeds = seed_urls(N_HOSTS)
    state = str(tmp_path / "crawlstate")

    def cfg(**kw):
        return CrawlConfig(
            max_depth=3, max_urls=10_000, bloom_min_seen=bloom_min_seen, **kw
        )

    # uninterrupted reference run (exact anti-join only)
    full = CrawlEngine(
        spark, corpus_df, robots_df,
        CrawlConfig(max_depth=3, max_urls=10_000, bloom_min_seen=None),
    ).run(seeds)
    full_order = [(r["url"], r["wave"]) for r in full.order.collect()]
    assert len(full_order) > 20

    # interrupted: stop after 2 waves (simulated crash — wave snapshots
    # are the only surviving state)
    partial = CrawlEngine(
        spark, corpus_df, robots_df, cfg(max_waves=2), state_dir=state
    ).run(seeds)
    assert len(partial.metrics) == 2

    # resume from snapshots with a fresh engine instance
    resumed = CrawlEngine(
        spark, corpus_df, robots_df, cfg(), state_dir=state
    ).resume()

    got_order = [(r["url"], r["wave"]) for r in resumed.order.collect()]
    assert got_order == full_order
    assert {r["url"] for r in resumed.seen.collect()} == {
        r["url"] for r in full.seen.collect()
    }
    # link graph identical too (modulo row order)
    key = lambda df: sorted(
        (r["source_url"], r["target_url"], r["anchor_text"]) for r in df.collect()
    )
    assert key(resumed.links) == key(full.links)

    # append-only seen store must stay duplicate-free across resumes:
    # the restored seen set is already persisted in earlier wave dirs,
    # so a resumed run may only append genuine deltas
    from seo_crawler_spark.state.snapshots import SnapshotStore

    store = SnapshotStore(state)
    stored_seen = store.read_seen(spark, store.latest_wave())
    assert stored_seen.count() == stored_seen.select("url").distinct().count()
    assert stored_seen.count() == full.seen.count()

    # a second resume must not shift the (wave, seq) contract either:
    # frontier is exhausted, so it returns the same tables untouched
    again = CrawlEngine(
        spark, corpus_df, robots_df, cfg(), state_dir=state
    ).resume()
    assert [(r["url"], r["wave"]) for r in again.order.collect()] == full_order
    assert again.seen.count() == full.seen.count()


def test_pause_resume_and_status_lifecycle(spark, corpus_df, robots_df, tmp_path):
    """Pause after wave 1 → crawl row 'paused' → resume → identical final
    tables and 'completed'; a stale 'running' row is crash-marked
    'failed' on resume (reference crawler.py:344-372, main.py:1507-1524)."""
    from seo_crawler_spark.state.snapshots import SnapshotStore

    seeds = seed_urls(N_HOSTS)
    state = str(tmp_path / "pausestate")
    cfg = CrawlConfig(max_depth=2, max_urls=10_000, started_at="2026-08-16T00:00:00")

    full = CrawlEngine(spark, corpus_df, robots_df, cfg).run(seeds)
    full_order = [r["url"] for r in full.order.collect()]

    eng = CrawlEngine(spark, corpus_df, robots_df, cfg, state_dir=state)
    calls = iter([None, "pause"])  # wave 0 runs, then pause before wave 1
    eng.control = lambda: next(calls, "pause")
    paused = eng.run(seeds)
    store = SnapshotStore(state)
    assert store.crawl_status() == "paused"
    assert len(paused.metrics) == 1

    resumed = CrawlEngine(
        spark, corpus_df, robots_df, cfg, state_dir=state
    ).resume()
    assert store.crawl_status() == "completed"
    assert [r["url"] for r in resumed.order.collect()] == full_order
    history = [h["status"] for h in store.manifest()["crawl"]["history"]]
    assert history == ["running", "paused", "running", "completed"]

    # crash-marking: fake a process that died while 'running'
    store.set_crawl_status("running", "2026-08-16T01:00:00")
    assert store.mark_crashed_if_running() is True
    assert store.crawl_status() == "failed"
    assert store.mark_crashed_if_running() is False


def test_stop_marks_stopped(spark, corpus_df, robots_df, tmp_path):
    from seo_crawler_spark.state.snapshots import SnapshotStore

    state = str(tmp_path / "stopstate")
    eng = CrawlEngine(
        spark, corpus_df, robots_df,
        CrawlConfig(max_depth=2, max_urls=10_000), state_dir=state,
    )
    calls = iter([None, "stop"])
    eng.control = lambda: next(calls, "stop")
    eng.run(seed_urls(N_HOSTS))
    assert SnapshotStore(state).crawl_status() == "stopped"


def test_crawls_by_status_aggregate(spark, tmp_path):
    """Reference main.py:1313-1325: GROUP BY status over crawl rows."""
    from seo_crawler_spark.state.snapshots import SnapshotStore, crawls_by_status

    roots = []
    for i, st in enumerate(["completed", "completed", "paused", "failed"]):
        root = str(tmp_path / f"c{i}")
        SnapshotStore(root).set_crawl_status(st)
        roots.append(root)
    got = {r["status"]: r["n"] for r in crawls_by_status(spark, roots).collect()}
    assert got == {"completed": 2, "paused": 1, "failed": 1}


def test_recrawl_refresh_seeds(spark, corpus_df, robots_df, tmp_path):
    """resume(recrawl_before_wave=1) evicts + re-enqueues the wave-0
    URLs (seeds): they re-fetch at a new wave with fresh seq numbers,
    their links dedupe against the surviving seen set (no new
    discoveries), and the tombstoned seen state stays duplicate-free
    across a further plain resume."""
    from seo_crawler_spark.state.snapshots import SnapshotStore

    seeds = seed_urls(N_HOSTS)
    state = str(tmp_path / "refreshstate")
    cfg = lambda: CrawlConfig(max_depth=2, max_urls=10_000)
    first = CrawlEngine(
        spark, corpus_df, robots_df, cfg(), state_dir=state
    ).run(seeds)
    pages1 = first.pages.count()
    seen1 = {r["url"] for r in first.seen.collect()}
    wave0 = {r["url"] for r in first.seen.collect() if r["wave"] == 0}
    last_wave = max(r["wave"] for r in first.order.collect())

    res = CrawlEngine(
        spark, corpus_df, robots_df, cfg(), state_dir=state
    ).resume(recrawl_before_wave=1)

    # exactly the wave-0 set re-fetched, at the refresh wave
    new_pages = res.pages.filter(f"wave = {last_wave + 1}")
    assert {r["url"] for r in new_pages.collect()} == wave0
    assert res.pages.count() == pages1 + len(wave0)
    # seen set unchanged as a URL set, no duplicate rows
    seen_rows = res.seen.collect()
    assert {r["url"] for r in seen_rows} == seen1
    assert len(seen_rows) == len(seen1)
    # refreshed rows now carry the refresh wave
    by_url = {r["url"]: r["wave"] for r in seen_rows}
    assert all(by_url[u] == last_wave + 1 for u in wave0)

    # tombstones survive a plain re-read of the store: no resurrection
    store = SnapshotStore(state)
    reread = store.read_seen(spark, store.latest_wave()).collect()
    assert len(reread) == len(seen1)
    assert {r["url"] for r in reread} == seen1


def test_recrawl_full_refresh(spark, corpus_df, robots_df, tmp_path):
    """Evicting everything re-crawls the whole site exactly once more —
    page count doubles, seen set identical, still duplicate-free.
    max_depth exceeds the site diameter so the first crawl reaches the
    full closure; refreshed URLs restart at depth 0 (depth resets are
    refresh semantics — a depth-capped first crawl WOULD legitimately
    discover deeper pages on refresh)."""
    seeds = seed_urls(N_HOSTS)
    state = str(tmp_path / "fullrefresh")
    cfg = lambda: CrawlConfig(max_depth=30, max_urls=10_000)
    first = CrawlEngine(
        spark, corpus_df, robots_df, cfg(), state_dir=state
    ).run(seeds)
    pages1 = first.pages.count()
    seen1 = {r["url"] for r in first.seen.collect()}
    last_wave = max(r["wave"] for r in first.order.collect())

    res = CrawlEngine(
        spark, corpus_df, robots_df, cfg(), state_dir=state
    ).resume(recrawl_before_wave=last_wave + 1)
    assert res.pages.count() == 2 * pages1
    seen_rows = res.seen.collect()
    assert {r["url"] for r in seen_rows} == seen1
    assert len(seen_rows) == len(seen1)


def test_compact_and_vacuum_seen(spark, corpus_df, robots_df, tmp_path):
    """Compaction folds per-wave deltas + tombstones into one base dir;
    reads are identical before/after, resume still works, and vacuum
    leaves only referenced state. Run a refresh first so tombstones
    exist and compaction must fold them away."""
    from seo_crawler_spark.state.snapshots import SnapshotStore

    seeds = seed_urls(N_HOSTS)
    state = str(tmp_path / "compactstate")
    cfg = lambda: CrawlConfig(max_depth=2, max_urls=10_000)
    CrawlEngine(spark, corpus_df, robots_df, cfg(), state_dir=state).run(seeds)
    CrawlEngine(
        spark, corpus_df, robots_df, cfg(), state_dir=state
    ).resume(recrawl_before_wave=1)  # creates tombstones + refresh rows

    store = SnapshotStore(state)
    latest = store.latest_wave()
    before = sorted(
        tuple(r) for r in store.read_seen(spark, latest).collect()
    )
    w = store.compact_seen(spark)
    assert w == latest
    after = sorted(tuple(r) for r in store.read_seen(spark, latest).collect())
    assert after == before

    removed = store.vacuum_seen()
    assert removed  # old deltas + tombstones actually went away
    assert sorted(
        tuple(r) for r in store.read_seen(spark, latest).collect()
    ) == before

    # a further refresh-resume on compacted state behaves normally
    res = CrawlEngine(
        spark, corpus_df, robots_df, cfg(), state_dir=state
    ).resume(recrawl_before_wave=1)
    urls = {r["url"] for r in res.seen.collect()}
    assert {u for (_, u, _) in before} == urls


def test_compact_is_idempotent_and_rejects_regression(
    spark, corpus_df, robots_df, tmp_path
):
    """Retrying compact with nothing new committed is a no-op (NOT an
    overwrite of the dir being read); compacting to an earlier wave
    than the base is rejected."""
    from seo_crawler_spark.state.snapshots import SnapshotStore

    seeds = seed_urls(N_HOSTS)
    state = str(tmp_path / "idempstate")
    CrawlEngine(
        spark, corpus_df, robots_df, CrawlConfig(max_depth=2, max_urls=10_000),
        state_dir=state,
    ).run(seeds)
    store = SnapshotStore(state)
    latest = store.latest_wave()
    before = sorted(tuple(r) for r in store.read_seen(spark, latest).collect())

    assert store.compact_seen(spark) == latest
    store.vacuum_seen()
    # retry with no new waves: must not touch the base it reads from
    assert store.compact_seen(spark) == latest
    assert sorted(
        tuple(r) for r in store.read_seen(spark, latest).collect()
    ) == before
    with pytest.raises(ValueError, match="precedes"):
        store.compact_seen(spark, upto_wave=latest - 1 if latest else -1)


def test_orphan_tombstones_cleared_on_resume(
    spark, corpus_df, robots_df, tmp_path
):
    """A crashed refresh-resume leaves tombstones staged for a wave that
    never committed; a later plain resume must NOT publish them (they
    would erase seen rows with no replacement)."""
    from pyspark.sql import functions as F

    from seo_crawler_spark.state.snapshots import SnapshotStore

    seeds = seed_urls(N_HOSTS)
    state = str(tmp_path / "orphanstate")
    cfg = lambda **kw: CrawlConfig(max_depth=2, max_urls=10_000, **kw)
    # interrupted run: the resume below MUST commit wave latest+1 (where
    # the orphan sits) for this test to mean anything
    CrawlEngine(
        spark, corpus_df, robots_df, cfg(max_waves=1), state_dir=state
    ).run(seeds)
    store = SnapshotStore(state)
    latest = store.latest_wave()
    before = {
        r["url"] for r in store.read_seen(spark, latest).select("url").collect()
    }

    # simulate the crash: tombstones staged for wave latest+1, but that
    # wave never committed (no seen rows written for it either)
    victims = store.read_seen(spark, latest).limit(5).select(
        "url_hash", "url", "wave"
    )
    store.write_seen_tombstones(latest + 1, victims)

    res = CrawlEngine(
        spark, corpus_df, robots_df, cfg(), state_dir=state
    ).resume()
    store2 = SnapshotStore(state)
    after = {
        r["url"]
        for r in store2.read_seen(spark, store2.latest_wave())
        .select("url")
        .collect()
    }
    assert before <= after  # nothing silently erased


def test_staging_and_trash_swept_on_resume(spark, corpus_df, robots_df, tmp_path):
    """Dot-prefixed staging/trash leftovers (a crash mid
    _write_wave_atomic) are swept by clear_staging on resume — including
    ones whose embedded wave number is <= latest committed, which the
    orphan-tombstone wave rule alone would never touch."""
    import os

    from seo_crawler_spark.state.snapshots import SnapshotStore

    state = str(tmp_path / "stagingstate")
    CrawlEngine(
        spark,
        corpus_df,
        robots_df,
        CrawlConfig(max_depth=2, max_urls=10_000, max_waves=1),
        state_dir=state,
    ).run(seed_urls(N_HOSTS))
    store = SnapshotStore(state)
    latest = store.latest_wave()
    leftovers = [
        os.path.join(state, "pages", ".staging-wave=0"),
        os.path.join(state, "seen", f".trash-wave={latest}"),
        os.path.join(state, "seen_deletes", ".staging-wave=0"),
    ]
    for d in leftovers:
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "junk"), "w") as f:
            f.write("x")

    removed = store.clear_orphan_tombstones(latest)
    for d in leftovers:
        assert not os.path.isdir(d), d
    assert set(removed) >= set(leftovers)


def test_wave_orphan_replaced_without_partial_visibility(
    spark, corpus_df, robots_df, tmp_path
):
    """An orphan wave dir (renamed but manifest-commit crashed) is
    replaced via rename-aside: after the rewrite the final dir holds the
    NEW write only, and no trash/staging dirs remain."""
    import os

    from seo_crawler_spark.state.snapshots import SnapshotStore

    state = str(tmp_path / "orphanwave")
    store = SnapshotStore(state)
    df1 = spark.range(5).selectExpr("id", "'old' AS tag")
    df2 = spark.range(3).selectExpr("id", "'new' AS tag")
    store._write_wave_atomic(df1, "pages", 0)  # the orphan
    store._write_wave_atomic(df2, "pages", 0)  # resume's rewrite
    got = spark.read.parquet(store._wave_dir("pages", 0))
    assert got.count() == 3
    assert {r["tag"] for r in got.select("tag").distinct().collect()} == {"new"}
    names = os.listdir(os.path.join(state, "pages"))
    assert names == ["wave=0"]


def test_dashboard_schema_matches_written_pages(
    spark, corpus_df, robots_df, tmp_path
):
    """PAGE_SCHEMA (the dashboard's cold-start stream schema) must agree
    name+type with the parquet commit_wave actually writes — otherwise a
    dashboard attached before wave 0 silently reads nulls after a schema
    drift instead of failing."""
    from seo_crawler_spark.schema import PAGE_SCHEMA
    from seo_crawler_spark.state.snapshots import SnapshotStore

    state = str(tmp_path / "schemastate")
    CrawlEngine(
        spark,
        corpus_df,
        robots_df,
        CrawlConfig(max_depth=2, max_urls=10_000, max_waves=1),
        state_dir=state,
    ).run(seed_urls(N_HOSTS))
    store = SnapshotStore(state)
    written = spark.read.parquet(store._wave_dir("pages", store.latest_wave())).schema
    # nullability normalized (parquet round-trips relax NOT NULL):
    # simpleString carries names + types but not nullability
    written_types = {f.name: f.dataType.simpleString() for f in written.fields}
    pinned_types = {f.name: f.dataType.simpleString() for f in PAGE_SCHEMA.fields}
    # every aggregated dashboard column must exist in BOTH, same type
    for col in ("status_code", "depth", "wave", "word_count"):
        assert written_types.get(col) == pinned_types.get(col) != None  # noqa: E711
    # and the pinned schema must not drift from the written one at all
    drift = {
        n: (pinned_types[n], written_types[n])
        for n in pinned_types.keys() & written_types.keys()
        if pinned_types[n] != written_types[n]
    }
    assert drift == {}


# -- metrics sidecar (O(1) per-wave append; manifest stays depth-free) ----


def test_metrics_sidecar_last_wins_and_committed_filter(tmp_path):
    import json

    from seo_crawler_spark.state.snapshots import SnapshotStore

    store = SnapshotStore(str(tmp_path))
    store._commit_manifest({"waves": [0, 1], "latest_wave": 1})
    with open(store._metrics_path, "w") as f:
        f.write(json.dumps({"wave": 0, "scheduled": 3}) + "\n")
        f.write(json.dumps({"wave": 1, "scheduled": 5}) + "\n")
        # resume re-committed wave 1: the later line supersedes
        f.write(json.dumps({"wave": 1, "scheduled": 7}) + "\n")
        # appended but its manifest commit never happened (crash window)
        f.write(json.dumps({"wave": 2, "scheduled": 9}) + "\n")
        f.write('{"wave": 3, "sched')  # torn tail write
    ms = store.metrics()
    assert [m["wave"] for m in ms] == [0, 1]
    assert ms[1]["scheduled"] == 7


def test_metrics_legacy_manifest_metrics_still_readable(tmp_path):
    from seo_crawler_spark.state.snapshots import SnapshotStore

    store = SnapshotStore(str(tmp_path))
    store._commit_manifest(
        {"waves": [0], "latest_wave": 0,
         "metrics": [{"wave": 0, "scheduled": 2}]}
    )
    assert store.metrics() == [{"wave": 0, "scheduled": 2}]


def test_persisted_phases_match_in_memory(spark, corpus_df, robots_df, tmp_path):
    """Round-4 verdict #7: the persisted per-wave metric must carry the
    SAME five phase timings the in-memory CrawlResult reports — fold is
    marked before commit_wave and snapshot via the on_data_written hook
    before the metric serializes, so neither copy may lag the other."""
    from seo_crawler_spark.state.snapshots import SnapshotStore

    state = str(tmp_path / "phstate")
    res = CrawlEngine(
        spark, corpus_df, robots_df,
        CrawlConfig(max_depth=2, max_urls=10_000),
        state_dir=state,
    ).run(seed_urls(N_HOSTS))
    stored = {m["wave"]: m for m in SnapshotStore(state).metrics()}
    assert len(res.metrics) >= 2
    for mem in res.metrics:
        per = stored[mem["wave"]]
        assert set(per["phases"]) == set(mem["phases"]) == {
            "sched", "fetch_extract", "expand", "fold", "snapshot"
        }
        assert per["phases"] == mem["phases"]
