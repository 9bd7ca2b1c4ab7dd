#!/usr/bin/env python
"""Long-run planning-cost evidence (VERDICT r2 #6): a politeness-throttled
crawl forced through ~150-200 waves, with the in-memory seen folding ON
(cfg.seen_fold_every=16) vs OFF (huge threshold). Without folding the
per-wave anti-join scans a lazy union of O(waves) delta parts, so late
waves pay ever-growing planning/scheduling time; with folding the plan
stays <=16 parts deep and per-wave time is flat.

Prints one JSON line: waves run and early/late per-wave seconds for both
modes (early = waves 5-15 mean, late = last-10 mean).

Env knobs (defaults reproduce the r3 121-wave table):
  LONG_RUN_DOCS=900         corpus size (sets max_urls too)
  LONG_RUN_MAX_WAVES=250    wave cap
  LONG_RUN_MODES=fold16,nofold
  LONG_RUN_STATE=0          1 → per-wave snapshots to a tmp state dir
  LONG_RUN_COMPACT_EVERY=0  k>0 → compact_seen+vacuum_seen every k waves
                            (via the between-waves control poll — the
                            maintenance-daemon pattern an Iceberg table
                            would run against a live writer)"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile

sys.path.insert(0, "/root/repo")  # script lives in scripts/

DOCS = int(os.environ.get("LONG_RUN_DOCS", 900))
DEPTH = int(os.environ.get("LONG_RUN_DEPTH", 6))
MAX_WAVES = int(os.environ.get("LONG_RUN_MAX_WAVES", 250))
MODES = os.environ.get("LONG_RUN_MODES", "fold16,nofold").split(",")
USE_STATE = os.environ.get("LONG_RUN_STATE", "0") == "1"
COMPACT_EVERY = int(os.environ.get("LONG_RUN_COMPACT_EVERY", 0))
BUDGET = int(os.environ.get("LONG_RUN_BUDGET", 3))


def main() -> int:
    from seo_crawler_spark.operators.frontier import CrawlConfig, CrawlEngine
    from seo_crawler_spark.session import get_spark
    from seo_crawler_spark.sources.corpus import (
        generate_corpus,
        seed_urls,
    )

    spark = get_spark("long-run", master="local[32]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    corpus = generate_corpus(spark, n_docs=DOCS, n_hosts=3, seed=11).localCheckpoint(
        eager=True
    )

    def run(fold_every: int):
        from seo_crawler_spark.state.snapshots import SnapshotStore

        state_dir = tempfile.mkdtemp(prefix="longrun_state_") if USE_STATE else None
        control = None
        if state_dir and COMPACT_EVERY:
            store = SnapshotStore(state_dir)
            calls = [0]

            def control():
                calls[0] += 1
                if calls[0] % COMPACT_EVERY == 0:
                    store.compact_seen(spark)
                    store.vacuum_seen()
                return None

        # robots=None so the politeness default_budget is what throttles
        # (a robots crawl_delay would override it with a far larger
        # per-wave budget and the run would drain in ~a dozen waves)
        eng = CrawlEngine(
            spark,
            corpus,
            None,
            CrawlConfig(
                max_depth=DEPTH,
                max_urls=DOCS,
                crawl_external=True,
                politeness_budget=BUDGET,
                max_waves=MAX_WAVES,
                bloom_min_seen=None,  # exact anti-join: the union IS the cost
                seen_fold_every=fold_every,
            ),
            state_dir=state_dir,
        )
        eng.control = control  # between-waves poll (maintenance hook)
        res = eng.run(seed_urls(3))
        secs = [m["seconds"] for m in res.metrics]
        waves_m = res.metrics
        crawled = res.metrics[-1]["crawled_total"]
        n_seen_dirs = None
        if state_dir:
            seen_root = os.path.join(state_dir, "seen")
            if os.path.isdir(seen_root):
                n_seen_dirs = len(os.listdir(seen_root))
            shutil.rmtree(state_dir, ignore_errors=True)
        return secs, crawled, n_seen_dirs, waves_m

    out = {}
    for label in MODES:
        fold = 16 if label == "fold16" else 1 << 30
        secs, crawled, n_seen_dirs, waves_m = run(fold)
        early = statistics.mean(secs[5:15]) if len(secs) > 15 else None
        late = statistics.mean(secs[-10:])
        # per-decile curve (VERDICT r3 #5 follow-up): locate WHERE late-wave
        # growth lives — each bin is 10% of waves; phases are the engine's
        # own per-wave marks (sched/fetch_extract/expand/fold/snapshot).
        n = len(waves_m)
        curve = []
        for b in range(10):
            lo, hi = (b * n) // 10, ((b + 1) * n) // 10
            if hi <= lo:
                continue
            chunk = waves_m[lo:hi]
            ph = {}
            for m in chunk:
                for k, v in (m.get("phases") or {}).items():
                    ph[k] = ph.get(k, 0.0) + v
            curve.append({
                "waves": f"{lo}-{hi - 1}",
                "sec": round(statistics.mean(m["seconds"] for m in chunk), 3),
                "frontier": round(statistics.mean(m["frontier"] for m in chunk)),
                "phases": {k: round(v / len(chunk), 3) for k, v in sorted(ph.items())},
            })
        out[label] = {
            "waves": len(secs),
            "crawled": crawled,
            "early_wave_sec": round(early, 3) if early else None,
            "late_wave_sec": round(late, 3),
            "late_over_early": round(late / early, 2) if early else None,
            "curve": curve,
        }
        if n_seen_dirs is not None:
            out[label]["n_seen_dirs"] = n_seen_dirs
    out["config"] = {
        "docs": DOCS,
        "depth": DEPTH,
        "max_waves": MAX_WAVES,
        "state": USE_STATE,
        "compact_every": COMPACT_EVERY,
        "budget": BUDGET,
    }
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
