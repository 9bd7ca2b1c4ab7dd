#!/usr/bin/env python
"""The measurements BENCH/BASELINE.md cites that perfbench/ does not
cover, behind one entry point. Prints JSON lines; writes nothing into the
repo.

  scaling   fetch+extract (parquet corpus scan -> Arrow-batched HTML
            page/link/span extraction -> aggregate) at local[1] and at
            local[4], each in a fresh subprocess over the same generated
            parquet input. efficiency = (docs/s at 4 cores / docs/s at 1
            core) / 4. A raw-CPU host control runs a pure-Python loop at
            the same two load levels. Exits 1 unless the page, word, link
            and span aggregates are equal at both sizes.
  long_run  a politeness-throttled crawl (1 page per host per wave, exact
            anti-join) with per-wave state snapshots and compact_seen +
            vacuum_seen 16 times over the run; reports the engine's own
            per-wave phases binned by decile.
  seen      one wave's seen dedupe, plain anti-join against the
            candidate-hash prefilter, at |seen| = 200k, 2M and 10M rows
            on local[4]. Candidates are engine-shaped and lazy:
            canonicalize plus a first-discovery window over a
            checkpointed raw frame of messy links, two per URL; half the
            URLs are already seen. Warm-up, then 4 reps of each plan in
            alternating order. Exits 1 unless both plans count the same
            fresh URLs, and that count is the unseen half.

--scale multiplies the input: at 1, scaling reads 20,000 docs, long_run
crawls 1,560 docs for up to 520 waves and seen dedupes 20,000 candidate
URLs per wave.

Run: python scripts/sweep.py {scaling|long_run|seen} [--scale 1]
"""

from __future__ import annotations

import argparse
import json
import multiprocessing as mp
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

SCRIPTS = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(SCRIPTS))

CORES = (1, 4)
SCALING_DOCS = 20_000
LONG_RUN_DOCS = 1_560
LONG_RUN_WAVES = 520
COMPACTIONS = 16
SEEN_SIZES = (200_000, 2_000_000, 10_000_000)
SEEN_CANDIDATES = 20_000
SEEN_REPS = 4
AGGREGATES = ("n_pages", "words", "n_links", "n_spans")
_TICK = os.sysconf("SC_CLK_TCK")


def emit(**rec) -> None:
    print(json.dumps(rec), flush=True)


def _steal_ticks() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def _host(steal0: int) -> dict:
    """Noise markers for the run: 1-min loadavg now and CPU steal since
    the run started."""
    return {
        "loadavg_1m": os.getloadavg()[0],
        "steal_s": round((_steal_ticks() - steal0) / _TICK, 2),
    }


def _session(name: str, cores: int):
    from seo_crawler_spark.session import get_spark

    spark = get_spark(
        name,
        master=f"local[{cores}]",
        shuffle_partitions=8,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            # small parquet files: without a split cap the whole scan
            # packs into one task and no core count can parallelize it
            "spark.sql.files.maxPartitionBytes": str(2 << 20),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def extract_run(cores: int, path: str, n_docs: int, partitions: int) -> None:
    """One core count in its own JVM: write the corpus to ``path`` as
    ``partitions`` files if it is not there yet, warm up, then print the
    best of 3 timed passes."""
    from pyspark.sql import functions as F

    from seo_crawler_spark.operators.extract import extract_pages
    from seo_crawler_spark.sources.corpus import generate_corpus

    spark = _session("sweep-scaling", cores)
    if not os.path.exists(path):
        generate_corpus(
            spark, n_docs=n_docs, n_hosts=50, seed=42, partitions=partitions
        ).write.parquet(path)
    corpus = spark.read.parquet(path)
    fetched = corpus.select(
        F.col("doc_id").alias("url"), "status_code", "content_type", "size",
        F.lit(0).alias("depth"), F.xxhash64("doc_id").alias("seq"), "host",
        F.col("response_time_ms").alias("response_time"),
        F.lit(None).cast("string").alias("error"), "raw_html",
    )

    def once() -> dict:
        pages = extract_pages(fetched, "host0.example.com")
        return pages.agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.sum("word_count").alias("words"),
            F.sum(F.size("links")).alias("n_links"),
            F.sum(F.size("spans")).alias("n_spans"),
        ).collect()[0].asDict()

    once()  # codegen, Python workers, page cache
    best = float("inf")
    for _ in range(3):
        t0 = time.monotonic()
        agg = once()
        best = min(best, time.monotonic() - t0)
    docs = corpus.count()
    emit(mode="scaling", cores=cores, docs=docs, sec=round(best, 3),
         docs_per_s=round(docs / best, 1), **agg)
    spark.stop()


def _burn(seconds: float) -> int:
    t0, n = time.monotonic(), 0
    while time.monotonic() - t0 < seconds:
        n += 1
    return n


def host_control(seconds: float = 1.0) -> dict:
    """The same pure-Python loop in 1 and in 4 processes: how well this
    host itself scales 4x the load, the ceiling any job can show here."""
    rates = []
    for workers in CORES:
        with mp.get_context("spawn").Pool(workers) as pool:
            rates.append(sum(pool.map(_burn, [seconds] * workers)) / seconds)
    return {
        "workers": list(CORES),
        "iters_per_s": [round(r) for r in rates],
        "efficiency": round(rates[1] / rates[0] / CORES[1], 3),
    }


def scaling(scale: float) -> int:
    steal0 = _steal_ticks()
    n_docs = max(1, round(SCALING_DOCS * scale))
    # one file, so one task, per ~1,250 docs; never fewer than 4 cores
    partitions = max(CORES[1], round(16 * scale))
    work = tempfile.mkdtemp(prefix="sweep_scaling_")
    path = os.path.join(work, "corpus.parquet")
    runs = {}
    try:
        # widest session first: it writes the shared corpus fastest
        for cores in sorted(CORES, reverse=True):
            proc = subprocess.run(
                [sys.executable, "-c",
                 f"import sys; sys.path.insert(0, {SCRIPTS!r}); import sweep; "
                 f"sweep.extract_run({cores}, {path!r}, {n_docs}, {partitions})"],
                capture_output=True, text=True,
            )
            if proc.returncode != 0:
                raise RuntimeError(f"local[{cores}] failed:\n{proc.stderr[-3000:]}")
            print(proc.stdout, end="", flush=True)
            runs[cores] = json.loads(proc.stdout.strip().splitlines()[-1])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    control = host_control()
    emit(mode="scaling", host_control=control)
    lo, hi = (runs[c] for c in CORES)
    equal = all(lo[k] == hi[k] for k in AGGREGATES)
    emit(mode="scaling", scale=scale, docs=lo["docs"],
         efficiency=round(hi["docs_per_s"] / lo["docs_per_s"] / CORES[1], 3),
         host_efficiency=control["efficiency"], aggregates_equal=equal,
         **_host(steal0))
    return 0 if equal else 1


def long_run(scale: float) -> int:
    from seo_crawler_spark.operators.frontier import CrawlConfig, CrawlEngine
    from seo_crawler_spark.sources.corpus import generate_corpus, seed_urls
    from seo_crawler_spark.state.snapshots import SnapshotStore

    steal0 = _steal_ticks()
    n_docs = max(1, round(LONG_RUN_DOCS * scale))
    max_waves = max(1, round(LONG_RUN_WAVES * scale))
    compact_every = max(1, max_waves // COMPACTIONS)
    spark = _session("sweep-long-run", CORES[1])
    corpus = generate_corpus(spark, n_docs=n_docs, n_hosts=3, seed=11)
    corpus = corpus.localCheckpoint(eager=True)
    state_dir = tempfile.mkdtemp(prefix="sweep_long_run_")
    store = SnapshotStore(state_dir)

    def compact() -> None:
        # between-waves poll: the maintenance pass a table service would
        # run against a live writer, after every compact_every-th wave
        latest = store.latest_wave()
        if latest is not None and (latest + 1) % compact_every == 0:
            store.compact_seen(spark)
            store.vacuum_seen()

    # robots=None, so the politeness budget is what throttles: a robots
    # crawl_delay would grant a far larger per-wave budget and the crawl
    # would drain in about a dozen waves
    engine = CrawlEngine(
        spark, corpus, None,
        CrawlConfig(max_depth=6, max_urls=n_docs, crawl_external=True,
                    politeness_budget=1, max_waves=max_waves),
        state_dir=state_dir,
    )
    engine.control = compact
    try:
        waves = engine.run(seed_urls(3)).metrics
        seen_dirs = len(os.listdir(os.path.join(state_dir, "seen")))
    finally:
        shutil.rmtree(state_dir, ignore_errors=True)
    n = len(waves)
    for b in range(10):
        chunk = waves[b * n // 10:(b + 1) * n // 10]
        if not chunk:
            continue
        phases = {
            k: round(statistics.mean(m["phases"].get(k, 0.0) for m in chunk), 3)
            for k in ("sched", "fetch_extract", "expand", "fold", "snapshot")
        }
        emit(mode="long_run", decile=b,
             waves=f"{chunk[0]['wave']}-{chunk[-1]['wave']}",
             frontier=round(statistics.mean(m["frontier"] for m in chunk)),
             sec=round(statistics.mean(m["seconds"] for m in chunk), 3),
             **phases)
    secs = [m["seconds"] for m in waves]
    early = statistics.mean(secs[5:15]) if n > 15 else None
    late = statistics.mean(secs[-10:])
    emit(mode="long_run", scale=scale, docs=n_docs, waves=n,
         crawled=waves[-1]["crawled_total"],
         early_wave_sec=early and round(early, 3),
         late_wave_sec=round(late, 3),
         late_over_early=early and round(late / early, 2),
         compact_every=compact_every, seen_dirs=seen_dirs, **_host(steal0))
    spark.stop()
    return 0


def _messy_url(url_id, shout):
    """A link to page ``url_id`` as some page wrote it, in one of two
    spellings (``shout`` picks) that canonicalize to the same URL:
    scheme/host case, default port, query order and fragment differ."""
    from pyspark.sql import functions as F

    host = F.concat(F.lit("host"), F.pmod(url_id, F.lit(200)).cast("string"))
    page = F.concat(F.lit("/p/"), url_id.cast("string"), F.lit(".html"))
    b = F.concat(F.lit("b="), F.pmod(url_id, F.lit(7)).cast("string"))
    a = F.concat(F.lit("a="), F.pmod(url_id, F.lit(3)).cast("string"))
    return F.when(
        shout,
        F.concat(F.lit("HTTPS://"), F.upper(host), F.lit(".Example.COM:443"),
                 page, F.lit("?"), b, F.lit("&"), a, F.lit("#frag")),
    ).otherwise(
        F.concat(F.lit("https://"), host, F.lit(".example.com"), page,
                 F.lit("?"), a, F.lit("&"), b)
    )


def seen_inputs(spark, n_seen: int, n_cand: int):
    """(seen, raw): the checkpointed seen table of pages 0..n_seen-1 and
    a checkpointed raw frame of 2 * n_cand messy links to n_cand pages,
    the even-numbered ones spread over the seen range, the odd-numbered
    ones past it."""
    from pyspark.sql import functions as F

    from seo_crawler_spark.ckpt import local_ckpt
    from seo_crawler_spark.functions import urls as U

    parts = max(4, n_seen // 250_000)
    seen = spark.range(0, n_seen, numPartitions=parts).select(
        U.canonicalize_url(_messy_url(F.col("id"), F.lit(True))).alias("url")
    ).select(U.url_hash(F.col("url")).alias("url_hash"), "url",
             F.lit(0).alias("wave"))
    stride = max(1, n_seen // n_cand)
    k = F.col("id") % n_cand  # the page this link points to
    page = F.when(k % 2 == 0, (k * stride) % n_seen).otherwise(n_seen + k)
    raw = spark.range(0, 2 * n_cand, numPartitions=4).select(
        F.col("id").alias("src_seq"),
        (F.col("id") % 50).alias("anchor_pos"),
        _messy_url(page, F.col("id") < n_cand).alias("target_url"),
    )
    return local_ckpt(seen), local_ckpt(raw)


def seen_candidates(raw):
    """The engine's candidate plan over ``raw``, left lazy as the engine
    leaves it: canonicalize, first discovery wins, hash."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from seo_crawler_spark.functions import urls as U

    first = Window.partitionBy("url").orderBy("src_seq", "anchor_pos")
    return (
        raw.select(U.canonicalize_url(F.col("target_url")).alias("url"),
                   "src_seq", "anchor_pos")
        .withColumn("__rn", F.row_number().over(first))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .withColumn("url_hash", U.url_hash(F.col("url")))
    )


def seen(scale: float) -> int:
    from seo_crawler_spark.ckpt import release_scope
    from seo_crawler_spark.operators.seen import dedupe_against_seen

    steal0 = _steal_ticks()
    n_cand = max(2, round(SEEN_CANDIDATES * scale))
    spark = _session("sweep-seen", CORES[1])
    ok = True
    for size in SEEN_SIZES:
        n_seen = max(n_cand, round(size * scale))
        with release_scope(spark):
            t0 = time.monotonic()
            seen_df, raw = seen_inputs(spark, n_seen, n_cand)
            setup = time.monotonic() - t0
            secs: dict[str, list[float]] = {"plain": [], "prefilter": []}
            fresh: dict[str, int] = {}

            def once(plan: str) -> float:
                t = time.monotonic()
                fresh[plan] = dedupe_against_seen(
                    seen_candidates(raw), seen_df, prefilter=plan == "prefilter"
                ).count()
                return time.monotonic() - t

            for plan in secs:  # warm-up: codegen, page cache
                once(plan)
            for rep in range(SEEN_REPS):
                order = list(secs) if rep % 2 == 0 else list(secs)[::-1]
                for plan in order:
                    secs[plan].append(once(plan))
        equal = fresh["plain"] == fresh["prefilter"] == n_cand // 2
        ok = ok and equal
        emit(mode="seen", seen=n_seen, candidates=n_cand,
             setup_s=round(setup, 2),
             plain_s=round(statistics.median(secs["plain"]), 3),
             prefilter_s=round(statistics.median(secs["prefilter"]), 3),
             plain_runs=[round(x, 3) for x in secs["plain"]],
             prefilter_runs=[round(x, 3) for x in secs["prefilter"]],
             fresh_plain=fresh["plain"], fresh_prefilter=fresh["prefilter"],
             counts_equal=equal)
    emit(mode="seen", scale=scale, candidates=n_cand, counts_equal=ok,
         **_host(steal0))
    spark.stop()
    return 0 if ok else 1


MODES = {"scaling": scaling, "long_run": long_run, "seen": seen}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("mode", choices=tuple(MODES))
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (default 1)")
    args = ap.parse_args()
    return MODES[args.mode](args.scale)


if __name__ == "__main__":
    sys.exit(main())
