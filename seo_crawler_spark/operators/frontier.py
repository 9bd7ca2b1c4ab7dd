"""Wave-orchestrated URL-frontier engine — the flagship operator.

The reference crawls with a FIFO deque + worker threads
(src/crawler.py:669-744, src/core/link_manager.py:177-182). Here one
Spark job per BFS wave replaces the loop; the crawl-order contract is
``(wave, seq)`` where ``seq`` is the global discovery index:
depth-major BFS, within a page = anchor document order — exactly the
order the reference's single-threaded scheduler would pop.

Per wave (all DataFrame ops; the driver only sequences waves):

  frontier ──politeness rank-gate──▶ scheduled ──join corpus──▶ fetched
     │                                                              │
     └─ deferred (re-queued)               mapInPandas extraction ──┤
                                                                    ▼
  seen ◀─ bloom+exact anti-join ◀─ admission predicate ◀─ exploded links
    │                                                               │
    └──────────▶ next frontier (ordered_seq over src_seq,anchor_pos)┘

Reference parity notes:
  * admission predicate = crawler.py:1139-1179 (external-domain policy,
    robots, extension include/exclude, regex patterns)
  * expansion gate = crawler.py:895-902 (internal ∧ depth < max_depth)
  * max_urls budget = crawler.py:680-681 (first N in BFS order)
  * first-discovery-wins dedupe = link_manager.py:48-55
  * the reference's 1000-URL checkpoint cap (crawler.py:596) is a
    data-loss bug we do NOT reproduce — full frontier persisted.
"""

from __future__ import annotations

import fnmatch
import time
from collections.abc import Iterator
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..ckpt import local_ckpt
from ..functions import urls as U
from .extract import extract_pages, explode_links
from .ordering import ordered_seq, ordered_seq_counted
from .politeness import politeness_tag, template_cap_tag
from .seen import bloom_build, bloom_merge, dedupe_against_seen


@dataclass
class CrawlConfig:
    """Mirrors the reference's crawler config defaults (crawler.py:95-135)."""

    max_depth: int = 3
    max_urls: int = 1000
    crawl_external: bool = False
    respect_robots: bool = True
    include_extensions: tuple = ("html", "htm", "php", "asp", "aspx", "jsp")
    exclude_extensions: tuple = ("pdf", "doc", "docx", "zip", "exe", "dmg")
    include_patterns: tuple = ()
    exclude_patterns: tuple = ()
    politeness_budget: int | None = None  # None → no per-wave host cap
    # crawl-trap defense: at most this many URLs per (host, URL template)
    # admitted per wave (politeness.url_template: digit runs → 'N');
    # the over-cap tail defers exactly like politeness. None → off.
    template_cap: int | None = None
    # HEAD content-length gate (crawler.py:789-803): a doc whose size
    # exceeds this becomes an empty error row (status 0, body skipped,
    # links never expanded). None → no limit (reference maxFileSize=0).
    max_file_size: int | None = None
    wave_seconds: float = 60.0
    salt_buckets: int = 1
    discover_sitemaps: bool = False  # reference default is True; opt-in here
    # seen-state bloom prune (probe, then exact verify of the positives)
    # builds once the seen table reaches this many rows: it is a win only
    # once the seen table dwarfs per-wave candidates, below that the
    # exact anti-join is strictly faster. 0 → from the first wave;
    # None → never (exact anti-join only).
    bloom_min_seen: int | None = 2_000_000
    base_domain: str | None = None
    max_waves: int = 64
    # reference start_crawl: a seed URL carrying a path limits the crawl
    # to that single page (max_depth := 0, crawler.py:218-222); opt-in
    # because the synthetic fixtures use path-bearing seeds everywhere
    single_page_if_path: bool = False
    # crawl-row timestamp for status transitions (no wall clock inside
    # the engine — callers pass it, reference crawl_db rows carry it)
    started_at: str | None = None
    # fold the seen delta-part list into one checkpointed base whenever
    # it reaches this many parts: the per-wave anti-join scans a lazy
    # union of O(parts) deltas, so at thousands of waves the union node
    # itself dominates planning/scheduling. Folding costs one O(|seen|)
    # copy per K waves (amortized |seen|/K per wave) and bounds plan
    # depth at K. Mirrors the on-disk compact_seen.
    seen_fold_every: int = 16


@dataclass
class CrawlResult:
    pages: DataFrame
    links: DataFrame
    seen: DataFrame
    order: DataFrame  # (url, wave, seq) — the crawl-order contract
    metrics: list[dict] = field(default_factory=list)


def _glob_to_regex_col(globs_col):
    """disallow globs arrive as fnmatch patterns; robots gate needs regexes.
    Translated once per dimension row (vectorized pandas UDF)."""

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def translate(s: pd.Series) -> pd.Series:
        # \A anchor: fnmatch is a full match; rlike/regexp_like is an
        # unanchored search (translate() already appends \Z).
        return s.map(
            lambda globs: ["\\A" + fnmatch.translate(g) for g in (globs or [])]
        )

    return translate(globs_col)


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        corpus: DataFrame,
        robots: DataFrame | None = None,
        config: CrawlConfig | None = None,
        state_dir: str | None = None,
        sitemaps: DataFrame | None = None,
        fetcher=None,
    ):
        self.spark = spark
        self.cfg = config or CrawlConfig()
        # a 0 budget/cap would defer every row forever (rank <= 0 is
        # never true) — the loop would spin max_waves crawling nothing
        if self.cfg.template_cap is not None and self.cfg.template_cap < 1:
            raise ValueError("template_cap must be >= 1 (or None to disable)")
        if (
            self.cfg.politeness_budget is not None
            and self.cfg.politeness_budget < 1
        ):
            raise ValueError(
                "politeness_budget must be >= 1 (or None to disable)"
            )
        self.corpus = corpus.select(
            "doc_id", "host", "status_code", "content_type", "size",
            "response_time_ms", "raw_html",
        )
        # production-fetch connector (sources/fetcher.py contract): when
        # set, each wave's corpus rows come from fetcher.fetch(spark,
        # scheduled, wave) instead of the static corpus table
        self.fetcher = fetcher
        self.robots = robots
        self.sitemaps = sitemaps
        self.state_dir = state_dir
        # pause/stop control (crawler.py:344-372 is_paused/stop flags):
        # a callable polled between waves returning None|'pause'|'stop' —
        # waves are the atomic unit, so pausing commits the finished wave
        # and marks the crawl row paused (graceful-shutdown semantics)
        self.control = None
        self._robots_dim = None
        if robots is not None:
            self._robots_dim = (
                robots.select(
                    F.col("host").alias("__rb_host"),
                    _glob_to_regex_col(F.col("disallow_globs")).alias("__rb_res"),
                )
            ).transform(local_ckpt)

    # -- admission predicate (crawler.py:1139-1179) ----------------------
    def _admit(self, cand: DataFrame, base_domain: str) -> DataFrame:
        cfg = self.cfg
        url = F.col("url")
        out = cand
        if not cfg.crawl_external:
            out = out.filter(U.is_internal(url, base_domain))
        if cfg.respect_robots and self._robots_dim is not None:
            path = U.url_path(url)
            out = (
                out.join(
                    F.broadcast(self._robots_dim),
                    out.host == F.col("__rb_host"),
                    "left",
                )
                .filter(
                    F.col("__rb_res").isNull()
                    | ~F.exists(
                        F.col("__rb_res"), lambda r: F.regexp_like(path, r)
                    )
                )
                .drop("__rb_host", "__rb_res")
            )
        # reference: extension checks apply only when '.' in path
        # (crawler.py:1154-1162)
        has_dot = F.lower(U.url_path(url)).contains(".")
        ext = U.url_extension(url)
        if cfg.exclude_extensions:
            out = out.filter(~(has_dot & ext.isin(*cfg.exclude_extensions)))
        if cfg.include_extensions:
            out = out.filter((~has_dot) | ext.isin(*cfg.include_extensions))
        for pat in cfg.exclude_patterns:
            out = out.filter(~url.rlike(pat))
        if cfg.include_patterns:
            cond = F.lit(False)
            for pat in cfg.include_patterns:
                cond = cond | url.rlike(pat)
            out = out.filter(cond)
        return out

    # -- wave loop --------------------------------------------------------
    def run(self, seeds: list[str]) -> CrawlResult:
        spark, cfg = self.spark, self.cfg
        if cfg.base_domain:
            base_domain = cfg.base_domain
        else:
            # base domain comes from the CANONICAL first seed (north-star
            # canonicalization strips :443 etc.) — raw netloc would keep
            # the port and misclassify every link as external
            from urllib.parse import urlparse

            from ..functions.urls import _canonicalize_py

            first = seeds[0] if "://" in seeds[0] else f"https://{seeds[0]}"
            base_domain = urlparse(_canonicalize_py(first)).netloc

        if cfg.single_page_if_path:
            from urllib.parse import urlparse as _up

            f0_url = seeds[0] if "://" in seeds[0] else f"https://{seeds[0]}"
            if _up(f0_url).path not in ("", "/"):
                # single-page mode (crawler.py:218-222)
                import dataclasses

                cfg = dataclasses.replace(cfg, max_depth=0)
                self.cfg = cfg

        # wave 0: seeds first (bypass admission — crawler.py:245 add_url
        # has no should_crawl callback), then sitemap-discovered URLs in
        # traversal order (admission-gated, crawler.py:305-320);
        # first-listed wins the dedupe (add_url membership check)
        rows = [(u, i, True) for i, u in enumerate(seeds)]
        if cfg.discover_sitemaps and self.sitemaps is not None:
            from .sitemap import (
                discover_sitemap_locs,
                robots_df_to_sitemap_dict,
                sitemaps_df_to_dict,
            )

            locs = discover_sitemap_locs(
                sitemaps_df_to_dict(self.sitemaps),
                robots_df_to_sitemap_dict(self.robots) if self.robots is not None else {},
                seeds,
            )
            rows += [(u, len(seeds) + j, False) for j, u in enumerate(locs)]
        seeds_df = spark.createDataFrame(
            rows, "raw string, list_pos long, is_seed boolean"
        )
        cand0 = seeds_df.select(
            U.canonicalize_url(F.col("raw")).alias("url"), "list_pos", "is_seed"
        ).withColumn("host", U.url_host(F.col("url")))
        admitted0 = cand0.filter(F.col("is_seed")).unionByName(
            self._admit(cand0.filter(~F.col("is_seed")), base_domain)
        )
        w = Window.partitionBy("url").orderBy("list_pos")
        f0 = (
            admitted0.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "is_seed", "host")
        )
        frontier = (
            ordered_seq(f0, ["list_pos"], seq_col="seq", start=0)
            .select(
                "url",
                U.url_hash(F.col("url")).alias("url_hash"),
                U.url_host(F.col("url")).alias("host"),
                F.lit(0).alias("depth"),
                F.lit(0).alias("wave"),
                "seq",
            )
            .transform(local_ckpt)
        )

        seen = frontier.select("url_hash", "url", "wave").transform(local_ckpt)
        if self.state_dir:
            from ..state.snapshots import SnapshotStore

            SnapshotStore(self.state_dir).set_crawl_status(
                "running", cfg.started_at
            )
        return self._execute(
            base_domain=base_domain,
            frontier=frontier,
            seen=seen,
            next_seq=frontier.count(),
            crawled_total=0,
            start_wave=0,
            pages_parts=[],
            links_parts=[],
            metrics=[],
        )

    def resume(self, recrawl_before_wave: int | None = None) -> CrawlResult:
        """Restart from the latest committed wave snapshot (waves are the
        atomic unit — no partial-wave state; contrast the reference's
        lossy 1000-URL checkpoint, crawler.py:585-613).

        ``recrawl_before_wave=k`` turns the resume into a refresh crawl:
        URLs whose first crawl happened before wave k are EVICTED from
        the exact seen table (tombstoned, not rewritten; the bloom
        filter is never persisted, each run rebuilds it from the exact
        table, so eviction needs no filter-level delete) and
        re-enqueued at depth 0 with fresh (wave, seq) numbers.
        Their re-fetched pages/links append as new wave rows; links they
        re-discover dedupe against the surviving seen set as usual.
        Re-fetches count against max_urls like any other fetch."""
        if not self.state_dir:
            raise ValueError("resume requires a state_dir")
        from ..state.snapshots import SnapshotStore

        store = SnapshotStore(self.state_dir)
        # crash recovery first (main.py:1507-1524): a manifest still
        # 'running' means the prior process died mid-crawl → mark failed,
        # then this resume flips it back to running
        store.mark_crashed_if_running(self.cfg.started_at)
        latest = store.latest_wave()
        if latest is None:
            raise ValueError(f"no committed waves under {self.state_dir}")
        # a crashed refresh-resume may have staged tombstones for a wave
        # that never committed; drop them before this run commits waves
        # past that point and silently publishes them
        store.clear_orphan_tombstones(latest)
        store.set_crawl_status("running", self.cfg.started_at)
        manifest = store.manifest()
        frontier = store.read_frontier(self.spark, latest).transform(local_ckpt)
        seen = store.read_seen(self.spark, latest).transform(local_ckpt)
        pages = store.read_pages(self.spark, latest).transform(local_ckpt)
        links = store.read_links(self.spark, latest).transform(local_ckpt)
        metrics = store.metrics()  # committed waves only, sorted by wave
        crawled_total = sum(m["scheduled"] for m in metrics)
        cfg = self.cfg
        if cfg.base_domain:
            base_domain = cfg.base_domain
        else:
            base_domain = manifest["base_domain"]
        # gap-free (wave,seq) contract: the next seq is max(assigned)+1
        # over everything that ever got one (crawled pages ∪ pending
        # frontier) — robust even if the seen table were ever inflated,
        # unlike seen.count()
        max_seq = -1
        for df in (pages, frontier):
            row = df.agg(F.max("seq").alias("m")).collect()[0]
            if row["m"] is not None:
                max_seq = max(max_seq, row["m"])
        if recrawl_before_wave is not None:
            # a URL can be seen (discovered) but still pending in the
            # frontier — re-enqueuing it would fetch it twice; only
            # already-fetched URLs are refresh candidates
            victims = seen.filter(F.col("wave") < recrawl_before_wave).join(
                frontier.select(F.col("url").alias("__pending")),
                F.col("url") == F.col("__pending"),
                "left_anti",
            )
            victims = victims.transform(local_ckpt)
            survivors = seen.join(
                victims.select(F.col("url").alias("__evict")),
                F.col("url") == F.col("__evict"),
                "left_anti",
            )
            refreshed = victims.select(
                "url",
                "url_hash",
                U.url_host(F.col("url")).alias("host"),
                F.lit(0).alias("depth"),
                F.lit(latest + 1).alias("wave"),
                F.col("wave").alias("__first_wave"),
            )
            # deterministic refresh order: original discovery wave, then
            # url — seq assigned with the same scalable path waves use
            refreshed, n_refresh = ordered_seq_counted(
                refreshed, ["__first_wave", "url"], seq_col="seq",
                start=max_seq + 1,
            )
            frontier = frontier.unionByName(
                refreshed.drop("__first_wave"), allowMissingColumns=False
            ).transform(local_ckpt)
            # evicted rows get merge-on-read tombstones at the refresh
            # wave (invisible until that wave's manifest commits); their
            # replacement seen rows carry the refresh wave and persist
            # with the same commit — the delete/insert pair is atomic
            store.write_seen_tombstones(
                latest + 1, victims.select("url_hash", "url", "wave")
            )
            refreshed_seen = refreshed.select(
                "url_hash", "url", "wave"
            ).transform(local_ckpt)
            seen = survivors.unionByName(refreshed_seen).localCheckpoint(
                eager=True
            )
            max_seq += n_refresh
            return self._execute(
                base_domain=base_domain,
                frontier=frontier,
                seen=seen,
                next_seq=max_seq + 1,
                crawled_total=crawled_total,
                start_wave=latest + 1,
                pages_parts=[pages],
                links_parts=[links],
                metrics=list(metrics),
                initial_seen_delta=refreshed_seen,
            )
        return self._execute(
            base_domain=base_domain,
            frontier=frontier,
            seen=seen,
            next_seq=max_seq + 1,
            crawled_total=crawled_total,
            start_wave=latest + 1,
            pages_parts=[pages],
            links_parts=[links],
            metrics=list(metrics),
        )

    def _execute(
        self,
        base_domain: str,
        frontier: DataFrame,
        seen: DataFrame,
        next_seq: int,
        crawled_total: int,
        start_wave: int,
        pages_parts: list,
        links_parts: list,
        metrics: list,
        initial_seen_delta: DataFrame | None = None,
    ) -> CrawlResult:
        spark, cfg = self.spark, self.cfg
        bloom = None
        wave = start_wave
        self._base_domain = base_domain
        # seen is a LIST of checkpointed delta parts — re-checkpointing
        # the full seen table every wave would copy O(|seen|) per wave
        # (quadratic total; at 10^10 fatal). The anti-join scans the
        # lazy union of parts instead.
        seen_parts: list[DataFrame] = [seen]
        seen = None
        n_frontier = frontier.count()  # only upfront count; tracked after

        from ..metrics import observe_fetch, partition_lineage

        final_status = "completed"
        while wave < cfg.max_waves and crawled_total < cfg.max_urls:
            t0 = time.monotonic()
            phases: dict[str, float] = {}
            _pt = [t0]

            def _mark(name: str) -> None:
                now = time.monotonic()
                phases[name] = round(now - _pt[0], 3)
                _pt[0] = now
            if n_frontier == 0:
                break
            # pause/stop poll (crawler.py:344-372) — between waves, so the
            # previous wave's snapshot is already committed atomically
            req = self.control() if self.control is not None else None
            if req in ("pause", "stop"):
                final_status = "paused" if req == "pause" else "stopped"
                break
            n_front_wave = n_frontier
            seen_df = seen_parts[0]
            for p in seen_parts[1:]:
                seen_df = seen_df.unionByName(p)
            # seed-seen rows belong to wave 0's delta ONLY on a fresh run;
            # on resume seen_parts[0] is the whole restored seen set and is
            # already persisted in earlier wave dirs — re-emitting it would
            # duplicate every prior row in the append-only snapshot store
            # (and inflate seen.count() on the next resume)
            wave_deltas: list[DataFrame] = [seen_parts[0]] if wave == 0 else []
            if initial_seen_delta is not None and wave == start_wave:
                # refresh-crawl resume: the re-enqueued URLs' new seen
                # rows persist with this run's first committed wave
                # (their old rows are tombstoned at the same wave, so
                # the pair is atomic under the manifest rule)
                wave_deltas.append(initial_seen_delta)

            # crawl-trap template cap (per-(host, template) budget,
            # over-cap tail defers like politeness — geometric throttling
            # of trap hosts) composed with the politeness rank-gate in ONE
            # pass: the trap tag is a lazy pre-column and politeness ranks
            # only trap-admitted rows (eligible=), so both gates share a
            # single checkpoint + count job per wave
            pre = frontier
            trap_col = None
            if cfg.template_cap is not None:
                pre = template_cap_tag(
                    frontier, cfg.template_cap, salt_buckets=cfg.salt_buckets
                )
                trap_col = "trap_admitted"

            if cfg.politeness_budget is not None or trap_col is not None:
                if cfg.politeness_budget is not None:
                    tagged = politeness_tag(
                        pre,
                        cfg.politeness_budget,
                        robots=self.robots,
                        wave_seconds=cfg.wave_seconds,
                        salt_buckets=cfg.salt_buckets,
                        eligible=trap_col,
                    )
                    if trap_col is not None:
                        # admitted already implies trap_admitted
                        tagged = tagged.drop(trap_col)
                else:
                    tagged = pre.withColumnRenamed(trap_col, "admitted")
                tagged = tagged.transform(local_ckpt)
                # one job yields admitted/deferred counts AND the
                # per-partition lineage of the scheduled side
                grp = (
                    tagged.groupBy("admitted", F.spark_partition_id().alias("pid"))
                    .agg(F.count(F.lit(1)).alias("n"))
                    .collect()
                )
                n_sched = sum(r["n"] for r in grp if r["admitted"])
                n_def = sum(r["n"] for r in grp if not r["admitted"])
                lineage_rows = [
                    {"partition_id": r["pid"], "rows": r["n"]}
                    for r in grp
                    if r["admitted"]
                ]
                scheduled = tagged.filter(F.col("admitted")).drop("admitted")
                deferred = (
                    tagged.filter(~F.col("admitted")).drop("admitted")
                    if n_def
                    else None
                )
            else:
                scheduled, deferred = frontier, None
                n_sched, n_def = n_frontier, 0
            _mark("sched")

            # global max_urls budget: first N in BFS order (crawler.py:680)
            remaining = cfg.max_urls - crawled_total
            truncated = n_sched > remaining
            if truncated:
                scheduled = (
                    scheduled.orderBy("seq").limit(remaining).transform(local_ckpt)
                )
                n_sched = remaining

            # "fetch" = join against the corpus (no live network; a miss is
            # the moral equivalent of a dead link → empty error result,
            # reference seo_extractor.create_empty_result)
            # file-size gate (crawler.py:789-803): content-length beyond
            # max_file_size ⇒ empty error row — status 0, body dropped
            # before parse, so its links never expand
            wave_corpus = (
                self.fetcher.fetch(spark, scheduled, wave).select(
                    "doc_id", "host", "status_code", "content_type",
                    "size", "response_time_ms", "raw_html",
                )
                if self.fetcher is not None
                else self.corpus
            )
            too_big = (
                (wave_corpus["size"] > cfg.max_file_size)
                if cfg.max_file_size is not None
                else F.lit(False)
            )
            fetched = (
                scheduled.join(
                    wave_corpus, scheduled.url == wave_corpus.doc_id, "left"
                )
                .select(
                    scheduled.url,
                    F.when(too_big, F.lit(0))
                    .otherwise(F.coalesce(wave_corpus.status_code, F.lit(0)))
                    .alias("status_code"),
                    F.coalesce(wave_corpus.content_type, F.lit("")).alias("content_type"),
                    F.coalesce(wave_corpus["size"], F.lit(0)).alias("size"),
                    scheduled.depth,
                    F.lit(wave).alias("wave"),
                    scheduled.seq,
                    scheduled.host,
                    F.coalesce(wave_corpus.response_time_ms, F.lit(0.0)).alias(
                        "response_time"
                    ),
                    F.when(
                        too_big,
                        F.concat(
                            F.lit("File too large: "),
                            wave_corpus["size"].cast("string"),
                            F.lit(" bytes"),
                        ),
                    )
                    .when(wave_corpus.doc_id.isNull(), F.lit("fetch failed"))
                    .otherwise(F.lit(None).cast("string"))
                    .alias("error"),
                    F.when(too_big, F.lit(""))
                    .otherwise(F.coalesce(wave_corpus.raw_html, F.lit("")))
                    .alias("raw_html"),
                )
            )

            extracted, fetch_obs = observe_fetch(extract_pages(fetched, base_domain))
            extracted = extracted.transform(local_ckpt)  # materializes obs
            pages_parts.append(extracted)
            # NOT checkpointed: a map-only explode over the checkpointed
            # extracted frame — recomputing it per consumer (cand build,
            # finalize union, snapshot) is cheaper than one more
            # materialization barrier per wave, locally and at scale
            wave_links = explode_links(
                extracted.withColumn(
                    "links",
                    F.when(F.col("status_code") == 200, F.col("links")).otherwise(
                        F.array().cast(extracted.schema["links"].dataType)
                    ),
                )
            )
            links_parts.append(wave_links)
            crawled_total += n_sched
            _mark("fetch_extract")

            # -- expansion (crawler.py:895-902) ---------------------------
            # Runs for EVERY crawled wave — including one truncated by the
            # max_urls budget: the reference extracts links from every
            # crawled page and records them in the seen set via add_url
            # (link_manager.py:48-55) even when the budget stops further
            # scheduling. Only the *next frontier* is gated on budget.
            new_frontier = None
            src = extracted.select(
                F.col("url").alias("source_url"),
                F.col("depth").alias("src_depth"),
                U.is_internal(F.col("url"), base_domain).alias("src_internal"),
            )
            cand = (
                wave_links.join(src, "source_url")
                .filter(
                    (F.col("src_depth") < cfg.max_depth)
                    & (F.col("src_internal") | F.lit(cfg.crawl_external))
                )
                .select(
                    U.canonicalize_url(F.col("target_url")).alias("url"),
                    F.col("source_url"),
                    (F.col("src_depth") + 1).alias("depth"),
                    F.col("src_seq"),
                    F.col("anchor_pos"),
                )
                .filter(F.col("url") != U.canonicalize_url(F.col("source_url")))
            )
            cand = cand.withColumn("host", U.url_host(F.col("url")))
            cand = self._admit(cand, base_domain)
            # first-discovery-wins within the wave
            wdisc = Window.partitionBy("url").orderBy("src_seq", "anchor_pos")
            cand = (
                cand.withColumn("__rn", F.row_number().over(wdisc))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
            cand = cand.withColumn("url_hash", U.url_hash(F.col("url")))
            if (
                bloom is None
                and cfg.bloom_min_seen is not None
                and next_seq >= cfg.bloom_min_seen
            ):
                bloom = bloom_build(seen_df).transform(local_ckpt)
            fresh = dedupe_against_seen(cand, seen_df, bloom)
            # checkpointed + counted inside ordered_seq (no extra job)
            fresh, n_new = ordered_seq_counted(
                fresh, ["src_seq", "anchor_pos"], seq_col="seq", start=next_seq
            )
            next_seq += n_new
            if n_new:
                new_seen = fresh.select(
                    "url_hash", "url", F.lit(wave + 1).alias("wave")
                )
                seen_parts.append(new_seen)
                wave_deltas.append(new_seen)
                if bloom is not None:
                    bloom = bloom_merge(bloom, bloom_build(new_seen)).transform(
                        local_ckpt
                    )
                if crawled_total < cfg.max_urls:
                    new_frontier = fresh.select(
                        "url", "url_hash", "host", "depth",
                        F.lit(wave + 1).alias("wave"), "seq",
                    )
                else:
                    n_new = 0  # nothing scheduled; discoveries recorded in seen

            # next frontier: lazy union over this wave's checkpoints —
            # one lineage level deep, nothing recomputes across waves
            parts = [p for p in (deferred, new_frontier) if p is not None]
            if parts:
                frontier = parts[0]
                for p in parts[1:]:
                    frontier = frontier.unionByName(p)
            else:
                frontier = spark.createDataFrame([], frontier.schema)
            n_frontier = n_def + n_new
            _mark("expand")

            # north rule: per-partition lineage + fetch metrics each wave
            if (cfg.politeness_budget is None and trap_col is None) or truncated:
                lineage_rows = [
                    {"partition_id": r["partition_id"], "rows": r["rows"]}
                    for r in partition_lineage(scheduled, wave, "scheduled").collect()
                ]
            fetch_stats = {
                k: (float(v) if v is not None else None)
                for k, v in fetch_obs.get.items()
            }
            metrics.append(
                {
                    "wave": wave,
                    "frontier": n_front_wave,
                    "scheduled": n_sched,
                    "new_urls": n_new,
                    "crawled_total": crawled_total,
                    "seconds": round(time.monotonic() - t0, 3),
                    "fetch": fetch_stats,
                    "partitions": lineage_rows,
                    # per-phase wall seconds (sched/fetch_extract/expand
                    # are marked above; fold is marked after append and
                    # snapshot inside commit_wave's on_data_written hook,
                    # so the PERSISTED manifest metric carries all five)
                    "phases": phases,
                }
            )
            # in-memory seen compaction (cfg.seen_fold_every): collapse
            # the delta-part list into one checkpointed base so a long
            # run's anti-join plan stays K-deep instead of O(waves)-deep.
            # Runs BEFORE the snapshot (it only touches seen_parts, which
            # the snapshot doesn't read) so the persisted manifest metric
            # carries ALL five phase timings — only the manifest write
            # itself (ms) is unattributed.
            if len(seen_parts) >= cfg.seen_fold_every:
                folded = seen_parts[0]
                for p in seen_parts[1:]:
                    folded = folded.unionByName(p)
                seen_parts = [folded.transform(local_ckpt)]
            _mark("fold")
            if self.state_dir:
                if wave_deltas:
                    delta = wave_deltas[0]
                    for p in wave_deltas[1:]:
                        delta = delta.unionByName(p)
                else:
                    delta = spark.createDataFrame([], seen_parts[0].schema)
                self._snapshot(
                    wave, frontier, delta, extracted, wave_links, metrics[-1],
                    on_data_written=lambda: _mark("snapshot"),
                )
            else:
                _mark("snapshot")
            wave += 1

        if self.state_dir:
            from ..state.snapshots import SnapshotStore

            SnapshotStore(self.state_dir).set_crawl_status(
                final_status, cfg.started_at
            )

        pages = pages_parts[0]
        for p in pages_parts[1:]:
            pages = pages.unionByName(p)
        links = links_parts[0]
        for l in links_parts[1:]:
            links = links.unionByName(l)

        # linked_from backfill (crawler.py:1125-1137): all sources that link
        # to each crawled URL, first-seen order
        linked = (
            links.groupBy("target_url")
            .agg(
                F.array_distinct(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("src_seq", "anchor_pos", "source_url"))
                        ),
                        lambda s: s["source_url"],
                    )
                ).alias("linked_from")
            )
        )
        pages = (
            pages.drop("links")
            .join(linked, pages.url == linked.target_url, "left")
            .drop("target_url")
            .withColumn(
                "linked_from",
                F.coalesce(F.col("linked_from"), F.array().cast("array<string>")),
            )
        )
        # link→status join (link_manager.py:193-202)
        status = pages.select(F.col("url").alias("__u"), F.col("status_code").alias("target_status"))
        links = (
            links.join(status, links.target_url == F.col("__u"), "left").drop("__u")
        )

        order = pages.select("url", "wave", "seq").orderBy("seq")
        seen_final = seen_parts[0]
        for p in seen_parts[1:]:
            seen_final = seen_final.unionByName(p)
        return CrawlResult(
            pages=pages, links=links, seen=seen_final, order=order, metrics=metrics
        )

    def rebuild_frontier_from_links(
        self, links: DataFrame, pages: DataFrame, base_domain: str, next_seq: int
    ) -> DataFrame:
        """Queue-rebuild fallback (crawler.py:455-476): when no frontier
        snapshot survives, pending = internal link targets not yet
        crawled — a left-anti join against the pages table, first-seen
        order preserved."""
        crawled = pages.select(F.col("url").alias("__crawled"))
        cand = (
            links.filter(F.col("is_internal"))
            .select(
                U.canonicalize_url(F.col("target_url")).alias("url"),
                F.col("src_seq"),
                F.col("anchor_pos"),
            )
            .join(crawled, F.col("url") == F.col("__crawled"), "left_anti")
        )
        cand = cand.withColumn("host", U.url_host(F.col("url")))
        cand = self._admit(cand, base_domain)
        wfirst = Window.partitionBy("url").orderBy("src_seq", "anchor_pos")
        cand = (
            cand.withColumn("__rn", F.row_number().over(wfirst))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        rebuilt = ordered_seq(cand, ["src_seq", "anchor_pos"], seq_col="seq", start=next_seq)
        return rebuilt.select(
            "url",
            U.url_hash(F.col("url")).alias("url_hash"),
            "host",
            F.lit(1).alias("depth"),  # reference: link.get('depth', 1)
            F.lit(0).alias("wave"),
            "seq",
        )

    def _snapshot(self, wave, frontier, seen, pages, links, metric,
                  on_data_written=None):
        from ..state.snapshots import SnapshotStore

        store = SnapshotStore(self.state_dir)
        store.commit_wave(
            wave,
            frontier=frontier,
            seen=seen,
            pages=pages,
            links=links,
            metric=metric,
            base_domain=getattr(self, "_base_domain", None),
            on_data_written=on_data_written,
        )
