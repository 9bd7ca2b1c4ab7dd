"""crawl_polite: a fresh ``CrawlEngine.run`` over a seeded synthetic web,
time-boxed through the engine's ``control`` poll. One step is one wave.

The crawl stays on the mega-host (host0, ~30% of the docs) and starts
from 2x the per-wave budget of seed URLs, so every wave admits exactly
``BUDGET`` pages whatever the seed: the work per step is the same on
every input and the seed only changes which pages and links it meets.
Robots crawl delays are fixed for the same reason (the generator draws
them per seed, and they set the per-host budget)."""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import tempfile
import time
from collections import Counter

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from seo_crawler_spark.operators.frontier import CrawlConfig, CrawlEngine
from seo_crawler_spark.reference_model import ReferenceModel
from seo_crawler_spark.sources.corpus import generate_corpus, generate_robots
from seo_crawler_spark.state.snapshots import SnapshotStore

from harness import Measured, persisted_ids, release_since

N_DOCS, N_HOSTS = 1500, 10
BUDGET = 20
CRAWL_DELAY = 1.0
MAX_DEPTH = 6
# warm-up waves of the first crawl: the first wave after the (cold)
# prologue takes ~1.5x a steady wave, the second is within ~20% of one.
# JIT compilation keeps shaving time off for minutes, so there is no
# point where wave time stops falling; a fixed count puts every run at
# the same point of that curve, and a third wave does not fit the time
# all runs of the benchmark may take together.
WARMUP_WAVES = 2
DIGEST_WAVES = 3  # every crawl runs at least this many waves


class CrawlPolite:
    name = "crawl_polite"

    def __init__(self, spark: SparkSession, seed: int, work: str):
        self.spark, self.seed, self.work = spark, seed, work
        self.seeds = [f"https://host0.example.com/page/{k}.html" for k in range(2 * BUDGET)]
        self.cfg = CrawlConfig(
            max_depth=MAX_DEPTH,
            max_urls=10**9,
            politeness_budget=BUDGET,
            wave_seconds=BUDGET * CRAWL_DELAY,
        )
        self._reference: dict[int, dict] = {}
        self.digest = ""
        self.warmed = False

    def setup(self) -> Measured:
        """Inputs; the warm-up waves run at the start of the measured crawl."""
        spark = self.spark
        self.corpus = generate_corpus(
            spark, n_docs=N_DOCS, n_hosts=N_HOSTS, seed=self.seed
        ).localCheckpoint(eager=True)
        self.robots = (
            generate_robots(spark, n_hosts=N_HOSTS, seed=self.seed)
            .withColumn("crawl_delay", F.lit(CRAWL_DELAY))
            .localCheckpoint(eager=True)
        )
        self.corpus_dict = {r["doc_id"]: r.asDict() for r in self.corpus.collect()}
        self.robots_dict = {
            r["host"]: list(r["disallow_globs"] or []) for r in self.robots.collect()
        }
        return Measured()

    def measure(self, seconds: float, ready) -> Measured:
        """One checked crawl. In the first crawl of the process the first
        WARMUP_WAVES waves are the warm-up, then ``ready()`` is called;
        later crawls are timed from their first wave. Timed waves run until
        ``seconds`` have passed (with ``seconds=0`` the crawl stops once
        warm, timing no wave)."""
        spark = self.spark
        sc = spark.sparkContext
        self.close()
        state = tempfile.mkdtemp(prefix="crawl-", dir=self.work)
        polls: list[float] = []
        # index of the poll that ended the warm-up
        timed_from: list[int] = [0] if self.warmed else []

        def control():
            polls.append(time.time())
            waves = [b - a for a, b in zip(polls, polls[1:])]
            if not timed_from and len(waves) >= WARMUP_WAVES:
                timed_from.append(len(polls) - 1)
                self.warmed = True
                ready()
            if (
                timed_from
                and polls[-1] - polls[timed_from[0]] >= seconds
                and len(waves) >= DIGEST_WAVES
            ):
                return "stop"
            sc.setJobGroup(f"wave-{len(waves)}", "perfbench crawl_polite wave")
            return None

        before = persisted_ids(spark)
        engine = CrawlEngine(spark, self.corpus, self.robots, self.cfg, state_dir=state)
        engine.control = control
        res = engine.run(self.seeds)
        sc.setJobGroup("check", "perfbench output check")
        n_waves = len(res.metrics)
        # the frontier never drains inside the time box, so every wave
        # ended at a poll and admitted exactly BUDGET pages
        ok = bool(timed_from) and len(polls) == n_waves + 1 and all(
            w["scheduled"] == BUDGET for w in res.metrics
        )
        ok = ok and self.check(res)
        r = timed_from[0] if timed_from else 0
        m = Measured()
        m.windows = list(zip(polls[r:-1], polls[r + 1 :]))
        m.steps = [b - a for a, b in m.windows]
        m.work = sum(w["scheduled"] for w in res.metrics[r:])
        m.elapsed = polls[-1] - polls[r]
        m.attempted = n_waves
        m.failed = 0 if ok else n_waves
        m.layers = {
            "phases": [w["phases"] for w in res.metrics[r:]],
            "state_bytes": _dir_bytes(state),
            "pages_total": sum(w["scheduled"] for w in res.metrics),
        }
        m.rdds_left.append(release_since(spark, before))
        self.last_state = state
        return m

    def check(self, res) -> bool:
        """Engine crawl order and seen set equal the pure-Python
        ReferenceModel's for the same number of pages (the model stops at
        ``max_urls`` exactly where the time box stopped the engine), and
        no (wave, host) exceeds the politeness budget."""
        order = [(r["url"], r["wave"]) for r in res.order.collect()]
        seen = {r["url"] for r in res.seen.select("url").collect()}
        n = len(order)
        if n not in self._reference:
            model = ReferenceModel(
                self.corpus_dict, self.robots_dict,
                max_depth=self.cfg.max_depth, max_urls=n,
            )
            self._reference[n] = model.crawl(self.seeds)
        ref = self._reference[n]
        per_wave_host = Counter((w, u.split("/")[2]) for u, w in order)
        # digest over the pages every crawl reaches, so the same seed gives
        # the same digest on every crawl and every run
        prefix = "\n".join(u for u, _ in order[: DIGEST_WAVES * BUDGET])
        digest = hashlib.sha256(prefix.encode()).hexdigest()[:16]
        if self.digest and digest != self.digest:
            return False
        self.digest = digest
        return (
            [u for u, _ in order] == [u for u, _ in ref["order"]]
            and seen == ref["seen"]
            and max(per_wave_host.values()) <= BUDGET
        )

    def layers(self, m: Measured, log) -> dict:
        """Per-layer numbers from the engine, the snapshot store and the
        event log (``log``) of the measured crawl."""
        per_wave = [log.window(a, b) for a, b in m.windows]
        out = {
            "frontier.jobs_per_wave": statistics.median(w["jobs"] for w in per_wave),
            "frontier.wave_driver_only_s": statistics.median(w["driver_only_s"] for w in per_wave),
            "frontier.waves": len(m.steps),
            "frontier.pages": m.work,
            "snapshots.bytes_per_page": m.layers["state_bytes"] / m.layers["pages_total"],
            "ckpt.rdds_left_per_step": m.rdds_left[-1],
        }
        for phase in ("sched", "fetch_extract", "expand", "fold", "snapshot"):
            out[f"frontier.phase_{phase}_s"] = statistics.median(
                p.get(phase, 0.0) for p in m.layers["phases"]
            )
        store = SnapshotStore(self.last_state)
        latest = store.latest_wave()
        t = time.perf_counter()
        for read in (store.read_frontier, store.read_seen, store.read_pages, store.read_links):
            read(self.spark, latest).write.format("noop").mode("overwrite").save()
        out["snapshots.read_s"] = time.perf_counter() - t
        return out

    def close(self) -> None:
        shutil.rmtree(getattr(self, "last_state", ""), ignore_errors=True)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )
