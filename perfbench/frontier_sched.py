"""frontier_sched: one bulk scheduling pass through the frontier's layers,
each boundary materialized with an eager local checkpoint so each layer
is timed alone. One step is one pass:

  messy raw URLs -> canonicalize_url / url_hash -> exact dedupe_against_seen
  against a seen table several times the batch -> salted politeness_tag
  -> ordered_seq_counted

The work is executor-bound with a handful of jobs per pass, so seen-state,
canonicalization and politeness changes show here and driver job-count
cuts should not. The traced run also times the same pass at ``local[1]``
for the scaling figure."""

from __future__ import annotations

import math
import statistics
import time
from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from seo_crawler_spark.ckpt import local_ckpt
from seo_crawler_spark.functions import urls as U
from seo_crawler_spark.functions.urls import _canonicalize_py
from seo_crawler_spark.operators.ordering import ordered_seq_counted
from seo_crawler_spark.operators.politeness import politeness_tag
from seo_crawler_spark.operators.seen import dedupe_against_seen

from harness import Measured, persisted_ids, release_since

N_HOSTS, PAGES_PER_HOST = 16, 40_000
N_SEEN, N_CAND = 240_000, 60_000
BUDGET, SALT = 500, 4
LINKS_PER_PAGE = 50
WARMUP_MIN_PASSES, WARMUP_MAX_PASSES = 3, 4


def _urls(rng, n: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    # Zipf-ish host skew: host 0 takes the largest share
    host = np.minimum(rng.zipf(1.6, n) - 1, N_HOSTS - 1)
    page = rng.integers(0, PAGES_PER_HOST, n)
    has_query = rng.random(n) < 0.3
    return host, page, has_query


def _canonical(h: int, k: int, q: bool) -> str:
    return f"https://host{h}.example.com/page/{k}.html" + ("?a=1&b=2" if q else "")


def _messy(h: int, k: int, q: bool, style: int) -> str:
    host = f"host{h}.example.com"
    query = ("?b=2&a=1" if style % 2 else "?a=1&b=2") if q else ""
    if style == 0:
        return f"HTTPS://{host.upper()}:443/page/{k}.html{query}#top"
    if style == 1:
        return f"https://{host}/page/{k}.html{query}"
    if style == 2:
        return f"https://{host.upper()}/page/{k}.html{query}#frag"
    return f"Https://{host}:443/page/{k}.html{query}"


def make_inputs(seed: int) -> tuple[pd.DataFrame, pd.DataFrame, int]:
    """(raw candidates, seen urls, expected fresh count) for a seed; built
    once and loaded into each session the pass runs in."""
    rng = np.random.default_rng(seed)
    seen = {_canonical(*t) for t in zip(*(a.tolist() for a in _urls(rng, N_SEEN)))}
    host, page, q = (a.tolist() for a in _urls(rng, N_CAND))
    style = rng.integers(0, 4, N_CAND).tolist()
    raw = [_messy(*t) for t in zip(host, page, q, style)]
    idx = np.arange(N_CAND)
    # the engine's ordering keys: (source page seq, anchor position)
    cand = pd.DataFrame({
        "raw": raw,
        "src_seq": idx // LINKS_PER_PAGE,
        "anchor_pos": (idx % LINKS_PER_PAGE).astype("int32"),
    })
    expected_fresh = sum(_canonicalize_py(u) not in seen for u in raw)
    return cand, pd.DataFrame({"url": sorted(seen)}), expected_fresh


class SchedPass:
    """The pass over one session's copy of the inputs. ``partitions`` fixes
    the candidate partitioning, so ``local[1]`` and ``local[n]`` run the
    same tasks."""

    def __init__(
        self, spark: SparkSession, inputs: tuple[pd.DataFrame, pd.DataFrame, int],
        partitions: int,
    ):
        cand, seen, self.expected_fresh = inputs
        self.raw = (
            spark.createDataFrame(cand, "raw string, src_seq long, anchor_pos int")
            .repartition(partitions)
            .localCheckpoint(eager=True)
        )
        self.seen = (
            spark.createDataFrame(seen, "url string")
            .select(U.url_hash(F.col("url")).alias("url_hash"), "url", F.lit(0).alias("wave"))
            .localCheckpoint(eager=True)
        )

    def schedule(self) -> dict:
        """The timed part: per-layer seconds, plus the frames the check reads."""
        out = {}
        t = time.perf_counter()
        cand = local_ckpt(
            self.raw.select(
                U.canonicalize_url(F.col("raw")).alias("url"), "src_seq", "anchor_pos"
            )
            .withColumn("host", U.url_host(F.col("url")))
            .withColumn("url_hash", U.url_hash(F.col("url")))
        )
        out["urls.canonicalize_s"] = time.perf_counter() - t
        t = time.perf_counter()
        fresh = local_ckpt(dedupe_against_seen(cand, self.seen))
        out["seen.dedupe_s"] = time.perf_counter() - t
        t = time.perf_counter()
        tagged = local_ckpt(
            politeness_tag(fresh, BUDGET, salt_buckets=SALT, order_by=("src_seq", "anchor_pos"))
        )
        out["politeness.tag_s"] = time.perf_counter() - t
        t = time.perf_counter()
        ordered, n_ordered = ordered_seq_counted(
            tagged.filter(F.col("admitted")), ["src_seq", "anchor_pos"]
        )
        local_ckpt(ordered)
        out["ordering.seq_s"] = time.perf_counter() - t
        out["tagged"], out["n_ordered"] = tagged, n_ordered
        return out

    def check(self, out: dict) -> bool:
        """Fresh count equals a pure-Python canonicalize-and-diff of the
        inputs; admitted equals the sum of ``min(n, ceil(budget / salts))``
        over (host, salt) queues; the sequence numbers exactly the
        admitted rows. Adds the fresh and admit ratios to ``out``."""
        tagged = out.pop("tagged")
        n_ordered = out.pop("n_ordered")
        groups = {
            (r["host"], r["salt"], r["admitted"]): r["n"]
            for r in tagged.groupBy(
                "host", F.pmod("url_hash", F.lit(SALT)).alias("salt"), "admitted"
            ).agg(F.count(F.lit(1)).alias("n")).collect()
        }
        n_fresh = sum(groups.values())
        admitted = sum(n for (_, _, a), n in groups.items() if a)
        per_queue = Counter()
        for (host, salt, _), n in groups.items():
            per_queue[(host, salt)] += n
        cap = math.ceil(BUDGET / SALT)
        out["seen.fresh_ratio"] = n_fresh / N_CAND
        out["politeness.admit_ratio"] = admitted / n_fresh
        return (
            n_fresh == self.expected_fresh
            and admitted == sum(min(n, cap) for n in per_queue.values())
            and n_ordered == admitted
        )


class FrontierSched:
    name = "frontier_sched"

    def __init__(self, spark: SparkSession, seed: int, partitions: int):
        self.spark, self.partitions = spark, partitions
        self.inputs = make_inputs(seed)

    def setup(self) -> Measured:
        """Inputs loaded and checkpointed, then warm-up passes until pass
        time stops falling (returned: they count as attempted too)."""
        self.sp = SchedPass(self.spark, self.inputs, self.partitions)
        warm = Measured()
        while len(warm.steps) < WARMUP_MAX_PASSES:
            self.one_pass(warm)
            t = warm.steps
            if len(t) >= WARMUP_MIN_PASSES and t[-1] > 0.9 * min(t[:-1]):
                break
        return warm

    def one_pass(self, m: Measured) -> None:
        """One timed pass, then its (untimed) output check, then release
        exactly the RDDs the pass persisted."""
        spark = self.spark
        spark.sparkContext.setJobGroup("sched", "perfbench frontier_sched pass")
        before = persisted_ids(spark)
        m.attempted += 1
        start = time.time()
        try:
            out = self.sp.schedule()
            end = time.time()
            ok = self.sp.check(out)
        except Exception as e:  # a raising pass is a failed operation
            print(f"frontier_sched: {type(e).__name__}: {e}", flush=True)
            end, ok, out = time.time(), False, {}
        m.failed += not ok
        m.windows.append((start, end))
        m.steps.append(end - start)
        m.work += N_CAND
        m.elapsed += end - start
        for k, v in out.items():
            m.layers.setdefault(k, []).append(v)
        m.rdds_left.append(release_since(spark, before))

    def measure(self, seconds: float, ready) -> Measured:
        """Passes until ``seconds`` of pass time have been measured;
        ``work_per_s`` is candidates per second of pass time (output
        checks excluded)."""
        ready()
        m = Measured()
        while not m.steps or m.elapsed < seconds:
            self.one_pass(m)
        return m

    def layers(self, m: Measured, log) -> dict:
        out = {k: statistics.median(v) for k, v in m.layers.items()}
        out["ckpt.rdds_left_per_step"] = statistics.median(m.rdds_left)
        return out

    def close(self) -> None:
        pass


def scaling(spark: SparkSession, inputs, partitions: int) -> float:
    """Time of one pass after one warm-up pass in ``spark``; raises if a
    pass fails its check."""
    sp = SchedPass(spark, inputs, partitions)
    for _ in range(2):
        before = persisted_ids(spark)
        t = time.time()
        out = sp.schedule()
        elapsed = time.time() - t
        if not sp.check(out):
            raise RuntimeError("frontier_sched pass failed its check")
        release_since(spark, before)
    return elapsed
