"""Production-fetch connector contract — the seam where a real HTTP
layer plugs into the crawl engine.

This sandbox is offline by design, so the engine's "fetch" is a left
join of the scheduled wave against a corpus table (the moral
equivalent of the reference's requests.get loop, crawler.py:781-918).
That join is not a shortcut — it IS the production interface: any real
fetch layer is something that turns the wave's scheduled URLs into
corpus-shaped rows. The contract below makes that pluggable.

Contract
--------
A fetcher is any object with::

    fetch(spark, scheduled: DataFrame, wave: int) -> DataFrame

* ``scheduled`` is the wave's politeness-admitted frontier slice with
  at least (url, host, depth, seq) — already canonicalized, deduped
  against the seen set, and budget-capped. The politeness budget has
  ALREADY been applied: a fetcher must not re-order or re-filter,
  only fetch.
* The return value must conform to ``FETCH_RESULT_SCHEMA`` (the
  corpus row shape minus the synthetic ``spans`` column): one row per
  successfully fetched URL, keyed ``doc_id`` = the canonical URL.
  URLs MISSING from the result become status-0 "fetch failed" rows
  (timeouts, DNS errors, connection resets) — exactly the reference's
  create_empty_result path — so a fetcher reports failure by
  omission, not by raising.
* The result must be DISTRIBUTED: the engine joins it wave-locally
  and never collects it. A fetcher that collects URLs to the driver
  breaks at 10^10-frontier scale; implement the network calls inside
  ``mapInPandas`` partitions (each task fetches its own partition's
  URLs — this is also where per-executor connection pools live).
* Returning a SUPERSET (e.g. a whole static corpus) is allowed; the
  engine's left join ignores rows for unscheduled URLs.

Retry/backoff/redirects live INSIDE the fetcher (per-partition),
exactly like the reference keeps them inside its request loop; the
engine's contract is one row (or an omission) per scheduled URL per
wave. Redirect chases should emit the FINAL url's row under the
ORIGINAL url's doc_id with the redirect recorded in raw_html/headers,
mirroring the modeled redirect_chains semantics.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# corpus row shape minus the synthetic `spans` column (spans are a
# generator artifact; a real fetch produces raw_html and the engine's
# Arrow extractor derives everything downstream from it)
FETCH_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("status_code", T.IntegerType(), False),
        T.StructField("content_type", T.StringType(), False),
        T.StructField("size", T.LongType(), False),
        T.StructField("response_time_ms", T.DoubleType(), False),
        T.StructField("raw_html", T.StringType(), False),
    ]
)

_COLS = [f.name for f in FETCH_RESULT_SCHEMA.fields]


class StaticCorpusFetcher:
    """The engine's default fetcher: a ``CrawlEngine`` built without a
    fetcher wraps its corpus in one, so 'fetching' resolves against a
    pre-materialized corpus table. Used for replays, regression
    fixtures, and the synthetic web; also the shape of a
    warehouse-backed re-crawl (corpus = the previous crawl's pages)."""

    def __init__(self, corpus: DataFrame):
        self.corpus = corpus.select(*_COLS)

    def fetch(
        self, spark: SparkSession, scheduled: DataFrame, wave: int
    ) -> DataFrame:
        # full table: the engine's wave left-join selects the subset
        return self.corpus


class PandasBatchFetcher:
    """Adapter for a real fetch layer: runs ``fetch_batch`` inside
    ``mapInPandas`` over the scheduled wave, so the network calls
    execute per-partition on the executors (connection pools, retry
    loops, and politeness-delay sleeps are per-task state — never on
    the driver).

    ``fetch_batch(urls: pd.DataFrame) -> pd.DataFrame`` receives
    (url, host) rows for one partition and returns rows conforming to
    FETCH_RESULT_SCHEMA (possibly fewer rows: omission = fetch
    failure). A production implementation wraps an aiohttp/requests
    session here; tests wrap a deterministic fake."""

    def __init__(self, fetch_batch: Callable[[pd.DataFrame], pd.DataFrame]):
        self.fetch_batch = fetch_batch

    def fetch(
        self, spark: SparkSession, scheduled: DataFrame, wave: int
    ) -> DataFrame:
        fb = self.fetch_batch

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                out = fb(pdf)
                yield out[_COLS] if len(out) else pd.DataFrame(
                    {c: [] for c in _COLS}
                )

        return scheduled.select("url", "host").mapInPandas(
            run, schema=FETCH_RESULT_SCHEMA
        )


class HttpFetcher:
    """Live-HTTP fetcher slot. This environment has no network, so the
    implementation is an explicit stub; the production body is
    documented so a deployment can fill it in without touching the
    engine:

    * one ``aiohttp.ClientSession`` (or requests.Session) per
      executor task, created lazily inside the ``mapInPandas``
      closure and reused across batches;
    * per-URL: GET with timeout, bounded redirect chase, retry with
      exponential backoff on 5xx/connection errors (reference
      crawler.py:781-918 semantics);
    * content-length guard BEFORE body download (the engine also
      gates post-hoc via CrawlConfig.max_file_size);
    * emit (doc_id=url, host, status_code, content_type,
      len(body), elapsed_ms, body_text); omit rows for hard
      failures.
    """

    def __init__(self, timeout_s: float = 10.0, max_redirects: int = 5):
        self.timeout_s = timeout_s
        self.max_redirects = max_redirects

    def fetch(
        self, spark: SparkSession, scheduled: DataFrame, wave: int
    ) -> DataFrame:
        raise NotImplementedError(
            "live HTTP fetch requires network access; plug the "
            "documented aiohttp body into PandasBatchFetcher"
        )
