"""Per-host politeness scheduling as a window-rank budget gate.

The reference enforces politeness with a wall-clock token bucket
(src/core/rate_limiter.py:24-38, applied crawler.py:1055-1057). With no
live network, politeness is a *logical scheduling constraint*: at most
``budget(host)`` URLs of a host may be fetched per wave; the rest defer
to later waves, earliest-seq first (a per-host priority queue).

Skew: a mega-host (30% of a 10^10 frontier) would funnel through one
window partition. ``salt_buckets`` splits each host into k salted
sub-queues ranked in parallel, each admitting ceil(B/k) — same budget,
k-way parallel ranking, deterministic (salt = pmod(url_hash, k)).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def politeness_tag(
    frontier: DataFrame,
    default_budget: int,
    robots: DataFrame | None = None,
    wave_seconds: float = 60.0,
    salt_buckets: int = 1,
    order_by: tuple[str, ...] = ("seq",),
    eligible: str | None = None,
) -> DataFrame:
    """Tag frontier rows with ``admitted`` under per-host budgets in a
    single pass, so callers count both sides in one job.

    Budget per host = floor(wave_seconds / crawl_delay) when robots has a
    crawl_delay for the host, else ``default_budget``. Admission order
    within a host is ``order_by`` — (seq,) is FIFO; pass e.g.
    ("priority", "seq") for a true per-host priority queue.

    ``eligible`` names an upstream boolean column (e.g. the trap cap's
    ``trap_admitted``): only eligible rows count against and receive the
    budget — the rank becomes a conditional running count over the same
    window, so a pre-gate composes in the SAME pass (one checkpoint, one
    grouped count downstream) instead of its own materialization.
    """
    df = frontier
    if robots is not None:
        # max(1, ...) like host_budget(): crawl_delay > wave_seconds
        # would floor to 0 and starve the host forever (rank <= 0)
        dim = robots.select(
            F.col("host").alias("__rhost"),
            F.greatest(
                F.floor(F.lit(wave_seconds) / F.col("crawl_delay")).cast("int"),
                F.lit(1),
            ).alias("__rbudget"),
        )
        df = df.join(F.broadcast(dim), df.host == F.col("__rhost"), "left").drop("__rhost")
        budget_col = F.coalesce(F.col("__rbudget"), F.lit(default_budget))
    else:
        budget_col = F.lit(default_budget)

    if salt_buckets > 1:
        salt = F.pmod(F.col("url_hash"), F.lit(salt_buckets))
        cap = F.ceil(budget_col / F.lit(salt_buckets)).cast("int")
        w = Window.partitionBy("host", salt).orderBy(*order_by)
    else:
        cap = budget_col
        w = Window.partitionBy("host").orderBy(*order_by)
    if eligible is None:
        rnk = F.row_number().over(w)
        admit = rnk <= cap
    else:
        # rank among eligible rows only = running conditional count
        # (includes the current row, so it equals row_number over the
        # eligible subset for eligible rows)
        rnk = F.sum(F.when(F.col(eligible), 1).otherwise(0)).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        admit = F.col(eligible) & (rnk <= cap)
    df = df.withColumn("__admit", admit)

    if "__rbudget" in df.columns:
        df = df.drop("__rbudget")
    return df.withColumnRenamed("__admit", "admitted")


def host_budget(crawl_delay: float, wave_seconds: float = 60.0) -> int:
    return max(1, math.floor(wave_seconds / max(crawl_delay, 1e-9)))


def url_template(url) -> F.Column:
    """Collapse a canonical URL's path+query to a template: digit runs →
    'N'. Calendars (/cal/2024/3/7), session-id mints (?session=8123) and
    paginated facet loops all fold to one template per host — the unit a
    trap cap budgets on. Row-local regexp (codegen, no Python).

    A URL that doesn't parse as scheme://authority (relative or
    scheme-less — can't happen for canonicalized frontier rows, but the
    cap must not silently merge them) templates as its raw digit-folded
    string instead of collapsing into one '' bucket per host."""
    pathq = F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)", 1)
    base = F.when(
        url.rlike(r"^[A-Za-z][A-Za-z0-9+.-]*://"), pathq
    ).otherwise(url)
    return F.regexp_replace(base, "[0-9]+", "N")


def template_cap_tag(
    frontier: DataFrame,
    cap: int,
    salt_buckets: int = 1,
) -> DataFrame:
    """Tag frontier rows with ``trap_admitted``: at most ``cap`` URLs per
    (host, URL template) admitted per wave, earliest ``seq`` first —
    the frontier-side defense against crawl traps (see
    plans/crawl_queries.crawl_trap_detection for the analytics twin).

    A trap host minting unbounded URLs under one template degrades from
    "frontier fills with the trap" to "cap URLs per wave" — geometric
    throttling with zero effect on hosts below the cap.

    Skew: the window partitions by (host, template), so a trap template
    IS a hot partition — 10^9 minted URLs would sort in ONE task.
    ``salt_buckets`` applies the same fix as :func:`politeness_tag`:
    split each template into k salted sub-queues (salt = pmod(url_hash,
    k)) each admitting ceil(cap/k) — k-way parallel ranking,
    deterministic, admitting between cap and k·ceil(cap/k) per wave
    (same over-admission bound the politeness gate accepts)."""
    tpl = url_template(F.col("url"))
    if salt_buckets > 1:
        salt = F.pmod(F.col("url_hash"), F.lit(salt_buckets))
        per_salt_cap = -(-cap // salt_buckets)  # ceil(cap/k)
        w = Window.partitionBy("host", tpl, salt).orderBy("seq")
    else:
        per_salt_cap = cap
        w = Window.partitionBy("host", tpl).orderBy("seq")
    return (
        frontier.withColumn("__trnk", F.row_number().over(w))
        .withColumn("trap_admitted", F.col("__trnk") <= per_salt_cap)
        .drop("__trnk")
    )
