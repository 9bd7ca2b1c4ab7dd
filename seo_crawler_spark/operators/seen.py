"""URL-seen dedupe: an exact anti-join against the seen table.

Replaces the reference's in-memory Python sets
(src/core/link_manager.py:12-14) with the exact seen table
``(url_hash, url, wave)``, which shards across executors and survives
restarts through the wave snapshots.

Two plans, one answer. The plain plan is a ``left_anti`` join on
``url``: both sides shuffle, which is cheapest while the seen table is
no larger than a few waves of candidates. Once the seen table dwarfs a
wave's candidates, the prefilter plan broadcasts the candidates'
``url_hash`` into a ``left_semi`` join on ``seen``. That scans all of
``seen`` map-side and shuffles none of it; only the seen rows whose
hash some candidate carries (the suspects) reach the exact
``left_anti`` on ``(url_hash, url)``. The ``url`` leg of that key keeps
the answer exact under ``xxhash64`` collisions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedupe_against_seen(
    candidates: DataFrame, seen: DataFrame, prefilter: bool = False
) -> DataFrame:
    """Return candidates ∉ seen (the reference's set-membership gate,
    link_manager.py:48-55, as a state-backed anti-join). Candidate rows
    keep their multiplicity; ``prefilter`` changes the plan, never the
    rows."""
    if not prefilter:
        return candidates.join(
            seen.select(F.col("url").alias("__seen_url")),
            candidates.url == F.col("__seen_url"),
            "left_anti",
        )
    hashes = F.broadcast(candidates.select(F.col("url_hash").alias("__cand_hash")))
    suspects = seen.join(
        hashes, seen.url_hash == F.col("__cand_hash"), "left_semi"
    ).select(F.col("url_hash").alias("__seen_hash"), F.col("url").alias("__seen_url"))
    # composite (hash, url) key: the join compares 8-byte longs first and
    # touches the url string only on hash-equal rows
    return candidates.join(
        suspects,
        (candidates.url_hash == F.col("__seen_hash"))
        & (candidates.url == F.col("__seen_url")),
        "left_anti",
    )
