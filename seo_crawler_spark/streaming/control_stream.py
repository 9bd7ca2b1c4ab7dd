"""Streaming EWMA control chart: continuous error-rate monitoring over
an unbounded event feed with day-bounded state.

The streaming twin of ``operators.events_analytics.error_rate_control``
(the sketch_stream pattern, fourth member of the streaming-twin
family): events arrive as a Structured Streaming file source; each
micro-batch computes its per-day (n, n_err) PARTIAL counts (the only
corpus-scale stage of the batch operator, and an associative
SUM-merge) and folds them into the persisted day table. State is
bounded by #days regardless of event volume — the property a per-wave
monitor needs. Exactly-once follows the versioned-state discipline
(snapshots.py convention): batch k writes merge(v_{k-1}, batch_k) to
a fresh ``v<k>`` dir via staged write + atomic rename; a RETRIED
batch recomputes from v_{k-1} and overwrites only its own version, so
the non-idempotent sum is never double-applied. The arrival staging and
the fold are ``streaming/versioned.py``'s, shared with the other
streaming twins.

The chart (EWMA + squared-integer control limits) then runs over the
final merged day table via the batch operator's own
``chart_from_daily`` — bit-identical arithmetic — so the registered
query ``error_rate_control_stream`` SHARES ``error_rate_control``'s
DuckDB oracle: streaming ≡ batch, hash-checked (the
hll_distinct_stream / dedup_incremental_stream gate).
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.events_analytics import chart_from_daily, daily_counts
from ..sources.tables import load
from .versioned import _latest_version, _stage_batches, stream_fold


def stream_daily_counts(
    spark: SparkSession, input_dir: str, schema, state_dir: str
) -> None:
    """availableNow stream: per micro-batch, fold the batch's per-day
    partial counts into the versioned day-table state by SUM
    (``versioned.stream_fold``)."""
    stream_fold(
        spark, input_dir, schema, state_dir,
        partial=daily_counts,
        merge=lambda u: u.groupBy("day").agg(
            F.sum("n").alias("n"), F.sum("n_err").alias("n_err")
        ),
    )


def error_rate_control_stream(
    spark: SparkSession, sf_dir: str, n_batches: int = 3
) -> DataFrame:
    """Registered query: the full streaming pipeline end-to-end —
    stage the events table as arrival files, stream with per-batch
    day-count merge, then the batch operator's chart over the final
    state. Integer sums merge exactly, so this shares
    ``error_rate_control``'s oracle."""
    import tempfile

    ev0 = load(spark, "events", sf_dir)
    ev = ev0.select(
        "event_id",
        "event_type",
        F.col("ts").cast("timestamp").cast("double").alias("e"),
    )
    work = tempfile.mkdtemp(prefix="ctl_stream_")
    try:
        input_dir, state_dir = f"{work}/in", f"{work}/state"
        _stage_batches(spark, ev, input_dir, n_batches, key="event_id")
        stream_daily_counts(spark, input_dir, ev.schema, state_dir)
        _, final = _latest_version(state_dir)
        counts = spark.read.parquet(final)
        # materialize (#days rows) before the staging dir is deleted —
        # the returned DataFrame must not depend on files under `work`
        return (
            chart_from_daily(counts)
            .select("day", "n", "n_err", "x", "ewma", "alarm")
            .orderBy("day")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
