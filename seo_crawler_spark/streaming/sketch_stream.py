"""Streaming HyperLogLog: continuous distinct-cardinality monitoring
over an unbounded crawl feed, with CONSTANT state.

The streaming twin of ``operators.sketches.hll_distinct``: documents
arrive as a Structured Streaming file source; each micro-batch builds
its own 64-register table (``hll_registers`` — one map-side max-agg)
and MERGES it into the persisted state by register-wise max. That max
is the whole story: it is associative, commutative, and idempotent, so
(a) state stays ≤ |sources|·64 rows forever — an unbounded crawl
monitored in a few KB, the property no exact-distinct stream has
(exact streaming distinct state grows with the key universe), and
(b) a RETRIED micro-batch is harmless — max(state, batch, batch) =
max(state, batch). Exactly-once therefore needs only the versioned-
state discipline: batch k writes merge(v_{k-1}, batch_k) to a fresh
``v<k>`` dir (staged + atomic rename, the snapshots.py convention);
a retry of batch k recomputes from v_{k-1} and overwrites its own
version, never double-counting. The arrival staging and the fold are
``streaming/versioned.py``'s, shared with the other streaming twins.

Because the merged registers are bit-identical to the batch operator's
(same hash, same rank CASE chain, same max), the registered query
``hll_distinct_stream`` shares ``hll_distinct``'s DuckDB oracle — a
streaming operator with a full SQL hash-match gate, the
dedup_incremental_stream pattern.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sketches import hll_exact, hll_finalize, hll_registers
from ..sources.tables import load
from .versioned import _latest_version, _stage_batches, stream_fold


def stream_hll(
    spark: SparkSession,
    input_dir: str,
    schema,
    state_dir: str,
) -> None:
    """Run the availableNow stream: per micro-batch, build the batch's
    register table and fold it into the versioned state by register
    max (``versioned.stream_fold``)."""
    stream_fold(
        spark, input_dir, schema, state_dir,
        partial=hll_registers,
        merge=lambda u: u.groupBy("source", "j").agg(F.max("m").alias("m")),
    )


def hll_distinct_stream(
    spark: SparkSession, sf_dir: str, n_batches: int = 3
) -> DataFrame:
    """Registered query: the full streaming pipeline end-to-end over
    the driver's documents table — stage as ``n_batches`` arrival
    files, availableNow stream with per-batch register merge, then the
    batch operator's estimator over the final state. Register-wise max
    is exact (idempotent int max), so this query shares
    ``hll_distinct``'s DuckDB oracle: streaming ≡ batch, hash-checked."""
    import tempfile

    docs = load(spark, "documents", sf_dir).select(
        "doc_id", "source", "text"
    )
    work = tempfile.mkdtemp(prefix="hll_stream_")
    try:
        input_dir, state_dir = f"{work}/in", f"{work}/state"
        _stage_batches(spark, docs, input_dir, n_batches, key="doc_id")
        stream_hll(spark, input_dir, docs.schema, state_dir)
        _, final = _latest_version(state_dir)
        regs = spark.read.parquet(final)
        # materialize (#sources rows) before deleting the staging dir —
        # the returned DataFrame must not depend on files under `work`
        return hll_finalize(regs, hll_exact(docs)).localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
