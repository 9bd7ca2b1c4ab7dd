"""Stats-safe local checkpointing for iterative plans, and
:func:`release_scope`, the one place that releases checkpoint blocks.

``DataFrame.localCheckpoint`` truncates lineage but — by design, to keep
broadcast decisions stable — the resulting ``LogicalRDD`` INHERITS the
original plan's size-in-bytes statistics (Spark `Dataset.checkpoint`
passes `queryExecution.optimizedPlan.stats` through). In an iterative
engine that is fatal: Catalyst's default (non-CBO) join estimate is the
PRODUCT of child sizes, so a loop that each wave joins two frames
derived from the previous wave's checkpoint SQUARES the estimate per
iteration. The BigInteger carrying sizeInBytes doubles in digit count
every wave, join estimation starts multiplying million-digit numbers
(Toom-Cook shows up as a 100%-CPU driver thread + humongous G1
allocations), and per-wave wall time doubles: measured 2s/wave flat
through wave 15, then 2.6 → 4.4 → 9.6 → 23.5s — a crawl that would run
thousands of waves dies by wave ~25. (Diagnosed via SIGQUIT thread
dumps: `BigInteger.multiplyToomCook3` under join stats estimation.)

:func:`local_ckpt` checkpoints and then re-wraps the SAME internal-row
RDD (zero copy, no Python round-trip) in a fresh ``LogicalRDD`` without
inherited statistics — sizeInBytes falls back to the conservative
``spark.sql.defaultSizeInBytes`` constant, so estimates stay bounded no
matter how many waves compound. The conservative default means Catalyst
won't AUTO-broadcast these frames; the engine broadcasts its dimension
tables explicitly (`F.broadcast`), which `tests/test_plan_quality.py`
pins, so nothing regresses.

EAGER ONLY — why this repo never uses ``localCheckpoint(eager=False)``:
a LAZY local checkpoint materializes on whichever thread first computes
the RDD. When that thread is a ``broadcast-exchange-*`` worker (AQE
collects broadcast sides on a thread pool, concurrently with sibling
stages of the same query), its post-job ``RDD.doCheckpoint →
markCheckpointed`` takes the GLOBAL ``RDDCheckpointData$`` class lock
and then wants the RDD's own monitor — while the
``dag-scheduler-event-loop``, planning a concurrent job over the same
pending RDD, holds that RDD monitor inside ``getCacheLocs`` and wants
the class lock via ``RDD.partitions → checkpointRDD``. That is a
Java-level ABBA deadlock: observed in this repo as a permanently hung
suite (jstack: "Found one Java-level deadlock", broadcast-exchange-1053
vs dag-scheduler-event-loop, Spark 4.1.2; full stacks in PLANS.md).
Eager-at-creation closes the window completely — the frame never
escapes to a consumer plan before its checkpoint is finished, so no
broadcast thread can ever be the first materializer. The cost (one
dedicated pass instead of piggybacking on the first consumer) is noise
at bench scale and a sound trade at any scale against a hung driver.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


def local_ckpt(df: DataFrame) -> DataFrame:
    """localCheckpoint(eager) + drop inherited plan statistics.

    Use inside UNBOUNDED iterative loops (the crawl engine's wave loop)
    where checkpointed frames feed next-iteration joins. One-shot
    pipelines and bounded fixed-point loops (pagerank/label-propagation
    at ~5 unrolled iterations) can keep plain ``localCheckpoint`` — the
    estimate gains a bounded number of factors and never reaches
    BigInteger blowup territory.

    Tradeoffs of the stats-free rebuild:

    * The fresh ``LogicalRDD`` also loses ``outputPartitioning`` /
      ``outputOrdering`` metadata that plain ``localCheckpoint``
      preserves, so a downstream join keyed on the checkpoint's
      partitioning re-shuffles. The engine loop accepts that: each
      wave shuffles on different keys anyway, and an extra bounded
      shuffle beats an unbounded stats blowup.
    * ``internalCreateDataFrame`` is `private[sql]` (reachable via py4j
      in classic mode, stable across Spark 3.x/4.x bytecode) and does
      NOT exist under Spark Connect. When the py4j surface is absent we
      fall back to plain ``localCheckpoint`` — correct, but the caller
      should bound loop depth or persist to the snapshot store at fold
      points to keep stats from compounding.
    """
    spark = df.sparkSession
    if not hasattr(df, "_jdf") or not hasattr(spark, "_jsparkSession"):
        # Spark Connect: no py4j handles; stats-free rebuild unavailable.
        return df.localCheckpoint(eager=True)
    jdf = df._jdf.localCheckpoint(True)
    try:
        out_jdf = _stats_free_rebuild(spark, jdf)
    except Exception:  # py4j method missing/renamed in a future Spark
        return DataFrame(jdf, spark)
    return DataFrame(out_jdf, spark)


def _stats_free_rebuild(spark, jdf):
    """Re-wrap a checkpointed jdf's internal-row RDD in a fresh
    LogicalRDD with NO stats argument (falls back to
    defaultSizeInBytes). internalCreateDataFrame is private[sql] in
    Scala — public in bytecode, stable across Spark 3.x/4.x. Split out
    so tests can force the fallback path by monkeypatching this to
    raise (the shape of a future Spark removing the py4j surface)."""
    return spark._jsparkSession.internalCreateDataFrame(
        jdf.queryExecution().toRdd(), jdf.schema(), False
    )


def _persisted(spark: SparkSession) -> dict:
    try:
        return dict(spark.sparkContext._jsc.getPersistentRDDs())
    except AttributeError:  # Spark Connect: no JVM handle to list them
        return {}


@contextmanager
def release_scope(spark: SparkSession) -> Iterator[None]:
    """Unpersist, on exit, exactly the RDDs persisted inside the scope.

    The one owner of checkpoint blocks: a query or crawl run inside the
    scope leaves none behind once the caller has materialized what it
    needs from them, and RDDs persisted before the scope (a caller's
    localCheckpointed frame has no lineage to recompute from) are never
    touched. Without the py4j surface (Spark Connect) the blocks stay."""
    before = _persisted(spark).keys()
    try:
        yield
    finally:
        for rid, rdd in _persisted(spark).items():
            if rid not in before:
                rdd.unpersist(False)
