"""Stats-safe checkpoint (ckpt.local_ckpt): plain localCheckpoint
inherits the source plan's size estimate, so iterative join loops square
it per iteration (BigInteger blowup in join estimation — measured
doubling per-wave engine cost from wave ~16). local_ckpt must keep the
estimate bounded while preserving data and partitioning."""

from __future__ import annotations

from pyspark.sql import functions as F

from seo_crawler_spark.ckpt import local_ckpt, release_scope


def _bits(df) -> int:
    return int(
        df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    ).bit_length()


def test_local_ckpt_preserves_rows_and_partitions(spark):
    df = spark.range(0, 1000, numPartitions=7).select(
        "id", F.concat(F.lit("u"), F.col("id").cast("string")).alias("s")
    )
    out = local_ckpt(df)
    assert out.count() == 1000
    assert out.rdd.getNumPartitions() == 7
    assert sorted(r["s"] for r in out.collect()) == sorted(
        r["s"] for r in df.collect()
    )


def test_local_ckpt_bounds_stats_in_join_loop(spark):
    """5 iterations of join-then-checkpoint: plain localCheckpoint
    compounds the size estimate every round; local_ckpt stays flat."""
    base = spark.range(100).select(
        F.col("id").alias("k"), F.lit("x").alias("s")
    )

    plain = base.localCheckpoint(eager=True)
    safe = local_ckpt(base)
    plain_bits, safe_bits = [], []
    for _ in range(5):
        plain = plain.select("k", "s").join(plain.select("k"), "k").localCheckpoint(
            eager=True
        )
        safe = local_ckpt(safe.select("k", "s").join(safe.select("k"), "k"))
        plain_bits.append(_bits(plain))
        safe_bits.append(_bits(safe))
    # the compounding localCheckpoint keeps growing ...
    assert plain_bits[-1] > plain_bits[0]
    # ... local_ckpt is a fixed-point (conservative default, never grows)
    assert len(set(safe_bits)) == 1
    assert safe_bits[-1] <= 64
    assert safe.count() == 100


def test_local_ckpt_fallback_when_private_api_missing(spark, monkeypatch):
    """A Spark without the py4j internalCreateDataFrame surface (e.g. a
    future version renaming the private[sql] method) must degrade to
    PLAIN localCheckpoint: same rows, same partitioning, lineage still
    truncated — only the stats-free property is lost (documented
    tradeoff; callers bound loop depth or snapshot at fold points)."""
    from seo_crawler_spark import ckpt

    def boom(spark_, jdf):
        raise RuntimeError("internalCreateDataFrame is gone")

    monkeypatch.setattr(ckpt, "_stats_free_rebuild", boom)
    df = spark.range(0, 500, numPartitions=5).select(
        "id", F.concat(F.lit("u"), F.col("id").cast("string")).alias("s")
    )
    out = ckpt.local_ckpt(df)
    assert out.count() == 500
    assert out.rdd.getNumPartitions() == 5
    assert sorted(r["s"] for r in out.collect()) == sorted(
        r["s"] for r in df.collect()
    )
    # lineage is truncated: the plan is a LogicalRDD scan, not the
    # original project over range
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Range" not in plan


def test_local_ckpt_fallback_join_loop_stays_correct(spark, monkeypatch):
    """The documented fallback contract: correctness holds in the same
    join-then-checkpoint loop even though the stats bound is weaker
    (estimates may compound — callers must bound depth). 3 rounds keep
    the BigInteger digits tiny while still exercising the compounding
    path end-to-end."""
    from seo_crawler_spark import ckpt

    monkeypatch.setattr(
        ckpt,
        "_stats_free_rebuild",
        lambda s, j: (_ for _ in ()).throw(RuntimeError("absent")),
    )
    safe = ckpt.local_ckpt(
        spark.range(100).select(F.col("id").alias("k"), F.lit("x").alias("s"))
    )
    for _ in range(3):
        safe = ckpt.local_ckpt(
            safe.select("k", "s").join(safe.select("k"), "k")
        )
    assert safe.count() == 100


def test_release_scope_releases_only_what_it_persisted(spark):
    """Blocks persisted inside the scope are gone after it; a frame
    localCheckpointed before the scope (no lineage to recompute from)
    is still readable."""

    def persisted() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    caller = spark.range(50).select((F.col("id") * 2).alias("v"))
    caller = caller.localCheckpoint(eager=True)
    before = persisted()
    with release_scope(spark):
        inner = local_ckpt(spark.range(20))
        inner = local_ckpt(inner.select((F.col("id") + 1).alias("id")))
        assert inner.count() == 20
        made = persisted() - before
        assert len(made) == 2
    assert not made & persisted()
    assert before <= persisted()
    assert caller.agg(F.sum("v")).collect()[0][0] == 2450

