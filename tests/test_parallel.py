"""run_parallel (parallel.py): the driver-thread overlap helper behind
the round-6 composition optimizations (spam_mass, rank_correlation,
pagerank_warm_start, bowtie_structure, _bm25f_tables,
dedup_incremental) and the per-wave snapshot writes. Pins the contract
clauses the callers rely on: call-order results (``[]`` for none),
exception propagation, job tags inherited by the member threads, and
that concurrently checkpointed DataFrames carry exactly the values their
sequential builds produce."""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F

from seo_crawler_spark.parallel import run_parallel


def test_results_in_call_order():
    assert run_parallel(lambda: 1, lambda: 2, lambda: 3) == [1, 2, 3]


def test_single_thunk_runs_inline():
    ident = []
    run_parallel(lambda: ident.append(threading.current_thread()))
    assert ident == [threading.current_thread()]


def test_exception_propagates():
    def boom():
        raise ValueError("member failed")

    with pytest.raises(ValueError, match="member failed"):
        run_parallel(lambda: 1, boom)


def test_thunks_run_concurrently():
    # both thunks must be in flight at once: each waits on a barrier
    # the OTHER's progress releases — sequential execution would hang
    barrier = threading.Barrier(2, timeout=30)

    def member(tag):
        barrier.wait()
        return tag

    assert run_parallel(lambda: member("a"), lambda: member("b")) == [
        "a",
        "b",
    ]


def test_concurrent_checkpoints_match_sequential(spark):
    base = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    )
    seq_a = base.groupBy("k").agg(F.sum("id").alias("s")).collect()
    seq_b = base.groupBy("k").agg(F.max("id").alias("m")).collect()
    par_a, par_b = run_parallel(
        lambda: base.groupBy("k")
        .agg(F.sum("id").alias("s"))
        .localCheckpoint(eager=True),
        lambda: base.groupBy("k")
        .agg(F.max("id").alias("m"))
        .localCheckpoint(eager=True),
    )
    assert sorted(map(tuple, par_a.collect())) == sorted(map(tuple, seq_a))
    assert sorted(map(tuple, par_b.collect())) == sorted(map(tuple, seq_b))


def test_zero_thunks_give_empty_list():
    assert run_parallel() == []


def test_members_inherit_job_tags(spark):
    # a tag set on the caller's thread must reach every member thread,
    # so jobs the members submit are cancellable by that tag
    spark.addTag("run-parallel-tag")
    try:
        tags = run_parallel(spark.getTags, spark.getTags)
    finally:
        spark.removeTag("run-parallel-tag")
    assert all("run-parallel-tag" in t for t in tags)
