"""Streaming incremental dedup ≡ the batch operator, and the stream's
exactly-once/retry contract."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from seo_crawler_spark.functions.text import md5int
from seo_crawler_spark.operators.dedup import DELTA_MOD, dedup_incremental
from seo_crawler_spark.sources.tables import load
from seo_crawler_spark.streaming.dedup_stream import (
    dedup_incremental_stream,
    prepare_dedup_base,
    read_verdicts,
    stream_dedup_incremental,
)
from seo_crawler_spark.streaming.versioned import (
    _stage_batches as _stage_delta_files,
)

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(
        (r["doc_id"], r["dup_of"], r["is_kept"]) for r in df.collect()
    )


def test_stream_equals_batch(spark, tmp_path):
    """3 doc_id-ordered arrival batches through the stream produce the
    batch operator's verdicts row-for-row: dup-of-base, dup-of-earlier-
    batch, and dup-within-batch all resolve to the same min partner."""
    got = _rows(dedup_incremental_stream(spark, SF))
    want = _rows(dedup_incremental(spark, SF))
    assert got == want
    assert len(want) > 50
    # the split is real: some delta docs are duplicates, some novel
    kept = [r for r in want if r[2]]
    assert 0 < len(kept) < len(want)


def test_stream_rerun_is_noop(spark, tmp_path):
    """availableNow + checkpoint: a second run of the same stream sees
    no new files, processes zero batches, and leaves verdicts/state
    byte-identical (the exactly-once contract a restarted job needs)."""
    docs = load(spark, "documents", SF).select("doc_id", "text")
    is_delta = (md5int(F.col("doc_id").cast("string")) % DELTA_MOD) == 0
    state_dir, input_dir = str(tmp_path / "state"), str(tmp_path / "in")
    prepare_dedup_base(docs.filter(~is_delta), state_dir)
    delta = docs.filter(is_delta)
    _stage_delta_files(spark, delta, input_dir, 2)
    stream_dedup_incremental(spark, input_dir, delta.schema, state_dir)
    first = _rows(read_verdicts(spark, state_dir))
    batches = sorted(os.listdir(f"{state_dir}/verdicts"))
    stream_dedup_incremental(spark, input_dir, delta.schema, state_dir)
    assert _rows(read_verdicts(spark, state_dir)) == first
    assert sorted(os.listdir(f"{state_dir}/verdicts")) == batches
    # both staged files became their own micro-batch
    assert len([b for b in batches if b.startswith("batch=")]) == 2


def test_late_novel_batch_dedups_against_earlier_arrival(spark, tmp_path):
    """State accumulation across batches: a doc re-arriving in a LATER
    file is claimed by its first arrival, not marked novel."""
    docs = load(spark, "documents", SF).select("doc_id", "text")
    is_delta = (md5int(F.col("doc_id").cast("string")) % DELTA_MOD) == 0
    state_dir, input_dir = str(tmp_path / "state"), str(tmp_path / "in")
    prepare_dedup_base(docs.filter(~is_delta), state_dir)
    delta = docs.filter(is_delta)
    first_kept = [
        r["doc_id"]
        for r in dedup_incremental(spark, SF).filter("is_kept").collect()
    ]
    probe = min(first_kept)  # novel on first arrival by construction
    _stage_delta_files(spark, delta, input_dir, 1)
    # second arrival: same text, new doc_id larger than every delta id
    clone = (
        delta.filter(F.col("doc_id") == probe)
        .withColumn("doc_id", F.lit(10_000_000).cast("long"))
    )
    clone.coalesce(1).write.mode("overwrite").parquet(f"{input_dir}/_c")
    import glob
    import shutil

    part = glob.glob(f"{input_dir}/_c/part-*.parquet")[0]
    shutil.move(part, f"{input_dir}/zzz.parquet")
    shutil.rmtree(f"{input_dir}/_c")
    os.utime(f"{input_dir}/zzz.parquet", (2_000_000, 2_000_000))
    stream_dedup_incremental(spark, input_dir, delta.schema, state_dir)
    verdicts = {
        r["doc_id"]: (r["dup_of"], r["is_kept"])
        for r in read_verdicts(spark, state_dir).collect()
    }
    assert verdicts[probe] == (None, True)
    assert verdicts[10_000_000] == (probe, False)


def test_compaction_preserves_verdicts_and_bounds_state(spark, tmp_path):
    """compact_every=1 (fold before every batch after the first)
    produces the same verdicts as the uncompacted stream AND the batch
    operator; folded delta dirs are gone, base_version advanced, and
    bucket moduli pinned in meta survive a module-constant change."""
    import json

    from seo_crawler_spark.streaming import dedup_stream as DS

    docs = load(spark, "documents", SF).select("doc_id", "text")
    is_delta = (md5int(F.col("doc_id").cast("string")) % DELTA_MOD) == 0
    state_dir, input_dir = str(tmp_path / "state"), str(tmp_path / "in")
    prepare_dedup_base(docs.filter(~is_delta), state_dir)
    delta = docs.filter(is_delta)
    _stage_delta_files(spark, delta, input_dir, 3)
    # simulate a version bump between prepare and stream: the stream
    # must keep pruning with the moduli the state was WRITTEN with
    old_sig = DS.N_SIG_BUCKETS
    DS.N_SIG_BUCKETS = old_sig * 2
    try:
        stream_dedup_incremental(
            spark, input_dir, delta.schema, state_dir, compact_every=1
        )
    finally:
        DS.N_SIG_BUCKETS = old_sig
    got = _rows(read_verdicts(spark, state_dir))
    assert got == _rows(dedup_incremental(spark, SF))
    meta = json.load(open(f"{state_dir}/meta.json"))
    assert meta["base_version"] == 2 and meta["compacted_upto"] == 2
    assert meta["n_sig_buckets"] == old_sig  # pinned, not the bumped value
    live = [
        n
        for n in os.listdir(f"{state_dir}/delta_bands")
        if n.startswith("batch=")
    ]
    assert live == ["batch=2"]  # batches 0-1 folded into base_v2
    assert os.path.isdir(f"{state_dir}/base_bands_v2")
    assert not os.path.isdir(f"{state_dir}/base_bands_v1")


def test_compaction_crash_windows_are_safe(spark, tmp_path, monkeypatch):
    """The two compaction crash windows leave a state that still
    produces correct verdicts: (1) crash BEFORE the meta flip — new
    base dirs are orphans, reads keep using old base + deltas, a later
    compaction overwrites the orphans; (2) crash AFTER the flip but
    before cleanup — folded delta dirs survive on disk but reads
    exclude them via compacted_upto, and the next compaction sweeps
    every stale base version."""
    import shutil as real_shutil

    from seo_crawler_spark.streaming import dedup_stream as DS

    docs = load(spark, "documents", SF).select("doc_id", "text")
    is_delta = (md5int(F.col("doc_id").cast("string")) % DELTA_MOD) == 0
    delta = docs.filter(is_delta).orderBy("doc_id")
    ids = [r["doc_id"] for r in delta.select("doc_id").collect()]
    cut = ids[len(ids) // 2]
    b0 = delta.filter(F.col("doc_id") <= cut)
    b1 = delta.filter(F.col("doc_id") > cut)

    def fresh(name: str) -> str:
        state = str(tmp_path / name)
        prepare_dedup_base(docs.filter(~is_delta), state)
        DS._process_batch(spark, state, 0.5)(b0, 0)
        return state

    def verdicts_after_b1(state: str):
        DS._process_batch(spark, state, 0.5)(b1, 1)
        return _rows(read_verdicts(spark, state))

    want = verdicts_after_b1(fresh("clean"))

    # window 1: base_v1 written, meta flip never happened
    s1 = fresh("crash_pre_flip")
    calls = {"n": 0}
    orig = DS._write_meta

    def dying_write_meta(state_dir, meta):
        calls["n"] += 1
        raise OSError("simulated crash before meta flip")

    monkeypatch.setattr(DS, "_write_meta", dying_write_meta)
    try:
        DS.compact_dedup_state(spark, s1, upto=1)
    except OSError:
        pass
    monkeypatch.setattr(DS, "_write_meta", orig)
    assert calls["n"] == 1 and os.path.isdir(f"{s1}/base_bands_v1")  # orphan
    import json

    assert json.load(open(f"{s1}/meta.json"))["base_version"] == 0
    assert verdicts_after_b1(s1) == want  # reads ignore the orphan
    # a later compaction overwrites the orphan and commits
    DS.compact_dedup_state(spark, s1, upto=2)
    assert json.load(open(f"{s1}/meta.json"))["base_version"] == 1
    assert not os.path.isdir(f"{s1}/base_bands")  # v0 swept

    # window 2: meta flipped, cleanup never ran
    s2 = fresh("crash_post_flip")
    monkeypatch.setattr(real_shutil, "rmtree", lambda *a, **k: None)
    DS.compact_dedup_state(spark, s2, upto=1)
    monkeypatch.undo()
    assert os.path.isdir(f"{s2}/base_bands")  # stale v0 survives
    assert os.path.isdir(f"{s2}/delta_bands/batch=0")  # folded, not deleted
    assert verdicts_after_b1(s2) == want  # compacted_upto excludes it
    DS.compact_dedup_state(spark, s2, upto=2)  # sweeps ALL stale versions
    assert not os.path.isdir(f"{s2}/base_bands")
    assert not os.path.isdir(f"{s2}/base_bands_v1")
    assert not os.path.isdir(f"{s2}/delta_bands/batch=0")


def test_state_bounded_by_distinct_content(spark, tmp_path):
    """A 60-doc batch with only 3 distinct texts appends 3 state rows
    (reps), not 60 — and the verdicts still resolve every member to the
    group's first arrival / the standing base copy."""
    from seo_crawler_spark.streaming import dedup_stream as DS

    state = str(tmp_path / "state")
    base = spark.createDataFrame(
        [(5, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        ["doc_id", "text"],
    )
    prepare_dedup_base(base, state)
    texts = {
        0: "alpha beta gamma delta epsilon zeta eta theta iota kappa",  # = base
        1: "one two three four five six seven eight nine ten",
        2: "red orange yellow green blue indigo violet pink brown black",
    }
    rows = [(100 + i, texts[i % 3]) for i in range(60)]
    batch = spark.createDataFrame(rows, ["doc_id", "text"])
    DS._process_batch(spark, state, 0.5)(batch, 0)
    appended = spark.read.parquet(f"{state}/delta_sets/batch=0")
    assert appended.count() == 3  # reps only, not 60
    v = {
        r["doc_id"]: r["dup_of"]
        for r in spark.read.parquet(f"{state}/verdicts/batch=0").collect()
    }
    assert len(v) == 60
    assert v[100] == 5  # first arrival of the base text: claimed by base
    assert v[103] == 5  # later member of the same group: base still wins
    assert v[101] is None and v[104] == 101  # novel group: rep keeps, member claimed
    assert v[102] is None and v[105] == 102
    # a SECOND batch re-seeing group-1 content is claimed by doc 101,
    # and its append is again one rep row
    batch2 = spark.createDataFrame(
        [(200 + i, texts[1]) for i in range(10)], ["doc_id", "text"]
    )
    DS._process_batch(spark, state, 0.5)(batch2, 1)
    v2 = {
        r["doc_id"]: r["dup_of"]
        for r in spark.read.parquet(f"{state}/verdicts/batch=1").collect()
    }
    assert all(v2[200 + i] == 101 for i in range(10))
    assert spark.read.parquet(f"{state}/delta_sets/batch=1").count() == 1
    # compaction folds the re-seen content back to its first arrival
    DS.compact_dedup_state(spark, state, upto=2)
    folded = spark.read.parquet(DS._base_dir(state, "sets", 1))
    assert folded.count() == 3  # base text + 2 novel contents
    ids = sorted(r["doc_id"] for r in folded.select("doc_id").collect())
    assert ids == [5, 101, 102]
