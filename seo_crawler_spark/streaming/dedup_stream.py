"""Streaming incremental dedup: crawl deltas as a Structured Streaming
source, deduped per micro-batch against the standing base corpus AND
every earlier arrival.

The continuous twin of ``operators.dedup.dedup_incremental`` (same
banding, same exact-Jaccard verify, same keep-first semantics): the
base corpus's band index and shingle sets are persisted once as state
tables; each micro-batch of newly crawled docs is banded row-locally,
joined stream-static against the state index, self-joined within the
batch (earlier doc_id claims later), verified exactly, and then the
batch's OWN bands/sets are appended to the state so every later batch
dedups against it. At warehouse scale the state tables are the stored
band index the batch path already assumes — the stream just grows it.

Per-batch cost is kept proportional to the BATCH, not the state:
state tables are hash-partitioned on sig/doc buckets and every batch
scan carries an explicit touched-bucket IN filter (bounded collects;
Catalyst's dynamic partition pruning doesn't fire here — the delta
side has no selective predicate), delta appends coalesce to one file
per bucket dir, and ``compact_every`` folds deltas into a versioned
base (meta.json rename = commit point) so dir/file counts stay
bounded over an unbounded stream — the same merge-on-read +
compaction discipline as the crawl loop's seen-state.

Exactly-once: every per-batch write lands in a ``batch=<id>``
subdirectory with mode("overwrite"), so a retried micro-batch
overwrites its own partial output instead of duplicating it, and state
reads filter ``batch < current`` so a retry never sees its failed
attempt's partial state. Arrival order IS the semantics (keep-first):
the earliest arrival of a near-dup group is the one kept, matching the
batch operator when arrivals are doc_id-ordered, as
``streaming/versioned.py``'s ``_stage_batches`` (shared with the other
streaming twins) stages them.

Parity is pinned two ways: tests/test_streaming_dedup.py asserts
streamed verdicts ≡ ``dedup_incremental`` row-for-row, and the
registered query ``dedup_incremental_stream`` runs the full pipeline
(base prep → 3 availableNow micro-batches → verdict read-back) against
the SAME DuckDB oracle SQL as the batch operator.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import DELTA_MOD, _hashed_shingles, _minhash_bands
from ..functions.text import md5int
from ..sources.tables import load
from .versioned import _stage_batches


# the band-index state is hash-partitioned on sig_bucket so each
# micro-batch reads only the TOUCHED bucket dirs: the delta's distinct
# sig_bucket values (a bounded ≤ N_SIG_BUCKETS-row collect) are pushed
# as a static IN partition filter on the state scan, so per-batch scan
# cost tracks the delta's bucket fan-out, not total state size.
# (Catalyst's dynamic partition pruning was measured NOT to fire here —
# the delta side carries no selective predicate, which the
# PartitionPruning rule requires — so the explicit filter is the
# reliable route; at warehouse scale N_SIG_BUCKETS grows to thousands
# and a small batch touches a sliver of them.)
N_SIG_BUCKETS = 32

# the shingle-set state (the verify side — the BIG table at scale,
# carrying full shingle arrays) is likewise partitioned on a doc_id
# hash bucket; the verify join reads only buckets holding candidate
# partners (bounded ≤ N_DOC_BUCKETS-row collect of candidates'
# distinct buckets). Without this the verify scan is O(total state)
# per batch — measured as the linear term in the streaming-dedup run
# recorded in BENCH/BASELINE.md.
N_DOC_BUCKETS = 32


def _with_sig_bucket(bands: DataFrame, n: int = None) -> DataFrame:
    n = N_SIG_BUCKETS if n is None else n
    return bands.withColumn(
        "sig_bucket", F.pmod(F.xxhash64("sig"), F.lit(n)).cast("int")
    )


def _doc_bucket(c, n: int = None) -> F.Column:
    n = N_DOC_BUCKETS if n is None else n
    return F.pmod(F.xxhash64(c), F.lit(n)).cast("int")


def _write_meta(state_dir: str, meta: dict) -> None:
    """Atomically publish state metadata. The bucket counts pin the
    layout the state was written with — the pruning filters must
    compute buckets with the SAME modulus as the partition columns on
    disk; a resumed stream after a constant bump would otherwise
    silently prune the wrong dirs (miss dups). ``base_version`` /
    ``compacted_upto`` make compaction crash-safe: the meta rename is
    the commit point."""
    import json

    os.makedirs(state_dir, exist_ok=True)
    tmp = f"{state_dir}/meta.json.tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, f"{state_dir}/meta.json")


def _read_meta(state_dir: str) -> dict:
    import json

    path = f"{state_dir}/meta.json"
    if os.path.exists(path):  # states from before meta existed: constants
        with open(path) as f:
            return json.load(f)
    return {
        "n_sig_buckets": N_SIG_BUCKETS,
        "n_doc_buckets": N_DOC_BUCKETS,
        "base_version": 0,
        "compacted_upto": 0,
    }


def _base_dir(state_dir: str, kind: str, version: int) -> str:
    return f"{state_dir}/base_{kind}" + (f"_v{version}" if version else "")


def _collapse_content(hashed: DataFrame) -> DataFrame:
    """One row per DISTINCT shingle array, carrying the min doc_id —
    the only id that can ever be a ``dup_of`` partner (verdicts take
    min over partners, and every state doc is admissible). This bounds
    the state tables by distinct CONTENT, not crawled pages: on a
    boilerplate-heavy web corpus the state stops growing once the
    content distribution saturates, and the k²-per-band hot bucket of
    k identical docs collapses to one row (the dedup.py
    exact-collapse guard, applied to the stream's standing state)."""
    return hashed.groupBy("sh").agg(
        F.min("doc_id").alias("doc_id"), F.first("hh").alias("hh")
    )


def prepare_dedup_base(base_docs: DataFrame, state_dir: str) -> None:
    """One-time: band the standing base corpus and persist its band
    index + shingle sets as the stream's state tables. Writes are
    repartitioned ON the partition column first, so each bucket dir
    gets ~1 file instead of one per shuffle partition (32 buckets x
    32 tasks = 1024 tiny files per write was the measured state-scan
    killer)."""
    _write_meta(
        state_dir,
        {
            "n_sig_buckets": N_SIG_BUCKETS,
            "n_doc_buckets": N_DOC_BUCKETS,
            "base_version": 0,
            "compacted_upto": 0,
        },
    )
    grp = _collapse_content(
        _hashed_shingles(base_docs)
    ).localCheckpoint(eager=True)
    _with_sig_bucket(_minhash_bands(grp)).repartition(
        "sig_bucket"
    ).write.mode("overwrite").partitionBy("sig_bucket").parquet(
        _base_dir(state_dir, "bands", 0)
    )
    grp.select(
        "doc_id", "sh", _doc_bucket(F.col("doc_id")).alias("doc_bucket")
    ).repartition("doc_bucket").write.mode("overwrite").partitionBy(
        "doc_bucket"
    ).parquet(_base_dir(state_dir, "sets", 0))


def compact_dedup_state(spark: SparkSession, state_dir: str, upto: int) -> None:
    """Fold delta batches < ``upto`` into a new base version and drop
    them — the maintenance step that keeps per-batch state reads
    bounded (same role as the crawl loop's compact_seen). Crash-safe:
    the new base is written to versioned dirs, the meta rename is the
    commit point, and only then are folded delta dirs deleted. In the
    window where both a folded delta and the new base exist, state
    reads exclude the delta via ``compacted_upto`` — and even a
    double-read would be harmless (candidates go through distinct();
    the verify groupBy-min is idempotent to duplicate partner rows)."""
    import shutil

    from ..operators.dedup import MOD

    meta = _read_meta(state_dir)
    old_ver, new_ver = meta["base_version"], meta["base_version"] + 1
    # fold the SETS by content (min doc_id per distinct sh — re-seen
    # content appended by later batches collapses back to its first
    # arrival), then REBUILD the band index from the folded sets:
    # bands of different content can share (band, sig), so the band
    # table can't be folded independently without sh identity.
    folded = (
        _read_state(spark, state_dir, "sets", upto, meta)
        .groupBy("sh")
        .agg(F.min("doc_id").alias("doc_id"))
        .select(
            "doc_id",
            "sh",
            F.transform(
                "sh", lambda s: md5int(s) % MOD
            ).alias("hh"),  # same hash as _hashed_shingles
        )
        .localCheckpoint(eager=True)
    )
    _with_sig_bucket(
        _minhash_bands(folded), meta["n_sig_buckets"]
    ).repartition("sig_bucket").write.mode("overwrite").partitionBy(
        "sig_bucket"
    ).parquet(_base_dir(state_dir, "bands", new_ver))
    folded.select(
        "doc_id",
        "sh",
        _doc_bucket(F.col("doc_id"), meta["n_doc_buckets"]).alias(
            "doc_bucket"
        ),
    ).repartition("doc_bucket").write.mode("overwrite").partitionBy(
        "doc_bucket"
    ).parquet(_base_dir(state_dir, "sets", new_ver))
    _write_meta(
        state_dir,
        {**meta, "base_version": new_ver, "compacted_upto": upto},
    )
    # post-commit cleanup; a crash here only leaves dead dirs behind,
    # and the sweep below removes EVERY non-current base version (not
    # just old_ver) so orphans from an earlier crash get collected too
    del old_ver
    for kind in ("bands", "sets"):
        cur = os.path.basename(_base_dir(state_dir, kind, new_ver))
        for name in os.listdir(state_dir):
            if name.startswith(f"base_{kind}") and name != cur:
                shutil.rmtree(f"{state_dir}/{name}", ignore_errors=True)
        ddir = f"{state_dir}/delta_{kind}"
        if os.path.isdir(ddir):
            for name in os.listdir(ddir):
                if name.startswith("batch=") and int(name.split("=")[1]) < upto:
                    shutil.rmtree(f"{ddir}/{name}", ignore_errors=True)


def _read_state(
    spark: SparkSession,
    state_dir: str,
    kind: str,
    before_batch: int,
    meta: dict | None = None,
) -> DataFrame:
    """base_<kind> ∪ delta_<kind> from batches in
    [compacted_upto, before_batch): already-folded batches live in the
    base, and a retried batch must not see its own failed attempt's
    partial appends."""
    meta = meta or _read_meta(state_dir)
    state = spark.read.parquet(
        _base_dir(state_dir, kind, meta["base_version"])
    )
    ddir = f"{state_dir}/delta_{kind}"
    live = (
        [
            n
            for n in os.listdir(ddir)
            if n.startswith("batch=")
            and meta["compacted_upto"] <= int(n.split("=")[1]) < before_batch
        ]
        if os.path.isdir(ddir)
        else []
    )
    if live:
        # explicit dir list: folded-but-not-yet-deleted batch dirs are
        # never listed, and partition discovery skips dead dirs
        delta = (
            spark.read.option("basePath", ddir)
            .parquet(*[f"{ddir}/{n}" for n in live])
            .drop("batch")
        )
        state = state.unionByName(delta)
    return state


def _process_batch(
    spark: SparkSession,
    state_dir: str,
    threshold: float,
    compact_every: int | None = None,
):
    def process(batch_docs: DataFrame, batch_id: int) -> None:
        # maintenance: fold earlier deltas into the base every
        # compact_every batches. Strictly < batch_id — folding only
        # batches whose stream checkpoint has committed, so a RETRY of
        # the current batch can never find its own docs in the base
        # (which would break keep-first ordering).
        if (
            compact_every
            and batch_id
            and batch_id % compact_every == 0
        ):
            meta0 = _read_meta(state_dir)
            if meta0["compacted_upto"] < batch_id:
                compact_dedup_state(spark, state_dir, batch_id)
        meta = _read_meta(state_dir)
        # bucket moduli pinned at prepare time (state partition layout)
        n_sig, n_doc = meta["n_sig_buckets"], meta["n_doc_buckets"]
        hashed = _hashed_shingles(
            batch_docs.select("doc_id", "text")
        ).localCheckpoint(eager=True)
        # collapse the batch on content: groups of identical docs band
        # once; members re-expand into verdicts below. grp is reused by
        # banding, the verify leg, the expansion, and the state append.
        grp = (
            hashed.groupBy("sh")
            .agg(
                F.min("doc_id").alias("rep"),
                F.collect_list("doc_id").alias("members"),
                F.first("hh").alias("hh"),
            )
            .localCheckpoint(eager=True)
        )
        reps = grp.select(F.col("rep").alias("doc_id"), "sh", "hh")
        bands = _with_sig_bucket(
            _minhash_bands(reps), n_sig
        ).localCheckpoint(eager=True)
        # bounded collect (≤ N_SIG_BUCKETS rows): which bucket dirs of
        # the standing index this batch can possibly touch
        touched = [
            r["sig_bucket"]
            for r in bands.select("sig_bucket").distinct().collect()
        ]
        state_bands = _read_state(
            spark, state_dir, "bands", batch_id, meta
        ).filter(
            F.col("sig_bucket").isin(touched) if touched else F.lit(False)
        )
        da = bands.select(
            F.col("doc_id").alias("a"), "sig_bucket", "band", "sig"
        )
        # dup-of-state: base corpus + every earlier arrival, no
        # ordering predicate (all state docs precede this batch).
        # sig_bucket in the join key is redundant on equality (it is a
        # function of sig) but it is the STATE PARTITION COLUMN — with
        # the isin filter above, untouched bucket dirs are never read.
        cand_state = (
            da.join(
                state_bands.select(
                    F.col("doc_id").alias("b"), "sig_bucket", "band", "sig"
                ),
                ["sig_bucket", "band", "sig"],
            )
            .filter(F.col("a") != F.col("b"))  # belt-and-braces vs retries
            .select("a", "b")
        )
        # dup-within-batch: keep-first by doc_id, as the batch operator
        cand_batch = (
            da.join(
                bands.select(F.col("doc_id").alias("b"), "band", "sig"),
                ["band", "sig"],
            )
            .filter(F.col("b") < F.col("a"))
            .select("a", "b")
        )
        cand = (
            cand_state.unionByName(cand_batch)
            .distinct()
            .localCheckpoint(eager=True)  # reused: bucket probe + verify
        )
        # bounded collect (≤ N_DOC_BUCKETS rows): which partner-doc
        # bucket dirs of the sets state the verify join can touch
        b_buckets = [
            r["bk"]
            for r in cand.select(_doc_bucket(F.col("b"), n_doc).alias("bk"))
            .distinct()
            .collect()
        ]
        sets_ = (
            _read_state(spark, state_dir, "sets", batch_id, meta)
            .filter(
                F.col("doc_bucket").isin(b_buckets)
                if b_buckets
                else F.lit(False)
            )
            .drop("doc_bucket")
            .unionByName(reps.select("doc_id", "sh"))
        )
        pairs = cand.join(
            reps.select(F.col("doc_id").alias("a"), F.col("sh").alias("sha")),
            "a",
        ).join(
            sets_.select(F.col("doc_id").alias("b"), F.col("sh").alias("shb")),
            "b",
        )
        inter = F.size(F.array_intersect("sha", "shb"))
        na, nb = F.size("sha"), F.size("shb")
        matches = (
            pairs.withColumn("jaccard", F.round(inter / (na + nb - inter), 4))
            .filter(F.col("jaccard") >= threshold)
            .groupBy("a")
            .agg(F.min("b").alias("q"))
        )
        # re-expand groups: the rep inherits q (min verified partner —
        # state, or an earlier-rep batch group); members are claimed by
        # their rep unless q is smaller (least() skips nulls). Exactly
        # the uncollapsed per-doc min — see dedup_incremental's proof.
        expanded = (
            grp.join(matches.withColumnRenamed("a", "rep"), "rep", "left")
            .select("rep", "q", F.explode("members").alias("doc_id"))
            .select(
                "doc_id",
                F.when(F.col("doc_id") == F.col("rep"), F.col("q"))
                .otherwise(F.least("q", "rep"))
                .alias("dup_of"),
            )
        )
        verdicts = (
            batch_docs.select("doc_id")
            .join(expanded, "doc_id", "left")
            .select(
                "doc_id", "dup_of", F.col("dup_of").isNull().alias("is_kept")
            )
        )
        # verdicts FIRST (they must not see this batch's state append),
        # then the state append that later batches dedup against
        verdicts.write.mode("overwrite").parquet(
            f"{state_dir}/verdicts/batch={batch_id}"
        )
        # coalesce(1): batch-sized appends write ONE file per bucket
        # dir, not one per shuffle partition (32x32 tiny files was the
        # measured per-batch state-scan killer)
        # append REPS only: a batch group's min doc_id is the only id a
        # future batch could ever get as dup_of (its other members are
        # all larger), so per-batch state growth is bounded by the
        # batch's DISTINCT content. A later batch re-seeing content the
        # state already has just adds a larger-id row for the same sh —
        # the verify groupBy-min still resolves to the global first
        # arrival, and compaction folds such rows back to one.
        bands.coalesce(1).write.mode("overwrite").partitionBy(
            "sig_bucket"
        ).parquet(f"{state_dir}/delta_bands/batch={batch_id}")
        reps.select(
            "doc_id",
            "sh",
            _doc_bucket(F.col("doc_id"), n_doc).alias("doc_bucket"),
        ).coalesce(1).write.mode("overwrite").partitionBy(
            "doc_bucket"
        ).parquet(f"{state_dir}/delta_sets/batch={batch_id}")

    return process


def stream_dedup_incremental(
    spark: SparkSession,
    input_dir: str,
    schema,
    state_dir: str,
    threshold: float = 0.5,
    max_files_per_trigger: int | None = 1,
    compact_every: int | None = None,
) -> None:
    """Drive the stream to completion (Trigger.AvailableNow): every
    parquet file in ``input_dir`` becomes (up to) one micro-batch,
    processed in file modification-time order. ``compact_every``
    folds delta state into the base every that-many batches."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    q = (
        reader.parquet(input_dir)
        .writeStream.foreachBatch(
            _process_batch(spark, state_dir, threshold, compact_every)
        )
        .option("checkpointLocation", f"{state_dir}/_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_verdicts(spark: SparkSession, state_dir: str) -> DataFrame:
    return (
        spark.read.parquet(f"{state_dir}/verdicts")
        .drop("batch")
        .orderBy("doc_id")
    )


def dedup_incremental_stream(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.5,
    delta_mod: int = DELTA_MOD,
    n_batches: int = 3,
) -> DataFrame:
    """Registered query: the full streaming pipeline end-to-end over
    the driver's documents table — base prep, delta staged as
    ``n_batches`` arrival files, availableNow stream, verdict
    read-back. Same deterministic base/delta split as the batch
    operator, so the batch operator's DuckDB oracle
    (``dedup_incremental_sql``) is this query's oracle too: a
    Structured Streaming operator with a full SQL hash-match gate."""
    import tempfile

    docs = load(spark, "documents", sf_dir).select("doc_id", "text")
    is_delta = (md5int(F.col("doc_id").cast("string")) % delta_mod) == 0
    work = tempfile.mkdtemp(prefix="dedup_stream_")
    try:
        state_dir, input_dir = f"{work}/state", f"{work}/in"
        prepare_dedup_base(docs.filter(~is_delta), state_dir)
        delta = docs.filter(is_delta)
        _stage_batches(spark, delta, input_dir, n_batches, key="doc_id")
        # compact_every=2 on purpose: the oracle hash-match then covers
        # the compaction path (batch 2 runs against a folded base), not
        # just the append path
        stream_dedup_incremental(
            spark, input_dir, delta.schema, state_dir, threshold,
            compact_every=2,
        )
        # materialize (delta-sized verdict table) before deleting the
        # staging dir — the returned DataFrame must not read `work`
        return read_verdicts(spark, state_dir).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
