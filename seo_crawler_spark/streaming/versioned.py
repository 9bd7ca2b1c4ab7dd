"""What the streaming twins share: ordered arrival staging and the
versioned-state fold.

``_stage_batches`` (sketch_stream, control_stream, dedup_stream) writes
a table as single-file parquets with ascending mtimes over ascending
key ranges; the file source orders by mtime, so arrival order is key
order — the condition under which each stream equals its batch operator.

``stream_fold`` (sketch_stream, control_stream) is the exactly-once
discipline of the snapshots.py convention: micro-batch k writes
merge(prior, batch_k) to a fresh ``v<k>`` dir by staged write + atomic
rename, prior being the latest version STRICTLY BELOW k. A retried
batch recomputes from that same prior and overwrites only its own
version, so even a non-idempotent SUM is never double-applied.
"""

from __future__ import annotations

import glob
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _stage_batches(
    spark: SparkSession,
    df: DataFrame,
    input_dir: str,
    n_files: int,
    key: str | None = None,
) -> None:
    """Stage ``df`` as ``n_files`` single-file parquets in ascending
    ``key`` ranges (default: the frame's first column, its id) with
    ascending mtimes — deterministic arrival order for the file source.
    The key list is collected to the driver: a harness-sized table."""
    key = key or df.columns[0]
    ids = [r[key] for r in df.select(key).orderBy(key).collect()]
    os.makedirs(input_dir, exist_ok=True)
    per = max(1, -(-len(ids) // n_files))
    for i in range(n_files):
        chunk = ids[i * per : (i + 1) * per]
        if not chunk:
            break
        stage = f"{input_dir}/_stage{i}"
        df.filter(
            (F.col(key) >= chunk[0]) & (F.col(key) <= chunk[-1])
        ).coalesce(1).write.mode("overwrite").parquet(stage)
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        dst = f"{input_dir}/batch_{i:04d}.parquet"
        shutil.move(part, dst)
        shutil.rmtree(stage)
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))


def _latest_version(
    state_dir: str, before: int | None = None
) -> tuple[int, str | None]:
    """Largest committed version, optionally restricted to versions
    STRICTLY BELOW ``before``. A retried batch k must fold over
    v_{k-1}, not the global latest: after a crash between the v_k
    rename and the stream checkpoint commit, the global latest IS v_k,
    and folding batch k's non-idempotent SUM over it would
    double-apply the batch."""
    vs = sorted(glob.glob(f"{state_dir}/v*"))
    if before is not None:
        vs = [v for v in vs if int(os.path.basename(v)[1:]) < before]
    if not vs:
        return -1, None
    last = vs[-1]
    return int(os.path.basename(last)[1:]), last


def stream_fold(
    spark: SparkSession,
    input_dir: str,
    schema,
    state_dir: str,
    partial: Callable[[DataFrame], DataFrame],
    merge: Callable[[DataFrame], DataFrame],
) -> None:
    """Run the availableNow stream, one arrival file per micro-batch:
    each batch's ``partial(batch)`` table folds into the versioned
    state as ``merge(prior ∪ partial)``, then lands as ``v<batch>``."""
    os.makedirs(state_dir, exist_ok=True)

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        part = partial(batch_df)
        _, prev = _latest_version(state_dir, before=batch_id)
        if prev is not None:
            prior = batch_df.sparkSession.read.parquet(prev)
            part = merge(prior.unionByName(part))
        stage = f"{state_dir}/_stage_v{batch_id}"
        part.coalesce(1).write.mode("overwrite").parquet(stage)
        final = f"{state_dir}/v{batch_id:06d}"
        if os.path.exists(final):  # retried batch replaces its attempt
            shutil.rmtree(final)
        os.rename(stage, final)

    (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
        .writeStream.foreachBatch(_fold)
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{state_dir}/_ckpt")
        .start()
        .awaitTermination()
    )
