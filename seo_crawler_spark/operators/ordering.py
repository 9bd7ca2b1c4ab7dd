"""Deterministic global sequence assignment — scalably.

The crawl-order contract needs a gap-free global rank over
(src_seq, anchor_pos) for every wave's new URLs. A naive
row_number() over an unpartitioned Window serializes the whole wave
through one task — fine at 10^3 rows, fatal at 10^8. Instead:

  1. repartitionByRange on the sort key (range shuffle),
  2. count rows per range-partition (cheap agg on partition id),
  3. cumulative offsets on the driver (one tiny collect of ≤ #partitions
     rows),
  4. row_number *within* each partition (parallel windows) + offset.

``ordered_seq_counted`` is the one entry point: it returns the frame
and its row count, which step 2 yields for free. The engine's seeds,
waves, refresh resume and queue rebuild all number rows through it.

Never monotonically_increasing_id(): its values depend on partition
layout and are not rank-stable (SURVEY.md §7 risk #1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..ckpt import local_ckpt


def ordered_seq_counted(
    df: DataFrame,
    order_cols: list[str],
    seq_col: str = "seq",
    start: int = 0,
) -> tuple[DataFrame, int]:
    """Assign ``seq_col`` = start + (0-based dense global rank by
    order_cols); also return the row count (known for free from the
    per-partition sizes — callers must NOT spend another job on it).

    The returned frame is backed by a localCheckpoint; the seq column is
    a shuffle-free projection on top. Rows must be unique on order_cols
    (the crawl contract guarantees it: one (parent seq, anchor position)
    per discovery).
    """
    cols = [F.col(c) for c in order_cols]
    n_shuffle = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    ranged = df.repartitionByRange(int(n_shuffle), *cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    ranged = ranged.transform(local_ckpt)  # pin partition layout

    sizes = {
        r["__pid"]: r["cnt"]
        for r in ranged.groupBy("__pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    if not sizes:  # empty wave
        return (
            ranged.drop("__pid").withColumn(seq_col, F.lit(start).cast("long")),
            0,
        )

    offsets, acc = {}, start
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]

    omap = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    )
    w = Window.partitionBy("__pid").orderBy(*cols)
    out = (
        ranged.withColumn(
            seq_col,
            (omap[F.col("__pid")] + F.row_number().over(w) - 1).cast("long"),
        )
        .drop("__pid")
    )
    return out, acc - start

