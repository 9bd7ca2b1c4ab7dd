"""Storage-layout audit — sort-key selection for columnar scan
efficiency, measured as run counts.

Parquet/ORC encode columns with run-length + dictionary encoding, so
the bytes a 100 TB table occupies — and the bytes every scan decodes —
depend on the ROW ORDER the writer chose: sorting by a low-cardinality
column collapses it to one run per value (and co-sorts correlated
columns), while a high-cardinality column never compresses no matter
the order. Lakehouse writers expose exactly this knob (Iceberg
``sort_order``, Delta ``OPTIMIZE ZORDER``); choosing it well is a
standing 100 TB lever. This audit measures, for each candidate layout
× column, the number of value RUNS the layout produces — the direct
proxy for RLE size and predicate-skipping effectiveness (fewer runs ⇒
tighter min/max per page ⇒ more row groups pruned).

Distributed run counting (the part worth doing right): a naive
``lag`` over the full table is a single-partition window — the exact
anti-pattern ordering.py's two-phase seq exists to avoid. Runs
decompose instead: with the table range-partitioned by the layout's
leading key, total_runs = Σ within-partition runs − (boundary pairs
whose adjacent values match across consecutive partitions). So the
plan is ONE partitioned window (per-partition lag, arbitrary
parallelism) + a boundary merge over the #partitions-row edge frame
(first/last value per partition via min_by/max_by on the in-partition
position, then one tiny window in partition order). Nothing global
ever sorts the corpus on one executor.

Layouts audited: ``arrival`` (doc_id blocks — crawl order), by_lang,
by_source, by_lang_source; measured columns: lang, source, n_chars
(the high-cardinality control that shows order cannot compress
entropy). All counts are exact integers; runs_pm = runs·1000 div n.

Reference parity: the reference persists to SQLite row pages
(database.py) where row order is a no-op; this operator belongs to
the Spark build's physical-layout layer (SURVEY §7 scale notes).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load

ARRIVAL_BLOCK = 64  # rows per range block of the arrival layout

# layout name -> (partition-key Spark expr, partition-key SQL expr).
# The audited global order is (partition key, doc_id); the partition
# key doubles as the boundary-merge order.
_LAYOUTS = (
    ("arrival", f"lpad(cast(doc_id div {ARRIVAL_BLOCK} as string), 12, '0')",
     f"lpad(cast(doc_id // {ARRIVAL_BLOCK} as varchar), 12, '0')"),
    ("by_lang", "lang", "lang"),
    ("by_source", "source", "source"),
    ("by_lang_source", "concat(lang, '|', source)", "lang || '|' || source"),
    # Z-order over (lang, source): bit-interleaved dictionary codes
    # (lang 3 bits, source 5 bits) — the multi-predicate layout; see
    # pruning_audit's readout for why it exists
    ("zorder_ls", "lpad(cast((((CASE lang WHEN 'de' THEN 0 WHEN 'en' THEN 1 WHEN 'es' THEN 2 WHEN 'fr' THEN 3 ELSE 4 END) % 2) * 2 + (cast(substring(source, 4) as bigint) % 2) * 1 + (((CASE lang WHEN 'de' THEN 0 WHEN 'en' THEN 1 WHEN 'es' THEN 2 WHEN 'fr' THEN 3 ELSE 4 END) div 2) % 2) * 8 + ((cast(substring(source, 4) as bigint) div 2) % 2) * 4 + (((CASE lang WHEN 'de' THEN 0 WHEN 'en' THEN 1 WHEN 'es' THEN 2 WHEN 'fr' THEN 3 ELSE 4 END) div 4) % 2) * 32 + ((cast(substring(source, 4) as bigint) div 4) % 2) * 16 + ((cast(substring(source, 4) as bigint) div 8) % 2) * 64 + ((cast(substring(source, 4) as bigint) div 16) % 2) * 256) as string), 4, '0')", "lpad(CAST((((CASE lang WHEN 'de' THEN 0 WHEN 'en' THEN 1 WHEN 'es' THEN 2 WHEN 'fr' THEN 3 ELSE 4 END) % 2) * 2 + (CAST(substr(source, 4) AS BIGINT) % 2) * 1 + (((CASE lang WHEN 'de' THEN 0 WHEN 'en' THEN 1 WHEN 'es' THEN 2 WHEN 'fr' THEN 3 ELSE 4 END) // 2) % 2) * 8 + ((CAST(substr(source, 4) AS BIGINT) // 2) % 2) * 4 + (((CASE lang WHEN 'de' THEN 0 WHEN 'en' THEN 1 WHEN 'es' THEN 2 WHEN 'fr' THEN 3 ELSE 4 END) // 4) % 2) * 32 + ((CAST(substr(source, 4) AS BIGINT) // 4) % 2) * 16 + ((CAST(substr(source, 4) AS BIGINT) // 8) % 2) * 64 + ((CAST(substr(source, 4) AS BIGINT) // 16) % 2) * 256) AS VARCHAR), 4, '0')"),
)
_COLUMNS = ("lang", "source", "n_chars")


def storage_layout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE pass per layout for all measured columns (round-6 fusion): the
    # per-column window (partition pk, order doc_id) is identical for
    # every column of a layout, so the three lag/is_new computations
    # share a single sort, the per-pk edge stats collapse into one
    # aggregate, and the boundary merge runs once over the tiny edge
    # frame. Before the fusion each (layout, column) was its own branch
    # — 15 table scans and 15 windows per run (60 Exchanges); now 5
    # scans / 5 windows (the column axis is row-local arithmetic).
    # Values are bit-identical: the fused expressions are the originals,
    # evaluated side by side instead of in separate plans.
    docs = load(spark, "documents", sf_dir).select(
        "doc_id", "lang", "source", "n_chars"
    )
    parts = []
    for layout, pk_spark, _ in _LAYOUTS:
        base = docs.select(
            F.expr(pk_spark).alias("pk"),
            "doc_id",
            *[F.col(c).cast("string").alias(c) for c in _COLUMNS],
        )
        w = Window.partitionBy("pk").orderBy("doc_id")
        inpart = base.select(
            "pk",
            "doc_id",
            *[F.col(c) for c in _COLUMNS],
            # eqNullSafe mirrors the oracle's IS DISTINCT FROM: a
            # NULL value starts/continues runs exactly like DuckDB
            # (plain != yields NULL→"not new" on NULL values)
            *[
                F.when(
                    ~F.col(c).eqNullSafe(F.lag(c).over(w)),
                    F.lit(1),
                )
                .otherwise(F.lit(0))
                .alias(f"is_new_{c}")
                for c in _COLUMNS
            ],
        )
        edges = inpart.groupBy("pk").agg(
            *[F.sum(f"is_new_{c}").alias(f"runs_{c}") for c in _COLUMNS],
            *[
                F.expr(f"min_by({c}, doc_id)").alias(f"firstv_{c}")
                for c in _COLUMNS
            ],
            *[
                F.expr(f"max_by({c}, doc_id)").alias(f"lastv_{c}")
                for c in _COLUMNS
            ],
            F.count(F.lit(1)).alias("n"),
        )
        we = Window.orderBy("pk")  # #partitions rows only
        merged = edges.select(
            *[F.col(f"runs_{c}") for c in _COLUMNS],
            "n",
            *[
                F.when(
                    F.lag(f"lastv_{c}").over(we) == F.col(f"firstv_{c}"),
                    F.lit(1),
                )
                .otherwise(F.lit(0))
                .alias(f"dup_boundary_{c}")
                for c in _COLUMNS
            ],
        ).agg(
            *[F.sum(f"runs_{c}").alias(f"r_{c}") for c in _COLUMNS],
            *[F.sum(f"dup_boundary_{c}").alias(f"d_{c}") for c in _COLUMNS],
            F.sum("n").alias("nt"),
        )
        parts.append(
            merged.select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(layout).alias("layout"),
                                F.lit(c).alias("column_name"),
                                (F.col(f"r_{c}") - F.col(f"d_{c}")).alias(
                                    "n_runs"
                                ),
                                F.expr(
                                    f"((r_{c} - d_{c}) * 1000) div nt"
                                ).alias("runs_pm"),
                            )
                            for c in _COLUMNS
                        ]
                    )
                ).alias("row")
            ).select("row.*")
        )
    return reduce(DataFrame.unionByName, parts).orderBy("layout", "column_name")


def storage_layout_sql() -> str:
    blocks = []
    for layout, _, pk_sql in _LAYOUTS:
        for col in _COLUMNS:
            blocks.append(f"""
SELECT '{layout}' AS layout, '{col}' AS column_name,
       (sum(runs) - sum(dup_boundary))::BIGINT AS n_runs,
       (((sum(runs) - sum(dup_boundary)) * 1000) // sum(n))::BIGINT AS runs_pm
FROM (
  SELECT pk, runs, firstv, lastv, n,
         CASE WHEN lag(lastv) OVER (ORDER BY pk) = firstv
              THEN 1 ELSE 0 END AS dup_boundary
  FROM (
    SELECT pk,
           sum(is_new)::BIGINT AS runs,
           min_by(v, doc_id) AS firstv,
           max_by(v, doc_id) AS lastv,
           count(*) AS n
    FROM (
      SELECT pk, doc_id, v,
             CASE WHEN lag(v) OVER (PARTITION BY pk ORDER BY doc_id)
                       IS DISTINCT FROM v
                  THEN 1 ELSE 0 END AS is_new
      FROM (
        SELECT {pk_sql} AS pk, doc_id,
               CAST({col} AS VARCHAR) AS v
        FROM documents)
    ) GROUP BY pk
  )
)""")
    body = "\nUNION ALL\n".join(blocks)
    return f"SELECT * FROM (\n{body}\n) ORDER BY layout, column_name"


# ---------------------------------------------------------------------------
# Row-group pruning audit — the payoff measurement for sort-key choice
# ---------------------------------------------------------------------------

PRUNE_BLOCK = 64  # rows per simulated row group
# (predicate label, column, Spark/SQL-identical predicate on min/max):
# a block MUST be scanned iff its [min,max] interval can contain a
# matching row. Equality: lo <= v <= hi; range: hi > bound.
_PREDICATES = (
    ("lang_eq_zh", "lang", "lo <= 'zh' AND 'zh' <= hi"),
    ("source_eq_src7", "source", "lo <= 'src7' AND 'src7' <= hi"),
    ("nchars_gt_490", "n_chars", "CAST(hi AS BIGINT) > 490"),
)


def pruning_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-group skipping effectiveness per (layout × predicate) — the
    MEASURED payoff of storage_layout_audit's sort-key choice: parquet
    readers skip a row group when its column min/max statistics cannot
    contain a match, so the fraction of blocks skipped under each
    candidate layout is the number that actually turns a sort order
    into scan savings. (The layout audit's run counts are the size
    proxy; this is the latency proxy — both are what an Iceberg
    ``sort_order`` decision weighs.)

    Blocks are PRUNE_BLOCK-row groups in layout order, positioned by
    the same two-phase discipline as the run counter: the in-layout
    position comes from a window partitioned by the layout's leading
    key (per-partition row_number + a #partitions-row offset join —
    no global sort); min/max per block is ONE map-side agg; the
    must-scan verdict is a row-local interval test evaluated from the
    SAME predicate text in both engines. Output: scanned vs skipped
    block counts and skip per-mille per (layout, predicate).

    On shipped data the readout is decision-grade: by_lang skips 3/4
    of blocks for the lang predicate where arrival skips none, and no
    layout prunes the n_chars range predicate (matching rows scatter
    through every block — the high-entropy control, same verdict as
    storage_layout_audit's run counts)."""
    # ONE positioning + block-stats pass per layout for all predicates
    # (round-6 fusion, same argument as storage_layout_audit): the
    # in-layout position, the block id and the per-block grouping are
    # predicate-independent, so the three per-column min/max pairs ride
    # one groupBy(blk) and the three must-scan verdicts are row-local
    # tests over the same tiny stats frame. Before: 15 branches, each
    # re-running scan + window + offset join + block agg (180
    # Exchanges); after: 5. Values bit-identical — the predicate text
    # is unchanged, only evaluated against per-column lo/hi names.
    docs = load(spark, "documents", sf_dir).select(
        "doc_id", "lang", "source", "n_chars"
    )
    out_parts = []
    for layout, pk_spark, _ in _LAYOUTS:
        base = docs.select(
            F.expr(pk_spark).alias("pk"),
            "doc_id",
            "lang",
            "source",
            # zero-padded so string min/max ≡ numeric min/max (parquet
            # stats are typed; the padding stands in for typed stats)
            F.lpad(F.col("n_chars").cast("string"), 6, "0").alias(
                "n_chars"
            ),
        )
        wp = Window.partitionBy("pk").orderBy("doc_id")
        pos_in = base.withColumn(
            "ip", F.row_number().over(wp) - 1
        )
        sizes = base.groupBy("pk").agg(F.count(F.lit(1)).alias("cnt"))
        wo = Window.orderBy("pk").rowsBetween(
            Window.unboundedPreceding, -1
        )  # #partitions-row frame
        offs = sizes.withColumn(
            "off", F.coalesce(F.sum("cnt").over(wo), F.lit(0))
        ).select("pk", "off")
        pos = pos_in.join(offs, "pk").withColumn(
            "blk", F.expr(f"(ip + off) div {PRUNE_BLOCK}")
        )
        stats = pos.groupBy("blk").agg(
            *[F.min(c).alias(f"lo_{c}") for c in ("lang", "source", "n_chars")],
            *[F.max(c).alias(f"hi_{c}") for c in ("lang", "source", "n_chars")],
        )
        verdict = stats.select(
            *[
                F.expr(
                    pred.replace("lo", f"lo_{pcol}").replace(
                        "hi", f"hi_{pcol}"
                    )
                ).alias(f"must_scan_{label}")
                for label, pcol, pred in _PREDICATES
            ]
        ).groupBy().agg(
            F.count(F.lit(1)).alias("n_blocks"),
            *[
                F.sum(
                    F.when(F.col(f"must_scan_{label}"), 1).otherwise(0)
                ).alias(f"scanned_{label}")
                for label, _, _ in _PREDICATES
            ],
        )
        out_parts.append(
            verdict.select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(layout).alias("layout"),
                                F.lit(label).alias("predicate"),
                                F.col("n_blocks"),
                                F.col(f"scanned_{label}").alias("scanned"),
                                (
                                    F.col("n_blocks")
                                    - F.col(f"scanned_{label}")
                                ).alias("skipped"),
                                F.expr(
                                    f"((n_blocks - scanned_{label}) * 1000)"
                                    " div n_blocks"
                                ).alias("skip_pm"),
                            )
                            for label, _, _ in _PREDICATES
                        ]
                    )
                ).alias("row")
            ).select("row.*")
        )
    return reduce(DataFrame.unionByName, out_parts).orderBy("layout", "predicate")


def pruning_audit_sql() -> str:
    blocks = []
    for layout, _, pk_sql in _LAYOUTS:
        for label, pcol, pred in _PREDICATES:
            blocks.append(f"""
SELECT '{layout}' AS layout, '{label}' AS predicate,
       count(*) AS n_blocks,
       sum(CASE WHEN {pred} THEN 1 ELSE 0 END)::BIGINT AS scanned,
       (count(*) - sum(CASE WHEN {pred} THEN 1 ELSE 0 END))::BIGINT AS skipped,
       (((count(*) - sum(CASE WHEN {pred} THEN 1 ELSE 0 END)) * 1000)
         // count(*))::BIGINT AS skip_pm
FROM (
  SELECT blk, min(v) AS lo, max(v) AS hi
  FROM (
    SELECT ((ip + off) // {PRUNE_BLOCK}) AS blk, v
    FROM (
      SELECT pk, doc_id, v,
             row_number() OVER (PARTITION BY pk ORDER BY doc_id) - 1 AS ip
      FROM (SELECT {pk_sql} AS pk, doc_id,
                   {"lpad(CAST(n_chars AS VARCHAR), 6, '0')" if pcol == "n_chars" else pcol} AS v
            FROM documents)
    ) a
    JOIN (
      SELECT pk,
             coalesce(sum(cnt) OVER (
               ORDER BY pk ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) AS off
      FROM (SELECT {pk_sql} AS pk, count(*) AS cnt
            FROM documents GROUP BY 1)
    ) b USING (pk)
  ) GROUP BY blk
)""")
    body = "\nUNION ALL\n".join(blocks)
    return f"SELECT * FROM (\n{body}\n) ORDER BY layout, predicate"
