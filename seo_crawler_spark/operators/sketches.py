"""Mergeable sketch aggregates — HyperLogLog distinct counting and
count-min frequency estimation, in EXACT integer arithmetic.

At 100 TB the questions "how many distinct shingles / URLs / users does
this source have" and "how often does this key occur" cannot afford an
exact per-group distinct (a corpus-scale shuffle holding every key in
the hash table) — crawlers and curation pipelines run SKETCHES whose
per-partition state is constant-size and whose merge is an associative
map-side combine (register max for HLL, bucket sum for CMS). Spark's
built-in `approx_count_distinct` IS an HLL++ — this module builds the
sketch as an explicit DataFrame aggregate instead, because (a) the
sketch TABLE itself is the production artifact (persist it, merge
tomorrow's crawl into it — the seen-filter pattern), and (b) the
driver's oracle gate needs bit-identical DuckDB twins, which the
built-in's binary registers can't give.

Determinism: the usual HLL estimator ends in float log/harmonic sums.
Here every step is int64: the harmonic sum Σ2^(-M_j) is computed as
Σ2^(CAP-M_j) over a 2^CAP grid (exact — register ranks are capped at
CAP=30, far beyond any realistic rank), the bias constant α_m is the
rational 709/1000, the estimate is one integer division, and the
small-range linear-counting branch reads a PRECOMPUTED integer table
(round(m·ln(m/z)) for z=1..m-1, literal in both engines) so no engine
evaluates a transcendental at query time. CMS is integers end-to-end.

References: Flajolet et al. 2007 (HyperLogLog), Cormode & Muthukrishnan
2005 (count-min); Heule et al. 2013 (HLL++ practice: linear counting
below 2.5m). Public-knowledge only.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import (
    MD5INT_SQL,
    TOKENS_SQL,
    md5int,
    shingles,
    shingles_sql,
    tokens,
)
from ..sources.tables import load
from ..session import SCAN_FANOUT

HLL_M = 64          # registers (2^6); relative error ~1.04/√m ≈ 13%
HLL_CAP = 30        # register-rank cap: harmonic sum lives on the 2^30 grid
HLL_ALPHA = (709, 1000)   # α_64 = 0.709 as a rational (Flajolet Fig. 3)
# linear-counting threshold: E ≤ 2.5·m (Heule et al. §5.2), integer
HLL_LC_LIMIT = (5 * HLL_M) // 2

CMS_D = 4           # hash rows
# bucket count per row: deliberately SMALL relative to the shipped
# corpus's 31-type vocabulary so the collision path (est > exact, the
# ε·N guarantee) is exercised by the data the tests run on; production
# sizes w = ⌈e/ε⌉ for the wanted error
CMS_W = 16

# Spark-dialect md5int over a column named t (the shared CASE-chain
# texts below wrap each engine's own hash fragment; DuckDB's twin is
# MD5INT_SQL)
_MD5INT_SPARK = "cast(conv(substr(md5(t), 1, 15), 16, 10) as bigint)"


def _hll_lc_table() -> dict[int, int]:
    """z → round(m·ln(m/z)) for z = 1..m-1 — precomputed so NEITHER
    engine evaluates ln at query time (libm last-ulp parity is not a
    thing to bet a hash gate on)."""
    return {
        z: round(HLL_M * math.log(HLL_M / z)) for z in range(1, HLL_M)
    }


def _rho_sql(w: str) -> str:
    """rank(w) = leading zeros of the 54-bit hash remainder + 1, capped
    at HLL_CAP — ONE shared CASE-chain text evaluated by both engines
    (integer comparisons against power-of-two literals; no log2)."""
    branches = " ".join(
        f"WHEN {w} >= {1 << (54 - r)} THEN {r}"
        for r in range(1, HLL_CAP)
    )
    return f"(CASE {branches} ELSE {HLL_CAP} END)"


def _lc_case_sql(zeros: str) -> str:
    table = _hll_lc_table()
    branches = " ".join(
        f"WHEN {zeros} = {z} THEN {v}" for z, v in table.items()
    )
    return f"(CASE {branches} ELSE 0 END)"


def hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, zeros, isum, est, exact, abs_err_bp, method): per-source
    distinct-SHINGLE cardinality (3-gram types — the dedup family's
    unit of content) estimated from a 64-register HyperLogLog, next to
    the exact count (the audit pairing; production drops the exact
    branch — that is the point of the sketch).

    Scale shape: the ONLY corpus-scale exchange is the register
    aggregate groupBy(source, register).max(rank) — map-side combined,
    so each partition ships at most |sources|·64 rows no matter how
    many shingle occurrences it scanned (duplicates never inflate
    state: max is idempotent — exactly why HLL needs no dedup shuffle,
    where the exact twin's countDistinct must shuffle every distinct
    key). The per-source fold of 64 registers into (zeros, isum) is a
    second agg over a |sources|·64-row frame, and the estimate is
    row-local integer arithmetic. Merging tomorrow's crawl = the same
    max-agg over the union of register tables."""
    d = load(spark, "documents", sf_dir)
    return hll_finalize(hll_registers(d), hll_exact(d))


def hll_exact(docs: DataFrame) -> DataFrame:
    """(source, exact): the exact distinct-shingle audit column — the
    key-shuffling countDistinct the sketch exists to avoid."""
    toks = (
        docs.repartition(SCAN_FANOUT)
        .select("source", tokens(F.col("text")).alias("tok"))
        .localCheckpoint(eager=True)  # _token_arrays discipline (dedup.py)
    )
    return (
        toks.select("source", F.explode(shingles(F.col("tok"))).alias("t"))
        .groupBy("source")
        .agg(F.countDistinct("t").alias("exact"))
    )


def hll_registers(docs: DataFrame) -> DataFrame:
    """(source, j, m): the 64-register max-rank table over a document
    frame — the MERGEABLE sketch state (register-wise max of two such
    tables ≡ the table of their union). Shared by the batch operator
    and the streaming twin's per-batch merge."""
    toks = (
        docs.repartition(SCAN_FANOUT)
        .select("source", tokens(F.col("text")).alias("tok"))
        .localCheckpoint(eager=True)
    )
    grams = toks.select(
        "source", F.explode(shingles(F.col("tok"))).alias("t")
    )
    h = md5int(F.col("t"))
    return (
        grams.select(
            "source",
            (h % HLL_M).alias("j"),
            F.expr(_rho_sql(f"({_MD5INT_SPARK} div {HLL_M})")).alias("rho"),
        )
        .groupBy("source", "j")
        .agg(F.max("rho").alias("m"))
    )


def hll_finalize(regs: DataFrame, exact: DataFrame) -> DataFrame:
    """Fold a register table into per-source estimates (the integer
    estimator described in the module docstring); ``exact`` supplies
    the audit column."""
    per_src = regs.groupBy("source").agg(
        F.count(F.lit(1)).alias("present"),
        F.expr(f"sum(cast(1 as bigint) << ({HLL_CAP} - m))").alias(
            "isum_present"
        ),
    )
    an, ad = HLL_ALPHA
    calc = per_src.select(
        "source",
        (F.lit(HLL_M) - F.col("present")).cast("long").alias("zeros"),
        (
            F.col("isum_present")
            + (F.lit(HLL_M) - F.col("present")).cast("long")
            * F.lit(1 << HLL_CAP).cast("long")
        ).alias("isum"),
    ).withColumn(
        "raw",
        F.expr(
            f"(cast({an} as bigint) * {HLL_M * HLL_M}"
            f" * {1 << HLL_CAP}) div ({ad} * isum)"
        ),
    )
    use_lc = (F.col("raw") <= HLL_LC_LIMIT) & (F.col("zeros") > 0)
    return (
        calc.join(F.broadcast(exact), "source")
        .withColumn(
            "est",
            F.when(use_lc, F.expr(_lc_case_sql("zeros")))
            .otherwise(F.col("raw"))
            .cast("long"),
        )
        .withColumn(
            "method",
            F.when(use_lc, F.lit("linear_counting")).otherwise(F.lit("raw")),
        )
        .withColumn(
            "abs_err_bp", F.expr("(abs(est - exact) * 10000) div exact")
        )
        .select(
            "source", "zeros", "isum", "est", "exact", "abs_err_bp", "method"
        )
        .orderBy("source")
    )


def hll_distinct_sql() -> str:
    tok = TOKENS_SQL.format(c="text")
    sh = shingles_sql("tok")
    h = MD5INT_SQL.format(c="t")
    an, ad = HLL_ALPHA
    return f"""
WITH toks AS (SELECT source, {tok} AS tok FROM documents),
grams AS (
  SELECT source, unnest(CASE WHEN len(tok) >= 3 THEN {sh}
                        ELSE [] END) AS t
  FROM toks
),
q AS (
  SELECT source, ({h}) % {HLL_M} AS j,
         {_rho_sql(f'(({h}) // {HLL_M})')} AS rho
  FROM grams
),
regs AS (SELECT source, j, max(rho) AS m FROM q GROUP BY source, j),
per_src AS (
  SELECT source, count(*) AS present,
         sum(1::BIGINT << ({HLL_CAP} - m)) AS isum_present
  FROM regs GROUP BY source
),
exact AS (
  SELECT source, count(DISTINCT t) AS exact FROM grams GROUP BY source
),
calc AS (
  SELECT p.source,
         ({HLL_M} - p.present)::BIGINT AS zeros,
         (p.isum_present
          + ({HLL_M} - p.present)::BIGINT * {1 << HLL_CAP})::BIGINT AS isum,
         x.exact
  FROM per_src p JOIN exact x USING (source)
),
raws AS (
  SELECT source, zeros, isum, exact,
         ({an}::BIGINT * {HLL_M * HLL_M} * {1 << HLL_CAP})
           // ({ad} * isum) AS raw
  FROM calc
),
ests AS (
  SELECT source, zeros, isum, exact,
         (CASE WHEN raw <= {HLL_LC_LIMIT} AND zeros > 0
               THEN {_lc_case_sql('zeros')}
               ELSE raw END)::BIGINT AS est,
         CASE WHEN raw <= {HLL_LC_LIMIT} AND zeros > 0
              THEN 'linear_counting' ELSE 'raw' END AS method
  FROM raws
)
SELECT source, zeros, isum, est, exact,
       (abs(est - exact) * 10000) // exact AS abs_err_bp,
       method
FROM ests ORDER BY source
"""


def cms_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(term, est, exact, overcount): corpus frequency of every term
    TYPE estimated from a d=4 × w=16 count-min sketch, next to the
    exact count. CMS guarantees est ≥ exact (collisions only add) and
    est ≤ exact + εN with prob 1-δ — the overcount column IS that
    guarantee made visible (w is sized so the shipped corpus actually
    collides; production picks w = ⌈e/ε⌉).

    Scale shape: sketch build = ONE map-side-combined aggregate whose
    key space is d·w = 64 cells — constant-size per-partition state
    regardless of corpus size (the explode-by-d multiplies rows 4× but
    never shuffles more than 64 groups). The probe side is the distinct
    term dimension (vocab-bounded — at web scale this is the
    heavy-hitter candidate list, not the raw stream); the 64-cell
    sketch broadcasts to it. Production mergers sum bucket tables
    across days — same associativity story as the HLL register max."""
    d = load(spark, "documents", sf_dir)
    occ = d.select(F.explode(tokens(F.col("text"))).alias("t"))
    rows = occ.select(
        "t", F.explode(F.array(*[F.lit(r) for r in range(CMS_D)])).alias("r")
    )
    bucket = md5int(F.concat(F.lit("cms"), F.col("r").cast("string"), F.lit("_"), F.col("t")))
    sketch = (
        rows.select("r", (bucket % CMS_W).alias("b"))
        .groupBy("r", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    exact = occ.groupBy(F.col("t")).agg(F.count(F.lit(1)).alias("exact"))
    pb = exact.select(
        F.col("t"),
        F.explode(F.array(*[F.lit(r) for r in range(CMS_D)])).alias("r"),
    ).select(
        "t",
        "r",
        (
            md5int(F.concat(F.lit("cms"), F.col("r").cast("string"), F.lit("_"), F.col("t")))
            % CMS_W
        ).alias("b"),
    )
    est = (
        pb.join(F.broadcast(sketch), ["r", "b"])
        .groupBy("t")
        .agg(F.min("cnt").alias("est"))
    )
    return (
        est.join(exact, "t")
        .select(
            F.col("t").alias("term"),
            "est",
            "exact",
            (F.col("est") - F.col("exact")).alias("overcount"),
        )
        .orderBy("term")
    )


def cms_frequency_sql() -> str:
    tok = TOKENS_SQL.format(c="text")
    hb = MD5INT_SQL.format(c="'cms' || r || '_' || t")
    return f"""
WITH occ AS (
  SELECT unnest({tok}) AS t FROM documents
),
rows_ AS (
  SELECT t, r FROM occ, (SELECT unnest(range(0, {CMS_D})) AS r)
),
sketch AS (
  SELECT r, ({hb}) % {CMS_W} AS b, count(*) AS cnt
  FROM rows_ GROUP BY 1, 2
),
exact AS (SELECT t, count(*) AS exact FROM occ GROUP BY t),
pb AS (
  SELECT t, r, ({hb}) % {CMS_W} AS b
  FROM exact, (SELECT unnest(range(0, {CMS_D})) AS r)
),
est AS (
  SELECT pb.t, min(s.cnt) AS est
  FROM pb JOIN sketch s ON pb.r = s.r AND pb.b = s.b
  GROUP BY pb.t
)
SELECT e.t AS term, e.est, x.exact, (e.est - x.exact) AS overcount
FROM est e JOIN exact x USING (t)
ORDER BY term
"""


# ---------------------------------------------------------------------------
# Histogram quantile sketch
# ---------------------------------------------------------------------------

QSK_W = 32                    # bin width (chars)
QSK_QS = (50, 90, 99)         # percentiles to report


def length_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(q, rank, bin, lo, hi, exact_val, contained): document-length
    percentiles answered from a fixed-width histogram sketch — the
    third mergeable sketch next to hll_distinct (distinct) and
    cms_frequency (frequency). Exact percentiles need every value (or
    a per-partition value-counts map, cf. length_quantiles' scale
    note); the histogram needs ≤ range/W bin counters, merged across
    partitions/days by plain addition, and answers any percentile to
    ±W/2 forever after. For unbounded/skewed ranges the production
    variant makes bins log-width (HDR-histogram style — the same
    bit-length CASE chain the HLL rank uses); the shipped corpus's
    44..577-char range wants linear bins.

    Scale shape: ONE map-side-combined groupBy(bin).count — constant
    state like the other sketches; the cumulative walk and the
    quantile pick run on the ≤ range/W-row bin frame (a dimension,
    like the politeness robots dim — its single-partition window is
    bounded by construction). The exact_val audit column uses the
    bounded value-counts route (doc-length cardinality ≤ max doc
    bytes), and ``contained`` states the sketch's ±bin guarantee as a
    boolean the hash gate checks. All arithmetic integer: rank =
    ceil(q·N/100) via (q·N + 99) div 100, bin bounds are bin·W and
    bin·W + W - 1."""
    docs = load(spark, "documents", sf_dir)
    hist = (
        docs.groupBy(F.expr(f"n_chars div {QSK_W}").alias("bin"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    from pyspark.sql import Window

    # bin frame is range/W rows — dimension-sized by construction
    wb = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.withColumn("cum", F.sum("cnt").over(wb)).localCheckpoint(
        eager=True
    )  # feeds |QSK_QS| consumers
    n = docs.count()  # 1 driver scalar (the pagerank-n pattern)
    # exact audit: smallest value whose cumulative count reaches rank
    # (value-counts frame, bounded cardinality)
    vals = docs.groupBy("n_chars").agg(F.count(F.lit(1)).alias("c"))
    wv = Window.orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    vcum = vals.withColumn("vcum", F.sum("c").over(wv)).localCheckpoint(
        eager=True
    )
    out = None
    for q in QSK_QS:
        rank = (q * n + 99) // 100
        pick = (
            cum.filter(F.col("cum") >= rank)
            .orderBy("bin")
            .limit(1)
            .select(
                F.lit(q).alias("q"),
                F.lit(rank).cast("long").alias("rank"),
                "bin",
                (F.col("bin") * QSK_W).alias("lo"),
                (F.col("bin") * QSK_W + QSK_W - 1).alias("hi"),
            )
        )
        ex = (
            vcum.filter(F.col("vcum") >= rank)
            .orderBy("n_chars")
            .limit(1)
            .select(
                F.lit(q).alias("q"),
                F.col("n_chars").alias("exact_val"),
            )
        )
        row = pick.join(ex, "q")
        out = row if out is None else out.unionByName(row)
    return out.select(
        "q",
        "rank",
        "bin",
        "lo",
        "hi",
        "exact_val",
        (
            (F.col("exact_val") >= F.col("lo"))
            & (F.col("exact_val") <= F.col("hi"))
        ).alias("contained"),
    ).orderBy("q")


def length_quantile_sketch_sql() -> str:
    qs = ", ".join(str(q) for q in QSK_QS)
    return f"""
WITH hist AS (
  SELECT n_chars // {QSK_W} AS bin, count(*) AS cnt
  FROM documents GROUP BY 1
),
cum AS (
  SELECT bin, cnt,
         sum(cnt) OVER (ORDER BY bin
                        ROWS UNBOUNDED PRECEDING) AS cum
  FROM hist
),
n AS (SELECT count(*) AS nn FROM documents),
targets AS (
  SELECT q, (q * (SELECT nn FROM n) + 99) // 100 AS rank
  FROM (SELECT unnest([{qs}]) AS q)
),
vals AS (
  SELECT n_chars, count(*) AS c FROM documents GROUP BY 1
),
vcum AS (
  SELECT n_chars,
         sum(c) OVER (ORDER BY n_chars
                      ROWS UNBOUNDED PRECEDING) AS vcum
  FROM vals
),
pick AS (
  SELECT t.q, t.rank, min(c.bin) AS bin
  FROM targets t JOIN cum c ON c.cum >= t.rank
  GROUP BY t.q, t.rank
),
exact AS (
  SELECT t.q, min(v.n_chars) AS exact_val
  FROM targets t JOIN vcum v ON v.vcum >= t.rank
  GROUP BY t.q
)
SELECT p.q, p.rank, p.bin,
       (p.bin * {QSK_W})::BIGINT AS lo,
       (p.bin * {QSK_W} + {QSK_W - 1})::BIGINT AS hi,
       e.exact_val,
       e.exact_val >= p.bin * {QSK_W}
         AND e.exact_val <= p.bin * {QSK_W} + {QSK_W - 1} AS contained
FROM pick p JOIN exact e USING (q)
ORDER BY p.q
"""


# ---------------------------------------------------------------------------
# heavy hitters — two-pass Misra-Gries candidate pruning + exact verify
# ---------------------------------------------------------------------------

HH_K = 30  # report terms with freq > N/(HH_K+1); MG keeps HH_K counters


def heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT frequent terms (freq > N/(k+1)) via the canonical two-pass
    distributed heavy-hitters plan (Misra & Gries 1982; the MapReduce
    formulation in Cormode's frequent-items surveys): pass 1 runs an
    MG summary with k counters INSIDE each partition and emits only its
    ≤ k surviving candidate terms; pass 2 exactly counts candidates
    only. Soundness is the pigeonhole argument: a term with global
    count > N/(k+1) must exceed n_p/(k+1) in at least one partition
    (else its global count ≤ Σ n_p/(k+1) = N/(k+1)), and per-partition
    MG retains every term with local count > n_p/(k+1) — so the
    candidate union is a superset of the answer and pass 2's exact
    filter makes the OUTPUT exact. The point at 100 TB: the full
    (term, count) aggregate over a web vocabulary (10^9+ types) never
    materializes — pass 1 ships ≤ k rows per partition, pass 2
    aggregates only the ≤ k·P candidate terms.

    The MG loop is per-partition Python over Arrow batches
    (mapInPandas + a dict of ≤ k counters — the extraction-UDF tier,
    not per-row spark udf); counts in pass 2 are exact integers and the
    threshold is stated as freq·(k+1) > N, so the DuckDB oracle (a
    plain HAVING over the exact counts — the MG stage is invisible to
    correctness, it is pure pruning) is bit-identical."""
    import pandas as pd

    docs = load(spark, "documents", sf_dir)
    toks = (
        docs.repartition(SCAN_FANOUT)
        .select(tokens(F.col("text")).alias("tok"))
        .localCheckpoint(eager=True)
    )
    terms = toks.select(F.explode("tok").alias("term"))

    def mg(batches):
        # batched Frequent/MG: merge the batch's exact value_counts
        # (C-speed, no per-row Python), then while the table exceeds k
        # counters subtract the minimum from ALL and drop zeros — each
        # subtraction of m hits >= k+1 counters, so total decrement
        # mass per item <= n_p/(k+1): any item with local count above
        # that survives, the invariant the pigeonhole proof needs
        counters: dict[str, int] = {}
        for pdf in batches:
            for t, c in pdf["term"].value_counts().items():
                counters[t] = counters.get(t, 0) + int(c)
            while len(counters) > HH_K:
                m = min(counters.values())
                counters = {
                    t: c - m for t, c in counters.items() if c > m
                }
        yield pd.DataFrame({"term": list(counters.keys())})

    cand = (
        terms.mapInPandas(mg, schema="term string")
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = terms.count()
    return (
        terms.join(F.broadcast(cand), "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") * (HH_K + 1) > n)
        .select(
            "term",
            "freq",
            F.expr(f"(freq * 10000) div {n}").alias("share_bp"),
        )
        .orderBy(F.col("freq").desc(), "term")
    )


def heavy_hitters_sql(k: int = HH_K) -> str:
    tok = TOKENS_SQL.format(c="text")
    return f"""
WITH t AS MATERIALIZED (
  SELECT unnest({tok}) AS term FROM documents
),
n AS (SELECT count(*) AS c FROM t)
SELECT term, count(*) AS freq,
       (count(*) * 10000) // (SELECT c FROM n) AS share_bp
FROM t GROUP BY term
HAVING count(*) * {k + 1} > (SELECT c FROM n)
ORDER BY freq DESC, term
"""


# ---------------------------------------------------------------------------
# HLL set algebra — pairwise source overlap via register-max union
# ---------------------------------------------------------------------------


def hll_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source content overlap from HLL sketches alone — the
    set-ALGEBRA payoff of keeping mergeable register tables around:
    union(A,B) is the register-wise max of the two sketches (no rescan
    of either corpus), and |A∩B| follows by inclusion–exclusion
    (est_a + est_b − est_union), giving an estimated shingle-Jaccard
    per source pair. This is how a 100 TB pipeline shortlists
    mirror/syndication candidates across thousands of sources WITHOUT
    the quadratic content join — the |sources|²·m register join here
    is dimension-sized, then mirror_hosts-style exact verification
    runs only on the shortlisted pairs. (Same two-phase discipline as
    every banded-LSH family member: cheap candidate stage, exact stage
    on candidates only.)

    Registers are DENSIFIED (absent register ⇒ rank 0 ⇒ the 2^CAP
    term, exactly the encoding hll_finalize uses for zeros) so the
    pair union is a plain `greatest` over an equi-join on register
    index — every estimate then reuses the module's all-integer
    estimator (2^30-grid harmonic sum, rational α, LC table), so the
    DuckDB twin is bit-identical. est_intersect CAN be negative (two
    13%-error sketches on near-disjoint sets) — it is reported signed
    rather than clamped, and the exact intersection (posting-style
    equi-join on shingle, sa < sb) rides along as the audit column the
    production path would drop."""
    d = load(spark, "documents", sf_dir)
    regs = hll_registers(d).localCheckpoint(eager=True)
    srcs = regs.select("source").distinct()
    dense = (
        srcs.select(
            "source",
            F.explode(F.sequence(F.lit(0), F.lit(HLL_M - 1))).alias("j"),
        )
        .join(regs, ["source", "j"], "left")
        .select("source", "j", F.coalesce("m", F.lit(0)).alias("m"))
    )

    def _estimate(grouped: DataFrame, keys: list[str]) -> DataFrame:
        an, ad = HLL_ALPHA
        per = grouped.groupBy(*keys).agg(
            F.sum(F.when(F.col("m") == 0, 1).otherwise(0)).alias("zeros"),
            F.expr(f"sum(cast(1 as bigint) << ({HLL_CAP} - m))").alias(
                "isum"
            ),
        )
        calc = per.withColumn(
            "raw",
            F.expr(
                f"(cast({an} as bigint) * {HLL_M * HLL_M}"
                f" * {1 << HLL_CAP}) div ({ad} * isum)"
            ),
        )
        use_lc = (F.col("raw") <= HLL_LC_LIMIT) & (F.col("zeros") > 0)
        return calc.select(
            *keys,
            F.when(use_lc, F.expr(_lc_case_sql("zeros")))
            .otherwise(F.col("raw"))
            .cast("long")
            .alias("est"),
        )

    singles = _estimate(dense, ["source"])
    a = dense.select(
        F.col("source").alias("src_a"), "j", F.col("m").alias("ma")
    )
    b = dense.select(
        F.col("source").alias("src_b"), "j", F.col("m").alias("mb")
    )
    pair_regs = (
        a.join(b, "j")
        .filter(F.col("src_a") < F.col("src_b"))
        .select(
            "src_a", "src_b", "j", F.greatest("ma", "mb").alias("m")
        )
    )
    unions = _estimate(pair_regs, ["src_a", "src_b"])

    # exact-intersection audit as a POSTING LIST (round 6, the
    # dedup_ngram_jaccard idiom): one shuffle builds shingle → source
    # set, pairs generate row-locally from each list (≤ |sources|²/2
    # per shingle), one map-side pair count — the former self-join
    # re-shuffled every (source, shingle) posting twice. Identical
    # counts: a pair (a, b) is emitted once per shared shingle either
    # way.
    grams = (
        d.select("source", tokens(F.col("text")).alias("tok"))
        .select("source", F.explode(shingles(F.col("tok"))).alias("t"))
        .distinct()
    )
    posting = grams.groupBy("t").agg(F.collect_set("source").alias("ss"))
    exact_pairs = (
        posting.filter(F.size("ss") >= 2)
        .selectExpr(
            "inline(flatten(transform(ss, "
            "x -> transform(filter(ss, y -> y > x), "
            "y -> struct(x AS src_a, y AS src_b)))))"
        )
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("exact_intersect"))
    )
    ea = singles.select(
        F.col("source").alias("src_a"), F.col("est").alias("est_a")
    )
    eb = singles.select(
        F.col("source").alias("src_b"), F.col("est").alias("est_b")
    )
    return (
        unions.join(ea, "src_a")
        .join(eb, "src_b")
        .join(exact_pairs, ["src_a", "src_b"], "left")
        .select(
            "src_a",
            "src_b",
            "est_a",
            "est_b",
            F.col("est").alias("est_union"),
            (F.col("est_a") + F.col("est_b") - F.col("est")).alias(
                "est_intersect"
            ),
            F.coalesce("exact_intersect", F.lit(0)).alias(
                "exact_intersect"
            ),
        )
        .withColumn(
            "jacc_est_pm",
            F.expr(
                "case when est_union > 0 then"
                " (case when est_intersect < 0 then -1 else 1 end)"
                " * (abs(est_intersect * 1000) div est_union)"
                " else null end"
            ).cast("long"),
        )
        .orderBy("src_a", "src_b")
    )


def hll_source_overlap_sql() -> str:
    tok = TOKENS_SQL.format(c="text")
    sh = shingles_sql("tok")
    h = MD5INT_SQL.format(c="t")
    an, ad = HLL_ALPHA

    def est_sql(src_cte: str, keys: str) -> str:
        return f"""
  SELECT {keys},
         (CASE WHEN raw <= {HLL_LC_LIMIT} AND zeros > 0
               THEN {_lc_case_sql('zeros')}
               ELSE raw END)::BIGINT AS est
  FROM (
    SELECT {keys}, zeros, isum,
           ({an}::BIGINT * {HLL_M * HLL_M} * {1 << HLL_CAP})
             // ({ad} * isum) AS raw
    FROM (
      SELECT {keys},
             sum(CASE WHEN m = 0 THEN 1 ELSE 0 END)::BIGINT AS zeros,
             sum(1::BIGINT << ({HLL_CAP} - m)) AS isum
      FROM {src_cte} GROUP BY {keys}))"""

    return f"""
WITH toks AS (SELECT source, {tok} AS tok FROM documents),
grams0 AS (
  SELECT source, unnest(CASE WHEN len(tok) >= 3 THEN {sh}
                        ELSE [] END) AS t
  FROM toks),
grams AS MATERIALIZED (SELECT DISTINCT source, t FROM grams0),
q AS (
  SELECT source, ({h}) % {HLL_M} AS j,
         {_rho_sql(f'(({h}) // {HLL_M})')} AS rho
  FROM grams0),
regs AS (SELECT source, j, max(rho) AS m FROM q GROUP BY source, j),
dense AS MATERIALIZED (
  SELECT s.source, g.j, coalesce(r.m, 0) AS m
  FROM (SELECT DISTINCT source FROM regs) s
  CROSS JOIN (SELECT unnest(range({HLL_M})) AS j) g
  LEFT JOIN regs r ON r.source = s.source AND r.j = g.j),
singles AS MATERIALIZED ({est_sql('dense', 'source')}),
pair_regs AS (
  SELECT a.source AS src_a, b.source AS src_b, a.j,
         greatest(a.m, b.m) AS m
  FROM dense a JOIN dense b ON a.j = b.j AND a.source < b.source),
unions AS ({est_sql('pair_regs', 'src_a, src_b')}),
exact_pairs AS (
  SELECT a.source AS src_a, b.source AS src_b,
         count(*) AS exact_intersect
  FROM grams a JOIN grams b ON a.t = b.t AND a.source < b.source
  GROUP BY 1, 2),
joined AS (
  SELECT u.src_a, u.src_b,
         ea.est AS est_a, eb.est AS est_b, u.est AS est_union,
         (ea.est + eb.est - u.est) AS est_intersect,
         coalesce(x.exact_intersect, 0) AS exact_intersect
  FROM unions u
  JOIN singles ea ON ea.source = u.src_a
  JOIN singles eb ON eb.source = u.src_b
  LEFT JOIN exact_pairs x
    ON x.src_a = u.src_a AND x.src_b = u.src_b)
SELECT *,
       (CASE WHEN est_union > 0 THEN
          (CASE WHEN est_intersect < 0 THEN -1 ELSE 1 END)
          * (abs(est_intersect * 1000) // est_union)
        ELSE NULL END)::BIGINT AS jacc_est_pm
FROM joined ORDER BY src_a, src_b
"""


# ---------------------------------------------------------------------------
# Bloom-filter FPR audit — measure a probabilistic seen-filter's guarantee
# ---------------------------------------------------------------------------
BF_M = 1024   # bits — deliberately small vs the shipped key counts so
              # the false-positive branch is exercised by the test data
              # (production sizes m = -n·lnp/ln²2 — this audit measures
              # the math)
BF_K = 4      # hash functions


def bloom_fpr_audit(
    spark: SparkSession, sf_dir: str, m: int = BF_M, k: int = BF_K
) -> DataFrame:
    """(m, k, n_inserted, n_probes, false_pos, fpr_pm): MEASURED
    false-positive rate of a k-hash bloom scheme over URL-seen keys —
    insert even-doc_id keys, probe the disjoint odd-doc_id set,
    count full k-position hits. The audit exists because the filter's
    guarantee is probabilistic: a deploy sizing (m, k) for 10^10 seen
    URLs should measure the realized FPR against (1−e^{−kn/m})^k on
    real key material, not assume it (md5 is not an idealized oracle).

    Plan shape: positions are row-local md5 arithmetic; the BIT SET is
    the distinct-position frame (≤ m rows — a broadcast dimension by
    construction); membership = one broadcast semi-join + a per-probe
    count-of-matched-positions == k test. No bitmap bytes cross
    engines, so the DuckDB twin replays the identical set logic —
    bit-for-bit the same verdicts as a packed-bitmap probe, stated in
    joins. The crawl engine itself keeps no bloom filter: its seen
    dedupe (operators/seen.py) is exact, and its hash prefilter
    matches on the full 64-bit url_hash, with no false positives to
    measure."""
    docs = load(spark, "documents", sf_dir).select("doc_id")
    ins = docs.filter(F.pmod("doc_id", F.lit(2)) == 0)
    probes = docs.filter(F.pmod("doc_id", F.lit(2)) == 1)

    def positions(df: DataFrame) -> DataFrame:
        return df.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.pmod(
                            md5int(
                                F.concat(
                                    F.lit(f"bf:{i}:"),
                                    F.col("doc_id").cast("string"),
                                )
                            ),
                            F.lit(m),
                        )
                        for i in range(k)
                    ]
                )
            ).alias("pos"),
        )

    bitset = positions(ins).select("pos").distinct()
    hits = (
        positions(probes)
        .join(F.broadcast(bitset), "pos")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("set_bits"))
        .filter(F.col("set_bits") == k)
    )
    n_ins = ins.agg(F.count(F.lit(1)).alias("n")).select("n")
    n_pr = probes.agg(F.count(F.lit(1)).alias("n")).select("n")
    fp = hits.agg(F.count(F.lit(1)).alias("n")).select("n")
    return (
        n_ins.crossJoin(n_pr.withColumnRenamed("n", "np"))
        .crossJoin(fp.withColumnRenamed("n", "nfp"))
        .select(
            F.lit(m).alias("m"),
            F.lit(k).alias("k"),
            F.col("n").alias("n_inserted"),
            F.col("np").alias("n_probes"),
            F.col("nfp").alias("false_pos"),
            F.expr("(nfp * 1000) div np").alias("fpr_pm"),
        )
    )


def bloom_fpr_sql(m: int = BF_M, k: int = BF_K) -> str:
    def pos(i: int, key: str) -> str:
        return MD5INT_SQL.format(c=f"'bf:{i}:' || CAST({key} AS VARCHAR)") + f" % {m}"

    ins_pos = " UNION ".join(
        f"SELECT {pos(i, 'doc_id')} AS pos FROM documents WHERE doc_id % 2 = 0"
        for i in range(k)
    )
    probe_pos = " UNION ALL ".join(
        f"SELECT doc_id, {pos(i, 'doc_id')} AS pos FROM documents WHERE doc_id % 2 = 1"
        for i in range(k)
    )
    return f"""
WITH bitset AS ({ins_pos}),
probep AS ({probe_pos}),
hits AS (
  SELECT p.doc_id
  FROM probep p JOIN bitset b USING (pos)
  GROUP BY p.doc_id HAVING count(*) = {k}
)
SELECT {m} AS m, {k} AS k,
       (SELECT count(*) FROM documents WHERE doc_id % 2 = 0) AS n_inserted,
       (SELECT count(*) FROM documents WHERE doc_id % 2 = 1) AS n_probes,
       (SELECT count(*) FROM hits)::BIGINT AS false_pos,
       (((SELECT count(*) FROM hits) * 1000)
        // (SELECT count(*) FROM documents WHERE doc_id % 2 = 1))::BIGINT AS fpr_pm
"""
