"""Deduplication operator family for large-scale corpus pipelines.

Five strategies, each a (spark, sf_dir) query over the driver
``documents`` table with a DuckDB oracle twin (SQL strings below kept
in lockstep with the DataFrame plans — same md5-derived hashes, so the
candidate sets are bit-identical across engines):

  * exact          — hash-groupBy on md5(text); scale: pure map-side
                     partial agg, one shuffle of (hash, doc_id)
  * ngram_jaccard  — 3-gram shingle explode → self-join on shingle →
                     per-pair intersection counts → exact Jaccard ≥ τ;
                     scale: the shingle join IS the blocker (pairs with
                     zero shared shingles never materialize)
  * minhash_lsh    — 32 permutations → 8 bands × 4 rows → band-bucket
                     join → exact-Jaccard verify of band collisions;
                     scale: candidates shrink from O(n²) to near-linear
  * simhash        — 48-bit sign-sum fingerprint → 4×12-bit band join →
                     hamming ≤ 3 verify (bit_count(xor))
  * embedding near-dup — cosine ≥ τ pairs (simsearch.py holds the
                     ANN/brute-force search variants)
  * incremental    — today's crawl DELTA deduped against the standing
                     base via the base's stored band index; base docs
                     are never paired with each other (the daily-batch
                     shape at 100 TB)

The reference has only the O(n²) difflib duplication pass
(issue_detector.py:315-375, rewritten in operators/issues.py); these
generalize it to corpus scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import (
    MD5INT_SQL,
    MOD,
    TOKENS_SQL,
    md5int,
    shingles,
    shingles_sql,
    tokens,
)
from ..parallel import run_parallel
from ..sources.tables import load
from ..session import SCAN_FANOUT
# the one cosine definition: a drifted copy here would silently desync
# dedup scoring from ANN scoring
from .simsearch import _cosine

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, "documents", sf_dir)
    return (
        docs.groupBy(F.md5(F.col("text")).alias("content_hash"))
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .orderBy("keeper_doc_id")
    )


DEDUP_EXACT_SQL = """
SELECT md5(text) AS content_hash,
       min(doc_id) AS keeper_doc_id,
       count(*)    AS n_copies
FROM documents
GROUP BY md5(text)
ORDER BY keeper_doc_id
"""


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup
# ---------------------------------------------------------------------------


def _token_arrays(docs: DataFrame) -> DataFrame:
    """(doc_id, tok) with a lineage barrier after the regexp.

    The barrier is load-bearing: CollapseProject inlines ``tokens()``
    (a regexp_extract_all) into every ``element_at`` reference inside
    the shingle lambda — 3 per shingle — so the regexp runs ~150× per
    document instead of once (measured 8.7s vs 0.5s for the shingle
    explode at sf0.1). localCheckpoint(eager=True) materializes the
    token arrays once, up front, and stops the inlining (eager: see
    ckpt.py — a lazily-pending localCheckpoint whose first
    materialization lands on a broadcast-exchange thread can deadlock
    the DAG scheduler).

    The repartition ahead of the regexp is equally load-bearing at
    small scale: a single small parquet file scans as ONE partition, so
    without it every per-row regexp serializes on one core (5.5s → 1.3s
    posting build at sf0.1). At warehouse scale the scan already arrives
    in many splits and the exchange is noise."""
    return (
        docs.repartition(SCAN_FANOUT)
        .select("doc_id", tokens(F.col("text")).alias("tok"))
        .localCheckpoint(eager=True)
    )


def _shingle_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, s): DISTINCT exploded shingles. Array-level
    array_distinct is O(n²) per document — exploding first and deduping
    with a hash shuffle is linear."""
    return (
        _token_arrays(docs)
        .select("doc_id", F.explode(shingles(F.col("tok"))).alias("s"))
        .distinct()
    )


# document-frequency cap on shingles before the self-join: one shingle
# appearing in d documents contributes d·(d-1)/2 candidate pairs, so a
# boilerplate shingle (cookie banner, nav text) makes the join quadratic
# in its posting list at corpus scale. Shingles with df > cap are
# treated as stopwords — dropped from BOTH intersection and union
# (standard near-dup practice). 100 is far above the observed max df in
# the testdata (7 at sf0.01, 25 at sf0.1), so test-scale output is
# byte-identical to the uncapped query.
JACCARD_DF_CAP = 100


def dedup_ngram_jaccard(
    spark: SparkSession, sf_dir: str, threshold: float = 0.5,
    df_cap: int = JACCARD_DF_CAP,
) -> DataFrame:
    """Inverted-index (posting-list) Jaccard: ONE shuffle builds
    shingle → sorted doc list; collect_set dedupes per-doc repeats (no
    separate distinct pass), the df-cap is a free size() filter on the
    posting array (not an extra agg + anti-join), and candidate pairs
    are generated row-locally from each list — the shingle self-join
    disappears entirely. Pair work per shingle is bounded by
    df_cap²/2, so one boilerplate shingle can never go quadratic.

    At extreme scale the residual risk is collect_set materializing a
    mega-shingle's full posting list before the size filter drops it;
    the two-pass variant (count agg → semi-join) trades one extra
    shuffle for strictly bounded state. Bench (sf0.1): 16-20s as
    agg+anti-join+self-join → ~2s steady-state as posting lists."""
    ex = _token_arrays(load(spark, "documents", sf_dir)).select(
        "doc_id", F.explode(shingles(F.col("tok"))).alias("s")
    )
    posting = ex.groupBy("s").agg(F.collect_set("doc_id").alias("docs"))
    # shingle strings are dropped here: pair-gen and sizes only need the
    # doc-id arrays. The two consumers below re-run only the posting
    # shuffle; the token arrays behind it are checkpointed once.
    good = posting.filter(F.size("docs") <= df_cap).select("docs")
    pairs = good.filter(F.size("docs") >= 2).selectExpr(
        "inline(flatten(transform(docs, "
        "x -> transform(filter(docs, y -> y > x), y -> struct(x AS a, y AS b)))))"
    )
    inter = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("inter"))
    sizes = (
        good.select(F.explode("docs").alias("doc"))
        .groupBy("doc")
        .agg(F.count(F.lit(1)).alias("n_sh"))
    )
    inter = inter.join(
        sizes.select(F.col("doc").alias("a"), F.col("n_sh").alias("n_a")), "a"
    ).join(sizes.select(F.col("doc").alias("b"), F.col("n_sh").alias("n_b")), "b")
    jac = F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
    return (
        inter.withColumn("jaccard", F.round(jac, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
        .orderBy("a", "b")
    )


def dedup_ngram_jaccard_sql(
    threshold: float = 0.5, df_cap: int = JACCARD_DF_CAP
) -> str:
    tok = TOKENS_SQL.format(c="text")
    return f"""
WITH tokd AS (SELECT doc_id, {tok} AS tok FROM documents),
shd AS (SELECT doc_id, list_distinct({shingles_sql("tok")}) AS sh FROM tokd),
ex0 AS (SELECT doc_id, unnest(sh) AS s FROM shd),
stop AS (SELECT s FROM ex0 GROUP BY s HAVING count(*) > {df_cap}),
exf AS (SELECT doc_id, s FROM ex0 WHERE s NOT IN (SELECT s FROM stop)),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM exf GROUP BY doc_id),
ex AS (SELECT exf.doc_id, sizes.n_sh, exf.s FROM exf JOIN sizes USING (doc_id)),
inter AS (
  SELECT a.doc_id AS a, b.doc_id AS b, a.n_sh AS na, b.n_sh AS nb,
         count(*) AS inter
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT a, b, round(inter * 1.0 / (na + nb - inter), 4) AS jaccard
FROM inter
WHERE round(inter * 1.0 / (na + nb - inter), 4) >= {threshold}
ORDER BY a, b
"""


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

N_PERM, N_BANDS = 32, 8  # r = 4 rows/band
_R = N_PERM // N_BANDS


def _minhash_bands(hashed: DataFrame) -> DataFrame:
    """(doc_id, band, sig) LSH band keys from (doc_id, hh) shingle-hash
    arrays: 32 row-local permutation minima folded into 8 bands of 4.
    Shared by the full self-dedup and the incremental (delta-vs-base)
    variant so both engines band identically. Expressions are SQL
    strings (round 6): the 32-permutation + 8-band Column-API loops
    cost ~0.4 s of py4j construction per call (×2 calls in the
    incremental variant); the parsed strings resolve identically."""
    sig_wide = hashed.selectExpr(
        "doc_id",
        *[
            f"array_min(transform(hh, h -> "
            f"(h * {2 * i + 1}L + {7919 * i + 13}L) % {MOD}L)) AS mh{i}"
            for i in range(N_PERM)
        ],
    )
    bands = ", ".join(
        f"struct({k} AS band, concat_ws('-', "
        + ", ".join(f"cast(mh{k * _R + j} as string)" for j in range(_R))
        + ") AS sig)"
        for k in range(N_BANDS)
    )
    return sig_wide.select(
        "doc_id",
        F.explode(F.expr(f"array({bands})")).alias("bk"),
    ).select("doc_id", "bk.band", "bk.sig")


def dedup_minhash_lsh(
    spark: SparkSession, sf_dir: str, threshold: float = 0.5,
    use_xxhash: bool = False,
) -> DataFrame:
    """MinHash signatures + banded LSH + exact-Jaccard verify.

    ``use_xxhash=True`` swaps the md5-derived shingle hash for native
    xxhash64 — the md5 path exists only because DuckDB reproduces it
    bit-for-bit for the oracle; xxhash64 is the production/bench fast
    path (same plan shape, JVM hash, no hex round-trip). Candidate
    recall differs only through which hash permutes shingles; the
    verify stage is exact either way.

    Plan shape: the band equi-join is the ONLY shuffle. Per-doc shingle
    sets stay as arrays (array_distinct over ≤~hundreds of shingles is
    cheap at row scope), the 32 permutation minima are row-local
    array_min(transform(...)) over a pre-hashed array, and the exact
    verify is array_intersect against the candidates — mirroring the
    oracle SQL's list_intersect, instead of the previous
    2-join + pair-agg + 2-size-join verify (6 shuffles gone)."""
    arrays = (
        _token_arrays(load(spark, "documents", sf_dir))
        .select(
            "doc_id", F.array_distinct(shingles(F.col("tok"))).alias("sh")
        )
        .filter(F.size("sh") > 0)
    )
    shingle_hash = (
        (lambda s: F.pmod(F.xxhash64(s), F.lit(MOD)))
        if use_xxhash
        else (lambda s: md5int(s) % MOD)
    )
    # barrier: without it the md5/xxhash transform re-inlines the whole
    # shingle expression per permutation (the CollapseProject trap)
    hashed = arrays.select(
        "doc_id",
        "sh",
        F.transform("sh", shingle_hash).alias("hh"),
    ).localCheckpoint(eager=True)
    # EXACT-COLLAPSE before banding — the boilerplate-skew guard: k
    # docs with identical shingle arrays share every band signature, so
    # uncollapsed they put k rows in the same band bucket and the
    # equi-join goes k² PER BAND (a 100k-copy boilerplate page is
    # 8×10^10 candidate pairs). Jaccard is a pure function of the
    # shingle arrays, so banding + verify over one representative per
    # distinct array, then expanding members back into the output, is
    # OUTPUT-IDENTICAL: cross-group pairs inherit the rep pair's
    # jaccard; same-group pairs are always band-collided (equal sigs)
    # and verify at exactly 1.0. The quadratic term survives only in
    # the OUTPUT rows the pair semantics demand, never in join state.
    grp = (
        hashed.groupBy("sh")
        .agg(
            F.min("doc_id").alias("rep"),
            F.collect_list("doc_id").alias("members"),
            F.first("hh").alias("hh"),  # pure function of sh: any row
        )
        .localCheckpoint(eager=True)  # reused: banding, verify, expand
    )
    uniq = grp.select(F.col("rep").alias("doc_id"), "sh", "hh")
    bands = _minhash_bands(uniq)
    pa = bands.select(F.col("doc_id").alias("a"), "band", "sig")
    pb = bands.select(F.col("doc_id").alias("b"), "band", "sig")
    cand = (
        pa.join(pb, ["band", "sig"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    # exact verify of band collisions: two equi-joins against the
    # per-doc shingle arrays, then intersect row-locally
    # (list_intersect in the oracle). No broadcast HINT: AQE broadcasts
    # both joins at bench scale (cand is id-pairs, far under the
    # threshold) but a forced hint would also ship `pairs` — candidate
    # pairs CARRYING their sha arrays — through the driver; on a
    # near-dup-heavy web corpus |cand| × |shingle set| is unbounded and
    # the hint becomes a driver OOM. Unhinted, the same query degrades
    # to shuffle joins keyed on doc_id exactly when it must.
    sets_ = uniq.select("doc_id", "sh")
    pairs = cand.join(
        sets_.select(F.col("doc_id").alias("a"), F.col("sh").alias("sha")), "a"
    )
    pairs = pairs.join(
        sets_.select(F.col("doc_id").alias("b"), F.col("sh").alias("shb")), "b"
    )
    inter = F.size(F.array_intersect("sha", "shb"))
    na, nb = F.size("sha"), F.size("shb")
    rep_pairs = (
        pairs.withColumn("jaccard", F.round(inter / (na + nb - inter), 4))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )
    return _expand_group_pairs(
        rep_pairs, grp, value_col="jaccard", identical_value=F.lit(1.0)
    ).orderBy("a", "b")


def _expand_group_pairs(
    rep_pairs: DataFrame,
    grp: DataFrame,
    value_col: str,
    identical_value,
) -> DataFrame:
    """Expand representative-level verified pairs back to doc-level
    pairs after :func:`dedup_minhash_lsh` / :func:`dedup_simhash`'s
    exact-collapse: every member pair across two matched groups
    inherits the rep pair's value (the metric is a pure function of
    the collapse key); every pair WITHIN a multi-member group is
    emitted with ``identical_value`` (equal keys ⇒ always
    band-collided, metric at its identity)."""
    mem = grp.select("rep", F.explode("members").alias("doc"))
    cross = (
        rep_pairs.join(
            mem.select(F.col("rep").alias("a"), F.col("doc").alias("da")), "a"
        )
        .join(
            mem.select(F.col("rep").alias("b"), F.col("doc").alias("db")), "b"
        )
        .select(
            F.least("da", "db").alias("a"),
            F.greatest("da", "db").alias("b"),
            F.col(value_col),
        )
    )
    intra = (
        grp.filter(F.size("members") > 1)
        # withColumn keeps the group's other columns in scope, so
        # identical_value may be an expression over them (the embedding
        # variant passes the group's self-cosine, which is NaN for a
        # zero vector and must then be filtered, not hardcoded)
        .withColumn("a", F.explode("members"))
        .withColumn("b", F.explode("members"))
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", identical_value.alias(value_col))
    )
    return cross.unionByName(intra)


def dedup_minhash_lsh_sql(threshold: float = 0.5) -> str:
    tok = TOKENS_SQL.format(c="text")
    h = MD5INT_SQL.format(c="s")
    return f"""
WITH tokd AS (SELECT doc_id, {tok} AS tok FROM documents),
shd AS (SELECT doc_id, list_distinct({shingles_sql("tok")}) AS sh FROM tokd
        WHERE len(list_distinct({shingles_sql("tok")})) > 0),
ex AS (SELECT doc_id, unnest(sh) AS s FROM shd),
hashed AS (SELECT doc_id, {h} % {MOD} AS h FROM ex),
perms AS (SELECT i, i*2+1 AS pa, i*7919+13 AS pb FROM (SELECT unnest(range(0,{N_PERM})) AS i)),
sig AS (
  SELECT doc_id, i, min((pa * h + pb) % {MOD}) AS mh
  FROM hashed CROSS JOIN perms GROUP BY doc_id, i
),
bands AS (
  SELECT doc_id, (i // {_R}) AS band,
         string_agg(CAST(mh AS VARCHAR), '-' ORDER BY i) AS sig
  FROM sig GROUP BY doc_id, band
),
cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM bands x JOIN bands y ON x.band = y.band AND x.sig = y.sig
                             AND x.doc_id < y.doc_id
),
verified AS (
  SELECT c.a, c.b,
         len(list_intersect(d1.sh, d2.sh)) AS inter,
         len(d1.sh) AS na, len(d2.sh) AS nb
  FROM cand c JOIN shd d1 ON c.a = d1.doc_id JOIN shd d2 ON c.b = d2.doc_id
)
SELECT a, b, round(inter * 1.0 / (na + nb - inter), 4) AS jaccard
FROM verified WHERE round(inter * 1.0 / (na + nb - inter), 4) >= {threshold}
ORDER BY a, b
"""


# ---------------------------------------------------------------------------
# incremental dedup: today's crawl delta vs the standing corpus
# ---------------------------------------------------------------------------

DELTA_MOD = 5  # deterministic split: md5int(doc_id) % 5 == 0 → delta


def _hashed_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, sh, hh): distinct shingle arrays plus their md5-derived
    hash arrays — the input both :func:`_minhash_bands` (banding) and
    the exact-Jaccard verify stage consume. Shared by the batch
    incremental dedup and its Structured Streaming twin
    (streaming/dedup_stream.py) so both band identically. Docs with no
    shingles are dropped (trivially novel — callers re-attach them via
    a left join on the full doc list)."""
    arrays = (
        _token_arrays(docs)
        .select(
            "doc_id", F.array_distinct(shingles(F.col("tok"))).alias("sh")
        )
        .filter(F.size("sh") > 0)
    )
    return arrays.select(
        "doc_id",
        "sh",
        F.transform("sh", lambda s: md5int(s) % MOD).alias("hh"),
    )


def dedup_incremental(
    spark: SparkSession, sf_dir: str, threshold: float = 0.5,
    delta_mod: int = DELTA_MOD,
) -> DataFrame:
    """Dedup an incoming DELTA against the standing base corpus without
    ever pairing base docs with each other.

    At 100 TB this is the shape that actually runs daily: the base is
    already deduped and its band index (doc_id, band, sig) is a stored
    table, so each new crawl batch pays minhash for the DELTA ONLY and
    two equi-joins — delta-bands ⋈ base-band-index (dup-of-base) and
    delta-bands ⋈ delta-bands (dup-within-batch, keep-first by
    doc_id) — shuffling O(|delta| + touched base buckets), never the
    base corpus. Re-running :func:`dedup_minhash_lsh` over base ∪ delta
    would re-band the full corpus and re-materialize every base-base
    band collision per batch.

    Here the split is derived deterministically from the one driver
    ``documents`` table (md5int(doc_id) % delta_mod == 0 → delta,
    ~20%) so the DuckDB oracle sees the identical partition. Output:
    one row per delta doc — ``dup_of`` = lexicographically smallest
    matching partner (base doc, or an earlier delta doc) at exact
    Jaccard ≥ threshold, NULL when the doc is novel; ``is_kept`` =
    novelty verdict."""
    docs = load(spark, "documents", sf_dir)
    is_delta = (md5int(F.col("doc_id").cast("string")) % delta_mod) == 0
    hashed = _hashed_shingles(docs).localCheckpoint(eager=True)
    # EXACT-COLLAPSE both sides on the shingle array (the
    # dedup_minhash_lsh boilerplate-skew guard — and with VERDICT
    # output the win is total: one row per delta doc, nothing
    # quadratic survives anywhere).
    #
    # Base side: the verdict takes min over partners and EVERY base
    # doc is an admissible partner (no ordering predicate), so only
    # min(doc_id) per distinct content can ever be a dup_of — the
    # base band index shrinks to ONE row per distinct sh.
    #
    # Delta side: for group G (rep = min member m0) with verified
    # partner minimum q(G) = min(base partners, batch reps rep_H <
    # rep_G with jaccard ≥ τ):
    #   dup_of(m0)      = q(G)                (null → novel)
    #   dup_of(mi, i≥1) = least(q(G), m0)     (m0 always claims; any
    #                                          rep_H between m0 and mi
    #                                          can never beat m0)
    # which is exactly the uncollapsed min over all earlier partners.
    # the base and delta collapses are independent passes over the
    # checkpointed `hashed` blocks — overlap their eager checkpoints
    # from two driver threads (guide §2.6); identical group tables
    base_grp, delta_grp = run_parallel(
        lambda: hashed.filter(~is_delta)
        .groupBy("sh")
        .agg(F.min("doc_id").alias("doc_id"), F.first("hh").alias("hh"))
        .localCheckpoint(eager=True),
        lambda: hashed.filter(is_delta)
        .groupBy("sh")
        .agg(
            F.min("doc_id").alias("rep"),
            F.collect_list("doc_id").alias("members"),
            F.first("hh").alias("hh"),
        )
        .localCheckpoint(eager=True),
    )
    delta_reps = delta_grp.select(F.col("rep").alias("doc_id"), "sh", "hh")
    db = _minhash_bands(delta_reps)
    bb = _minhash_bands(base_grp)
    da = db.select(F.col("doc_id").alias("a"), "band", "sig")
    # dup-of-base: disjoint sides, no ordering predicate needed
    cand_base = da.join(
        bb.select(F.col("doc_id").alias("b"), "band", "sig"),
        ["band", "sig"],
    ).select("a", "b")
    # dup-within-delta: keep-first — only an EARLIER group rep may
    # claim a later one (b < a), mirroring arrival order
    cand_delta = da.join(
        db.select(F.col("doc_id").alias("b"), "band", "sig"),
        ["band", "sig"],
    ).filter(F.col("b") < F.col("a")).select("a", "b")
    cand = cand_base.unionByName(cand_delta).distinct()
    # no broadcast hint on the verify joins (same rationale as
    # dedup_minhash_lsh): AQE broadcasts them while candidates are
    # small; a hint would force array-carrying pairs through the driver
    sets_ = delta_reps.select("doc_id", "sh").unionByName(
        base_grp.select("doc_id", "sh")
    )
    pairs = cand.join(
        sets_.select(F.col("doc_id").alias("a"), F.col("sh").alias("sha")), "a"
    )
    pairs = pairs.join(
        sets_.select(F.col("doc_id").alias("b"), F.col("sh").alias("shb")), "b"
    )
    inter = F.size(F.array_intersect("sha", "shb"))
    na, nb = F.size("sha"), F.size("shb")
    matches = (
        pairs.withColumn("jaccard", F.round(inter / (na + nb - inter), 4))
        .filter(F.col("jaccard") >= threshold)
        .groupBy("a")
        .agg(F.min("b").alias("q"))
    )
    verdicts = (
        delta_grp.join(
            matches.withColumnRenamed("a", "rep"), "rep", "left"
        )
        .select("rep", "q", F.explode("members").alias("doc_id"))
        .select(
            "doc_id",
            F.when(F.col("doc_id") == F.col("rep"), F.col("q"))
            .otherwise(F.least("q", "rep"))  # least() skips nulls
            .alias("dup_of"),
        )
    )
    # every delta doc appears — including shingle-less ones (trivially
    # novel), which `arrays` filtered out of the banding
    return (
        docs.filter(is_delta)
        .select("doc_id")
        .join(verdicts, "doc_id", "left")
        .select(
            "doc_id",
            "dup_of",
            F.col("dup_of").isNull().alias("is_kept"),
        )
        .orderBy("doc_id")
    )


def dedup_incremental_sql(
    threshold: float = 0.5, delta_mod: int = DELTA_MOD
) -> str:
    tok = TOKENS_SQL.format(c="text")
    h = MD5INT_SQL.format(c="s")
    flag = MD5INT_SQL.format(c="CAST(doc_id AS VARCHAR)")
    return f"""
WITH tokd AS (SELECT doc_id, {tok} AS tok FROM documents),
shd AS (SELECT doc_id, list_distinct({shingles_sql("tok")}) AS sh FROM tokd
        WHERE len(list_distinct({shingles_sql("tok")})) > 0),
ex AS (SELECT doc_id, unnest(sh) AS s FROM shd),
hashed AS (SELECT doc_id, {h} % {MOD} AS h FROM ex),
perms AS (SELECT i, i*2+1 AS pa, i*7919+13 AS pb FROM (SELECT unnest(range(0,{N_PERM})) AS i)),
sig AS (
  SELECT doc_id, i, min((pa * h + pb) % {MOD}) AS mh
  FROM hashed CROSS JOIN perms GROUP BY doc_id, i
),
bands AS (
  SELECT doc_id, (i // {_R}) AS band,
         string_agg(CAST(mh AS VARCHAR), '-' ORDER BY i) AS sig
  FROM sig GROUP BY doc_id, band
),
flags AS (SELECT doc_id, ({flag} % {delta_mod}) = 0 AS is_delta FROM documents),
cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM bands x
  JOIN flags fx ON x.doc_id = fx.doc_id AND fx.is_delta
  JOIN bands y ON x.band = y.band AND x.sig = y.sig AND x.doc_id <> y.doc_id
  JOIN flags fy ON y.doc_id = fy.doc_id
  WHERE (NOT fy.is_delta) OR y.doc_id < x.doc_id
),
matches AS (
  SELECT c.a, min(c.b) AS dup_of
  FROM cand c JOIN shd d1 ON c.a = d1.doc_id JOIN shd d2 ON c.b = d2.doc_id
  WHERE round(len(list_intersect(d1.sh, d2.sh)) * 1.0 /
              (len(d1.sh) + len(d2.sh) - len(list_intersect(d1.sh, d2.sh))), 4)
        >= {threshold}
  GROUP BY c.a
)
SELECT f.doc_id, m.dup_of, m.dup_of IS NULL AS is_kept
FROM flags f LEFT JOIN matches m ON f.doc_id = m.a
WHERE f.is_delta
ORDER BY f.doc_id
"""


# ---------------------------------------------------------------------------
# SimHash (48-bit to stay clear of int64 sign games in both engines)
# ---------------------------------------------------------------------------

N_BITS = 48
_BAND_BITS = 12  # 4 bands


def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """48-bit simhash computed ROW-LOCALLY — no explode, no groupBy
    shuffle: fold the per-token md5 hashes into a 48-counter vector
    with one higher-order aggregate (duplicates count, matching the
    reference's token stream), then pack sign bits into the signature.
    The banding join downstream is the only shuffle in dedup_simhash."""
    # token hash array behind the usual repartition+checkpoint barrier
    # (CollapseProject would otherwise re-run md5 once per bit)
    hashed = (
        _token_arrays(load(spark, "documents", sf_dir))
        .filter(F.size("tok") > 0)
        .select("doc_id", F.transform("tok", lambda t: md5int(t)).alias("hh"))
        .localCheckpoint(eager=True)
    )
    # expressions below are built as SQL strings — the 48-term python
    # loops over Column ops cost ~1 s of driver-side py4j round-trips
    # per call (the linalg._qarr round-6 finding); parsed strings build
    # the identical resolved expressions in two py4j calls
    bit_vec = "array(" + ", ".join(
        f"cast((shiftright(h, {i}) & 1) * 2 - 1 as long)"
        for i in range(N_BITS)
    ) + ")"
    counters = F.expr(
        f"aggregate(hh, array_repeat(0L, {N_BITS}), "
        f"(acc, h) -> zip_with(acc, {bit_vec}, (a, b) -> a + b))"
    )
    # barrier before packing: the sign pack references the counter array
    # 48× — un-checkpointed, CollapseProject would re-run the whole fold
    # per reference
    cnt = hashed.select("doc_id", counters.alias("cnt")).localCheckpoint(
        eager=True
    )
    sim = " + ".join(
        f"(CASE WHEN element_at(cnt, {i + 1}) > 0 THEN {1 << i}L "
        "ELSE 0L END)"
        for i in range(N_BITS)
    )
    return cnt.selectExpr("doc_id", f"({sim}) AS simhash").orderBy("doc_id")


def simhash_signatures_sql() -> str:
    tok = TOKENS_SQL.format(c="text")
    h = MD5INT_SQL.format(c="t")
    sums = ", ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS s{i}"
        for i in range(N_BITS)
    )
    bits = " + ".join(
        f"CASE WHEN s{i} > 0 THEN {1 << i}::BIGINT ELSE 0 END" for i in range(N_BITS)
    )
    return f"""
WITH ex AS (
  SELECT doc_id, unnest({tok}) AS t FROM documents
),
hashed AS (SELECT doc_id, {h} AS h FROM ex),
agg AS (SELECT doc_id, {sums} FROM hashed GROUP BY doc_id)
SELECT doc_id, {bits} AS simhash FROM agg ORDER BY doc_id
"""


def dedup_simhash(
    spark: SparkSession, sf_dir: str, max_hamming: int = 3
) -> DataFrame:
    sig = simhash_signatures(spark, sf_dir)
    # exact-collapse on the FINGERPRINT (hamming is a pure function of
    # it): k docs with equal simhash — identical boilerplate collapses
    # here — would put k rows in all 4 band buckets and pair k² per
    # band; one representative per distinct fingerprint bands instead,
    # and equal-fingerprint pairs expand back at hamming 0 (equal keys
    # ⇒ always band-collided, 0 ≤ max_hamming always). Output-identical
    # to banding every doc; see dedup_minhash_lsh for the same guard
    # keyed on shingle arrays.
    grp = (
        sig.groupBy("simhash")
        .agg(
            F.min("doc_id").alias("rep"),
            F.collect_list("doc_id").alias("members"),
        )
        .localCheckpoint(eager=True)  # reused: banding + expansion
    )
    uniq = grp.select(F.col("rep").alias("doc_id"), "simhash")
    bands = uniq.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("band"),
                        F.shiftright("simhash", k * _BAND_BITS)
                        .bitwiseAND(F.lit((1 << _BAND_BITS) - 1))
                        .alias("key"),
                    )
                    for k in range(N_BITS // _BAND_BITS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", "bk.band", "bk.key")
    x = bands.select(F.col("doc_id").alias("a"), F.col("simhash").alias("ha"), "band", "key")
    y = bands.select(F.col("doc_id").alias("b"), F.col("simhash").alias("hb"), "band", "key")
    rep_pairs = (
        x.join(y, ["band", "key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "ha", "hb")
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )
    return _expand_group_pairs(
        rep_pairs, grp, value_col="hamming", identical_value=F.lit(0)
    ).orderBy("a", "b")


def dedup_simhash_sql(max_hamming: int = 3) -> str:
    base = simhash_signatures_sql().strip().rstrip()
    # reuse the signature query as a CTE
    inner = base[: base.rfind("ORDER BY")]
    bands = ", ".join(str(k) for k in range(N_BITS // _BAND_BITS))
    return f"""
WITH sigq AS ({inner}),
bands AS (
  SELECT doc_id, simhash, k AS band,
         (simhash >> (k * {_BAND_BITS})) & {(1 << _BAND_BITS) - 1} AS key
  FROM sigq, (SELECT unnest([{bands}]) AS k)
),
cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b, x.simhash AS ha, y.simhash AS hb
  FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key
                            AND x.doc_id < y.doc_id
)
SELECT a, b, bit_count(xor(ha, hb)) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= {max_hamming}
ORDER BY a, b
"""


# ---------------------------------------------------------------------------
# Embedding cosine near-dup
# ---------------------------------------------------------------------------


def dedup_embedding_cosine_brute(
    spark: SparkSession, sf_dir: str, threshold: float = 0.45
) -> DataFrame:
    """Exhaustive all-pairs cosine — TEST-SCALE GROUND TRUTH ONLY.

    The pair join is a BroadcastNestedLoopJoin (O(n²)); it exists solely
    so tests can measure the banded-LSH variant's recall exactly. The
    registered/scale query is :func:`dedup_embedding_cosine` below."""
    emb = load(spark, "embeddings", sf_dir)
    a = emb.select(F.col("vec_id").alias("a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("b"), F.col("embedding").alias("vb"))
    pairs = a.join(b, F.col("a") < F.col("b"))
    return (
        pairs.withColumn("cos", F.round(_cosine(F.col("va"), F.col("vb")), 4))
        .filter(F.col("cos") >= threshold)
        .select("a", "b", "cos")
        .orderBy("a", "b")
    )


# 16-bit hyperplane signature banded 4×4: candidates share at least one
# band — the same banding shape as MinHash/SimHash above. 4-bit bands
# are deliberately short so the synthetic testdata's weakly-similar
# pairs (cos ≈ 0.47 → per-plane agreement ≈ 0.66 → band-hit ≈ 0.56)
# still surface; a production corpus hunting cos ≥ 0.9 near-dups would
# widen the bands (2×8) for a far smaller candidate set.
_EMB_BANDS = 4
_EMB_BAND_BITS = 4


def dedup_embedding_cosine(
    spark: SparkSession, sf_dir: str, threshold: float = 0.45
) -> DataFrame:
    """Embedding near-dup pairs via banded hyperplane LSH + exact verify.

    Scale path: the only joins are equi-joins — signature banding turns
    the all-pairs problem into per-(band,key) bucket joins over a table
    that can be partitioned by band key at 10^10 vectors; exact cosine
    runs on candidates only. Recall < 1 by construction but fully
    deterministic (md5-derived planes), so the DuckDB oracle matches
    exactly; tests/test_simsearch_parity pins recall vs the brute
    ground truth."""
    from .simsearch import ann_lsh_bucketed

    emb = load(spark, "embeddings", sf_dir)
    # exact-collapse on the embedding vector (cosine is a pure function
    # of it): identical vectors share the full bucket signature, so k
    # copies would pair k² in every band — same boilerplate-skew guard
    # as dedup_minhash_lsh, keyed on the vector itself. Intra-group
    # pairs get the group's SELF-cosine (1.0 after round for any
    # non-zero vector; NaN for a zero vector, which the ≥ threshold
    # filter drops exactly as the uncollapsed pipeline drops it).
    grp = (
        emb.groupBy("embedding")
        .agg(
            F.min("vec_id").alias("rep"),
            F.collect_list("vec_id").alias("members"),
        )
        .localCheckpoint(eager=True)  # reused: band filter + expand
    )
    reps = grp.select(F.col("rep").alias("vec_id"))
    buckets = ann_lsh_bucketed(spark, sf_dir).join(reps, "vec_id")
    mask = (1 << _EMB_BAND_BITS) - 1
    bands = buckets.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("band"),
                        F.shiftright(F.col("bucket"), k * _EMB_BAND_BITS)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for k in range(_EMB_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("vec_id", "bk.band", "bk.key")
    cand = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.key") == F.col("y.key"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(F.col("x.vec_id").alias("a"), F.col("y.vec_id").alias("b"))
        .dropDuplicates(["a", "b"])
    )
    va = emb.select(F.col("vec_id").alias("a"), F.col("embedding").alias("va"))
    vb = emb.select(F.col("vec_id").alias("b"), F.col("embedding").alias("vb"))
    rep_pairs = (
        cand.join(va, "a")
        .join(vb, "b")
        .withColumn("cos", F.round(_cosine(F.col("va"), F.col("vb")), 4))
        .filter(F.col("cos") >= threshold)
        .select("a", "b", "cos")
    )
    self_cos = F.round(_cosine(F.col("embedding"), F.col("embedding")), 4)
    return (
        _expand_group_pairs(
            rep_pairs, grp, value_col="cos", identical_value=self_cos
        )
        .filter(F.col("cos") >= threshold)  # drops NaN zero-vector intra
        .orderBy("a", "b")
    )


def dedup_embedding_cosine_sql(threshold: float = 0.45) -> str:
    from .simsearch import ann_lsh_bucketed_sql

    base = ann_lsh_bucketed_sql().strip()
    inner = base[: base.rfind("ORDER BY")]
    ks = ", ".join(str(k) for k in range(_EMB_BANDS))
    mask = (1 << _EMB_BAND_BITS) - 1
    return f"""
WITH bucketq AS ({inner}),
bands AS (
  SELECT vec_id, k AS band,
         (bucket >> (k * {_EMB_BAND_BITS})) & {mask} AS key
  FROM bucketq, (SELECT unnest([{ks}]) AS k)
),
cand AS (
  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
  FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key
                            AND x.vec_id < y.vec_id
)
SELECT c.a, c.b,
       round(list_cosine_similarity(p.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) AS cos
FROM cand c JOIN embeddings p ON c.a = p.vec_id
            JOIN embeddings q ON c.b = q.vec_id
WHERE round(list_cosine_similarity(p.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) >= {threshold}
ORDER BY a, b
"""


# ---------------------------------------------------------------------------
# Train/test decontamination
# ---------------------------------------------------------------------------
# winnowing fingerprints (Schleimer, Wilkerson, Aiken 2003 — MOSS)
# ---------------------------------------------------------------------------

WIN_K = 5        # gram length (tokens) behind each hash
WIN_W = 4        # winnowing window: one fingerprint per w consecutive hashes
WIN_DF_CAP = 100  # posting-list cap, same rationale as JACCARD_DF_CAP
WIN_MIN_SHARED = 2  # candidate pair = docs sharing >= this many fingerprints


def winnowing_candidates(
    spark: SparkSession, sf_dir: str, k: int = WIN_K, w: int = WIN_W,
    df_cap: int = WIN_DF_CAP, min_shared: int = WIN_MIN_SHARED,
) -> DataFrame:
    """Winnowing-fingerprint near-dup candidates (Schleimer et al.
    2003, the MOSS algorithm): per document, hash every k-token gram,
    then keep the MINIMUM hash of each w-hash window — a locality-
    sensitive selection that guarantees any shared substring of
    >= w+k-1 tokens yields at least one shared fingerprint, while
    storing only ~2/(w+1) of the gram hashes. Candidate pairs are
    documents sharing >= min_shared distinct fingerprints. Complements
    MinHash (whole-doc resemblance) with guaranteed LOCAL-match
    detection at a fraction of ``exact_substring_trim``'s index size.

    Scale shape — the posting-list discipline of
    :func:`dedup_ngram_jaccard`: gram hashing and window minima are
    ROW-LOCAL higher-order exprs over a checkpoint-barriered hash
    array (each element is read w times — without the barrier
    CollapseProject re-inlines the md5 per read); ONE shuffle builds
    fingerprint -> sorted doc set (collect_set dedupes per-doc
    repeats), the df-cap is a free size() filter, and pair-gen is
    row-local from each posting array — bounded by df_cap²/2 per
    fingerprint, so boilerplate can never go quadratic."""
    d = _token_arrays(load(spark, "documents", sf_dir))
    hv = F.transform(shingles(F.col("tok"), k), lambda g: md5int(g) % MOD)
    hs = (
        # need at least one full window: len(hv) = len(tok)-k+1 >= w
        d.filter(F.size("tok") >= k + w - 1)
        .select("doc_id", hv.alias("hv"))
        .localCheckpoint(eager=True)
    )
    minima = F.transform(
        F.sequence(F.lit(1), F.size("hv") - (w - 1)),
        lambda j: F.array_min(F.slice("hv", j, w)),
    )
    posts = (
        hs.select("doc_id", F.explode(minima).alias("fp"))
        .groupBy("fp")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ds"))
        .filter((F.size("ds") >= 2) & (F.size("ds") <= df_cap))
    )
    pairs = posts.selectExpr(
        "inline(flatten(transform(ds, "
        "x -> transform(filter(ds, y -> y > x), y -> struct(x AS a, y AS b)))))"
    )
    return (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .orderBy("a", "b")
    )


def winnowing_candidates_sql(
    k: int = WIN_K, w: int = WIN_W, df_cap: int = WIN_DF_CAP,
    min_shared: int = WIN_MIN_SHARED,
) -> str:
    tok = TOKENS_SQL.format(c="text")
    grams = shingles_sql("tok", k)
    h = MD5INT_SQL.format(c="g")
    return f"""
WITH tokd AS (SELECT doc_id, {tok} AS tok FROM documents),
hs AS (
  SELECT doc_id, list_transform({grams}, g -> {h} % {MOD}) AS hv
  FROM tokd WHERE len(tok) >= {k + w - 1}
),
fps AS (
  SELECT DISTINCT doc_id, unnest(
    list_transform(range(1, len(hv) - {w} + 2),
                   j -> list_min(hv[j : j + {w - 1}]))) AS fp
  FROM hs
),
df AS (SELECT fp, count(*) AS c FROM fps GROUP BY fp),
ok AS (SELECT f.doc_id, f.fp FROM fps f JOIN df USING (fp)
       WHERE c BETWEEN 2 AND {df_cap})
SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS n_shared
FROM ok a JOIN ok b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= {min_shared}
ORDER BY a, b
"""


# ---------------------------------------------------------------------------

DECON_NGRAM = 8       # long shingles: benchmark-verbatim evidence, not topic
DECON_BENCH_DOCS = 20  # doc_id < this = the "held-out benchmark" set
DECON_FLAG_FRAC = 0.1


def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus documents that share long
    (8-token) n-grams with a held-out benchmark set — the standard
    guard against evaluation data leaking into a training corpus
    (verbatim-overlap decontamination as in GPT-3 appendix C / Gopher
    A2; the n is long enough that matches mean copied text, not shared
    topic).

    The benchmark here is the first DECON_BENCH_DOCS documents (a
    deterministic stand-in for an external eval set). Its distinct
    shingle set is tiny and broadcast — the corpus side streams through
    a broadcast semi-style join with NO shuffle of corpus shingles;
    per-doc overlap and size aggs are map-side combined. At 100 TB the
    benchmark side stays driver-small (real eval sets are a few MB), so
    the plan shape is scan → broadcast-hash-join → partial agg."""
    ex = _token_arrays(load(spark, "documents", sf_dir)).select(
        "doc_id", F.explode(shingles(F.col("tok"), n=DECON_NGRAM)).alias("s")
    ).distinct()
    bench_sh = (
        ex.filter(F.col("doc_id") < DECON_BENCH_DOCS).select("s").distinct()
    )
    corpus = ex.filter(F.col("doc_id") >= DECON_BENCH_DOCS)
    sizes = corpus.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    overlap = (
        corpus.join(F.broadcast(bench_sh), "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("overlap_cnt"))
    )
    frac = F.round(
        F.coalesce(F.col("overlap_cnt"), F.lit(0))
        / F.greatest(F.col("n_shingles"), F.lit(1)),
        6,
    )
    return (
        sizes.join(overlap, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce("overlap_cnt", F.lit(0)).alias("overlap_cnt"),
            frac.alias("overlap_frac"),
            (frac >= DECON_FLAG_FRAC).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


def decontaminate_sql() -> str:
    tok = TOKENS_SQL.format(c="text")
    sh = shingles_sql("tok", n=DECON_NGRAM)
    return f"""
WITH tokd AS (SELECT doc_id, {tok} AS tok FROM documents),
ex AS (
  SELECT DISTINCT doc_id, unnest(list_distinct({sh})) AS s
  FROM tokd WHERE len(tok) >= {DECON_NGRAM}
),
bench AS (SELECT DISTINCT s FROM ex WHERE doc_id < {DECON_BENCH_DOCS}),
corpus AS (SELECT doc_id, s FROM ex WHERE doc_id >= {DECON_BENCH_DOCS}),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM corpus GROUP BY doc_id),
ov AS (
  SELECT c.doc_id, count(*) AS overlap_cnt
  FROM corpus c JOIN bench USING (s) GROUP BY c.doc_id
)
SELECT sizes.doc_id, sizes.n_shingles,
       coalesce(ov.overlap_cnt, 0) AS overlap_cnt,
       round(coalesce(ov.overlap_cnt, 0) * 1.0 /
             greatest(sizes.n_shingles, 1), 6) AS overlap_frac,
       round(coalesce(ov.overlap_cnt, 0) * 1.0 /
             greatest(sizes.n_shingles, 1), 6) >= {DECON_FLAG_FRAC}
         AS contaminated
FROM sizes LEFT JOIN ov ON sizes.doc_id = ov.doc_id
ORDER BY sizes.doc_id
"""
