"""Sparse retrieval over the crawled corpus — BM25 ranking.

The search-serving counterpart of :func:`~.textstats.inverted_index`,
and the tool a training-data pipeline reaches for when it needs
retrieval-based decontamination or retrieval-mined hard negatives:
score documents against a query with Okapi BM25 (Robertson &
Spärck Jones; the Lucene `(N - df + 0.5)/(df + 0.5) + 1` idf variant
so idf is never negative) and keep the top-k per query.

Plan shape (one corpus-scale shuffle, two bounded windows):

* tokenize + explode → per-(doc, term) tf aggregate — the SAME
  map-side-combined collapse the index build uses; doc lengths and
  per-term df both derive from it (no second pass over text);
* the query set is a literal broadcast dimension (queries × terms
  rows), so scoring is a broadcast equi-join on term — candidates per
  query are exactly the union of its terms' postings, never the
  corpus;
* top-k is TWO-PHASE: rank within (query, salt=doc_id % BM25_SALTS)
  buckets first (parallel, each bucket sees ~1/SALTS of the
  candidates), keep ≤ k per bucket, then a final rank over the
  ≤ queries × SALTS × k survivors — no single-reducer sort over a
  query's full posting union at 10^10 docs.

Cross-engine determinism: each (query, doc, term) BM25 contribution is
floored onto a BM25_SCALE fixed-point grid BEFORE the per-doc sum, so
ranking compares integer sums (order-independent across partitionings,
identical in DuckDB). `ln` is the one transcendental — same
`lm_perplexity_buckets` log2 risk class: a libm ulp difference can only
flip a floor within ~1e-12 of a grid point, and idf inputs are small
integer ratios. Ties break on doc_id in both phases and both engines.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import TOKENS_SQL, tokens
from ..parallel import run_parallel
from ..sources.tables import load

# Okapi BM25 constants (the values every major engine defaults to)
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 10
BM25_SALTS = 32          # phase-1 parallelism of the top-k
BM25_SCALE = 1_000_000   # fixed-point grid for per-term contributions

# literal query workload (terms drawn from the synthetic corpus
# vocabulary; a production run would read these from a queries table —
# the plan is identical, the dimension just stops being a literal)
BM25_QUERIES: dict[int, list[str]] = {
    0: ["hash", "join"],
    1: ["window", "sort"],
    2: ["fast", "scan", "filter"],
    3: ["customer", "order"],
    4: ["stream", "batch", "spark"],
}


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k documents per query under BM25 (see module docstring for
    the plan-shape and determinism arguments)."""
    docs = load(spark, "documents", sf_dir)
    ex = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    # checkpointed (round 6): the tf collapse feeds the stats collect,
    # df_t, dl AND the scoring join — uncheckpointed, the final job
    # re-ran the tokenize→tf chain once per subtree
    per_doc = ex.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    ).localCheckpoint(eager=True)
    dl = per_doc.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    df_t = per_doc.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    # two scalar corpus constants (documented driver-constant pattern —
    # same class as lm_perplexity's total/vocab)
    tot = dl.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("sum_dl")
    ).collect()[0]
    n_docs = int(tot["n"])
    avgdl = float(tot["sum_dl"]) / float(n_docs)

    q = spark.createDataFrame(
        [(qid, t) for qid, ts in BM25_QUERIES.items() for t in ts],
        "query_id int, term string",
    )
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    tfn = (F.col("tf") * F.lit(BM25_K1 + 1.0)) / (
        F.col("tf")
        + F.lit(BM25_K1)
        * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("dl") / F.lit(avgdl))
    )
    contrib = (
        per_doc.join(F.broadcast(q), "term")
        .join(df_t, "term")
        .join(dl, "doc_id")
        .select(
            "query_id",
            "doc_id",
            F.floor(idf * tfn * BM25_SCALE).cast("long").alias("ic"),
        )
    )
    scored = contrib.groupBy("query_id", "doc_id").agg(
        F.sum("ic").alias("iscore")
    )

    # two-phase top-k: salted local rank, then global rank over survivors
    w1 = Window.partitionBy("query_id", "salt").orderBy(
        F.col("iscore").desc(), F.col("doc_id")
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("iscore").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("salt", F.pmod(F.col("doc_id"), F.lit(BM25_SALTS)))
        .withColumn("lr", F.row_number().over(w1))
        .filter(F.col("lr") <= BM25_TOPK)
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= BM25_TOPK)
        .select(
            "query_id",
            "rank",
            "doc_id",
            "iscore",
            # same-int ÷ same-constant is the same double in both engines
            (F.col("iscore") / F.lit(float(BM25_SCALE))).alias("score"),
        )
        .orderBy("query_id", "rank")
    )


def bm25_topk_sql() -> str:
    tok = TOKENS_SQL.format(c="text")
    qvals = ", ".join(
        f"({qid}, '{t}')" for qid, ts in BM25_QUERIES.items() for t in ts
    )
    return f"""
WITH ex AS MATERIALIZED (
  SELECT doc_id, unnest({tok}) AS term FROM documents
),
per_doc AS (SELECT doc_id, term, count(*) AS tf FROM ex GROUP BY doc_id, term),
dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM per_doc GROUP BY doc_id),
df_t AS (SELECT term, count(*) AS df FROM per_doc GROUP BY term),
tot AS (SELECT count(*) AS n, sum(dl)::DOUBLE / count(*) AS avgdl FROM dl),
q(query_id, term) AS (VALUES {qvals}),
contrib AS (
  SELECT q.query_id, p.doc_id,
         floor(
           ln((tot.n::DOUBLE - df_t.df + 0.5) / (df_t.df + 0.5) + 1.0)
           * ((p.tf * {BM25_K1 + 1.0})
              / (p.tf + {BM25_K1} * ({1.0 - BM25_B} + {BM25_B} * dl.dl / tot.avgdl)))
           * {BM25_SCALE}
         )::BIGINT AS ic
  FROM per_doc p
  JOIN q USING (term)
  JOIN df_t USING (term)
  JOIN dl ON dl.doc_id = p.doc_id
  CROSS JOIN tot
),
scored AS (
  SELECT query_id, doc_id, sum(ic)::BIGINT AS iscore
  FROM contrib GROUP BY query_id, doc_id
),
phase1 AS (
  SELECT query_id, doc_id, iscore,
         row_number() OVER (
           PARTITION BY query_id, doc_id % {BM25_SALTS}
           ORDER BY iscore DESC, doc_id) AS lr
  FROM scored
),
phase2 AS (
  SELECT query_id, doc_id, iscore,
         row_number() OVER (
           PARTITION BY query_id ORDER BY iscore DESC, doc_id) AS rank
  FROM phase1 WHERE lr <= {BM25_TOPK}
)
SELECT query_id, rank, doc_id, iscore, iscore / {BM25_SCALE}.0 AS score
FROM phase2 WHERE rank <= {BM25_TOPK}
ORDER BY query_id, rank
"""


# ---------------------------------------------------------------------------
# retrieval-based (fuzzy) decontamination
# ---------------------------------------------------------------------------

DECON_BM25_TERMS = 8       # top-idf query terms per benchmark doc
DECON_BM25_MIN_I = 5 * BM25_SCALE  # flag threshold on the integer score


def decontaminate_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-based decontamination — the fuzzy complement of
    dedup.decontaminate's exact 8-gram guard: score every training
    document against every benchmark document with BM25 and flag high
    scorers. Catches paraphrased/reformatted benchmark leakage that
    verbatim n-gram overlap misses (the two-detector combination is
    the standard published practice: verbatim n-grams + a
    similarity/retrieval pass).

    Benchmark = the first DECON_BENCH_DOCS documents (the same
    deterministic stand-in decontaminate uses); each benchmark doc
    becomes a query of its DECON_BM25_TERMS most distinctive terms
    (lowest training-side df — query generation from the eval sample;
    terms absent from the training corpus can never match and are
    dropped before the cap, identically in both engines).

    Plan shape: the bm25_topk tf/df/dl statistics computed over the
    TRAINING side only; the capped query set is benchmark-sized and
    broadcast (a real eval suite is a few MB — driver-small at any
    corpus scale), so candidate pairs stream through one broadcast
    equi-join on term; per-(doc, bench) scores are integer sums on the
    BM25_SCALE grid; the best-benchmark pick is a per-doc window over
    ≤ DECON_BENCH_DOCS rows. Every training doc keeps a row
    (iscore 0, bench_id null when no query term matches)."""
    docs = load(spark, "documents", sf_dir)
    from .dedup import DECON_BENCH_DOCS

    ex = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )
    # checkpointed (round 6, bm25_topk discipline): feeds the stats
    # collect, the query-generation window AND the scoring join
    per_doc = ex.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    ).localCheckpoint(eager=True)
    train = per_doc.filter(F.col("doc_id") >= DECON_BENCH_DOCS)
    dl = train.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    df_t = train.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    tot = dl.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("sum_dl")
    ).collect()[0]
    n_docs = int(tot["n"])
    avgdl = float(tot["sum_dl"]) / float(n_docs)

    from pyspark.sql import Window

    wq = Window.partitionBy("bench_id").orderBy("df", "term")
    q = (
        per_doc.filter(F.col("doc_id") < DECON_BENCH_DOCS)
        .select(F.col("doc_id").alias("bench_id"), "term")
        .join(df_t, "term")
        .withColumn("qr", F.row_number().over(wq))
        .filter(F.col("qr") <= DECON_BM25_TERMS)
        .select("bench_id", "term")
    )
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    tfn = (F.col("tf") * F.lit(BM25_K1 + 1.0)) / (
        F.col("tf")
        + F.lit(BM25_K1)
        * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("dl") / F.lit(avgdl))
    )
    pair = (
        train.join(F.broadcast(q), "term")
        .join(df_t, "term")
        .join(dl, "doc_id")
        .select(
            "doc_id",
            "bench_id",
            F.floor(idf * tfn * BM25_SCALE).cast("long").alias("ic"),
        )
        .groupBy("doc_id", "bench_id")
        .agg(F.sum("ic").alias("iscore"))
    )
    wb = Window.partitionBy("doc_id").orderBy(
        F.col("iscore").desc(), F.col("bench_id")
    )
    best = (
        pair.withColumn("br", F.row_number().over(wb))
        .filter(F.col("br") == 1)
        .select("doc_id", "bench_id", "iscore")
    )
    return (
        docs.select("doc_id")
        .filter(F.col("doc_id") >= DECON_BENCH_DOCS)
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            "bench_id",
            F.coalesce("iscore", F.lit(0)).alias("iscore"),
            (
                F.coalesce("iscore", F.lit(0)) / F.lit(float(BM25_SCALE))
            ).alias("score"),
            (F.coalesce("iscore", F.lit(0)) >= DECON_BM25_MIN_I).alias(
                "contaminated"
            ),
        )
        .orderBy("doc_id")
    )


def decontaminate_bm25_sql() -> str:
    from .dedup import DECON_BENCH_DOCS

    tok = TOKENS_SQL.format(c="text")
    return f"""
WITH ex AS MATERIALIZED (
  SELECT doc_id, unnest({tok}) AS term FROM documents
),
per_doc AS (SELECT doc_id, term, count(*) AS tf FROM ex GROUP BY doc_id, term),
train AS (SELECT * FROM per_doc WHERE doc_id >= {DECON_BENCH_DOCS}),
dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM train GROUP BY doc_id),
df_t AS (SELECT term, count(*) AS df FROM train GROUP BY term),
tot AS (SELECT count(*) AS n, sum(dl)::DOUBLE / count(*) AS avgdl FROM dl),
q AS (
  SELECT bench_id, term FROM (
    SELECT p.doc_id AS bench_id, p.term,
           row_number() OVER (
             PARTITION BY p.doc_id ORDER BY d.df, p.term) AS qr
    FROM per_doc p JOIN df_t d USING (term)
    WHERE p.doc_id < {DECON_BENCH_DOCS})
  WHERE qr <= {DECON_BM25_TERMS}),
pair AS (
  SELECT t.doc_id, q.bench_id,
         sum(floor(
           ln((tot.n::DOUBLE - df_t.df + 0.5) / (df_t.df + 0.5) + 1.0)
           * ((t.tf * {BM25_K1 + 1.0})
              / (t.tf + {BM25_K1} * ({1.0 - BM25_B} + {BM25_B} * dl.dl / tot.avgdl)))
           * {BM25_SCALE}
         )::BIGINT)::BIGINT AS iscore
  FROM train t
  JOIN q USING (term)
  JOIN df_t USING (term)
  JOIN dl ON dl.doc_id = t.doc_id
  CROSS JOIN tot
  GROUP BY t.doc_id, q.bench_id),
best AS (
  SELECT doc_id, bench_id, iscore FROM (
    SELECT doc_id, bench_id, iscore,
           row_number() OVER (
             PARTITION BY doc_id ORDER BY iscore DESC, bench_id) AS br
    FROM pair)
  WHERE br = 1)
SELECT d.doc_id, b.bench_id,
       coalesce(b.iscore, 0) AS iscore,
       coalesce(b.iscore, 0) / {BM25_SCALE}.0 AS score,
       coalesce(b.iscore, 0) >= {DECON_BM25_MIN_I} AS contaminated
FROM documents d LEFT JOIN best b USING (doc_id)
WHERE d.doc_id >= {DECON_BENCH_DOCS}
ORDER BY d.doc_id
"""


# ---------------------------------------------------------------------------
# exact phrase search over a positional index
# ---------------------------------------------------------------------------

# literal phrase workload (word sequences that occur in the synthetic
# corpus; a production run reads phrases from a queries table — the
# plan is identical, the dimension stops being a literal)
PHRASE_QUERIES: dict[int, str] = {
    0: "order fast",
    1: "window join",
    2: "big order scan",
    3: "group slow spark",
    4: "stream column",
}


def phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase matching over a POSITIONAL posting list — the
    index-time capability BM25's bag-of-words scoring cannot express
    (reference counterpart: the links-table substring search,
    seo-crawler web/static/js/app.js search box, which scans text; a
    100 TB engine answers phrases from the index instead).

    Plan shape — ONE corpus-scale shuffle, no per-term join chain:
      1. postings (doc_id, pos, term) are ROW-LOCAL (posexplode of the
         token array);
      2. the phrase set unrolls to a literal (query_id, term, off,
         plen) dimension — broadcast, so the only equi-join tags each
         posting with the phrases that could use it and the candidate
         START position (pos - off). Postings for terms in no phrase
         are dropped by the join (at the scan end after pushdown of
         the broadcast hash table — never shuffled);
      3. a phrase matches at a start iff ALL plen offsets are present:
         one map-side-combined agg on (query_id, doc_id, start)
         counting distinct off (bounded by plen, so partial-agg state
         per key is tiny), then a per-(query, doc) rollup.
    The naive alternative — a (plen-1)-deep self-join of the posting
    list on (doc_id, pos+1) — shuffles the postings once PER TERM;
    this shape pays one broadcast probe + one agg regardless of
    phrase length.

    Integer-exact (positions and counts), so the DuckDB twin is
    bit-identical."""
    docs = load(spark, "documents", sf_dir)
    postings = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "term")
    )
    dim_rows = [
        (qid, t, off, len(phrase.split()))
        for qid, phrase in PHRASE_QUERIES.items()
        for off, t in enumerate(phrase.split())
    ]
    dim = spark.createDataFrame(
        dim_rows, "query_id int, term string, off int, plen int"
    )
    starts = (
        postings.join(F.broadcast(dim), "term")
        .groupBy("query_id", "doc_id", (F.col("pos") - F.col("off")).alias("start"))
        .agg(
            F.count_distinct("off").alias("hit"),
            F.first("plen").alias("plen"),
        )
        .filter((F.col("hit") == F.col("plen")) & (F.col("start") >= 0))
    )
    return (
        starts.groupBy("query_id", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.min("start").alias("first_pos"),
        )
        .orderBy("query_id", "doc_id")
    )


def phrase_search_sql() -> str:
    tok = TOKENS_SQL.format(c="text")
    dim_vals = ", ".join(
        f"({qid}, '{t}', {off}, {len(phrase.split())})"
        for qid, phrase in PHRASE_QUERIES.items()
        for off, t in enumerate(phrase.split())
    )
    return f"""
WITH tokd AS (SELECT doc_id, {tok} AS tok FROM documents),
postings AS (
  SELECT doc_id, generate_subscripts(tok, 1) - 1 AS pos, unnest(tok) AS term
  FROM tokd
),
dim(query_id, term, off, plen) AS (VALUES {dim_vals}),
starts AS (
  SELECT d.query_id, p.doc_id, p.pos - d.off AS start,
         count(DISTINCT d.off) AS hit, first(d.plen) AS plen
  FROM postings p JOIN dim d USING (term)
  GROUP BY d.query_id, p.doc_id, p.pos - d.off
)
SELECT query_id, doc_id,
       count(*) AS n_matches, min(start) AS first_pos
FROM starts WHERE hit = plen AND start >= 0
GROUP BY query_id, doc_id
ORDER BY query_id, doc_id
"""


# ---------------------------------------------------------------------------
# BM25F — multi-field ranking (body + inbound anchor text)
# ---------------------------------------------------------------------------

# field weights / length normalizations (Robertson, Zaragoza & Taylor
# 2004, "Simple BM25 extension to multiple weighted fields"; anchor
# boost + lighter anchor length-normalization is standard web-search
# practice)
BM25F_WB = 1.0    # body weight
BM25F_WA = 2.5    # anchor weight
BM25F_BB = 0.75   # body length-normalization b
BM25F_BA = 0.50   # anchor length-normalization b

# queries mixing body-vocabulary terms with anchor-vocabulary terms so
# the anchor field demonstrably moves rankings (anchors are the
# synthesized per-edge texts of graph.anchor_text_agg)
BM25F_QUERIES: dict[int, list[str]] = {
    0: ["order", "details"],
    1: ["next", "page"],
    2: ["home", "scan"],
    3: ["click", "here", "filter"],
    4: ["read", "more", "spark"],
}


def _bm25f_tables(spark: SparkSession, sf_dir: str) -> dict:
    """Per-field tf tables + corpus stats, built ONCE (each field's tf
    collapse checkpointed) and shared by :func:`bm25f_topk`,
    :func:`search_serve` and :func:`ndcg_eval`.

    Round-6 restructure (guide §1.2/§2.4 — don't recompute what you
    already have): the old shape re-derived the tokenize→tf chain for
    each of the two average-length collects AND again inside the final
    scoring job, and the composing queries (search_serve, ndcg_eval)
    nested the whole chain one more time on top of their own duplicate
    tokenize/edge passes. Now each field's corpus pass runs exactly
    once per query call; the two scalar averages come from ONE driver
    job (a cross-join of the two 1-row aggregates — identical integer
    sums, identical divisions, so all scores are unchanged)."""
    from .graph import _ANCHOR_VOCAB, _edges

    docs = load(spark, "documents", sf_dir)
    n_docs = docs.count()

    # body postings + lengths
    ex_b = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))

    # anchor postings + lengths (in-edge anchors, tokenized)
    v = len(_ANCHOR_VOCAB)
    e = _edges(docs.select("doc_id"), n_docs)
    anchor = F.element_at(
        F.array(*[F.lit(a) for a in _ANCHOR_VOCAB]),
        (F.pmod(F.col("src") + F.col("dst"), F.lit(v)) + 1).cast("int"),
    )
    ex_a = e.select(
        F.col("dst").alias("doc_id"),
        F.explode(F.split(anchor, " ")).alias("term"),
    )

    # the two field collapses are independent corpus passes — overlap
    # their eager checkpoints from two driver threads (guide §2.6);
    # identical tf tables
    tf_b, tf_a = run_parallel(
        lambda: ex_b.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tfb"))
        .localCheckpoint(eager=True),
        lambda: ex_a.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tfa"))
        .localCheckpoint(eager=True),
    )
    dl_b = tf_b.groupBy("doc_id").agg(F.sum("tfb").alias("dlb"))
    dl_a = tf_a.groupBy("doc_id").agg(F.sum("tfa").alias("dla"))

    # the two corpus averages in ONE driver job (1-row × 1-row cross)
    sums = (
        dl_b.agg(F.sum("dlb").alias("sb"))
        .crossJoin(dl_a.agg(F.sum("dla").alias("sa")))
        .collect()[0]
    )
    return {
        "docs": docs,
        "n_docs": n_docs,
        "tf_b": tf_b,
        "tf_a": tf_a,
        "dl_b": dl_b,
        "dl_a": dl_a,
        "avgb": (sums["sb"] or 0) / n_docs,
        "avga": (sums["sa"] or 0) / n_docs,
    }


def bm25f_topk(
    spark: SparkSession, sf_dir: str, _tables: dict | None = None
) -> DataFrame:
    """Top-k documents per query under BM25F over TWO fields: the page
    body and the page's INBOUND ANCHOR TEXT (how the rest of the web
    describes it — the signal classic web search weighs above body
    text; the anchor field reuses anchor_text_agg's deterministic
    per-edge anchors so the DuckDB twin builds the identical corpus).

    Per-field weighted tf  wtf = Σ_f w_f · tf_f / B_f  with
    B_f = (1−b_f) + b_f·len_f/avglen_f, saturated once across fields:
    score = Σ_terms idf · wtf/(k1 + wtf) — term-frequency saturation is
    shared across fields, the property that distinguishes BM25F from
    naively summing per-field BM25s. df counts presence in EITHER
    field.

    Plan shape mirrors bm25_topk (one corpus-scale tf collapse per
    field — checkpointed once via :func:`_bm25f_tables`, shared with
    the composing serving/eval queries — broadcast literal query dim,
    two-phase salted top-k). Contributions are floored onto the
    BM25_SCALE integer grid before the per-doc sum (the bm25_topk
    determinism argument, same ln risk class)."""
    t = _tables or _bm25f_tables(spark, sf_dir)
    n_docs = t["n_docs"]
    tf_b, tf_a = t["tf_b"], t["tf_a"]
    dl_b, dl_a = t["dl_b"], t["dl_a"]
    avgb, avga = t["avgb"], t["avga"]

    # cross-field document frequency
    pres = (
        tf_b.select("doc_id", "term")
        .unionByName(tf_a.select("doc_id", "term"))
        .distinct()
    )
    df_t = pres.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    q = spark.createDataFrame(
        [(qid, t) for qid, ts in BM25F_QUERIES.items() for t in ts],
        "query_id int, term string",
    )
    # per-(doc, term) weighted tf across fields — full outer on the two
    # posting sets so anchor-only terms (body tf 0) still score
    joined = (
        tf_b.join(tf_a, ["doc_id", "term"], "full_outer")
        .join(F.broadcast(q), "term")
        .join(dl_b, "doc_id", "left")
        .join(dl_a, "doc_id", "left")
        .join(df_t, "term")
    )
    bb = F.lit(1.0 - BM25F_BB) + F.lit(BM25F_BB) * (
        F.coalesce("dlb", F.lit(0)) / F.lit(avgb)
    )
    ba = F.lit(1.0 - BM25F_BA) + F.lit(BM25F_BA) * (
        F.coalesce("dla", F.lit(0)) / F.lit(max(avga, 1e-9))
    )
    wtf = (
        F.lit(BM25F_WB) * F.coalesce("tfb", F.lit(0)) / bb
        + F.lit(BM25F_WA) * F.coalesce("tfa", F.lit(0)) / ba
    )
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    contrib = joined.select(
        "query_id",
        "doc_id",
        F.floor(idf * wtf / (F.lit(BM25_K1) + wtf) * BM25_SCALE)
        .cast("long")
        .alias("ic"),
    )
    scored = contrib.groupBy("query_id", "doc_id").agg(
        F.sum("ic").alias("iscore")
    )
    w1 = Window.partitionBy("query_id", "salt").orderBy(
        F.col("iscore").desc(), F.col("doc_id")
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("iscore").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("salt", F.pmod(F.col("doc_id"), F.lit(BM25_SALTS)))
        .withColumn("lr", F.row_number().over(w1))
        .filter(F.col("lr") <= BM25_TOPK)
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= BM25_TOPK)
        .select(
            "query_id",
            "rank",
            "doc_id",
            "iscore",
            (F.col("iscore") / F.lit(float(BM25_SCALE))).alias("score"),
        )
        .orderBy("query_id", "rank")
    )


def bm25f_topk_sql() -> str:
    from .graph import _ANCHOR_VOCAB, _EDGES_SQL

    tok = TOKENS_SQL.format(c="text")
    v = len(_ANCHOR_VOCAB)
    vocab = ", ".join(f"'{a}'" for a in _ANCHOR_VOCAB)
    qvals = ", ".join(
        f"({qid}, '{t}')" for qid, ts in BM25F_QUERIES.items() for t in ts
    )
    return f"""
WITH n AS (SELECT count(*) AS c FROM documents),
exb AS MATERIALIZED (
  SELECT doc_id, unnest({tok}) AS term FROM documents
),
tfb AS (SELECT doc_id, term, count(*) AS tfb FROM exb GROUP BY doc_id, term),
dlb AS (SELECT doc_id, sum(tfb)::BIGINT AS dlb FROM tfb GROUP BY doc_id),
e0 AS ({_EDGES_SQL}),
e AS (SELECT * FROM e0 WHERE src <> dst),
exa AS MATERIALIZED (
  SELECT dst AS doc_id,
         unnest(string_split(([{vocab}])[((src + dst) % {v}) + 1], ' ')) AS term
  FROM e
),
tfa AS (SELECT doc_id, term, count(*) AS tfa FROM exa GROUP BY doc_id, term),
dla AS (SELECT doc_id, sum(tfa)::BIGINT AS dla FROM tfa GROUP BY doc_id),
pres AS (SELECT DISTINCT doc_id, term FROM (
  SELECT doc_id, term FROM tfb UNION ALL SELECT doc_id, term FROM tfa)),
df_t AS (SELECT term, count(*) AS df FROM pres GROUP BY term),
avgs AS (
  SELECT (SELECT coalesce(sum(dlb), 0) FROM dlb)::DOUBLE / (SELECT c FROM n) AS avgb,
         greatest((SELECT coalesce(sum(dla), 0) FROM dla)::DOUBLE / (SELECT c FROM n), 1e-9) AS avga
),
q(query_id, term) AS (VALUES {qvals}),
joined AS (
  SELECT q.query_id, coalesce(b.doc_id, a.doc_id) AS doc_id,
         coalesce(b.term, a.term) AS term,
         coalesce(b.tfb, 0) AS tfb, coalesce(a.tfa, 0) AS tfa
  FROM tfb b FULL OUTER JOIN tfa a USING (doc_id, term)
  JOIN q ON q.term = coalesce(b.term, a.term)
),
contrib AS (
  SELECT j.query_id, j.doc_id,
         floor(
           ln(((SELECT c FROM n)::DOUBLE - df_t.df + 0.5) / (df_t.df + 0.5) + 1.0)
           * (({BM25F_WB} * j.tfb / ({1.0 - BM25F_BB} + {BM25F_BB} * coalesce(dlb.dlb, 0) / avgs.avgb)
               + {BM25F_WA} * j.tfa / ({1.0 - BM25F_BA} + {BM25F_BA} * coalesce(dla.dla, 0) / avgs.avga))
              / ({BM25_K1} + ({BM25F_WB} * j.tfb / ({1.0 - BM25F_BB} + {BM25F_BB} * coalesce(dlb.dlb, 0) / avgs.avgb)
                 + {BM25F_WA} * j.tfa / ({1.0 - BM25F_BA} + {BM25F_BA} * coalesce(dla.dla, 0) / avgs.avga))))
           * {BM25_SCALE}
         )::BIGINT AS ic
  FROM joined j
  JOIN df_t ON j.term = df_t.term
  LEFT JOIN dlb ON j.doc_id = dlb.doc_id
  LEFT JOIN dla ON j.doc_id = dla.doc_id
  CROSS JOIN avgs
),
scored AS (
  SELECT query_id, doc_id, sum(ic)::BIGINT AS iscore
  FROM contrib GROUP BY query_id, doc_id
),
phase1 AS (
  SELECT query_id, doc_id, iscore,
         row_number() OVER (
           PARTITION BY query_id, doc_id % {BM25_SALTS}
           ORDER BY iscore DESC, doc_id) AS lr
  FROM scored
),
phase2 AS (
  SELECT query_id, doc_id, iscore,
         row_number() OVER (
           PARTITION BY query_id ORDER BY iscore DESC, doc_id) AS rank
  FROM phase1 WHERE lr <= {BM25_TOPK}
)
SELECT query_id, rank, doc_id, iscore, iscore / {BM25_SCALE}.0 AS score
FROM phase2 WHERE rank <= {BM25_TOPK}
ORDER BY query_id, rank
"""


# ---------------------------------------------------------------------------
# snippet (KWIC) extraction for phrase matches
# ---------------------------------------------------------------------------

SNIP_CTX = 3  # context tokens on each side of the matched phrase


def snippet_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-in-context snippets for every phrase match — the search
    SERVING step after ranking (reference counterpart: the links-table
    search box highlights its substring match; an index-backed engine
    renders the hit window instead of re-scanning the page). REUSES the
    registered phrase_search operator for the match set (same single
    posting shuffle), then one doc_id equi-join back to the token
    arrays and a ROW-LOCAL slice — the snippet never exists as a
    corpus-wide intermediate, only for matching (query, doc) pairs.

    Window arithmetic is 1-based-slice in both engines with identical
    clamping at the document edges (Spark `slice` and DuckDB
    `arr[a:b]` both truncate at the array end; the left edge is
    greatest(1, ·) explicitly)."""
    matches = phrase_search(spark, sf_dir)
    plen_by_q = spark.createDataFrame(
        [(qid, len(p.split())) for qid, p in PHRASE_QUERIES.items()],
        "query_id int, plen int",
    )
    docs = load(spark, "documents", sf_dir)
    toks = docs.select("doc_id", tokens(F.col("text")).alias("tok"))
    s1 = F.greatest(F.lit(1), F.col("first_pos") + 1 - SNIP_CTX)
    ln = (F.col("first_pos") + 1 + F.col("plen") + SNIP_CTX) - s1
    return (
        matches.join(F.broadcast(plen_by_q), "query_id")
        .join(toks, "doc_id")
        .select(
            "query_id",
            "doc_id",
            "n_matches",
            "first_pos",
            F.concat_ws(" ", F.slice("tok", s1, ln)).alias("snippet"),
        )
        .orderBy("query_id", "doc_id")
    )


def snippet_extraction_sql() -> str:
    tok = TOKENS_SQL.format(c="text")
    inner = phrase_search_sql().strip().rstrip()
    return f"""
WITH m AS MATERIALIZED ({inner}),
pl(query_id, plen) AS (VALUES {', '.join(
        f"({qid}, {len(p.split())})" for qid, p in PHRASE_QUERIES.items()
    )}),
tk AS (SELECT doc_id, {tok} AS tok FROM documents)
SELECT m.query_id, m.doc_id, m.n_matches, m.first_pos,
       array_to_string(
         tk.tok[greatest(1, m.first_pos + 1 - {SNIP_CTX}) :
                m.first_pos + pl.plen + {SNIP_CTX}],
         ' ') AS snippet
FROM m JOIN pl USING (query_id) JOIN tk USING (doc_id)
ORDER BY m.query_id, m.doc_id
"""


# ---------------------------------------------------------------------------
# end-to-end search serving: BM25F top-k + hit snippets
# ---------------------------------------------------------------------------

SERVE_K = 3  # results per query


def search_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete serving path for one query batch: BM25F ranking
    (body + anchor fields) → top SERVE_K per query → keyword-in-context
    snippet at the document's FIRST body hit of any query term —
    falling back to the document lead when the match is anchor-only
    (the hit is in how others link to the page, not its body: exactly
    when real engines show the lead). Composes the registered bm25f
    ranking with the snippet windowing discipline — index-backed
    serving end to end, no page re-scan.

    Extra cost beyond bm25f_topk: one postings pass FILTERED to query
    terms (broadcast probe — never shuffled corpus-wide), one min-pos
    agg over hits of the k·|queries| result docs, one token-array join
    + row-local slice. The per-field tf tables are built once via
    :func:`_bm25f_tables` and shared with the nested ranking (round-6:
    the nested chain used to re-run every corpus pass)."""
    ranked = bm25f_topk(
        spark, sf_dir, _tables=_bm25f_tables(spark, sf_dir)
    ).filter(F.col("rank") <= SERVE_K)
    docs = load(spark, "documents", sf_dir)
    toks = docs.select("doc_id", tokens(F.col("text")).alias("tok"))
    q = spark.createDataFrame(
        [(qid, t) for qid, ts in BM25F_QUERIES.items() for t in ts],
        "query_id int, term string",
    )
    postings = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "term")
    )
    first_hit = (
        postings.join(F.broadcast(q), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.min("pos").alias("fp"))
    )
    s1 = F.greatest(F.lit(1), F.col("fp") + 1 - SNIP_CTX)
    ln = (F.col("fp") + 1 + 1 + SNIP_CTX) - s1
    return (
        ranked.join(first_hit, ["query_id", "doc_id"], "left")
        .join(toks, "doc_id")
        .select(
            "query_id",
            "rank",
            "doc_id",
            "iscore",
            F.when(
                F.col("fp").isNotNull(),
                F.concat_ws(" ", F.slice("tok", s1, ln)),
            )
            .otherwise(
                F.concat_ws(" ", F.slice("tok", F.lit(1), F.lit(2 * SNIP_CTX + 1)))
            )
            .alias("snippet"),
            F.col("fp").isNull().alias("anchor_only"),
        )
        .orderBy("query_id", "rank")
    )


def search_serve_sql() -> str:
    tok = TOKENS_SQL.format(c="text")
    inner = bm25f_topk_sql().strip()
    qvals = ", ".join(
        f"({qid}, '{t}')" for qid, ts in BM25F_QUERIES.items() for t in ts
    )
    c = SNIP_CTX
    return f"""
WITH ranked AS MATERIALIZED (
  SELECT * FROM ({inner}) WHERE rank <= {SERVE_K}
),
tk AS (SELECT doc_id, {tok} AS tok FROM documents),
p AS (
  SELECT doc_id, generate_subscripts(tok, 1) - 1 AS pos, unnest(tok) AS term
  FROM tk
),
q(query_id, term) AS (VALUES {qvals}),
fh AS (
  SELECT q.query_id, p.doc_id, min(p.pos) AS fp
  FROM p JOIN q USING (term) GROUP BY q.query_id, p.doc_id
)
SELECT r.query_id, r.rank, r.doc_id, r.iscore,
       CASE WHEN fh.fp IS NOT NULL THEN
         array_to_string(tk.tok[greatest(1, fh.fp + 1 - {c}) : fh.fp + 1 + {c}], ' ')
       ELSE array_to_string(tk.tok[1 : {2 * c + 1}], ' ') END AS snippet,
       fh.fp IS NULL AS anchor_only
FROM ranked r
LEFT JOIN fh ON r.query_id = fh.query_id AND r.doc_id = fh.doc_id
JOIN tk ON r.doc_id = tk.doc_id
ORDER BY r.query_id, r.rank
"""


# ---------------------------------------------------------------------------
# nDCG@k evaluation of the ranking against containment qrels
# ---------------------------------------------------------------------------

NDCG_K = BM25_TOPK
# integer DCG weights: W[r] = round(1e6 / log2(r+1)) — precomputed so
# neither engine evaluates a log at query time (the sketches.py
# ln-table discipline); both engines consume the same literals
NDCG_W = [round(1_000_000 / math.log2(r + 1)) for r in range(1, NDCG_K + 1)]


def ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 of the BM25F ranking against DETERMINISTIC containment
    qrels (rel 2 = ALL query terms present across body ∪ inbound
    anchors, rel 1 = any term present, 0 otherwise) — the offline ranking-quality
    readout (Järvelin & Kekäläinen 2002) a search pipeline runs before
    shipping a ranker change; pairs with rank_correlation (ranker
    agreement) and classifier_pr_auc (filter quality) to complete the
    evaluation family.

    Exactness: DCG weights are precomputed integer literals (no log at
    query time), per-rank gains are exact int64, and IDCG needs NO sort
    — with two relevance grades it is a closed form of the two counts
    (n₂ twos fill ranks 1..min(k,n₂), ones fill the rest), so the ideal
    ranking never materializes. One broadcast-probed containment agg +
    the registered bm25f ranking; the final ndcg is the one same-int
    division.
    """
    tables = _bm25f_tables(spark, sf_dir)

    q = spark.createDataFrame(
        [(qid, t) for qid, ts in BM25F_QUERIES.items() for t in ts],
        "query_id int, term string",
    )
    qsize = {qid: len(ts) for qid, ts in BM25F_QUERIES.items()}
    qs = spark.createDataFrame(
        list(qsize.items()), "query_id int, n_terms int"
    )
    # containment presence = the distinct (doc_id, term) pairs of the
    # two fields — exactly the tf tables' keys, so the qrels reuse the
    # checkpointed tables instead of re-tokenizing the corpus and
    # re-expanding the edge anchors (round-6; sets identical by
    # construction: a tf row exists iff the term occurs in that field)
    pres = (
        tables["tf_b"].select("doc_id", "term")
        .unionByName(tables["tf_a"].select("doc_id", "term"))
        .distinct()
    )
    rel = (
        pres.join(F.broadcast(q), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.count_distinct("term").alias("nm"))
        .join(F.broadcast(qs), "query_id")
        .select(
            "query_id",
            "doc_id",
            F.when(F.col("nm") == F.col("n_terms"), F.lit(2))
            .otherwise(F.lit(1))
            .alias("rel"),
        )
        .localCheckpoint(eager=True)  # feeds both the DCG join and IDCG counts
    )
    warr = F.array(*[F.lit(w).cast("long") for w in NDCG_W])
    dcg = (
        bm25f_topk(spark, sf_dir, _tables=tables)
        .join(rel, ["query_id", "doc_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(
                F.coalesce("rel", F.lit(0)).cast("long")
                * F.element_at(warr, F.col("rank"))
            ).alias("idcg_num")
        )
        .withColumnRenamed("idcg_num", "dcg_x")
    )
    counts = rel.groupBy("query_id").agg(
        F.sum((F.col("rel") == 2).cast("long")).alias("n2"),
        F.sum((F.col("rel") == 1).cast("long")).alias("n1"),
    )
    # closed-form IDCG from (n2, n1): prefix sums of the weight table
    pref = [0]
    for w in NDCG_W:
        pref.append(pref[-1] + w)
    parr = F.array(*[F.lit(p).cast("long") for p in pref])  # pref[i] = Σ W[1..i]
    k = NDCG_K
    two_fill = F.least(F.col("n2"), F.lit(k))
    one_fill = F.least(F.col("n1"), F.lit(k) - two_fill)
    idcg = 2 * F.element_at(parr, (two_fill + 1).cast("int")) + (
        F.element_at(parr, (two_fill + one_fill + 1).cast("int"))
        - F.element_at(parr, (two_fill + 1).cast("int"))
    )
    return (
        counts.join(dcg, "query_id")
        .select(
            "query_id",
            "n2",
            "n1",
            F.col("dcg_x"),
            idcg.alias("idcg_x"),
        )
        # integer ppm grid (no cross-engine double rounding boundary):
        # dcg_x and idcg_x are exact non-negative longs, so the integer
        # div is engine-identical; NULL when idcg_x = 0 (no rel docs)
        .withColumn(
            "ndcg_ppm",
            F.when(F.col("idcg_x") == 0, F.lit(None).cast("long")).otherwise(
                F.expr("(dcg_x * 1000000) div idcg_x").cast("long")
            ),
        )
        .orderBy("query_id")
    )


def ndcg_eval_sql() -> str:
    from .graph import _ANCHOR_VOCAB, _EDGES_SQL

    tok = TOKENS_SQL.format(c="text")
    v = len(_ANCHOR_VOCAB)
    vocab = ", ".join(f"'{a}'" for a in _ANCHOR_VOCAB)
    qvals = ", ".join(
        f"({qid}, '{t}')" for qid, ts in BM25F_QUERIES.items() for t in ts
    )
    qsizes = ", ".join(
        f"({qid}, {len(ts)})" for qid, ts in BM25F_QUERIES.items()
    )
    wvals = ", ".join(f"({r + 1}, {w})" for r, w in enumerate(NDCG_W))
    pref = [0]
    for w in NDCG_W:
        pref.append(pref[-1] + w)
    pvals = ", ".join(f"({i}, {p})" for i, p in enumerate(pref))
    k = NDCG_K
    return f"""
WITH n AS (SELECT count(*) AS c FROM documents),
q(query_id, term) AS (VALUES {qvals}),
qs(query_id, n_terms) AS (VALUES {qsizes}),
wt(rank, w) AS (VALUES {wvals}),
pf(i, p) AS (VALUES {pvals}),
e0 AS ({_EDGES_SQL}),
e AS (SELECT * FROM e0 WHERE src <> dst),
pres AS (
  SELECT DISTINCT doc_id, term FROM (
    SELECT doc_id, unnest(list_distinct({tok})) AS term FROM documents
    UNION ALL
    SELECT dst AS doc_id,
           unnest(string_split(([{vocab}])[((src + dst) % {v}) + 1], ' ')) AS term
    FROM e)
),
relp AS MATERIALIZED (
  SELECT m.query_id, m.doc_id,
         CASE WHEN m.nm = qs.n_terms THEN 2 ELSE 1 END AS rel
  FROM (SELECT q.query_id, p.doc_id, count(DISTINCT p.term) AS nm
        FROM pres p JOIN q USING (term) GROUP BY q.query_id, p.doc_id) m
  JOIN qs USING (query_id)
),
ranked AS ({bm25f_topk_sql()}),
dcg AS (
  SELECT r.query_id,
         sum(coalesce(x.rel, 0)::BIGINT * wt.w)::BIGINT AS dcg_x
  FROM ranked r
  LEFT JOIN relp x ON r.query_id = x.query_id AND r.doc_id = x.doc_id
  JOIN wt ON wt.rank = r.rank
  GROUP BY r.query_id
),
counts AS (
  SELECT query_id, sum((rel = 2)::BIGINT)::BIGINT AS n2,
         sum((rel = 1)::BIGINT)::BIGINT AS n1
  FROM relp GROUP BY query_id
),
idcg AS (
  SELECT c.query_id, c.n2, c.n1,
         (2 * p2.p + (p21.p - p2.p))::BIGINT AS idcg_x
  FROM counts c
  JOIN pf p2 ON p2.i = least(c.n2, {k})
  JOIN pf p21 ON p21.i = least(c.n2, {k}) + least(c.n1, {k} - least(c.n2, {k}))
)
SELECT i.query_id, i.n2, i.n1, d.dcg_x, i.idcg_x,
       CASE WHEN i.idcg_x = 0 THEN NULL
            ELSE ((d.dcg_x * 1000000) // i.idcg_x)::BIGINT END AS ndcg_ppm
FROM idcg i JOIN dcg d USING (query_id)
ORDER BY i.query_id
"""
