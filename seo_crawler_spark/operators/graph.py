"""Iterative graph analytics over DataFrames — fixed-point PageRank.

A crawler's link graph wants centrality (crawl prioritization, spam
demotion, training-data source weighting). PageRank is the canonical
iterative Spark workload: score(i) ← 0.15·S + 0.85·Σ score(j)/outdeg(j)
over incoming edges, k joins for k iterations.

Determinism across engines is the interesting part: float PageRank
diverges between engines at the last ulp (accumulation order), so all
arithmetic here is INTEGER fixed-point — scores scaled by 10^6,
per-edge contribution = (score·85) div (100·outdeg) in exact int64 —
making 5 iterations bit-identical between Spark and the DuckDB oracle
(5 unrolled CTEs). Mass lost to floor division and to the rare
dangling node is deterministic too.

The edge list derives from the documents table (3 affine out-links per
doc, self-loops dropped) so the oracle can build the identical graph;
on real crawl output the same loop runs over the links table
(source→target). Scale notes: each iteration is one equi-join + one
map-side-combined agg, scores checkpoint per iteration (without the
lineage barrier iteration k replans all k-1 predecessors — the same
quadratic-driver trap the wave loop avoids), and the edge table with
its outdegree column is built once and reused.

Shared pieces, each written once for the operators below:

* ``_edges`` / ``_EDGES_SQL``: the generator edge list (Spark frame and
  the oracle's ``e0`` CTE body);
* ``_e2_table``: an edge frame annotated with ``outdeg``, checkpointed;
* ``_gather``: one propagation half-step, Σ value over in-edges;
* ``_pagerank`` / ``_pagerank_ctes``: the integer PageRank loop given a
  seed frame and base term, and its oracle twin (pagerank, trustrank,
  the warm-start loops);
* ``_bfs`` / ``_bfs_ctes``: the delta-frontier BFS and its oracle twin
  (seed distance, both bow-tie directions);
* ``_ranked``: the ``row_number`` over (score desc, key asc) tail.

Checkpoint rule: BOUNDED loops (a fixed iteration count, a handful of
rounds) use plain ``localCheckpoint(eager=True)`` per step — the plan
statistics gain a bounded number of factors. The one UNBOUNDED loop,
connected_components, re-wraps every round through ``ckpt.local_ckpt``
(stats-free), and its convergence fingerprint rides the checkpoint job
as an ``Observation``.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..ckpt import local_ckpt
from ..functions.text import MD5INT_SQL, md5int
from ..parallel import run_parallel
from ..sources.tables import load

SCALE = 1_000_000
DAMP_NUM, DAMP_DEN = 85, 100
BASE = 150_000  # 0.15 · SCALE
ITERS = 5
# out-link generator expressions (Spark column fn, SQL fragment). An
# affine-only family yields a near-regular graph whose PageRank is
# uniform — a vacuous check. The quadratic generator skews in-degree
# and the mod-37 generator makes hub nodes, so ranks are non-trivial.
_GEN_EXPRS = (
    (
        lambda d, n: (d * d + 1) % n,
        "(doc_id * doc_id + 1) % (SELECT c FROM n)",
    ),
    (lambda d, n: d % 37, "doc_id % 37"),
    (
        lambda d, n: (d * 13 + 3) % n,
        "(doc_id * 13 + 3) % (SELECT c FROM n)",
    ),
)
# the oracle's edge list (self-loops still in; callers filter), over a
# ``n AS (SELECT count(*) AS c FROM documents)`` CTE
_EDGES_SQL = " UNION ALL ".join(
    f"SELECT doc_id AS src, {frag} AS dst FROM documents" for _, frag in _GEN_EXPRS
)


def _edges(docs: DataFrame, n: int) -> DataFrame:
    parts = [
        docs.select(
            F.col("doc_id").alias("src"),
            fn(F.col("doc_id"), n).alias("dst"),
        )
        for fn, _ in _GEN_EXPRS
    ]
    return reduce(DataFrame.unionByName, parts).filter(F.col("src") != F.col("dst"))


def _e2_table(e: DataFrame) -> DataFrame:
    """Degree-annotated edge table (src, dst, outdeg), checkpointed.
    Compositions (spam_mass, rank_correlation) build it ONCE and pass it
    through their members' ``_e2`` parameter."""
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    return e.join(outdeg, "src").localCheckpoint(eager=True)


def _gather(
    edges: DataFrame, state: DataFrame, src: str, dst: str, value: str
) -> DataFrame:
    """One propagation half-step: (doc_id, m) with m = Σ ``value`` (a SQL
    expression over edge and state columns) over the edges whose ``src``
    end matches ``state.doc_id``, keyed by their ``dst`` end. One
    equi-join + one map-side-combined sum; nodes without such edges are
    absent (callers left-join onto their node set)."""
    return (
        edges.join(state, edges[src] == state.doc_id)
        .groupBy(F.col(dst).alias("doc_id"))
        .agg(F.sum(F.expr(value)).alias("m"))
    )


def _pagerank(
    e2: DataFrame, docs: DataFrame, score: DataFrame, base: Column, iters: int
) -> DataFrame:
    """``iters`` integer PageRank steps from the seed ``score`` frame
    (doc_id, score): score ← base + Σ (score·85) div (100·outdeg) over
    in-edges of the ``_e2_table`` frame, ``base`` a long Column over
    ``doc_id``. Checkpointed per step to truncate lineage."""
    for _ in range(iters):
        m = _gather(
            e2, score, "src", "dst",
            f"(score * {DAMP_NUM}) div ({DAMP_DEN} * outdeg)",
        )
        score = (
            docs.join(m, "doc_id", "left")
            .select("doc_id", (base + F.coalesce("m", F.lit(0))).alias("score"))
            .localCheckpoint(eager=True)
        )
    return score


def _pagerank_ctes(base: str, iters: int) -> list[str]:
    """Oracle twin of :func:`_pagerank`: CTEs s1..s{iters} over ``e2``
    from the caller's seed CTE s0, ``base`` the SQL term over
    ``d.doc_id``."""
    steps = []
    prev = "s0"
    for k in range(1, iters + 1):
        steps.append(
            # MATERIALIZED: each step references the previous one inside
            # a derived table; without the hint DuckDB inlines CTEs and
            # re-executes the whole iteration prefix at every reference
            # (exponential in iters — measured 20+s at sf0.001).
            f"s{k} AS MATERIALIZED (SELECT d.doc_id, ({base} + coalesce(x.m, 0))::BIGINT AS score "
            f"FROM documents d LEFT JOIN ("
            f"SELECT e2.dst, sum((s.score * {DAMP_NUM}) // ({DAMP_DEN} * e2.outdeg)) AS m "
            f"FROM e2 JOIN {prev} s ON e2.src = s.doc_id GROUP BY e2.dst"
            f") x ON d.doc_id = x.dst)"
        )
        prev = f"s{k}"
    return steps


def _ranked(df: DataFrame, score: str, key: str, *cols) -> DataFrame:
    """``cols`` plus ``rnk`` = row_number over (score desc, key asc),
    ordered by rnk."""
    w = Window.orderBy(F.desc(score), F.asc(key))
    return df.select(*cols, F.row_number().over(w).alias("rnk")).orderBy("rnk")


def _bfs(
    seed: DataFrame, edges: DataFrame, src: str, dst: str, hops: int
) -> DataFrame:
    """Delta-frontier BFS: (doc_id, dist) for every node within ``hops``
    of the ``seed`` doc_ids, following edges from their ``src`` end to
    their ``dst`` end. Per hop only the newly discovered frontier joins
    the edge table, then dedupes and anti-joins the visited set — the
    crawl loop's seen anti-join — so the work is O(reachable), not
    O(V·hops). ONE checkpoint per hop: the folded visited set is the
    barrier and the next frontier is a filter over its blocks."""
    visited = seed.select("doc_id", F.lit(0).alias("dist"))
    frontier = visited.select("doc_id")
    for hop in range(1, hops + 1):
        nxt = (
            frontier.join(edges, frontier.doc_id == edges[src])
            .select(F.col(dst).alias("doc_id"))
            .distinct()
            .join(visited.select("doc_id"), "doc_id", "left_anti")
            .select("doc_id", F.lit(hop).alias("dist"))
        )
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = visited.filter(F.col("dist") == hop).select("doc_id")
    return visited


def _bfs_ctes(tag: str, src: str, dst: str, hops: int) -> list[str]:
    """Oracle twin of :func:`_bfs`: CTEs {tag}1..{tag}{hops} over the
    edge CTE ``e``, each the previous visited set plus its new hop;
    {tag}0 (doc_id, dist = 0) is the caller's seed CTE."""
    out = []
    prev = f"{tag}0"
    for k in range(1, hops + 1):
        out.append(
            f"{tag}{k} AS MATERIALIZED (SELECT * FROM {prev} UNION ALL "
            f"SELECT f.doc_id, {k} AS dist FROM ("
            f"SELECT DISTINCT e.{dst} AS doc_id FROM e "
            f"JOIN {prev} p ON e.{src} = p.doc_id WHERE p.dist = {k - 1}"
            f") f WHERE f.doc_id NOT IN (SELECT doc_id FROM {prev}))"
        )
        prev = f"{tag}{k}"
    return out


def pagerank(
    spark: SparkSession, sf_dir: str, iters: int = ITERS,
    _e2: DataFrame | None = None,
) -> DataFrame:
    docs = load(spark, "documents", sf_dir).select("doc_id")
    e2 = _e2 if _e2 is not None else _e2_table(_edges(docs, docs.count()))
    uniform = docs.select("doc_id", F.lit(SCALE).cast("long").alias("score"))
    score = _pagerank(e2, docs, uniform, F.lit(BASE).cast("long"), iters)
    return _ranked(score, "score", "doc_id", "doc_id", "score")


def pagerank_sql(iters: int = ITERS) -> str:
    return f"""
WITH n AS (SELECT count(*) AS c FROM documents),
e0 AS ({_EDGES_SQL}),
e AS MATERIALIZED (SELECT * FROM e0 WHERE src <> dst),
od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
e2 AS MATERIALIZED (SELECT e.src, e.dst, od.outdeg FROM e JOIN od USING (src)),
s0 AS (SELECT doc_id, {SCALE}::BIGINT AS score FROM documents),
{', '.join(_pagerank_ctes(str(BASE), iters))}
SELECT doc_id, score,
       row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rnk
FROM s{iters} ORDER BY rnk
"""


# ---------------------------------------------------------------------------
# TrustRank — seed-biased PageRank for spam demotion
# ---------------------------------------------------------------------------

# manually-vetted whitelist stand-in (the deterministic analog of the
# oracle-selectable seed set TrustRank assumes; a production run feeds
# the real vetted host list). Same stand-in convention as
# decontaminate's benchmark docs.
TRUST_SEEDS = 25


def trustrank_scores(
    spark: SparkSession, sf_dir: str, iters: int = ITERS,
    n_seeds: int = TRUST_SEEDS, _e2: DataFrame | None = None,
) -> DataFrame:
    """TrustRank (Gyöngyi, Garcia-Molina & Pedersen, VLDB 2004): PageRank
    with the teleport mass restricted to a trusted seed set, so trust
    attenuates with link distance from vetted pages — the standard
    spam-demotion / source-weighting signal a crawler feeds back into
    admission and a curation pipeline feeds into source mixing.
    ``reachable = false`` (zero trust after k rounds) marks pages no
    trusted page endorses within k hops.

    Same execution discipline as :func:`pagerank`: INTEGER fixed-point
    throughout (per-edge contribution ``(score·85) div (100·outdeg)``),
    so k iterations are bit-identical between Spark and the unrolled
    DuckDB CTE oracle; each iteration is one equi-join + one
    map-side-combined agg with a per-iteration lineage checkpoint. The
    seed base term injects the SAME total mass as pagerank's uniform
    teleport (BASE·N split over |S| seeds) — n and |S| are two bounded
    driver scalars, the pagerank-n pattern."""
    docs = load(spark, "documents", sf_dir).select("doc_id")
    n = docs.count()
    e2 = _e2 if _e2 is not None else _e2_table(_edges(docs, n))

    tbase = (BASE * n) // n_seeds
    seed_base = F.when(
        F.col("doc_id") < n_seeds, F.lit(tbase).cast("long")
    ).otherwise(F.lit(0).cast("long"))
    seed = docs.select("doc_id", seed_base.alias("score"))
    score = _pagerank(e2, docs, seed, seed_base, iters)
    return _ranked(
        score, "score", "doc_id",
        "doc_id",
        F.col("score").alias("tscore"),
        (F.col("score") > 0).alias("reachable"),
    )


def trustrank_sql(iters: int = ITERS, n_seeds: int = TRUST_SEEDS) -> str:
    base = (
        f"(CASE WHEN d.doc_id < {n_seeds} THEN (SELECT v FROM tb) "
        f"ELSE 0 END)"
    )
    return f"""
WITH n AS (SELECT count(*) AS c FROM documents),
tb AS (SELECT ({BASE}::BIGINT * (SELECT c FROM n))
       // (SELECT count(*) FROM documents WHERE doc_id < {n_seeds}) AS v),
e0 AS ({_EDGES_SQL}),
e AS MATERIALIZED (SELECT * FROM e0 WHERE src <> dst),
od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
e2 AS MATERIALIZED (SELECT e.src, e.dst, od.outdeg FROM e JOIN od USING (src)),
s0 AS (SELECT doc_id,
              (CASE WHEN doc_id < {n_seeds} THEN (SELECT v FROM tb)
               ELSE 0 END)::BIGINT AS score
       FROM documents),
{', '.join(_pagerank_ctes(base, iters))}
SELECT doc_id, score AS tscore, score > 0 AS reachable,
       row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rnk
FROM s{iters} ORDER BY rnk
"""


CC_ITERS = 5


def dedup_clusters(spark: SparkSession, sf_dir: str, iters: int = CC_ITERS) -> DataFrame:
    """Resolve near-dup PAIRS into CLUSTERS — the step a training
    pipeline actually needs after any dedup pass: pairs (a,b) say
    "same", but keeping one copy per group requires the transitive
    closure and a canonical keeper per component.

    Min-label propagation over the n-gram-Jaccard pair set: every node
    starts as its own label; each round takes the min label over
    itself and its neighbors. Monotone integer min → deterministic at
    any fixed iteration count, and ``iters`` rounds resolve any
    component of diameter ≤ iters (near-dup clusters are tiny — at
    corpus scale the alternating large-star/small-star variant covers
    pathological chains). The DuckDB oracle unrolls the same rounds.

    Output: (doc_id, cluster_id, is_keeper) for every doc in ≥1 pair;
    keeper = the component's min doc_id."""
    from .dedup import dedup_ngram_jaccard

    pairs = dedup_ngram_jaccard(spark, sf_dir).select("a", "b")
    # undirected: propagate both ways
    edges = pairs.unionByName(
        pairs.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
    )
    for _ in range(iters):
        neigh = (
            edges.join(labels, edges.b == labels.node)
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("label").alias("nlabel"))
        )
        labels = (
            labels.join(neigh, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nlabel", F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        (F.col("node") == F.col("label")).alias("is_keeper"),
    ).orderBy("doc_id")


def dedup_clusters_sql(iters: int = CC_ITERS) -> str:
    from .dedup import dedup_ngram_jaccard_sql

    base = dedup_ngram_jaccard_sql().strip()
    pairs_inner = base[: base.rfind("ORDER BY")]
    steps = []
    prev = "l0"
    for k in range(1, iters + 1):
        steps.append(
            # MATERIALIZED: prev is referenced twice per step (probe +
            # neighbor-min derived table) — inlined CTEs re-execute the
            # whole prefix incl. the n-gram pair join 2^iters times.
            f"l{k} AS MATERIALIZED (SELECT l.node, least(l.label, coalesce(x.nlabel, l.label)) AS label "
            f"FROM {prev} l LEFT JOIN ("
            f"SELECT ed.a AS node, min(s.label) AS nlabel "
            f"FROM ed JOIN {prev} s ON ed.b = s.node GROUP BY ed.a"
            f") x ON l.node = x.node)"
        )
        prev = f"l{k}"
    return f"""
WITH pairs AS MATERIALIZED ({pairs_inner}),
ed AS MATERIALIZED (SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b FROM pairs),
l0 AS (SELECT DISTINCT a AS node, a AS label FROM ed),
{', '.join(steps)}
SELECT node AS doc_id, label AS cluster_id, node = label AS is_keeper
FROM {prev} ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# anchor-text aggregation
# ---------------------------------------------------------------------------

_ANCHOR_VOCAB = ("click here", "read more", "details", "home", "next page")


def anchor_text_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-target anchor-text mining: the inbound link texts of a page
    are how the rest of the web describes it — search pipelines index
    them beside the page body and training pipelines mine them as
    weak labels. Output per link target: in-link count, distinct
    anchors, and the dominant anchor (mode, ties by text asc).

    Anchors are synthesized deterministically per edge ((src+dst) mod
    vocab) over the same generator edge list PageRank uses, so the
    DuckDB oracle builds the identical labeled graph; on real crawl
    output the same plan runs over the links table's anchor_text.

    Scale shape: (dst, anchor) counts partial-aggregate map-side; the
    mode is a per-dst window over at most |vocab| rows per target —
    bounded fan-in, no global window, no joins wider than the final
    count-merge."""
    docs = load(spark, "documents", sf_dir).select("doc_id")
    n = docs.count()
    e = _edges(docs, n)
    v = len(_ANCHOR_VOCAB)
    anchor = F.element_at(
        F.array(*[F.lit(a) for a in _ANCHOR_VOCAB]),
        (F.pmod(F.col("src") + F.col("dst"), F.lit(v)) + 1).cast("int"),
    )
    ec = e.select("src", "dst", anchor.alias("anchor"))
    per_anchor = ec.groupBy("dst", "anchor").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("dst").orderBy(F.desc("c"), F.asc("anchor"))
    top = (
        per_anchor.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select("dst", F.col("anchor").alias("top_anchor"),
                F.col("c").alias("top_anchor_cnt"))
    )
    totals = per_anchor.groupBy("dst").agg(
        F.sum("c").alias("n_inlinks"),
        F.count(F.lit(1)).alias("n_anchors"),
    )
    return (
        totals.join(top, "dst")
        .select(
            F.col("dst").alias("doc_id"),
            "n_inlinks",
            "n_anchors",
            "top_anchor",
            "top_anchor_cnt",
        )
        .orderBy("doc_id")
    )


def anchor_text_agg_sql() -> str:
    v = len(_ANCHOR_VOCAB)
    vocab = ", ".join(f"'{a}'" for a in _ANCHOR_VOCAB)
    return f"""
WITH n AS (SELECT count(*) AS c FROM documents),
e0 AS ({_EDGES_SQL}),
e AS (SELECT * FROM e0 WHERE src <> dst),
ec AS (SELECT src, dst, ([{vocab}])[((src + dst) % {v}) + 1] AS anchor FROM e),
pa AS (SELECT dst, anchor, count(*) AS c FROM ec GROUP BY dst, anchor),
top AS (
  SELECT dst, anchor AS top_anchor, c AS top_anchor_cnt,
         row_number() OVER (PARTITION BY dst ORDER BY c DESC, anchor ASC) AS rnk
  FROM pa
),
tot AS (SELECT dst, sum(c) AS n_inlinks, count(*) AS n_anchors FROM pa GROUP BY dst)
SELECT tot.dst AS doc_id,
       tot.n_inlinks::BIGINT AS n_inlinks,
       tot.n_anchors::BIGINT AS n_anchors,
       top.top_anchor, top.top_anchor_cnt
FROM tot JOIN top ON tot.dst = top.dst AND top.rnk = 1
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# HITS hubs & authorities
# ---------------------------------------------------------------------------

HITS_ITERS = 3


def hits_scores(spark: SparkSession, sf_dir: str, iters: int = HITS_ITERS) -> DataFrame:
    """HITS (Kleinberg 1999): authority(d) ← Σ hub(s) over in-edges,
    hub(s) ← Σ authority(d) over out-edges, normalized each half-step —
    the classic complement to PageRank for crawl prioritization (hubs
    find new content; authorities are worth recrawling).

    Determinism: like pagerank above, all arithmetic is integer
    fixed-point — scores scaled by 10^6 and L1-normalized via
    ``x·SCALE div Σx`` in exact int64, so the DuckDB oracle (unrolled
    CTEs with scalar-subquery sums) matches bit-for-bit. int64 headroom:
    Σ score stays ≤ n·SCALE by construction post-normalization, so the
    x·SCALE product is bounded by n·SCALE² — exact up to ~9·10^6 docs;
    beyond that, normalize by a power-of-two shift of the max instead
    (same plan shape), or batch the graph per shard.

    Scale shape: each half-step is one equi-join + one map-side-combined
    agg; the L1 sum is a single scalar broadcast (crossJoin with a 1-row
    frame — no driver round-trip, no collect); lineage checkpoints per
    iteration like the pagerank loop."""
    docs = load(spark, "documents", sf_dir).select("doc_id")
    n = docs.count()
    e = _edges(docs, n).localCheckpoint(eager=True)

    def _normalized(sums: DataFrame, col: str) -> DataFrame:
        raw = docs.join(sums, "doc_id", "left").select(
            "doc_id", F.coalesce("m", F.lit(0)).alias(col)
        )
        total = raw.agg(F.sum(col).alias("__t"))
        return (
            raw.crossJoin(total)
            .select(
                "doc_id",
                F.expr(f"({col} * {SCALE}) div __t").alias(col),
            )
            .localCheckpoint(eager=True)
        )

    hub = docs.select("doc_id", F.lit(SCALE).cast("long").alias("hub"))
    auth = None
    for _ in range(iters):
        auth = _normalized(_gather(e, hub, "src", "dst", "hub"), "auth")
        hub = _normalized(_gather(e, auth, "dst", "src", "auth"), "hub")
    return _ranked(
        hub.join(auth, "doc_id"), "auth", "doc_id", "doc_id", "hub", "auth"
    )


def hits_scores_sql(iters: int = HITS_ITERS) -> str:
    steps = []
    prev_hub = "h0"
    prev_auth = None
    for k in range(1, iters + 1):
        steps.append(
            # MATERIALIZED throughout: a{k}r is referenced twice in a{k}
            # (projection + sum-normalizer scalar subquery); without the
            # hint DuckDB inlines and re-executes the whole iteration
            # prefix at every reference — exponential in iters.
            f"a{k}r AS MATERIALIZED (SELECT d.doc_id, coalesce(x.s, 0)::BIGINT AS auth "
            f"FROM documents d LEFT JOIN (SELECT e.dst, sum(h.hub) AS s "
            f"FROM e JOIN {prev_hub} h ON e.src = h.doc_id GROUP BY e.dst) x "
            f"ON d.doc_id = x.dst)"
        )
        steps.append(
            f"a{k} AS MATERIALIZED (SELECT doc_id, (auth * {SCALE}) // "
            f"(SELECT sum(auth) FROM a{k}r) AS auth FROM a{k}r)"
        )
        prev_auth = f"a{k}"
        steps.append(
            f"h{k}r AS MATERIALIZED (SELECT d.doc_id, coalesce(x.s, 0)::BIGINT AS hub "
            f"FROM documents d LEFT JOIN (SELECT e.src, sum(a.auth) AS s "
            f"FROM e JOIN {prev_auth} a ON e.dst = a.doc_id GROUP BY e.src) x "
            f"ON d.doc_id = x.src)"
        )
        steps.append(
            f"h{k} AS MATERIALIZED (SELECT doc_id, (hub * {SCALE}) // "
            f"(SELECT sum(hub) FROM h{k}r) AS hub FROM h{k}r)"
        )
        prev_hub = f"h{k}"
    return f"""
WITH n AS (SELECT count(*) AS c FROM documents),
e0 AS ({_EDGES_SQL}),
e AS MATERIALIZED (SELECT * FROM e0 WHERE src <> dst),
h0 AS (SELECT doc_id, {SCALE}::BIGINT AS hub FROM documents),
{', '.join(steps)}
SELECT h.doc_id, h.hub::BIGINT AS hub, a.auth::BIGINT AS auth,
       row_number() OVER (ORDER BY a.auth DESC, h.doc_id ASC) AS rnk
FROM {prev_hub} h JOIN {prev_auth} a ON h.doc_id = a.doc_id
ORDER BY rnk
"""


# ---------------------------------------------------------------------------
# connected components — alternating large-star / small-star
# ---------------------------------------------------------------------------

# chain block length for the registered query's synthetic graph: paths
# of diameter CC_CHAIN-1, far beyond any fixed label-propagation depth
CC_CHAIN = 50
CC_MAX_ROUNDS = 60


def connected_components(
    edges: DataFrame,
    max_rounds: int = CC_MAX_ROUNDS,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components via alternating large-star/small-star
    (Kiveris et al. 2014, "Connected Components in MapReduce and
    Beyond") — the web-scale companion to :func:`dedup_clusters`:
    label propagation resolves a component in O(diameter) rounds,
    which is unbounded on chain-shaped link graphs; the two-phase star
    algorithm converges in O(log n) rounds on ANY topology, so a
    10^10-node crawl graph needs ~35 rounds, not millions.

    Per round, both steps are one map-side-combined min-aggregate plus
    one equi-join over the current edge set — no windows, no pair
    explosion; edge count never exceeds the input edge count (each
    step emits at most one edge per (node, neighbor)). The loop is
    UNBOUNDED, so every round re-wraps through ``local_ckpt`` (the
    stats-squaring trap in PLANS.md §"iterative-plan stats blowup")
    and convergence is checked with a (count, xor-folded hash)
    fingerprint that an ``Observation`` collects from the round's
    checkpoint job itself — no second job per round, O(log n) rounds
    total.

    Input: (u, v) int64 edge list, any orientation, self-loops ok.
    Output: (node, label) for every node incident to >= 1 edge, label
    = the component's minimum node id. Algorithm verified against
    union-find on 300 random graphs + a diameter-4999 chain (14
    rounds) in tests/test_connected_components.py."""
    e = (
        edges.filter(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .distinct()
        .transform(local_ckpt)
    )
    prev_fp = None
    for rnd in range(max_rounds):
        # large-star: for each node u (symmetric adjacency), connect
        # every LARGER neighbor v to m = min(N(u) + {u}). v > u >= m,
        # so emitted edges stay canonically (big, small) oriented.
        sym = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", F.col("u")).alias("m"))
        )
        ls = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star: edges are (big, small); connect every smaller
        # neighbor AND u itself to m = min of the smaller neighbors.
        mins2 = ls.groupBy("u").agg(F.min("v").alias("m"))
        ss_n = (
            ls.join(mins2, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        ss_u = mins2.select("u", F.col("m").alias("v"))
        obs = Observation()
        e = (
            ss_n.unionByName(ss_u)
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                # xor-fold, not sum: an int64 sum of per-edge hashes
                # overflows under ANSI mode; xor is closed over int64
                F.expr("bit_xor(xxhash64(u, v))").alias("h"),
            )
            .transform(local_ckpt)
        )
        got = obs.get
        fp = (got["n"], got["h"])
        if fp == prev_fp:
            if stats is not None:
                stats["rounds"] = rnd + 1
            break
        prev_fp = fp
    else:
        raise RuntimeError(f"connected_components: no fixed point in {max_rounds} rounds")
    # converged: e is a star forest (node -> component min)
    roots = e.select(F.col("v").alias("node")).distinct()
    return (
        e.select(F.col("u").alias("node"), F.col("v").alias("label"))
        .unionByName(roots.select("node", F.col("node").alias("label")))
        .distinct()
    )


def connected_components_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query: components of a deterministic chain+tree graph
    over the documents table — CC_CHAIN-long paths (diameter 49, which
    a 5-round label propagation provably cannot resolve) plus mod-7
    shortcut edges that merge some blocks; ground truth is the DuckDB
    recursive-CTE closure. Output (doc_id, cluster_id, is_keeper),
    keeper = component min."""
    docs = load(spark, "documents", sf_dir).select("doc_id")
    n = docs.count()
    chain = docs.filter(
        (F.col("doc_id") % CC_CHAIN != CC_CHAIN - 1) & (F.col("doc_id") + 1 < n)
    ).select(F.col("doc_id").alias("u"), (F.col("doc_id") + 1).alias("v"))
    # mod-7 shortcuts bound within the block (doc_id%CC_CHAIN >= 7 keeps
    # v in the same block): components = the CC_CHAIN blocks, and each
    # block's internal diameter stays ~CC_CHAIN/7, still far beyond any
    # fixed label-propagation depth
    tree = docs.filter(
        (F.col("doc_id") % 7 != 0) & (F.col("doc_id") % CC_CHAIN >= 7)
    ).select(
        F.col("doc_id").alias("u"),
        (F.col("doc_id") - F.col("doc_id") % 7).alias("v"),
    )
    labels = connected_components(chain.unionByName(tree))
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        (F.col("node") == F.col("label")).alias("is_keeper"),
    ).orderBy("doc_id")


def connected_components_sql() -> str:
    return f"""
WITH RECURSIVE base AS (
  SELECT doc_id AS u, doc_id + 1 AS v FROM documents
  WHERE doc_id % {CC_CHAIN} <> {CC_CHAIN - 1}
    AND doc_id + 1 < (SELECT count(*) FROM documents)
  UNION ALL
  SELECT doc_id AS u, doc_id - (doc_id % 7) AS v FROM documents
  WHERE doc_id % 7 <> 0 AND doc_id % {CC_CHAIN} >= 7
),
ed AS (SELECT u, v FROM base WHERE u <> v
       UNION SELECT v AS u, u AS v FROM base WHERE u <> v),
reach(node, lbl) AS (
  SELECT u AS node, u AS lbl FROM ed
  UNION
  SELECT e.u AS node, r.lbl FROM ed e JOIN reach r ON e.v = r.node
)
SELECT node AS doc_id, min(lbl) AS cluster_id,
       (node = min(lbl)) AS is_keeper
FROM reach GROUP BY node ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Spam mass — PageRank not endorsed by trusted sources
# ---------------------------------------------------------------------------

# relative-mass threshold: spammy iff (pr - tr)/pr >= 0.99, stated on
# the INTEGERS as 100·tr <= pr so the verdict is exact cross-engine
# (the lm_perplexity/temperature_sample float-threshold lesson)
SPAM_MASS_PCT = 99


def spam_mass(
    spark: SparkSession, sf_dir: str, iters: int = ITERS,
    n_seeds: int = TRUST_SEEDS,
) -> DataFrame:
    """Spam mass (Gyöngyi, Berkhin, Garcia-Molina & Pedersen 2006,
    "Link Spam Detection Based on Mass Estimation"): the share of a
    page's PageRank NOT attributable to trusted sources — mass =
    PR − TrustRank (clamped at 0; near-seed pages can hold more trust
    than rank), relative mass = mass/PR. Pages whose rank is almost
    entirely untrusted (rel_mass >= 0.99, i.e. 100·tr <= pr on the
    integers) are link-spam candidates a crawler demotes and a curation
    pipeline down-weights — the decision signal the paper builds on
    top of the two scores this composes.

    Composition, not re-implementation: reuses the REGISTERED
    :func:`pagerank` and :func:`trustrank_scores` operators verbatim
    (both integer fixed-point with the SAME total teleport mass
    BASE·N, so the two scores are directly comparable — the paper's
    core requirement) plus ONE doc_id equi-join; the division is a
    single same-int/same-int IEEE op, identical in both engines. Scale
    shape is the two underlying loops' (one equi-join + one map-side
    agg per iteration, per-iteration lineage checkpoints); the final
    join is doc_id-partitioned, co-located when both score tables are
    bucketed by doc_id."""
    # shared degree-annotated edge table (round 6): both member loops
    # consume the identical e2; building it once drops one full
    # edge-gen + degree-agg + checkpoint pass from the composition
    docs = load(spark, "documents", sf_dir).select("doc_id")
    e2 = _e2_table(_edges(docs, docs.count()))
    # the two member loops are independent given the shared e2 — run
    # them from two driver threads so their per-iteration job latencies
    # overlap (guide §2.6); scores are the identical DataFrames the
    # sequential calls produce
    pr_raw, tr_raw = run_parallel(
        lambda: pagerank(spark, sf_dir, iters, _e2=e2),
        lambda: trustrank_scores(spark, sf_dir, iters, n_seeds, _e2=e2),
    )
    pr = pr_raw.select("doc_id", F.col("score").alias("pr_score"))
    tr = tr_raw.select("doc_id", F.col("tscore").alias("tr_score"))
    m = pr.join(tr, "doc_id")
    excess = F.greatest(
        F.col("pr_score") - F.col("tr_score"), F.lit(0).cast("long")
    )
    return m.select(
        "doc_id",
        "pr_score",
        "tr_score",
        excess.alias("mass"),
        F.round(excess / F.col("pr_score"), 6).alias("rel_mass"),
        (F.col("tr_score") * 100 <= F.col("pr_score") * (100 - SPAM_MASS_PCT))
        .alias("spammy"),
    ).orderBy("doc_id")


def spam_mass_sql(iters: int = ITERS, n_seeds: int = TRUST_SEEDS) -> str:
    return f"""
SELECT p.doc_id,
       p.score AS pr_score,
       t.tscore AS tr_score,
       greatest(p.score - t.tscore, 0) AS mass,
       round(greatest(p.score - t.tscore, 0) * 1.0 / p.score, 6) AS rel_mass,
       t.tscore * 100 <= p.score * {100 - SPAM_MASS_PCT} AS spammy
FROM ({pagerank_sql(iters)}) p
JOIN ({trustrank_sql(iters, n_seeds)}) t USING (doc_id)
ORDER BY p.doc_id
"""


# ---------------------------------------------------------------------------
# BFS seed distance — crawl-depth audit
# ---------------------------------------------------------------------------

BFS_HOPS = 4


def seed_distance_bfs(
    spark: SparkSession, sf_dir: str, max_hops: int = BFS_HOPS,
    n_seeds: int = TRUST_SEEDS,
) -> DataFrame:
    """Minimum link-hop distance of every page from the seed list — the
    crawl-depth audit a frontier operator reports (reference: the crawl
    engine's depth gate, seo-crawler crawler.py depth tracking): which
    pages are reachable within the depth budget, and how deep the
    frontier must go to cover the site. Pages unreached in ``max_hops``
    get ``dist = -1`` (outside the budget → candidates for sitemap
    seeding or budget raise).

    DELTA-frontier BFS, the same shape as the crawl loop's seen
    anti-join: per hop, join ONLY the newly-discovered frontier against
    the edge table (not the whole visited set), dedupe, anti-join
    against visited, tag with the hop number. Each hop is one equi-join
    + one distinct + one left-anti — all hash exchanges on doc_id; the
    visited set folds via union + checkpoint exactly like the engine's
    seen folding, so hop k's plan does not replan hops 1..k-1. At
    10^10 nodes the frontier is the working set (output of hop k), not
    the graph — the property that lets web-scale BFS run in
    O(reachable) not O(V·hops).

    Integer-exact throughout (hop counters), so the DuckDB unrolled-CTE
    oracle is bit-identical."""
    docs = load(spark, "documents", sf_dir).select("doc_id")
    n = docs.count()
    e = _edges(docs, n).localCheckpoint(eager=True)
    seeds = docs.filter(F.col("doc_id") < n_seeds)
    visited = _bfs(seeds, e, "src", "dst", max_hops)
    return (
        docs.join(visited, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("dist", F.lit(-1)).cast("int").alias("dist"),
        )
        .orderBy("doc_id")
    )


def seed_distance_sql(
    max_hops: int = BFS_HOPS, n_seeds: int = TRUST_SEEDS
) -> str:
    return f"""
WITH n AS (SELECT count(*) AS c FROM documents),
e0 AS ({_EDGES_SQL}),
e AS MATERIALIZED (SELECT * FROM e0 WHERE src <> dst),
v0 AS (SELECT doc_id, 0 AS dist FROM documents WHERE doc_id < {n_seeds}),
{', '.join(_bfs_ctes('v', 'src', 'dst', max_hops))}
SELECT d.doc_id, coalesce(v.dist, -1)::INT AS dist
FROM documents d LEFT JOIN v{max_hops} v ON d.doc_id = v.doc_id
ORDER BY d.doc_id
"""


# ---------------------------------------------------------------------------
# OPIC — Online Page Importance Computation (crawl-priority scoring)
# ---------------------------------------------------------------------------

OPIC_ITERS = 5


def opic_priority(
    spark: SparkSession, sf_dir: str, iters: int = OPIC_ITERS,
    _e2: DataFrame | None = None,
) -> DataFrame:
    """OPIC (Abiteboul, Preda & Cobéna, WWW 2003 — "Adaptive On-Line
    Page Importance Computation"): the cash-diffusion importance score
    real crawlers (e.g. Apache Nutch) use to ORDER THE FRONTIER without
    waiting for a full PageRank to converge. Every page starts with
    equal cash; each round a page distributes its cash equally over its
    out-links and banks what it held into its history; importance ≈
    history + current cash. Unlike PageRank there is no damping/teleport
    — the signal is pure link endorsement flow, and the history column
    makes partial runs usable (exactly why crawlers like it: the
    frontier can be re-prioritized after ANY number of rounds).

    Synchronous batched variant: round k distributes every page's cash
    simultaneously (one equi-join on src + one map-side-combined agg on
    dst per round — identical plan shape and checkpoint discipline to
    :func:`pagerank`). INTEGER fixed-point: cash scaled by 10^6,
    per-edge share = cash div outdeg; floor remainders and dangling-page cash
    evaporate deterministically (same documented convention as
    pagerank's dangling mass), so k rounds are bit-identical between
    Spark and the unrolled DuckDB CTE oracle."""
    docs = load(spark, "documents", sf_dir).select("doc_id")
    e2 = _e2 if _e2 is not None else _e2_table(_edges(docs, docs.count()))

    state = docs.select(
        "doc_id",
        F.lit(SCALE).cast("long").alias("cash"),
        F.lit(0).cast("long").alias("hist"),
    )
    for _ in range(iters):
        inflow = _gather(e2, state, "src", "dst", "cash div outdeg")
        state = (
            state.join(inflow, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("m", F.lit(0)).cast("long").alias("cash"),
                (F.col("hist") + F.col("cash")).alias("hist"),
            )
            .localCheckpoint(eager=True)  # truncate per-round lineage
        )
    return _ranked(
        state.withColumn("priority", F.col("hist") + F.col("cash")),
        "priority", "doc_id",
        "doc_id", "cash", "hist", "priority",
    )


def opic_priority_sql(iters: int = OPIC_ITERS) -> str:
    steps = []
    prev = "s0"
    for k in range(1, iters + 1):
        steps.append(
            f"s{k} AS MATERIALIZED (SELECT p.doc_id, "
            f"coalesce(x.m, 0)::BIGINT AS cash, "
            f"(p.hist + p.cash)::BIGINT AS hist "
            f"FROM {prev} p LEFT JOIN ("
            f"SELECT e2.dst, sum(s.cash // e2.outdeg) AS m "
            f"FROM e2 JOIN {prev} s ON e2.src = s.doc_id GROUP BY e2.dst"
            f") x ON p.doc_id = x.dst)"
        )
        prev = f"s{k}"
    return f"""
WITH n AS (SELECT count(*) AS c FROM documents),
e0 AS ({_EDGES_SQL}),
e AS MATERIALIZED (SELECT * FROM e0 WHERE src <> dst),
od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
e2 AS MATERIALIZED (SELECT e.src, e.dst, od.outdeg FROM e JOIN od USING (src)),
s0 AS (SELECT doc_id, {SCALE}::BIGINT AS cash, 0::BIGINT AS hist
       FROM documents),
{', '.join(steps)}
SELECT doc_id, cash, hist, (hist + cash) AS priority,
       row_number() OVER (ORDER BY (hist + cash) DESC, doc_id ASC) AS rnk
FROM {prev} ORDER BY rnk
"""


# ---------------------------------------------------------------------------
# Co-citation similarity — "related pages" from the link graph
# ---------------------------------------------------------------------------

COCITE_OUT_CAP = 64     # out-degree cap on the citing page (df-cap analog)
COCITE_MIN = 2          # related iff co-cited by ≥ this many pages


def cocitation_similarity(
    spark: SparkSession, sf_dir: str, out_cap: int = COCITE_OUT_CAP
) -> DataFrame:
    """(a, b, cocite, indeg_a, indeg_b, score_pct, related): co-citation
    similarity over the link graph (Small 1973 via Dean & Henzinger,
    WWW 1999 "Finding related pages in the World Wide Web"): two pages
    are related when many third pages link to BOTH. The crawler uses it
    for seed expansion ("crawl pages related to the good ones") and a
    curation pipeline for source discovery; it needs no content — pure
    link evidence, which is why it survives templating/spam that fools
    text similarity.

    Scale shape — the posting-list discipline on the CITING side: one
    distinct edge collapse, ONE shuffle groups each citing page's
    out-link set, pair-gen is row-local from each set (a page citing d
    targets yields C(d,2) pairs, bounded by the out-degree cap — the
    mirror_hosts df-cap analog; pages citing more than ``out_cap``
    targets are link farms/directories and get stopworded, which is
    ALSO the right relevance call), then one count agg over pairs.
    In-degrees join back as a doc-keyed equi-join. score_pct =
    (100·cocite) div min(indeg) states the normalized strength on
    INTEGERS, exact cross-engine."""
    docs = load(spark, "documents", sf_dir).select("doc_id")
    n = docs.count()
    e = _edges(docs, n).distinct().localCheckpoint(eager=True)
    outs = (
        e.groupBy("src")
        .agg(F.sort_array(F.collect_set("dst")).alias("ds"))
        .filter((F.size("ds") >= 2) & (F.size("ds") <= out_cap))
    )
    pairs = outs.selectExpr(
        "inline(flatten(transform(ds, "
        "x -> transform(filter(ds, y -> y > x), "
        "y -> struct(x AS a, y AS b)))))"
    )
    cc = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("cocite"))
    indeg = e.groupBy("dst").agg(F.count(F.lit(1)).alias("indeg"))
    ia = indeg.select(F.col("dst").alias("a"), F.col("indeg").alias("indeg_a"))
    ib = indeg.select(F.col("dst").alias("b"), F.col("indeg").alias("indeg_b"))
    mn = F.least(F.col("indeg_a"), F.col("indeg_b"))
    return (
        cc.join(ia, "a")
        .join(ib, "b")
        .select(
            "a",
            "b",
            "cocite",
            "indeg_a",
            "indeg_b",
            F.expr("(100 * cocite) div least(indeg_a, indeg_b)").alias(
                "score_pct"
            ),
            (F.col("cocite") >= COCITE_MIN).alias("related"),
        )
        .orderBy("a", "b")
    )


def cocitation_similarity_sql(out_cap: int = COCITE_OUT_CAP) -> str:
    return f"""
WITH n AS (SELECT count(*) AS c FROM documents),
e0 AS ({_EDGES_SQL}),
e AS MATERIALIZED (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
outs AS (
  SELECT src, list_sort(list(dst)) AS ds
  FROM e GROUP BY src
  HAVING len(list(dst)) BETWEEN 2 AND {out_cap}
),
pairs AS (
  SELECT p.a, p.b FROM outs,
  LATERAL (
    SELECT x.x AS a, y.y AS b
    FROM (SELECT unnest(ds) AS x) x
    JOIN (SELECT unnest(ds) AS y) y ON y.y > x.x
  ) p
),
cc AS (SELECT a, b, count(*) AS cocite FROM pairs GROUP BY a, b),
indeg AS (SELECT dst, count(*) AS indeg FROM e GROUP BY dst)
SELECT cc.a, cc.b, cc.cocite,
       ia.indeg AS indeg_a, ib.indeg AS indeg_b,
       (100 * cc.cocite) // least(ia.indeg, ib.indeg) AS score_pct,
       cc.cocite >= {COCITE_MIN} AS related
FROM cc JOIN indeg ia ON cc.a = ia.dst
        JOIN indeg ib ON cc.b = ib.dst
ORDER BY cc.a, cc.b
"""


# ---------------------------------------------------------------------------
# Host-graph PageRank — centrality on the CONTRACTED link graph
# ---------------------------------------------------------------------------

HOST_ITERS = 5


def host_rank(
    spark: SparkSession, sf_dir: str, iters: int = HOST_ITERS
) -> DataFrame:
    """(host, score, in_hosts, rnk): weighted PageRank on the host graph
    — the document link graph contracted to one node per host (source),
    edge weight = number of doc-level links between the two hosts,
    intra-host edges dropped. Crawl systems rank HOSTS, not just pages,
    for seed selection, per-host budget split (crawl_budget_allocation's
    value input), and spam-neighborhood demotion: host-level centrality
    is far more stable than page-level under template churn.

    The contraction is the 100 TB point: a trillion-edge page graph
    collapses to a host graph with |hosts|² ≤ millions of weighted
    edges in ONE groupBy over the edge table (two broadcast-able
    doc→host joins first — the host map is dimension-sized at any
    corpus scale). The k PageRank iterations then run on the contracted
    frame, each a join + map-side agg over rows proportional to hosts,
    not pages — where pagerank() above pays per-page cost per
    iteration.

    Weighted integer fixed point: per-edge contribution =
    (score·85·w) div (100·W) with W = Σ out-weights of the source host
    — exact int64, so k iterations are bit-identical vs the unrolled
    DuckDB CTE chain (the pagerank/trustrank discipline). Dangling
    hosts (no out-edges after the intra-host drop) lose their damped
    mass deterministically, same as pagerank()."""
    docs = load(spark, "documents", sf_dir).select("doc_id", "source")
    n = docs.count()
    hmap = docs.select("doc_id", F.col("source").alias("host"))
    e = _edges(docs.select("doc_id"), n)
    he = (
        e.join(hmap.withColumnsRenamed({"doc_id": "src", "host": "hsrc"}), "src")
        .join(hmap.withColumnsRenamed({"doc_id": "dst", "host": "hdst"}), "dst")
        .filter(F.col("hsrc") != F.col("hdst"))
        .groupBy("hsrc", "hdst")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    outw = he.groupBy("hsrc").agg(F.sum("w").alias("ow"))
    he2 = he.join(outw, "hsrc").localCheckpoint(eager=True)
    hosts = hmap.select("host").distinct()
    score = hosts.select("host", F.lit(SCALE).cast("long").alias("score"))
    for _ in range(iters):
        contrib = (
            he2.join(score, he2.hsrc == score.host)
            .select(
                "hdst",
                F.expr(
                    f"(score * {DAMP_NUM} * w) div ({DAMP_DEN} * ow)"
                ).alias("c"),
            )
            .groupBy("hdst")
            .agg(F.sum("c").alias("m"))
        )
        score = (
            hosts.join(contrib, hosts.host == contrib.hdst, "left")
            .select(
                "host",
                (F.lit(BASE).cast("long") + F.coalesce("m", F.lit(0))).alias(
                    "score"
                ),
            )
            .localCheckpoint(eager=True)
        )
    indeg = he2.groupBy("hdst").agg(F.count(F.lit(1)).alias("in_hosts"))
    return _ranked(
        score.join(indeg, score.host == indeg.hdst, "left"),
        "score", "host",
        "host", "score", F.coalesce("in_hosts", F.lit(0)).alias("in_hosts"),
    )


def host_rank_sql(iters: int = HOST_ITERS) -> str:
    steps = []
    prev = "s0"
    for k in range(1, iters + 1):
        steps.append(
            f"s{k} AS MATERIALIZED (SELECT h.host, ({BASE} + coalesce(x.m, 0))::BIGINT AS score "
            f"FROM hosts h LEFT JOIN ("
            f"SELECT he2.hdst, sum((s.score * {DAMP_NUM} * he2.w) // ({DAMP_DEN} * he2.ow)) AS m "
            f"FROM he2 JOIN {prev} s ON he2.hsrc = s.host GROUP BY he2.hdst"
            f") x ON h.host = x.hdst)"
        )
        prev = f"s{k}"
    return f"""
WITH n AS (SELECT count(*) AS c FROM documents),
e0 AS ({_EDGES_SQL}),
e AS (SELECT * FROM e0 WHERE src <> dst),
hm AS (SELECT doc_id, source AS host FROM documents),
he AS MATERIALIZED (
  SELECT a.host AS hsrc, b.host AS hdst, count(*) AS w
  FROM e JOIN hm a ON e.src = a.doc_id JOIN hm b ON e.dst = b.doc_id
  WHERE a.host <> b.host GROUP BY a.host, b.host
),
ow AS (SELECT hsrc, sum(w) AS ow FROM he GROUP BY hsrc),
he2 AS MATERIALIZED (SELECT he.hsrc, he.hdst, he.w, ow.ow FROM he JOIN ow USING (hsrc)),
hosts AS (SELECT DISTINCT source AS host FROM documents),
s0 AS (SELECT host, {SCALE}::BIGINT AS score FROM hosts),
{', '.join(steps)},
indeg AS (SELECT hdst, count(*) AS in_hosts FROM he2 GROUP BY hdst)
SELECT s.host, s.score, coalesce(i.in_hosts, 0) AS in_hosts,
       row_number() OVER (ORDER BY s.score DESC, s.host ASC) AS rnk
FROM {prev} s LEFT JOIN indeg i ON s.host = i.hdst
ORDER BY rnk
"""


# ---------------------------------------------------------------------------
# HyperBall — sketch-based harmonic centrality (Boldi & Vigna 2013)
# ---------------------------------------------------------------------------

HB_ITERS = 4          # ball radius; web graphs have tiny effective diameter
HB_SCALE = 10_000     # fixed-point grid for the 1/t harmonic weights


def hyperball_centrality(
    spark: SparkSession, sf_dir: str, iters: int = HB_ITERS
) -> DataFrame:
    """Approximate HARMONIC centrality of every page via HyperBall
    (Boldi & Vigna 2013, "In-Core Computation of Geometric
    Centralities with HyperBall") — THE way centralities are computed
    on web-scale graphs, because exact all-pairs BFS is O(V·E): each
    node keeps a 64-register HyperLogLog of its in-ball
    B(v,t) = {u : d(u→v) <= t}; one round of register max-merge along
    reversed edges grows every ball by one hop simultaneously, and
    harmonic centrality falls out as H(v) = Σ_t (|B(v,t)|-|B(v,t-1)|)/t
    over the estimated ball sizes.

    Scale shape — per iteration exactly TWO hash exchanges, both on
    bounded state (the sketch property: state is 64 rows/node no
    matter how many nodes the ball holds — a plain-set BFS from EVERY
    node would carry O(V) state per node):
      1. one edge⋈state equi-join on the edge source (each edge ships
         at most 64 register rows);
      2. one map-side-combined groupBy(node, register).max(rank) —
         max is idempotent and associative, so partial aggregation
         collapses duplicate contributions before the shuffle.
    Per-round localCheckpoint folds lineage (the wave-loop/pagerank
    discipline — round k never replans rounds 1..k-1).

    Integer-exact end to end: registers and ranks are ints, ball-size
    estimates reuse the sketch module's all-integer HLL estimator
    (2^30-grid harmonic sum, rational α, precomputed linear-counting
    table — sketches.py), and the 1/t weights are HB_SCALE-grid
    integer divisions, so the DuckDB unrolled-CTE oracle is
    bit-identical. ΔN is clamped at 0 (HLL estimates of nested sets
    can jitter downward; Boldi & Vigna §4 do the same)."""
    from .sketches import (
        HLL_ALPHA,
        HLL_CAP,
        HLL_LC_LIMIT,
        HLL_M,
        _lc_case_sql,
        _rho_sql,
    )

    docs = load(spark, "documents", sf_dir).select("doc_id")
    n = docs.count()
    e = _edges(docs, n).localCheckpoint(eager=True)

    hsql = "cast(conv(substr(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint)"
    st = docs.select(
        "doc_id",
        F.expr(f"({hsql}) % {HLL_M}").alias("j"),
        F.expr(_rho_sql(f"(({hsql}) div {HLL_M})")).alias("m"),
    ).localCheckpoint(eager=True)

    an, ad = HLL_ALPHA

    def _nf(state: DataFrame, t: int) -> DataFrame:
        per = state.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("present"),
            F.expr(f"sum(cast(1 as bigint) << ({HLL_CAP} - m))").alias(
                "isp"
            ),
        )
        calc = per.select(
            "doc_id",
            (F.lit(HLL_M) - F.col("present")).cast("long").alias("zeros"),
            (
                F.col("isp")
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
        return calc.select(
            "doc_id",
            F.lit(t).alias("t"),
            F.when(use_lc, F.expr(_lc_case_sql("zeros")))
            .otherwise(F.col("raw"))
            .cast("long")
            .alias("nf"),
        )

    nfs = _nf(st, 0)
    for t in range(1, iters + 1):
        gathered = e.join(st, e.src == st.doc_id).select(
            F.col("dst").alias("doc_id"), "j", "m"
        )
        st = (
            st.unionByName(gathered)
            .groupBy("doc_id", "j")
            .agg(F.max("m").alias("m"))
            .localCheckpoint(eager=True)
        )
        nfs = nfs.unionByName(_nf(st, t))

    wide = nfs.groupBy("doc_id").agg(
        *[
            F.max(F.when(F.col("t") == t, F.col("nf"))).alias(f"nf{t}")
            for t in range(iters + 1)
        ]
    )
    harm = None
    for t in range(1, iters + 1):
        term = F.expr(
            f"(greatest(nf{t} - nf{t - 1}, cast(0 as bigint))"
            f" * {HB_SCALE}) div {t}"
        )
        harm = term if harm is None else harm + term
    return wide.select(
        "doc_id",
        *[f"nf{t}" for t in range(iters + 1)],
        harm.cast("long").alias("iharm"),
    ).orderBy("doc_id")


def hyperball_sql(iters: int = HB_ITERS) -> str:
    from .sketches import (
        HLL_ALPHA,
        HLL_CAP,
        HLL_LC_LIMIT,
        HLL_M,
        _lc_case_sql,
        _rho_sql,
    )

    an, ad = HLL_ALPHA
    h = MD5INT_SQL.format(c="doc_id::VARCHAR")

    def est_cte(state: str, t: int) -> str:
        return (
            f"nf{t} AS MATERIALIZED (SELECT doc_id, {t} AS t, "
            f"(CASE WHEN raw <= {HLL_LC_LIMIT} AND zeros > 0 "
            f"THEN {_lc_case_sql('zeros')} ELSE raw END)::BIGINT AS nf "
            f"FROM (SELECT doc_id, zeros, "
            f"({an}::BIGINT * {HLL_M * HLL_M} * {1 << HLL_CAP}) "
            f"// ({ad} * isum) AS raw "
            f"FROM (SELECT doc_id, ({HLL_M} - count(*))::BIGINT AS zeros, "
            f"(sum(1::BIGINT << ({HLL_CAP} - m)) "
            f" + ({HLL_M} - count(*))::BIGINT * {1 << HLL_CAP}) AS isum "
            f"FROM {state} GROUP BY doc_id)))"
        )

    steps = [est_cte("s0", 0)]
    prev = "s0"
    for t in range(1, iters + 1):
        steps.append(
            f"s{t} AS MATERIALIZED (SELECT doc_id, j, max(m) AS m FROM ("
            f"SELECT * FROM {prev} UNION ALL "
            f"SELECT e.dst AS doc_id, s.j, s.m FROM e "
            f"JOIN {prev} s ON e.src = s.doc_id) GROUP BY doc_id, j)"
        )
        steps.append(est_cte(f"s{t}", t))
        prev = f"s{t}"
    harm = " + ".join(
        f"(greatest(w.nf{t} - w.nf{t - 1}, 0::BIGINT) * {HB_SCALE}) // {t}"
        for t in range(1, iters + 1)
    )
    nf_cols = ", ".join(
        f"max(CASE WHEN t = {t} THEN nf END) AS nf{t}"
        for t in range(iters + 1)
    )
    unions = " UNION ALL ".join(
        f"SELECT * FROM nf{t}" for t in range(iters + 1)
    )
    return f"""
WITH n AS (SELECT count(*) AS c FROM documents),
e0 AS ({_EDGES_SQL}),
e AS MATERIALIZED (SELECT * FROM e0 WHERE src <> dst),
s0 AS MATERIALIZED (
  SELECT doc_id, ({h}) % {HLL_M} AS j,
         {_rho_sql(f'(({h}) // {HLL_M})')} AS m
  FROM documents
),
{', '.join(steps)},
wide AS (SELECT doc_id, {nf_cols} FROM ({unions}) GROUP BY doc_id)
SELECT w.doc_id, {', '.join(f'w.nf{t}' for t in range(iters + 1))},
       ({harm})::BIGINT AS iharm
FROM wide w ORDER BY w.doc_id
"""


# ---------------------------------------------------------------------------
# triangle counting / local clustering coefficient
# ---------------------------------------------------------------------------

TRI_SCALE = 1_000_000  # fixed-point grid for the clustering coefficient


def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-page triangle count and local clustering coefficient over the
    undirected link graph — the link-farm / tightly-knit-community
    signal (spam clusters have anomalously high clustering; cf. the
    TrustRank/spam-mass family). Exact counting, but with the
    DEGREE-ORDERED orientation that makes exact triangle counting run
    at web scale (Cohen 2009 "Graph Twiddling in a MapReduce World";
    Suri & Vassilvitskii 2011): orient every undirected edge from its
    lower-degree endpoint to its higher-degree endpoint (ties by id),
    then wedges are enumerated only at each edge's LOW-degree side, so
    pair generation is Σ d_out(u)² with d_out = O(√E) — a mega-hub of
    degree d costs O(E) wedges, not O(d²).

    Plan shape: undirect+distinct (1 shuffle), degree agg (1), two
    id-equi-joins to attach endpoint degrees, one self-equi-join on the
    wedge apex, one closure equi-join against the canonical edge set,
    and a final per-node agg — every exchange hash-partitioned, no
    windows, no cartesians.

    Output: (doc_id, degree, n_tri, icc) where icc = local clustering
    coefficient on the TRI_SCALE integer grid: 2·n_tri·SCALE div
    (degree·(degree-1)); integer-exact in both engines."""
    docs = load(spark, "documents", sf_dir).select("doc_id")
    n = docs.count()
    e = _edges(docs, n)
    und = (
        e.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=True)  # feeds degrees, orientation, closure
    )
    deg = (
        und.select(F.col("a").alias("v"))
        .unionByName(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("deg").alias("dega"))
    db = deg.select(F.col("v").alias("b"), F.col("deg").alias("degb"))
    lower_first = (F.col("dega") < F.col("degb")) | (
        (F.col("dega") == F.col("degb")) & (F.col("a") < F.col("b"))
    )
    oriented = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("w"),
        )
        .localCheckpoint(eager=True)  # feeds both sides of the wedge join
    )
    o2 = oriented.select(F.col("u").alias("u2"), F.col("w").alias("w2"))
    wedges = oriented.join(o2, (F.col("u") == F.col("u2")) & (F.col("w") < F.col("w2"))).select(
        F.col("u").alias("apex"),
        F.least("w", "w2").alias("a"),
        F.greatest("w", "w2").alias("b"),
    )
    tris = wedges.join(und, ["a", "b"])
    per_node = (
        tris.select(F.col("apex").alias("v"))
        .unionByName(tris.select(F.col("a").alias("v")))
        .unionByName(tris.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    return (
        deg.join(per_node, "v", "left")
        .select(
            F.col("v").alias("doc_id"),
            F.col("deg").alias("degree"),
            F.coalesce("n_tri", F.lit(0)).cast("long").alias("n_tri"),
            F.expr(
                f"CASE WHEN deg >= 2 THEN (2 * coalesce(n_tri, 0)"
                f" * cast({TRI_SCALE} as bigint)) div (deg * (deg - 1))"
                f" ELSE 0 END"
            ).alias("icc"),
        )
        .orderBy("doc_id")
    )


def triangle_count_sql() -> str:
    return f"""
WITH n AS (SELECT count(*) AS c FROM documents),
e0 AS ({_EDGES_SQL}),
e AS (SELECT * FROM e0 WHERE src <> dst),
und AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM e
),
deg AS MATERIALIZED (
  SELECT v, count(*) AS deg FROM (
    SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und
  ) GROUP BY v
),
oriented AS MATERIALIZED (
  SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
              THEN u.a ELSE u.b END AS u,
         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
              THEN u.b ELSE u.a END AS w
  FROM und u JOIN deg da ON u.a = da.v JOIN deg db ON u.b = db.v
),
wedges AS (
  SELECT o1.u AS apex, least(o1.w, o2.w) AS a, greatest(o1.w, o2.w) AS b
  FROM oriented o1 JOIN oriented o2 ON o1.u = o2.u AND o1.w < o2.w
),
tris AS (SELECT w.apex, w.a, w.b FROM wedges w JOIN und USING (a, b)),
per_node AS (
  SELECT v, count(*) AS n_tri FROM (
    SELECT apex AS v FROM tris UNION ALL
    SELECT a AS v FROM tris UNION ALL
    SELECT b AS v FROM tris
  ) GROUP BY v
)
SELECT d.v AS doc_id, d.deg AS degree,
       coalesce(p.n_tri, 0)::BIGINT AS n_tri,
       CASE WHEN d.deg >= 2 THEN (2 * coalesce(p.n_tri, 0)
            * {TRI_SCALE}::BIGINT) // (d.deg * (d.deg - 1))
            ELSE 0 END AS icc
FROM deg d LEFT JOIN per_node p ON d.v = p.v
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# label propagation — community detection
# ---------------------------------------------------------------------------

LPA_ITERS = 4


def label_propagation(
    spark: SparkSession, sf_dir: str, iters: int = LPA_ITERS
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007) over the undirected link graph — the cheap community
    pass a crawl pipeline runs to group template families / topic
    clusters / link neighborhoods before per-community budgeting
    (complements :func:`connected_components`, which only finds
    disconnected islands, and :func:`triangle_count`'s density signal).

    Determinism (vanilla LPA is famously order-dependent): SYNCHRONOUS
    rounds from labels = doc_id, new label = the neighbor label with
    the highest vote count, ties broken by SMALLEST label — stated as
    one integer struct-max, so every engine and every partitioning
    agrees. Isolated nodes keep their own label.

    Scale shape per round: one labels⋈edges equi-join (each edge ships
    one label), one map-side-combined (node, label) vote count, one
    (node) struct-max agg — no windows over the corpus, no label lists
    materialized per node. Per-round lineage checkpoints (the pagerank
    discipline). Output adds the community size via one more map-side
    agg + a label-keyed join."""
    docs = load(spark, "documents", sf_dir).select("doc_id")
    n = docs.count()
    e = _edges(docs, n)
    sym = (
        e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = docs.select("doc_id", F.col("doc_id").alias("lbl"))
    for _ in range(iters):
        votes = (
            sym.join(labels, sym.src == labels.doc_id)
            .groupBy(F.col("dst").alias("v"), "lbl")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        picked = (
            votes.groupBy("v")
            .agg(
                F.max(F.struct(F.col("cnt"), (-F.col("lbl")).alias("nl"))).alias(
                    "best"
                )
            )
            .select(F.col("v").alias("doc_id"), (-F.col("best.nl")).alias("lbl"))
        )
        labels = (
            docs.join(picked, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("lbl", F.col("doc_id")).alias("lbl"),
            )
            .localCheckpoint(eager=True)
        )
    sizes = labels.groupBy("lbl").agg(F.count(F.lit(1)).alias("csize"))
    return (
        labels.join(sizes, "lbl")
        .select("doc_id", F.col("lbl").alias("label"), "csize")
        .orderBy("doc_id")
    )


def label_propagation_sql(iters: int = LPA_ITERS) -> str:
    steps = []
    prev = "l0"
    for t in range(1, iters + 1):
        steps.append(
            f"l{t} AS MATERIALIZED (SELECT d.doc_id, "
            f"coalesce(p.lbl, d.doc_id) AS lbl FROM documents d LEFT JOIN ("
            f"SELECT v AS doc_id, lbl FROM ("
            f"SELECT v, lbl, row_number() OVER ("
            f"PARTITION BY v ORDER BY cnt DESC, lbl) AS rn FROM ("
            f"SELECT e.dst AS v, l.lbl, count(*) AS cnt FROM e "
            f"JOIN {prev} l ON e.src = l.doc_id GROUP BY e.dst, l.lbl)) "
            f"WHERE rn = 1) p ON d.doc_id = p.doc_id)"
        )
        prev = f"l{t}"
    return f"""
WITH n AS (SELECT count(*) AS c FROM documents),
e0 AS ({_EDGES_SQL}),
ed AS (SELECT * FROM e0 WHERE src <> dst),
e AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM ed UNION ALL SELECT dst AS src, src AS dst FROM ed)
),
l0 AS (SELECT doc_id, doc_id AS lbl FROM documents),
{', '.join(steps)},
sizes AS (SELECT lbl, count(*) AS csize FROM {prev} GROUP BY lbl)
SELECT l.doc_id, l.lbl AS label, s.csize
FROM {prev} l JOIN sizes s USING (lbl)
ORDER BY l.doc_id
"""


# ---------------------------------------------------------------------------
# k-core decomposition (bounded peel rounds)
# ---------------------------------------------------------------------------

KCORE_K = 4
KCORE_ROUNDS = 8


def kcore_decomposition(
    spark: SparkSession,
    sf_dir: str,
    k: int = KCORE_K,
    rounds: int = KCORE_ROUNDS,
) -> DataFrame:
    """k-core membership over the undirected link graph: iteratively
    peel nodes of degree < k; what survives is the k-core — the dense
    backbone (link-farm cores, navigational hubs; Seidman 1983, and the
    standard web-graph peeling analysis of Alvarez-Hamelin et al.).
    Crawl use: the 3-core is where template/link-farm families
    concentrate; pages peeled in round 1 are the periphery.

    BOUNDED-ROUND semantics, stated in the contract: exactly
    ``rounds`` synchronous peel rounds in both engines — web-scale runs
    bound peel depth the same way (a pathological chain can need O(V)
    peels; bounding rounds caps cost and yields the well-defined
    "degree >= k after R peels" set). At sf0.001 the bound covers the
    true fixed point (converges in 4 rounds; pinned in tests); the
    larger synthetic graphs contain a 2-nodes-per-round peel chain, so
    their 8-round result is the documented bounded semantics, not the
    limit k-core.

    Scale shape per round: one degree agg over surviving edges
    (map-side combined) + two semi-joins to drop edges touching peeled
    nodes — no windows, no driver-side convergence collect in the
    registered query (the audit loop in connected_components shows the
    fingerprint alternative when rounds must be data-dependent).

    Output: (doc_id, peel_round, in_core, final_deg) — peel_round = the
    1-based round the node was removed (NULL-free: -1 if it survives),
    final_deg = its degree inside the surviving core (0 if peeled)."""
    docs = load(spark, "documents", sf_dir).select("doc_id")
    n = docs.count()
    e = _edges(docs, n)
    und = (
        e.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    # nodes that ever appear in an edge; isolated docs peel in round 1
    peeled = None  # DataFrame (doc_id, peel_round)
    cur = und
    for r in range(1, rounds + 1):
        deg = (
            cur.select(F.col("a").alias("v"))
            .unionByName(cur.select(F.col("b").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        # docs not incident to any surviving edge OR with deg < k peel
        # this round (if not already peeled)
        alive_prev = docs.join(
            peeled.select("doc_id") if peeled is not None else docs.limit(0),
            "doc_id",
            "left_anti",
        )
        survivors = deg.filter(F.col("deg") >= k).select(F.col("v").alias("doc_id"))
        drop = alive_prev.join(survivors, "doc_id", "left_anti").select(
            "doc_id", F.lit(r).alias("peel_round")
        )
        # NOTE (round 6): keeping `peeled` lazy here (chained
        # anti-joins, no per-round checkpoint) was tried and REVERTED —
        # it tripled the query's wall time (3.1 s → 8.8 s at sf0.1):
        # the nested chain re-optimizes and re-evaluates every prior
        # round's degree subtree at each reference. The per-round
        # materialization is load-bearing, not overhead.
        # the two per-round materializations depend only on the PRIOR
        # round's checkpointed frames, not on each other — overlap them
        # from two driver threads (guide §2.6): per-round wall becomes
        # max of the two jobs instead of their sum, identical frames
        prev_peeled, prev_cur = peeled, cur
        peeled, cur = run_parallel(
            lambda: (
                drop
                if prev_peeled is None
                else prev_peeled.unionByName(drop)
            ).localCheckpoint(eager=True),
            lambda: prev_cur.join(
                survivors.select(F.col("doc_id").alias("a")), "a"
            )
            .join(survivors.select(F.col("doc_id").alias("b")), "b")
            .select("a", "b")
            .localCheckpoint(eager=True),
        )
    fdeg = (
        cur.select(F.col("a").alias("v"))
        .unionByName(cur.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("final_deg"))
    )
    return (
        docs.join(peeled, "doc_id", "left")
        .join(fdeg.select(F.col("v").alias("doc_id"), "final_deg"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("peel_round", F.lit(-1)).cast("int").alias("peel_round"),
            (F.col("peel_round").isNull()).alias("in_core"),
            F.coalesce("final_deg", F.lit(0)).cast("long").alias("final_deg"),
        )
        .orderBy("doc_id")
    )


def kcore_sql(k: int = KCORE_K, rounds: int = KCORE_ROUNDS) -> str:
    steps = []
    prev_e = "und"
    prev_p = None
    for r in range(1, rounds + 1):
        steps.append(
            f"deg{r} AS MATERIALIZED (SELECT v, count(*) AS deg FROM ("
            f"SELECT a AS v FROM {prev_e} UNION ALL SELECT b AS v FROM {prev_e}"
            f") GROUP BY v)"
        )
        steps.append(
            f"p{r} AS MATERIALIZED ("
            + (f"SELECT * FROM {prev_p} UNION ALL " if prev_p else "")
            + f"SELECT d.doc_id, {r} AS peel_round FROM documents d "
            f"WHERE d.doc_id NOT IN (SELECT v FROM deg{r} WHERE deg >= {k})"
            + (f" AND d.doc_id NOT IN (SELECT doc_id FROM {prev_p})" if prev_p else "")
            + ")"
        )
        steps.append(
            f"e{r} AS MATERIALIZED (SELECT a, b FROM {prev_e} "
            f"WHERE a IN (SELECT v FROM deg{r} WHERE deg >= {k}) "
            f"AND b IN (SELECT v FROM deg{r} WHERE deg >= {k}))"
        )
        prev_e = f"e{r}"
        prev_p = f"p{r}"
    return f"""
WITH n AS (SELECT count(*) AS c FROM documents),
e0 AS ({_EDGES_SQL}),
ed AS (SELECT * FROM e0 WHERE src <> dst),
und AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM ed
),
{', '.join(steps)},
fdeg AS (SELECT v, count(*) AS final_deg FROM (
  SELECT a AS v FROM {prev_e} UNION ALL SELECT b AS v FROM {prev_e}
) GROUP BY v)
SELECT d.doc_id,
       coalesce(p.peel_round, -1)::INT AS peel_round,
       p.peel_round IS NULL AS in_core,
       coalesce(f.final_deg, 0)::BIGINT AS final_deg
FROM documents d
LEFT JOIN {prev_p} p USING (doc_id)
LEFT JOIN fdeg f ON d.doc_id = f.v
ORDER BY d.doc_id
"""


# ---------------------------------------------------------------------------
# Spearman rank correlation between two crawl-priority rankers
# ---------------------------------------------------------------------------


def rank_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host Spearman rank correlation between the two registered
    frontier-priority signals — converged PageRank vs online OPIC — the
    evaluation a crawl operator runs before swapping rankers ("does the
    cheap online score order my hosts' pages like the expensive
    converged one?"). High ρ on a host ⇒ OPIC is a safe drop-in there;
    low ρ hosts are where the cash-diffusion approximation diverges.

    REUSES both registered operators verbatim (their unrolled integer
    fixed-point loops), then: one doc_id join, one source join, ranks
    within each host by (score desc, doc_id) — a window with per-HOST
    bounded fan-in, never a global sort — and the exact integer
    Σd² folds map-side per host. ρ = 1 − 6Σd²/(n(n²−1)) is the one
    division, same-int/same-int in both engines (ties broken by
    doc_id, stated in the ORDER — the classifier-AUC midrank approach
    is unnecessary here because the tie-break makes ranks total).
    """
    # shared e2 across the two member rankers (round 6, spam_mass
    # discipline — they build identical degree-annotated edge tables)
    dd = load(spark, "documents", sf_dir).select("doc_id")
    e2 = _e2_table(_edges(dd, dd.count()))
    # independent member loops over the shared e2 → two driver threads
    # (guide §2.6, spam_mass discipline): per-iteration latencies
    # overlap, identical score tables
    pr_raw, op_raw = run_parallel(
        lambda: pagerank(spark, sf_dir, _e2=e2),
        lambda: opic_priority(spark, sf_dir, _e2=e2),
    )
    pr = pr_raw.select("doc_id", "score")
    op = op_raw.select("doc_id", "priority")
    src = load(spark, "documents", sf_dir).select("doc_id", "source")
    j = src.join(pr, "doc_id").join(op, "doc_id")
    wp = Window.partitionBy("source").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    wo = Window.partitionBy("source").orderBy(
        F.desc("priority"), F.asc("doc_id")
    )
    ranked = j.select(
        "source",
        F.row_number().over(wp).alias("rp"),
        F.row_number().over(wo).alias("ro"),
    )
    d2 = (F.col("rp") - F.col("ro")).cast("long")
    g = ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d2 * d2).alias("isum_d2"),
    )
    # ρ on the integer ppm grid (filter_agreement's kappa_ppm idiom):
    # num = n(n²−1) − 6Σd², rho_ppm = sign(num)·(|num|·10⁶ div n(n²−1)).
    # Integer-exact in both engines — no double rounding boundary to
    # flip cross-engine — and NULL-gated on n ≥ 2 (denominator 0).
    # |num|·10⁶ wraps int64 once den > 2⁶³/10⁶ (a source with ≥ ~21k
    # docs), so past that bound BOTH engines take the identical
    # int64-derived-double floor path (the icos discipline: |num| ≤ den
    # keeps the ratio in [0,1], one correctly-rounded IEEE divide +
    # multiply + floor — engine-identical); below it the exact integer
    # div is unchanged, so driver-scale values are untouched.
    # n³ itself wraps int64 at n ≥ 2^21 (round-6 ADVICE): past ~2.1M
    # docs in ONE source the exact den is uncomputable in int64, Spark
    # would wrap silently and DuckDB would raise — so the verdict is
    # NULL-gated there instead (NULL den propagates through num and
    # rho_ppm below). Every tested scale sits far under the gate, so
    # driver-scale values are bit-identical.
    den = F.when(
        F.col("n") <= F.lit((1 << 21) - 1),
        (F.col("n") * (F.col("n") * F.col("n") - 1)).cast("long"),
    ).otherwise(F.lit(None).cast("long"))
    safe = (1 << 63) // 1_000_000  # 9_223_372_036_854
    return (
        g.withColumn("__den", den)
        .withColumn("__num", F.col("__den") - 6 * F.col("isum_d2"))
        .select(
            "source",
            "n",
            "isum_d2",
            F.when(F.col("__den") == 0, F.lit(None).cast("long"))
            .otherwise(
                (
                    F.signum("__num").cast("long")
                    * F.when(
                        F.col("__den") <= safe,
                        F.expr("abs(__num * 1000000) div __den"),
                    ).otherwise(
                        F.floor(
                            F.abs("__num").cast("double")
                            / F.col("__den").cast("double")
                            * F.lit(1_000_000.0)
                        )
                    )
                ).cast("long")
            )
            .alias("rho_ppm"),
        )
        .orderBy("source")
    )


def rank_correlation_sql() -> str:
    return f"""
WITH pr AS MATERIALIZED (SELECT doc_id, score FROM ({pagerank_sql()})),
op AS MATERIALIZED (SELECT doc_id, priority FROM ({opic_priority_sql()})),
j AS (
  SELECT d.source, pr.score, op.priority, d.doc_id
  FROM documents d JOIN pr USING (doc_id) JOIN op USING (doc_id)
),
ranked AS (
  SELECT source,
         row_number() OVER (PARTITION BY source
                            ORDER BY score DESC, doc_id) AS rp,
         row_number() OVER (PARTITION BY source
                            ORDER BY priority DESC, doc_id) AS ro
  FROM j
),
g AS (
  SELECT source, count(*) AS n,
         sum(((rp - ro)::BIGINT) * ((rp - ro)::BIGINT))::BIGINT AS isum_d2
  FROM ranked GROUP BY source
),
g2 AS (
  SELECT source, n, isum_d2,
         (n * (n * n - 1))::BIGINT AS den,
         ((n * (n * n - 1)) - 6 * isum_d2)::BIGINT AS num
  FROM g
)
SELECT source, n, isum_d2,
       CASE WHEN den = 0 THEN NULL
            ELSE (CASE WHEN num < 0 THEN -1 ELSE 1 END
                  * (CASE WHEN den <= 9223372036854
                          THEN abs(num * 1000000) // den
                          ELSE floor(abs(num)::DOUBLE / den::DOUBLE
                                     * 1000000.0)::BIGINT
                     END))::BIGINT END AS rho_ppm
FROM g2 ORDER BY source
"""


# ---------------------------------------------------------------------------
# effective diameter from the HyperBall neighborhood function
# ---------------------------------------------------------------------------

EFF_DIAM_PCT = 90  # the classic "90% effective diameter"


def effective_diameter(
    spark: SparkSession, sf_dir: str, iters: int = HB_ITERS
) -> DataFrame:
    """Corpus-level neighborhood function and 90% effective diameter —
    the web-graph connectivity audit (Boldi & Vigna run exactly this on
    top of HyperBall; Leskovec et al.'s "graphs over time" popularized
    the 90% definition): N(t) = Σ_v |B_in(v,t)| counts reachable pairs
    within t hops; the effective diameter is the smallest t whose N(t)
    covers EFF_DIAM_PCT% of N(T). A shrinking effective diameter over
    crawl snapshots means the frontier is entering the dense core;
    pages outside it are the disconnected periphery.

    REUSES the registered hyperball_centrality operator verbatim (per
    iteration: one edge equi-join + one register max-merge, 64
    rows/node state) and adds ONE |V|-row aggregate per hop — the
    whole audit costs one extra dimension-sized pass. Integer-exact:
    the coverage verdict is stated as 100·N(t) >= pct·N(T)."""
    hb = hyperball_centrality(spark, sf_dir, iters=iters)
    sums = hb.agg(
        *[
            F.sum(f"nf{t}").cast("long").alias(f"s{t}")
            for t in range(iters + 1)
        ]
    )
    rows = []
    for t in range(iters + 1):
        rows.append(
            F.struct(
                F.lit(t).alias("t"),
                F.col(f"s{t}").alias("inf_total"),
                F.expr(f"(s{t} * 10000) div s{iters}").alias("coverage_bp"),
                (
                    F.lit(100) * F.col(f"s{t}")
                    >= F.lit(EFF_DIAM_PCT) * F.col(f"s{iters}")
                ).alias("covers"),
            )
        )
    return (
        sums.select(F.explode(F.array(*rows)).alias("r"))
        .select("r.t", "r.inf_total", "r.coverage_bp", "r.covers")
        .orderBy("t")
    )


def effective_diameter_sql(iters: int = HB_ITERS) -> str:
    inner = hyperball_sql(iters)
    sums = ", ".join(
        f"sum(nf{t})::BIGINT AS s{t}" for t in range(iters + 1)
    )
    rows = " UNION ALL ".join(
        f"SELECT {t} AS t, s{t} AS inf_total, "
        f"(s{t} * 10000) // s{iters} AS coverage_bp, "
        f"100 * s{t} >= {EFF_DIAM_PCT} * s{iters} AS covers FROM sums"
        for t in range(iters + 1)
    )
    return f"""
WITH hb AS MATERIALIZED ({inner}),
sums AS (SELECT {sums} FROM hb)
SELECT t, inf_total, coverage_bp, covers FROM ({rows})
ORDER BY t
"""


# ---------------------------------------------------------------------------
# warm-start (incremental) PageRank after a graph delta
# ---------------------------------------------------------------------------

WARM_ITERS = 2  # refresh budget after a wave lands


def pagerank_warm_start(
    spark: SparkSession, sf_dir: str, warm_iters: int = WARM_ITERS
) -> DataFrame:
    """Incremental PageRank maintenance — the question every
    per-wave-recomputing crawler eventually asks: after a wave adds a
    small edge delta, do NOT rerun the full iteration count; seed the
    loop with yesterday's scores and run a short refresh (the classic
    warm-start/restart argument: power iteration converges from any
    start, and yesterday's vector is already near the new fixed point
    when the delta is small — Langville & Meyer's "updating PageRank"
    analysis). The operator measures the claim rather than assuming
    it: per page, |warm_k − full| vs |cold_k − full| where full is the
    converged rank on the post-delta graph, warm_k seeds from the
    pre-delta ranks, cold_k seeds uniform, both run k = WARM_ITERS
    iterations.

    Delta model: the three standard generators are the pre-wave graph;
    pages with doc_id % 10 == 0 gain one out-link to (7·d + 11) mod n — a wave touching 10% of pages. On shipped data
    the warm gap is ~5-6× smaller (pinned in tests): the measured
    license to run 1-2 refresh iterations per wave instead of a full
    recompute — at 10^10 pages that is the difference between a
    maintenance pass and a daily batch job.

    Same integer fixed-point discipline as pagerank (bit-identical
    unrolled-CTE oracle); per-iteration lineage checkpoints; the four
    rank vectors are doc_id-keyed equi-joins at the end."""
    docs = load(spark, "documents", sf_dir).select("doc_id")
    n = docs.count()
    e_old = _edges(docs, n)
    delta = docs.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * 7 + 11) % n).alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    e_new = e_old.unionByName(delta)

    def loop(e2: DataFrame, iters: int, seed: DataFrame) -> DataFrame:
        return _pagerank(e2, docs, seed, F.lit(BASE).cast("long"), iters)

    uniform = docs.select(
        "doc_id", F.lit(SCALE).cast("long").alias("score")
    )
    # round 6: the post-delta degree-annotated edge table is built ONCE
    # and shared by the full/warm/cold loops (it was re-built and
    # re-checkpointed per loop — two redundant corpus passes)
    e2_old, e2_new = run_parallel(
        lambda: _e2_table(e_old), lambda: _e2_table(e_new)
    )
    # dependency graph: old → warm; full and cold depend only on
    # e2_new. Three driver threads (guide §2.6) collapse the 2·ITERS +
    # 2·warm_iters sequential job rounds to max(ITERS + warm_iters,
    # ITERS, warm_iters) — the longest chain — with identical scores
    # (each loop's checkpoints are its own thread's lineage).
    full, warm, cold = run_parallel(
        lambda: loop(e2_new, ITERS, uniform),
        lambda: loop(e2_new, warm_iters, loop(e2_old, ITERS, uniform)),
        lambda: loop(e2_new, warm_iters, uniform),
    )
    return (
        full.select("doc_id", F.col("score").alias("full"))
        .join(warm.select("doc_id", F.col("score").alias("warm")), "doc_id")
        .join(cold.select("doc_id", F.col("score").alias("cold")), "doc_id")
        .select(
            "doc_id",
            "full",
            "warm",
            "cold",
            F.abs(F.col("warm") - F.col("full")).alias("warm_gap"),
            F.abs(F.col("cold") - F.col("full")).alias("cold_gap"),
        )
        .withColumn(
            "warm_closer", F.col("warm_gap") <= F.col("cold_gap")
        )
        .orderBy("doc_id")
    )


def pagerank_warm_start_sql(warm_iters: int = WARM_ITERS) -> str:
    def loop_ctes(tag: str, e: str, iters: int, seed: str) -> list[str]:
        steps = [
            f"od_{tag} AS (SELECT src, count(*) AS outdeg FROM {e} GROUP BY src)"
        ]
        prev = seed
        for k in range(1, iters + 1):
            steps.append(
                f"{tag}{k} AS MATERIALIZED (SELECT d.doc_id, "
                f"({BASE} + coalesce(x.m, 0))::BIGINT AS score "
                f"FROM documents d LEFT JOIN ("
                f"SELECT e.dst, sum((s.score * {DAMP_NUM}) "
                f"// ({DAMP_DEN} * od.outdeg)) AS m "
                f"FROM {e} e JOIN {prev} s ON e.src = s.doc_id "
                f"JOIN od_{tag} od ON e.src = od.src GROUP BY e.dst"
                f") x ON d.doc_id = x.dst)"
            )
            prev = f"{tag}{k}"
        return steps

    ctes = (
        loop_ctes("o", "eo", ITERS, "u0")
        + loop_ctes("f", "en", ITERS, "u0")
        + loop_ctes("w", "en", warm_iters, f"o{ITERS}")
        + loop_ctes("c", "en", warm_iters, "u0")
    )
    return f"""
WITH n AS (SELECT count(*) AS c FROM documents),
e0 AS ({_EDGES_SQL}),
eo AS MATERIALIZED (SELECT * FROM e0 WHERE src <> dst),
dl AS (SELECT doc_id AS src, (doc_id * 7 + 11) % (SELECT c FROM n) AS dst
       FROM documents WHERE doc_id % 10 = 0),
en AS MATERIALIZED (
  SELECT * FROM eo UNION ALL SELECT * FROM dl WHERE src <> dst),
u0 AS (SELECT doc_id, {SCALE}::BIGINT AS score FROM documents),
{', '.join(ctes)}
SELECT f.doc_id, f.score AS full, w.score AS warm, c.score AS cold,
       abs(w.score - f.score) AS warm_gap,
       abs(c.score - f.score) AS cold_gap,
       abs(w.score - f.score) <= abs(c.score - f.score) AS warm_closer
FROM f{ITERS} f
JOIN w{warm_iters} w USING (doc_id)
JOIN c{warm_iters} c USING (doc_id)
ORDER BY f.doc_id
"""


# ---------------------------------------------------------------------------
# SALSA — stochastic hub/authority scoring (Lempel & Moran, WWW 2000)
# ---------------------------------------------------------------------------

SALSA_ITERS = 3


def salsa_scores(
    spark: SparkSession, sf_dir: str, iters: int = SALSA_ITERS
) -> DataFrame:
    """SALSA (Lempel & Moran 2000): the stochastic variant of HITS —
    authority(i) ← Σ_{j→i} hub(j)/outdeg(j), hub(j) ← Σ_{j→i}
    authority(i)/indeg(i). The degree normalization is built into the
    propagation step, so unlike HITS there is NO global L1 normalizer
    between half-steps: mass is conserved by construction. That makes
    SALSA strictly cheaper per iteration at cluster scale — each
    half-step is ONE equi-join + ONE map-side-combined agg, with no
    scalar-broadcast (crossJoin) stage at all — and it is the variant
    large link-graph recommenders actually deploy (Twitter's
    who-to-follow service, Gupta et al. WWW 2013, runs SALSA, not
    HITS, for exactly this reason).
    It also resists the TKC (tightly-knit community) drift HITS has:
    scores converge toward per-component degree proportions, not to
    the principal eigenvector of a dense block.

    Determinism: same integer fixed-point discipline as pagerank/hits —
    scores scaled by 10^6, per-edge shares are exact `div`s (the floor
    remainder is deterministic lost mass, identical cross-engine), so
    the unrolled-CTE DuckDB oracle matches bit-for-bit. Degree columns
    ride on the edge table built once and lineage-checkpointed; the
    score loop checkpoints per iteration like pagerank (without it,
    iteration k replans all k-1 predecessors).

    Reference parity: the reference has no link-analysis layer (its
    links table feeds only linked_from lookups, web/app.js:1285+);
    SALSA extends SURVEY §2's graph family (pagerank/hits/trustrank/
    opic) with the degree-normalized member."""
    docs = load(spark, "documents", sf_dir).select("doc_id")
    e = _edges(docs, docs.count())
    indeg = e.groupBy("dst").agg(F.count(F.lit(1)).alias("indeg"))
    e3 = _e2_table(e.join(indeg, "dst"))

    def _filled(sums: DataFrame, col: str) -> DataFrame:
        return docs.join(sums, "doc_id", "left").select(
            "doc_id", F.coalesce("m", F.lit(0)).alias(col)
        )

    hub = docs.select("doc_id", F.lit(SCALE).cast("long").alias("hub"))
    auth = None
    for _ in range(iters):
        # the auth half-step stays LAZY (round 6): it is referenced
        # exactly once — by the hub half-step below (and, after the
        # final iteration, once by the output join) — so folding it
        # into the hub job halves the per-iteration job rounds with a
        # bounded depth-2 plan per checkpoint (no lineage compounding;
        # identical integer sums either way)
        auth = _filled(_gather(e3, hub, "src", "dst", "hub div outdeg"), "auth")
        hub = _filled(
            _gather(e3, auth, "dst", "src", "auth div indeg"), "hub"
        ).localCheckpoint(eager=True)
    return _ranked(
        hub.join(auth, "doc_id"), "auth", "doc_id", "doc_id", "hub", "auth"
    )


def salsa_sql(iters: int = SALSA_ITERS) -> str:
    steps = []
    prev_hub = "h0"
    prev_auth = None
    for k in range(1, iters + 1):
        steps.append(
            f"a{k} AS MATERIALIZED (SELECT d.doc_id, coalesce(x.s, 0)::BIGINT AS auth "
            f"FROM documents d LEFT JOIN (SELECT e3.dst, sum(h.hub // e3.outdeg) AS s "
            f"FROM e3 JOIN {prev_hub} h ON e3.src = h.doc_id GROUP BY e3.dst) x "
            f"ON d.doc_id = x.dst)"
        )
        prev_auth = f"a{k}"
        steps.append(
            f"h{k} AS MATERIALIZED (SELECT d.doc_id, coalesce(x.s, 0)::BIGINT AS hub "
            f"FROM documents d LEFT JOIN (SELECT e3.src, sum(a.auth // e3.indeg) AS s "
            f"FROM e3 JOIN {prev_auth} a ON e3.dst = a.doc_id GROUP BY e3.src) x "
            f"ON d.doc_id = x.src)"
        )
        prev_hub = f"h{k}"
    return f"""
WITH n AS (SELECT count(*) AS c FROM documents),
e0 AS ({_EDGES_SQL}),
e AS MATERIALIZED (SELECT * FROM e0 WHERE src <> dst),
od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
id_ AS (SELECT dst, count(*) AS indeg FROM e GROUP BY dst),
e3 AS MATERIALIZED (
  SELECT e.src, e.dst, od.outdeg, id_.indeg
  FROM e JOIN od USING (src) JOIN id_ USING (dst)),
h0 AS (SELECT doc_id, {SCALE}::BIGINT AS hub FROM documents),
{', '.join(steps)}
SELECT h.doc_id, h.hub, a.auth,
       row_number() OVER (ORDER BY a.auth DESC, h.doc_id ASC) AS rnk
FROM {prev_hub} h JOIN {prev_auth} a ON h.doc_id = a.doc_id
ORDER BY rnk
"""


# ---------------------------------------------------------------------------
# Resource-Allocation link prediction (Zhou, Lü & Zhang, EPJ B 2009)
# ---------------------------------------------------------------------------

RA_MAX_DEG = 64  # middle-node degree cap (contribution ≤ SCALE/deg)
RA_TOPK = 50


def linkpred_resource_alloc(
    spark: SparkSession, sf_dir: str, k: int = RA_TOPK
) -> DataFrame:
    """Resource-Allocation link prediction (Zhou, Lü & Zhang 2009):
    score(u,v) = Σ_{z ∈ Γ(u)∩Γ(v)} 1/deg(z) over common neighbors in
    the undirected link graph, ranked over non-adjacent pairs — the
    "which links are missing" signal a crawler uses to prioritize
    frontier candidates and a related-pages feature complementing
    cocitation_similarity (which counts shared in-links; RA weights
    every shared neighbor by its selectivity). RA beats Adamic-Adar
    empirically in the original study AND is exactly representable
    here: 1/deg is a pure rational, so scores are exact integers on
    the SCALE grid with no cross-engine log() drift.

    Skew discipline: pair generation is z-centric (all pairs of Γ(z)),
    so a degree-d middle node costs O(d²) wedges. Nodes with
    deg > RA_MAX_DEG are EXCLUDED as middle nodes — principled, not a
    truncation: their per-pair contribution is ≤ SCALE/deg (vanishing
    by construction), and production link-pred systems drop
    high-degree middles for the same reason (a hub connecting
    everything predicts nothing). Same df-cap discipline as
    dedup_ngram_jaccard's posting lists; the cap bounds the wedge
    count by RA_MAX_DEG·E regardless of hub size. On the shipped
    graphs (max deg ≈ 20 at sf0.01) the cap is inactive, so tests pin
    EXACT RA; at sf0.1 the %37 hubs exceed it and both engines apply
    the identical cap.

    Plan shape: one symmetrize+distinct, one self-equi-join on the
    middle node (the only quadratic-risk stage, bounded by the cap),
    one map-side score agg, one anti-join against the adjacency to
    keep non-edges, then global top-k via orderBy+limit (k rows; the
    rank window runs on the k-row result, never the full pair set)."""
    docs = load(spark, "documents", sf_dir).select("doc_id")
    n = docs.count()
    e = _edges(docs, n)
    und = (
        e.select("src", "dst")
        .unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = und.groupBy(F.col("src").alias("z")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    nbrs = (
        und.select(F.col("src").alias("z"), F.col("dst").alias("x"))
        .join(deg, "z")
        .filter(F.col("deg") <= RA_MAX_DEG)
    )
    a = nbrs.select("z", F.col("x").alias("u"), "deg")
    b = nbrs.select("z", F.col("x").alias("v"))
    pairs = a.join(b, "z").filter(F.col("u") < F.col("v"))
    scored = pairs.groupBy("u", "v").agg(
        F.sum(F.expr(f"{SCALE} div deg")).alias("ra_score"),
        F.count(F.lit(1)).alias("n_common"),
    )
    non_edges = scored.join(
        und,
        (scored.u == und.src) & (scored.v == und.dst),
        "left_anti",
    )
    top = non_edges.orderBy(
        F.desc("ra_score"), F.asc("u"), F.asc("v")
    ).limit(k)
    w = Window.orderBy(F.desc("ra_score"), F.asc("u"), F.asc("v"))
    return (
        top.withColumn("rnk", F.row_number().over(w))
        .select("u", "v", "ra_score", "n_common", "rnk")
        .orderBy("rnk")
    )


def linkpred_sql(k: int = RA_TOPK) -> str:
    return f"""
WITH n AS (SELECT count(*) AS c FROM documents),
e0 AS ({_EDGES_SQL}),
e AS (SELECT * FROM e0 WHERE src <> dst),
und AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e)),
deg AS (SELECT src AS z, count(*) AS deg FROM und GROUP BY src),
nbrs AS MATERIALIZED (
  SELECT u.src AS z, u.dst AS x, d.deg
  FROM und u JOIN deg d ON u.src = d.z
  WHERE d.deg <= {RA_MAX_DEG}),
scored AS (
  SELECT a.x AS u, b.x AS v,
         sum({SCALE} // a.deg)::BIGINT AS ra_score,
         count(*) AS n_common
  FROM nbrs a JOIN nbrs b ON a.z = b.z AND a.x < b.x
  GROUP BY a.x, b.x),
non_edges AS (
  SELECT s.* FROM scored s
  WHERE NOT EXISTS (
    SELECT 1 FROM und WHERE und.src = s.u AND und.dst = s.v)),
top AS (
  SELECT * FROM non_edges
  ORDER BY ra_score DESC, u ASC, v ASC LIMIT {k})
SELECT u, v, ra_score, n_common,
       row_number() OVER (ORDER BY ra_score DESC, u ASC, v ASC) AS rnk
FROM top ORDER BY rnk
"""


# ---------------------------------------------------------------------------
# Bow-tie web structure (Broder et al., WWW 2000)
# ---------------------------------------------------------------------------

BT_HOPS = 8
BT_DEAD_MOD = 10  # pages with md5 % BT_DEAD_MOD == BT_DEAD_RES yield no out-links
BT_DEAD_RES = 7


def bowtie_structure(
    spark: SparkSession, sf_dir: str, max_hops: int = BT_HOPS
) -> DataFrame:
    """Broder bow-tie classification (Broder et al. 2000, "Graph
    structure in the Web"): every page lands in CORE (reaches AND is
    reached by the central component), IN (feeds the core but is not
    reached back), OUT (reached from the core, never returns), or
    TENDRIL (neither) — the macro-structure readout that tells a
    crawler where its seeds sit (seeds deep in OUT never discover IN)
    and how much of the web a core-seeded crawl can ever cover.

    Crawl-reality edge model: pages whose md5 lands in the
    BT_DEAD_RES class (~10%) contribute NO out-links — fetch
    failures, media documents, robots-blocked pages — exactly the
    dead-end mass a real crawl has and the reason OUT/TENDRIL exist
    at all (an out-degree-3-everywhere generator graph has no sinks
    and collapses to CORE+IN; measured before this model was chosen).
    Both engines derive the identical dead set from md5, so the graph
    is bit-identical cross-engine.

    The central component is approximated by bounded forward/backward
    BFS from the max-indegree pivot (ties → smallest id) — the
    standard bounded probe; CORE here = {reaches pivot ∧ reached by
    pivot within BT_HOPS}, a horizon-bounded SCC estimate like
    kcore's bounded peel, documented rather than hidden. The pivot is
    a 1-ROW FRAME seeding the BFS (orderBy+limit — no driver
    collect). Both BFS directions are delta-frontier loops
    (seed_distance_bfs discipline: per hop, join only the new
    frontier, anti-join visited, checkpoint — O(reachable), not
    O(V·hops))."""
    docs = load(spark, "documents", sf_dir).select("doc_id")
    n = docs.count()
    dead = F.pmod(
        md5int(F.concat(F.lit("dead:"), F.col("src").cast("string"))),
        F.lit(BT_DEAD_MOD),
    ) == F.lit(BT_DEAD_RES)
    e = _edges(docs, n).filter(~dead).localCheckpoint(eager=True)
    pivot = (
        e.groupBy("dst")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("dst"))
        .limit(1)
        .select(F.col("dst").alias("doc_id"))
    )

    # forward and backward BFS are independent given the checkpointed
    # edge table — two driver threads (guide §2.6) overlap the 2 ×
    # max_hops per-hop job rounds; visited sets identical
    fwd_v, bwd_v = run_parallel(
        lambda: _bfs(pivot, e, "src", "dst", max_hops),
        lambda: _bfs(pivot, e, "dst", "src", max_hops),
    )
    fwd = fwd_v.withColumnRenamed("dist", "fwd_dist")
    bwd = bwd_v.withColumnRenamed("dist", "bwd_dist")
    out = (
        docs.join(fwd, "doc_id", "left")
        .join(bwd, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("fwd_dist", F.lit(-1)).cast("int").alias("fwd_dist"),
            F.coalesce("bwd_dist", F.lit(-1)).cast("int").alias("bwd_dist"),
        )
        .withColumn(
            "cls",
            F.when(
                (F.col("fwd_dist") >= 0) & (F.col("bwd_dist") >= 0), "CORE"
            )
            .when(F.col("fwd_dist") >= 0, "OUT")
            .when(F.col("bwd_dist") >= 0, "IN")
            .otherwise("TENDRIL"),
        )
        .orderBy("doc_id")
    )
    return out


def bowtie_sql(max_hops: int = BT_HOPS) -> str:
    deadsql = MD5INT_SQL.format(c="'dead:' || CAST(src AS VARCHAR)")
    bfs = _bfs_ctes("f", "src", "dst", max_hops) + _bfs_ctes(
        "b", "dst", "src", max_hops
    )
    return f"""
WITH n AS (SELECT count(*) AS c FROM documents),
e0 AS ({_EDGES_SQL}),
e AS MATERIALIZED (
  SELECT * FROM e0
  WHERE src <> dst AND {deadsql} % {BT_DEAD_MOD} <> {BT_DEAD_RES}),
piv AS (SELECT dst AS doc_id FROM (
  SELECT dst, count(*) AS c FROM e GROUP BY dst
  ORDER BY c DESC, dst ASC LIMIT 1)),
f0 AS (SELECT doc_id, 0 AS dist FROM piv),
b0 AS (SELECT doc_id, 0 AS dist FROM piv),
{', '.join(bfs)}
SELECT d.doc_id,
       coalesce(f.dist, -1)::INT AS fwd_dist,
       coalesce(b.dist, -1)::INT AS bwd_dist,
       CASE WHEN f.dist IS NOT NULL AND b.dist IS NOT NULL THEN 'CORE'
            WHEN f.dist IS NOT NULL THEN 'OUT'
            WHEN b.dist IS NOT NULL THEN 'IN'
            ELSE 'TENDRIL' END AS cls
FROM documents d
LEFT JOIN f{max_hops} f ON d.doc_id = f.doc_id
LEFT JOIN b{max_hops} b ON d.doc_id = b.doc_id
ORDER BY d.doc_id
"""


# ---------------------------------------------------------------------------
# Random-walk corpus generation (DeepWalk / node2vec preprocessing)
# ---------------------------------------------------------------------------

WALK_LEN = 6


def random_walks(
    spark: SparkSession, sf_dir: str, length: int = WALK_LEN
) -> DataFrame:
    """Generate one fixed-length random walk per node over the link
    graph — the corpus-construction step of DeepWalk (Perozzi et al.
    KDD 2014) / node2vec (Grover & Leskovec KDD 2016): walks are the
    "sentences" a skip-gram embedding trains on, and at web scale the
    walk generation IS the heavy job (the embedding step consumes its
    output). One walk per node per epoch here; more epochs = more salt
    values, same plan.

    Determinism (the repo's randomness discipline, cf. dsir's
    md5-Gumbel draw): the step-t choice out of cur is the out-edge
    whose per-source rank equals md5('walk:'‖start‖t‖cur) mod
    outdeg(cur) — a hash-indexed uniform draw both engines compute
    identically, salted by (start, t) so walks neither correlate
    across starts nor cycle trivially. Dead-end nodes absorb (the
    walk stays put) via the left-join coalesce — no row is dropped,
    every output walk has exactly `length` steps.

    Plan shape: the ranked edge table (row_number per src — a
    partitioned window, bounded by out-degree) builds once and
    checkpoints; each step is ONE equi-join of the 1-row-per-walk
    frontier against it (the rank condition rides in the join), so a
    length-L walk epoch is L joins over a frame that never exceeds
    #walks rows — O(walks·L) total work, embarrassingly partitioned
    on start. Per-step checkpoints keep iteration t from replanning
    t-1 (the pagerank loop lesson)."""
    docs = load(spark, "documents", sf_dir).select("doc_id")
    n = docs.count()
    e = _edges(docs, n)
    wr = Window.partitionBy("src").orderBy("dst")
    er = (
        e.distinct()
        .withColumn("rk", F.row_number().over(wr) - 1)
        .withColumn(
            "outdeg", F.count(F.lit(1)).over(Window.partitionBy("src"))
        )
        .localCheckpoint(eager=True)
    )
    cur = docs.select(
        F.col("doc_id").alias("start"),
        F.col("doc_id").alias("cur"),
        F.col("doc_id").cast("string").alias("path"),
    )
    for t in range(1, length + 1):
        h = md5int(
            F.concat(
                F.lit("walk:"),
                F.col("start").cast("string"),
                F.lit(":"),
                F.lit(str(t)),
                F.lit(":"),
                F.col("cur").cast("string"),
            )
        )
        nxt = cur.join(
            er,
            (cur.cur == er.src) & (er.rk == h % er.outdeg),
            "left",
        ).select(
            "start",
            F.coalesce("dst", "cur").alias("cur"),
            F.concat(
                "path", F.lit("->"), F.coalesce("dst", "cur").cast("string")
            ).alias("path"),
        )
        cur = nxt.localCheckpoint(eager=True)
    return cur.select(
        "start", F.col("cur").alias("end_node"), "path"
    ).orderBy("start")


def random_walks_sql(length: int = WALK_LEN) -> str:
    steps = []
    prev = "w0"
    for t in range(1, length + 1):
        h = MD5INT_SQL.format(
            c=f"'walk:' || CAST(w.start AS VARCHAR) || ':{t}:' "
            f"|| CAST(w.cur AS VARCHAR)"
        )
        steps.append(
            f"w{t} AS MATERIALIZED (SELECT w.start, "
            f"coalesce(er.dst, w.cur) AS cur, "
            f"w.path || '->' || CAST(coalesce(er.dst, w.cur) AS VARCHAR) AS path "
            f"FROM {prev} w LEFT JOIN er "
            f"ON er.src = w.cur AND er.rk = ({h}) % er.outdeg)"
        )
        prev = f"w{t}"
    return f"""
WITH n AS (SELECT count(*) AS c FROM documents),
e0 AS ({_EDGES_SQL}),
e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
er AS MATERIALIZED (
  SELECT src, dst,
         row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS rk,
         count(*) OVER (PARTITION BY src) AS outdeg
  FROM e),
w0 AS (SELECT doc_id AS start, doc_id AS cur,
              CAST(doc_id AS VARCHAR) AS path FROM documents),
{', '.join(steps)}
SELECT start, cur AS end_node, path FROM {prev} ORDER BY start
"""


SKIPGRAM_WINDOW = 2


def walk_skipgram_pairs(
    spark: SparkSession, sf_dir: str, window: int = SKIPGRAM_WINDOW
) -> DataFrame:
    """Skip-gram (center, context) pair extraction over the walk corpus
    — the step between random_walks and the embedding trainer: DeepWalk
    trains word2vec on walk windows, and at scale the pair/count table
    is what actually feeds the trainer (pair counts ARE the sufficient
    statistics for the skip-gram objective with negative sampling —
    Levy & Goldberg 2014 make the #(w,c) co-occurrence table explicit).

    Plan shape: the composed walk frame splits row-locally into
    (start, pos, node) via posexplode, then pairs form by ONE
    self-equi-join on the walk id with the |i−j| ≤ window band filter —
    each walk contributes ≤ (L+1)·2w pairs, so the join output is
    bounded by walks·L·2w rows regardless of graph shape — and ONE
    map-side count agg collapses them to the pair table. No
    corpus-quadratic stage: the band filter rides the walk-id join.

    Output: (center, context, n_pairs) — symmetric pairs counted from
    both directions, exactly what the reference-free python twin
    counts."""
    walks = random_walks(spark, sf_dir)
    nodes = walks.select(
        "start",
        F.posexplode(F.split("path", "->")).alias("pos", "node"),
    ).select("start", "pos", F.col("node").cast("long").alias("node"))
    a = nodes.select(
        "start", F.col("pos").alias("i"), F.col("node").alias("center")
    )
    b = nodes.select(
        "start", F.col("pos").alias("j"), F.col("node").alias("context")
    )
    pairs = (
        a.join(b, "start")
        .filter(
            (F.col("i") != F.col("j"))
            & (F.abs(F.col("i") - F.col("j")) <= window)
        )
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("center", "context")
    )
    return pairs


def walk_skipgram_sql(window: int = SKIPGRAM_WINDOW) -> str:
    return f"""
WITH walks AS MATERIALIZED ({random_walks_sql()}),
nodes AS (
  -- equal-length unnests zip in DuckDB: position + value in one pass
  SELECT start, unnest(range(0, len(l))) AS pos,
         CAST(unnest(l) AS BIGINT) AS node
  FROM (SELECT start, string_split(path, '->') AS l FROM walks)),
pairs AS (
  SELECT a.node AS center, b.node AS context
  FROM nodes a JOIN nodes b
    ON a.start = b.start
   AND a.pos <> b.pos
   AND abs(a.pos - b.pos) <= {window})
SELECT center, context, count(*) AS n_pairs
FROM pairs GROUP BY center, context
ORDER BY center, context
"""
