"""SEO issue rule engine — a union of column-expression rules.

Each rule in the reference is an imperative per-page check
(src/core/issue_detector.py:42-313); here each is a select/filter
projection over the ``pages`` DataFrame and the engine output is one
``unionByName`` chain — a single scan, whole-stage-codegen'd, no Python.

Duplication detection (issue_detector.py:315-425) is the one
algorithmic rewrite: the reference does O(n²) pairwise difflib in a
driver loop; here a banded self-join prunes pairs before an Arrow-
batched difflib verify. The prune is *sound* for the reference's
weights: overall ≥ 0.85 with weights (title .35, desc .35, h1 .20,
wc .10) forces title_sim ≥ 0.571 AND desc_sim ≥ 0.571 (each other
component can contribute at most its weight), and
SequenceMatcher.ratio ≥ t implies length ratio ≥ t/(2−t) ≈ 0.4 — so
log-banding on title length with ±1-band joins never drops a true pair.
"""

from __future__ import annotations

import fnmatch
import re
from difflib import SequenceMatcher
from functools import reduce

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


_STATUS_TEXT = {
    400: "Bad Request", 401: "Unauthorized", 403: "Forbidden",
    404: "Not Found", 405: "Method Not Allowed", 406: "Not Acceptable",
    408: "Request Timeout", 410: "Gone", 429: "Too Many Requests",
    500: "Internal Server Error", 501: "Not Implemented",
    502: "Bad Gateway", 503: "Service Unavailable",
    504: "Gateway Timeout", 505: "HTTP Version Not Supported",
}


def _status_text_col(code):
    expr = F.concat(F.lit("HTTP "), code.cast("string"), F.lit(" Error"))
    for k, v in _STATUS_TEXT.items():
        expr = F.when(code == k, F.lit(v)).otherwise(expr)
    return expr


def _issue(url, typ, category, issue, details):
    as_col = lambda v: v if hasattr(v, "alias") else F.lit(v)
    return F.struct(
        url.alias("url"),
        as_col(typ).alias("type"),
        as_col(category).alias("category"),
        as_col(issue).alias("issue"),
        as_col(details).alias("details"),
    )


def exclusion_filter(pages: DataFrame, patterns: list[str]) -> DataFrame:
    """Drop pages whose PATH matches an exclusion pattern
    (issue_detector.py:433-445: fnmatch when '*' present, else
    exact-or-prefix match)."""
    if not patterns:
        return pages
    regexes = []
    for p in patterns:
        if "*" in p:
            regexes.append("\\A" + fnmatch.translate(p))
        else:
            base = p.rstrip("*")
            regexes.append("\\A" + re.escape(base) + "(?s:.*)\\Z")
            # exact match is subsumed by the prefix regex above
    path = F.regexp_extract(F.col("url"), r"^[A-Za-z][A-Za-z0-9+.-]*:\/\/[^\/?#]*([^?#]*)", 1)
    cond = F.lit(False)
    for r in regexes:
        cond = cond | path.rlike(r)
    return pages.filter(~cond)


def detect_issues(pages: DataFrame, exclusion_patterns: list[str] | None = None) -> DataFrame:
    """All per-page rules as one pass (issue_detector.py:42-313)."""
    p = exclusion_filter(pages, exclusion_patterns or [])
    url = F.col("url")
    issues = []

    # -- titles (:42-70) -------------------------------------------------
    title_len = F.length("title")
    issues.append(
        p.filter(F.coalesce(F.col("title"), F.lit("")) == "").select(
            _issue(url, "error", "SEO", "Missing Title Tag",
                   F.lit("Page has no title tag")).alias("i"))
    )
    issues.append(
        p.filter((F.col("title") != "") & (title_len > 60)).select(
            _issue(url, "warning", "SEO", "Title Too Long",
                   F.concat(F.lit("Title is "), title_len.cast("string"),
                            F.lit(" characters (recommended: ≤60)"))).alias("i"))
    )
    issues.append(
        p.filter((F.col("title") != "") & (title_len <= 60) & (title_len < 30)).select(
            _issue(url, "warning", "SEO", "Title Too Short",
                   F.concat(F.lit("Title is "), title_len.cast("string"),
                            F.lit(" characters (recommended: 30-60)"))).alias("i"))
    )

    # -- meta description (:72-100) ---------------------------------------
    d_len = F.length("meta_description")
    issues.append(
        p.filter(F.coalesce(F.col("meta_description"), F.lit("")) == "").select(
            _issue(url, "error", "SEO", "Missing Meta Description",
                   F.lit("Page has no meta description")).alias("i"))
    )
    issues.append(
        p.filter((F.col("meta_description") != "") & (d_len > 160)).select(
            _issue(url, "warning", "SEO", "Meta Description Too Long",
                   F.concat(F.lit("Description is "), d_len.cast("string"),
                            F.lit(" characters (recommended: ≤160)"))).alias("i"))
    )
    issues.append(
        p.filter((F.col("meta_description") != "") & (d_len <= 160) & (d_len < 120)).select(
            _issue(url, "warning", "SEO", "Meta Description Too Short",
                   F.concat(F.lit("Description is "), d_len.cast("string"),
                            F.lit(" characters (recommended: 120-160)"))).alias("i"))
    )

    # -- headings / content (:102-127) -------------------------------------
    issues.append(
        p.filter(F.coalesce(F.col("h1"), F.lit("")) == "").select(
            _issue(url, "error", "SEO", "Missing H1 Tag",
                   F.lit("Page has no H1 heading")).alias("i"))
    )
    issues.append(
        p.filter(F.col("word_count") < 300).select(
            _issue(url, "warning", "Content", "Thin Content",
                   F.concat(F.lit("Page has only "), F.col("word_count").cast("string"),
                            F.lit(" words (recommended: ≥300)"))).alias("i"))
    )

    # -- technical: status codes (:129-157) ---------------------------------
    sc = F.col("status_code")
    issues.append(
        p.filter((sc >= 400) & (sc < 500)).select(
            _issue(url, "error", "Technical",
                   F.concat(sc.cast("string"), F.lit(" Client Error")),
                   _status_text_col(sc)).alias("i"))
    )
    issues.append(
        p.filter(sc >= 500).select(
            _issue(url, "error", "Technical",
                   F.concat(sc.cast("string"), F.lit(" Server Error")),
                   _status_text_col(sc)).alias("i"))
    )
    issues.append(
        p.filter((sc >= 300) & (sc < 400)).select(
            _issue(url, "info", "Technical",
                   F.concat(sc.cast("string"), F.lit(" Redirect")),
                   F.lit("URL redirects to another location")).alias("i"))
    )

    # -- canonical (:159-176) ----------------------------------------------
    issues.append(
        p.filter(F.coalesce(F.col("canonical_url"), F.lit("")) == "").select(
            _issue(url, "warning", "Technical", "Missing Canonical URL",
                   F.lit("Page has no canonical URL specified")).alias("i"))
    )
    issues.append(
        p.filter((F.col("canonical_url") != "") & (F.col("canonical_url") != url)).select(
            _issue(url, "warning", "Technical", "Canonical URL Different",
                   F.concat(F.lit("Canonical points to: "), F.col("canonical_url"))).alias("i"))
    )

    # -- mobile / accessibility (:178-214) -----------------------------------
    issues.append(
        p.filter(F.coalesce(F.col("viewport"), F.lit("")) == "").select(
            _issue(url, "error", "Mobile", "Missing Viewport Meta Tag",
                   F.lit("Page is not mobile-optimized")).alias("i"))
    )
    issues.append(
        p.filter(F.coalesce(F.col("lang"), F.lit("")) == "").select(
            _issue(url, "warning", "Accessibility", "Missing Language Attribute",
                   F.lit("HTML tag has no lang attribute")).alias("i"))
    )
    n_noalt = F.size(F.filter(F.col("images"), lambda x: F.coalesce(x["alt"], F.lit("")) == ""))
    issues.append(
        p.filter(n_noalt > 0).select(
            _issue(url, "warning", "Accessibility", "Images Without Alt Text",
                   F.concat(n_noalt.cast("string"), F.lit(" of "),
                            F.size("images").cast("string"),
                            F.lit(" images lack alt text"))).alias("i"))
    )

    # -- social (:216-236) -----------------------------------------------
    issues.append(
        p.filter(F.size(F.map_keys(F.coalesce(F.col("og_tags"), F.create_map()))) == 0).select(
            _issue(url, "warning", "Social", "Missing OpenGraph Tags",
                   F.lit("Page has no OpenGraph tags for social sharing")).alias("i"))
    )
    issues.append(
        p.filter(F.size(F.map_keys(F.coalesce(F.col("twitter_tags"), F.create_map()))) == 0).select(
            _issue(url, "warning", "Social", "Missing Twitter Card Tags",
                   F.lit("Page has no Twitter Card tags")).alias("i"))
    )

    # -- structured data (:238-249) -----------------------------------------
    no_schema = F.size(F.coalesce(F.col("schema_org"), F.array())) == 0
    issues.append(
        p.filter((F.size(F.coalesce(F.col("json_ld"), F.array())) == 0) & no_schema)
        .select(
            _issue(url, "info", "Structured Data", "No Structured Data",
                   F.lit("Page has no JSON-LD or Schema.org markup")).alias("i"))
    )

    # -- performance (:251-290) ---------------------------------------------
    rt = F.col("response_time")
    issues.append(
        p.filter(rt > 3000).select(
            _issue(url, "error", "Performance", "Slow Response Time",
                   F.concat(F.lit("Page took "), rt.cast("string"),
                            F.lit("ms to respond (recommended: <3000ms)"))).alias("i"))
    )
    issues.append(
        p.filter((rt > 1000) & (rt <= 3000)).select(
            _issue(url, "warning", "Performance", "Moderate Response Time",
                   F.concat(F.lit("Page took "), rt.cast("string"),
                            F.lit("ms to respond (recommended: <1000ms)"))).alias("i"))
    )
    mb = F.round(F.col("size") / 1024.0 / 1024.0, 1)
    issues.append(
        p.filter(F.col("size") > 3 * 1024 * 1024).select(
            _issue(url, "error", "Performance", "Large Page Size",
                   F.concat(F.lit("Page size is "), mb.cast("string"),
                            F.lit("MB (recommended: <3MB)"))).alias("i"))
    )
    issues.append(
        p.filter((F.col("size") > 1024 * 1024) & (F.col("size") <= 3 * 1024 * 1024)).select(
            _issue(url, "warning", "Performance", "Moderate Page Size",
                   F.concat(F.lit("Page size is "), mb.cast("string"),
                            F.lit("MB (recommended: <1MB)"))).alias("i"))
    )

    # -- indexability (:292-313) ----------------------------------------------
    robots_lc = F.lower(F.coalesce(F.col("robots"), F.lit("")))
    issues.append(
        p.filter(robots_lc.contains("noindex")).select(
            _issue(url, "error", "Indexability", "Noindex Tag Present",
                   F.lit("Page is BLOCKED from search engines - has noindex directive")).alias("i"))
    )
    issues.append(
        p.filter(robots_lc.contains("nofollow")).select(
            _issue(url, "error", "Indexability", "Nofollow Tag Present",
                   F.lit("Links on this page are NOT followed by search engines - has nofollow directive")).alias("i"))
    )

    return reduce(DataFrame.unionByName, issues).select(
        "i.url", "i.type", "i.category", "i.issue", "i.details"
    )


# ---------------------------------------------------------------------------
# Duplication detection — banded similarity self-join
# ---------------------------------------------------------------------------

_PAIR_SCHEMA = T.StructType(
    [
        T.StructField("url_a", T.StringType(), False),
        T.StructField("url_b", T.StringType(), False),
        T.StructField("similarity", T.DoubleType(), False),
    ]
)


def _score_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """Exact reference scoring (issue_detector.py:377-431) per pair."""
    out = []
    for r in pdf.itertuples(index=False):
        t1, t2 = (r.title_a or "").lower().strip(), (r.title_b or "").lower().strip()
        d1, d2 = (r.desc_a or "").lower().strip(), (r.desc_b or "").lower().strip()
        h1, h2 = (r.h1_a or "").lower().strip(), (r.h1_b or "").lower().strip()
        ts = SequenceMatcher(None, t1, t2).ratio() if t1 and t2 else 0.0
        ds = SequenceMatcher(None, d1, d2).ratio() if d1 and d2 else 0.0
        hs = SequenceMatcher(None, h1, h2).ratio() if h1 and h2 else 0.0
        w1, w2 = r.wc_a or 0, r.wc_b or 0
        ws = (min(w1, w2) / max(w1, w2)) if (w1 and w2 and max(w1, w2) > 0) else 0.0
        sim = ts * 0.35 + ds * 0.35 + hs * 0.20 + ws * 0.10
        out.append((r.url_a, r.url_b, sim))
    return pd.DataFrame(out, columns=["url_a", "url_b", "similarity"])


def detect_duplication(
    pages: DataFrame,
    threshold: float = 0.85,
    exclusion_patterns: list[str] | None = None,
    blocked: bool = True,
) -> DataFrame:
    """Duplicate-content issues (both directions, like the reference emits
    two rows per pair, issue_detector.py:358-371).

    blocked=True prunes the self-join with the sound title/desc length
    bands derived in the module docstring; blocked=False is the naive
    cross join (reference-parity brute force, test scale only).
    """
    p = exclusion_filter(pages, exclusion_patterns or []).select(
        "url",
        F.col("title").alias("title"),
        F.col("meta_description").alias("desc"),
        F.col("h1").alias("h1"),
        F.col("word_count").alias("wc"),
    )
    if threshold >= 0.85 and blocked:
        # sound prune: both title and desc must be nonempty with
        # length-ratio ≥ t/(2-t); log-band + ±1-band join
        t_req = (threshold - 0.35 - 0.20 - 0.10) / 0.35  # ≥ .571 at .85
        lr = t_req / (2 - t_req)
        import math

        log_base = 1.0 / lr  # bands of factor 1/lr ⇒ true pairs within ±1
        # band on the WHITESPACE-TRIMMED length: similarity is scored on
        # .strip()'ed strings (_score_batch), so banding raw lengths
        # would let a padded duplicate ('  X  ' vs 'X') land 2+ bands
        # apart and silently skip a true pair
        trimmed = lambda c: F.regexp_replace(c, r"^\s+|\s+$", "")
        band = lambda c: F.floor(
            F.log(F.length(trimmed(c)) + F.lit(1.0)) / math.log(log_base)
        )
        a = p.filter((F.col("title") != "") & (F.col("desc") != "")).select(
            *[F.col(c).alias(c + "_a") for c in p.columns],
            band(F.col("title")).alias("tband_a"),
        )
        b = p.filter((F.col("title") != "") & (F.col("desc") != "")).select(
            *[F.col(c).alias(c + "_b") for c in p.columns],
            band(F.col("title")).alias("tband_b"),
        )
        pairs = a.join(
            b,
            (F.col("url_a") < F.col("url_b"))
            & (F.col("tband_b") >= F.col("tband_a") - 1)
            & (F.col("tband_b") <= F.col("tband_a") + 1),
        )
    else:
        a = p.select(*[F.col(c).alias(c + "_a") for c in p.columns])
        b = p.select(*[F.col(c).alias(c + "_b") for c in p.columns])
        pairs = a.join(b, F.col("url_a") < F.col("url_b"))

    pairs = pairs.select(
        "url_a", "url_b",
        F.col("title_a"), F.col("title_b"),
        F.col("desc_a").alias("desc_a"), F.col("desc_b").alias("desc_b"),
        F.col("h1_a"), F.col("h1_b"),
        F.col("wc_a").alias("wc_a"), F.col("wc_b").alias("wc_b"),
    )
    scored = pairs.mapInPandas(
        lambda it: (
            _score_batch(pdf[["url_a", "url_b", "title_a", "title_b",
                              "desc_a", "desc_b", "h1_a", "h1_b",
                              "wc_a", "wc_b"]]) for pdf in it
        ),
        schema=_PAIR_SCHEMA,
    ).filter(F.col("similarity") >= threshold)

    pct = F.format_number(F.col("similarity") * 100, 1)
    fwd = scored.select(
        F.col("url_a").alias("url"),
        F.lit("warning").alias("type"),
        F.lit("Duplication").alias("category"),
        F.lit("Duplicate Content Detected").alias("issue"),
        F.concat(F.lit("Content is "), pct, F.lit("% similar to "), F.col("url_b")).alias("details"),
    )
    rev = scored.select(
        F.col("url_b").alias("url"),
        F.lit("warning").alias("type"),
        F.lit("Duplication").alias("category"),
        F.lit("Duplicate Content Detected").alias("issue"),
        F.concat(F.lit("Content is "), pct, F.lit("% similar to "), F.col("url_a")).alias("details"),
    )
    return fwd.unionByName(rev)


def eeat_scores(pages: DataFrame) -> DataFrame:
    """E-E-A-T per-page score (reference plugin
    web/static/plugins/e-e-a-t.js:302-387): https 10, author 20,
    json-ld 25, external citations min(15, 3·n), og:title 10,
    word count ≥300→20 / ≥150→10; capped at 100."""
    score = (
        F.when(F.col("url").startswith("https://"), 10).otherwise(0)
        + F.when(
            (F.coalesce(F.col("author"), F.lit("")) != "")
            | F.coalesce(F.col("og_tags"), F.create_map()).getItem("author").isNotNull(),
            20,
        ).otherwise(0)
        + F.when(F.size(F.coalesce(F.col("json_ld"), F.array())) > 0, 25).otherwise(0)
        + F.when(
            F.col("external_links") > 0,
            F.least(F.lit(15), F.col("external_links") * 3),
        ).otherwise(0)
        + F.when(
            F.coalesce(F.col("og_tags"), F.create_map()).getItem("title").isNotNull(), 10
        ).otherwise(0)
        + F.when(F.col("word_count") >= 300, 20)
        .when(F.col("word_count") >= 150, 10)
        .otherwise(0)
    )
    return pages.select(
        "url",
        F.least(F.lit(100), score).alias("eeat_score"),
        F.col("external_links"),
        F.col("word_count"),
    ).orderBy(F.desc("eeat_score"), "url")


def eeat_site_summary(pages: DataFrame) -> DataFrame:
    """Site-wide aggregate (e-e-a-t.js:374-387)."""
    s = eeat_scores(pages)
    joined = pages.join(s.select("url", "eeat_score"), "url")
    return joined.agg(
        F.count(F.lit(1)).alias("total_pages"),
        F.round(F.avg("eeat_score")).cast("long").alias("overall_score"),
        F.sum(F.when(F.coalesce(F.col("author"), F.lit("")) != "", 1).otherwise(0)).alias("pages_with_author"),
        F.sum(F.when(F.size(F.coalesce(F.col("json_ld"), F.array())) > 0, 1).otherwise(0)).alias("pages_with_schema"),
        F.sum(F.when(F.col("external_links") > 0, 1).otherwise(0)).alias("pages_with_external_links"),
        F.sum(F.when(F.col("url").startswith("https://"), 1).otherwise(0)).alias("secure_pages"),
        F.sum("external_links").alias("external_citations"),
        F.avg("external_links").alias("avg_external_links"),
    )
