"""Crawl-engine operator semantics expressed over the driver testdata.

The driver's correctness gate runs DuckDB oracles against the
pre-registered testdata views only — so each crawl operator
(canonicalization, seen-set anti-join, politeness ranking, admission
filtering, issue rules, word counting) is exercised here over URLs
synthesized *deterministically inside the query* from the `documents`
table. The same synthesis expression exists in the oracle SQL, so both
engines see byte-identical inputs. The real frontier engine (waves,
seen state, resume) lives in operators/ and is tested by pytest golden
fixtures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import urls as U
from ..sources.tables import load

# Messy-URL synthesis: mixed-case scheme/host, default port, unsorted query
# params, fragment — exercises every canonicalization rule.
# Spark and DuckDB expressions must stay in lockstep.
_SYNTH_URL_SQL = (
    "'HTTP://WWW.' || source || '.Example.COM:80/docs/' || CAST(doc_id AS VARCHAR)"
    " || '.html?b=' || CAST(doc_id % 7 AS VARCHAR)"
    " || '&a=' || CAST(doc_id % 3 AS VARCHAR) || '#frag'"
)


def _synth_url(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "raw_url",
        F.concat(
            F.lit("HTTP://WWW."),
            F.col("source"),
            F.lit(".Example.COM:80/docs/"),
            F.col("doc_id").cast("string"),
            F.lit(".html?b="),
            (F.col("doc_id") % 7).cast("string"),
            F.lit("&a="),
            (F.col("doc_id") % 3).cast("string"),
            F.lit("#frag"),
        ),
    )


def canonicalize_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star URL canonicalization (lowercase scheme/host, strip
    default port + fragment, sort query params) as a pure column
    expression — JVM-side, whole-stage-codegen, no Python in the loop."""
    docs = _synth_url(load(spark, "documents", sf_dir))
    return docs.select(
        F.col("doc_id"),
        U.canonicalize_url(F.col("raw_url")).alias("canonical_url"),
        U.url_host(F.col("raw_url")).alias("host"),
        U.url_extension(F.col("raw_url")).alias("extension"),
    ).orderBy("doc_id")


def canonicalize_urls_sql() -> str:
    canon = U.canonicalize_url_sql("raw_url")
    host = (
        "regexp_replace(regexp_replace(lower(regexp_extract(raw_url,"
        " '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), '^.*@', ''),"
        " ':[0-9]*$', '')"
    )
    ext = (
        "CASE WHEN contains(lower(regexp_extract(raw_url,"
        " '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1)), '.')"
        " THEN regexp_extract(lower(regexp_extract(raw_url,"
        " '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1)), '\\.([^./]*)$', 1)"
        " ELSE '' END"
    )
    return f"""
WITH synth AS (SELECT doc_id, {_SYNTH_URL_SQL} AS raw_url FROM documents)
SELECT doc_id, {canon} AS canonical_url, {host} AS host, {ext} AS extension
FROM synth ORDER BY doc_id
"""


def seen_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The core frontier dedup operator: admit candidate URLs not in the
    seen set (reference: src/core/link_manager.py:48-55 set membership →
    left-anti join here; the engine's version in operators/seen.py adds
    a broadcast candidate-hash prefilter in front of this exact join
    once the seen table is large)."""
    docs = _synth_url(load(spark, "documents", sf_dir))
    cand = docs.select(
        "doc_id", U.canonicalize_url(F.col("raw_url")).alias("url")
    )
    seen = cand.filter(F.col("doc_id") % 3 == 0).select(F.col("url").alias("seen_url"))
    return (
        cand.join(seen, cand.url == seen.seen_url, "left_anti")
        .select("doc_id", "url")
        .orderBy("doc_id")
    )


def seen_anti_join_sql() -> str:
    canon = U.canonicalize_url_sql("raw_url")
    return f"""
WITH synth AS (SELECT doc_id, {_SYNTH_URL_SQL} AS raw_url FROM documents),
cand AS (SELECT doc_id, {canon} AS url FROM synth)
SELECT doc_id, url FROM cand
WHERE url NOT IN (SELECT url FROM cand WHERE doc_id % 3 = 0)
ORDER BY doc_id
"""


def politeness_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host politeness budget as a window-rank gate: the reference's
    global token-bucket (src/core/rate_limiter.py:24-38) becomes a
    logical scheduling constraint — row_number per host ordered by
    discovery seq, admit rank <= budget. Hosts here come from `source`
    (20 hosts), budget 5 per wave."""
    docs = load(spark, "documents", sf_dir)
    w = Window.partitionBy("source").orderBy(F.asc("doc_id"))
    return (
        docs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select(
            F.col("source").alias("host"),
            F.col("doc_id").alias("seq"),
            F.col("rnk"),
        )
        .orderBy("host", "rnk")
    )


POLITENESS_RANK_SQL = """
SELECT source AS host, doc_id AS seq, rnk
FROM (
  SELECT source, doc_id,
         row_number() OVER (PARTITION BY source ORDER BY doc_id ASC) AS rnk
  FROM documents
) t
WHERE rnk <= 5
ORDER BY host, rnk
"""


def admission_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Admission predicate (reference: src/crawler.py:1139-1179):
    extension include/exclude lists + regex include/exclude patterns,
    evaluated as pure column predicates at discovery time (pushdown)."""
    docs = _synth_url(load(spark, "documents", sf_dir))
    url = U.canonicalize_url(F.col("raw_url"))
    ext = U.url_extension(F.col("raw_url"))
    return (
        docs.select(F.col("doc_id"), url.alias("url"), ext.alias("extension"))
        # include_extensions: html/htm/php... (crawler.py default config)
        .filter(F.col("extension").isin("html", "htm", "php", "asp", "aspx", "jsp"))
        # exclude_patterns: drop docs whose id ends in 0 via URL regex
        .filter(~F.col("url").rlike(r"/docs/\d*0\.html"))
        .orderBy("doc_id")
    )


def admission_filter_sql() -> str:
    canon = U.canonicalize_url_sql("raw_url")
    ext = (
        "regexp_extract(lower(regexp_extract(raw_url,"
        " '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1)), '\\.([^./]*)$', 1)"
    )
    return f"""
WITH synth AS (SELECT doc_id, {_SYNTH_URL_SQL} AS raw_url FROM documents),
cand AS (SELECT doc_id, {canon} AS url, {ext} AS extension FROM synth)
SELECT doc_id, url, extension FROM cand
WHERE extension IN ('html','htm','php','asp','aspx','jsp')
  AND NOT regexp_matches(url, '/docs/[0-9]*0\\.html')
ORDER BY doc_id
"""


def word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    r"""Word counting with the reference's exact token rule
    (src/core/seo_extractor.py:32-34: len(re.findall(r'\b\w+\b', text)))
    — expressed as regexp_extract_all + size, JVM-side."""
    docs = load(spark, "documents", sf_dir)
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"\w+"), 0)).alias(
            "word_count"
        ),
    ).orderBy("doc_id")


WORD_COUNTS_SQL = """
SELECT doc_id, len(regexp_extract_all(text, '\\w+')) AS word_count
FROM documents ORDER BY doc_id
"""


def thin_content_issues(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Issue rule engine row shape (reference: src/core/issue_detector.py
    :115-127 Thin Content: word_count < 300 → warning/Content)."""
    docs = load(spark, "documents", sf_dir)
    wc = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"\w+"), 0))
    return (
        docs.select(F.col("doc_id"), wc.alias("word_count"))
        .filter(F.col("word_count") < 60)
        .select(
            F.col("doc_id"),
            F.lit("warning").alias("type"),
            F.lit("Content").alias("category"),
            F.lit("Thin Content").alias("issue"),
            F.concat(
                F.lit("Page has only "),
                F.col("word_count").cast("string"),
                F.lit(" words"),
            ).alias("details"),
        )
        .orderBy("doc_id")
    )


THIN_CONTENT_SQL = """
WITH wc AS (
  SELECT doc_id, len(regexp_extract_all(text, '\\w+')) AS word_count
  FROM documents
)
SELECT doc_id, 'warning' AS type, 'Content' AS category,
       'Thin Content' AS issue,
       'Page has only ' || CAST(word_count AS VARCHAR) || ' words' AS details
FROM wc WHERE word_count < 60
ORDER BY doc_id
"""


def linked_from_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """linked_from reverse-edge aggregation (reference:
    src/core/link_manager.py:43-46,204-207 source_pages map): edges
    synthesized as doc -> doc*2+1 (mod n) over the documents table;
    groupBy target + count distinct sources + min source."""
    docs = load(spark, "documents", sf_dir)
    n = docs.count()
    edges = docs.select(
        F.col("doc_id").alias("source_id"),
        ((F.col("doc_id") * 2 + 1) % n).alias("target_id"),
    )
    return (
        edges.groupBy("target_id")
        .agg(
            F.count(F.lit(1)).alias("n_sources"),
            F.min("source_id").alias("first_source"),
        )
        .orderBy("target_id")
    )


LINKED_FROM_COUNTS_SQL = """
WITH n AS (SELECT count(*) AS n FROM documents),
edges AS (
  SELECT doc_id AS source_id, (doc_id * 2 + 1) % (SELECT n FROM n) AS target_id
  FROM documents
)
SELECT target_id, count(*) AS n_sources, min(source_id) AS first_source
FROM edges GROUP BY target_id ORDER BY target_id
"""


def pagespeed_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageSpeed page selection (reference: crawler.py:1248-1284):
    homepage = first empty path else shortest path; plus first 2
    one-segment 'category' pages — expressed as one ranking."""
    docs = load(spark, "documents", sf_dir)
    path = (
        F.when(F.col("doc_id") % 5 == 0, F.lit(""))
        .when(F.col("doc_id") % 5 == 1, F.lit("/"))
        .when(F.col("doc_id") % 5 == 2,
              F.concat(F.lit("/about"), (F.col("doc_id") % 7).cast("string")))
        .when(F.col("doc_id") % 5 == 3,
              F.concat(F.lit("/docs/"), F.col("doc_id").cast("string"), F.lit(".html")))
        .otherwise(F.concat(F.lit("/blog/"), F.col("doc_id").cast("string"), F.lit("/post")))
    )
    pages = docs.select("doc_id", path.alias("path"))
    trimmed = F.regexp_replace(F.col("path"), r"/+$", "")
    w = Window.orderBy(
        F.when(trimmed == "", 0).otherwise(1), F.length(trimmed), F.col("doc_id")
    )
    ranked = pages.withColumn("hp_rank", F.row_number().over(w))
    homepage = ranked.filter(F.col("hp_rank") == 1).select(
        "doc_id", "path", F.lit("homepage").alias("role")
    )
    stripped = F.regexp_replace(F.regexp_replace(F.col("path"), r"^/+", ""), r"/+$", "")
    cats = (
        ranked.filter(F.col("hp_rank") > 1)
        .filter((stripped != "") & (~stripped.contains("/")))
        .orderBy("doc_id")
        .limit(2)
        .select("doc_id", "path", F.lit("category").alias("role"))
    )
    return homepage.unionByName(cats).orderBy("role", "doc_id")


PAGESPEED_SELECTION_SQL = """
WITH pages AS (
  SELECT doc_id,
         CASE doc_id % 5
           WHEN 0 THEN ''
           WHEN 1 THEN '/'
           WHEN 2 THEN '/about' || CAST(doc_id % 7 AS VARCHAR)
           WHEN 3 THEN '/docs/' || CAST(doc_id AS VARCHAR) || '.html'
           ELSE '/blog/' || CAST(doc_id AS VARCHAR) || '/post'
         END AS path
  FROM documents
),
ranked AS (
  SELECT doc_id, path,
         row_number() OVER (
           ORDER BY CASE WHEN regexp_replace(path, '/+$', '') = '' THEN 0 ELSE 1 END,
                    length(regexp_replace(path, '/+$', '')), doc_id
         ) AS hp_rank
  FROM pages
),
homepage AS (
  SELECT doc_id, path, 'homepage' AS role FROM ranked WHERE hp_rank = 1
),
cats AS (
  SELECT doc_id, path, 'category' AS role
  FROM ranked
  WHERE hp_rank > 1
    AND regexp_replace(regexp_replace(path, '^/+', ''), '/+$', '') <> ''
    AND NOT contains(regexp_replace(regexp_replace(path, '^/+', ''), '/+$', ''), '/')
  ORDER BY doc_id LIMIT 2
)
SELECT * FROM homepage UNION ALL SELECT * FROM cats
ORDER BY role, doc_id
"""


def text_search_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive substring search + facet filter (reference links
    UI search, app.js:769-836: lower(col).contains(q) disjunction)."""
    docs = load(spark, "documents", sf_dir)
    q = "merge"
    return (
        docs.filter(
            (F.lower(F.col("text")).contains(q) | F.lower(F.col("source")).contains(q))
            & F.col("lang").isin("en", "de")
        )
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


TEXT_SEARCH_SQL = """
SELECT doc_id, lang, source
FROM documents
WHERE (contains(lower(text), 'merge') OR contains(lower(source), 'merge'))
  AND lang IN ('en', 'de')
ORDER BY doc_id
"""


def analytics_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytics/tracking regex detection (reference:
    seo_extractor.py:118-156 — GA4 id, GTM id, pixel/hotjar/mixpanel
    flags) over deterministically synthesized script snippets."""
    docs = load(spark, "documents", sf_dir)
    html = (
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.lit('<script>gtag("config","G-AB12CD34EF");</script>'), F.col("text")))
        .when(F.col("doc_id") % 5 == 1,
              F.concat(F.lit("<script>window.g='GTM-XYZ789';fbq('init');</script>"), F.col("text")))
        .when(F.col("doc_id") % 5 == 2,
              F.concat(F.lit('<script src="https://static.hotjar.com/h.js"></script>'), F.col("text")))
        .when(F.col("doc_id") % 5 == 3,
              F.concat(F.lit("<script>mixpanel.track('x');</script>"), F.col("text")))
        .otherwise(F.col("text"))
    )
    d = docs.select("doc_id", html.alias("html"))
    return d.select(
        "doc_id",
        F.regexp_extract(F.col("html"), "G-[A-Z0-9]{10}", 0).alias("ga4_id"),
        F.regexp_extract(F.col("html"), "GTM-[A-Z0-9]+", 0).alias("gtm_id"),
        F.when(F.col("html").rlike("(?i)fbq\\(|facebook\\.com/tr"), 1).otherwise(0).alias("facebook_pixel"),
        F.when(F.col("html").rlike("(?i)hotjar\\.com|hj\\("), 1).otherwise(0).alias("hotjar"),
        F.when(F.col("html").rlike("(?i)mixpanel\\.com|mixpanel\\.track"), 1).otherwise(0).alias("mixpanel"),
    ).orderBy("doc_id")


ANALYTICS_DETECTION_SQL = """
WITH d AS (
  SELECT doc_id,
         CASE doc_id % 5
           WHEN 0 THEN '<script>gtag("config","G-AB12CD34EF");</script>' || text
           WHEN 1 THEN '<script>window.g=''GTM-XYZ789'';fbq(''init'');</script>' || text
           WHEN 2 THEN '<script src="https://static.hotjar.com/h.js"></script>' || text
           WHEN 3 THEN '<script>mixpanel.track(''x'');</script>' || text
           ELSE text
         END AS html
  FROM documents
)
SELECT doc_id,
       regexp_extract(html, 'G-[A-Z0-9]{10}', 0) AS ga4_id,
       regexp_extract(html, 'GTM-[A-Z0-9]+', 0) AS gtm_id,
       CASE WHEN regexp_matches(html, '(?i)fbq\\(|facebook\\.com/tr') THEN 1 ELSE 0 END AS facebook_pixel,
       CASE WHEN regexp_matches(html, '(?i)hotjar\\.com|hj\\(') THEN 1 ELSE 0 END AS hotjar,
       CASE WHEN regexp_matches(html, '(?i)mixpanel\\.com|mixpanel\\.track') THEN 1 ELSE 0 END AS mixpanel
FROM d ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# freshness-driven recrawl scheduling
# ---------------------------------------------------------------------------

RECRAWL_BASE_H = 24       # interval for a page that changes every fetch
RECRAWL_MIN_H = 6         # floor (politeness / hot-page cap)
RECRAWL_MAX_H = 720       # ceiling (30 days for never-changing pages)
RECRAWL_CHANGE_VALUE = 1.0  # fetch observation with value > this = "changed"


def recrawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness-driven recrawl scheduler (Cho & Garcia-Molina 2003,
    "Effective Page Refresh Policies for Web Crawlers"): estimate each
    URL's change rate from its fetch history and derive the next
    recrawl interval — frequent changers get short intervals, static
    pages back off toward the ceiling.

    The events table stands in for the fetch log (user_id = url key,
    one event per fetch, value > RECRAWL_CHANGE_VALUE = content hash
    changed). interval = clamp(BASE · n_fetches / n_changes, MIN, MAX)
    — a single IEEE division over exact integers, so Spark and DuckDB
    agree bit-for-bit (same rationale as the rational idf in
    tfidf_top_terms). due_rank orders the recrawl frontier.

    Scale shape: one map-side-combined aggregation by url_key (the
    fetch log is append-only and naturally partitioned by key), then a
    rank over the scheduler output — the output is O(|URLs|), far
    smaller than the log, and at warehouse scale the rank would be a
    bucketed top-k per politeness shard rather than one global window
    (the global window here keeps the oracle comparable)."""
    ev = load(spark, "events", sf_dir)
    # floor to whole seconds per event (the SQL twin floors epoch() the
    # same way) so span_hours is exact integer arithmetic in both
    # engines — double division + cast rounds in DuckDB but truncates
    # in Spark, so fractional seconds would flip hour boundaries
    e = F.floor(F.col("ts").cast("timestamp").cast("double")).cast("long")
    per_url = (
        ev.groupBy(F.col("user_id").alias("url_key"))
        .agg(
            F.count(F.lit(1)).alias("n_fetches"),
            F.sum(
                F.when(F.col("value") > RECRAWL_CHANGE_VALUE, 1).otherwise(0)
            ).alias("n_changes"),
            ((F.max(e) - F.min(e)) / 3600).cast("long").alias("span_hours"),
        )
    )
    interval = F.least(
        F.greatest(
            F.round(
                F.lit(RECRAWL_BASE_H)
                * F.col("n_fetches")
                / F.greatest(F.col("n_changes"), F.lit(1)),
                4,
            ),
            F.lit(float(RECRAWL_MIN_H)),
        ),
        F.lit(float(RECRAWL_MAX_H)),
    )
    w = Window.orderBy(F.asc("interval_hours"), F.asc("url_key"))
    return (
        per_url.select(
            "url_key",
            "n_fetches",
            "n_changes",
            "span_hours",
            F.round(F.col("n_changes") / F.col("n_fetches"), 6).alias(
                "change_ratio"
            ),
            interval.alias("interval_hours"),
        )
        .withColumn("due_rank", F.row_number().over(w))
        .orderBy("due_rank")
    )


RECRAWL_SCHEDULE_SQL = f"""
WITH per_url AS (
  SELECT user_id AS url_key,
         count(*) AS n_fetches,
         sum(CASE WHEN value > {RECRAWL_CHANGE_VALUE} THEN 1 ELSE 0 END)::BIGINT
           AS n_changes,
         (max(floor(epoch(ts))::BIGINT) - min(floor(epoch(ts))::BIGINT))
           // 3600 AS span_hours
  FROM events GROUP BY user_id
),
sched AS (
  SELECT url_key, n_fetches, n_changes, span_hours,
         round(n_changes * 1.0 / n_fetches, 6) AS change_ratio,
         least(greatest(round({RECRAWL_BASE_H} * n_fetches * 1.0 /
                              greatest(n_changes, 1), 4),
                        {RECRAWL_MIN_H}.0), {RECRAWL_MAX_H}.0)
           AS interval_hours
  FROM per_url
)
SELECT *,
       row_number() OVER (ORDER BY interval_hours ASC, url_key ASC)
         AS due_rank
FROM sched ORDER BY due_rank
"""


# ---------------------------------------------------------------------------
# crawl-trap detection (URL template explosion)
# ---------------------------------------------------------------------------

TRAP_MIN_URLS = 6  # a template backed by this many distinct URLs on one host


def crawl_trap_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-template explosion (crawl-trap) detection: collapse each
    URL's path+query to a template (digit runs → 'N') and flag
    (host, template) groups with many distinct URLs — calendars,
    session-id mints, and faceted-search loops all surface as one
    template backed by unbounded URLs. Production crawlers demote or
    cap such templates in the frontier (the reference caps only by
    depth/max_urls; template capping is the scale-robust version).

    URL shapes are synthesized deterministically per doc_id (calendar
    path, session-id query, paginated listing, static page) so the
    oracle sees byte-identical inputs. Scale shape: template derivation
    is a row-local regexp, then ONE map-side-combined aggregation by
    (host, template) — output is O(|templates|), tiny next to the
    frontier, and joins back to the frontier as a broadcast demotion
    dim."""
    docs = load(spark, "documents", sf_dir)
    path = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit("/cal/2024/"),
                (F.col("doc_id") % 12 + 1).cast("string"),
                F.lit("/"),
                (F.col("doc_id") % 28 + 1).cast("string"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.lit("/item/"),
                F.col("doc_id").cast("string"),
                F.lit("?session="),
                (F.col("doc_id") * 7919 % 100000).cast("string"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(F.lit("/page/"), (F.col("doc_id") % 50).cast("string")),
        )
        .otherwise(
            F.concat(F.lit("/static/about"), (F.col("doc_id") % 5).cast("string"))
        )
    )
    d = docs.select(
        F.col("source").alias("host"), path.alias("path"), "doc_id"
    )
    template = F.regexp_replace(F.col("path"), "[0-9]+", "N")
    g = (
        d.groupBy("host", template.alias("template"))
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.count_distinct("path").alias("n_distinct_urls"),
        )
    )
    return g.select(
        "host",
        "template",
        "n_urls",
        "n_distinct_urls",
        (F.col("n_distinct_urls") >= TRAP_MIN_URLS).alias("trap"),
    ).orderBy("host", "template")


CRAWL_TRAP_SQL = f"""
WITH d AS (
  SELECT source AS host,
         CASE doc_id % 4
           WHEN 0 THEN '/cal/2024/' || (doc_id % 12 + 1) || '/' || (doc_id % 28 + 1)
           WHEN 1 THEN '/item/' || doc_id || '?session=' || (doc_id * 7919 % 100000)
           WHEN 2 THEN '/page/' || (doc_id % 50)
           ELSE '/static/about' || (doc_id % 5)
         END AS path
  FROM documents
)
SELECT host,
       regexp_replace(path, '[0-9]+', 'N', 'g') AS template,
       count(*) AS n_urls,
       count(DISTINCT path) AS n_distinct_urls,
       count(DISTINCT path) >= {TRAP_MIN_URLS} AS trap
FROM d
GROUP BY host, template
ORDER BY host, template
"""


# ---------------------------------------------------------------------------
# crawl snapshot diff (recrawl delta)
# ---------------------------------------------------------------------------


def crawl_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recrawl delta between two crawl snapshots: which URLs were
    added, removed, or content-changed — the export every downstream
    consumer of a refresh crawl wants (and the input to the freshness
    estimate recrawl_schedule consumes).

    Snapshots are synthesized deterministically: the previous crawl
    holds doc_id % 5 != 0; the current crawl drops doc_id % 11 == 3
    and rewrites the body of doc_id % 7 == 0. Comparison is by content
    hash (md5), never by body equality — at warehouse scale the diff
    is a full-outer hash join on url key over (key, hash) pairs only,
    co-located when both snapshot tables are bucketed by url hash (the
    snapshot store's layout)."""
    docs = load(spark, "documents", sf_dir)
    prev = docs.filter(F.col("doc_id") % 5 != 0).select(
        "doc_id", F.md5("text").alias("prev_hash")
    )
    curr = docs.filter(F.col("doc_id") % 11 != 3).select(
        "doc_id",
        F.md5(
            F.when(
                F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v2"))
            ).otherwise(F.col("text"))
        ).alias("curr_hash"),
    )
    j = prev.join(curr, "doc_id", "full_outer")
    status = (
        F.when(F.col("prev_hash").isNull(), F.lit("added"))
        .when(F.col("curr_hash").isNull(), F.lit("removed"))
        .when(F.col("prev_hash") != F.col("curr_hash"), F.lit("changed"))
        .otherwise(F.lit("same"))
    )
    return j.select(
        "doc_id",
        F.col("prev_hash").isNotNull().alias("in_prev"),
        F.col("curr_hash").isNotNull().alias("in_curr"),
        status.alias("status"),
    ).orderBy("doc_id")


CRAWL_SNAPSHOT_DIFF_SQL = """
WITH prev AS (
  SELECT doc_id, md5(text) AS prev_hash FROM documents WHERE doc_id % 5 <> 0
),
curr AS (
  SELECT doc_id,
         md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END)
           AS curr_hash
  FROM documents WHERE doc_id % 11 <> 3
)
SELECT coalesce(prev.doc_id, curr.doc_id) AS doc_id,
       prev.prev_hash IS NOT NULL AS in_prev,
       curr.curr_hash IS NOT NULL AS in_curr,
       CASE WHEN prev.prev_hash IS NULL THEN 'added'
            WHEN curr.curr_hash IS NULL THEN 'removed'
            WHEN prev.prev_hash <> curr.curr_hash THEN 'changed'
            ELSE 'same' END AS status
FROM prev FULL OUTER JOIN curr ON prev.doc_id = curr.doc_id
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# redirect-chain resolution
# ---------------------------------------------------------------------------

REDIRECT_MAX_HOPS = 4


def redirect_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolve 3xx redirect chains to their final target — every crawler
    needs this to canonicalize page identity (the reference follows
    redirects inside requests and reports only the landing URL; at
    warehouse scale the redirect map is a table and resolution is a
    fixed-point join). Chains longer than REDIRECT_MAX_HOPS stay
    unresolved (the reference's requests default caps redirects too);
    loops simply never resolve.

    The redirect map is synthesized deterministically: doc_id % 10 in
    {1, 2} redirects to doc_id + 1 — so ...1 → ...2 → ...3 forms real
    2-hop chains — and the pair (doc_id % 100 == 77, 78) point at each
    other, a genuine redirect LOOP that exercises the unresolved path.
    Resolution unrolls REDIRECT_MAX_HOPS iterations of one equi-join
    each (same lineage-checkpoint pattern as the PageRank loop)."""
    docs = load(spark, "documents", sf_dir).select("doc_id")
    n = docs.count()
    d = F.col("doc_id")
    dst = (
        F.when(d % 100 == 77, d + 1)
        .when(d % 100 == 78, d - 1)
        .otherwise((d + 1) % n)
    )
    redirect = (
        docs.filter(((d % 10).isin(1, 2)) | ((d % 100).isin(77, 78)))
        .select(d.alias("src"), dst.alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .localCheckpoint(eager=True)
    )
    state = docs.select(
        "doc_id",
        F.col("doc_id").alias("cur"),
        F.lit(0).alias("hops"),
    )
    for _ in range(REDIRECT_MAX_HOPS):
        state = (
            state.join(redirect, state.cur == redirect.src, "left")
            .select(
                "doc_id",
                F.coalesce("dst", "cur").alias("cur"),
                (F.col("hops") + F.when(F.col("dst").isNotNull(), 1).otherwise(0)).alias(
                    "hops"
                ),
            )
            .localCheckpoint(eager=True)
        )
    # resolved = the landing id no longer redirects
    return (
        state.join(redirect, state.cur == redirect.src, "left")
        .select(
            "doc_id",
            F.col("cur").alias("final_id"),
            "hops",
            F.col("src").isNull().alias("resolved"),
        )
        .filter(F.col("hops") > 0)  # only pages that redirected at all
        .orderBy("doc_id")
    )


def redirect_chains_sql() -> str:
    steps = []
    prev = "s0"
    for k in range(1, REDIRECT_MAX_HOPS + 1):
        steps.append(
            f"s{k} AS (SELECT s.doc_id, coalesce(r.dst, s.cur) AS cur, "
            f"s.hops + CASE WHEN r.dst IS NULL THEN 0 ELSE 1 END AS hops "
            f"FROM {prev} s LEFT JOIN redirect r ON s.cur = r.src)"
        )
        prev = f"s{k}"
    return f"""
WITH n AS (SELECT count(*) AS c FROM documents),
redirect AS (
  SELECT doc_id AS src,
         CASE WHEN doc_id % 100 = 77 THEN doc_id + 1
              WHEN doc_id % 100 = 78 THEN doc_id - 1
              ELSE (doc_id + 1) % (SELECT c FROM n) END AS dst
  FROM documents
  WHERE (doc_id % 10 IN (1, 2) OR doc_id % 100 IN (77, 78))
    AND doc_id <> CASE WHEN doc_id % 100 = 77 THEN doc_id + 1
                       WHEN doc_id % 100 = 78 THEN doc_id - 1
                       ELSE (doc_id + 1) % (SELECT c FROM n) END
),
s0 AS (SELECT doc_id, doc_id AS cur, 0 AS hops FROM documents),
{', '.join(steps)}
SELECT s.doc_id, s.cur AS final_id, s.hops::INTEGER AS hops,
       r.src IS NULL AS resolved
FROM {prev} s LEFT JOIN redirect r ON s.cur = r.src
WHERE s.hops > 0
ORDER BY s.doc_id
"""


# ---------------------------------------------------------------------------
# value × freshness crawl-budget allocation across hosts
# ---------------------------------------------------------------------------

CRAWL_BUDGET_TOTAL = 100_000  # pages per scheduling epoch
URGENCY_SCALE = 10_000        # fixed-point grid for per-URL change rates


def crawl_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allocate a global per-epoch crawl budget across hosts by
    value × freshness — the scheduling policy layer above
    recrawl_schedule: a host earns budget in proportion to how much
    PageRank mass it holds (value) times how often its pages change
    (urgency), the standard quality-biased incremental-crawl framing
    (Cho & Garcia-Molina 2003 freshness + PageRank-weighted importance,
    cf. OPIC-style cash distribution).

    Composition + plan shape: per-doc value REUSES the registered
    pagerank operator (its per-iteration lineage checkpoints and
    integer fixed-point scores come along for free); urgency is one
    map-side aggregate over the fetch log (events, keyed like
    recrawl_schedule) with per-URL change rates on the URGENCY_SCALE
    integer grid; two host-level map-side sums and one host-table join
    later (hosts ≪ pages — the host frame is broadcast-sized at any
    corpus scale), budget = floor(share × total). The priority mass
    denominator is the documented 1-scalar driver-constant pattern.

    Integer discipline: ivalue (Σ pagerank fixed-point), iurgency
    (Σ integer change rates, exploration floor ≥ 1 so a never-fetched
    host still gets value-proportional budget), ipriority = their
    int64 product. The only doubles are share = ipriority/total and
    the budget floor — single divisions of identical int64s in both
    engines."""
    from ..operators.graph import pagerank

    pr = pagerank(spark, sf_dir).select("doc_id", "score")
    docs = load(spark, "documents", sf_dir).select("doc_id", "source")
    val = docs.join(pr, "doc_id").groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("score").alias("ivalue"),
    )
    ev = load(spark, "events", sf_dir)
    per_url = ev.groupBy(F.col("user_id").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_fetches"),
        F.sum(
            F.when(F.col("value") > RECRAWL_CHANGE_VALUE, 1).otherwise(0)
        ).alias("n_changes"),
    )
    urate = per_url.select(
        "doc_id",
        F.expr(f"(n_changes * {URGENCY_SCALE}) div n_fetches").alias("irate"),
    )
    urg = docs.join(urate, "doc_id").groupBy("source").agg(
        F.sum("irate").alias("iurg")
    )
    host = (
        val.join(urg, "source", "left")
        .select(
            "source",
            "n_docs",
            "ivalue",
            F.greatest(F.coalesce("iurg", F.lit(0)), F.lit(1)).alias(
                "iurgency"
            ),
        )
        .withColumn("ipriority", F.col("ivalue") * F.col("iurgency"))
    )
    tot = int(host.agg(F.sum("ipriority")).collect()[0][0])
    return host.select(
        F.col("source").alias("host"),
        "n_docs",
        "ivalue",
        "iurgency",
        "ipriority",
        F.floor(
            F.col("ipriority") / F.lit(float(tot)) * CRAWL_BUDGET_TOTAL
        )
        .cast("long")
        .alias("budget_pages"),
        (F.col("ipriority") / F.lit(float(tot))).alias("share"),
    ).orderBy("host")


def crawl_budget_allocation_sql() -> str:
    from ..operators.curation import _strip_order_by
    from ..operators.graph import pagerank_sql

    pr = _strip_order_by(pagerank_sql())
    return f"""
WITH pr AS MATERIALIZED (
  SELECT doc_id, score FROM ({pr})
),
val AS (
  SELECT d.source, count(*) AS n_docs, sum(pr.score)::BIGINT AS ivalue
  FROM documents d JOIN pr USING (doc_id) GROUP BY d.source
),
per_url AS (
  SELECT user_id AS doc_id, count(*) AS n_fetches,
         sum(CASE WHEN value > {RECRAWL_CHANGE_VALUE} THEN 1 ELSE 0 END)
           ::BIGINT AS n_changes
  FROM events GROUP BY user_id
),
urate AS (
  SELECT doc_id, (n_changes * {URGENCY_SCALE}) // n_fetches AS irate
  FROM per_url
),
urg AS (
  SELECT d.source, sum(u.irate)::BIGINT AS iurg
  FROM documents d JOIN urate u USING (doc_id) GROUP BY d.source
),
host AS (
  SELECT v.source, v.n_docs, v.ivalue,
         greatest(coalesce(u.iurg, 0), 1) AS iurgency,
         v.ivalue * greatest(coalesce(u.iurg, 0), 1) AS ipriority
  FROM val v LEFT JOIN urg u USING (source)
),
tot AS (SELECT sum(ipriority)::BIGINT AS t FROM host)
SELECT h.source AS host, h.n_docs, h.ivalue, h.iurgency, h.ipriority,
       floor(h.ipriority / tot.t * {CRAWL_BUDGET_TOTAL})::BIGINT
         AS budget_pages,
       h.ipriority / tot.t AS share
FROM host h, tot
ORDER BY host
"""


# ---------------------------------------------------------------------------
# Focused-crawl frontier prioritization (Chakrabarti et al. 1999)
# ---------------------------------------------------------------------------


def focused_crawl_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_parents, sum_parent_q, max_parent_q, rnk): focused
    crawling ("Focused crawling: a new approach to topic-specific Web
    resource discovery", Chakrabarti, van den Berg, Dom, WWW 1999)
    orders the frontier by the RELEVANCE OF THE PAGES THAT LINK THERE —
    an uncrawled URL inherits its parents' topical quality, so the
    crawler expands from good neighborhoods first instead of BFS-ing
    the whole web. This is the content-relevance complement of the two
    registered link-evidence schedulers: opic_priority (cash diffusion)
    and crawl_budget_allocation (pagerank value × staleness).

    Composition discipline: parent relevance REUSES the registered
    quality_scores operator verbatim (its integer 0-100 composite), the
    link graph REUSES graph._edges — so this adds exactly ONE new
    corpus shuffle: the per-target map-side-combined sum/max/count agg
    over in-edges. Zero-parent pages keep a row (left join, zeros) —
    a frontier scheduler must rank every candidate, not just linked
    ones. The global rank window is oracle-comparable at test scale;
    at 10^10 candidates it becomes the two-phase salted top-k
    (ordering.py), the bm25_topk discipline.

    Priority is the integer sum of parent scores (Chakrabarti's
    hard-focus rule uses the parent classifier verdict; the sum is the
    soft-focus variant) — exact int64 cross-engine, no float anywhere.
    """
    from ..operators.graph import _edges
    from ..operators.textstats import quality_scores

    docs = load(spark, "documents", sf_dir).select("doc_id")
    n = docs.count()
    e = _edges(docs, n).distinct()
    q = quality_scores(spark, sf_dir).select("doc_id", "quality_score")
    par = (
        e.join(q.withColumnRenamed("doc_id", "src"), "src")
        .groupBy("dst")
        .agg(
            F.count(F.lit(1)).alias("n_parents"),
            F.sum("quality_score").alias("sum_parent_q"),
            F.max("quality_score").alias("max_parent_q"),
        )
    )
    w = Window.orderBy(
        F.desc("sum_parent_q"), F.desc("max_parent_q"), F.asc("doc_id")
    )
    return (
        docs.join(par, docs.doc_id == par.dst, "left")
        .select(
            "doc_id",
            F.coalesce("n_parents", F.lit(0)).alias("n_parents"),
            F.coalesce("sum_parent_q", F.lit(0)).alias("sum_parent_q"),
            F.coalesce("max_parent_q", F.lit(0)).alias("max_parent_q"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .orderBy("rnk")
    )


def focused_crawl_priority_sql() -> str:
    from ..operators.graph import _EDGES_SQL
    from ..operators.textstats import quality_scores_sql

    return f"""
WITH n AS (SELECT count(*) AS c FROM documents),
e0 AS ({_EDGES_SQL}),
e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
q AS MATERIALIZED (SELECT doc_id, quality_score FROM ({quality_scores_sql()})),
par AS (
  SELECT e.dst, count(*) AS n_parents,
         sum(q.quality_score)::BIGINT AS sum_parent_q,
         max(q.quality_score) AS max_parent_q
  FROM e JOIN q ON e.src = q.doc_id GROUP BY e.dst
)
SELECT d.doc_id,
       coalesce(par.n_parents, 0) AS n_parents,
       coalesce(par.sum_parent_q, 0) AS sum_parent_q,
       coalesce(par.max_parent_q, 0) AS max_parent_q,
       row_number() OVER (ORDER BY coalesce(par.sum_parent_q, 0) DESC,
                                   coalesce(par.max_parent_q, 0) DESC,
                                   d.doc_id ASC) AS rnk
FROM documents d LEFT JOIN par ON d.doc_id = par.dst
ORDER BY rnk
"""
