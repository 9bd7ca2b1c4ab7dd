"""Spark-side extraction stage: fetched rows → page rows (+spans/links).

mapInPandas over Arrow batches; each batch runs the single-pass
html.parser extractor (functions/html.py). No per-row Python UDFs.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.html import parse_document
from ..schema import (
    ANALYTICS_SCHEMA,
    HREFLANG_SCHEMA,
    IMAGE_SCHEMA,
    SPANS_TYPE,
)

# columns the extraction stage passes through untouched
_PASSTHROUGH = [
    ("url", T.StringType()),
    ("status_code", T.IntegerType()),
    ("content_type", T.StringType()),
    ("size", T.LongType()),
    ("depth", T.IntegerType()),
    ("wave", T.IntegerType()),
    ("seq", T.LongType()),
    ("host", T.StringType()),
    ("response_time", T.DoubleType()),
    ("error", T.StringType()),
]

SCHEMA_ORG_ITEM = T.StructType(
    [
        T.StructField("type", T.StringType(), True),
        T.StructField("properties", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

_LINK_ITEM = T.StructType(
    [
        T.StructField("target_url", T.StringType(), False),
        T.StructField("anchor_text", T.StringType(), True),
        T.StructField("is_internal", T.BooleanType(), True),
        T.StructField("target_domain", T.StringType(), True),
        T.StructField("placement", T.StringType(), True),
        T.StructField("anchor_pos", T.IntegerType(), False),
    ]
)

EXTRACTED_SCHEMA = T.StructType(
    [T.StructField(n, t, True) for n, t in _PASSTHROUGH]
    + [
        T.StructField("title", T.StringType(), True),
        T.StructField("meta_description", T.StringType(), True),
        T.StructField("h1", T.StringType(), True),
        T.StructField("h2", T.ArrayType(T.StringType()), True),
        T.StructField("h3", T.ArrayType(T.StringType()), True),
        T.StructField("word_count", T.IntegerType(), True),
        T.StructField("meta_tags", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("og_tags", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("twitter_tags", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("canonical_url", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("charset", T.StringType(), True),
        T.StructField("viewport", T.StringType(), True),
        T.StructField("robots", T.StringType(), True),
        T.StructField("author", T.StringType(), True),
        T.StructField("keywords", T.StringType(), True),
        T.StructField("generator", T.StringType(), True),
        T.StructField("theme_color", T.StringType(), True),
        T.StructField("json_ld", T.ArrayType(T.StringType()), True),
        T.StructField("analytics", ANALYTICS_SCHEMA, True),
        T.StructField("images", T.ArrayType(IMAGE_SCHEMA), True),
        T.StructField("schema_org", T.ArrayType(SCHEMA_ORG_ITEM), True),
        T.StructField("internal_links", T.IntegerType(), True),
        T.StructField("external_links", T.IntegerType(), True),
        T.StructField("hreflang", T.ArrayType(HREFLANG_SCHEMA), True),
        T.StructField("spans", SPANS_TYPE, True),
        T.StructField("links", T.ArrayType(_LINK_ITEM), True),
    ]
)

_EMPTY_FIELDS = {
    "title": "", "meta_description": "", "h1": "", "h2": [], "h3": [],
    "word_count": 0, "meta_tags": {}, "og_tags": {}, "twitter_tags": {},
    "canonical_url": "", "lang": "", "charset": "", "viewport": "",
    "robots": "", "author": "", "keywords": "", "generator": "",
    "theme_color": "", "json_ld": [],
    "analytics": {
        "google_analytics": False, "gtag": False, "ga4_id": "",
        "gtm_id": "", "facebook_pixel": False, "hotjar": False,
        "mixpanel": False,
    },
    "images": [], "schema_org": [], "internal_links": 0, "external_links": 0,
    "hreflang": [], "spans": [], "links": [],
}


def extract_pages(fetched: DataFrame, base_domain: str, wave: int = 0) -> DataFrame:
    """fetched(url, raw_html, status_code, content_type, size, depth,
    seq, host, response_time, error) → extracted page rows of crawl
    ``wave``, which the Python function writes on every row.

    Non-HTML / error / empty-body rows become empty-result pages
    (reference: seo_extractor.create_empty_result + the HTML-only parse
    gate at crawler.py:870).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_rows = []
            for row in pdf.itertuples(index=False):
                base = {
                    name: wave if name == "wave" else getattr(row, name)
                    for name, _t in _PASSTHROUGH
                }
                html = getattr(row, "raw_html", None)
                ctype = row.content_type or ""
                # content-type gate only (reference crawler.py ~870 parses
                # any text/html body regardless of status — a 404 with an
                # HTML body still gets titles/meta/issues); the 200-only
                # rule applies solely to link EXPANSION, which the wave
                # loop enforces by zeroing links on non-200 rows
                if html and "html" in ctype:
                    fields = parse_document(row.url, html, base_domain)
                else:
                    fields = dict(_EMPTY_FIELDS)
                out_rows.append({**base, **fields})
            yield pd.DataFrame(out_rows)

    cols = [n for n, _t in _PASSTHROUGH if n != "wave"] + ["raw_html"]
    return fetched.select(*cols).mapInPandas(run, schema=EXTRACTED_SCHEMA)


def explode_links(pages: DataFrame) -> DataFrame:
    """Page rows → link-graph edges with (src_seq, anchor_pos) ordering
    and source-pair dedup (reference: link_manager.py:116-121 links_set)."""
    exploded = (
        pages.select(
            F.col("url").alias("source_url"),
            F.col("wave"),
            F.col("seq").alias("src_seq"),
            F.explode_outer("links").alias("l"),
        )
        .filter(F.col("l").isNotNull())
        .select(
            "source_url",
            F.col("l.target_url").alias("target_url"),
            F.col("l.anchor_text").alias("anchor_text"),
            F.col("l.is_internal").alias("is_internal"),
            F.col("l.target_domain").alias("target_domain"),
            F.col("l.placement").alias("placement"),
            F.col("l.anchor_pos").alias("anchor_pos"),
            "wave",
            "src_seq",
        )
    )
    # first occurrence per (source,target) wins — keep min anchor_pos
    from pyspark.sql import Window

    w = Window.partitionBy("source_url", "target_url").orderBy("anchor_pos")
    return (
        exploded.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
