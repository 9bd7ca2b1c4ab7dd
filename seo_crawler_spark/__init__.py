"""seo_crawler_spark — a PySpark-native crawl-analytics engine.

Brand-new implementation (not a port) of the query/data-processing
capabilities of the reference crawler (LibreCrawl, swang62/seo-crawler):
URL-frontier scheduling with dedup + politeness, SEO extraction over
interleaved text+media documents, link-graph analytics, an issue rule
engine, duplication detection, exports — plus the large-scale
training-data-pipeline operators (dedup families, similarity search,
text stats, multimodal plumbing) that a 100 TB corpus needs.

Everything is expressed Spark-first: DataFrame/SQL + Catalyst, with
vectorized pandas/Arrow UDFs only where built-in operators genuinely
cannot express the semantics (HTML parsing, vector and sketch kernels).
"""

__version__ = "0.1.0"
