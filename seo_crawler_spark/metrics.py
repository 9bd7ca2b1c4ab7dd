"""Per-wave metrics + per-partition lineage (north rule: "per-partition
lineage + fetch metrics written each micro-batch").

Three surfaces:
  * ``observe()`` named metrics on the extraction output — collected by
    a QueryExecution observation without a separate job;
  * a per-partition lineage table (partition_id, rows), filed under
    each wave's metric, so skew is visible per micro-batch — the
    Spark-native replacement for the reference's memory profiler
    (src/core/memory_profiler.py:66-100);
  * the JVM's generated-code compile count, so a wave that recompiles
    Spark's generated Java shows in its metric.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

FETCH_METRICS = (
    "n_pages",
    "n_ok",
    "n_errors",
    "bytes_fetched",
    "avg_response_ms",
)


def observe_fetch(extracted: DataFrame) -> tuple[DataFrame, Observation]:
    """Attach fetch metrics to the extraction output; values materialize
    with the wave's first action — no extra job."""
    obs = Observation("fetch")
    out = extracted.observe(
        obs,
        F.count(F.lit(1)).alias("n_pages"),
        F.sum(F.when(F.col("status_code") == 200, 1).otherwise(0)).alias("n_ok"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("n_errors"),
        F.sum("size").alias("bytes_fetched"),
        F.round(F.avg("response_time"), 2).alias("avg_response_ms"),
    )
    return out, obs


def partition_lineage(df: DataFrame) -> DataFrame:
    """(partition_id, rows) — one row per partition. No wave column: a
    per-wave literal would make the crawl compile new code every wave."""
    return (
        df.select(F.spark_partition_id().alias("partition_id"))
        .groupBy("partition_id")
        .agg(F.count(F.lit(1)).alias("rows"))
    )


def codegen_compiles(spark: SparkSession) -> int:
    """Janino compiles so far in the driver JVM (Spark's CodegenMetrics;
    under a local master the executors share that JVM). A steady crawl
    wave compiles none: its classes are all in the codegen cache."""
    cm = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cm.METRIC_COMPILATION_TIME().getCount()
