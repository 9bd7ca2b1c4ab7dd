"""Spark session lifetime and step-scoped release of persisted RDDs."""

from __future__ import annotations

import os
import statistics
from dataclasses import dataclass, field

from pyspark import SparkContext
from pyspark.sql import SparkSession

from seo_crawler_spark.session import get_spark


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str, n_cpus: int, partitions: int) -> SparkSession:
    """``local[n_cpus]`` session whose scratch space stays under ``work``
    (Spark's local dirs come from SPARK_LOCAL_DIRS, set by the caller)."""
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        # format of the log EventLogger attaches: Spark 4 compresses
        # with zstd by default; eventlog.py reads plain JSON lines from
        # a single file
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    spark = get_spark(
        "perfbench", master=f"local[{n_cpus}]", shuffle_partitions=partitions,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class EventLogger:
    """Spark's own event-log listener, attached to a running context for
    the traced region only, so the untraced repeats around it run in the
    same (equally warm) JVM without it."""

    def __init__(self, spark: SparkSession, log_dir: str):
        os.makedirs(log_dir, exist_ok=True)
        self._dir = log_dir
        self._sc = spark.sparkContext._jsc.sc()
        jvm = spark.sparkContext._jvm
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            self._sc.applicationId(), jvm.scala.Option.apply(None),
            jvm.java.net.URI("file://" + log_dir), self._sc.conf(),
        )
        self._listener.start()
        self._sc.addSparkListener(self._listener)

    def close(self) -> str:
        """Detach once every posted event is written; returns the log path."""
        self._sc.listenerBus().waitUntilEmpty()
        self._sc.removeSparkListener(self._listener)
        self._listener.stop()
        (name,) = os.listdir(self._dir)
        return os.path.join(self._dir, name)


def shutdown_jvm() -> None:
    """Stop the active context, then the gateway JVM, and wait for it."""
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        # the JVM exits when its stdin closes (PythonGatewayServer)
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def persisted_ids(spark: SparkSession) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keys()}


def release_since(spark: SparkSession, before: set[int]) -> int:
    """Unpersist exactly the RDDs persisted since ``before`` was taken and
    return how many there were. RDDs persisted earlier (the workload's
    inputs) are never touched."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    new = [(int(k), v) for k, v in rdds.items() if int(k) not in before]
    for _, rdd in new:
        rdd.unpersist(True)
    return len(new)


@dataclass
class Measured:
    """One timed region: step durations, their epoch-second windows, work
    done, and the operations attempted and failed."""

    steps: list[float] = field(default_factory=list)
    windows: list[tuple[float, float]] = field(default_factory=list)
    work: float = 0.0
    elapsed: float = 0.0
    attempted: int = 0
    failed: int = 0
    rdds_left: list[int] = field(default_factory=list)
    layers: dict = field(default_factory=dict)

    @property
    def work_per_s(self) -> float:
        return self.work / self.elapsed

    @property
    def step_p50_s(self) -> float:
        return statistics.median(self.steps)


def window_medians(log, windows: list[tuple[float, float]]) -> dict:
    """Per-step Spark runtime metrics (median over the steps' windows)."""
    per = [log.window(a, b) for a, b in windows]
    return {f"spark.{k}": statistics.median(w[k] for w in per) for k in per[0]}
