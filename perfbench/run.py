#!/usr/bin/env python3
"""Benchmark of the crawl engine and its scheduling layers.

    python3 perfbench/run.py --workload crawl_polite --seed 1 --seconds 6 --trace 0

Run from the repository root. Builds its inputs from ``--seed``, warms up,
measures for ``--seconds``, checks every step's output, and prints a
noise-marker line followed by one JSON result line (always the last line
of stdout). ``--trace 0`` reports the end-to-end metrics of
BENCHMARK.json; ``--trace 1`` runs the timed region with Spark's event
log attached, then without it, and reports the per-layer metrics. Exit
code 1 on any output-check mismatch. See perfbench/README.md for the
workloads and metrics."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("crawl_polite", "frontier_sched")


def _isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write under ``work`` and
    let Python workers import the package from the checkout."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)


def _workload(name: str, spark, seed: int, work: str, n: int):
    if name == "crawl_polite":
        from crawl import CrawlPolite

        return CrawlPolite(spark, seed, work)
    from frontier_sched import FrontierSched

    return FrontierSched(spark, seed, n)


def _query_layers(spark, seed: int, work: str) -> tuple[dict, int, int]:
    """``query.<name>.*`` from one warm-up pass and one traced pass over the
    analytics queries. Returns the figures and the queries attempted and
    failed."""
    from analytics import QueryLayers
    from eventlog import EventLog
    from harness import EventLogger, Measured

    ql = QueryLayers(spark, seed, work, ROOT)
    ql.setup()
    m = Measured()
    ql.one_pass(m)
    logger = EventLogger(spark, os.path.join(work, "eventlog-queries"))
    mq = Measured()
    ql.one_pass(mq)
    out = ql.layers(mq, EventLog(logger.close()))
    return out, m.attempted + mq.attempted, m.failed + mq.failed


def _scaling(spark, inputs, work: str, n: int, t_n: float) -> tuple[float, int, int]:
    """Scheduling-pass time on one core over n x ``t_n``, the median on n
    cores, same partitioning. Stops ``spark``. Returns the ratio and
    the operations attempted and failed: the local[1] measurement is one,
    failed if any of its passes fails its check."""
    from frontier_sched import scaling
    from harness import start_session

    spark.stop()
    spark = start_session(work, 1, n)
    try:
        t_1 = scaling(spark, inputs, n)
    except RuntimeError as e:
        print(f"frontier_sched at local[1]: {e}", flush=True)
        return 0.0, 1, 1
    finally:
        spark.stop()
    return t_1 / (n * t_n), 1, 0


def run(args, work: str, units: dict[str, str], rss) -> tuple[dict, int, int, dict]:
    from eventlog import EventLog
    from harness import EventLogger, cpus, start_session, window_medians
    from probes import cpu_probe_ms, cpu_ticks, host_delta, process_age_s

    n = cpus()
    spark = start_session(work, n, n)
    wl = _workload(args.workload, spark, args.seed, work, n)
    warm = wl.setup()
    at_ready: dict = {}

    def ready() -> None:
        at_ready.update(setup_s=process_age_s(), ticks=cpu_ticks())

    # the traced run only warms up here: its timed regions follow
    m = wl.measure(0 if args.trace else args.seconds, ready)
    setup_s = at_ready["setup_s"]
    attempted = warm.attempted + m.attempted
    failed = warm.failed + m.failed
    noise = {
        "nproc": n, "master": f"local[{n}]", "shuffle_partitions": n,
        "loadavg": os.getloadavg(),
    }
    if not args.trace:
        host = host_delta(at_ready["ticks"], cpu_ticks())
        print(f"setup {setup_s:.1f}s, timed steps {[round(t, 2) for t in m.steps]}", file=sys.stderr)
        noise.update(steps=len(m.steps), **host, cpu_probe_ms=cpu_probe_ms())
        if hasattr(wl, "digest"):
            noise["order_digest"] = wl.digest
        wl.close()
        return (
            {
                "setup_s": setup_s,
                "work_per_s": m.work_per_s,
                "step_p50_s": m.step_p50_s,
                "peak_mem_mb": rss.peak_mb,
            },
            attempted, failed, noise,
        )

    # traced timed region, then an untraced one, in the same warm JVM: the
    # overhead ratio compares these two adjacent, identically placed runs
    logger = EventLogger(spark, os.path.join(work, "eventlog"))
    ticks = cpu_ticks()
    mt = wl.measure(args.seconds, lambda: None)
    host = host_delta(ticks, cpu_ticks())
    log = EventLog(logger.close())
    layers = {name: 0.0 for name in units}
    layers.update(window_medians(log, mt.windows))
    layers.update(wl.layers(mt, log))
    m2 = wl.measure(args.seconds, lambda: None)
    wl.close()
    for x in (mt, m2):
        attempted += x.attempted
        failed += x.failed
    noise.update(steps=len(mt.steps), **host, cpu_probe_ms=cpu_probe_ms())
    if hasattr(wl, "digest"):
        noise["order_digest"] = wl.digest
    layers.update({
        "trace.overhead_ratio": mt.work_per_s / m2.work_per_s,
        "host.steal_s": host["steal_s"],
        "host.cpu_busy_ratio": host["cpu_busy_ratio"],
    })
    if args.workload == "frontier_sched":
        queries, q_att, q_fail = _query_layers(spark, args.seed, work)
        layers.update(queries)
        eff, s_att, s_fail = _scaling(spark, wl.inputs, work, n, m2.step_p50_s)
        layers["scaling.sched_eff_1_to_n"] = eff
        attempted += q_att + s_att
        failed += q_fail + s_fail
    return layers, attempted, failed, noise


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {
        m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]
    }
    work = os.path.join(HERE, ".work", str(os.getpid()))
    try:
        _isolate(work)
        # imported only now: the package must come from this checkout
        from harness import shutdown_jvm
        from probes import PeakRss

        rss = PeakRss()
        try:
            metrics, attempted, failed, noise = run(args, work, units, rss)
        finally:
            shutdown_jvm()
            rss.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's work dir is still there
            pass
    if set(metrics) != set(units):
        raise SystemExit(f"metric names differ from BENCHMARK.json: {sorted(set(metrics) ^ set(units))}")
    print(json.dumps({"noise": noise}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
