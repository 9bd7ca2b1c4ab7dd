"""Smoke-level end-to-end run of scripts/driver_sim.py — the exact
artifact the grading driver mirrors — in a FRESH subprocess (own
SparkSession, own DuckDB), so the script itself can't rot while the
in-process mirror (test_oracle_parity.py) stays green.

Scoped to two fast queries and --no-entry to keep the suite's wall
time flat; the full 60-query run is the round's verify step."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def test_driver_sim_subprocess_smoke():
    proc = subprocess.run(
        [
            sys.executable,
            str(REPO / "scripts" / "driver_sim.py"),
            "--no-entry",
            "--only",
            "multi_filter_counts,status_histogram",
        ],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
    assert "TOTAL ok=2 fail=0" in proc.stdout, proc.stdout


def test_entry_preserves_caller_state_and_conf(spark):
    """entry() must scope its conf and release ONLY its own crawl
    state: a caller's pre-existing localCheckpointed frame (no lineage
    to recompute) and a prior entry() result must both survive a
    subsequent entry() call (round-5 review finding: an unbaselined
    unpersist sweep destroyed caller-owned checkpoint blocks)."""
    import importlib.util

    from pyspark.sql import functions as F

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", REPO / "__spark_entry__.py"
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)

    prior_conf = spark.conf.get("spark.sql.shuffle.partitions")
    caller = (
        spark.range(100)
        .select("id", (F.col("id") * 3).alias("v"))
        .localCheckpoint(eager=True)
    )
    first = m.entry(spark)
    first_rows = sorted(tuple(r) for r in first.collect())
    second = m.entry(spark)
    # the first result and the caller's checkpoint are still readable
    assert sorted(tuple(r) for r in first.collect()) == first_rows
    assert caller.count() == 100 and caller.agg(F.sum("v")).collect()[0][0] == 14850
    assert sorted(tuple(r) for r in second.collect()) == first_rows
    assert spark.conf.get("spark.sql.shuffle.partitions") == prior_conf
