"""Smoke run of scripts/sweep.py, every mode at the smallest scale, each
in a fresh subprocess, so the one measurement harness cannot rot
unnoticed. The modes run concurrently to keep the suite's wall time
down; the numbers they print are not checked, only their shape and the
scaling and seen modes' equal-result verdicts."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

SWEEP = Path(__file__).resolve().parents[1] / "scripts" / "sweep.py"


def test_sweep_both_modes_smoke():
    procs = {
        mode: subprocess.Popen(
            [sys.executable, str(SWEEP), mode, "--scale", "0.01"],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            text=True,
        )
        for mode in ("scaling", "long_run", "seen")
    }
    lines = {}
    for mode, proc in procs.items():
        out, err = proc.communicate(timeout=300)
        assert proc.returncode == 0, out + err
        lines[mode] = [json.loads(x) for x in out.splitlines()]
        assert all(rec["mode"] == mode for rec in lines[mode])

    runs = [r for r in lines["scaling"] if "cores" in r]
    assert sorted(r["cores"] for r in runs) == [1, 4]
    for key in ("n_pages", "words", "n_links", "n_spans"):
        assert runs[0][key] == runs[1][key] > 0, key
    summary = lines["scaling"][-1]
    assert summary["aggregates_equal"] is True
    assert summary["efficiency"] > 0 and "steal_s" in summary

    deciles = [r for r in lines["long_run"] if "decile" in r]
    summary = lines["long_run"][-1]
    assert deciles and summary["waves"] > 1 and summary["crawled"] > 0
    assert all(r["sec"] > 0 and "expand" in r for r in deciles)

    sizes = [r for r in lines["seen"] if "seen" in r]
    assert [r["seen"] for r in sizes] == [2_000, 20_000, 100_000]
    for r in sizes:
        assert r["fresh_plain"] == r["fresh_prefilter"] == r["candidates"] // 2
        assert len(r["plain_runs"]) == len(r["prefilter_runs"]) == 4
    assert lines["seen"][-1]["counts_equal"] is True
