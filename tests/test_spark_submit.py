"""End-to-end run of the north-rule deployment shape: a real
``spark-submit --py-files <zip>`` invocation of scripts/submit_crawl.py
from a NEUTRAL cwd, so every ``seo_crawler_spark`` import must resolve
from the shipped zip — the exact failure mode (a module importing by
filesystem path, or data files missing from the archive) that an
in-process test can never catch.

Reference deployment contract: BASELINE.json north_rule ("run via
spark-submit --py-files"); scripts/submit_crawl.py docstring carries the
cluster command line.
"""

from __future__ import annotations

import json
import shutil
import subprocess
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]


@pytest.mark.skipif(shutil.which("spark-submit") is None, reason="no spark-submit on PATH")
def test_spark_submit_pyfiles_crawl(tmp_path):
    zip_out = subprocess.run(
        [
            "python",
            "-c",
            "from seo_crawler_spark.session import _package_zip; print(_package_zip())",
        ],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=120,
    )
    assert zip_out.returncode == 0, zip_out.stderr
    pyfiles = zip_out.stdout.strip().splitlines()[-1]

    proc = subprocess.run(
        [
            "spark-submit",
            "--master",
            "local[8]",
            "--conf",
            "spark.sql.shuffle.partitions=8",
            "--py-files",
            pyfiles,
            str(REPO / "scripts" / "submit_crawl.py"),
            "200",
            "120",
        ],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),  # neutral cwd: imports MUST come from the zip
        timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]

    waves = [
        json.loads(line.split(" ", 1)[1])
        for line in proc.stdout.splitlines()
        if line.startswith("WAVE ")
    ]
    hists = [
        json.loads(line.split(" ", 1)[1])
        for line in proc.stdout.splitlines()
        if line.startswith("HISTOGRAM ")
    ]
    assert waves, proc.stdout[-2000:]
    assert hists and sum(hists[0].values()) == 120  # max_urls budget honored
    # per-wave metrics carry the phase marks the north rule requires
    assert {"sched", "fetch_extract", "expand", "fold", "snapshot"} <= set(
        waves[0]["phases"]
    )
    assert waves[-1]["crawled_total"] == 120
