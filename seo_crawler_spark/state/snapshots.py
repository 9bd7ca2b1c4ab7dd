"""Iceberg-semantics snapshot store over Parquet (no Iceberg jars offline).

What the engine actually needs from a table format — and what this
layer guarantees:

  * **atomic commit**: data lands in an immutable ``wave=N`` directory,
    then a manifest JSON is renamed into place (os.replace is atomic on
    POSIX) — a reader never sees a half-written wave;
  * **snapshot isolation for resume**: the manifest names the latest
    committed wave; restart = read ``frontier@wave``, ``seen@wave``
    (waves are the atomic unit — no partial-wave state, unlike the
    reference's lossy 1000-URL checkpoint at crawler.py:585-613);
  * **partition layout**: per-wave directories; seen/pages/links are
    append-only (wave subdirs unioned on read).

The interface is deliberately thin so a real Iceberg catalog
(``df.writeTo(...).append()``) slots in when jars are available.
"""

from __future__ import annotations

import json
import os
import tempfile
from functools import partial

from pyspark.sql import DataFrame, SparkSession

from ..parallel import run_parallel


class SnapshotStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- manifest ----------------------------------------------------------
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.root, "manifest.json")

    def manifest(self) -> dict | None:
        try:
            with open(self._manifest_path) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def _commit_manifest(self, m: dict) -> None:
        fd, tmp = tempfile.mkstemp(dir=self.root, suffix=".manifest.tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(m, f, indent=2)
        os.replace(tmp, self._manifest_path)  # atomic snapshot swap

    # -- wave commit ---------------------------------------------------------
    def _wave_dir(self, table: str, wave: int) -> str:
        return os.path.join(self.root, table, f"wave={wave}")

    def _write_wave_atomic(self, df: DataFrame, table: str, wave: int) -> None:
        """Write to a hidden staging dir, then rename into ``wave=N``.

        The rename (atomic on POSIX) is what makes wave dirs appear
        all-or-nothing to ANY directory-listing reader — including the
        dashboard's streaming file source globbing ``wave=*`` — not just
        to manifest-aware readers. Without it, a reader could list a
        half-written or never-committed wave whose files a resume later
        rewrites (double-count / FileNotFound in a long-lived stream).

        A pre-existing target dir is an orphan from a crash between
        rename and manifest commit. It is renamed ASIDE to a dot-prefixed
        trash dir (one metadata op) and deleted only after the new dir is
        in place — the visible path transitions old→absent→new across two
        renames (microseconds), never through a half-deleted tree the way
        an in-place rmtree would expose it. Dot-prefixed dirs are invisible
        to the manifest reader and to the dashboard's ``wave=*`` glob."""
        import shutil

        final = self._wave_dir(table, wave)
        staging = os.path.join(self.root, table, f".staging-wave={wave}")
        trash = os.path.join(self.root, table, f".trash-wave={wave}")
        df.write.mode("overwrite").parquet(staging)
        if os.path.isdir(trash):  # leftover from an earlier crash
            shutil.rmtree(trash)
        if os.path.isdir(final):
            os.rename(final, trash)
        os.rename(staging, final)
        if os.path.isdir(trash):
            shutil.rmtree(trash)

    def commit_wave(
        self,
        wave: int,
        frontier: DataFrame,
        seen: DataFrame,
        pages: DataFrame,
        links: DataFrame,
        metric: dict,
        base_domain: str | None = None,
        on_data_written=None,
    ) -> None:
        """Write wave-N snapshots (staged + renamed), then atomically
        publish the manifest. ``on_data_written`` (if given) runs after
        the parquet writes and BEFORE the metric is serialized, so a
        caller can finalize fields of ``metric`` (e.g. phase timings)
        that must land in the persisted copy.

        The per-wave metric APPENDS to ``metrics.jsonl`` instead of
        living in the manifest: re-serializing all prior metrics each
        wave is O(waves) per commit — the 520-wave run in
        BENCH/BASELINE.md measures the drift — where the append is
        O(1), so per-wave commit cost is independent of crawl depth.
        The manifest commit (os.replace) remains the publish point: a
        line for a wave the manifest never committed (crash between
        append and rename, or a re-committed wave after resume) is
        superseded by last-line-wins + the committed-waves filter in
        :meth:`metrics`."""
        # The four table writes are independent (different dirs, no
        # ordering constraint — only the manifest publishes them), so
        # they submit as CONCURRENT Spark jobs from four threads: the
        # scheduler interleaves their stages across the executor pool
        # instead of paying four serial rounds of plan+schedule+write
        # latency per wave. All four must complete (or raise) before
        # on_data_written and the manifest commit below — run_parallel
        # returns only after every thread settles and re-raises any
        # failure, and a partially-written wave stays invisible
        # (staging dirs). seen arrives as the wave's DELTA — appends
        # stay O(new URLs) per wave instead of O(|seen|).
        run_parallel(
            *(
                partial(self._write_wave_atomic, df, name, wave)
                for df, name in (
                    (frontier, "frontier"),
                    (seen, "seen"),
                    (pages, "pages"),
                    (links, "links"),
                )
            )
        )
        if on_data_written is not None:
            on_data_written()

        prev = self.manifest() or {"waves": []}
        # pre-sidecar store: migrate manifest-embedded metrics into the
        # sidecar before dropping them from the manifest (metrics()
        # dedups by wave if a crash lands between the two writes)
        legacy = prev.pop("metrics", None) or []
        with open(self._metrics_path, "a") as f:
            for mm in legacy:
                f.write(json.dumps(mm) + "\n")
            f.write(json.dumps(metric) + "\n")
            f.flush()
            os.fsync(f.fileno())
        prev["waves"] = sorted(set(prev["waves"]) | {wave})
        prev["latest_wave"] = wave
        if base_domain is not None:
            prev["base_domain"] = base_domain
        self._commit_manifest(prev)

    @property
    def _metrics_path(self) -> str:
        return os.path.join(self.root, "metrics.jsonl")

    def metrics(self) -> list[dict]:
        """Committed per-wave metrics, sorted by wave.

        Last line per wave wins (a resume re-commits its crash wave);
        lines for never-committed waves and a torn final line (crash
        mid-append) are dropped. Metrics still embedded in a
        pre-sidecar manifest are merged in, sidecar winning."""
        m = self.manifest() or {}
        committed = set(m.get("waves", []))
        by_wave = {mm["wave"]: mm for mm in m.get("metrics", [])}
        try:
            with open(self._metrics_path) as f:
                lines = f.read().splitlines()
        except FileNotFoundError:
            lines = []
        for line in lines:
            try:
                mm = json.loads(line)
            except json.JSONDecodeError:
                continue  # torn tail write; its wave never committed
            by_wave[mm["wave"]] = mm
        return [by_wave[w] for w in sorted(by_wave) if w in committed]

    # -- crawl-level metadata ---------------------------------------------
    # The reference keeps a crawls table with a status column
    # (running/paused/completed/failed/stopped — src/crawl_db.py via
    # set_crawl_status; crash recovery marks stale 'running' rows failed,
    # main.py:1507-1524). Here the crawl row lives in the manifest; each
    # transition appends to a history list (timestamps are passed in —
    # the engine holds no wall clock).

    def set_crawl_status(self, status: str, at: str | None = None) -> None:
        m = self.manifest() or {"waves": []}
        crawl = m.get("crawl") or {"history": []}
        crawl["status"] = status
        crawl["history"] = crawl.get("history", []) + [
            {"status": status, "at": at}
        ]
        m["crawl"] = crawl
        self._commit_manifest(m)

    def crawl_status(self) -> str | None:
        m = self.manifest()
        return None if m is None else (m.get("crawl") or {}).get("status")

    def mark_crashed_if_running(self, at: str | None = None) -> bool:
        """Crash recovery (main.py:1507-1524): a manifest still claiming
        'running' when a new process attaches means the old one died —
        mark it failed (resumable). Returns True when a crash was
        detected."""
        if self.crawl_status() == "running":
            self.set_crawl_status("failed", at)
            return True
        return False

    # -- resume ------------------------------------------------------------
    def latest_wave(self) -> int | None:
        m = self.manifest()
        return None if m is None else m.get("latest_wave")

    def read_frontier(self, spark: SparkSession, wave: int) -> DataFrame:
        return spark.read.parquet(self._wave_dir("frontier", wave))

    def write_seen_tombstones(self, wave: int, tombstones: DataFrame) -> None:
        """Merge-on-read deletes for the seen table (Iceberg v2 delete-file
        semantics): a tombstone (url, wave) kills exactly that row version
        of the append-only deltas at read time — a refresh crawl's
        replacement row at a later wave is untouched. Written under the
        NEXT wave's directory, so it stays invisible until that wave's
        manifest commits (same atomicity rule as every other table)."""
        tombstones.write.mode("overwrite").parquet(
            self._wave_dir("seen_deletes", wave)
        )

    def clear_orphan_tombstones(self, latest_committed: int) -> list[str]:
        """Remove seen_deletes dirs for waves past the last committed
        manifest wave. A refresh-resume writes its tombstones BEFORE the
        wave that publishes them commits; if that process crashes, the
        orphaned dir would be silently published by the next resume's
        wave commit — erasing seen rows whose replacement rows were never
        written. Every resume calls this first."""
        import shutil

        removed = self.clear_staging()
        root = os.path.join(self.root, "seen_deletes")
        if not os.path.isdir(root):
            return removed
        for name in os.listdir(root):
            if name.startswith("."):
                continue  # staging/trash handled above, never wave-parsed
            try:
                w = int(name.split("=", 1)[1])
            except (IndexError, ValueError):
                continue
            if w > latest_committed:
                d = os.path.join(root, name)
                shutil.rmtree(d)
                removed.append(d)
        return removed

    def clear_staging(self) -> list[str]:
        """Sweep dot-prefixed staging/trash leftovers (a crash mid
        ``_write_wave_atomic``) from every table dir — these are never
        referenced by any reader, and unlike committed waves their
        cleanup must not depend on their embedded wave number."""
        import shutil

        removed = []
        for table in os.listdir(self.root):
            tdir = os.path.join(self.root, table)
            if not os.path.isdir(tdir):
                continue
            for name in os.listdir(tdir):
                d = os.path.join(tdir, name)
                if name.startswith(".") and os.path.isdir(d):
                    shutil.rmtree(d)
                    removed.append(d)
        return removed

    def read_seen(self, spark: SparkSession, upto_wave: int) -> DataFrame:
        """seen = compacted base (if any) ∪ later per-wave deltas, minus
        later tombstones — merge-on-read over append-only state."""
        base_wave = (self.manifest() or {}).get("seen_base_wave")
        lo = 0
        dirs = []
        if base_wave is not None and base_wave <= upto_wave:
            dirs.append(self._wave_dir("seen_base", base_wave))
            lo = base_wave + 1
        dirs += [self._wave_dir("seen", w) for w in range(lo, upto_wave + 1)
                 if os.path.isdir(self._wave_dir("seen", w))]
        seen = spark.read.parquet(*dirs)
        tdirs = [self._wave_dir("seen_deletes", w) for w in range(lo, upto_wave + 1)
                 if os.path.isdir(self._wave_dir("seen_deletes", w))]
        if tdirs:
            from pyspark.sql import functions as F

            t = spark.read.parquet(*tdirs).select(
                F.col("url").alias("__t_url"), F.col("wave").alias("__t_wave")
            )
            seen = seen.join(
                t,
                (seen.url == F.col("__t_url")) & (seen.wave == F.col("__t_wave")),
                "left_anti",
            )
        return seen

    # -- compaction --------------------------------------------------------
    def compact_seen(self, spark: SparkSession, upto_wave: int | None = None) -> int:
        """Iceberg-style rewrite: fold the per-wave seen deltas and their
        tombstones up to ``upto_wave`` (default: latest committed) into
        one consolidated base table. A crawl of W waves otherwise makes
        read_seen union W directories — at 10^4 waves the file-listing
        and per-dir footer reads dominate, so periodic compaction keeps
        resume O(1) directories. Atomic like every other commit: the
        base dir is written first, the manifest pointer flips second;
        a crash in between leaves the old read path fully intact.

        Old delta dirs become unreferenced garbage (see vacuum_seen).
        Returns the wave the base now covers."""
        w = self.latest_wave() if upto_wave is None else upto_wave
        if w is None:
            raise ValueError("nothing committed yet")
        base_wave = (self.manifest() or {}).get("seen_base_wave")
        if base_wave is not None:
            if w < base_wave:
                # would move the base pointer backwards onto (possibly
                # vacuumed) delta dirs and resurrect tombstoned rows
                raise ValueError(
                    f"compact upto_wave={w} precedes seen_base_wave={base_wave}"
                )
            if w == base_wave:
                # idempotent retry: nothing committed past the base —
                # rewriting would overwrite the dir being read
                return w
        base = self.read_seen(spark, w)
        base.write.mode("overwrite").parquet(self._wave_dir("seen_base", w))
        m = self.manifest() or {"waves": []}
        m["seen_base_wave"] = w
        self._commit_manifest(m)
        return w

    def vacuum_seen(self) -> list[str]:
        """Delete seen delta/tombstone dirs superseded by the compacted
        base (safe only AFTER the manifest points at the base)."""
        import shutil

        base_wave = (self.manifest() or {}).get("seen_base_wave")
        removed = []
        if base_wave is None:
            return removed
        for table in ("seen", "seen_deletes"):
            for w in range(base_wave + 1):
                d = self._wave_dir(table, w)
                if os.path.isdir(d):
                    shutil.rmtree(d)
                    removed.append(d)
        # superseded bases from earlier compactions
        base_root = os.path.join(self.root, "seen_base")
        if os.path.isdir(base_root):
            for name in os.listdir(base_root):
                if name != f"wave={base_wave}":
                    d = os.path.join(base_root, name)
                    shutil.rmtree(d)
                    removed.append(d)
        return removed

    def read_pages(self, spark: SparkSession, upto_wave: int) -> DataFrame:
        dirs = [self._wave_dir("pages", w) for w in range(upto_wave + 1)
                if os.path.isdir(self._wave_dir("pages", w))]
        return spark.read.parquet(*dirs)

    def read_links(self, spark: SparkSession, upto_wave: int) -> DataFrame:
        dirs = [self._wave_dir("links", w) for w in range(upto_wave + 1)
                if os.path.isdir(self._wave_dir("links", w))]
        return spark.read.parquet(*dirs)


def crawls_by_status(spark: SparkSession, roots: list[str]) -> DataFrame:
    """Crawls-by-status aggregate (reference main.py:1313-1325:
    ``SELECT status, COUNT(*) FROM crawls GROUP BY status``). Crawl
    metadata is one manifest row per crawl — driver-side reads of tiny
    JSON, then a DataFrame groupBy for the aggregate itself."""
    rows = []
    for root in roots:
        store = SnapshotStore(root)
        m = store.manifest() or {}
        rows.append(
            (
                root,
                (m.get("crawl") or {}).get("status") or "unknown",
                m.get("base_domain"),
                m.get("latest_wave"),
            )
        )
    df = spark.createDataFrame(
        rows, "root string, status string, base_domain string, latest_wave int"
    )
    from pyspark.sql import functions as F

    return df.groupBy("status").agg(F.count(F.lit(1)).alias("n")).orderBy("status")
