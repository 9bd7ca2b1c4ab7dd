"""Analytics-operator layers (``graph``, ``bpe``) reached through
``__spark_entry__.queries()``: passes over a list of its entries on a
seeded ``documents`` table, run by the traced frontier_sched run for the
``query.<name>.*`` metrics. One pass runs every listed query once.

Each result is hashed with the value-hash rule of ``scripts/driver_sim.py``
(columns sorted by lower-cased name, values normalized, rows sorted, md5)
and must equal the hash of the query's DuckDB oracle (``oracle_sql()``)
run over the same parquet file.

The graph queries derive their edge list from ``doc_id`` alone, so the
seed moves the text (and so the BPE merges), not the graph."""

from __future__ import annotations

import hashlib
import importlib.util
import math
import os
import statistics
import time

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession

from harness import Measured, persisted_ids, release_since

# a fixed-point graph loop and the BPE operator: the two analytics layers,
# in a pass short enough to repeat within one run
QUERIES = ("pagerank", "bpe_merges")
N_DOCS = 500
_WORDS = (
    "crawl frontier wave seed host page link anchor fetch parse index "
    "query shard merge batch scan token stream table column row join "
    "sort group window hash state depth budget bloom probe salt skew the a"
).split()
_LANGS = ("en", "de", "fr", "es", "zh")


def write_documents(path: str, seed: int) -> None:
    rng = np.random.default_rng(seed)
    texts = [
        " ".join(rng.choice(_WORDS, size=int(rng.integers(8, 80))))
        for _ in range(N_DOCS)
    ]
    table = pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.integers(0, len(_LANGS), N_DOCS)],
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(table, os.path.join(path, "documents.parquet"))


def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    cols = [c.lower() for c in cols]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_norm(r[i]) for i in order) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def _load_entry(root: str):
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(root, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class QueryLayers:
    def __init__(self, spark: SparkSession, seed: int, work: str, root: str):
        self.spark, self.seed = spark, seed
        self.data = os.path.join(work, "sf")
        entry = _load_entry(root)
        self.queries = {q: entry.queries()[q] for q in QUERIES}
        self.oracle_sql = {q: entry.oracle_sql()[q] for q in QUERIES}

    def setup(self) -> None:
        """Input table and the oracle hashes."""
        os.makedirs(self.data, exist_ok=True)
        write_documents(self.data, self.seed)
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet("
            f"'{os.path.join(self.data, 'documents.parquet')}')"
        )
        self.expected = {}
        for q, sql in self.oracle_sql.items():
            tbl = con.execute(sql).fetch_arrow_table()
            rows = list(zip(*(c.to_pylist() for c in tbl.columns)))
            self.expected[q] = value_hash(tbl.column_names, rows)
        con.close()

    def one_pass(self, m: Measured) -> None:
        """Run every query once, check each result, then release exactly
        the RDDs the pass persisted."""
        sc = self.spark.sparkContext
        before = persisted_ids(self.spark)
        start = time.time()
        for q, fn in self.queries.items():
            sc.setJobGroup(f"query-{q}", f"perfbench query {q}")
            t = time.time()
            m.attempted += 1
            try:
                df = fn(self.spark, self.data)
                ok = value_hash(df.columns, [tuple(r) for r in df.collect()]) == self.expected[q]
            except Exception as e:  # a raising query is a failed operation
                print(f"{q}: {type(e).__name__}: {e}", flush=True)
                ok = False
            m.layers.setdefault(q, []).append((t, time.time()))
            m.failed += not ok
        end = time.time()
        m.windows.append((start, end))
        m.steps.append(end - start)
        m.work += len(self.queries)
        m.rdds_left.append(release_since(self.spark, before))

    def layers(self, m: Measured, log) -> dict:
        out = {}
        for q in QUERIES:
            spans = m.layers[q]
            out[f"query.{q}.s"] = statistics.median(b - a for a, b in spans)
            out[f"query.{q}.jobs"] = statistics.median(log.window(a, b)["jobs"] for a, b in spans)
        return out
