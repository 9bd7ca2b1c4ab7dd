from __future__ import annotations

import pytest

from seo_crawler_spark.session import get_spark

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


# Measured per-file suite seconds (full run, local[8] spark fixture,
# this host) — the cost model for --shard's greedy file assignment.
# Files not listed cost 1.5 s per collected test. Re-measure with
# `pytest --durations=0` if the suite's shape changes materially; a
# stale table only skews balance, never correctness (every test still
# runs in exactly one shard).
_SHARD_COST: dict[str, float] = {
    "test_resume.py": 96.7,
    "test_streaming_dedup.py": 94.6,
    "test_oracle_parity.py": 74.6,
    "test_frontier_engine.py": 54.4,
    "test_plan_quality.py": 40.6,
    "test_simsearch_parity.py": 36.0,
    "test_connected_components.py": 25.9,
    "test_traps.py": 25.4,
    "test_spark_submit.py": 24.5,
    "test_issues.py": 22.8,
    "test_exports.py": 20.8,
    "test_new_ops_r4.py": 20.0,
    "test_streaming.py": 19.9,
    "test_classifier.py": 26.0,
    "test_triplets.py": 33.0,
    "test_retrieval.py": 34.0,
    "test_dsir.py": 25.0,
    "test_classifier_eval.py": 41.0,
    "test_crawl_budget.py": 30.0,
    "test_tokenizer_stats.py": 29.0,
    "test_decon_bm25.py": 19.0,
    "test_dedup_cap.py": 15.7,
    "test_canonicalize_native.py": 14.7,
    "test_driver_sim_smoke.py": 13.2,
    "test_sweep_smoke.py": 76.2,
    "test_filesize_gate.py": 13.0,
    "test_sitemap.py": 11.7,
    "test_kmeans.py": 30.0,
    "test_fetcher.py": 39.0,
    "test_interleaved_ops.py": 18.0,
    "test_golden_fixtures.py": 8.0,
    "test_rebuild.py": 7.3,
    "test_ckpt.py": 4.1,
    "test_single_page_mode.py": 3.0,
    "test_temporal.py": 2.3,
    "test_multimodal.py": 2.0,
    "test_properties.py": 12.0,
    "test_substring_trim.py": 1.8,
    "test_span_sequences.py": 0.3,
}


def pytest_addoption(parser):
    parser.addoption(
        "--shard",
        default=None,
        help=(
            "i/N (0-based): run only shard i of N. Whole FILES are "
            "assigned greedily (largest measured cost first) to the "
            "currently-lightest shard, so module-scoped fixtures and "
            "any intra-file ordering stay within one process. Every "
            "shard collects the full suite and computes the identical "
            "assignment — the union over i=0..N-1 is exactly the suite."
        ),
    )


def pytest_configure(config):
    # a RuntimeWarning raised in package code (numpy overflow, invalid
    # value, ...) is a bug unless the code opts in with np.errstate
    config.addinivalue_line(
        "filterwarnings", "error::RuntimeWarning:seo_crawler_spark.*"
    )


def pytest_collection_modifyitems(config, items):
    shard = config.getoption("--shard")
    if not shard:
        return
    i, n = (int(x) for x in shard.split("/"))
    by_file: dict[str, list] = {}
    for it in items:
        by_file.setdefault(it.fspath.basename, []).append(it)
    cost = {
        f: _SHARD_COST.get(f, 1.5 * len(its)) for f, its in by_file.items()
    }
    # greedy: heaviest file first into the lightest shard; ties on cost
    # break by name so all N processes agree.
    loads = [0.0] * n
    assign: dict[str, int] = {}
    for f in sorted(by_file, key=lambda f: (-cost[f], f)):
        s = min(range(n), key=lambda j: (loads[j], j))
        assign[f] = s
        loads[s] += cost[f]
    keep = [it for it in items if assign[it.fspath.basename] == i]
    drop = [it for it in items if assign[it.fspath.basename] != i]
    if drop:
        config.hook.pytest_deselected(items=drop)
    items[:] = keep


@pytest.fixture(scope="session")
def spark():
    # local[8]/shuffle=4: engine waves are dozens of tiny jobs — more
    # concurrent tasks and fewer shuffle partitions both cut the
    # per-job constant that dominates the suite's wall time.
    s = get_spark("tests", master="local[8]", shuffle_partitions=4)
    yield s
    s.stop()
