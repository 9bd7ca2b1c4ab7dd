"""Driver-thread overlap for independent eager member jobs (guide §2.6).

Spark's scheduler happily runs several jobs at once inside one
application; an operator's eager per-iteration loops (pagerank's
localCheckpoint-per-iteration, BFS hops) are sequential only because
the driver calls their actions sequentially. For compositions whose
members are INDEPENDENT — spam_mass = pagerank + trustrank over the
same shared edge table, bowtie's forward/backward BFS, the warm-start
experiment's full/cold loops, bm25f's body/anchor tf collapses —
submitting each member from its own driver thread lets the next job's
tasks back-fill executors freed by the current job's tail, so the
members' per-iteration scheduling latencies overlap instead of adding.

This changes NOTHING about what is computed: each member builds and
materializes exactly the DataFrame the sequential call produced
(deterministic integer fixed-point arithmetic, no shared mutable
state, per-thread lineage), and the default FIFO scheduler gives the
earlier job resources first — precisely the back-fill behaviour the
guide describes. On a cluster the same overlap keeps executors busy
through each member's stage tails.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession


def _inherit(thunk):
    """Wrap ``thunk`` so its driver thread inherits the caller's JVM
    local properties (job group/description) and, given the active
    session, its job tags. Wrapping captures them at call time, so
    this must run on the caller's thread."""
    session = SparkSession.getActiveSession()
    if session is None:
        return inheritable_thread_target(thunk)
    return inheritable_thread_target(session)(thunk)


def run_parallel(*thunks):
    """Run independent zero-arg callables in driver threads; return
    their results in call order (``[]`` for no thunks).

    Each thunk builds + materializes its member DataFrame (the eager
    checkpoints inside run as concurrent Spark jobs). Exceptions
    propagate from the failing member after all threads settle.
    """
    if len(thunks) <= 1:
        return [t() for t in thunks]
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(_inherit(t)) for t in thunks]
        return [f.result() for f in futures]
