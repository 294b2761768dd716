"""Driver-side job overlap (spark_optimization_guide §2.6).

Spark's scheduler happily runs several jobs at once inside one
application; independent driver-blocking actions are only sequential
because the driver calls them sequentially. ``overlap`` runs
independent thunks (each typically ending in an eager
``localCheckpoint`` / ``collect`` / ``count``) through a small thread
pool so each job's straggler tail is back-filled by its siblings'
tasks — the device the RTBF audit introduced in r13, factored out for
the report/retrain keys that run 2-4 independent evaluation chains.

Invariants the callers must keep (ADVICE r13 #3):

- every memoized store/codebook getter a thunk touches must have been
  materialized BEFORE the pool (the shipped callers pass artifacts in
  as arguments, which forces exactly that);
- thunks submit Spark jobs but never mutate shared session state.

Each thunk runs with the caller's Spark local properties (job group,
job tags, scheduler pool), so its jobs stay attributable to, and
cancellable with, the caller's group.

On a thunk failure the remaining futures are cancelled where still
queued, every already-running sibling is awaited, and the FIRST
failure re-raises — a partial evaluation never keeps driving jobs
during unwind.
"""

from __future__ import annotations

import warnings
from collections.abc import Callable
from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait
from typing import Any

from pyspark import SparkContext, inheritable_thread_target

_MAX_WORKERS = 4


def overlap(*thunks: Callable[[], Any]) -> list[Any]:
    """Run independent driver-blocking thunks concurrently; return
    their results in call order (results are slotted, so composing a
    fixed-order report from them is deterministic)."""
    if len(thunks) <= 1:
        return [t() for t in thunks]
    if SparkContext._active_spark_context is not None:
        # pool threads start with empty JVM local properties; copy the
        # caller's, captured now, into each thunk's thread. The
        # callable form warns that SparkSession tags are not carried;
        # SparkContext job tags are local properties, so they are.
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", UserWarning)
            thunks = tuple(inheritable_thread_target(t) for t in thunks)
    n = min(len(thunks), _MAX_WORKERS)
    with ThreadPoolExecutor(max_workers=n) as pool:
        futures = [pool.submit(t) for t in thunks]
        _done, pending = wait(futures, return_when=FIRST_EXCEPTION)
        for p in pending:
            # only cancels thunks still queued; running siblings are
            # awaited below so unwind never races live jobs
            p.cancel()
        wait(futures)
        first_err = None
        for f in futures:
            if f.cancelled():
                continue
            err = f.exception()
            if err is not None and first_err is None:
                first_err = err
        if first_err is not None:
            raise first_err
        return [f.result() for f in futures]
