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

Each call also tags its thunks' jobs with one job tag of its own. On
a thunk failure the remaining futures are cancelled where still
queued, the running siblings' Spark jobs are cancelled by that tag
until every sibling has returned, and the FIRST failure re-raises — a
partial evaluation never keeps driving jobs during unwind, and the
caller does not wait out a sibling's long job.
"""

from __future__ import annotations

import uuid
import warnings
from collections.abc import Callable
from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait
from typing import Any

from pyspark import SparkContext, inheritable_thread_target

_MAX_WORKERS = 4
# how often a failed call re-cancels its tag while siblings unwind:
# a sibling may start another job after the previous cancel
_CANCEL_POLL_S = 0.5


def overlap(*thunks: Callable[[], Any]) -> list[Any]:
    """Run independent driver-blocking thunks concurrently; return
    their results in call order (results are slotted, so composing a
    fixed-order report from them is deterministic)."""
    if len(thunks) <= 1:
        return [t() for t in thunks]
    sc = SparkContext._active_spark_context
    tag = None
    if sc is not None:
        # pool threads start with empty JVM local properties; copy the
        # caller's, captured now and with this call's tag added, into
        # each thunk's thread. The callable form warns that
        # SparkSession tags are not carried; SparkContext job tags are
        # local properties, so they are.
        tag = f"overlap-{uuid.uuid4().hex}"
        sc.addJobTag(tag)
        try:
            with warnings.catch_warnings():
                warnings.simplefilter("ignore", UserWarning)
                thunks = tuple(inheritable_thread_target(t) for t in thunks)
        finally:
            sc.removeJobTag(tag)
    n = min(len(thunks), _MAX_WORKERS)
    with ThreadPoolExecutor(max_workers=n) as pool:
        futures = [pool.submit(t) for t in thunks]
        done = wait(futures, return_when=FIRST_EXCEPTION).done
        failed = [f for f in futures if f in done and f.exception() is not None]
        if not failed:
            return [f.result() for f in futures]
        for f in futures:
            f.cancel()  # only cancels thunks still queued
        # running siblings are awaited, so unwind never races live
        # jobs, but their jobs are cancelled rather than waited out
        while tag is not None and wait(futures, timeout=0).not_done:
            sc.cancelJobsWithTag(tag)
            wait(futures, timeout=_CANCEL_POLL_S)
        wait(futures)
        raise failed[0].exception()
