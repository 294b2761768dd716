"""functions/concurrency.overlap — the driver-side job-overlap helper
(guide §2.6) the report/retrain keys run their independent
driver-blocking evaluations through."""

import threading
import time

import pytest

from aproximacion_1_etl_spark.functions.concurrency import overlap


def test_overlap_slots_results_in_call_order():
    # deliberately finish out of order: the slow thunk is first
    def slow():
        time.sleep(0.2)
        return "first"

    out = overlap(slow, lambda: "second", lambda: "third")
    assert out == ["first", "second", "third"]


def test_overlap_actually_runs_concurrently():
    gate = threading.Barrier(2, timeout=10)

    # each thunk blocks until BOTH have started — sequential execution
    # would deadlock (the barrier timeout turns that into a failure)
    def t():
        gate.wait()
        return True

    assert overlap(t, t) == [True, True]


def test_overlap_awaits_siblings_and_reraises_first_failure():
    finished = []

    def ok():
        time.sleep(0.3)
        finished.append("ok")
        return 1

    def boom():
        raise RuntimeError("wave failed")

    with pytest.raises(RuntimeError, match="wave failed"):
        overlap(ok, boom)
    # the running sibling was awaited, not abandoned mid-job
    assert finished == ["ok"]


def test_overlap_single_thunk_runs_inline():
    assert overlap(lambda: 42) == [42]


def test_overlap_threads_keep_the_callers_job_group(spark):
    # pool threads must see the caller's job group, so their jobs stay
    # attributable to it and cancellable with it
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup("overlap-caller", "overlap-caller")
    try:
        def group():
            return sc.getLocalProperty("spark.jobGroup.id")

        assert overlap(group, group) == ["overlap-caller", "overlap-caller"]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)


def test_overlap_cancels_running_siblings_on_failure(spark):
    # a failure must not wait out a sibling's long Spark job: the call's
    # job tag cancels it, so the failure re-raises within seconds
    sc = spark.sparkContext

    def long_job():
        sc.setInterruptOnCancel(True)  # lets the cancel stop the sleep
        spark.range(1, numPartitions=1).selectExpr(
            "reflect('java.lang.Thread', 'sleep', 30000L)"
        ).collect()

    def boom():
        time.sleep(1)  # let the sibling's job start first
        raise RuntimeError("wave failed")

    t0 = time.time()
    with pytest.raises(RuntimeError, match="wave failed"):
        overlap(long_job, boom)
    assert time.time() - t0 < 10
