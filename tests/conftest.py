import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aproximacion_1_etl_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[*]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def warm_call(spark, sf_dir):
    """Call a catalog key twice; return (first rows, second rows, the
    Spark jobs the second call submitted). The jobs are counted under
    a fresh job group, which the overlap pool's threads inherit."""
    from aproximacion_1_etl_spark.queries import ALL_QUERIES

    def call(key):
        rows = ALL_QUERIES[key](spark, sf_dir).collect()
        sc = spark.sparkContext
        group = f"{key}-warm"
        sc.setJobGroup(group, group)
        try:
            again = ALL_QUERIES[key](spark, sf_dir).collect()
            jobs = sc.statusTracker().getJobIdsForGroup(group)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return rows, again, jobs

    return call


def _owner_state(root: str) -> str:
    """'alive' | 'dead' | 'unknown' for the session that created
    ``root``.

    Ownership is a pid file written at root creation; liveness is
    os.kill(pid, 0). 'dead' (pid file present, pid gone) is the only
    state eligible for the fast reclaim path — 'unknown' (no/unreadable
    pid file, e.g. a run from a checkout predating the pid-file
    convention) must fall back to the slow 6h mtime gate, otherwise a
    live legacy run's temp root could be deleted mid-run after 60 s of
    mtime quiet. A recycled pid can false-positive as 'alive' — the 6h
    gate still reclaims those eventually, and the heartbeat thread
    keeps genuinely live roots' mtimes fresh so they are never in the
    stale window at all."""
    try:
        with open(os.path.join(root, "OWNER.pid")) as fh:
            pid = int(fh.read().strip())
    except (OSError, ValueError):
        return "unknown"
    try:
        os.kill(pid, 0)
        return "alive"
    except ProcessLookupError:
        return "dead"
    except PermissionError:
        return "alive"
    except OSError:
        return "alive"


def _sweep_stale_roots(skip: str | None = None) -> None:
    """Reclaim graft_test_session_* roots left by crashed runs.

    A root is reclaimable when its owner pid is KNOWN dead (prompt
    path — this is what a SIGKILLed pytest leaves behind) or, as the
    backstop for recycled pids AND for roots with no readable pid file
    (runs from checkouts predating the convention), when the newest
    mtime among the root and its direct children is >6h old. Live
    sessions are protected twice over: their pid is alive AND their
    heartbeat thread re-touches the root every 5 minutes, so a >6h
    test session confined to deeply nested files (the depth-1-mtime
    hole) can no longer be reclaimed mid-run. A 60 s infancy grace
    covers the create-root/write-pidfile race."""
    import glob
    import shutil
    import tempfile
    import time

    now = time.time()
    for d in glob.glob(
        os.path.join(tempfile.gettempdir(), "graft_test_session_*")
    ):
        if skip is not None and os.path.abspath(d) == os.path.abspath(skip):
            continue
        try:
            newest = os.path.getmtime(d)
            with os.scandir(d) as it:
                for child in it:
                    try:
                        newest = max(newest, child.stat().st_mtime)
                    except OSError:
                        pass
            if now - newest < 60:
                continue  # infancy grace: pid file may not be written yet
            if _owner_state(d) == "dead" or now - newest > 6 * 3600:
                shutil.rmtree(d, ignore_errors=True)
        except OSError:
            pass


@pytest.fixture(scope="session", autouse=True)
def _reclaim_test_tempdirs():
    """Give the test session its OWN temp root and delete it at the
    end. Every tempfile.mkdtemp in tests and in library code they call
    (fixture parquet, streaming checkpoints, roundtrip keys) lands
    under it, so cleanup is one rmtree that cannot touch another
    process's dirs — a prefix-glob sweep of the shared /tmp could
    delete a concurrently running bench/oracle process's live
    checkpoint. Crash robustness: the root carries an OWNER.pid and a
    5-minute heartbeat touch; stale roots (dead owner, or >6h silent)
    are swept both at session START and at session END, so a root
    orphaned by a hard-killed run is reclaimed by the next clean run
    in the same round rather than six hours later."""
    import shutil
    import tempfile
    import threading

    _sweep_stale_roots()

    session_tmp = tempfile.mkdtemp(prefix="graft_test_session_")
    with open(os.path.join(session_tmp, "OWNER.pid"), "w") as fh:
        fh.write(str(os.getpid()))

    stop = threading.Event()

    def _heartbeat():
        while not stop.wait(300):
            try:
                os.utime(session_tmp, None)
            except OSError:
                pass

    hb = threading.Thread(
        target=_heartbeat, name="graft-temp-heartbeat", daemon=True
    )
    hb.start()

    prev = tempfile.tempdir
    tempfile.tempdir = session_tmp
    yield
    tempfile.tempdir = prev
    stop.set()
    shutil.rmtree(session_tmp, ignore_errors=True)
    _sweep_stale_roots(skip=session_tmp)
