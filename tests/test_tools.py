"""Harness-tool tests: bench.py's key lists, its BENCH_DETAIL.json
record and its --child mode, the streaming twins' per-wave fold
timings, the batch-versioned store commits, and the crash-robust
test-temp-root sweep."""

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_headline_keys_are_catalog_keys():
    """Every key bench.py times is a catalog key, and none is timed
    twice: a renamed key otherwise fails only when a full bench run
    reaches its segment."""
    import bench
    from aproximacion_1_etl_spark.queries import ALL_QUERIES

    assert [k for k in bench.HEADLINE if k not in ALL_QUERIES] == []
    assert [k for k in bench.STREAM_TWINS if k not in ALL_QUERIES] == []
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)


def test_bench_detail_sums_key_mins_and_keeps_fastest_build():
    """The BENCH_DETAIL.json record: value is the sum of the per-key
    mins, each build line item is its fastest segment's, and no
    drift-correction field is written."""
    import bench

    results = [
        {
            "timings": {"a": 1.25, "b": 0.5},
            "spread_pct": {"a": 3.0, "b": 10.0},
            "train_secs": {"m_build_sec": 4.0, "n_build_sec": 2.0},
        },
        {
            "timings": {"c": 2.0},
            "spread_pct": {"c": 1.5},
            "train_secs": {"m_build_sec": 3.0},
        },
    ]
    folds = {
        "streaming_x": {
            "total_sec": 1.0,
            "fold_secs": [0.5, 0.25],
            "steady_fold_secs": [0.25],
        }
    }
    d = bench.bench_detail(results, folds)
    assert d["metric"] == "headline_queries_total_wall"
    assert d["queries"] == {"a": 1.25, "b": 0.5, "c": 2.0}
    assert d["value"] == sum(d["queries"].values()) == 3.75
    assert d["spread_pct"] == {"a": 3.0, "b": 10.0, "c": 1.5}
    assert d["m_build_sec"] == 3.0
    assert d["n_build_sec"] == 2.0
    assert (d["n_queries"], d["segments"]) == (3, 2)
    assert d["stream_folds"] == folds
    assert [
        k for k in d
        if k.startswith("probe")
        or "perf_gate" in k
        or "sampled_isolated" in k
    ] == []
    json.dumps(d)
    assert bench.bench_detail(results, None)["stream_folds"] is None


def test_bench_child_times_only_the_given_keys(sf_dir, tmp_path):
    """`bench.py --child OUT key...` times exactly the keys it is
    given in one fresh JVM and writes their mins, steady spreads and
    the build ledger to OUT."""
    out = tmp_path / "child.json"
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=sf_dir,
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_BENCH_RUNS="1",
    )
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), "--child",
         str(out), "pricing_summary", "dedup_exact"],
        cwd=tmp_path,
        env=env,
        stdout=subprocess.DEVNULL,
        stderr=subprocess.PIPE,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:].decode("utf-8", "replace")
    result = json.loads(out.read_text())
    assert set(result) == {"timings", "spread_pct", "train_secs"}
    assert set(result["timings"]) == {"pricing_summary", "dedup_exact"}
    assert all(t > 0 for t in result["timings"].values())
    assert set(result["spread_pct"]) == set(result["timings"])


def test_temp_root_sweep_reclaims_dead_owner_and_spares_live(tmp_path, monkeypatch):
    """The graft_test_session sweep reclaims a root whose OWNER.pid is
    dead (past the 60s infancy grace), spares a live-owner root, and
    spares brand-new roots regardless of owner state."""
    import tempfile
    import time

    import conftest

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))

    dead = tmp_path / "graft_test_session_dead"
    dead.mkdir()
    (dead / "OWNER.pid").write_text("999999999")  # no such pid
    live = tmp_path / "graft_test_session_live"
    live.mkdir()
    (live / "OWNER.pid").write_text(str(os.getpid()))
    infant = tmp_path / "graft_test_session_new"
    infant.mkdir()  # no pid file yet — inside the create/write race

    old = time.time() - 300  # past the 60s grace, inside 6h
    for d in (dead, live):
        os.utime(d, (old, old))
        os.utime(d / "OWNER.pid", (old, old))

    conftest._sweep_stale_roots()
    assert not dead.exists()
    assert live.exists()
    assert infant.exists()

    # skip= protects the caller's own root even if its owner looks dead
    own = tmp_path / "graft_test_session_own"
    own.mkdir()
    (own / "OWNER.pid").write_text("999999999")
    os.utime(own, (old, old))
    os.utime(own / "OWNER.pid", (old, old))
    conftest._sweep_stale_roots(skip=str(own))
    assert own.exists()

    # a root with NO pid file (legacy checkout / unreadable) is NOT on
    # the fast path: it survives the 6h window even when quiet...
    legacy = tmp_path / "graft_test_session_legacy"
    legacy.mkdir()
    os.utime(legacy, (old, old))
    conftest._sweep_stale_roots()
    assert legacy.exists()
    # ...and is reclaimed only by the slow mtime gate
    ancient = time.time() - 7 * 3600
    os.utime(legacy, (ancient, ancient))
    conftest._sweep_stale_roots()
    assert not legacy.exists()


def test_streaming_twin_records_per_wave_fold_times(spark, sf_dir):
    """VERDICT r10 task 4: the streaming twins' foreachBatch handlers
    record one fold wall-time per micro-batch into STREAM_FOLD_SECS,
    so the bench can report per-wave fold cost (wave 1 = bootstrap)
    as line items instead of leaving the streaming fold cost
    pytest-proven but unmeasured."""
    from aproximacion_1_etl_spark.queries import ALL_QUERIES
    from aproximacion_1_etl_spark.queries.streaming import (
        STREAM_FOLD_SECS,
    )

    STREAM_FOLD_SECS.pop("streaming_bm25_index", None)
    assert ALL_QUERIES["streaming_bm25_index"](spark, sf_dir).count() > 0
    folds = STREAM_FOLD_SECS.get("streaming_bm25_index")
    assert folds is not None and len(folds) == 3  # one per wave
    assert all(t >= 0.0 for t in folds)
    # r12 twins record the same way (the LM twin also exercises the
    # guarded fold + ledger swap end-to-end under the stream)
    STREAM_FOLD_SECS.pop("streaming_lm_index", None)
    assert ALL_QUERIES["streaming_lm_index"](spark, sf_dir).count() > 0
    lm_folds = STREAM_FOLD_SECS.get("streaming_lm_index")
    assert lm_folds is not None and len(lm_folds) == 3
    assert all(t >= 0.0 for t in lm_folds)
    # r13 twin records the same way (also exercises the guarded A-ES
    # fold + batch-versioned store commits under the stream)
    STREAM_FOLD_SECS.pop("streaming_weighted_sample", None)
    assert (
        ALL_QUERIES["streaming_weighted_sample"](spark, sf_dir).count() > 0
    )
    ws_folds = STREAM_FOLD_SECS.get("streaming_weighted_sample")
    assert ws_folds is not None and len(ws_folds) == 3
    assert all(t >= 0.0 for t in ws_folds)


def test_batch_versioned_commit_protocol(tmp_path):
    """ADVICE r12 #1/#2: multi-relation maintained stores commit each
    foreachBatch trigger through ONE marker file over per-batch
    version dirs — partial (crashed, marker-less) versions are
    invisible, markers sort numerically, and a foreign file cannot
    masquerade as a marker."""
    import os

    from aproximacion_1_etl_spark.queries.streaming import (
        _committed_batch_ids,
        _mark_batch_committed,
    )

    base = str(tmp_path)
    assert _committed_batch_ids(os.path.join(base, "missing")) == []
    assert _committed_batch_ids(base) == []
    _mark_batch_committed(base, 0)
    _mark_batch_committed(base, 2)
    _mark_batch_committed(base, 1)
    assert _committed_batch_ids(base) == [0, 1, 2]
    # partial version dirs without a marker stay invisible; non-marker
    # names (and non-numeric suffixes) are ignored
    os.mkdir(os.path.join(base, "counts_b7"))
    with open(os.path.join(base, "_commit_abc"), "w"):
        pass
    assert _committed_batch_ids(base) == [0, 1, 2]
    # idempotent re-mark (a replayed trigger re-commits harmlessly)
    _mark_batch_committed(base, 2)
    assert _committed_batch_ids(base) == [0, 1, 2]
