"""foreachBatch incremental upsert: the streaming form of the
reference's M2 merge (temp -> master), processing update files as they
arrive and folding each micro-batch into the master with the same
merge_upsert used in batch."""

import os
import tempfile

import pyspark.sql.functions as F
import pytest

from aproximacion_1_etl_spark.operators.refine import merge_upsert
from aproximacion_1_etl_spark.sources.tables import load_table


def test_foreachbatch_upsert_accumulates(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    src = tempfile.mkdtemp(prefix="cdc_src_")
    master_path = tempfile.mkdtemp(prefix="cdc_master_") + "/master"
    # two update files => two micro-batches (maxFilesPerTrigger=1)
    o.filter(F.col("o_orderkey") % 2 == 0).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(src, "f1"))
    o.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey", F.lit("X").alias("o_orderstatus")
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "f2"))

    stream = (
        spark.readStream.schema("o_orderkey BIGINT, o_orderstatus STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )

    def fold(batch_df, batch_id):
        if os.path.isdir(master_path):
            master = batch_df.sparkSession.read.parquet(master_path)
            merged = merge_upsert(master, batch_df, keys=["o_orderkey"])
        else:
            merged = batch_df
        out = master_path + f"_v{batch_id}"
        merged.write.mode("overwrite").parquet(out)
        # atomic-swap publish (same pattern as compact_table)
        import shutil

        if os.path.isdir(master_path):
            shutil.rmtree(master_path)
        shutil.move(out, master_path)

    q = (
        stream.writeStream.foreachBatch(fold)
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_cdc_"))
        .start()
    )
    q.awaitTermination()

    final = spark.read.parquet(master_path)
    # %6==0 keys got both updates; which write wins depends on file
    # arrival order, so assert on the guaranteed invariants instead:
    # key set = union, and keys touched only by one file keep its value
    expected_keys = (
        o.filter((F.col("o_orderkey") % 2 == 0) | (F.col("o_orderkey") % 3 == 0))
        .select("o_orderkey")
        .distinct()
    )
    assert final.count() == expected_keys.count()
    only_f2 = final.filter(
        (F.col("o_orderkey") % 3 == 0) & (F.col("o_orderkey") % 2 != 0)
    )
    assert only_f2.filter(F.col("o_orderstatus") != "X").count() == 0


def test_available_now_checkpoint_resume_is_incremental(spark, sf_dir):
    """The reference re-ingests its full 5-month corpus every day
    (SURVEY.md §6); the Spark-native fix is Trigger.AvailableNow over
    the landing directory with a persistent checkpoint — each run
    drains only files that arrived since the last run, exactly once.
    Run 1 sees file f1; run 2 (same checkpoint) must emit only f2's
    rows, never reprocessing f1."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    src = tempfile.mkdtemp(prefix="inc_src_")
    sink = tempfile.mkdtemp(prefix="inc_sink_") + "/out"
    ckpt = tempfile.mkdtemp(prefix="inc_ckpt_")
    schema = "o_orderkey BIGINT, o_orderstatus STRING"

    def drain():
        q = (
            spark.readStream.schema(schema)
            .parquet(src + "/*")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    f1 = o.filter(F.col("o_orderkey") < 1000)
    f1.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "f1"))
    drain()
    n1 = spark.read.parquet(sink).count()
    assert n1 == f1.count()

    f2 = o.filter(F.col("o_orderkey") >= 1000)
    f2.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "f2"))
    drain()
    out = spark.read.parquet(sink)
    # exactly-once: every source row present exactly once, f1 not re-read
    assert out.count() == o.count()
    assert out.select("o_orderkey").distinct().count() == o.count()


def test_streaming_max_concurrency_matches_batch_on_edges(spark):
    """The streamed sweep line must equal the batch operator on the
    constructed edge cases: an interval chain crossing the wave
    boundary, a wave-1 end colliding with a wave-2 start at the SAME
    instant (half-open exclusivity across batches), and a type that
    only debuts in wave 2 (no prior state row)."""
    import datetime

    from aproximacion_1_etl_spark.operators.intervals import max_concurrency
    from aproximacion_1_etl_spark.queries import (
        _run_streaming_max_concurrency,
    )

    def ts(s):
        return datetime.datetime.fromisoformat(s)

    # duration = 60 + event_id % 240 seconds
    rows = [
        # type a, wave 1: two overlapping intervals (peak 2 in wave 1)
        (0, ts("2024-01-15 10:00:00"), "a"),   # [10:00:00, 10:01:00)
        (30, ts("2024-01-15 10:00:30"), "a"),  # [10:00:30, 10:02:00)
        # type a: ends at EXACTLY midnight (tail delta at the cutoff),
        # wave-2 interval starts at that same instant -> never overlap
        (0, ts("2024-01-15 23:59:00"), "a"),   # [23:59:00, 00:00:00)
        (0, ts("2024-01-16 00:00:00"), "a"),   # [00:00:00, 00:01:00)
        # type b: debuts in wave 2 only
        (120, ts("2024-01-17 08:00:00"), "b"),  # 180 s
        (121, ts("2024-01-17 08:01:00"), "b"),  # 181 s, overlaps
    ]
    ev = spark.createDataFrame(
        rows, "event_id BIGINT, ts TIMESTAMP, event_type STRING"
    )
    got = {
        r["event_type"]: r
        for r in _run_streaming_max_concurrency(
            spark, ev, "2024-01-16"
        ).collect()
    }
    end = F.expr(
        "ts + make_dt_interval(0, 0, 0, CAST(60 + event_id % 240 AS DOUBLE))"
    )
    want = {
        r["event_type"]: r
        for r in max_concurrency(
            ev, "event_type", F.col("ts"), end
        ).collect()
    }
    assert set(got) == {"a", "b"}
    for k in got:
        assert got[k]["peak_concurrency"] == want[k]["peak_concurrency"], k
        assert got[k]["peak_at"] == want[k]["peak_at"], k
        assert got[k]["n_intervals"] == want[k]["n_intervals"], k
    # the midnight chain never overlaps: wave-1 peak of 2 must win
    assert got["a"]["peak_concurrency"] == 2
    assert got["a"]["peak_at"] == "2024-01-15 10:00:30"
    assert got["b"]["peak_concurrency"] == 2


def test_streaming_max_concurrency_empty_wave_keeps_tail(spark):
    """A wave with zero rows must not advance the event-time cutoff:
    a NULL cutoff would silently drop every parked tail delta (both
    t < NULL and t >= NULL are false). All data lands in wave 1 (the
    split day is after everything), wave 2 is an empty file — the
    parked midnight deltas must still fold correctly at flush."""
    import datetime

    from aproximacion_1_etl_spark.operators.intervals import max_concurrency
    from aproximacion_1_etl_spark.queries import (
        _run_streaming_max_concurrency,
    )

    def ts(s):
        return datetime.datetime.fromisoformat(s)

    rows = [
        (0, ts("2024-01-10 23:59:30"), "a"),   # ends 2024-01-11 00:00:30
        (30, ts("2024-01-10 23:59:00"), "a"),  # ends 2024-01-11 00:00:30
        (0, ts("2024-01-10 10:00:00"), "a"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id BIGINT, ts TIMESTAMP, event_type STRING"
    )
    got = _run_streaming_max_concurrency(spark, ev, "2024-02-01").collect()
    end = F.expr(
        "ts + make_dt_interval(0, 0, 0, CAST(60 + event_id % 240 AS DOUBLE))"
    )
    want = max_concurrency(ev, "event_type", F.col("ts"), end).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert got[0]["peak_concurrency"] == 2  # the two midnight-crossers


def test_foreachbatch_publishes_versioned_snapshots(spark, sf_dir):
    """foreachBatch + versioned snapshots: each micro-batch folds into
    the running master and publishes as a NEW table version (atomic
    manifest flip, sources/versioned.py) — readers never see a
    half-merged table and can time-travel to any batch's state. This is
    the streaming form of the reference's daily publish with history
    retained instead of overwritten."""
    from aproximacion_1_etl_spark.sources.versioned import (
        current_version,
        read_snapshot,
        write_snapshot,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    src = tempfile.mkdtemp(prefix="cdc_snap_src_")
    table = tempfile.mkdtemp(prefix="cdc_snap_tbl_") + "/master"
    o.filter(F.col("o_orderkey") % 2 == 0).coalesce(1).write.parquet(
        os.path.join(src, "f1")
    )
    o.filter(F.col("o_orderkey") % 2 == 1).coalesce(1).write.parquet(
        os.path.join(src, "f2")
    )

    def publish(batch_df, batch_id):
        s = batch_df.sparkSession
        if current_version(table) is not None:
            merged = merge_upsert(
                read_snapshot(s, table), batch_df, keys=["o_orderkey"]
            )
        else:
            merged = batch_df
        write_snapshot(merged, table)

    stream = (
        spark.readStream.schema("o_orderkey BIGINT, o_orderstatus STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    q = (
        stream.writeStream.foreachBatch(publish)
        .trigger(availableNow=True)
        .option(
            "checkpointLocation", tempfile.mkdtemp(prefix="ckpt_snap_")
        )
        .start()
    )
    q.awaitTermination()

    assert current_version(table) == 1
    # v0 = first half only; v1 = everything
    assert read_snapshot(spark, table, version=0).count() < o.count()
    assert read_snapshot(spark, table).count() == o.count()


def test_stateful_api_dispatch(spark, sf_dir):
    """transformWithStateInPandas port: auto-dispatch uses the new API
    iff its protobuf dependency is importable, and the fallback keeps
    the operator running either way. In this sandbox protobuf is absent
    (SURVEY.md §8), so auto must resolve to the legacy API; on an
    environment with protobuf the tws path runs the same semantics."""
    import pytest

    from aproximacion_1_etl_spark.streaming.stateful import (
        new_stateful_api_available,
        run_stateful_sessions,
        sessionize_stateful,
    )

    out = run_stateful_sessions(spark, sf_dir, glob="events.parquet")
    assert out.count() > 0  # fallback (or tws) produced results

    with pytest.raises(ValueError):
        sessionize_stateful(None, api="bogus")

    if not new_stateful_api_available():
        # forcing tws must fail loudly, not silently degrade
        from aproximacion_1_etl_spark.streaming.events import (
            read_events_stream,
        )

        ev = read_events_stream(spark, sf_dir, "events.parquet")
        with pytest.raises(Exception):
            sessionize_stateful(ev, api="tws")


def test_stream_schema_probe_distinguishes_empty_from_corrupt(spark):
    """The ts-encoding probe may fall back to the TIMESTAMP schema ONLY
    for a genuinely empty source dir; a non-empty dir whose probe fails
    (corrupt footer) must raise — a silent default would misread
    bigint-nanos files downstream."""
    import os
    import tempfile

    import pytest

    from aproximacion_1_etl_spark.streaming.events import read_events_stream

    empty = tempfile.mkdtemp(prefix="probe_empty_")
    stream = read_events_stream(spark, empty, "*.parquet")
    assert stream.isStreaming  # empty dir: fell back, stream builds

    corrupt = tempfile.mkdtemp(prefix="probe_corrupt_")
    with open(os.path.join(corrupt, "events.parquet"), "wb") as f:
        f.write(b"not a parquet footer")
    with pytest.raises(Exception):
        read_events_stream(spark, corrupt, "*.parquet")


def test_ttl_window_fold_bounds_state_and_screens_window_only(spark):
    """The TTL fold kernel (text/dedup.py::ttl_window_dedup_fold):
    across waves of an aging feed, (1) the store's event-day span
    never exceeds the TTL and old waves are physically evicted —
    state stays bounded on an unbounded feed; (2) a new doc matches a
    near-dup INSIDE the window but not an identical doc that aged out;
    (3) bootstrap returns no hits and seeds the store."""
    import pyspark.sql.functions as F

    from aproximacion_1_etl_spark.text.dedup import ttl_window_dedup_fold

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    waves = [
        # (doc_id, day): doc 1 is the ancient original; doc 11 a fresh
        # near-dup inside wave 2's window; doc 21 screens in wave 3
        # after doc 1 aged out but doc 11 is still inside the TTL
        [(1, 0, text), (2, 1, "one two three four five six")],
        [(11, 10, text), (12, 11, "unrelated words entirely here now")],
        [(21, 22, text)],
    ]
    ttl = 15
    store = None
    hits_per_wave = []
    spans = []
    counts = []
    for rows in waves:
        batch = spark.createDataFrame(
            [(d, t, day) for d, day, t in rows],
            "doc_id BIGINT, text STRING, event_day BIGINT",
        )
        hits, store = ttl_window_dedup_fold(batch, store, ttl)
        store = store.localCheckpoint(eager=True)
        hits_per_wave.append(
            [] if hits is None
            else [(r.doc_new, r.doc_old) for r in hits.collect()]
        )
        days = [r.event_day for r in store.select("event_day").collect()]
        spans.append(max(days) - min(days))
        counts.append(store.count())

    assert hits_per_wave[0] == []              # bootstrap: no store yet
    assert hits_per_wave[1] == [(11, 1)]       # day 0 inside (10-15, 10]
    assert hits_per_wave[2] == [(21, 11)]      # doc 1 (day 0) aged out
    assert all(s < ttl for s in spans)
    # wave 3's eviction dropped wave 1 entirely: store holds only
    # wave 2 (2 docs) + wave 3 (1 doc)
    assert counts[2] == 3
    store_ids = {r.doc_id for r in store.select("doc_id").collect()}
    assert store_ids == {11, 12, 21}


def test_ttl_window_fold_empty_batch_is_noop(spark):
    """An empty micro-batch must NOT advance the watermark or evict
    anything: its NULL max(day) once turned the eviction filter into
    day > NULL and silently wiped the whole signature store."""
    from aproximacion_1_etl_spark.text.dedup import ttl_window_dedup_fold

    schema = "doc_id BIGINT, text STRING, event_day BIGINT"
    seed = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon", 0)], schema
    )
    empty = spark.createDataFrame([], schema)

    hits, store = ttl_window_dedup_fold(seed, None, ttl_days=5)
    store = store.localCheckpoint(eager=True)
    assert hits is None and store.count() > 0
    before = store.count()

    hits, store2 = ttl_window_dedup_fold(empty, store, ttl_days=5)
    assert hits is None
    assert store2.count() == before  # store unchanged, nothing evicted

    # bootstrap on an empty batch composes: empty store, right schema
    hits, store3 = ttl_window_dedup_fold(empty, None, ttl_days=5)
    assert hits is None and store3.count() == 0
    hits, store4 = ttl_window_dedup_fold(seed, store3, ttl_days=5)
    assert store4.count() > 0


def test_ttl_window_watermark_monotonicity_guard(spark):
    """ADVICE r9 #3: wave order in the streaming key rides on mtime
    ordering (an engine implementation detail) — an out-of-order
    delivery must surface as a loud RuntimeError from
    assert_watermark_monotone, not a silent store wipe-or-drift."""
    import pytest

    from aproximacion_1_etl_spark.text.dedup import (
        assert_watermark_monotone,
        ttl_window_dedup_fold,
    )

    schema = "doc_id BIGINT, text STRING, event_day BIGINT"
    w1 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon", 12)], schema
    )
    w0 = spark.createDataFrame(
        [(2, "zeta eta theta iota kappa", 3)], schema
    )
    empty = spark.createDataFrame([], schema)

    _, store = ttl_window_dedup_fold(w1, None, ttl_days=5)
    store = store.localCheckpoint(eager=True)

    # in-order and bootstrap pass silently
    assert_watermark_monotone(w1, None)
    assert_watermark_monotone(w1, store)
    # empty batch: time does not advance, no error
    assert_watermark_monotone(empty, store)
    # out-of-order wave fails loud
    with pytest.raises(RuntimeError, match="out-of-order"):
        assert_watermark_monotone(w0, store)


def test_wave_stream_replays_each_wave_as_one_batch_in_order(spark):
    """The harness contract: wave i is micro-batch i with exactly that
    wave's rows, whatever the wave sizes (the first wave is the
    largest, the middle one is empty), and the scratch root is gone
    after the ``with`` block, on success and on a failing handler."""
    from aproximacion_1_etl_spark.streaming.harness import (
        run_to_end,
        scratch_dir,
        wave_stream,
    )

    waves = [
        spark.range(0, 50).select(F.col("id").alias("x")),
        spark.range(0).select(F.col("id").alias("x")),
        spark.range(100, 103).select(F.col("id").alias("x")),
    ]
    seen = []

    def record(batch, batch_id):
        seen.append((batch_id, sorted(r["x"] for r in batch.collect())))

    with scratch_dir("graft_wave_t_") as root:
        run_to_end(
            wave_stream(root, waves).writeStream.foreachBatch(record), root
        )
    assert seen == [(0, list(range(50))), (1, []), (2, [100, 101, 102])]
    assert not os.path.exists(root)

    def fail(batch, batch_id):
        raise RuntimeError("injected handler failure")

    with pytest.raises(Exception, match="injected handler failure"):
        with scratch_dir("graft_wave_t_") as root:
            run_to_end(
                wave_stream(root, waves).writeStream.foreachBatch(fail),
                root,
            )
    assert not os.path.exists(root)


@pytest.mark.parametrize(
    "key, module, name",
    [
        (
            "streaming_incremental_dedup",
            "aproximacion_1_etl_spark.text.dedup",
            "incremental_minhash_dedup",
        ),
        (
            "streaming_ivm_join",
            "aproximacion_1_etl_spark.operators.refine",
            "maintain_join_view",
        ),
        (
            "streaming_fingerprint_maintenance",
            "aproximacion_1_etl_spark.functions.profile",
            "row_bucket_hashes",
        ),
        (
            "s3_s6_json_roundtrip",
            "aproximacion_1_etl_spark.queries.etl",
            "read_day_files",
        ),
        (
            "zorder_pruned_scan",
            "aproximacion_1_etl_spark.sources.layout",
            "zorder_write",
        ),
        (
            "binary_file_source",
            "aproximacion_1_etl_spark.sources.binary",
            "read_binary_files",
        ),
        (
            "deletion_vector_read",
            "aproximacion_1_etl_spark.sources.versioned",
            "delete_rows",
        ),
    ],
)
def test_streaming_key_reclaims_temp_dirs_when_a_batch_fails(
    spark, sf_dir, tmp_path, monkeypatch, key, module, name
):
    """A micro-batch, or a batch round-trip step after the write, that
    raises must propagate its error and leave no scratch directory
    behind. Each key looks the patched function up when it runs (an
    import inside its body, or a module global), so the
    module-attribute patch reaches it."""
    import importlib

    from aproximacion_1_etl_spark.queries import ALL_QUERIES

    def boom(*args, **kwargs):
        raise RuntimeError("injected fold failure")

    temp_root = tmp_path / "tmp"
    temp_root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(temp_root))
    monkeypatch.setattr(importlib.import_module(module), name, boom)
    with pytest.raises(Exception, match="injected fold failure"):
        ALL_QUERIES[key](spark, sf_dir)
    assert os.listdir(temp_root) == []
