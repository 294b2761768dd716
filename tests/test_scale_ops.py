"""Scale-posture operators: skew mitigation, grouped pandas, stateful
streaming, partition pruning. Each physical rewrite must be
semantically invisible (identical rows to the plain form)."""

import contextlib
import io
import tempfile

import pyspark.sql.functions as F

from aproximacion_1_etl_spark.operators.pandas_ops import grouped_stats_pandas
from aproximacion_1_etl_spark.operators.skew import (
    replicated_skew_join,
    salted_aggregate,
)
from aproximacion_1_etl_spark.sources.tables import load_table
from aproximacion_1_etl_spark.streaming.stateful import run_stateful_sessions


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_salted_aggregate_matches_plain(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    salted = salted_aggregate(
        ev,
        keys=["event_type"],
        salt_on="event_id",
        metrics={"n": F.lit(1), "sv": F.col("value")},
        buckets=16,
    ).select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.col("sv").alias("sv"),
    )
    plain = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(30,8)")).alias("sv"),
    )
    assert rows(salted) == rows(plain)


def test_replicated_skew_join_matches_plain(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    fast = replicated_skew_join(
        ev, c, fact_key="user_id", dim_key="c_custkey", salt_on="event_id",
        buckets=4,
    ).select("event_id", "c_mktsegment")
    plain = ev.join(c, ev["user_id"] == c["c_custkey"]).select(
        "event_id", "c_mktsegment"
    )
    assert rows(fast) == rows(plain)


def test_grouped_pandas_stats(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    out = grouped_stats_pandas(ev, key="user_id", value_col="value")
    n_users = ev.select("user_id").distinct().count()
    got = out.collect()
    assert len(got) == n_users
    one = ev.filter(F.col("user_id") == got[0]["user_id"])
    vals = sorted(r["value"] for r in one.collect())
    assert got[0]["n"] == len(vals)
    assert abs(got[0]["spread"] - (vals[-1] - vals[0])) < 1e-3


def test_stateful_sessions_match_batch(spark, sf_dir):
    stream_out = run_stateful_sessions(spark, sf_dir, glob="events.parquet")
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.col("ts").cast("double")
    prev = F.lag(sec).over(w)
    batch = (
        ev.withColumn(
            "ns",
            F.when(prev.isNull() | ((sec - prev) > 7200), 1).otherwise(0),
        )
        .groupBy("user_id")
        .agg(
            F.sum("ns").cast("bigint").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
    )
    assert rows(stream_out) == rows(batch)


def test_partitioned_write_prunes(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    path = tempfile.mkdtemp(prefix="graft_prune_")
    o.withColumn("order_year", F.year("o_orderdate")).repartition(
        "order_year"
    ).write.mode("overwrite").partitionBy("order_year").parquet(path)
    back = spark.read.parquet(path).filter(F.col("order_year") == 1997)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        back.explain(mode="formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "order_year" in plan
    # pruned scan must agree with the filtered source
    n_direct = o.filter(F.year("o_orderdate") == 1997).count()
    assert back.count() == n_direct


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    from aproximacion_1_etl_spark.sources.bucketed import (
        bucketed_join,
        write_bucketed,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
    )
    write_bucketed(o, "t_b_orders", "o_orderkey", n_buckets=4)
    write_bucketed(li, "t_b_lineitem", "o_orderkey", n_buckets=4)
    joined = bucketed_join(
        spark, "t_b_orders", "t_b_lineitem", "o_orderkey",
        force_sort_merge=True,
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        joined.explain(mode="formatted")
    plan = buf.getvalue()
    # co-located buckets: sort-merge join with zero shuffles
    assert "Exchange" not in plan, plan
    plain = o.join(li, "o_orderkey")
    assert joined.count() == plain.count()


def test_scd2_intervals_tile_per_key(spark, sf_dir):
    from aproximacion_1_etl_spark.operators.refine import scd2_history

    ev = load_table(spark, sf_dir, "events")
    h = scd2_history(
        ev, keys=["user_id"], ts_col="ts", tiebreak="event_id",
        attrs=["event_type"],
    )
    # exactly one current row per key; intervals chain without gaps
    per_key = h.groupBy("user_id").agg(
        F.sum(F.col("is_current").cast("int")).alias("n_current"),
        F.count("*").alias("n_rows"),
        F.count("valid_to").alias("n_closed"),
    )
    bad = per_key.filter(
        (F.col("n_current") != 1)
        | (F.col("n_closed") != F.col("n_rows") - 1)
    )
    assert bad.count() == 0


def test_compact_table_reduces_files(spark, sf_dir):
    import glob
    import os

    from aproximacion_1_etl_spark.sources.tables import compact_table

    o = load_table(spark, sf_dir, "orders")
    path = tempfile.mkdtemp(prefix="graft_compact_") + "/t"
    o.repartition(24).write.parquet(path)
    before = len(glob.glob(os.path.join(path, "*.parquet")))
    assert before >= 24
    total = spark.read.parquet(path).count()
    compact_table(spark, path, target_partitions=2)
    after = len(glob.glob(os.path.join(path, "*.parquet")))
    assert after <= 2
    assert spark.read.parquet(path).count() == total


def test_sorted_layout_tightens_rowgroup_stats(spark, sf_dir):
    """File layout is a first-class performance input (PERF.md): range-
    partitioning + sorting on the filter key gives each file a narrow
    min/max envelope, so a scan with a selective predicate skips most
    row groups entirely. At 100 TB this is the difference between
    reading 8 files and reading 8,000."""
    import datetime
    import glob

    import pyarrow.parquet as pq

    o = load_table(spark, sf_dir, "orders")
    rnd = tempfile.mkdtemp(prefix="graft_layout_rnd_")
    srt = tempfile.mkdtemp(prefix="graft_layout_srt_")
    o.repartition(8).write.mode("overwrite").parquet(rnd)
    (
        o.repartitionByRange(8, "o_orderdate")
        .sortWithinPartitions("o_orderdate")
        .write.mode("overwrite")
        .parquet(srt)
    )

    lo = datetime.datetime(1996, 1, 1)
    hi = datetime.datetime(1996, 4, 1)

    def naive(dt):
        # TIMESTAMP_MICROS stats come back tz-aware; the source column
        # may be date or naive timestamp depending on generator version
        if hasattr(dt, "tzinfo") and dt.tzinfo is not None:
            return dt.replace(tzinfo=None)
        if not isinstance(dt, datetime.datetime):
            return datetime.datetime(dt.year, dt.month, dt.day)
        return dt

    def overlapping_row_groups(path):
        n_total = n_hit = 0
        for f in glob.glob(path + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            for rg_i in range(md.num_row_groups):
                rg = md.row_group(rg_i)
                col = next(
                    rg.column(i)
                    for i in range(rg.num_columns)
                    if rg.column(i).path_in_schema == "o_orderdate"
                )
                st = col.statistics
                n_total += 1
                if naive(st.min) <= hi and naive(st.max) >= lo:
                    n_hit += 1
        return n_hit, n_total

    hit_rnd, tot_rnd = overlapping_row_groups(rnd)
    hit_srt, tot_srt = overlapping_row_groups(srt)
    # random layout: every row group spans the full date range
    assert hit_rnd == tot_rnd >= 8
    # sorted layout: the predicate touches only the envelope that
    # actually contains 1996 Q1 (orders span ~6.5 years -> 1 of 8)
    assert hit_srt <= max(1, tot_srt // 4), (hit_srt, tot_srt)

    pred = (F.col("o_orderdate") >= F.lit(lo)) & (F.col("o_orderdate") < F.lit(hi))
    back = spark.read.parquet(srt).filter(pred)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        back.explain(mode="formatted")
    assert "PushedFilters" in buf.getvalue()
    assert back.count() == o.filter(pred).count()


def test_runtime_bloom_filter_prunes_probe_side(spark, sf_dir):
    """Runtime row-level filtering: with a selective dimension side,
    Catalyst injects a bloom-filter aggregate on the build side and a
    might_contain probe into the fact scan, so most fact rows are
    dropped BEFORE the join shuffle. At 100 TB this cuts the shuffle
    of the big side by the dimension's selectivity. (Thresholds are
    lowered here because local test tables are tiny; on a real
    cluster the 10 MB/10 GB defaults trigger it organically.)"""
    conf = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        o = load_table(spark, sf_dir, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load_table(spark, sf_dir, "lineitem")
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"))
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain(mode="formatted")
        plan = buf.getvalue().lower()
        assert "bloom_filter_agg" in plan and "might_contain" in plan, plan
        rows = {r["o_orderpriority"]: r["n"] for r in j.collect()}
        assert set(rows) == {"1-URGENT"} and rows["1-URGENT"] > 0
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_approx_percentile_tracks_exact(spark, sf_dir):
    """The sketch path for quantiles at scale: percentile_approx is a
    one-pass mergeable sketch (map-side combinable), vs the exact
    per-group sort. Accuracy must hold within the sketch's resolution
    so dashboards can use it on 100 TB without the sort."""
    ev = load_table(spark, sf_dir, "events")
    rows = ev.groupBy("event_type").agg(
        F.expr("percentile_approx(value, array(0.5, 0.9), 10000)").alias("ap"),
        F.expr("percentile(value, array(0.5, 0.9))").alias("ex"),
    ).collect()
    assert len(rows) == 5
    for r in rows:
        for a, e in zip(r["ap"], r["ex"]):
            assert abs(a - e) <= max(0.05 * abs(e), 0.5), (r["event_type"], a, e)


def test_compact_table_with_sort_clusters_layout(spark, sf_dir):
    """Compaction + sort_by must leave each output file with a tight
    min/max envelope on the sort key (layout clustering during the
    rewrite we already pay for)."""
    import glob

    import pyarrow.parquet as pq

    from aproximacion_1_etl_spark.sources.tables import compact_table

    o = load_table(spark, sf_dir, "orders")
    path = tempfile.mkdtemp(prefix="graft_compact_sort_") + "/t"
    o.repartition(16).write.parquet(path)
    total = spark.read.parquet(path).count()
    compact_table(spark, path, target_partitions=4, sort_by=["o_orderkey"])
    files = sorted(glob.glob(path + "/*.parquet"))
    assert len(files) <= 4
    ranges = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        col = next(
            md.row_group(0).column(i)
            for i in range(md.row_group(0).num_columns)
            if md.row_group(0).column(i).path_in_schema == "o_orderkey"
        )
        lo = col.statistics.min
        hi = max(
            next(md.row_group(g).column(i).statistics.max
                 for i in range(md.row_group(g).num_columns)
                 if md.row_group(g).column(i).path_in_schema == "o_orderkey")
            for g in range(md.num_row_groups)
        )
        ranges.append((lo, hi))
    ranges.sort()
    # files tile the key space with no overlap (range partitioning)
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, ranges
    assert spark.read.parquet(path).count() == total


def test_zorder_layout_skips_on_both_dimensions(spark, sf_dir):
    """Z-order clustering: interleaved-bit sort on TWO keys gives every
    file a small hyper-rectangle of the key space, so selective
    predicates on EITHER dimension skip most row groups — the layout a
    single-key sort only provides for its one key."""
    import glob

    import pyarrow.parquet as pq

    from aproximacion_1_etl_spark.sources.layout import zorder_write

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    single = tempfile.mkdtemp(prefix="graft_z_single_")
    zord = tempfile.mkdtemp(prefix="graft_z_zord_")
    n_files = 16
    (
        li.repartitionByRange(n_files, "l_orderkey")
        .sortWithinPartitions("l_orderkey")
        .write.mode("overwrite")
        .parquet(single)
    )
    zorder_write(li, zord, ["l_orderkey", "l_partkey"], n_files)

    bounds = li.agg(
        F.min("l_orderkey"), F.max("l_orderkey"),
        F.min("l_partkey"), F.max("l_partkey"),
    ).collect()[0]

    def hit_fraction(path, column, lo, hi):
        n_total = n_hit = 0
        for f in glob.glob(path + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            for rg_i in range(md.num_row_groups):
                rg = md.row_group(rg_i)
                col = next(
                    rg.column(i)
                    for i in range(rg.num_columns)
                    if rg.column(i).path_in_schema == column
                )
                st = col.statistics
                n_total += 1
                if st.min <= hi and st.max >= lo:
                    n_hit += 1
        return n_hit / n_total

    # a ~6% slice of each key's range, offset to sit inside one Z-grid
    # cell row (a slice starting exactly at the midpoint straddles the
    # grid boundary and touches twice the cells)
    def slice_of(lo, hi):
        span = hi - lo
        start = lo + span * 5 // 16
        return start, start + max(1, span // 16)

    ok_lo, ok_hi = slice_of(bounds[0], bounds[1])
    pk_lo, pk_hi = slice_of(bounds[2], bounds[3])

    # single-key sort: perfect on its own key, useless on the other
    assert hit_fraction(single, "l_orderkey", ok_lo, ok_hi) <= 0.30
    assert hit_fraction(single, "l_partkey", pk_lo, pk_hi) >= 0.95
    # z-order: skips a large share of row groups on BOTH keys
    assert hit_fraction(zord, "l_orderkey", ok_lo, ok_hi) <= 0.60
    assert hit_fraction(zord, "l_partkey", pk_lo, pk_hi) <= 0.60

    # layout change is semantically invisible
    back = spark.read.parquet(zord)
    assert back.count() == li.count()
    pred = (F.col("l_partkey") >= pk_lo) & (F.col("l_partkey") <= pk_hi)
    assert (
        back.filter(pred).agg(F.sum("l_quantity")).collect()[0][0]
        == li.filter(pred).agg(F.sum("l_quantity")).collect()[0][0]
    )


def test_snapshot_change_feed_classifies_changes(spark):
    """CDF between two versions: unchanged keys emit nothing; added
    and value-changed keys emit 'U' after-images (including a change
    TO NULL — eqNullSafe, a plain != would miss it); vanished keys
    emit 'D' old images."""
    from aproximacion_1_etl_spark.sources.versioned import (
        snapshot_change_feed,
        write_snapshot,
    )

    path = tempfile.mkdtemp(prefix="graft_cdf_t_") + "/t"
    v0_df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0), (4, "d", 4.0)],
        "k BIGINT, s STRING, v DOUBLE",
    )
    v1_df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "B", 2.0), (4, None, 4.0), (5, "e", 5.0)],
        "k BIGINT, s STRING, v DOUBLE",
    )
    v0 = write_snapshot(v0_df, path)
    v1 = write_snapshot(v1_df, path)
    feed = snapshot_change_feed(spark, path, v0, v1, ["k"])
    got = {r["k"]: (r["op"], r["s"], r["v"]) for r in feed.collect()}
    assert got == {
        2: ("U", "B", 2.0),    # changed
        3: ("D", "c", 3.0),    # deleted (old image)
        4: ("U", None, 4.0),   # changed TO NULL
        5: ("U", "e", 5.0),    # added
    }  # k=1 unchanged -> absent


def test_snapshot_meta_commits_atomically_with_data(spark):
    """The foreachBatch replay-guard primitive: a batch id published
    via write_snapshot(meta=...) is visible in committed_metas only
    once the manifest flipped — an orphaned version dir (data + _meta
    written, crash before the flip) contributes nothing, so a replayed
    batch re-applies instead of being wrongly skipped. The _meta file
    (underscore-prefixed) is invisible to the parquet reader."""
    import os

    from aproximacion_1_etl_spark.sources.versioned import (
        committed_metas,
        read_snapshot,
        snapshot_meta,
        write_snapshot,
    )

    df = spark.range(5).withColumnRenamed("id", "k")
    path = tempfile.mkdtemp(prefix="graft_meta_") + "/t"
    write_snapshot(df, path)                 # v0, no meta
    write_snapshot(df.limit(3), path, meta="0")   # v1 = batch 0
    assert snapshot_meta(path) == "0"
    assert snapshot_meta(path, version=0) is None
    assert committed_metas(path) == {"0"}
    assert read_snapshot(spark, path).count() == 3  # _meta not scanned

    # simulate a crash AFTER the version dir (data + _meta + _parent)
    # is fully written but BEFORE the manifest flip: an orphan that
    # must stay invisible
    orphan = os.path.join(path, "v=2")
    df.limit(1).write.parquet(orphan)
    with open(os.path.join(orphan, "_meta"), "w") as f:
        f.write("crashed-batch")
    with open(os.path.join(orphan, "_parent"), "w") as f:
        f.write("1")
    assert committed_metas(path) == {"0"}
    assert snapshot_meta(path) == "0"

    # a later commit (v=3, skipping the orphaned number) must NOT make
    # the orphan's meta visible — its version number is now below the
    # current one, but it is not on the _parent commit chain
    v = write_snapshot(df.limit(2), path, meta="1")
    assert v == 3
    assert committed_metas(path) == {"0", "1"}
    assert "crashed-batch" not in committed_metas(path)


def test_versioned_snapshots_time_travel(spark, sf_dir):
    """Snapshot tables: each publish is a full new version directory
    committed by an atomic manifest flip; readers time-travel to any
    retained version; vacuum drops old versions but never the current
    one."""
    from aproximacion_1_etl_spark.sources.versioned import (
        current_version,
        list_versions,
        read_snapshot,
        vacuum,
        write_snapshot,
    )

    o = load_table(spark, sf_dir, "orders")
    path = tempfile.mkdtemp(prefix="graft_snap_") + "/orders_t"

    early = o.filter(F.year("o_orderdate") <= 1995)
    v0 = write_snapshot(early, path)
    assert v0 == 0 and current_version(path) == 0

    v1 = write_snapshot(o, path)
    assert v1 == 1 and current_version(path) == 1

    # current read = latest; time travel = the old frozen rowset
    assert read_snapshot(spark, path).count() == o.count()
    assert read_snapshot(spark, path, version=0).count() == early.count()

    # third version, then vacuum to the last 2
    v2 = write_snapshot(o.limit(10), path)
    assert v2 == 2
    removed = vacuum(path, keep_last=2)
    assert removed == [0] and list_versions(path) == [1, 2]
    assert read_snapshot(spark, path, version=1).count() == o.count()
    import pytest as _pytest

    with _pytest.raises(ValueError):
        read_snapshot(spark, path, version=0)


def test_compact_snapshot_never_disturbs_readers(spark, sf_dir):
    """Atomic compaction/z-order for snapshot tables: a reader that
    opened the table BEFORE the rewrite keeps reading its version's
    immutable files afterwards (the manifest flip is the only commit
    point, the table root never goes missing) — the engine-native
    equivalent of the reference's atomic BigQuery DDL rewrites."""
    import glob as _glob

    from aproximacion_1_etl_spark.sources.versioned import (
        compact_snapshot,
        current_version,
        read_snapshot,
        zorder_snapshot,
    )
    from aproximacion_1_etl_spark.sources.versioned import write_snapshot

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    path = tempfile.mkdtemp(prefix="graft_snapc_") + "/orders_c"
    write_snapshot(o.repartition(16), path)
    assert len(_glob.glob(f"{path}/v=0/*.parquet")) == 16

    # "concurrent" reader: resolves the manifest (v0) before compaction
    reader_before = read_snapshot(spark, path)
    n = o.count()

    v1 = compact_snapshot(spark, path, target_partitions=2)
    assert v1 == 1 and current_version(path) == 1
    assert len(_glob.glob(f"{path}/v=1/*.parquet")) == 2
    # the pre-compaction reader still sees its full, unmoved rowset
    assert reader_before.count() == n
    # and v0's files are untouched on disk
    assert len(_glob.glob(f"{path}/v=0/*.parquet")) == 16
    assert read_snapshot(spark, path).count() == n

    # z-order rewrite publishes the same way
    reader_v1 = read_snapshot(spark, path)
    v2 = zorder_snapshot(
        spark, path, cols=["o_custkey", "o_totalprice"], n_files=2
    )
    assert v2 == 2 and current_version(path) == 2
    assert reader_v1.count() == n
    assert read_snapshot(spark, path).count() == n
    # sorted layout: each z-ordered file's custkey range is a subset
    assert read_snapshot(spark, path, version=1).count() == n


def test_count_min_estimates_bound_true_counts(spark, sf_dir):
    """Count-min sketch error contract: estimates are one-sided
    (est >= true count) and within eps*N with the configured
    confidence."""
    from aproximacion_1_etl_spark.queries import q_heavy_hitters_cms

    out = {
        r["event_type"]: r
        for r in q_heavy_hitters_cms(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    true = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    assert set(out) == set(true)
    for t, c in true.items():
        assert out[t]["true_cnt"] == c, (t, out[t], c)
        # est_ok encodes the one-sided CMS contract (est >= true and
        # est <= true + eps*N + 1) computed next to the estimate
        assert out[t]["est_ok"], (t, out[t])


def test_load_table_ts_encoding_matrix(spark):
    """Driver-regen guard: the events ``ts`` column has already changed
    at-rest encoding once between rounds (nanosecond int64 -> naive
    microsecond). load_table must normalize ALL plausible parquet
    encodings — ns-timestamp, naive us (NTZ), tz-aware us — to the same
    session-tz TIMESTAMP instants, or a regen silently breaks every
    events-derived key."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    instants = [
        dt.datetime(2024, 1, 1, 12, 0, 0),
        dt.datetime(2024, 3, 5, 23, 59, 59, 123456),
    ]
    cols = {
        "event_id": pa.array([1, 2], pa.int64()),
        "user_id": pa.array([10, 20], pa.int64()),
        "event_type": pa.array(["click", "view"]),
        "value": pa.array([1.5, 2.5], pa.float64()),
        "props": pa.array(['{"k":1}', '{"k":2}']),
    }
    variants = {
        "ns": pa.array(instants, pa.timestamp("ns")),
        "us_ntz": pa.array(instants, pa.timestamp("us")),
        "us_utc": pa.array(instants, pa.timestamp("us", tz="UTC")),
    }
    got = {}
    for name, ts_arr in variants.items():
        d = tempfile.mkdtemp(prefix=f"graft_enc_{name}_")
        tbl = pa.table({**cols, "ts": ts_arr})
        pq.write_table(
            tbl, f"{d}/events.parquet", version="2.6",
            coerce_timestamps=None,
        )
        df = load_table(spark, d, "events")
        assert dict(df.dtypes)["ts"] == "timestamp", (
            name, dict(df.dtypes)["ts"])
        got[name] = [
            r["ts"] for r in
            df.orderBy("event_id").select("ts").collect()
        ]
    assert got["ns"] == got["us_ntz"] == got["us_utc"] == instants, got


def test_text_ops_tolerate_punctuation_free_documents(spark):
    """Driver-regen guard #2: the documents corpus dropped '. '
    sentence separators in one regen. The text pipeline (chunking,
    sentence splitting, shingles) must stay well-defined on
    punctuation-free single-token-run text."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tempfile.mkdtemp(prefix="graft_nopunct_")
    texts = [
        "alpha beta gamma delta epsilon zeta eta theta",
        "one",
        "lorem ipsum dolor sit amet consectetur",
    ]
    tbl = pa.table({
        "doc_id": pa.array([0, 1, 2], pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(["en", "en", "la"]),
        "source": pa.array(["s0", "s0", "s1"]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(tbl, f"{d}/documents.parquet")
    docs = load_table(spark, d, "documents")

    from aproximacion_1_etl_spark.text.dedup import word_shingles

    sh = word_shingles(docs, n=3, distinct=False).collect()
    # only docs with >= 3 tokens shingle; short docs drop cleanly
    assert {r["doc_id"] for r in sh} == {0, 2}


def test_zorder_snapshot_guards_null_bounds_and_nonnumeric(spark):
    """zorder_snapshot on an all-NULL z-column is a no-op returning the
    current version (nothing to cluster on), and a non-numeric z-column
    raises a descriptive error — never an opaque float(None) TypeError."""
    import pytest

    from aproximacion_1_etl_spark.sources.versioned import (
        current_version,
        write_snapshot,
        zorder_snapshot,
    )

    path = tempfile.mkdtemp(prefix="graft_znull_") + "/t"
    df = spark.createDataFrame(
        [(i, None, f"s{i}") for i in range(10)],
        "k INT, v DOUBLE, name STRING",
    )
    v0 = write_snapshot(df, path)

    # all-NULL column: no-op, version unchanged
    assert zorder_snapshot(spark, path, cols=["k", "v"], n_files=2) == v0
    assert current_version(path) == v0

    # non-numeric column: descriptive ValueError
    with pytest.raises(ValueError, match="non-numeric"):
        zorder_snapshot(spark, path, cols=["name"], n_files=2)


def test_embeddings_regen_invariants(spark, sf_dir):
    """Driver-regen guard #3: the embeddings table is the last
    regen-sensitive input family (ts encodings and document corpus
    shape are guarded above). Every vector-path query assumes, via the
    shared _as_double normalization: constant dimensionality, no NULL
    vectors / NULL components, and vec_ids dense from 0 (the k-means
    init takes vec_id < n_centroids; queries probe ids 0-4). A regen
    that changes dim, introduces nulls, or re-keys ids must fail HERE
    first, not as a corpus-wide oracle mismatch."""
    import pyspark.sql.functions as F

    from aproximacion_1_etl_spark.text.vector import _as_double

    emb = _as_double(
        load_table(spark, sf_dir, "embeddings"), "embedding"
    )
    stats = emb.agg(
        F.count("*").alias("n"),
        F.min("vec_id").alias("min_id"),
        F.max("vec_id").alias("max_id"),
        F.count_distinct("vec_id").alias("n_ids"),
        F.min(F.size("embedding")).alias("min_dim"),
        F.max(F.size("embedding")).alias("max_dim"),
        F.sum(
            F.when(
                F.col("embedding").isNull()
                | F.exists("embedding", lambda x: x.isNull()),
                1,
            ).otherwise(0)
        ).alias("n_bad"),
    ).collect()[0]
    assert stats["n"] > 0
    # dense ids from 0 (queries hardcode probe ids 0..4; kmeans init
    # filters vec_id < n_centroids)
    assert stats["min_id"] == 0
    assert stats["max_id"] == stats["n"] - 1
    assert stats["n_ids"] == stats["n"]
    # constant dimensionality, matching the hyperplane/codebook dim
    assert stats["min_dim"] == stats["max_dim"] == 64, stats
    # no null vectors or components anywhere
    assert stats["n_bad"] == 0


def test_histogram_quantile_bound_holds_on_gapped_bimodal(spark):
    """The est_ok bound must be a THEOREM of the bucket geometry, not a
    property of the near-uniform fixture: for bimodal data with a huge
    empty gap, the interpolated exact quantile sits in an empty region
    far from the located bucket, so any |est - exact| <= k*width claim
    is false — but the order-statistic bound (x_floor(r) - width <= est
    <= x_ceil(r) + width) holds for ANY distribution. 500 values near
    10.0 and 500 near 500.0: p50's rank straddles the gap."""
    from aproximacion_1_etl_spark.queries import (
        _cum_hist,
        _hist_bucket,
        _histogram_quantile_report,
    )

    vals = [10.0 + i * 1e-3 for i in range(500)] + [
        500.0 + i * 1e-3 for i in range(500)
    ]
    ev = spark.createDataFrame([(v,) for v in vals], "value DOUBLE")
    n_b = 512
    lo, hi = min(vals), max(vals)
    width = (hi - lo) / n_b
    merged = (
        ev.select(_hist_bucket(F.col("value"), lo, width, n_b)
                  .alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    out = _histogram_quantile_report(
        _cum_hist(merged), ev, lo, width, len(vals)
    ).collect()
    assert len(out) == 3
    assert all(r["est_ok"] for r in out), out


def test_snapshot_change_feed_reads_through_deletion_vector(spark):
    """A row logically deleted via a DV sidecar (no file rewrite) must
    surface as a 'D' in the derived change feed — the feed describes
    the logical table, not the physical v-dir files."""
    from aproximacion_1_etl_spark.sources.versioned import (
        delete_rows,
        snapshot_change_feed,
        write_snapshot,
    )

    path = tempfile.mkdtemp(prefix="graft_cdfdv_t_") + "/t"
    v0_df = spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (3, 3.0)], "k BIGINT, v DOUBLE"
    )
    v0 = write_snapshot(v0_df, path)
    # v1: same physical rows for 1 and 3, row 2 updated; then DV-delete
    # k=3 from v1 without rewriting its files
    v1 = write_snapshot(
        spark.createDataFrame(
            [(1, 1.0), (2, 20.0), (3, 3.0)], "k BIGINT, v DOUBLE"
        ),
        path,
    )
    assert delete_rows(spark, path, "k", "k = 3") == 1
    feed = snapshot_change_feed(spark, path, v0, v1, ["k"])
    got = {r["k"]: r["op"] for r in feed.collect()}
    assert got == {2: "U", 3: "D"}, got


def test_merge_on_read_latest_seq_wins_and_delete_reinsert(spark):
    """Cross-batch precedence: seq1 beats seq0 per key; a key deleted
    in seq0 and re-upserted in seq1 is PRESENT with the seq1 image; a
    key upserted in seq0 then deleted in seq1 is ABSENT; untouched base
    rows pass through. An uncommitted (crashed-writer) seq dir is
    invisible."""
    import os
    import shutil

    from aproximacion_1_etl_spark.sources.versioned import (
        read_merged,
        write_delta,
        write_snapshot,
    )

    base = tempfile.mkdtemp(prefix="graft_mor_t_")
    path = os.path.join(base, "t")
    try:
        write_snapshot(
            spark.createDataFrame(
                [(1, 1.0), (2, 2.0), (3, 3.0), (4, 4.0)],
                "k BIGINT, v DOUBLE",
            ),
            path,
        )
        # seq 0: delete k=2, upsert k=3 -> 30.0, insert new k=5
        write_delta(
            spark.createDataFrame(
                [(2, 2.0, "D"), (3, 30.0, "U"), (5, 50.0, "U")],
                "k BIGINT, v DOUBLE, op STRING",
            ),
            path,
            op_col="op",
        )
        # seq 1: re-insert k=2 -> 22.0, delete k=3
        write_delta(
            spark.createDataFrame(
                [(2, 22.0, "U"), (3, 3.0, "D")],
                "k BIGINT, v DOUBLE, op STRING",
            ),
            path,
            op_col="op",
        )
        # orphan seq dir without _commit marker must be ignored
        orphan = os.path.join(path, "_delta", "v=0", "seq=9")
        spark.createDataFrame(
            [(1, 999.0, "U")], "k BIGINT, v DOUBLE, op STRING"
        ).withColumnRenamed("op", "_op").write.parquet(orphan)
        got = {r["k"]: r["v"] for r in read_merged(spark, path, ["k"]).collect()}
        assert got == {1: 1.0, 2: 22.0, 4: 4.0, 5: 50.0}, got
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_merge_on_read_compaction_equivalence_and_dv_interplay(spark):
    """compact_deltas folds deltas + the base DV into the next version:
    the compacted snapshot equals the pre-compaction merged read, the
    new version carries no deltas, and a DV-deleted base row stays gone
    unless a delta re-upserts it. Vacuum reaps the old version's delta
    and DV sidecars with it."""
    import os
    import shutil

    from aproximacion_1_etl_spark.sources.versioned import (
        committed_delta_seqs,
        compact_deltas,
        delete_rows,
        read_merged,
        read_snapshot,
        vacuum,
        write_delta,
        write_snapshot,
    )

    base = tempfile.mkdtemp(prefix="graft_mor_t2_")
    path = os.path.join(base, "t")
    try:
        write_snapshot(
            spark.createDataFrame(
                [(1, 1.0), (2, 2.0), (3, 3.0)], "k BIGINT, v DOUBLE"
            ),
            path,
        )
        # DV-delete k=1 and k=2 from the base; delta re-upserts k=2
        assert delete_rows(spark, path, "k", "k IN (1, 2)") == 2
        write_delta(
            spark.createDataFrame([(2, 20.0)], "k BIGINT, v DOUBLE"), path
        )
        before = rows(read_merged(spark, path, ["k"]))
        assert before == [(2, 20.0), (3, 3.0)], before
        v1 = compact_deltas(spark, path, ["k"])
        after = rows(read_snapshot(spark, path, v1))
        assert after == before, (before, after)
        assert committed_delta_seqs(path, v1) == []
        removed = vacuum(path, keep_last=1)
        assert removed == [0], removed
        assert not os.path.isdir(os.path.join(path, "_delta", "v=0"))
        assert not os.path.isdir(os.path.join(path, "_dv", "v=0"))
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_gated_publish_blocks_manifest_and_history_reads_evolved(spark):
    """A violated expectation must leave the manifest untouched (readers
    keep the last good version); a passing publish commits. read_history
    then aligns evolved schemas by name (old version's missing column
    reads NULL) and respects each version's deletion vector."""
    import os
    import shutil

    from aproximacion_1_etl_spark.sources.versioned import (
        current_version,
        delete_rows,
        read_history,
        write_snapshot,
        write_snapshot_gated,
    )

    base = tempfile.mkdtemp(prefix="graft_gate_t_")
    path = os.path.join(base, "t")
    try:
        v0 = write_snapshot(
            spark.createDataFrame([(1, 1.0), (2, 2.0)], "k BIGINT, v DOUBLE"),
            path,
        )
        bad = spark.createDataFrame(
            [(3, -1.0), (4, 4.0)], "k BIGINT, v DOUBLE"
        )
        v_bad, viol = write_snapshot_gated(
            bad, path, {"v_nonneg": "v >= 0", "k_present": "k IS NOT NULL"}
        )
        assert v_bad is None and viol == {"v_nonneg": 1, "k_present": 0}
        assert current_version(path) == v0
        # DV-delete k=1 from v0, then a passing gated publish with an
        # extra column
        assert delete_rows(spark, path, "k", "k = 1") == 1
        good = spark.createDataFrame(
            [(3, 3.0, "x")], "k BIGINT, v DOUBLE, tag STRING"
        )
        v1, viol2 = write_snapshot_gated(
            good, path, {"v_nonneg": "v >= 0"}
        )
        assert v1 == v0 + 1 and viol2 == {"v_nonneg": 0}
        hist = rows(
            read_history(spark, path).select("_v", "k", "v", "tag")
        )
        assert hist == [
            (v0, 2, 2.0, None),
            (v1, 3, 3.0, "x"),
        ], hist
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_write_delta_meta_replay_guard(spark):
    """A delta batch replayed with an already-committed meta id must be
    skippable via committed_delta_metas — and metas are scoped to the
    base version (compaction starts a fresh delta space with no
    inherited metas)."""
    import os
    import shutil

    from aproximacion_1_etl_spark.sources.versioned import (
        committed_delta_metas,
        compact_deltas,
        write_delta,
        write_snapshot,
    )

    base = tempfile.mkdtemp(prefix="graft_dmeta_t_")
    path = os.path.join(base, "t")
    try:
        write_snapshot(
            spark.createDataFrame([(1, 1.0)], "k BIGINT, v DOUBLE"), path
        )
        d = spark.createDataFrame([(2, 2.0)], "k BIGINT, v DOUBLE")
        write_delta(d, path, meta="batch-7")
        assert committed_delta_metas(path, 0) == {"batch-7"}
        v1 = compact_deltas(spark, path, ["k"])
        assert committed_delta_metas(path, v1) == set()
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_history_to_scd2_oscillation_and_late_keys(spark):
    """A value that oscillates A->B->A must yield THREE intervals (the
    return to A is a new change point, not a merge with the first);
    a key first appearing at v2 opens its interval there; an unchanged
    key collapses to one open interval."""
    from aproximacion_1_etl_spark.sources.versioned import history_to_scd2

    hist = spark.createDataFrame(
        [
            (1, 10.0, 0), (1, 20.0, 1), (1, 10.0, 2),  # oscillates
            (2, 5.0, 0), (2, 5.0, 1), (2, 5.0, 2),      # unchanged
            (3, 7.0, 2),                                  # late arrival
        ],
        "k BIGINT, v DOUBLE, _v INT",
    )
    out = rows(
        history_to_scd2(hist, ["k"], ["v"]).select(
            "k", "valid_from", "valid_to", "v", "is_current"
        )
    )
    assert out == [
        (1, 0, 1, 10.0, False),
        (1, 1, 2, 20.0, False),
        (1, 2, None, 10.0, True),
        (2, 0, None, 5.0, True),
        (3, 2, None, 7.0, True),
    ], out


def test_history_to_scd2_closes_intervals_of_vanished_keys(spark):
    """A key absent from a later version must close its interval at the
    vanish version (NOT is_current); a key that vanishes and reappears
    with the SAME image gets two intervals, never a silent merge
    across the gap."""
    from aproximacion_1_etl_spark.sources.versioned import history_to_scd2

    hist = spark.createDataFrame(
        [
            (10, 1.0, 0), (10, 1.0, 2),          # gap at v1, same image
            (11, 2.0, 0), (11, 2.0, 1),           # vanishes at v2
            (12, 3.0, 0), (12, 3.0, 1), (12, 3.0, 2),  # stable
        ],
        "k BIGINT, v DOUBLE, _v INT",
    )
    out = rows(
        history_to_scd2(hist, ["k"], ["v"]).select(
            "k", "valid_from", "valid_to", "v", "is_current"
        )
    )
    assert out == [
        (10, 0, 1, 1.0, False),
        (10, 2, None, 1.0, True),
        (11, 0, 2, 2.0, False),
        (12, 0, None, 3.0, True),
    ], out


def test_write_snapshot_gated_null_condition_is_violation(spark):
    """CHECK-strict semantics: a row where the expectation evaluates to
    NULL must count as a violation and block the publish."""
    import os
    import shutil

    from aproximacion_1_etl_spark.sources.versioned import (
        current_version,
        write_snapshot_gated,
    )

    base = tempfile.mkdtemp(prefix="graft_gnull_t_")
    path = os.path.join(base, "t")
    try:
        df = spark.createDataFrame(
            [(1, 1.0), (2, None)], "k BIGINT, v DOUBLE"
        )
        v, viol = write_snapshot_gated(df, path, {"v_nonneg": "v >= 0"})
        assert v is None and viol == {"v_nonneg": 1}, (v, viol)
        assert current_version(path) is None
        # the blocked landing is reclaimed, not left as an orphan
        assert not any(
            d.startswith("v=") for d in os.listdir(path)
        ), os.listdir(path)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_prefix_filter_join_complete_vs_brute_force(spark):
    """The prefix-filter theorem (no false negatives at threshold t)
    checked against a brute-force all-pairs Jaccard on seeded random
    token sets — including heavy-overlap and disjoint docs, and a
    threshold (0.7) different from the catalog key's."""
    import itertools
    import random

    from aproximacion_1_etl_spark.queries import prefix_filter_pairs

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(60)]
    docs = []
    for i in range(40):
        n = rng.randint(3, 12)
        words = rng.sample(vocab, n)
        docs.append((i, "en", f"s{i % 2}", " ".join(words)))
    # seeded near-dups with guaranteed matches: a 10-token base plus a
    # drop-one edit (J = 9/10) and an add-one edit (J = 10/11), both
    # same-source; plus a cross-source copy that must NOT match
    base_words = [f"w{i}" for i in range(10)]
    docs.append((100, "en", "s0", " ".join(base_words)))
    docs.append((101, "en", "s0", " ".join(base_words[:-1])))
    docs.append((102, "en", "s0", " ".join(base_words + ["w99"])))
    docs.append((103, "en", "s1", " ".join(base_words)))
    t = 0.7
    got = {
        (r["doc_a"], r["doc_b"])
        for r in prefix_filter_pairs(
            spark.createDataFrame(
                docs, "doc_id BIGINT, lang STRING, source STRING, text STRING"
            ),
            t,
        ).collect()
    }
    sets = {d[0]: (d[2], set(d[3].split())) for d in docs}
    want = set()
    for a, b in itertools.combinations(sorted(sets), 2):
        sa, ta = sets[a]
        sb, tb = sets[b]
        if sa != sb:
            continue
        j = len(ta & tb) / len(ta | tb)
        if j >= t:
            want.add((a, b))
    assert want, "fixture must contain true matches"
    assert got == want, (got ^ want)


def test_fk_report_counts_orphans(spark):
    """The anti-join must count child rows whose key is missing from
    the parent (NULL fks are orphans too — a NULL never equals a key)
    and report fk_holds=False exactly for violated checks."""
    from aproximacion_1_etl_spark.queries import fk_report

    parent = spark.createDataFrame([(1,), (2,)], "pk BIGINT")
    child = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 2), (4, 9), (5, None)],
        "id BIGINT, fk BIGINT",
    )
    out = {
        r["fk"]: (r["n_child"], r["n_orphans"], r["fk_holds"])
        for r in fk_report(
            [
                ("child.fk", "parent.pk", child, "fk", parent, "pk"),
                ("parent.pk", "parent.pk", parent, "pk", parent, "pk"),
            ]
        ).collect()
    }
    assert out["child.fk"] == (5, 2, False), out
    assert out["parent.pk"] == (2, 0, True), out


def test_read_merged_pins_deltas_to_requested_version(spark):
    """Time-traveling read_merged(version=v) must apply only v's
    deltas: after compaction creates v1, the old version's merged view
    is still reproducible, and gated-publish metas ride the snapshot
    commit protocol."""
    import os
    import shutil

    from aproximacion_1_etl_spark.sources.versioned import (
        committed_metas,
        compact_deltas,
        read_merged,
        write_delta,
        write_snapshot,
        write_snapshot_gated,
    )

    base = tempfile.mkdtemp(prefix="graft_morpin_t_")
    path = os.path.join(base, "t")
    try:
        write_snapshot(
            spark.createDataFrame([(1, 1.0)], "k BIGINT, v DOUBLE"), path
        )
        write_delta(
            spark.createDataFrame([(2, 2.0)], "k BIGINT, v DOUBLE"), path
        )
        v1 = compact_deltas(spark, path, ["k"])
        # new delta against v1 only
        write_delta(
            spark.createDataFrame([(3, 3.0)], "k BIGINT, v DOUBLE"), path
        )
        assert rows(read_merged(spark, path, ["k"], version=0)) == [
            (1, 1.0),
            (2, 2.0),
        ]
        assert rows(read_merged(spark, path, ["k"], version=v1)) == [
            (1, 1.0),
            (2, 2.0),
            (3, 3.0),
        ]
        # gated publish carries meta atomically with the commit
        v2, viol = write_snapshot_gated(
            spark.createDataFrame([(9, 9.0)], "k BIGINT, v DOUBLE"),
            path,
            {"ok": "v > 0"},
            meta="batch-42",
        )
        assert v2 == v1 + 1 and viol == {"ok": 0}
        assert "batch-42" in committed_metas(path)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_hll_trailing_report_bound_on_skewed_days(spark):
    """The trailing-7-day sketch bound must hold on adversarial day
    skew: one day with many users, surrounding days with one user —
    windows straddling the spike mix very different sketch sizes."""
    from aproximacion_1_etl_spark.queries import _hll_trailing_report

    rows_in = []
    for d in range(1, 21):
        day = f"2024-02-{d:02d}"
        if d == 10:
            rows_in += [("a", day, u) for u in range(500)]
        else:
            rows_in += [("a", day, d)]
    ev = spark.createDataFrame(
        rows_in, "event_type STRING, day STRING, user_id BIGINT"
    ).select("event_type", F.col("day").cast("date").alias("day"), "user_id")
    daily = ev.groupBy("event_type", "day").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    out = _hll_trailing_report(daily, ev).collect()
    assert len(out) == 20
    assert all(r["est_ok"] for r in out), [
        (r["day"], r["n_exact"]) for r in out if not r["est_ok"]
    ]


def test_grouped_quantiles_all_groups_within_bound(spark, sf_dir):
    """End-to-end per-group bound check for the catalog key: every
    (event_type, q) row satisfies the order-statistic bound. (The
    adversarial gapped-distribution case for the shared bucket
    geometry is pinned by
    test_histogram_quantile_bound_holds_on_gapped_bimodal.)"""
    from aproximacion_1_etl_spark.queries import q_grouped_quantiles

    out = q_grouped_quantiles(spark, sf_dir).collect()
    assert len(out) == 15  # 5 types x 3 quantiles
    assert all(r["est_ok"] for r in out), [
        (r["event_type"], r["q"]) for r in out if not r["est_ok"]
    ]


def test_history_to_scd2_explicit_versions_see_empty_version(spark):
    """An all-deleted committed version is invisible to the rows-derived
    chain but MUST tombstone every key when the committed chain is
    passed explicitly — a time-travel reader of the empty version sees
    no keys, so validity intervals must close there."""
    import tempfile

    from aproximacion_1_etl_spark.sources.versioned import (
        committed_versions,
        delete_rows,
        history_to_scd2,
        read_history,
        write_snapshot,
    )

    path = tempfile.mkdtemp(prefix="graft_scd2_empty_")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    write_snapshot(df, path)  # v1: both keys
    write_snapshot(df.limit(0), path)  # v2: entirely empty
    write_snapshot(df, path)  # v3: both keys return
    hist = read_history(spark, path)
    chain = committed_versions(path)
    assert len(chain) == 3

    # rows-derived chain cannot see v2: one interval spans it
    derived = history_to_scd2(hist, ["k"], ["v"])
    spans = {
        (r["k"], r["valid_from"], r["valid_to"])
        for r in derived.collect()
    }
    assert all(vf == chain[0] and vt is None for _, vf, vt in spans)

    # explicit chain: interval closes at v2, reopens at v3
    exact = history_to_scd2(hist, ["k"], ["v"], versions=chain)
    rows = sorted(
        (r["k"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in exact.collect()
    )
    assert rows == [
        (1, chain[0], chain[1], False),
        (1, chain[2], None, True),
        (2, chain[0], chain[1], False),
        (2, chain[2], None, True),
    ]


def test_write_snapshot_gated_empty_expectations_publishes(spark):
    """{} means an ungated publish: commits a version, zero violations,
    no orphan dir left behind."""
    import os
    import tempfile

    from aproximacion_1_etl_spark.sources.versioned import (
        current_version,
        read_snapshot,
        write_snapshot_gated,
    )

    path = tempfile.mkdtemp(prefix="graft_gated_empty_")
    df = spark.createDataFrame([(1, -5)], "k int, v int")
    v, viol = write_snapshot_gated(df, path, {})
    assert v is not None and viol == {}
    assert current_version(path) == v
    assert read_snapshot(spark, path).count() == 1
    # no orphan (uncommitted) version dirs
    dirs = {d for d in os.listdir(path) if d.startswith("v=")}
    assert dirs == {f"v={v}"}
