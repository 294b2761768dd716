"""Query catalog — streaming domain (mechanically moved from queries.py)."""


from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from aproximacion_1_etl_spark.sources.tables import load_table
from aproximacion_1_etl_spark.streaming.events import run_available_now
from aproximacion_1_etl_spark.streaming.harness import (
    drain,
    run_to_end,
    scratch_dir,
    wave_stream,
)
from aproximacion_1_etl_spark.text.dedup import (
    dedup_clusters,
    exact_dedup,
    minhash_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    word_shingles,
)
from .common import *  # noqa: F401,F403


# Per-wave fold wall-times of the maintained-state streaming twins,
# recorded by their foreachBatch handlers (fold compute + store swap
# I/O — the cost a real deployment pays per micro-batch). foreachBatch
# runs driver-side in this same module, so bench.py reads the dict
# after running a twin and reports the waves as BENCH_DETAIL line
# items (VERDICT r10 task 4: the batch folds were benched, the
# streaming folds were only pytest-proven). Keyed by catalog key name;
# cleared by the reader.
STREAM_FOLD_SECS: dict[str, list[float]] = {}


def _record_fold(key: str, t0: float) -> None:
    import time as _time

    STREAM_FOLD_SECS.setdefault(key, []).append(
        round(_time.time() - t0, 3)
    )


def _committed_batch_ids(base: str) -> list[int]:
    """Batch ids whose store versions carry a commit marker, sorted.

    The BATCH-VERSIONED COMMIT protocol (ADVICE r12 #1/#2): a
    maintained store with more than one relation cannot swap its
    halves atomically with independent overwrites — a crash between
    the counts swap and the ledger swap leaves updated counts with a
    stale ledger (double-count on re-run), and a guard keyed on the
    first-written half makes a crashed wave's re-run a no-op for the
    never-written half (a permanently dropped wave). Instead, each
    foreachBatch trigger writes EVERY output relation to NEW
    ``<name>_b{batch_id}`` directories (never overwriting what it
    reads) and then creates ONE ``_commit_{batch_id}`` marker — the
    single atomic commit point. Readers (the next trigger, the final
    render) resolve state from the HIGHEST COMMITTED version only:

    - crash anywhere before the marker → the partial version dirs are
      invisible; Spark re-runs the trigger under the SAME batch_id
      (checkpoint contract) and overwrites them from the same prior
      committed state — exactly-once;
    - crash after the marker but before Spark's own checkpoint commit
      → the re-run sees its batch_id already committed and returns
      without touching any store — the committed version stands,
      nothing double-folds, nothing drops.

    Old versions accumulate for the 3-wave catalog keys (production
    would vacuum versions older than the checkpoint horizon)."""
    try:
        names = os.listdir(base)
    except FileNotFoundError:
        return []
    return sorted(
        int(n[len("_commit_"):])
        for n in names
        if n.startswith("_commit_") and n[len("_commit_"):].isdigit()
    )


def _mark_batch_committed(base: str, batch_id: int) -> None:
    """The atomic commit point of ``_committed_batch_ids``'s
    protocol: one empty marker file, created last."""
    with open(os.path.join(base, f"_commit_{batch_id}"), "w"):
        pass


def q_streaming_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 + §2.10: the mergeable profile AS A STREAM — completes the
    batch / incremental / streaming trio (table_profile /
    incremental_profile / here), the same topology as the dedup
    signature store and the IVF stats store: orders arrive in two
    date-ordered waves; foreachBatch folds each wave's 1-row typed
    moment state into the persisted state (counts add, extrema
    min/max) and appends the wave's distinct-value pairs to the value
    store. Per-batch cost is O(|batch| + state); no batch ever
    rescans another. The final rendered profile must equal a full
    recompute — the oracle is the full-table profile."""
    from aproximacion_1_etl_spark.functions.profile import (
        distinct_state,
        merge_profile_states,
        profile_from_states,
        profile_state,
    )

    cols = [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    ]
    o = load_table(spark, sf_dir, "orders").select(*cols)

    def handle_batch(batch, batch_id: int) -> None:
        bspark = batch.sparkSession
        mom = profile_state(batch, cols)
        if os.path.isdir(mom_log):
            prior = bspark.read.parquet(mom_log)
            # fold: prior state + this wave's state -> one-row state
            mom = merge_profile_states([prior, mom], cols)
        mom.write.mode("overwrite").parquet(os.path.join(base, "_mom_next"))
        # two-step swap: the fold READS mom_log, so write aside first
        folded = bspark.read.parquet(os.path.join(base, "_mom_next"))
        folded.write.mode("overwrite").parquet(mom_log)
        distinct_state(batch, cols).write.mode("append").parquet(val_store)

    with scratch_dir("graft_spf_") as base:
        mom_log = os.path.join(base, "moments")
        val_store = os.path.join(base, "values")
        waves = [
            o.filter(F.col("o_orderdate") < "1998-01-01"),
            o.filter(F.col("o_orderdate") >= "1998-01-01"),
        ]
        run_to_end(
            wave_stream(base, waves).writeStream.foreachBatch(handle_batch),
            base,
        )
        out = profile_from_states(
            spark.read.parquet(mom_log),
            spark.read.parquet(val_store).distinct(),
            cols,
        )
        return out.localCheckpoint(eager=True)


def q_streaming_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 + §2.10: mergeable quantiles AS A STREAM — completes the
    batch / incremental / streaming trio for the quantile state (the
    profile-store topology): events arrive in two date-ordered waves;
    foreachBatch buckets ONLY its own wave against the standing bucket
    geometry (fixed lo/width — domain knowledge in production, one
    bounds pass here) and folds the counts into the persisted
    histogram state. Per-batch cost O(|batch| + |bins|); the final
    p50/p90/p99 render from the folded state must satisfy the same
    provable bucket-geometry bound against the exact full-data order
    statistics — the oracle is identical to incremental_quantiles by
    construction. The histogram state lives in a versioned snapshot
    table (write_snapshot / committed_metas): the batch id travels
    inside the commit, so a recovered stream that re-delivers the
    in-flight micro-batch skips it instead of double-counting (the
    count fold is NOT idempotent), and publish is one atomic manifest
    flip — no torn two-step overwrite window."""
    from aproximacion_1_etl_spark.sources.versioned import (
        committed_metas,
        current_version,
        read_snapshot,
        write_snapshot,
    )

    ev = load_table(spark, sf_dir, "events").select(
        F.col("value").cast("double").alias("value"),
        F.col("ts"),
    )
    n_b = 512
    b = ev.agg(
        F.min("value").alias("_lo"), F.max("value").alias("_hi")
    ).collect()[0]
    lo, hi = float(b["_lo"]), float(b["_hi"])
    width = (hi - lo) / n_b if hi > lo else 1.0

    def handle_batch(batch, batch_id: int) -> None:
        if str(batch_id) in committed_metas(hist_log):
            return
        bspark = batch.sparkSession
        part = (
            batch.select(
                _hist_bucket(F.col("value"), lo, width, n_b)
                .alias("bucket")
            )
            .groupBy("bucket")
            .agg(F.count("*").cast("bigint").alias("n"))
        )
        if current_version(hist_log) is not None:
            prior = read_snapshot(bspark, hist_log)
            part = (
                prior.unionByName(part)
                .groupBy("bucket")
                .agg(F.sum("n").cast("bigint").alias("n"))
            )
        write_snapshot(part, hist_log, meta=str(batch_id))

    with scratch_dir("graft_sq_") as base:
        hist_log = os.path.join(base, "hist")
        # events are 2024-dated; mid-month cut makes BOTH waves carry
        # rows so the second batch folds into a non-trivial prior state
        cut = "2024-01-16"
        waves = [ev.filter(F.col("ts") < cut), ev.filter(F.col("ts") >= cut)]
        run_to_end(
            wave_stream(base, waves).writeStream.foreachBatch(handle_batch),
            base,
        )

        # the folded state carries the exact total as sum(n) — no
        # rescan of the source after the stream
        state = read_snapshot(spark, hist_log).collect()
        total = sum(r["n"] for r in state)
        merged = spark.createDataFrame(state, "bucket INT, n BIGINT")
        out = _histogram_quantile_report(
            _cum_hist(merged), ev, lo, width, total
        )
        return out.localCheckpoint(eager=True)


def q_streaming_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9: custom stateful operator (applyInPandasWithState) — running
    per-user sessionization; AvailableNow replay makes it equal the
    batch result, which the oracle checks."""
    from aproximacion_1_etl_spark.streaming.stateful import (
        run_stateful_sessions,
    )

    return run_stateful_sessions(spark, sf_dir, glob="events.parquet")


def q_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 stream-stream interval join: click-like events joined to the
    same user's purchase-like events within the following 24 h, both
    sides watermarked (state bounded by watermark + interval). The
    matched pair set is deterministic, so it oracle-checks against the
    batch interval join."""
    from aproximacion_1_etl_spark.streaming.events import read_events_stream

    s1 = (
        read_events_stream(spark, sf_dir, "events.parquet")
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    s2 = (
        read_events_stream(spark, sf_dir, "events.parquet")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = s1.join(
        s2,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            < F.col("click_ts") + F.expr("INTERVAL 24 HOURS")
        ),
    ).select("click_id", "purchase_id", "user_id")
    return drain(joined, "append")


def q_streaming_interval_join_outer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """§2.9 stream-stream LEFT OUTER interval join with watermark
    state cleanup — the shape the inner join can't express: clicks
    that never converted within 6 h still emit (purchase_id NULL),
    but only once the watermark passes the end of their join window
    (that's the state-eviction moment — unbounded retention would
    otherwise be required to prove a non-match). Clicks whose window
    is still open when the stream ends are correctly withheld: the
    oracle mirrors the exact flush rule, matched pairs plus unmatched
    clicks with click_ts + 6h < final watermark, where the final
    watermark is min(max click_ts, max purchase_ts) - 1h — the
    cross-stream minimum Spark maintains. State stays bounded by
    watermark + interval at any stream length."""
    from aproximacion_1_etl_spark.streaming.events import read_events_stream

    s1 = (
        read_events_stream(spark, sf_dir, "events.parquet")
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    s2 = (
        read_events_stream(spark, sf_dir, "events.parquet")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = s1.join(
        s2,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            < F.col("click_ts") + F.expr("INTERVAL 6 HOURS")
        ),
        "left_outer",
    ).select("click_id", "purchase_id", "user_id")
    return drain(joined, "append")


def q_streaming_interval_join_full(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """§2.9 stream-stream FULL OUTER interval join — both-side NULL
    emission at watermark eviction, completing the outer-join matrix
    next to the left form: clicks that never converted within 6 h
    emit (purchase_id NULL) once the watermark passes the END of their
    join window (click_ts + 6h < w), and purchases with no preceding
    click in their window emit (click_id NULL) once the watermark
    passes the point where no future click can match them — a
    purchase joins clicks with click_ts <= purchase_ts, and new clicks
    arrive at >= w, so its eviction moment is purchase_ts < w. The
    oracle mirrors both flush rules against the same cross-stream
    final watermark w = min(max click_ts, max purchase_ts) - 1h; rows
    whose windows are still open when the stream ends are correctly
    withheld on BOTH sides. user_id coalesces across sides so
    purchase-only rows keep their user."""
    from aproximacion_1_etl_spark.streaming.events import read_events_stream

    s1 = (
        read_events_stream(spark, sf_dir, "events.parquet")
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    s2 = (
        read_events_stream(spark, sf_dir, "events.parquet")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = s1.join(
        s2,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            < F.col("click_ts") + F.expr("INTERVAL 6 HOURS")
        ),
        "full_outer",
    ).select(
        "click_id",
        "purchase_id",
        F.coalesce(F.col("user_id"), F.col("p_user_id")).alias("user_id"),
    )
    return drain(joined, "append")


def q_streaming_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9: streaming dropDuplicates — the distinct (user_id,
    event_type) key set surviving a streamed dedup equals the batch
    DISTINCT (survivor choice varies with arrival order, key set does
    not, so only keys are emitted)."""
    from aproximacion_1_etl_spark.streaming.events import read_events_stream

    stream = (
        read_events_stream(spark, sf_dir, "events.parquet")
        .select("user_id", "event_type")
        .dropDuplicates(["user_id", "event_type"])
    )
    return drain(stream, "append")


def q_streaming_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9: Structured Streaming tumbling-window agg, Trigger.AvailableNow
    (deterministic => oracle-checkable against the batch equivalent)."""
    return run_available_now(spark, sf_dir, "1 day", glob="events.parquet")


def q_streaming_session_window(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """§2.9 native session windows in Structured Streaming: per-user
    gap-based sessions (2 h) via F.session_window — the engine merges
    and extends session state incrementally, bounded by the watermark
    (contrast q_sessionize, the batch lag+cumsum form of the same
    semantics). Append mode emits a session only when the watermark
    passes its end (last event + gap) — the state-eviction moment;
    sessions still open at stream end are withheld. The oracle
    replays gap sessionization relationally and applies the exact
    flush rule (session_end + gap < max ts - 1 h), with the gap
    boundary end-EXCLUSIVE (an event exactly gap seconds after the
    last starts a new session), matching session_window's [start,
    end) semantics."""
    from aproximacion_1_etl_spark.streaming.events import read_events_stream

    s = (
        read_events_stream(spark, sf_dir, "events.parquet")
        .withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "2 hours"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format(
                "session_window.start", "yyyy-MM-dd HH:mm:ss"
            ).alias("session_start"),
            F.date_format(
                "session_window.end", "yyyy-MM-dd HH:mm:ss"
            ).alias("session_end"),
            F.col("n_events").cast("bigint").alias("n_events"),
        )
    )
    return drain(s, "append")


def q_streaming_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9: hopping/sliding windows (2-day window, 1-day slide) over the
    same AvailableNow stream — each event lands in 2 windows."""
    return run_available_now(
        spark, sf_dir, "2 days", glob="events.parquet", slide="1 day"
    )


def q_streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9: stream-static broadcast enrichment (events stream x
    customer dim) rolled up per market segment."""
    from aproximacion_1_etl_spark.streaming.events import (
        stream_static_enrich,
    )

    customer = load_table(spark, sf_dir, "customer")
    return stream_static_enrich(
        spark, sf_dir, customer, glob="events.parquet"
    )


def q_streaming_dedup_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9: dropDuplicatesWithinWatermark — the BOUNDED-state streaming
    dedup (state evicted past the watermark horizon, unlike plain
    streaming dropDuplicates whose key state grows forever). Key set
    equals batch DISTINCT because the full span fits one AvailableNow
    batch; at scale the watermark is the state-size knob."""
    from aproximacion_1_etl_spark.streaming.events import (
        read_events_stream,
    )

    stream = (
        read_events_stream(spark, sf_dir, "events.parquet")
        .withWatermark("ts", "30 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return drain(stream, "append")


def q_streaming_incremental_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """§2.9 + §2.10: incremental near-dup AS A STREAM — documents
    arrive in two waves (the streaming harness makes each wave its own
    micro-batch); foreachBatch screens the incoming batch against the
    persisted minhash signature store, appends collisions to the
    result table, then appends the batch's own signatures to the
    store. Exactly the production topology: the store outlives the
    stream, each batch pays only its own shingling. Deterministic
    (wave membership by doc_id parity, mtime-ordered file pickup), so
    the result is value-checked against a batch oracle: every
    odd-doc x even-doc LSH collision — wave 1 (even ids) seeds the
    store, wave 2 (odd ids) screens against it."""
    from aproximacion_1_etl_spark.text.dedup import (
        incremental_minhash_dedup,
        minhash_signatures,
        word_shingles,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )

    def handle_batch(batch, batch_id: int) -> None:
        if os.path.isdir(store):
            sigs = batch.sparkSession.read.parquet(store)
            hits = incremental_minhash_dedup(batch, sigs)
            hits.write.mode("append").parquet(result)
        minhash_signatures(
            word_shingles(batch, distinct=False)
        ).write.mode("append").parquet(store)

    with scratch_dir("graft_sid_") as base:
        store = os.path.join(base, "store")
        result = os.path.join(base, "result")
        waves = [
            docs.filter(F.col("doc_id") % 2 == 0),
            docs.filter(F.col("doc_id") % 2 == 1),
        ]
        run_to_end(
            wave_stream(base, waves).writeStream.foreachBatch(handle_batch),
            base,
        )
        if not os.path.isdir(result):
            return spark.createDataFrame(
                [],
                "doc_new BIGINT, doc_old BIGINT, matching_bands BIGINT, "
                "est_jaccard DOUBLE",
            )
        return spark.read.parquet(result).localCheckpoint(eager=True)


def q_streaming_ivm_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 + IVM: the join-view maintenance of ``ivm_join`` AS A
    STREAM — fact CDC arrives in two waves (wave 1: inserts past the
    cutoff + deletes of %97 history; wave 2: price corrections on %89
    history), foreachBatch folds each wave into a VERSIONED snapshot
    of the orders-x-customer view with maintain_join_view (the view
    side moves through broadcast joins only), publishing each batch
    atomically via write_snapshot. Deterministic wave pickup
    (one micro-batch per wave, in order), so the final snapshot is
    value-checked against a from-scratch batch oracle. This is the
    production topology for keeping a denormalized serving table
    current under a CDC feed without nightly re-joins."""
    from aproximacion_1_etl_spark.operators.refine import (
        maintain_join_view,
    )
    from aproximacion_1_etl_spark.sources.versioned import (
        read_snapshot,
        write_snapshot,
    )

    cut = "1998-06-01"
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    dim = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
        .withColumnRenamed("c_custkey", "o_custkey")
    )
    old_facts = o.filter(F.col("o_orderdate") < cut)
    inserts, updates, deletes = _orders_cdc(o, cut)

    dim_schema = (
        "o_custkey BIGINT, c_name STRING, "
        "c_mktsegment STRING, c_acctbal DOUBLE"
    )

    def handle_batch(batch, batch_id: int) -> None:
        # replay guard: a recovered stream re-delivers the in-flight
        # micro-batch, and re-applying its deltas would double-apply
        # (the anti-drop is idempotent, the refresh-union is not). The
        # batch id travels INSIDE the snapshot commit (written to the
        # version dir before the manifest flips), so "was this batch
        # applied" and "which view state is current" commit atomically
        # — a crash between data write and manifest flip leaves
        # neither visible and the replay applies cleanly.
        from aproximacion_1_etl_spark.sources.versioned import (
            committed_metas,
        )

        if str(batch_id) in committed_metas(vpath):
            return
        bspark = batch.sparkSession
        cur = read_snapshot(bspark, vpath)
        dim_b = (
            load_table(bspark, sf_dir, "customer")
            .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
            .withColumnRenamed("c_custkey", "o_custkey")
        )
        no_dim_changes = bspark.createDataFrame([], dim_schema)
        new = maintain_join_view(
            cur,
            batch,
            dim_b,
            no_dim_changes,
            fact_key="o_orderkey",
            join_key="o_custkey",
        )
        write_snapshot(new, vpath, meta=str(batch_id))

    with scratch_dir("graft_sivm_") as base:
        vpath = os.path.join(base, "view")
        write_snapshot(old_facts.join(dim, "o_custkey"), vpath)
        waves = [inserts.unionByName(deletes), updates]
        run_to_end(
            wave_stream(base, waves).writeStream.foreachBatch(handle_batch),
            base,
        )
        out = read_snapshot(spark, vpath).select(
            "o_orderkey",
            "o_custkey",
            "o_orderdate",
            _fround(F.col("o_totalprice").cast("double"), 2).alias(
                "o_totalprice"
            ),
            "c_name",
            "c_mktsegment",
            _fround(F.col("c_acctbal").cast("double"), 2).alias(
                "c_acctbal"
            ),
        )
        return out.localCheckpoint(eager=True)


def q_rest_stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.1+§2.9 STREAMING REST ingestion (Spark 4 Python streaming
    data source): the paginated extractor as a readStream — one fetch
    day per microbatch, the day cursor living in the ENGINE's
    checkpoint as the stream offset (rest_datasource.py::
    RestOrdersStreamReader), deterministic replay via
    readBetweenOffsets => exactly-once into the parquet sink. The
    batch rest_orders source covers backfills; this is the daemon
    form the reference's cron loop approximates. The stream idles on
    an unchanged offset once the window is exhausted; the driver stops
    it when the committed offset reaches the window end."""
    import ast as _ast
    import json as _json
    import time as _time

    from aproximacion_1_etl_spark.sources.rest_datasource import register

    register(spark)
    with scratch_dir("graft_rsi_") as base:
        sink = os.path.join(base, "sink")
        q = (
            spark.readStream.format("rest_orders")
            .option("start_date", "2024-01-01")
            .option("n_days", 3)
            .option("max_pages", 2)
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", os.path.join(base, "_ckpt"))
            .trigger(processingTime="0 seconds")
            .start()
        )
        # the stream MUST be stopped before scratch_dir's rmtree runs —
        # an exception escaping the poll loop would otherwise leave a
        # zombie query triggering against deleted dirs for the rest of
        # the session, so the stop lives in its own finally
        window_done = False
        try:
            deadline = _time.time() + 120
            while _time.time() < deadline:
                p = q.lastProgress
                if p and p.get("sources"):
                    eo = p["sources"][0].get("endOffset")
                    off = None
                    if isinstance(eo, str):
                        # Python-source offsets surface in progress as
                        # the dict's repr (single quotes), not JSON
                        try:
                            off = _json.loads(eo)
                        except ValueError:
                            try:
                                off = _ast.literal_eval(eo)
                            except (ValueError, SyntaxError):
                                off = None
                    elif eo is not None:
                        off = eo
                    if (
                        isinstance(off, dict)
                        and int(off.get("day_index", 0)) >= 3
                    ):
                        window_done = True
                        break  # progress reports AFTER batch commit
                _time.sleep(0.2)
        finally:
            q.stop()
            q.awaitTermination()
        if not window_done:
            # aggregating a partial sink would surface much later as
            # an opaque value mismatch — fail loudly at the source
            raise TimeoutError(
                "rest_stream_ingest: committed stream offset did not "
                "reach day_index 3 within the 120 s poll deadline; "
                "refusing to aggregate a partial sink"
            )
        out = (
            spark.read.parquet(sink)
            .groupBy("fetch_date")
            .agg(
                F.count("*").cast("bigint").alias("n_rows"),
                F.sum(
                    F.floor(F.col("amount") * 100.0 + F.lit(0.5))
                    .cast("bigint")
                ).cast("bigint").alias("sum_amount_cents"),
            )
        )
        return out.localCheckpoint(eager=True)


def q_streaming_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 native streaming dedup: dropDuplicatesWithinWatermark over
    two arrival waves where wave 2 REPLAYS wave 1's events verbatim
    (at-least-once upstream delivery, the case this operator exists
    for) — the engine's state store admits each event_id once and the
    parquet sink receives exactly the distinct events. The watermark
    delay (365 d) exceeds the event span, so no dedup state expires
    mid-run and the result equals batch DISTINCT — which is the
    oracle. State is |distinct keys|-bounded and the sink is
    append-only; contrast the foreachBatch signature-store dedup
    (streaming_incremental_dedup), which owns its state explicitly."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    with scratch_dir("graft_sdw_") as base:
        sink = os.path.join(base, "sink")
        run_to_end(
            wave_stream(base, [ev, ev])
            .withWatermark("ts", "365 days")
            .dropDuplicatesWithinWatermark(["event_id"])
            .writeStream.format("parquet")
            .option("path", sink),
            base,
        )
        out = (
            spark.read.parquet(sink)
            .groupBy("event_type")
            .agg(
                F.count("*").cast("bigint").alias("n_events"),
                F.sum(
                    F.floor(F.col("value") * 100.0 + F.lit(0.5))
                    .cast("bigint")
                ).cast("bigint").alias("sum_value_cents"),
            )
        )
        return out.localCheckpoint(eager=True)


def q_streaming_ivf_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 + §2.10: ANN index maintenance AS A STREAM — the streaming
    sibling of ``ivf_index_append`` (same trio as batch/streaming
    incremental dedup and the batch/streaming profile): the per-cell
    stats store is seeded from the historical index once, then the new
    corpus slice arrives in two waves; foreachBatch assigns ONLY its
    wave to the existing codebook (map-side literal argmin — history
    never rescanned) and appends per-cell increments to the store.
    Per-batch cost is O(|wave| x cells x dim) + a |cells|-sized write;
    state is the |cells|-sized stats relation. The final report (cell
    populations + the exact-integer hot/retrain_due policy flags) must
    equal the one-shot batch append — same oracle SQL."""
    from aproximacion_1_etl_spark.text.vector import ivf_assign_cells

    cb = _trained_codebook(spark, sf_dir, "history")
    n_cells = len(cb)
    emb = load_table(spark, sf_dir, "embeddings")
    hist = emb.filter(F.col("vec_id") % 4 != 0)
    new = emb.filter(F.col("vec_id") % 4 == 0)

    def handle_batch(batch, batch_id: int) -> None:
        inc = (
            ivf_assign_cells(batch, cb)
            .groupBy("cell")
            .agg(F.count("*").cast("bigint").alias("n_new"))
        )
        inc.write.mode("append").parquet(store)

    with scratch_dir("graft_siv_") as base:
        store = os.path.join(base, "stats")
        # seed the persisted index stats from the historical slice
        # (the one-time cost the standing index already paid)
        baseline = (
            ivf_assign_cells(hist, cb)
            .groupBy("cell")
            .agg(F.count("*").cast("bigint").alias("n_baseline"))
        )
        baseline.write.parquet(os.path.join(base, "baseline"))

        waves = [
            new.filter(F.col("vec_id") % 8 == 0),
            new.filter(F.col("vec_id") % 8 == 4),
        ]
        run_to_end(
            wave_stream(base, waves).writeStream.foreachBatch(handle_batch),
            base,
        )

        from aproximacion_1_etl_spark.text.vector import (
            ivf_merge_cell_stats,
        )

        new_counts = (
            spark.read.parquet(store)
            .groupBy("cell")
            .agg(F.sum("n_new").cast("bigint").alias("n_new"))
        )
        out = ivf_merge_cell_stats(
            spark.read.parquet(os.path.join(base, "baseline")),
            new_counts,
            n_cells,
        )
        return out.localCheckpoint(eager=True)


def q_streaming_fingerprint_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """§2.9 + §2.10: incremental Merkle maintenance AS A STREAM — the
    corpus arrives in two waves; foreachBatch appends the batch's
    (bucket, row-hash) rows to a prefix-partitioned store, recomputes
    digests ONLY for the buckets the batch touched (partition-pruned
    read; the store key is 'p'+prefix so partition type inference can
    never coerce hex dirs to ints), and publishes them latest-wins to a
    level log. Unchanged buckets are never re-read — per-batch cost is
    |batch| + |touched buckets|, the incremental-integrity topology at
    any corpus size. The final level relation is value-checked against
    the BATCH oracle (one digest pass over the whole corpus): any
    divergence in the maintenance path breaks hash parity."""
    from aproximacion_1_etl_spark.functions.profile import (
        row_bucket_hashes,
    )

    cols = ["text", "lang", "source", "n_chars"]
    docs = load_table(spark, sf_dir, "documents").select("doc_id", *cols)

    def handle_batch(batch, batch_id: int) -> None:
        bh = row_bucket_hashes(batch, "doc_id", cols, prefix_len=2).select(
            F.concat(F.lit("p"), F.col("prefix")).alias("pfx"), "h"
        )
        bh.write.mode("append").partitionBy("pfx").parquet(rows_store)
        touched = [
            r["pfx"] for r in bh.select("pfx").distinct().collect()
        ]
        pruned = (
            batch.sparkSession.read.parquet(rows_store)
            .filter(F.col("pfx").isin(touched))
        )
        digests = pruned.groupBy("pfx").agg(
            F.sha2(
                F.concat_ws("", F.array_sort(F.collect_list("h"))), 256
            ).alias("digest"),
            F.count("*").cast("bigint").alias("n_rows"),
        )
        digests.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(level_log)

    with scratch_dir("graft_sfm_") as base:
        rows_store = os.path.join(base, "rows")
        level_log = os.path.join(base, "level")
        waves = [
            docs.filter(F.col("doc_id") % 2 == 0),
            docs.filter(F.col("doc_id") % 2 == 1),
        ]
        run_to_end(
            wave_stream(base, waves).writeStream.foreachBatch(handle_batch),
            base,
        )
        log = spark.read.parquet(level_log)
        w = Window.partitionBy("pfx").orderBy(F.col("batch_id").desc())
        out = (
            log.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                F.substring("pfx", 2, 2).alias("prefix"), "digest", "n_rows"
            )
        )
        return out.localCheckpoint(eager=True)


def q_streaming_cusum_monitor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """§2.9 + §2.10: the CUSUM drift detector AS A STREAM — the
    events table arrives in two waves (first half of the month, then
    the rest); foreachBatch maintains an O(|types|) accumulator state
    (prefix end, running min, best drift + peak day, frozen baseline
    mean) in a batch-id log, so per-batch cost is |batch| + |types|
    regardless of history length — the production monitoring topology
    (cusum_drift is the one-shot batch equivalent; this key proves
    the same statistic maintains incrementally).

    Semantics: the baseline mean is FROZEN from the type's first wave
    (how production CUSUM references a historical window — a global
    mean would change retroactively with every batch and force full
    recompute). The CUSUM recursion continues across batches through
    (prefix_end, runmin_end); because wave day-ranges are ordered and
    disjoint, the accumulator is exactly the batch prefix/running-min
    identity, and the final state value-checks against the one-pass
    frozen-baseline oracle. Drift snaps to 6 dp at comparison like
    the batch key."""
    split_day = "2024-01-16"
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type"
    )

    def handle_batch(batch, batch_id: int) -> None:
        bspark = batch.sparkSession
        daily = batch.groupBy(
            "event_type", F.col("ts").cast("date").alias("day")
        ).agg(F.count("*").alias("x"))
        # explicit existence check, not a swallowed read error (the
        # notify-ledger lesson): only a genuinely absent store means
        # "first batch"; a corrupt store must raise
        if os.path.isdir(state_log):
            prior = (
                bspark.read.parquet(state_log)
                .withColumn(
                    "_rn",
                    F.row_number().over(
                        Window.partitionBy("event_type").orderBy(
                            F.col("batch_id").desc()
                        )
                    ),
                )
                .filter(F.col("_rn") == 1)
                .drop("_rn", "batch_id")
            )
        else:
            prior = None
        if prior is not None:
            daily = daily.join(
                F.broadcast(prior), "event_type", "left"
            )
        else:
            for c, t in (
                ("mu", "double"),
                ("prefix_end", "double"),
                ("runmin_end", "double"),
                ("best_drift", "double"),
                ("best_day", "date"),
            ):
                daily = daily.withColumn(c, F.lit(None).cast(t))
        # frozen baseline: first batch where the type appears
        mu_new = daily.groupBy("event_type").agg(
            (
                F.sum(F.col("x").cast("decimal(38,18)")).cast("double")
                / F.count("*")
            ).alias("mu_batch")
        )
        daily = daily.join(F.broadcast(mu_new), "event_type").withColumn(
            "mu_f", F.coalesce(F.col("mu"), F.col("mu_batch"))
        )
        wo = (
            Window.partitionBy("event_type")
            .orderBy("day")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        pre = daily.withColumn(
            "prefix",
            F.coalesce(F.col("prefix_end"), F.lit(0.0))
            + F.sum(F.col("x").cast("double") - F.col("mu_f")).over(wo),
        )
        run = pre.withColumn(
            "runmin",
            F.least(
                F.coalesce(
                    F.col("runmin_end"), F.lit(float("inf"))
                ),
                F.min("prefix").over(wo),
            ),
        ).withColumn(
            "drift",
            _fround(
                F.col("prefix")
                - F.least(F.col("runmin"), F.lit(0.0)),
                6,
            ),
        )
        # fold stored best into the candidate set, then argmax
        # (drift desc, day asc) per type
        cand = run.select(
            "event_type", F.col("day").alias("bday"),
            F.col("drift").alias("bdrift"),
        ).unionByName(
            run.select(
                "event_type",
                F.col("best_day").alias("bday"),
                F.col("best_drift").alias("bdrift"),
            ).filter(F.col("bdrift").isNotNull()).distinct()
        )
        wb = Window.partitionBy("event_type").orderBy(
            F.col("bdrift").desc(), F.col("bday").asc()
        )
        best = (
            cand.withColumn("rn", F.row_number().over(wb))
            .filter(F.col("rn") == 1)
            .select(
                "event_type",
                F.col("bdrift").alias("best_drift"),
                F.col("bday").alias("best_day"),
            )
        )
        wlast = Window.partitionBy("event_type").orderBy(
            F.col("day").desc()
        )
        ends = (
            run.withColumn("rn", F.row_number().over(wlast))
            .filter(F.col("rn") == 1)
            .select(
                "event_type",
                F.col("mu_f").alias("mu"),
                F.col("prefix").alias("prefix_end"),
                F.col("runmin").alias("runmin_end"),
            )
        )
        ends.join(best, "event_type").withColumn(
            "batch_id", F.lit(batch_id)
        ).write.mode("append").parquet(state_log)

    with scratch_dir("graft_scm_") as base:
        state_log = os.path.join(base, "state")
        waves = [
            ev.filter(F.col("ts").cast("date") < split_day),
            ev.filter(F.col("ts").cast("date") >= split_day),
        ]
        run_to_end(
            wave_stream(base, waves).writeStream.foreachBatch(handle_batch),
            base,
        )
        final = (
            spark.read.parquet(state_log)
            .withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy("event_type").orderBy(
                        F.col("batch_id").desc()
                    )
                ),
            )
            .filter(F.col("_rn") == 1)
        )
        sel = final.select(
            "event_type",
            F.date_format("best_day", "yyyy-MM-dd").alias("peak_day"),
            _fround(F.col("best_drift"), 4).alias("max_drift"),
            _fround(F.col("mu"), 4).alias("mean_daily"),
        )
        return sel.localCheckpoint(eager=True)


def q_streaming_max_concurrency(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """§2.9 + §2.10: the peak-concurrency sweep line AS A STREAM — so
    capacity monitoring doesn't rescan all history daily (the batch
    ``max_concurrency`` is the one-shot equivalent; this key proves
    the same statistic maintains incrementally). Events arrive in two
    day-ordered waves; foreachBatch keeps, per event type:

    - a finalized summary (running offset = concurrency entering the
      unfinalized region, peak so far + its first instant, interval
      count) — O(|keys|);
    - the unfinalized TAIL of boundary deltas — only instants the
      event-time watermark hasn't passed. Interval length is bounded
      (<= 300 s here) and waves are day-disjoint and ordered, so every
      future delta lands at/after the day after the batch's max start
      day: deltas before that cutoff fold into the summary (running
      sum continues FROM the stored offset) and are discarded. State
      is O(|keys| x |tail instants|), never O(history).

    Cross-wave end/start collisions at the same instant stay exact
    because the tail holds raw deltas: a wave-1 "-1" parked at t
    merges with wave-2's "+1" at t before any running sum sees them
    (the [start, end) exclusivity rule). The intra-batch running sum
    windows per key over one batch's deltas; at 100 TB that window is
    the bucketed two-phase form of operators/intervals.py. Final
    state value-checks against the batch oracle."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type"
    )
    return _run_streaming_max_concurrency(spark, ev, "2024-01-16")


def q_streaming_forget_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 + §2.10 right-to-be-forgotten UNDER CONCURRENT APPENDS —
    the compliance shape a 100 TB lake actually needs: erasure arrives
    mid-stream, and both the history BEFORE it and every append AFTER
    it must honor it.

    Topology: the events table is a versioned snapshot store
    (sources/versioned.py); waves 2 and 3 arrive as a file stream and
    each foreachBatch publishes the next snapshot version (current
    read THROUGH the deletion vector + the new batch — appends
    materialize standing erasures). After wave 2 lands, the RTBF
    request fires: every banded subject seen so far (md5-prefix band,
    the engine's deterministic sampler) is written to a forget
    registry, and delete_rows appends their rows to the current
    version's DV — kilobytes of intent, no data-file rewrite. Wave 3
    then appends with the registry anti-joined out, so a forgotten
    subject's LATER events never surface either; a banded user first
    seen in wave 3 never requested erasure and stays visible (the
    registry, not the band, is the authority — erasure is a recorded
    request, not a property of the hash).

    Audit (per event_type, measured THROUGH the DV read path on the
    final version): visible rows, forgotten rows, and
    n_registry_still_visible which MUST be 0. Deterministic end
    state, so the key value-checks against a DuckDB replay of the
    registry/visibility spec."""
    from aproximacion_1_etl_spark.sources.versioned import (
        delete_rows,
        read_snapshot_with_dv,
        write_snapshot,
    )

    w2_start, w3_start = "2024-01-11", "2024-01-21"
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "user_id"
    )
    band_sql = "substring(md5(cast(user_id as string)), 1, 4) < '0800'"

    def handle_batch(batch, batch_id: int) -> None:
        bspark = batch.sparkSession
        cur = read_snapshot_with_dv(bspark, store)
        if os.path.isdir(reg_dir):
            reg = bspark.read.parquet(reg_dir)
            batch = batch.join(
                F.broadcast(reg.distinct()), "user_id", "left_anti"
            )
        write_snapshot(cur.unionByName(batch), store)
        if batch_id == 0:
            # the RTBF request wave arrives after the first streamed
            # append: record every banded subject seen SO FAR as the
            # erasure authority, then logically delete their history
            snap = read_snapshot_with_dv(bspark, store)
            snap.filter(band_sql).select(
                "user_id"
            ).distinct().write.mode("overwrite").parquet(reg_dir)
            delete_rows(bspark, store, "event_id", band_sql)

    with scratch_dir("graft_sfu_") as base:
        store = os.path.join(base, "store")
        reg_dir = os.path.join(base, "registry")
        day = F.col("ts").cast("date")
        write_snapshot(ev.filter(day < w2_start), store)
        waves = [
            ev.filter((day >= w2_start) & (day < w3_start)),
            ev.filter(day >= w3_start),
        ]
        run_to_end(
            wave_stream(base, waves).writeStream.foreachBatch(handle_batch),
            base,
        )
        final = read_snapshot_with_dv(spark, store)
        reg = spark.read.parquet(reg_dir).distinct()
        vis = (
            final.join(F.broadcast(reg), "user_id", "left_semi")
            .groupBy("event_type")
            .agg(F.count("*").alias("n_registry_still_visible"))
        )
        visible = final.groupBy("event_type").agg(
            F.count("*").alias("n_visible")
        )
        forgotten = (
            ev.join(F.broadcast(reg), "user_id", "left_semi")
            .groupBy("event_type")
            .agg(F.count("*").alias("n_forgotten"))
        )
        sel = (
            visible.join(forgotten, "event_type", "left")
            .join(vis, "event_type", "left")
            .select(
                "event_type",
                F.col("n_visible").cast("bigint").alias("n_visible"),
                F.coalesce("n_forgotten", F.lit(0))
                .cast("bigint")
                .alias("n_forgotten"),
                F.coalesce("n_registry_still_visible", F.lit(0))
                .cast("bigint")
                .alias("n_registry_still_visible"),
            )
        )
        return sel.localCheckpoint(eager=True)


def q_streaming_merge_on_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 + §2.1: the merge-on-read table MAINTAINED BY A STREAM —
    CDC micro-batches land as delta appends (write_delta) against the
    customer base snapshot, never rewriting a base file; the final
    merged read must equal the batch merge_on_read key's oracle
    exactly. Replay-idempotent: each micro-batch travels with its
    batch id as delta meta (committed_delta_metas), so a recovered
    stream that re-delivers the in-flight batch skips it — delta
    append is NOT idempotent by itself (a duplicate batch would raise
    the winning sequence with identical content today, but a
    non-deterministic producer would double-apply). Per-batch cost =
    the delta write alone (kilobytes); the base relation is only ever
    scanned at read time."""
    from aproximacion_1_etl_spark.sources.versioned import (
        committed_delta_metas,
        current_version,
        read_merged,
        write_delta,
        write_snapshot,
    )

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        F.col("c_nationkey").cast("int").alias("c_nationkey"),
        "c_acctbal",
    )

    def handle_batch(batch, batch_id: int) -> None:
        v = current_version(path)
        if v is not None and str(batch_id) in committed_delta_metas(
            path, v
        ):
            return
        write_delta(batch, path, op_col="op", meta=str(batch_id))

    with scratch_dir("graft_smor_") as base:
        path = os.path.join(base, "customer")
        write_snapshot(c, path)
        waves = list(_customer_cdc_waves(c))
        run_to_end(
            wave_stream(base, waves).writeStream.foreachBatch(handle_batch),
            base,
        )
        out = read_merged(spark, path, ["c_custkey"]).select(
            "c_custkey",
            "c_name",
            "c_nationkey",
            _fround(F.col("c_acctbal"), 2).alias("c_acctbal"),
        )
        return out.localCheckpoint(eager=True)


def q_streaming_hll_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 + §2.6: the daily-sketch table MAINTAINED BY A STREAM —
    each micro-batch folds its own per-(type, day) HLL partials into
    the persisted sketch state with hll_union_agg (sketches are
    binary, parquet-stored, mergeable across batches: the wave cut is
    mid-DAY, so one day's sketch is genuinely assembled from two
    batches' partials). The final 7-day trailing distinct render from
    the folded state meets the same max(2, 5%) bound against exact as
    hll_sliding_distinct — identical oracle by construction.
    Replay-idempotent via commit-carried batch ids (sketch fold, like
    the count fold, is NOT idempotent... union of the same sketch IS,
    but a recovered stream may re-deliver a RESHAPED batch; the guard
    makes the question moot). Per-batch cost O(|batch| + |state|);
    the raw facts are never rescanned."""
    from aproximacion_1_etl_spark.sources.versioned import (
        committed_metas,
        current_version,
        read_snapshot,
        write_snapshot,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("ts"), "user_id"
    )

    def handle_batch(batch, batch_id: int) -> None:
        if str(batch_id) in committed_metas(state_log):
            return
        bspark = batch.sparkSession
        part = batch.groupBy(
            "event_type", F.to_date("ts").alias("day")
        ).agg(F.hll_sketch_agg("user_id").alias("sk"))
        if current_version(state_log) is not None:
            prior = read_snapshot(bspark, state_log)
            part = (
                prior.unionByName(part)
                .groupBy("event_type", "day")
                .agg(F.hll_union_agg("sk").alias("sk"))
            )
        write_snapshot(part, state_log, meta=str(batch_id))

    with scratch_dir("graft_shll_") as base:
        state_log = os.path.join(base, "state")
        # mid-DAY cut: day 16's sketch must merge across two batches
        cut = "2024-01-16 12:00:00"
        waves = [ev.filter(F.col("ts") < cut), ev.filter(F.col("ts") >= cut)]
        run_to_end(
            wave_stream(base, waves).writeStream.foreachBatch(handle_batch),
            base,
        )

        daily = read_snapshot(spark, state_log)
        evd = ev.select(
            "event_type", F.to_date("ts").alias("day"), "user_id"
        )
        out = _hll_trailing_report(daily, evd)
        return out.localCheckpoint(eager=True)


def q_streaming_cms_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 + §2.6: the count-min sketch MAINTAINED BY A STREAM —
    completes the mergeable-state trilogy (histogram counts,
    HLL sketches, CMS): each micro-batch aggregates its own CMS with
    Spark's count_min_sketch (same eps/confidence/seed, so merges are
    valid) and folds it into the persisted single-row binary state via
    the JVM sketch's mergeInPlace — fixed O(depth x width) state no
    matter the stream length. Replay-idempotent via commit-carried
    batch ids (a CMS fold double-counts on replay). The final
    estimates must satisfy the one-sided CMS contract against exact
    counts — the same oracle as heavy_hitters_cms by construction."""
    from aproximacion_1_etl_spark.sources.versioned import (
        committed_metas,
        current_version,
        read_snapshot,
        write_snapshot,
    )

    ev = load_table(spark, sf_dir, "events").select("event_type", "ts")
    EPS, CONF, SEED = 0.001, 0.99, 42

    def _read_cms(bspark, blob):
        return (
            bspark._jvm.org.apache.spark.util.sketch.CountMinSketch
            .readFrom(bytes(blob))
        )

    def _to_bytes(bspark, cms):
        baos = bspark._jvm.java.io.ByteArrayOutputStream()
        cms.writeTo(baos)
        return bytearray(baos.toByteArray())

    def handle_batch(batch, batch_id: int) -> None:
        if str(batch_id) in committed_metas(state_log):
            return
        bspark = batch.sparkSession
        row = batch.agg(
            F.count_min_sketch(
                F.col("event_type"), F.lit(EPS), F.lit(CONF), F.lit(SEED)
            ).alias("s")
        ).collect()[0]
        if row["s"] is None:  # empty batch: state unchanged
            return
        cms = _read_cms(bspark, row["s"])
        if current_version(state_log) is not None:
            prior = _read_cms(
                bspark,
                read_snapshot(bspark, state_log).collect()[0]["sk"],
            )
            cms = prior.mergeInPlace(cms)
        write_snapshot(
            bspark.createDataFrame(
                [(_to_bytes(bspark, cms),)], "sk BINARY"
            ),
            state_log,
            meta=str(batch_id),
        )

    with scratch_dir("graft_scms_") as base:
        state_log = os.path.join(base, "state")
        cut = "2024-01-16"
        waves = [ev.filter(F.col("ts") < cut), ev.filter(F.col("ts") >= cut)]
        run_to_end(
            wave_stream(base, waves).writeStream.foreachBatch(handle_batch),
            base,
        )

        merged = _read_cms(
            spark, read_snapshot(spark, state_log).collect()[0]["sk"]
        )
        types = [
            r["event_type"]
            for r in ev.select("event_type").distinct().collect()
        ]
        est_df = spark.createDataFrame(
            [(t, int(merged.estimateCount(t))) for t in sorted(types)],
            "event_type STRING, est_count BIGINT",
        )
        true_cnt = ev.groupBy("event_type").agg(
            F.count("*").alias("true_cnt")
        )
        totals = true_cnt.agg(F.sum("true_cnt").alias("n_total"))
        out = (
            true_cnt.join(F.broadcast(est_df), "event_type")
            .crossJoin(F.broadcast(totals))
            .select(
                "event_type",
                F.col("true_cnt").cast("bigint").alias("true_cnt"),
                (
                    (F.col("est_count") >= F.col("true_cnt"))
                    & (
                        F.col("est_count")
                        <= F.col("true_cnt")
                        + F.lit(EPS) * F.col("n_total")
                        + F.lit(1)
                    )
                ).alias("est_ok"),
            )
        )
        return out.localCheckpoint(eager=True)


def q_streaming_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 + §2.10: change-point detection MAINTAINED BY A STREAM —
    events arrive in two date-ordered waves; foreachBatch aggregates
    ONLY its own wave to daily (n, S, Q) partials and folds them
    key-wise into the persisted |types|x|days| state (decimal sums —
    exact, so merged == recomputed). The final render is the SAME
    helper the batch key uses (_changepoint_render), so capacity
    monitoring never rescans history and the oracle is
    changepoint_detect's SQL by construction. State lives in a
    versioned snapshot table whose meta carries the batch id, so a
    replayed micro-batch (crash between state write and checkpoint
    commit) is a no-op instead of double-counting the moments."""
    from aproximacion_1_etl_spark.sources.versioned import (
        committed_metas,
        current_version,
        read_snapshot,
        write_snapshot,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_id",
            "ts",
            "event_type",
            F.col("value").cast("double").alias("value"),
        )
        .filter(F.col("value").isNotNull())
    )

    def handle_batch(batch, batch_id: int) -> None:
        if str(batch_id) in committed_metas(state_log):
            return
        bspark = batch.sparkSession
        part = _changepoint_daily(
            batch.select(
                "event_type", F.to_date("ts").alias("day"), "value"
            )
        )
        if current_version(state_log) is not None:
            prior = read_snapshot(bspark, state_log)
            part = _merge_changepoint_states(prior.unionByName(part))
        write_snapshot(part, state_log, meta=str(batch_id))

    with scratch_dir("graft_scp_") as base:
        state_log = os.path.join(base, "state")
        cut = "2024-01-16"
        waves = [ev.filter(F.col("ts") < cut), ev.filter(F.col("ts") >= cut)]
        run_to_end(
            wave_stream(base, waves).writeStream.foreachBatch(handle_batch),
            base,
        )
        out = _changepoint_render(read_snapshot(spark, state_log))
        return out.localCheckpoint(eager=True)


def q_streaming_ewma_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 + §2.10 EWMA control chart MAINTAINED BY A STREAM: events
    arrive in two date-ordered waves cut mid-day; foreachBatch
    aggregates ONLY its own wave to (type, day, n) partial counts and
    folds them ADDITIVELY into the persisted |types|x|days| state
    (counts merge by sum — exact), guarded by the batch-id-in-meta
    replay check so crash-replay cannot double-count. The final
    render is the SAME _ewma_chart helper the batch key uses, so
    capacity monitoring never rescans raw history and the oracle is
    ewma_control_chart's SQL by construction."""
    from aproximacion_1_etl_spark.sources.versioned import (
        committed_metas,
        current_version,
        read_snapshot,
        write_snapshot,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type"
    )

    def handle_batch(batch, batch_id: int) -> None:
        if str(batch_id) in committed_metas(state_log):
            return
        bspark = batch.sparkSession
        part = batch.groupBy(
            "event_type", F.to_date("ts").alias("day")
        ).agg(F.count("*").cast("bigint").alias("x"))
        if current_version(state_log) is not None:
            prior = read_snapshot(bspark, state_log)
            part = (
                prior.unionByName(part)
                .groupBy("event_type", "day")
                .agg(F.sum("x").cast("bigint").alias("x"))
            )
        write_snapshot(part, state_log, meta=str(batch_id))

    with scratch_dir("graft_sewma_") as base:
        state_log = os.path.join(base, "state")
        # mid-DAY cut: day 16's count must merge across two batches
        cut = "2024-01-16 12:00:00"
        waves = [ev.filter(F.col("ts") < cut), ev.filter(F.col("ts") >= cut)]
        run_to_end(
            wave_stream(base, waves).writeStream.foreachBatch(handle_batch),
            base,
        )
        out = _ewma_chart(read_snapshot(spark, state_log))
        return out.localCheckpoint(eager=True)


def q_streaming_ttl_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 + §2.10: TTL-WINDOWED streaming near-dup — the
    incremental MinHash signature store with an EVENT-TIME TTL
    eviction policy: new documents dedup against only the trailing
    15-day signature window, so state stays BOUNDED on an unbounded
    feed (the production shape for contamination-fresh corpora — a
    doc republished after the freshness horizon is, by policy, new).

    Topology: documents carry a deterministic event day
    (doc_id % 30 — synthetic, oracle-mirrorable) and arrive in three
    10-day waves. foreachBatch (1) computes the batch watermark
    W = max(event day), (2) EVICTS store signatures with
    day <= W − TTL — physically, via the two-step swap, so the store
    on disk is the bounded window, not an ever-growing log with a
    read filter, (3) screens the batch against the surviving window
    (text/dedup.py::incremental_minhash_dedup — only the batch is
    shingled), and (4) appends the batch's own dated signatures.
    Per-batch cost is O(|batch| + |window|), and |window| is bounded
    by the TTL whatever the feed's age — the property the pytest
    pins by asserting the store's day span never exceeds the TTL.
    Eviction is monotone (watermarks only grow), so the cumulative
    physical eviction equals the latest filter and the batch oracle
    can mirror it per wave: a collision survives iff the old doc's
    day is inside the new doc's wave watermark window."""
    from aproximacion_1_etl_spark.text.dedup import (
        assert_watermark_monotone,
        ttl_window_dedup_fold,
    )

    ttl_days = 15
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        (F.col("doc_id") % 30).cast("bigint").alias("event_day"),
    )

    def handle_batch(batch, batch_id: int) -> None:
        bspark = batch.sparkSession
        prior = (
            bspark.read.parquet(store) if os.path.isdir(store) else None
        )
        # out-of-order wave delivery (mtime ordering is an engine
        # implementation detail) must fail loud, not silently drift
        # the TTL eviction — see text/dedup.py::assert_watermark_monotone
        assert_watermark_monotone(batch, prior)
        hits, next_store = ttl_window_dedup_fold(batch, prior, ttl_days)
        if hits is not None:
            hits.write.mode("append").parquet(result)
        # two-step swap: next_store READS the store it replaces
        next_store.write.mode("overwrite").parquet(store_next)
        bspark.read.parquet(store_next).write.mode("overwrite").parquet(
            store
        )

    with scratch_dir("graft_std_") as base:
        store = os.path.join(base, "store")
        store_next = os.path.join(base, "_store_next")
        result = os.path.join(base, "result")
        waves = [
            docs.filter(
                (F.col("event_day") >= 10 * i)
                & (F.col("event_day") < 10 * (i + 1))
            )
            for i in range(3)
        ]
        run_to_end(
            wave_stream(base, waves).writeStream.foreachBatch(handle_batch),
            base,
        )
        if not os.path.isdir(result):
            return spark.createDataFrame(
                [],
                "doc_new BIGINT, doc_old BIGINT, matching_bands BIGINT, "
                "est_jaccard DOUBLE",
            )
        return spark.read.parquet(result).localCheckpoint(eager=True)


def q_streaming_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 + §2.10: graph-metric maintenance AS A STREAM — the
    streaming sibling of ``incremental_graph_stats`` (same trio shape
    as batch/streaming profile and IVF append): capped co-order fact
    rows arrive in three date-ordered waves; foreachBatch builds the
    wave's canonical edges, anti-joins them against the persisted EDGE
    store to get the truly-new ones, folds degree + triangle deltas
    into the persisted per-node stats store
    (operators/graph.py::fold_graph_stats — history is touched only
    through its adjacency arrays, never re-enumerated wedge-wise), and
    appends the new edges. Wave 1 bootstraps the store with the
    degree-ordered bulk build (count_triangles) — the production
    split: bulk-build once, fold forever. Per-batch cost is
    O(|Δ|·d̄ + |store|); the final store must equal a from-scratch
    rebuild — the oracle IS that rebuild (same SQL as the batch key).
    The two-step stats swap (write aside, read back, overwrite) is the
    streaming_profile device: the fold READS the store it replaces;
    new edges are eagerly checkpointed before the append for the same
    reason."""
    import time as _time

    from aproximacion_1_etl_spark.operators.graph import (
        bulk_graph_stats,
        fold_graph_stats,
    )
    from .graph import (
        _canon_co_order_edges,
        _capped_order_parts,
        _graph_stats_top20,
    )

    op = _capped_order_parts(spark, sf_dir)

    def handle_batch(batch, batch_id: int) -> None:
        t0 = _time.time()
        bspark = batch.sparkSession
        be = _canon_co_order_edges(batch).localCheckpoint(eager=True)
        if os.path.isdir(edge_store):
            prior = bspark.read.parquet(edge_store)
            new = be.join(prior, ["u", "v"], "left_anti").localCheckpoint(
                eager=True
            )
            folded = fold_graph_stats(
                bspark.read.parquet(stats_store), prior, new
            )
        else:
            new = be
            folded = bulk_graph_stats(be)
        folded.write.mode("overwrite").parquet(stats_next)
        bspark.read.parquet(stats_next).write.mode("overwrite").parquet(
            stats_store
        )
        new.write.mode("append").parquet(edge_store)
        _record_fold("streaming_graph_stats", t0)

    with scratch_dir("graft_sgs_") as base:
        edge_store = os.path.join(base, "edges")
        stats_store = os.path.join(base, "stats")
        stats_next = os.path.join(base, "_stats_next")
        day = F.col("o_orderdate")
        waves = [
            op.filter(cond).select("l_orderkey", "l_partkey")
            for cond in (
                day < "1998-01-01",
                (day >= "1998-01-01") & (day < "2001-01-01"),
                day >= "2001-01-01",
            )
        ]
        run_to_end(
            wave_stream(base, waves).writeStream.foreachBatch(handle_batch),
            base,
        )
        out = _graph_stats_top20(spark.read.parquet(stats_store))
        return out.localCheckpoint(eager=True)


def q_streaming_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 + §2.10: dedup-CLUSTER maintenance AS A STREAM — the
    streaming twin of ``incremental_dup_clusters``, completing the
    batch/streaming trio the maintained-state family uses everywhere
    (profile, quantiles, IVF append, graph stats): documents arrive in
    three doc_id-band waves; foreachBatch (1) signatures ONLY the
    batch, (2) collects its LSH candidate pairs — collisions against
    the persisted SIGNATURE store plus within-batch pairs, (3) folds
    them into the persisted CLUSTER store
    (text/dedup.py::fold_dup_clusters — union-find on the contracted
    root graph; wave 1 bootstraps from the empty store, which the
    fold handles uniformly), and (4) appends the batch's signatures.
    Both stores swap/append via the established two-step devices. The
    final cluster store must equal the from-scratch clustering over
    the full corpus — the oracle IS that rebuild (dup_clusters SQL,
    shared with the batch twin), so hash equality proves the
    multi-wave fold converges to the rebuild whatever the wave
    boundaries."""
    import time as _time

    from aproximacion_1_etl_spark.text.dedup import (
        fold_dup_clusters,
        minhash_candidate_pairs,
        minhash_signatures,
        signature_collisions,
        word_shingles,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def handle_batch(batch, batch_id: int) -> None:
        t0 = _time.time()
        bspark = batch.sparkSession
        if os.path.isdir(sig_store):
            # RE-DELIVERY GUARD (r11 fold audit): a re-appended
            # signature row would DOUBLE the per-band match counts in
            # minhash_candidate_pairs' HAVING >= 2 rule — duplicate
            # sig rows manufacture candidate pairs. Same bounded
            # semi/anti device as the BM25 twins.
            prior_ids = bspark.read.parquet(sig_store)
            batch_ids = batch.select("doc_id").distinct()
            seen = (
                prior_ids.join(
                    F.broadcast(batch_ids), "doc_id", "left_semi"
                )
                .select("doc_id")
                .distinct()
            )
            batch = batch.join(F.broadcast(seen), "doc_id", "left_anti")
        bsigs = minhash_signatures(
            word_shingles(batch, distinct=False)
        ).localCheckpoint(eager=True)
        within = minhash_candidate_pairs(
            bsigs, min_matching_bands=2
        ).select("doc_a", "doc_b")
        if os.path.isdir(sig_store):
            prior_sigs = bspark.read.parquet(sig_store)
            vs_store = signature_collisions(
                bsigs, prior_sigs, min_matching_bands=2
            ).select(
                F.col("doc_new").alias("doc_a"),
                F.col("doc_old").alias("doc_b"),
            )
            pairs = vs_store.unionByName(within)
            store = bspark.read.parquet(cl_store).select(
                "doc_id", "cluster_id"
            )
        else:
            pairs = within
            store = bspark.createDataFrame(
                [], "doc_id BIGINT, cluster_id BIGINT"
            )
        folded = fold_dup_clusters(store, pairs)
        # two-step swap: the fold READS the store it replaces
        folded.write.mode("overwrite").parquet(cl_next)
        bspark.read.parquet(cl_next).write.mode("overwrite").parquet(
            cl_store
        )
        bsigs.write.mode("append").parquet(sig_store)
        _record_fold("streaming_dup_clusters", t0)

    with scratch_dir("graft_sdc_") as base:
        sig_store = os.path.join(base, "sigs")
        cl_store = os.path.join(base, "clusters")
        cl_next = os.path.join(base, "_clusters_next")
        waves = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
        run_to_end(
            wave_stream(base, waves).writeStream.foreachBatch(handle_batch),
            base,
        )
        out = spark.read.parquet(cl_store).select(
            "doc_id",
            "cluster_id",
            (F.col("doc_id") == F.col("cluster_id")).alias("keep"),
        )
        return out.localCheckpoint(eager=True)


def q_streaming_bm25_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 + §2.10: BM25 INDEX MAINTENANCE AS A STREAM — the
    streaming twin of ``incremental_bm25_index``, completing the BM25
    trio next to the cluster and graph trios: documents arrive in
    three doc_id-band waves; foreachBatch tokenizes ONLY the batch and
    folds it into the persisted index (text/analysis.py::
    fold_bm25_index — postings APPEND, the disjoint-doc-set property
    making an append-only postings store sufficient; per-term dfs and
    the 1-row exact-integer totals swap via the two-step device).
    After the last wave the standard queries score THROUGH the
    maintained index (bm25_score_from_index). Oracle = the from-
    scratch BM25 over the full corpus (bm25_topk SQL, shared with the
    batch twin) — hash equality proves the multi-wave fold reproduces
    the one-shot statistics bit-for-bit."""
    import time as _time

    from aproximacion_1_etl_spark.text.analysis import (
        BM25_QUERIES,
        bm25_index,
        bm25_score_from_index,
        fold_bm25_index,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def handle_batch(batch, batch_id: int) -> None:
        t0 = _time.time()
        bspark = batch.sparkSession
        if os.path.isdir(post_store):
            # RE-DELIVERY GUARD (uniform with the batch twin): drop
            # doc ids already in the persisted postings before the
            # fold — the checkpointed AvailableNow stream is
            # exactly-once in the happy path, but a wiped checkpoint
            # or an at-least-once source redelivers, and an additive
            # index must not double-count (fold_bm25_index's own
            # guard can't see the parquet store because the appended
            # postings are written here, not through the returned
            # union)
            prior_posts = bspark.read.parquet(post_store)
            batch_ids = batch.select("doc_id").distinct()
            seen = (
                prior_posts.join(
                    F.broadcast(batch_ids), "doc_id", "left_semi"
                )
                .select("doc_id")
                .distinct()
            )
            batch = batch.join(F.broadcast(seen), "doc_id", "left_anti")
            np_, df2, st2 = fold_bm25_index(
                # the fold only APPENDS new postings; pass the batch
                # postings through by folding against empty postings
                # and merging df/stats against the stores
                bspark.createDataFrame(
                    [], "doc_id BIGINT, term STRING, dl INT, tf BIGINT"
                ),
                bspark.read.parquet(df_store),
                bspark.read.parquet(stats_store),
                batch,
            )
        else:
            np_, df2, st2 = bm25_index(batch)
        # postings are append-only (doc sets disjoint across waves)
        np_.write.mode("append").parquet(post_store)
        # df / stats swap via write-aside (the fold reads the store
        # it replaces)
        df2.write.mode("overwrite").parquet(df_next)
        bspark.read.parquet(df_next).write.mode("overwrite").parquet(
            df_store
        )
        st2.write.mode("overwrite").parquet(stats_next)
        bspark.read.parquet(stats_next).write.mode("overwrite").parquet(
            stats_store
        )
        _record_fold("streaming_bm25_index", t0)

    with scratch_dir("graft_sbi_") as base:
        post_store = os.path.join(base, "postings")
        df_store = os.path.join(base, "df")
        df_next = os.path.join(base, "_df_next")
        stats_store = os.path.join(base, "stats")
        stats_next = os.path.join(base, "_stats_next")
        waves = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
        run_to_end(
            wave_stream(base, waves).writeStream.foreachBatch(handle_batch),
            base,
        )
        qrows = [
            (qid, t)
            for qid, terms in sorted(BM25_QUERIES.items())
            for t in sorted(set(terms))
        ]
        qdf = spark.createDataFrame(qrows, "query_id INT, term STRING")
        qterms = qdf.select("term").distinct()
        postings = spark.read.parquet(post_store)
        dff = spark.read.parquet(df_store)
        stats = spark.read.parquet(stats_store)
        out = bm25_score_from_index(
            postings.join(F.broadcast(qterms), "term"),
            dff.join(F.broadcast(qterms), "term"),
            stats.select(
                "n_docs",
                (
                    F.col("total_dl").cast("double") / F.col("n_docs")
                ).alias("avgdl"),
            ),
            qdf,
            k=10,
        )
        return out.localCheckpoint(eager=True)


def q_streaming_lm_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 + §2.10: TRIGRAM-LM MAINTENANCE AS A STREAM — the
    streaming twin of ``incremental_lm_index`` (r12 task 3; the LM
    was one of the two newest maintained stores still without one):
    documents arrive in three doc_id-band waves; foreachBatch
    trigram-counts ONLY the batch and folds it into the persisted
    (lang, tri, c3) model state through the DELIVERY-GUARDED fold
    (text/analysis.py::fold_lm_counts_guarded — a doc-id ledger
    relation persists next to the counts, so a re-delivered wave or a
    duplicate doc within one trigger folds as a bit-exact no-op).
    Both relations commit ATOMICALLY through the batch-versioned
    protocol (``_committed_batch_ids`` — ADVICE r12 #1: the old
    counts-then-ledger overwrite pair had a crash window between the
    two swaps in which a re-run double-counted the wave; now each
    trigger writes both relations to new ``_b{batch_id}`` dirs and
    flips one marker, and a replayed already-committed trigger is a
    pure no-op). After the last wave the full corpus is
    quality-scored THROUGH the maintained model via the shared
    scoring tail. Oracle = the one-shot ``lm_trigram_score`` SQL over
    the full corpus — hash equality proves the multi-wave guarded
    fold reproduces the from-scratch model bit-for-bit."""
    import time as _time

    from aproximacion_1_etl_spark.text.analysis import (
        _doc_tri_counts,
        fold_lm_counts_guarded,
        lm_score_from_counts,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )

    def handle_batch(batch, batch_id: int) -> None:
        t0 = _time.time()
        bspark = batch.sparkSession
        committed = _committed_batch_ids(base)
        if batch_id in committed:
            # replay of a committed trigger (crash after the marker,
            # before Spark's checkpoint commit): the committed
            # version stands
            return
        if committed:
            last = committed[-1]
            store = bspark.read.parquet(
                os.path.join(base, f"counts_b{last}")
            )
            seen = bspark.read.parquet(
                os.path.join(base, f"ledger_b{last}")
            )
        else:
            store = bspark.createDataFrame(
                [], "lang STRING, tri STRING, c3 BIGINT"
            )
            seen = bspark.createDataFrame([], "doc_id BIGINT")
        counts2, ledger2 = fold_lm_counts_guarded(store, seen, batch)
        # new version dirs — never overwrite what the fold reads, so
        # no write-aside roundtrip is needed any more
        counts2.write.mode("overwrite").parquet(
            os.path.join(base, f"counts_b{batch_id}")
        )
        ledger2.write.mode("overwrite").parquet(
            os.path.join(base, f"ledger_b{batch_id}")
        )
        _mark_batch_committed(base, batch_id)
        _record_fold("streaming_lm_index", t0)

    with scratch_dir("graft_sli_") as base:
        waves = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
        run_to_end(
            wave_stream(base, waves).writeStream.foreachBatch(handle_batch),
            base,
        )
        last = _committed_batch_ids(base)[-1]
        counts = spark.read.parquet(os.path.join(base, f"counts_b{last}"))
        out = lm_score_from_counts(_doc_tri_counts(docs), counts)
        return out.localCheckpoint(eager=True)


def q_streaming_weighted_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """§2.9 + §2.10: A-ES SAMPLE MAINTENANCE AS A STREAM — the
    streaming twin of ``incremental_weighted_sample`` (r13, VERDICT
    r12 task 5: with the forget edge landed, this closes the sample
    store's family symmetry — fold / forget / streaming twin, like
    every other maintained store). Documents arrive in three
    doc_id-band waves; foreachBatch scores ONLY the batch (A-ES
    scores are pure row functions, so the fold is order-independent —
    the cheapest twin of the family) and folds it into the persisted
    per-language top-25 sample through the RE-DELIVERY-GUARDED fold
    (functions/sampling.py::fold_weighted_sample — a batch key
    already stored, or duplicated within one trigger, is dropped
    before the union so it cannot enter twice with its identical
    score and evict a legitimate member). The single store relation
    commits through the batch-versioned protocol
    (``_committed_batch_ids``): each wave writes a new
    ``store_b{batch_id}`` dir + marker, so the fold never overwrites
    the version it reads and a replayed committed trigger is a pure
    no-op. Per-wave cost is O(|batch| + strata·k) — the window sees
    store ∪ scored(batch), never the corpus. Oracle = the one-shot
    ``weighted_sample`` SQL over the full corpus — hash equality
    proves the multi-wave fold reproduces the from-scratch sample
    bit-for-bit."""
    import time as _time

    from aproximacion_1_etl_spark.functions.sampling import (
        fold_weighted_sample,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )

    def handle_batch(batch, batch_id: int) -> None:
        t0 = _time.time()
        bspark = batch.sparkSession
        committed = _committed_batch_ids(base)
        if batch_id in committed:
            return  # replay of a committed trigger
        if committed:
            store = bspark.read.parquet(
                os.path.join(base, f"store_b{committed[-1]}")
            )
        else:
            store = bspark.createDataFrame(
                [],
                "doc_id BIGINT, lang STRING, n_chars BIGINT, "
                "sample_score DOUBLE",
            )
        folded = fold_weighted_sample(
            store,
            batch,
            key_col="doc_id",
            weight_col="n_chars",
            k=25,
            strata_col="lang",
        )
        folded.write.mode("overwrite").parquet(
            os.path.join(base, f"store_b{batch_id}")
        )
        _mark_batch_committed(base, batch_id)
        _record_fold("streaming_weighted_sample", t0)

    with scratch_dir("graft_sws_") as base:
        waves = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
        run_to_end(
            wave_stream(base, waves).writeStream.foreachBatch(handle_batch),
            base,
        )
        last = _committed_batch_ids(base)[-1]
        out = spark.read.parquet(
            os.path.join(base, f"store_b{last}")
        ).select(
            "lang",
            "doc_id",
            F.expr("floor(sample_score * 1000000.0 + 0.5) / 1000000.0")
            .alias("score"),
        )
        return out.localCheckpoint(eager=True)


def q_streaming_chunk_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 + §2.10: RAG CHUNK-INDEX MAINTENANCE AS A STREAM — the
    streaming twin of ``incremental_chunk_index`` (r12 task 3; the
    chunk index was the other maintained store without one):
    documents arrive in three doc_id-band waves; foreachBatch
    sentence-tokenizes ONLY the batch and folds it into BOTH halves
    of the persisted chunk index — pooled chunk VECTORS land in the
    vector half (pooling is corpus-independent, so batch rows are
    bit-identical to a full build's), and reconstructed chunk texts
    fold into the chunk-level BM25 half (postings append, dfs add,
    exact-integer totals). Re-delivery guard at the DOC level (the
    bm25 twin's device): batch doc ids anti-join the vector half's
    COMMITTED ids, making a re-delivered wave a no-op for both halves
    at once (chunk keys derive injectively from doc ids). All four
    relations commit ATOMICALLY through the batch-versioned protocol
    (``_committed_batch_ids`` — ADVICE r12 #2: the old layout
    appended the vector half first and keyed the guard on it, so a
    crash between the two halves made the re-run a no-op for the
    never-written BM25 half, permanently dropping the wave's
    postings; now the append halves write per-batch ``_b{batch_id}``
    dirs, the cumulative df/stats halves write new versions, and one
    marker commits all four — a replayed committed trigger is a pure
    no-op). After the last wave the digest joins both halves per
    chunk — the ``incremental_chunk_index`` output shape, sharing its
    from-scratch rebuild oracle: hash equality proves the multi-wave
    fold == rebuild for both halves."""
    import time as _time

    from aproximacion_1_etl_spark.queries.text import (
        _chunk_texts,
        _pooled_chunk_vectors,
    )
    from aproximacion_1_etl_spark.text.analysis import (
        bm25_index,
        fold_bm25_index,
    )
    from aproximacion_1_etl_spark.text.vector import _sql_dot

    budget = 25
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )

    def handle_batch(batch, batch_id: int) -> None:
        t0 = _time.time()
        bspark = batch.sparkSession
        committed = _committed_batch_ids(base)
        if batch_id in committed:
            # replay of a committed trigger: the committed version
            # stands for all four relations at once
            return
        batch = batch.dropDuplicates(["doc_id"])
        if committed:
            batch_ids = batch.select("doc_id").distinct()
            seen = (
                bspark.read.parquet(
                    *[os.path.join(base, f"vec_b{i}") for i in committed]
                )
                .join(F.broadcast(batch_ids), "doc_id", "left_semi")
                .select("doc_id")
                .distinct()
            )
            batch = batch.join(F.broadcast(seen), "doc_id", "left_anti")
        batch = batch.localCheckpoint(eager=False)
        pooled = _pooled_chunk_vectors(bspark, sf_dir, batch, budget)
        pooled.write.mode("overwrite").parquet(
            os.path.join(base, f"vec_b{batch_id}")
        )
        bct = _chunk_texts(batch, budget).select(
            F.col("ckey").alias("doc_id"), "text"
        )
        if committed:
            # doc-level guard above already enforced disjointness and
            # chunk keys derive injectively from doc ids — skip the
            # fold's own ckey-level guard (one store scan saved)
            last = committed[-1]
            np_, df2, st2 = fold_bm25_index(
                bspark.createDataFrame(
                    [], "doc_id BIGINT, term STRING, dl INT, tf BIGINT"
                ),
                bspark.read.parquet(os.path.join(base, f"df_b{last}")),
                bspark.read.parquet(
                    os.path.join(base, f"stats_b{last}")
                ),
                bct,
                id_col="doc_id",
                guard_redelivery=False,
            )
        else:
            np_, df2, st2 = bm25_index(bct)
        np_.write.mode("overwrite").parquet(
            os.path.join(base, f"post_b{batch_id}")
        )
        df2.write.mode("overwrite").parquet(
            os.path.join(base, f"df_b{batch_id}")
        )
        st2.write.mode("overwrite").parquet(
            os.path.join(base, f"stats_b{batch_id}")
        )
        _mark_batch_committed(base, batch_id)
        _record_fold("streaming_chunk_index", t0)

    with scratch_dir("graft_sci_") as base:
        waves = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
        run_to_end(
            wave_stream(base, waves).writeStream.foreachBatch(handle_batch),
            base,
        )
        committed = _committed_batch_ids(base)
        vecidx = spark.read.parquet(
            *[os.path.join(base, f"vec_b{i}") for i in committed]
        )
        postings = spark.read.parquet(
            *[os.path.join(base, f"post_b{i}") for i in committed]
        )
        dig = postings.groupBy("doc_id").agg(
            F.max("dl").cast("bigint").alias("dl"),
            F.count("*").cast("bigint").alias("n_terms"),
        ).select(F.col("doc_id").alias("ckey"), "dl", "n_terms")
        out = vecidx.join(dig, "ckey").select(
            "ckey",
            "doc_id",
            "chunk_id",
            "sent_start",
            "sent_end",
            "dl",
            "n_terms",
            _fround(
                F.expr(_sql_dot("embedding", "embedding")), 6
            ).alias("vv"),
        )
        return out.localCheckpoint(eager=True)


__all__ = [
    "q_streaming_lm_index",
    "q_streaming_chunk_index",
    "q_streaming_weighted_sample",
    "q_streaming_bm25_index",
    "q_streaming_dup_clusters",
    "q_streaming_ttl_dedup",
    "q_streaming_graph_stats",
    "q_streaming_profile",
    "q_streaming_quantiles",
    "q_streaming_stateful_sessions",
    "q_streaming_interval_join",
    "q_streaming_interval_join_outer",
    "q_streaming_interval_join_full",
    "q_streaming_dedup_keys",
    "q_streaming_windowed_counts",
    "q_streaming_session_window",
    "q_streaming_sliding_counts",
    "q_streaming_static_enrich",
    "q_streaming_dedup_watermarked",
    "q_streaming_incremental_dedup",
    "q_streaming_ivm_join",
    "q_rest_stream_ingest",
    "q_streaming_dedup_watermark",
    "q_streaming_ivf_append",
    "q_streaming_fingerprint_maintenance",
    "q_streaming_cusum_monitor",
    "q_streaming_max_concurrency",
    "q_streaming_forget_user",
    "q_streaming_merge_on_read",
    "q_streaming_hll_maintenance",
    "q_streaming_cms_maintenance",
    "q_streaming_changepoint",
    "q_streaming_ewma_monitor",
]
