"""Shared helpers for the query catalog (mechanically moved from the
monolithic queries.py — every segment below is verbatim)."""


from __future__ import annotations

import os
import time
from collections.abc import Callable
from typing import Any

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from aproximacion_1_etl_spark.functions.rounding import _fround
from aproximacion_1_etl_spark.operators.graph import (
    array_combinations,
    both_orientations,
    canonical_edges,
)
from aproximacion_1_etl_spark.sources.tables import load_table
from aproximacion_1_etl_spark.streaming.harness import (
    run_to_end,
    scratch_dir,
    wave_stream,
)


_fmt = "yyyy-MM-dd HH:mm:ss"


def _dsum(expr, scale: int = 2):
    """Deterministic money sum: cast each double to decimal before
    summing so the result is independent of partition/summation order
    (and identical across engines), then back to double, floor-rounded."""
    return _fround(F.sum(expr.cast("decimal(30,8)")).cast("double"), scale)


def _ts_str(col) -> F.Column:
    return F.date_format(col, _fmt)


# The artifact registry: the one memo for trained models and simulated
# persisted stores. _ARTIFACTS holds one (stamp, value) slot per
# (name, sf_dir); BUILD_SECS is the build ledger, artifact name -> wall
# seconds of its latest build in this process.
_ARTIFACTS: dict[tuple[str, str], tuple[tuple, Any]] = {}
BUILD_SECS: dict[str, float] = {}


def _table_mtime(sf_dir: str, table: str) -> float:
    """Newest mtime of a source table's parquet files; -1 for a
    missing table, so the build's own read raises the real error."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    try:
        if os.path.isdir(path):
            return max(
                (os.path.getmtime(os.path.join(path, f))
                 for f in os.listdir(path)),
                default=os.path.getmtime(path),
            )
        return os.path.getmtime(path)
    except OSError:
        return -1.0


def artifact(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    tables: list[str],
    build: Callable[[], Any],
) -> Any:
    """Build-once artifact ``name`` over ``sf_dir``: a trained model
    or a simulated persisted store, which production builds once per
    corpus and ships to every consumer.

    The memo keys on the mtime of every table in ``tables``, so a
    regenerated table rebuilds instead of serving a stale artifact;
    ``tables`` must list every table ``build`` reads, nested artifacts
    included. It also keys on the application id: DataFrame artifacts
    are checkpoints owned by one SparkContext, and a restarted session
    must rebuild rather than touch a dead RDD. A hit returns the same
    object. The build's Spark jobs carry the job tag ``build:<name>``
    (a tag, so the caller's job group survives) and its wall seconds
    land in ``BUILD_SECS``. Builds are deterministic, so the memo
    never changes a result, and two threads that miss at once only
    build twice."""
    sc = spark.sparkContext
    stamp = (
        tuple(_table_mtime(sf_dir, t) for t in tables),
        sc.applicationId,
    )
    slot = _ARTIFACTS.get((name, sf_dir))
    if slot is not None and slot[0] == stamp:
        return slot[1]
    tag = f"build:{name}"
    sc.addJobTag(tag)
    t0 = time.perf_counter()
    try:
        value = build()
    finally:
        sc.removeJobTag(tag)
    BUILD_SECS[name] = round(time.perf_counter() - t0, 3)
    _ARTIFACTS[(name, sf_dir)] = (stamp, value)
    return value


def _embedding_corpus(
    spark: SparkSession, sf_dir: str, corpus: str
) -> DataFrame:
    """The named embeddings slices the vector artifacts train on:

    - ``full``: the whole table;
    - ``history``: vec_id % 4 != 0, 'yesterday's index' that the
      append keys add today's batch to;
    - ``half``: vec_id % 2 == 0, the aging store slice of the retrain
      keys;
    - ``retrain``: the half slice plus the vec_id % 8 in {1,3,5}
      backlog, the appended corpus whose drift flips
      q_ivf_retrain_plan's verdict;
    - ``drift``: _pq_drift_corpus, the PQ retrain pair's appended
      corpus with negated waves."""
    if corpus == "drift":
        return _pq_drift_corpus(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("vec_id")
    if corpus == "full":
        return emb
    if corpus == "history":
        return emb.filter(v % 4 != 0)
    if corpus == "half":
        return emb.filter(v % 2 == 0)
    if corpus == "retrain":
        return emb.filter((v % 2 == 0) | (v % 8).isin(1, 3, 5))
    raise ValueError(f"unknown embeddings corpus {corpus!r}")


def _document_corpus(
    spark: SparkSession, sf_dir: str, corpus: str
) -> DataFrame:
    """The named documents slices the text stores build over:
    ``full``, or ``history`` (doc_id % 4 != 0), the existing corpus
    that the incremental keys fold the daily batch (doc_id % 4 == 0)
    into."""
    docs = load_table(spark, sf_dir, "documents")
    if corpus == "full":
        return docs
    if corpus == "history":
        return docs.filter(F.col("doc_id") % 4 != 0)
    raise ValueError(f"unknown documents corpus {corpus!r}")


def _hist_bucket(value, lo: float, width: float, n_b: int):
    """THE bucket-assignment expression for the equi-width histogram
    state: least(n_b, floor((v - lo)/width) + 1), pure IEEE arithmetic
    so every engine (and every batch of a stream) buckets identically.
    One definition shared by the batch, incremental, and streaming
    quantile keys — the geometry cannot drift between them."""
    return F.least(
        F.lit(n_b),
        (F.floor((value - F.lit(lo)) / F.lit(width)) + 1).cast("int"),
    )


def _cum_hist(merged: DataFrame) -> DataFrame:
    """Cumulative walk over a merged (bucket, n) histogram state: adds
    ``cum`` and ``cum_before``. A window over |bins| rows — bounded,
    single light task."""
    w_cum = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return merged.withColumn("cum", F.sum("n").over(w_cum)).withColumn(
        "cum_before", F.col("cum") - F.col("n")
    )


def _histogram_quantile_report(
    cum: DataFrame,
    exact_src: DataFrame,
    lo: float,
    width: float,
    total: int,
) -> DataFrame:
    """Shared render step of the mergeable-quantile keys: interpolate
    p50/p90/p99 from a cumulative histogram state (``cum``: bucket, n,
    cum, cum_before) and emit (q, exact_value, est_ok) — exact from a
    ``percentile`` reference aggregate over ``exact_src.value``.

    The bound behind est_ok is the one the bucket geometry actually
    GUARANTEES: for rank r = q*(n-1)+1, the order statistics x_floor(r)
    and x_ceil(r) land in buckets b1 <= b <= b2 where b is the located
    bucket (cum_before < r <= cum), so the estimate satisfies
    x_floor(r) - width <= est <= x_ceil(r) + width for ANY data
    distribution. A naive |est - exact| <= k*width claim is false for
    gapped/bimodal data (the interpolated exact can sit in an empty
    region many buckets from both order statistics); this one is
    provable, so the oracle's est_ok=TRUE is a theorem, not a fixture
    property.

    The exact side stays LAZY: the nine percentile fractions depend
    only on ``total`` (a driver scalar the caller already holds from
    its state), so the reference aggregate rides the final action as a
    1-row crossJoin — no eager .first() and no extra scan of
    ``exact_src`` (measured: an eager exact side doubled the key)."""
    import math

    spark = cum.sparkSession
    qs = [0.5, 0.9, 0.99]
    fracs = []
    for q in qs:
        r = q * (total - 1) + 1.0
        if total > 1:
            fracs += [
                (math.floor(r) - 1.0) / (total - 1),
                (math.ceil(r) - 1.0) / (total - 1),
            ]
        else:
            fracs += [0.0, 0.0]
    # one source of truth for the (q, frac_lo, frac_hi) interleave —
    # the element_at stride below (i*3 + 1..3) indexes this layout
    arr = ", ".join(
        f"{float(p)!r}D"
        for i, q in enumerate(qs)
        for p in (q, fracs[2 * i], fracs[2 * i + 1])
    )
    ex_agg = exact_src.agg(
        F.expr(f"percentile(value, array({arr}))").alias("ex")
    )
    qpos = spark.createDataFrame(
        [(q, i) for i, q in enumerate(qs)], "q DOUBLE, i INT"
    )
    exact = ex_agg.crossJoin(F.broadcast(qpos)).select(
        "q",
        F.element_at("ex", F.col("i") * 3 + 1).alias("exact_value"),
        F.element_at("ex", F.col("i") * 3 + 2).alias("ex_lo"),
        F.element_at("ex", F.col("i") * 3 + 3).alias("ex_hi"),
    )
    # continuous rank r = p*(n-1)+1 over the merged counts; the one
    # bucket with cum_before < r <= cum holds it
    r = F.col("q") * F.lit(float(total - 1)) + F.lit(1.0)
    located = (
        cum.crossJoin(F.broadcast(exact))
        .filter((F.col("cum_before") < r) & (r <= F.col("cum")))
        .select(
            "q",
            "exact_value",
            "ex_lo",
            "ex_hi",
            (
                F.lit(lo)
                + (F.col("bucket") - 1) * F.lit(width)
                + (r - F.col("cum_before")) / F.col("n") * F.lit(width)
            ).alias("est"),
        )
    )
    tol = F.lit(width + 1e-6)
    return located.select(
        "q",
        _fround(F.col("exact_value"), 4).alias("exact_value"),
        (
            (F.col("est") >= F.col("ex_lo") - tol)
            & (F.col("est") <= F.col("ex_hi") + tol)
        ).alias("est_ok"),
    )


def _trained_codebook(
    spark: SparkSession, sf_dir: str, corpus: str = "full"
) -> dict[int, list[float]]:
    """Train-once-per-corpus IVF codebook over the named embeddings
    slice (_embedding_corpus). The codebook is a model artifact: in
    production it is trained once and shipped to every consumer, so
    the ann and semantic-dedup keys sharing one training run is the
    honest cost model, not a bench trick. The ``history`` codebook is
    the index the append keys add to; ``half`` is the aging index
    q_ivf_retrain_plan measures drift against; ``retrain`` is what
    executing that retrain decision produces."""

    def build() -> dict[int, list[float]]:
        from aproximacion_1_etl_spark.text.vector import (
            derive_n_centroids,
            train_ivf_centroids,
        )

        emb = _embedding_corpus(spark, sf_dir, corpus)
        return train_ivf_centroids(
            emb, n_centroids=derive_n_centroids(emb.count()), iterations=3
        )

    return artifact(
        spark, sf_dir, f"ivf_codebook_{corpus}", ["embeddings"], build
    )


def _orders_cdc(
    o: DataFrame, cut: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The shared orders CDC fixture for the IVM keys (ivm_join,
    ivm_join_rollup, streaming_ivm_join — their oracle SQL encodes the
    same scheme): facts dated >= ``cut`` are INSERTS, pre-cut facts
    with orderkey %89 (and not %97) are price-bump UPDATES, pre-cut
    %97 facts are DELETES. One definition so query and oracle cannot
    drift independently per key. Returns (inserts, updates, deletes),
    each carrying op='U'/'D'."""
    old_facts = o.filter(F.col("o_orderdate") < cut)
    inserts = o.filter(F.col("o_orderdate") >= cut).withColumn(
        "op", F.lit("U")
    )
    updates = (
        old_facts.filter(
            (F.col("o_orderkey") % 89 == 0)
            & (F.col("o_orderkey") % 97 != 0)
        )
        .withColumn("o_totalprice", F.col("o_totalprice") + 1)
        .withColumn("op", F.lit("U"))
    )
    deletes = old_facts.filter(F.col("o_orderkey") % 97 == 0).withColumn(
        "op", F.lit("D")
    )
    return inserts, updates, deletes


def _trained_pq_books(
    spark: SparkSession, sf_dir: str, corpus: str = "full"
) -> dict:
    """Train-once-per-corpus PQ subspace codebooks over the named
    embeddings slice (_embedding_corpus), seeded from that slice's own
    first ids. ``half`` is the aging books ('yesterday's codes') whose
    ADC ranking q_pq_retrain_execute measures against ``drift``, the
    retrain over the drifted appended corpus."""

    def build() -> dict:
        from aproximacion_1_etl_spark.text.vector import train_pq_codebooks

        return train_pq_codebooks(
            _embedding_corpus(spark, sf_dir, corpus),
            m=8, n_centroids=16, iterations=3,
        )

    return artifact(
        spark, sf_dir, f"pq_books_{corpus}", ["embeddings"], build
    )


def _pq_drift_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DRIFTED appended corpus of the PQ retrain pair — the store
    slice (vec_id % 2 == 0) plus the vec_id % 8 in {1,3,5} append
    waves with NEGATED vectors: the waves land in an embedding region
    the aging subspace centroids never tiled (a new encoder version /
    new domain — the drift PQ retraining exists for). Negation is
    exact in IEEE, so the shift is bit-portable to the oracle's
    list_transform mirror. ONE definition shared by the retrained-
    books builder and the measuring key so training corpus and
    measured corpus cannot drift apart."""
    emb = load_table(spark, sf_dir, "embeddings")
    store = emb.select("vec_id", "embedding")
    waves = emb.filter(
        (F.col("vec_id") % 2 != 0) & (F.col("vec_id") % 8).isin(1, 3, 5)
    ).select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"), lambda x: -x
        ).alias("embedding"),
    )
    return store.filter(F.col("vec_id") % 2 == 0).unionByName(waves)


def _trained_bpe_merges(
    spark: SparkSession, sf_dir: str
) -> list[tuple[str, str]]:
    """Train-once-per-corpus BPE merge table: the tokenizer is a model
    artifact trained once and shipped to every consumer, the same cost
    model as the IVF codebook."""

    def build() -> list[tuple[str, str]]:
        from aproximacion_1_etl_spark.text.analysis import bpe_train_merges

        docs = load_table(spark, sf_dir, "documents")
        return [
            (r["p1"], r["p2"])
            for r in bpe_train_merges(docs, n_merges=8).collect()
        ]

    return artifact(spark, sf_dir, "bpe_merges", ["documents"], build)


BLOCKLIST_DOMAINS = ["src3.example.com", "src7.example.com", "bad.example.org"]


def _run_streaming_max_concurrency(
    spark: SparkSession, ev: DataFrame, split_day: str
) -> DataFrame:
    """Two-wave foreachBatch sweep-line maintenance over ``ev``
    (event_id, ts, event_type); see q_streaming_max_concurrency."""

    def _latest_summary(bspark):
        if not os.path.isdir(summary_log):
            return None
        return (
            bspark.read.parquet(summary_log)
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

    def _latest_tail(bspark):
        if not os.path.isdir(tail_log):
            return None
        # the authoritative "latest batch" comes from the SUMMARY log:
        # a batch whose new tail is EMPTY writes zero tail rows, so
        # max(batch_id) over the tail itself would resurrect an older
        # batch's tail whose deltas were already folded into the
        # summary (a double count)
        mx = (
            bspark.read.parquet(summary_log)
            .agg(F.max("batch_id"))
            .collect()[0][0]
        )
        t = bspark.read.parquet(tail_log)
        return t.filter(F.col("batch_id") == mx).drop("batch_id")

    def handle_batch(batch, batch_id: int) -> None:
        bspark = batch.sparkSession
        iv = batch.select(
            "event_type",
            F.col("ts").alias("s"),
            F.expr(
                "ts + make_dt_interval(0, 0, 0, "
                "CAST(60 + event_id % 240 AS DOUBLE))"
            ).alias("e"),
        )
        bd = (
            iv.select("event_type", F.col("s").alias("t"), F.lit(1).alias("d"))
            .unionByName(
                iv.select(
                    "event_type", F.col("e").alias("t"), F.lit(-1).alias("d")
                )
            )
            .groupBy("event_type", "t")
            .agg(F.sum("d").cast("bigint").alias("delta"))
        )
        prior = _latest_summary(bspark)
        tail = _latest_tail(bspark)
        if tail is not None:
            bd = (
                bd.unionByName(tail)
                .groupBy("event_type", "t")
                .agg(F.sum("delta").cast("bigint").alias("delta"))
            )
        # watermark cutoff: waves are day-ordered, intervals <= 300 s,
        # so no future boundary can land before the day after this
        # batch's max start day. An EMPTY batch has no max day — the
        # event-time watermark made no progress, so finalize nothing
        # and carry the whole merged tail forward (a NULL cutoff would
        # silently drop every parked delta: both t < NULL and
        # t >= NULL are false).
        max_day = iv.agg(F.max(F.to_date("s"))).collect()[0][0]
        if max_day is None:
            fin = bd.filter(F.lit(False))
            new_tail = bd
        else:
            cutoff = (
                F.lit(str(max_day)).cast("date") + F.expr("INTERVAL 1 DAY")
            ).cast("timestamp")
            fin = bd.filter(F.col("t") < cutoff)
            new_tail = bd.filter(F.col("t") >= cutoff)

        # keys never seen before (first batch, or a type debuting in a
        # later wave) start from zero state
        keys = bd.select("event_type").distinct()
        zero = keys.select(
            "event_type",
            F.lit(0).cast("bigint").alias("offset"),
            F.lit(None).cast("bigint").alias("peak"),
            F.lit(None).cast("timestamp").alias("peak_at"),
            F.lit(0).cast("bigint").alias("n_intervals"),
        )
        if prior is None:
            prior = zero
        else:
            prior = prior.unionByName(
                zero.join(prior, "event_type", "left_anti")
            )
        wrun = (
            Window.partitionBy("event_type")
            .orderBy("t")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        run = (
            fin.join(prior.select("event_type", "offset"), "event_type")
            .withColumn(
                "running", F.col("offset") + F.sum("delta").over(wrun)
            )
        )
        wb = Window.partitionBy("event_type").orderBy(
            F.col("running").desc(), F.col("t").asc()
        )
        chunk_best = (
            run.withColumn("_rn", F.row_number().over(wb))
            .filter(F.col("_rn") == 1)
            .select(
                "event_type",
                F.col("running").alias("c_peak"),
                F.col("t").alias("c_at"),
            )
        )
        fin_sums = fin.groupBy("event_type").agg(
            F.sum("delta").cast("bigint").alias("fin_delta")
        )
        n_new = iv.groupBy("event_type").agg(
            F.count("*").cast("bigint").alias("n_new")
        )
        upd = (
            prior.join(chunk_best, "event_type", "left")
            .join(fin_sums, "event_type", "left")
            .join(n_new, "event_type", "left")
            .select(
                "event_type",
                (
                    F.col("offset") + F.coalesce("fin_delta", F.lit(0))
                ).alias("offset"),
                # better chunk peak wins; ties keep the EARLIER instant
                F.when(
                    F.col("peak").isNull()
                    | (F.col("c_peak") > F.col("peak")),
                    F.col("c_peak"),
                )
                .otherwise(F.col("peak"))
                .alias("peak"),
                F.when(
                    F.col("peak").isNull()
                    | (F.col("c_peak") > F.col("peak")),
                    F.col("c_at"),
                )
                .otherwise(F.col("peak_at"))
                .alias("peak_at"),
                (
                    F.col("n_intervals") + F.coalesce("n_new", F.lit(0))
                ).alias("n_intervals"),
            )
        )
        upd.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(summary_log)
        new_tail.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(tail_log)

    with scratch_dir("graft_smc_") as base:
        summary_log = os.path.join(base, "summary")
        tail_log = os.path.join(base, "tail")
        waves = [
            ev.filter(F.col("ts").cast("date") < split_day),
            ev.filter(F.col("ts").cast("date") >= split_day),
        ]
        run_to_end(
            wave_stream(base, waves).writeStream.foreachBatch(handle_batch),
            base,
        )

        # end-of-stream flush: fold the remaining tail (cutoff = inf)
        summ = _latest_summary(spark)
        tail = _latest_tail(spark)
        wrun = (
            Window.partitionBy("event_type")
            .orderBy("t")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        wb = Window.partitionBy("event_type").orderBy(
            F.col("running").desc(), F.col("t").asc()
        )
        tail_best = (
            tail.join(summ.select("event_type", "offset"), "event_type")
            .withColumn(
                "running", F.col("offset") + F.sum("delta").over(wrun)
            )
            .withColumn("_rn", F.row_number().over(wb))
            .filter(F.col("_rn") == 1)
            .select(
                "event_type",
                F.col("running").alias("c_peak"),
                F.col("t").alias("c_at"),
            )
        )
        final = (
            summ.join(tail_best, "event_type", "left")
            .select(
                "event_type",
                "n_intervals",
                F.when(
                    F.col("c_peak").isNotNull()
                    & (
                        F.col("peak").isNull()
                        | (F.col("c_peak") > F.col("peak"))
                    ),
                    F.col("c_peak"),
                )
                .otherwise(F.col("peak"))
                .alias("peak_concurrency"),
                F.when(
                    F.col("c_peak").isNotNull()
                    & (
                        F.col("peak").isNull()
                        | (F.col("c_peak") > F.col("peak"))
                    ),
                    F.col("c_at"),
                )
                .otherwise(F.col("peak_at"))
                .alias("peak_at"),
            )
            .select(
                "event_type",
                "n_intervals",
                "peak_concurrency",
                F.date_format("peak_at", "yyyy-MM-dd HH:mm:ss").alias(
                    "peak_at"
                ),
            )
            .orderBy("event_type")
        )
        return final.localCheckpoint(eager=True)


def _logreg_feats(spark: SparkSession, sf_dir: str):
    from aproximacion_1_etl_spark.text.vector import _as_double

    emb = _as_double(load_table(spark, sf_dir, "embeddings"), "embedding")
    return emb.select(
        "vec_id",
        F.when(F.col("label") < 5, 1.0).otherwise(0.0).alias("y"),
        F.element_at("embedding", 1).alias("x1"),
        F.element_at("embedding", 2).alias("x2"),
        F.element_at("embedding", 3).alias("x3"),
    )


def _trained_logreg_weights(spark: SparkSession, sf_dir: str) -> list[float]:
    """Train-once-per-corpus logreg weight vector (the same cost model
    as the IVF codebook)."""

    def build() -> list[float]:
        from aproximacion_1_etl_spark.operators.ml import (
            logistic_regression_gd,
        )

        return logistic_regression_gd(
            _logreg_feats(spark, sf_dir).select("y", "x1", "x2", "x3"),
            ["x1", "x2", "x3"],
            iterations=12,
            lr=2.0,
        )

    return artifact(spark, sf_dir, "logreg_weights", ["embeddings"], build)


def _logreg_scored(spark: SparkSession, sf_dir: str):
    """Shared eval relation: the GD-trained model's probability and
    label per embedding row (weights driver-held like the codebook;
    p snapped to 9 dp so sub-ulp exp() differences can never cross a
    bin or rank boundary). Deterministic, so the memo never changes a
    result."""
    feats = _logreg_feats(spark, sf_dir)
    w = _trained_logreg_weights(spark, sf_dir)
    z = (
        F.lit(0.0)
        + F.lit(w[0]) * F.lit(1.0)
        + F.lit(w[1]) * F.col("x1")
        + F.lit(w[2]) * F.col("x2")
        + F.lit(w[3]) * F.col("x3")
    )
    return feats.select(
        "vec_id",
        "y",
        _fround(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 9).alias("p"),
    )


def _hll_trailing_report(daily: DataFrame, ev_day: DataFrame) -> DataFrame:
    """THE trailing-7-day render shared by the batch and streaming
    daily-sketch keys (their oracles are aliased to the same SQL, so
    the Spark sides must be one definition too — the _hist_bucket
    principle): ``daily`` is the sketch state (event_type, day, sk),
    ``ev_day`` the raw (event_type, day, user_id) facts used ONLY for
    the driver-checkable exact side. Estimate = hll_union_agg over a
    RANGE window of <= 7 sketch rows; est_ok asserts the estimate is
    within max(2, 5%) of exact."""
    d = daily.withColumn(
        "d_num", F.datediff("day", F.lit("1970-01-01").cast("date"))
    )
    w7 = Window.partitionBy("event_type").orderBy("d_num").rangeBetween(-6, 0)
    est = d.select(
        "event_type",
        "day",
        F.hll_sketch_estimate(F.hll_union_agg("sk").over(w7)).alias("est"),
    )
    # exact side — verification only; a production run emits `est`
    exact = (
        d.select("event_type", "day")
        .alias("d")
        .join(
            ev_day.alias("e"),
            (F.col("e.event_type") == F.col("d.event_type"))
            & (
                F.col("e.day").between(
                    F.date_sub(F.col("d.day"), 6), F.col("d.day")
                )
            ),
        )
        .groupBy(
            F.col("d.event_type").alias("event_type"),
            F.col("d.day").alias("day"),
        )
        .agg(F.countDistinct("e.user_id").alias("n_exact"))
    )
    return est.join(exact, ["event_type", "day"]).select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("n_exact").cast("bigint").alias("n_exact"),
        (
            F.abs(F.col("est") - F.col("n_exact"))
            <= F.greatest(F.lit(2.0), F.lit(0.05) * F.col("n_exact"))
        ).alias("est_ok"),
    )


def _customer_cdc_waves(c: DataFrame) -> tuple[DataFrame, DataFrame]:
    """THE two customer CDC delta batches shared by merge_on_read and
    streaming_merge_on_read (whose oracle is aliased to the same SQL —
    the constants below are hard-coded there, so exactly one Spark-side
    definition may exist): wave 1 bumps nation-5 balances 10%; wave 2
    deletes the %97 key slice (minus rows it re-upserts — batches are
    key-unique) and re-zeroes the nation-5 %3 sub-segment. Both carry
    an ``op`` column ('U'/'D')."""
    w1 = c.filter(F.col("c_nationkey") == 5).select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        (F.col("c_acctbal") * F.lit(1.1)).alias("c_acctbal"),
        F.lit("U").alias("op"),
    )
    reup = (F.col("c_nationkey") == 5) & (F.col("c_custkey") % 3 == 0)
    w2 = (
        c.filter((F.col("c_custkey") % 97 == 0) & ~reup)
        .select(
            "c_custkey",
            "c_name",
            "c_nationkey",
            "c_acctbal",
            F.lit("D").alias("op"),
        )
        .unionByName(
            c.filter(reup).select(
                "c_custkey",
                "c_name",
                "c_nationkey",
                F.lit(-1.0).alias("c_acctbal"),
                F.lit("U").alias("op"),
            )
        )
    )
    return w1, w2


def prefix_filter_pairs(docs: DataFrame, t: float) -> DataFrame:
    """The prefix-filtering pipeline behind q_prefix_filter_join,
    exposed for property testing: docs (doc_id, lang, source, text) ->
    all intra-(lang, source) pairs with token-set Jaccard >= t, found
    via rarity-ordered prefix candidates and exact verification —
    guaranteed complete (no false negatives)."""
    toks = (
        docs.select(
            "doc_id",
            "lang",
            "source",
            F.explode(F.split(F.lower("text"), " ")).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .distinct()
    )
    freq = toks.groupBy("tok").agg(F.count("*").alias("n"))
    per_doc = (
        toks.join(freq, "tok")
        .groupBy("doc_id", "lang", "source")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("n", "tok"))
            ).alias("arr")
        )
        .withColumn("n_tok", F.size("arr"))
        .withColumn(
            "p",
            F.col("n_tok") - F.ceil(F.lit(t) * F.col("n_tok")) + 1,
        )
        .withColumn(
            "toks",
            F.transform(F.col("arr"), lambda x: x["tok"]),
        )
    )
    prefix = per_doc.select(
        "doc_id",
        "lang",
        "source",
        "n_tok",
        "toks",
        F.explode(F.slice("arr", 1, F.col("p"))).alias("pt"),
    ).select(
        "doc_id",
        "lang",
        "source",
        "n_tok",
        "toks",
        F.col("pt.tok").alias("tok"),
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_tok").alias("na"),
            F.col("b.n_tok").alias("nb"),
            F.col("a.toks").alias("ta"),
            F.col("b.toks").alias("tb"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    ni = F.size(F.array_intersect("ta", "tb"))
    jac = ni / (F.col("na") + F.col("nb") - ni).cast("double")
    return (
        cand.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= t)
        .select(
            "doc_a",
            "doc_b",
            _fround(F.col("jaccard"), 4).alias("jaccard"),
        )
    )


def fk_report(
    checks: list[tuple[str, str, DataFrame, str, DataFrame, str]],
) -> DataFrame:
    """Referential-integrity audit over (label_fk, label_pk, child,
    fk_col, parent, pk_col) checks — each child table is scanned ONCE
    for ALL of its checks: its FK columns are left-joined against the
    parents' (broadcastable, distinct) key sets with per-check hit
    indicators, and one aggregation counts rows plus per-check
    missing-indicator orphans; a ``stack`` unpivots the single-row
    result into one report row per check. A NULL fk never matches its
    key set, so it counts as an orphan — identical to the anti-join /
    NOT EXISTS semantics. This is the FK validation a MERGE chain
    needs BEFORE it trusts its keys (the reference's SPs join on them
    blindly); at 100 TB the fact table is the dominant cost and is
    read exactly once per audit (a huge parent's key set would ride a
    Bloom filter first — the bloom_prune_join machinery)."""
    by_child: dict[int, tuple[DataFrame, list]] = {}
    order = []
    for chk in checks:
        k = id(chk[2])
        if k not in by_child:
            by_child[k] = (chk[2], [])
            order.append(k)
        by_child[k][1].append(chk)
    outs = []
    for k in order:
        child, chks = by_child[k]
        fks = list(dict.fromkeys(c[3] for c in chks))
        df = child.select(*fks)
        aggs = [F.count("*").cast("bigint").alias("n_child")]
        for i, (_fk_l, _pk_l, _c, fk, parent, pk) in enumerate(chks):
            ind = f"_hit_{i}"
            keys = (
                parent.select(F.col(pk).alias(fk))
                .distinct()
                .withColumn(ind, F.lit(1))
            )
            df = df.join(F.broadcast(keys), fk, "left")
            aggs.append(
                F.count(F.when(F.col(ind).isNull(), 1))
                .cast("bigint")
                .alias(f"_orph_{i}")
            )
        def _q(s: str) -> str:  # SQL string literal, quote-safe
            return "'" + s.replace("'", "''") + "'"

        stacked = ", ".join(
            f"{_q(fk_l)}, {_q(pk_l)}, _orph_{i}"
            for i, (fk_l, pk_l, *_rest) in enumerate(chks)
        )
        outs.append(
            df.agg(*aggs).select(
                F.expr(
                    f"stack({len(chks)}, {stacked})"
                    " AS (fk, parent, n_orphans)"
                ),
                "n_child",
            ).select(
                "fk",
                "parent",
                "n_child",
                "n_orphans",
                (F.col("n_orphans") == 0).alias("fk_holds"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


_CV_MOMS = ("n", "sx", "sy", "sxx", "sxy", "syy")


def _cv_fold_moments(spark: SparkSession, sf_dir: str, k: int = 5) -> DataFrame:
    """Shared (segment, fold) moment relation for the k-fold CV family
    (kfold_cv_ols, ridge_path_cv) — ONE decimal moment pass over the
    orders⨝customer fact, segment totals, train = total - fold.
    Columns: segment, fold, n_tot, tr_<m> (train moments, double) and
    f_<m> (held-out fold moments, double) for m in n/sx/sy/sxx/sxy/syy.
    Both consumers derive their closed-form models from THIS relation
    so the fold hashing / decimal scale / moment algebra can't drift
    between them."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    d = o.join(
        F.broadcast(
            c.select("c_custkey", "c_mktsegment", "c_acctbal")
        ),
        o["o_custkey"] == F.col("c_custkey"),
    ).select(
        F.col("c_mktsegment").alias("segment"),
        (F.col("o_orderkey") % k).cast("int").alias("fold"),
        F.col("c_acctbal").alias("x"),
        F.col("o_totalprice").alias("y"),
    )

    def dsum(e):
        return F.sum(e.cast("decimal(38,12)"))

    fm = d.groupBy("segment", "fold").agg(
        F.count("*").cast("decimal(38,12)").alias("n"),
        dsum(F.col("x")).alias("sx"),
        dsum(F.col("y")).alias("sy"),
        dsum(F.col("x") * F.col("x")).alias("sxx"),
        dsum(F.col("x") * F.col("y")).alias("sxy"),
        dsum(F.col("y") * F.col("y")).alias("syy"),
    )
    tot = fm.groupBy("segment").agg(
        *[F.sum(col).alias("t_" + col) for col in _CV_MOMS]
    )
    return fm.join(tot, "segment").select(
        "segment",
        "fold",
        F.col("t_n").cast("double").alias("n_tot"),
        *[
            (F.col("t_" + col) - F.col(col))
            .cast("double")
            .alias("tr_" + col)
            for col in _CV_MOMS
        ],
        *[
            F.col(col).cast("double").alias("f_" + col)
            for col in _CV_MOMS
        ],
    )


def _oof_sse(icept, slope):
    """Held-out SSE unfolded from the fold's own moments (f_*):
    Qy - 2a·Sy - 2b·Sxy + 2ab·Sx + a²n + b²Sxx."""
    return (
        F.col("f_syy")
        - 2 * icept * F.col("f_sy")
        - 2 * slope * F.col("f_sxy")
        + 2 * icept * slope * F.col("f_sx")
        + icept * icept * F.col("f_n")
        + slope * slope * F.col("f_sxx")
    )


def _changepoint_daily(ev: DataFrame) -> DataFrame:
    """Per-(event_type, day) decimal moment partials (n, S, Q) — the
    MERGEABLE state of the change-point detector: partials from any
    batch split sum key-wise (decimal, exact) to the full state, the
    same algebra the profile / histogram / quantile states use."""

    def dsum(e):
        return F.sum(e.cast("decimal(38,12)"))

    return ev.groupBy("event_type", "day").agg(
        F.count("*").cast("decimal(38,12)").alias("n"),
        dsum(F.col("value")).alias("s"),
        dsum(F.col("value") * F.col("value")).alias("q"),
    )


def _merge_changepoint_states(parts: DataFrame) -> DataFrame:
    """Fold stacked daily partials into one state row per (type, day):
    decimal sums are exact, so merged == recomputed-from-scratch."""
    return parts.groupBy("event_type", "day").agg(
        F.sum("n").cast("decimal(38,12)").alias("n"),
        F.sum("s").cast("decimal(38,12)").alias("s"),
        F.sum("q").cast("decimal(38,12)").alias("q"),
    )


def _changepoint_render(daily: DataFrame) -> DataFrame:
    """Score every candidate split from cumulative prefixes of the
    (type, day) moment state and pick the per-type SSE argmin —
    shared verbatim by the batch key and the streaming maintenance
    twin so the two renders can never drift."""
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tot = Window.partitionBy("event_type")
    cum = daily.select(
        "event_type",
        "day",
        F.sum("n").over(w_cum).cast("double").alias("cn"),
        F.sum("s").over(w_cum).cast("double").alias("cs"),
        F.sum("q").over(w_cum).cast("double").alias("cq"),
        F.sum("n").over(w_tot).cast("double").alias("tn"),
        F.sum("s").over(w_tot).cast("double").alias("ts_"),
        F.sum("q").over(w_tot).cast("double").alias("tq"),
    ).filter(F.col("cn") < F.col("tn"))
    sse_l = F.col("cq") - F.col("cs") * F.col("cs") / F.col("cn")
    sse_r = (F.col("tq") - F.col("cq")) - (
        F.col("ts_") - F.col("cs")
    ) * (F.col("ts_") - F.col("cs")) / (F.col("tn") - F.col("cn"))
    baseline = F.col("tq") - F.col("ts_") * F.col("ts_") / F.col("tn")
    scored = cum.select(
        "event_type",
        "day",
        "cn",
        "cs",
        "tn",
        "ts_",
        (sse_l + sse_r).alias("_sse"),
        baseline.alias("_base"),
    )
    w_best = Window.partitionBy("event_type").orderBy(
        F.col("_sse").asc(), F.col("day").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w_best))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("split_day"),
            F.col("cn").cast("bigint").alias("n_before"),
            (F.col("tn") - F.col("cn")).cast("bigint").alias("n_after"),
            _fround(F.col("cs") / F.col("cn"), 4).alias("mean_before"),
            _fround(
                (F.col("ts_") - F.col("cs"))
                / (F.col("tn") - F.col("cn")),
                4,
            ).alias("mean_after"),
            _fround(F.col("_base") - F.col("_sse"), 4).alias(
                "sse_reduction"
            ),
        )
    )


def scd2_audit(history: DataFrame, key: str) -> DataFrame:
    """Audit any SCD2 history table (columns: <key>, valid_from,
    valid_to, is_current) for interval-tiling violations — the
    reusable core of q_scd2_audit, callable on foreign hand-maintained
    dimensions."""
    w = Window.partitionBy(key).orderBy(F.col("valid_from").asc())
    marked = history.select(
        key,
        "valid_from",
        "valid_to",
        F.col("is_current").cast("int").alias("cur"),
        F.lead("valid_from").over(w).alias("next_from"),
    )
    per_key = marked.groupBy(key).agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("cur").alias("n_current"),
        F.sum(
            (
                F.col("next_from").isNotNull()
                & (F.col("valid_to") > F.col("next_from"))
            ).cast("int")
        ).alias("n_overlap"),
        F.sum(
            (
                F.col("next_from").isNotNull()
                & (F.col("valid_to") < F.col("next_from"))
            ).cast("int")
        ).alias("n_gap"),
        F.sum(
            (
                F.col("valid_to").isNull()
                & F.col("next_from").isNotNull()
            ).cast("int")
        ).alias("n_open_not_last"),
    )
    return per_key.agg(
        F.count("*").cast("bigint").alias("n_keys"),
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        F.sum((F.col("n_current") != 1).cast("int"))
        .cast("bigint")
        .alias("n_keys_bad_current"),
        F.sum("n_overlap").cast("bigint").alias("n_overlaps"),
        F.sum("n_gap").cast("bigint").alias("n_gaps"),
        F.sum("n_open_not_last").cast("bigint").alias("n_open_not_last"),
        (
            (F.sum((F.col("n_current") != 1).cast("int")) == 0)
            & (F.sum("n_overlap") == 0)
            & (F.sum("n_gap") == 0)
            & (F.sum("n_open_not_last") == 0)
        ).alias("audit_ok"),
    )


def _crossing_pick(value_col: str, num: int, den: int) -> F.Column:
    """Exact order-statistic selection: the smallest value whose
    cumulative count/weight (column ``cw``) reaches num/den of the
    total (column ``tw``) — integer cross-multiplication, never float
    rank math. The ONE Spark-side form every quantile-cut key
    (weighted_quantiles, funnel_conversion_time, cycle_time_stages,
    winsorized_stats, backfill_plan's median) shares with its DuckDB
    oracle, so the crossing rule cannot drift per key."""
    return F.min(
        F.when(
            F.col("cw") * F.lit(den) >= F.col("tw") * F.lit(num),
            F.col(value_col),
        )
    )


def _ewma_chart(daily: DataFrame) -> DataFrame:
    """Render the EWMA control chart from a (event_type, day, x) daily
    relation — shared by the batch key and its streaming-maintenance
    sibling so the chart math cannot drift between them. The daily
    aggregate is materialized once (it feeds the self-join twice plus
    the sigma branch — without the cut the batch key re-aggregates the
    facts three times; the relation is |types|x|days|, trivially
    small)."""
    daily = daily.localCheckpoint(eager=True)
    w = Window.partitionBy("event_type").orderBy("day")
    idx = daily.withColumn("i", F.row_number().over(w))
    cur = idx.select("event_type", "day", "x", "i")
    pri = idx.select(
        "event_type",
        F.col("i").alias("j"),
        F.col("x").alias("xj"),
    )
    pairs = cur.join(pri, "event_type").filter(
        (F.col("j") >= F.col("i") - 16) & (F.col("j") <= F.col("i") - 1)
    )
    wt = F.expr(
        "shiftleft(CAST(1 AS BIGINT), 15 - CAST(i - 1 - j AS INT))"
    )
    ew = pairs.groupBy("event_type", "day", "x").agg(
        F.sum((F.col("xj") * wt).cast("decimal(38,0)")).alias("s"),
        F.sum(wt.cast("decimal(38,0)")).alias("den"),
    )
    sd_src = daily.groupBy("event_type").agg(
        F.count("*").cast("double").alias("nn"),
        F.sum(F.col("x").cast("decimal(38,0)"))
        .cast("double")
        .alias("sx"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)"))
        .cast("double")
        .alias("qx"),
    )
    sd = sd_src.select(
        "event_type",
        F.sqrt(
            (
                F.col("qx") / F.col("nn")
                - (F.col("sx") / F.col("nn"))
                * (F.col("sx") / F.col("nn"))
            )
            * (F.col("nn") / (F.col("nn") - F.lit(1.0)))
        ).alias("sigma"),
    )
    ewma = F.col("s").cast("double") / F.col("den").cast("double")
    joined = (
        daily.join(ew.select("event_type", "day", "s", "den"),
                   ["event_type", "day"], "left")
        .join(F.broadcast(sd), "event_type")
    )
    return joined.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "x",
        _fround(ewma, 4).alias("ewma_prior"),
        F.coalesce(
            F.abs(F.col("x").cast("double") - ewma)
            > F.lit(3.0) * F.col("sigma"),
            F.lit(False),
        ).alias("alarm"),
    )


def _order_baskets(op: DataFrame) -> DataFrame:
    """(l_orderkey, ps): each order's part keys as a sorted distinct
    array, from any (l_orderkey, l_partkey) relation in ONE orderkey
    shuffle — collect_set dedups, so no pre-distinct pass. The basket
    form every co-order graph and basket-mining key starts from; the
    sorted array is what ``array_combinations`` expands map-side. The
    explicit repartition keeps the byte-small basket relation at full
    width under AQE's byte-based coalescing (the adamic_adar /
    count_triangles device), so the CPU-heavy expansion after it does
    not run on 1-2 tasks."""
    dp = op.sparkSession.sparkContext.defaultParallelism
    return (
        op.select("l_orderkey", "l_partkey")
        .repartition(dp, F.col("l_orderkey"))
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps"))
    )


def _co_order_edges(
    li: DataFrame,
    max_basket: int | None = None,
    min_orders: int = 1,
) -> DataFrame:
    """Directed co-order edge list over parts (both orientations):
    (src, dst) when the two parts share >= ``min_orders`` distinct
    orders. ``max_basket`` is the wedge-volume lever shared by the
    graph family: an order with b distinct parts emits b(b-1) directed
    edges, so total volume is sum(basket²) and one hot order goes
    quadratic at a skewed 100× — orders beyond the cap are dropped
    BEFORE the pairwise expansion (where the blowup would happen), not
    after. The materialized edge list is eagerly checkpointed: every
    consumer (BFS rounds, component rounds) reuses it instead of
    re-running the build (measured 12.2 s -> 6.0 s on
    bfs_hop_distance when the build ran per-round)."""
    # Basket form (one fact shuffle, map-side pairwise expansion):
    # size(ps) applies the basket cap (no separate count aggregate +
    # semi-join), and the sorted array emits each unordered pair once
    # (u < v), so the dedup/min_orders aggregate shuffles HALF the
    # directed pair volume a per-order self-join exchanged. Both
    # orientations are mirrored map-side after the aggregate, and the
    # final repartition leaves the checkpointed edge relation keyed
    # on src for the per-round frontier joins every consumer loop runs.
    dp = li.sparkSession.sparkContext.defaultParallelism
    per_order = _order_baskets(li).filter(F.size("ps") >= 2)
    if max_basket is not None:
        per_order = per_order.filter(F.size("ps") <= max_basket)
    pairs = per_order.select(
        array_combinations("ps", "u", "v").alias("e")
    ).select("e.u", "e.v")
    if min_orders > 1:
        und = (
            pairs.groupBy("u", "v")
            .agg(F.count("*").alias("_w"))
            .filter(F.col("_w") >= min_orders)
            .select("u", "v")
        )
    else:
        und = canonical_edges(pairs, "u", "v")
    edges = both_orientations(und).select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    )
    return edges.repartition(dp, "src").localCheckpoint(eager=True)


def _geo_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic INTEGER customer coordinates (same key-derived spread
    as geo_grid_knn, kept integral so exact-arithmetic geometry is
    engine-identical): px in [-180, 179], py in [-55, 54]."""
    return load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.lit(-180) + (F.col("c_custkey") * 7) % 360).cast("bigint")
        .alias("px"),
        (F.lit(-55) + F.col("c_custkey") % 110).cast("bigint")
        .alias("py"),
    )


_PIP_POLYGONS = [
    # convex diamonds spread over the synthetic coordinate range
    (j, (j * 60 - 90, j * 20 - 30, 20 + 10 * j)) for j in range(4)
]


__all__ = [
    "_fmt",
    "_fround",
    "_dsum",
    "_ts_str",
    "BUILD_SECS",
    "artifact",
    "_embedding_corpus",
    "_document_corpus",
    "_hist_bucket",
    "_cum_hist",
    "_histogram_quantile_report",
    "_trained_codebook",
    "_orders_cdc",
    "_trained_pq_books",
    "_pq_drift_corpus",
    "_trained_bpe_merges",
    "BLOCKLIST_DOMAINS",
    "_run_streaming_max_concurrency",
    "_logreg_feats",
    "_trained_logreg_weights",
    "_logreg_scored",
    "_hll_trailing_report",
    "_customer_cdc_waves",
    "prefix_filter_pairs",
    "fk_report",
    "_CV_MOMS",
    "_cv_fold_moments",
    "_oof_sse",
    "_changepoint_daily",
    "_merge_changepoint_states",
    "_changepoint_render",
    "scd2_audit",
    "_crossing_pick",
    "_ewma_chart",
    "_order_baskets",
    "_co_order_edges",
    "_geo_points",
    "_PIP_POLYGONS",
]
