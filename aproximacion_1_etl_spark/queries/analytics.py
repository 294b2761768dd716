"""Query catalog — analytics domain (mechanically moved from queries.py)."""


from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from aproximacion_1_etl_spark.operators.joins import (
    asof_join,
    range_join_rollup,
)
from aproximacion_1_etl_spark.sources.tables import load_table
from aproximacion_1_etl_spark.text.analysis import (
    fingerprint,
    lang_id,
    quality_score,
    regex_token_count,
    token_count,
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



def q_bloom_prune_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 shuffle-reduction join: lineitem x urgent orders through a
    Bloom bitmap built over the small side's keys (8 KB on the driver,
    baked into the big scan as a literal word array) — non-matching
    lineitem rows drop MAP-SIDE before the shuffle, and the exact join
    removes the <1% false positives, so the result is row-identical to
    the plain join the oracle runs. The explicit, guaranteed form of
    Spark's cost-based runtime bloomFilter rewrite
    (operators/joins.py::bloom_prune_join)."""
    from aproximacion_1_etl_spark.operators.joins import bloom_prune_join

    li = load_table(spark, sf_dir, "lineitem")
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_orderkey", "o_orderdate")
    joined = bloom_prune_join(li, urgent, "l_orderkey", "o_orderkey")
    return joined.groupBy(
        F.substring(F.col("o_orderdate").cast("string"), 1, 7).alias(
            "order_month"
        )
    ).agg(
        F.count("*").cast("bigint").alias("n_items"),
        _dsum(
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        ).alias("revenue"),
    )


def q_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 seasonality-aware anomaly detection: each (type, day)
    count is z-scored against the baseline of the SAME weekday slot —
    the guard plain z-scoring lacks (a quiet Sunday is normal, the
    same count on a Tuesday is an incident). Weekday index is pure
    integer date arithmetic ((day - epoch) % 7 — no locale/engine
    dayofweek convention in play); baseline moments are decimal sums
    per (type, slot); z uses identical IEEE expressions on both
    engines with a var<=0 guard. Everything after the daily rollup is
    |types x days|-sized."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").alias("x"))
    wk = daily.withColumn(
        "wd",
        F.datediff(F.col("day"), F.lit("2024-01-01").cast("date")) % 7,
    )
    base = wk.groupBy("event_type", "wd").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(F.col("x").cast("decimal(38,18)")).cast("double").alias("s"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,18)"))
        .cast("double")
        .alias("q"),
    )
    j = wk.join(base, ["event_type", "wd"])
    mean = F.col("s") / F.col("n")
    var = F.col("q") / F.col("n") - mean * mean
    z = F.when(var <= 0, F.lit(0.0)).otherwise(
        (F.col("x") - mean) / F.sqrt(var)
    )
    return j.select(
        "event_type",
        F.col("day").cast("string").alias("day"),
        F.col("x").cast("bigint").alias("n_events"),
        _fround(z, 4).alias("z"),
        (F.abs(_fround(z, 4)) > F.lit(2.0)).alias("is_anomaly"),
    )


def q_per_group_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 many-models training: one closed-form OLS fit PER customer
    segment (y = order total ~ account balance) from a SINGLE
    aggregation pass — the distributed pattern for training thousands
    of small models at once (per-entity forecasters, per-domain
    calibrators): no per-model job, no Python loop, the per-group
    moment vector (n, Sx, Sy, Sxx, Sxy, Syy) is one map-side-combinable
    groupBy and the normal-equation solve is closed-form column
    algebra on the 5-row result. Decimal moment sums + identical IEEE
    double algebra on both engines keep slope/intercept/r2
    bit-checkable."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    d = o.join(
        F.broadcast(
            c.select("c_custkey", "c_mktsegment", "c_acctbal")
        ),
        o["o_custkey"] == F.col("c_custkey"),
    ).select(
        F.col("c_mktsegment").alias("segment"),
        F.col("c_acctbal").alias("x"),
        F.col("o_totalprice").alias("y"),
    )

    def dsum(e):
        return F.sum(e.cast("decimal(38,18)")).cast("double")

    m = d.groupBy("segment").agg(
        F.count("*").cast("double").alias("n"),
        dsum(F.col("x")).alias("sx"),
        dsum(F.col("y")).alias("sy"),
        dsum(F.col("x") * F.col("x")).alias("sxx"),
        dsum(F.col("x") * F.col("y")).alias("sxy"),
        dsum(F.col("y") * F.col("y")).alias("syy"),
    )
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    slope = cov / varx
    return m.select(
        "segment",
        F.col("n").cast("bigint").alias("n"),
        _fround(slope, 6).alias("slope"),
        _fround((F.col("sy") - slope * F.col("sx")) / F.col("n"), 2).alias(
            "intercept"
        ),
        _fround(cov * cov / (varx * vary), 6).alias("r2"),
    )


def q_grouped_pandas_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8: grouped Arrow-batched Python (applyInPandas) — per-user
    exact median / spread of event values."""
    from aproximacion_1_etl_spark.operators.pandas_ops import (
        grouped_stats_pandas,
    )

    ev = load_table(spark, sf_dir, "events")
    return grouped_stats_pandas(ev, key="user_id", value_col="value")


def q_pandas_udf_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 scalar pandas_udf (Arrow-vectorized, batch-at-a-time): L2
    norm of each embedding; see operators/pandas_ops.l2_norm_udf."""
    from aproximacion_1_etl_spark.operators.pandas_ops import l2_norm_udf

    l2_norm = l2_norm_udf()
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.size("embedding").cast("bigint").alias("n_dims"),
        l2_norm(F.col("embedding").cast("array<double>")).alias("l2_norm"),
    )


def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key z-score outlier flagging (§2.6 extension): events whose
    value deviates > 2 population standard deviations from their user's
    mean. Two-pass agg + broadcast join-back instead of a whole-partition
    window: the aggregate reduces 10 k rows/user to one stats row, so at
    100 TB the second pass is a broadcast hash join, not a re-shuffle of
    every event into user-partitions. Moments use decimal-cast sums so
    the mean/variance are summation-order independent (oracle parity)."""
    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(30,8)")).alias("s1"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(30,8)")).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n")
    var = F.col("s2").cast("double") / F.col("n") - mean * mean
    stats = stats.select(
        "user_id", mean.alias("mu"), F.sqrt(var).alias("sigma")
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        ev.join(F.broadcast(stats), "user_id")
        .select(
            "event_id",
            "user_id",
            _fround(F.col("value"), 2).alias("value"),
            _fround(z, 3).alias("z"),
        )
        .where(F.abs(F.col("z")) > 2.0)
    )


def q_pandas_iter_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterator-of-Series scalar pandas UDF (§2.8 — the remaining UDF
    form): order totals bucketed by binary search over fixed
    breakpoints, where the iterator form runs the one-off setup (the
    sorted search table; in production a model/tokenizer load) ONCE
    per executor Python worker instead of once per batch. The UDF is
    a narrow map; the only shuffle is the bucket rollup after it.
    Integer bucket ids keep it value-checked (oracle: a CASE ladder
    counting breakpoints <= price)."""
    from aproximacion_1_etl_spark.operators.pandas_ops import (
        price_bucket_iter_udf,
    )

    bucket = price_bucket_iter_udf([50000.0, 100000.0, 200000.0, 400000.0])
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(bucket(F.col("o_totalprice")).alias("bucket"),
                 F.col("o_totalprice").alias("p"))
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(
                F.floor(F.col("p") * 100.0 + F.lit(0.5)).cast("bigint")
            ).cast("bigint").alias("sum_cents"),
        )
        .select(F.col("bucket").cast("int").alias("bucket"),
                "n_orders", "sum_cents")
    )


def q_grouped_arrow_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInArrow grouped map (§2.8 — Spark 4's Arrow-native grouped
    surface, zero pandas boxing): per-nation customer balance stats
    computed directly on pyarrow arrays. Balances become exact integer
    CENTS before summation (floor(x*100+0.5) on each element), so the
    per-group result is addition-order-independent — value-checkable
    although Arrow sees group rows in arbitrary post-shuffle order.
    One shuffle on the group key; the Python stage is
    |group|-bounded."""
    from aproximacion_1_etl_spark.operators.pandas_ops import (
        grouped_balance_stats_arrow,
    )

    c = load_table(spark, sf_dir, "customer").select(
        "c_nationkey", "c_acctbal"
    )
    return grouped_balance_stats_arrow(c, "c_nationkey", "c_acctbal")


def q_cogrouped_pandas_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped applyInPandas (§2.8): orders and events grouped on the
    same key arrive as PAIRED pandas frames per key — the Arrow surface
    for custom per-key merge logic (asof merges, per-key reconciliation)
    that neither side's groupBy can express alone. Money is summed as
    integer cents inside the group so the Python-side sum is
    order-independent."""
    import pandas as pd

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("key"),
        F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("key"), "event_id"
    )

    def merge(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        key = (
            left["key"].iloc[0] if len(left) else right["key"].iloc[0]
        )
        return pd.DataFrame(
            {
                "key": [key],
                "n_orders": [len(left)],
                "n_events": [len(right)],
                "spend": [float(left["cents"].sum()) / 100.0],
            }
        )

    n_parts = spark.sparkContext.defaultParallelism
    out = (
        o.repartition(n_parts, "key")
        .groupBy("key")
        .cogroup(ev.repartition(n_parts, "key").groupBy("key"))
        .applyInPandas(
            merge,
            "key BIGINT, n_orders BIGINT, n_events BIGINT, spend DOUBLE",
        )
    )
    return out


def q_arrow_map_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow (§2.8): per-batch pyarrow compute without a pandas
    conversion — the lowest-overhead Python hook (zero-copy Arrow
    RecordBatches in and out). Computes per-doc token counts with
    pyarrow.compute, then aggregates per lang JVM-side."""
    import pyarrow as pa
    import pyarrow.compute as pc

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )

    def count_tokens(batches):
        for b in batches:
            toks = pc.list_value_length(
                pc.split_pattern(b.column("text"), " ")
            )
            yield pa.RecordBatch.from_arrays(
                [b.column("doc_id"), b.column("lang"), toks],
                names=["doc_id", "lang", "n_tokens"],
            )

    mapped = d.mapInArrow(
        count_tokens, "doc_id BIGINT, lang STRING, n_tokens INT"
    )
    return mapped.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.max("n_tokens").cast("bigint").alias("max_tokens"),
    )


def q_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 leakage-safe split: near-dup clusters (MinHash-LSH
    candidate pairs closed under transitivity) hash to ONE side of the
    train/val/test split, so no near-copy of a training doc can leak
    into eval (text/dedup.py::cluster_safe_split)."""
    from aproximacion_1_etl_spark.text.dedup import cluster_safe_split

    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(word_shingles(docs, distinct=False))
    cands = minhash_candidate_pairs(sigs, min_matching_bands=2)
    return cluster_safe_split(
        docs, cands, {"train": 0.8, "val": 0.1, "test": 0.1}
    )


def q_quality_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 robust per-source outlier flagging: docs whose quality
    score sits more than 3 MAD-equivalents from their SOURCE's median
    — median/MAD instead of mean/std so a burst of junk cannot mask
    itself by inflating the std. Exact discrete percentiles
    (percentile_disc) keep both engines bit-identical; the per-source
    stats relation is tiny and broadcasts back."""
    from aproximacion_1_etl_spark.text.analysis import quality_score

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", quality_score(F.col("text")).alias("q")
    )
    med = d.groupBy("source").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY q)").alias(
            "med"
        )
    )
    dev = d.join(F.broadcast(med), "source").select(
        "doc_id", "source", "q", "med",
        F.abs(F.col("q") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("source").agg(
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY adev)"
        ).alias("mad")
    )
    out = dev.join(F.broadcast(mad), "source").filter(
        F.col("adev") > 3.0 * F.greatest(F.col("mad"), F.lit(0.0001))
    )
    return out.select(
        "doc_id",
        "source",
        _fround(F.col("q"), 4).alias("q"),
        _fround(F.col("med"), 4).alias("source_median"),
        _fround(F.col("adev"), 4).alias("abs_dev"),
    )


def q_ols_event_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 distributed closed-form OLS: fit value ~ 1 + hour + dow
    over events via normal equations — X'X and X'y accumulate in ONE
    aggregation (map-side combine; integer feature moments are exact,
    the y-moments are order-independent decimal sums), then Cramer's
    rule solves the 3x3 system IN-PLAN on the single aggregated row
    (no collect, no driver arithmetic). The same spelled-out
    determinant expressions run in DuckDB, so weights, R^2 and RMSE
    are engine-identical IEEE double arithmetic. The pattern is the
    scalable skeleton for any fixed-width linear model at 100 TB: one
    shuffle of a handful of scalars, whatever the row count.

    dow is computed as days-since-Monday-epoch mod 7 (1970-01-05), the
    only dow definition both engines spell identically."""
    ev = load_table(spark, sf_dir, "events")
    feat = ev.select(
        F.col("value").alias("y"),
        F.hour("ts").cast("bigint").alias("h"),
        F.pmod(
            F.datediff(F.col("ts").cast("date"), F.lit("1970-01-05")), F.lit(7)
        )
        .cast("bigint")
        .alias("d"),
    )
    agg = feat.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("h").alias("sh"),
        F.sum("d").alias("sd"),
        F.sum(F.col("h") * F.col("h")).alias("shh"),
        F.sum(F.col("d") * F.col("d")).alias("sdd"),
        F.sum(F.col("h") * F.col("d")).alias("shd"),
        F.sum(F.col("y").cast("decimal(38,18)")).alias("sy"),
        F.sum((F.col("y") * F.col("h")).cast("decimal(38,18)")).alias("shy"),
        F.sum((F.col("y") * F.col("d")).cast("decimal(38,18)")).alias("sdy"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,18)")).alias("syy"),
    )
    # identical det3 structure in the oracle: a*(e*i - f*h)
    # - b*(d*i - f*g) + c*(d*h - e*g)
    expr = """
      CAST(n AS DOUBLE) AS nd, CAST(sh AS DOUBLE) AS shd_,
      CAST(sd AS DOUBLE) AS sdd_, CAST(shh AS DOUBLE) AS shhd,
      CAST(sdd AS DOUBLE) AS sddd, CAST(shd AS DOUBLE) AS shdd,
      CAST(sy AS DOUBLE) AS syd, CAST(shy AS DOUBLE) AS shyd,
      CAST(sdy AS DOUBLE) AS sdyd, CAST(syy AS DOUBLE) AS syyd
    """
    m = agg.selectExpr("n", *[e.strip() for e in expr.strip().split(",")])
    det = (
        "(nd*(shhd*sddd - shdd*shdd) - shd_*(shd_*sddd - shdd*sdd_)"
        " + sdd_*(shd_*shdd - shhd*sdd_))"
    )
    det0 = (
        "(syd*(shhd*sddd - shdd*shdd) - shd_*(shyd*sddd - shdd*sdyd)"
        " + sdd_*(shyd*shdd - shhd*sdyd))"
    )
    det1 = (
        "(nd*(shyd*sddd - shdd*sdyd) - syd*(shd_*sddd - shdd*sdd_)"
        " + sdd_*(shd_*sdyd - shyd*sdd_))"
    )
    det2 = (
        "(nd*(shhd*sdyd - shyd*shdd) - shd_*(shd_*sdyd - shyd*sdd_)"
        " + syd*(shd_*shdd - shhd*sdd_))"
    )
    sol = m.selectExpr(
        "n",
        "syd",
        "shyd",
        "sdyd",
        "syyd",
        "nd",
        f"{det0} / {det} AS w0",
        f"{det1} / {det} AS w1",
        f"{det2} / {det} AS w2",
    )
    # Spark SQL parses a bare 1000000.0 literal as DECIMAL, and
    # bigint-from-floor / decimal yields DECIMAL output — cast the
    # scale factors explicitly so the schema stays DOUBLE like the
    # oracle's.
    d6 = "CAST(1000000 AS DOUBLE)"
    d4 = "CAST(10000 AS DOUBLE)"
    return sol.selectExpr(
        "n",
        f"floor(w0 * {d6} + 0.5) / {d6} AS w_intercept",
        f"floor(w1 * {d6} + 0.5) / {d6} AS w_hour",
        f"floor(w2 * {d6} + 0.5) / {d6} AS w_dow",
        "floor((1.0 - (syyd - w0*syd - w1*shyd - w2*sdyd)"
        f" / (syyd - syd*syd/nd)) * {d6} + 0.5) / {d6} AS r2",
        "floor(sqrt((syyd - w0*syd - w1*shyd - w2*sdyd) / nd)"
        f" * {d4} + 0.5) / {d4} AS rmse",
    )


def q_quantile_normalize_scores(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """§2.10 cross-source score calibration: quantile normalization —
    each document's within-source quantile is mapped to the GLOBAL
    score at that quantile, so sources whose quality scorer runs hot
    or cold become comparable before mixing/filtering (the tabular
    cousin of batch-effect normalization).

    The global ranking deliberately avoids the single-task global
    window: scores bucket onto a fixed 1000-cell grid (map-side),
    per-bucket counts prefix-sum on the |grid|-sized relation, and
    each doc's global rank = bucket offset + within-bucket rank — the
    vocab_growth two-phase pattern, so the only corpus-sized windows
    are per-bucket/per-source partitions, never ORDER BY over
    everything. The quantile lookup is an integer-index equi-join
    back onto the ranked relation.

    Ranks use the strict (score, doc_id) total order on both engines;
    the q -> index arithmetic is the same IEEE expression, and a
    single-doc source pins q = 0.5."""
    from aproximacion_1_etl_spark.text.analysis import quality_score

    docs = load_table(spark, sf_dir, "documents")
    sc = docs.select(
        "doc_id", "source", quality_score(F.col("text")).alias("score")
    )
    bucketed = sc.withColumn(
        "bkt", F.floor(F.col("score") * 1000).cast("int")
    )
    bcounts = bucketed.groupBy("bkt").agg(F.count("*").alias("bn"))
    boff = bcounts.select(
        "bkt",
        (
            F.sum("bn").over(
                Window.orderBy("bkt").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            )
        ).alias("off"),
    ).fillna({"off": 0})
    wb = Window.partitionBy("bkt").orderBy("score", "doc_id")
    ranked = (
        bucketed.withColumn("rb", F.row_number().over(wb))
        .join(boff, "bkt")
        .select(
            "doc_id",
            "source",
            "score",
            (F.col("off") + F.col("rb")).alias("grank"),
        )
    )
    n_total = sc.agg(F.count("*").alias("n_g"))
    ws = Window.partitionBy("source").orderBy("score", "doc_id")
    src_ranked = sc.select(
        "doc_id",
        "source",
        "score",
        F.row_number().over(ws).alias("rs"),
        F.count("*").over(Window.partitionBy("source")).alias("ns"),
    )
    q = F.when(F.col("ns") == 1, F.lit(0.5)).otherwise(
        (F.col("rs") - F.lit(1)).cast("double")
        / (F.col("ns") - F.lit(1)).cast("double")
    )
    targeted = src_ranked.crossJoin(F.broadcast(n_total)).select(
        "doc_id",
        "source",
        "score",
        (
            F.floor(q * (F.col("n_g") - F.lit(1)).cast("double") + F.lit(0.5))
            + F.lit(1)
        )
        .cast("bigint")
        .alias("ti"),
    )
    lookup = ranked.select(
        F.col("grank").alias("ti"), F.col("score").alias("norm_score")
    )
    return targeted.join(lookup, "ti").select(
        "doc_id",
        "source",
        _fround(F.col("score"), 4).alias("score"),
        _fround(F.col("norm_score"), 4).alias("norm_score"),
    )


def q_logreg_label_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 iterative model fitting: evaluates the registry's
    full-batch gradient-descent logistic regression
    (``_trained_logreg_weights``, operators/ml.py::logistic_regression_gd)
    predicting label < 5 from the first three embedding dimensions —
    the general pattern for ANY differentiable fixed-width model: one
    distributed aggregation per iteration, weights driver-held and
    9-dp-snapped so the DuckDB oracle replays the identical recurrence
    as unrolled CTEs. The model is fitted once per corpus and shared
    with every key that scores it; this key adds ONE aggregation that
    emits weights, accuracy (decided on z >= 0 — exact arithmetic, no
    exp at the boundary) and logloss."""
    feats = _logreg_feats(spark, sf_dir)
    w = _trained_logreg_weights(spark, sf_dir)
    z = (
        F.lit(0.0)
        + F.lit(w[0]) * F.lit(1.0)
        + F.lit(w[1]) * F.col("x1")
        + F.lit(w[2]) * F.col("x2")
        + F.lit(w[3]) * F.col("x3")
    )
    correct = (
        (z >= 0) == (F.col("y") == 1.0)
    ).cast("int")
    ll = F.log(F.lit(1.0) + F.exp(-z)) + (F.lit(1.0) - F.col("y")) * z
    out = feats.select(
        "y", correct.alias("correct_i"), ll.alias("ll_i")
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        (
            F.sum(F.col("correct_i")).cast("double") / F.count("*")
        ).alias("acc_raw"),
        (
            F.sum(F.col("ll_i").cast("decimal(38,18)")).cast("double")
            / F.count("*")
        ).alias("ll_raw"),
    )
    return out.select(
        "n",
        *[
            _fround(F.lit(w[j]), 6).alias(f"w{j}")
            for j in range(4)
        ],
        _fround(F.col("acc_raw"), 4).alias("accuracy"),
        _fround(F.col("ll_raw"), 4).alias("logloss"),
    )


def q_chi2_feature_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 feature selection: per-language top-10 tokens by
    chi-square association between token document-frequency and
    language — what a quality/domain classifier build selects features
    with. All contingency cells are exact integer counts from two
    keyed aggregations over the distinct doc-token relation; the chi2
    formula is the same IEEE double expression on both engines. A
    min-df floor (>= 5 docs) drops the long tail before ranking."""
    docs = load_table(spark, sf_dir, "documents")
    dp = spark.sparkContext.defaultParallelism
    dtok = (
        docs.repartition(dp, F.col("doc_id"))
        .select(
            "doc_id",
            F.col("lang").alias("l"),
            F.explode(
                F.split(F.lower(F.trim("text")), r"\s+")
            ).alias("tok"),
        )
        .filter(F.length("tok") > 0)
        .distinct()
    )
    a_df = dtok.groupBy("l", "tok").agg(F.count("*").alias("a"))
    t_df = a_df.groupBy("tok").agg(F.sum("a").alias("df_t"))
    n_l = docs.groupBy(F.col("lang").alias("l")).agg(
        F.count("*").alias("nl")
    )
    n_all = docs.agg(F.count("*").alias("n_all"))
    cells = (
        a_df.join(t_df, "tok")
        .filter(F.col("df_t") >= 5)
        .join(F.broadcast(n_l), "l")
        .crossJoin(F.broadcast(n_all))
        .select(
            "l",
            "tok",
            F.col("a").cast("double").alias("ad"),
            (F.col("df_t") - F.col("a")).cast("double").alias("bd"),
            (F.col("nl") - F.col("a")).cast("double").alias("cd"),
            (
                F.col("n_all") - F.col("nl") - F.col("df_t") + F.col("a")
            )
            .cast("double")
            .alias("dd"),
            F.col("n_all").cast("double").alias("nn"),
            F.col("a").cast("bigint").alias("df_in_lang"),
        )
    )
    num = (
        F.col("ad") * F.col("dd") - F.col("bd") * F.col("cd")
    )
    chi2 = (
        F.col("nn")
        * num
        * num
        / (
            (F.col("ad") + F.col("bd"))
            * (F.col("cd") + F.col("dd"))
            * (F.col("ad") + F.col("cd"))
            * (F.col("bd") + F.col("dd"))
        )
    )
    ranked = cells.select(
        "l", "tok", "df_in_lang", _fround(chi2, 4).alias("chi2")
    )
    wl = Window.partitionBy("l").orderBy(
        F.col("chi2").desc(), F.col("tok").asc()
    )
    return (
        ranked.withColumn("rn", F.row_number().over(wl))
        .filter(F.col("rn") <= 10)
        .select(
            F.col("l").alias("lang"),
            "tok",
            "df_in_lang",
            "chi2",
            F.col("rn").cast("bigint").alias("rank"),
        )
    )


def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 marketing attribution: each purchase's value is credited
    to the user's LAST non-purchase touch at or before the purchase —
    classic last-touch conversion attribution, composed directly from
    the engine's as-of join (operators/joins.py::asof_join — the
    union-window merge: one shuffle on the user key, no range-join
    blowup). Purchases with no prior touch land in the '(direct)'
    bucket, so total conversion value is conserved. Value sums in
    decimal, so the report is order-independent."""
    from aproximacion_1_etl_spark.operators.joins import asof_join

    ev = load_table(spark, sf_dir, "events")
    conversions = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    touches = ev.filter(F.col("event_type") != "purchase").select(
        "event_id",
        "user_id",
        "ts",
        F.col("event_type").alias("touch_type"),
    )
    joined = asof_join(
        conversions,
        touches,
        left_key="user_id",
        right_key="user_id",
        left_ts="ts",
        right_ts="ts",
        value_cols=["touch_type"],
        tiebreak="event_id",
    )
    return (
        joined.select(
            F.coalesce(F.col("asof_touch_type"), F.lit("(direct)")).alias(
                "touch_type"
            ),
            "value",
        )
        .groupBy("touch_type")
        .agg(
            F.count("*").cast("bigint").alias("n_conversions"),
            _fround(
                F.sum(F.col("value").cast("decimal(38,18)")).cast(
                    "double"
                ),
                2,
            ).alias("attributed_value"),
        )
    )


def q_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 change-point detection: per event type, the positive
    CUSUM drift statistic over the daily-count series — how far the
    cumulative deviation from the type's mean daily volume has risen
    above its historical minimum (the standard sequential drift
    detector for pipeline-volume monitoring).

    Windows, not a fold: s_t = prefix_t - min(0, min_{j<=t} prefix_j)
    where prefix is the running sum of (count - mean). Running sum and
    running min are both ordered window aggregates, so the recursion
    max(0, s+dev) never needs a per-row loop — the shape scales as two
    per-type windows over the |types x days| relation. Drift rounds
    to 6 dp before the argmax ranking so sub-ulp cross-engine window
    summation differences can't flip the peak day."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").alias("x"))
    mu = daily.groupBy("event_type").agg(
        (
            F.sum(F.col("x").cast("decimal(38,18)")).cast("double")
            / F.count("*")
        ).alias("mu")
    )
    wo = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    devs = daily.join(F.broadcast(mu), "event_type").select(
        "event_type",
        "day",
        (F.col("x").cast("double") - F.col("mu")).alias("dev"),
        "mu",
    )
    pre = devs.select(
        "event_type",
        "day",
        "mu",
        F.sum("dev").over(wo).alias("prefix"),
    )
    run = pre.select(
        "event_type",
        "day",
        "mu",
        "prefix",
        F.min("prefix").over(wo).alias("runmin"),
    )
    drifted = run.select(
        "event_type",
        "day",
        "mu",
        _fround(
            F.col("prefix") - F.least(F.col("runmin"), F.lit(0.0)), 6
        ).alias("drift"),
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.col("drift").desc(), F.col("day").asc()
    )
    return (
        drifted.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("peak_day"),
            _fround(F.col("drift"), 4).alias("max_drift"),
            _fround(F.col("mu"), 4).alias("mean_daily"),
        )
    )


def q_bootstrap_ci_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 distribution-free uncertainty at scale: a Poisson
    bootstrap 95% CI for the mean order value. The classic resampling
    bootstrap is undistributable (each replicate draws n rows WITH
    replacement — a global shuffle per replicate); the Poisson
    bootstrap replaces each row's replicate multiplicity with an
    independent Poisson(1) weight, so ALL B replicates ride ONE
    map-side fan-out (row x B) into a B-row aggregate — the standard
    big-data bootstrap (Chamandy et al., "Estimating uncertainty for
    massive data streams", Google 2012).

    Determinism: the Poisson draw inverts the CDF on the first 8 hex
    chars of md5(orderkey:replicate) compared against PRECOMPUTED hex
    thresholds — pure string comparisons, the repo's
    deterministic-sample trick, bit-identical on any engine. Replicate
    means use decimal sums; the CI is nearest-rank over the B ordered
    means with a replicate-id tiebreak."""
    B = 64
    # cumulative Poisson(1) CDF -> 8-hex-digit thresholds
    import math as _math

    cdf, acc, k = [], 0.0, 0
    while acc < 0.99999 and k < 8:
        acc += _math.exp(-1.0) / _math.factorial(k)
        cdf.append(min(acc, 1.0))
        k += 1
    thresholds = [format(int(c * 2**32), "08x") for c in cdf]
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    dp = spark.sparkContext.defaultParallelism
    fan = (
        orders.repartition(dp, F.col("o_orderkey"))
        .select(
            "o_orderkey",
            "o_totalprice",
            F.explode(
                F.array(*[F.lit(b) for b in range(B)])
            ).alias("b"),
        )
        .withColumn(
            "h",
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.col("o_orderkey"), F.col("b")
                    )
                ),
                1,
                8,
            ),
        )
    )
    w: F.Column = F.lit(len(thresholds))
    for k_i in range(len(thresholds) - 1, -1, -1):
        w = F.when(F.col("h") < thresholds[k_i], F.lit(k_i)).otherwise(w)
    reps = (
        fan.select("b", w.alias("w"), "o_totalprice")
        .groupBy("b")
        .agg(
            F.sum(
                (F.col("w") * F.col("o_totalprice")).cast(
                    "decimal(38,18)"
                )
            )
            .cast("double")
            .alias("s"),
            F.sum("w").alias("nw"),
        )
        .select("b", (F.col("s") / F.col("nw")).alias("mean_b"))
    )
    wr = Window.orderBy(F.col("mean_b").asc(), F.col("b").asc())
    ranked = reps.select(
        "mean_b", F.row_number().over(wr).alias("rk")
    )
    lo_rk = max(1, _math.ceil(0.025 * B))
    hi_rk = _math.ceil(0.975 * B)
    point = orders.agg(
        F.count("*").cast("bigint").alias("n"),
        (
            F.sum(F.col("o_totalprice").cast("decimal(38,18)")).cast(
                "double"
            )
            / F.count("*")
        ).alias("mean_raw"),
    )
    lo = ranked.filter(F.col("rk") == lo_rk).select(
        F.col("mean_b").alias("lo_raw")
    )
    hi = ranked.filter(F.col("rk") == hi_rk).select(
        F.col("mean_b").alias("hi_raw")
    )
    return (
        point.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select(
            "n",
            _fround(F.col("mean_raw"), 4).alias("mean_value"),
            _fround(F.col("lo_raw"), 4).alias("ci_lo"),
            _fround(F.col("hi_raw"), 4).alias("ci_hi"),
            F.lit(B).cast("bigint").alias("n_replicates"),
        )
    )


def q_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 survival analysis: Kaplan-Meier time-to-first-purchase
    after first signup, with administrative right-censoring at corpus
    end — the product-limit estimator product analytics and churn
    models consume. Per-user durations reduce to a |days|-sized
    day-level relation; at-risk counts and the survival curve are
    ordered windows over it (cumulative product expressed as
    exp(sum(ln(1 - d/n))) — a sum over an ordered frame, so both
    engines accumulate in the same sequence; output rounds absorb
    sub-ulp exp/ln differences). No corpus-sized window anywhere: the
    heavy relations are the two per-user aggregates."""
    ev = load_table(spark, sf_dir, "events")
    su = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    pu = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    first_purchase = (
        su.join(
            pu,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") > F.col("signup_ts")),
            "left",
        )
        .groupBy("user_id", "signup_ts")
        .agg(F.min("p_ts").alias("event_ts"))
    )
    horizon = ev.agg(F.max(F.col("ts").cast("date")).alias("hday"))
    durations = first_purchase.crossJoin(F.broadcast(horizon)).select(
        "user_id",
        F.when(
            F.col("event_ts").isNotNull(),
            F.datediff(
                F.col("event_ts").cast("date"),
                F.col("signup_ts").cast("date"),
            ),
        )
        .otherwise(
            F.datediff(F.col("hday"), F.col("signup_ts").cast("date"))
        )
        .cast("int")
        .alias("t"),
        F.col("event_ts").isNotNull().cast("int").alias("is_event"),
    )
    day_level = durations.groupBy("t").agg(
        F.sum("is_event").cast("bigint").alias("d"),
        F.sum(F.lit(1) - F.col("is_event")).cast("bigint").alias("c"),
        F.count("*").cast("bigint").alias("n_t"),
    )
    wcum = (
        Window.orderBy("t").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
    )
    wprev = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, -1
    )
    total = durations.agg(F.count("*").alias("n_total"))
    risk = day_level.crossJoin(F.broadcast(total)).select(
        "t",
        "d",
        "c",
        (
            F.col("n_total")
            - F.coalesce(F.sum("n_t").over(wprev), F.lit(0))
        )
        .cast("bigint")
        .alias("at_risk"),
    )
    # d == at_risk makes the factor 0 and survival 0 from that day on;
    # ln(0) raises in DuckDB (and yields -inf in Spark), so zero
    # factors contribute ln(1) inside the sum and an explicit
    # any-zero-so-far flag pins the curve to 0.0 — identical logic on
    # both engines.
    factor = (
        F.lit(1.0)
        - F.col("d").cast("double") / F.col("at_risk").cast("double")
    )
    surv = risk.select(
        "t",
        "d",
        "c",
        "at_risk",
        F.when(
            F.max((F.col("d") == F.col("at_risk")).cast("int")).over(
                wcum
            )
            == 1,
            F.lit(0.0),
        )
        .otherwise(
            F.exp(
                F.sum(
                    F.log(
                        F.when(factor > 0, factor).otherwise(F.lit(1.0))
                    )
                ).over(wcum)
            )
        )
        .alias("s_raw"),
    )
    return surv.select(
        F.col("t").alias("day"),
        F.col("at_risk").alias("n_at_risk"),
        F.col("d").alias("n_events"),
        F.col("c").alias("n_censored"),
        _fround(F.col("s_raw"), 6).alias("survival"),
    )


def q_ab_test_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 experimentation analytics: a hash-randomized A/B
    readout — users split 50/50 by the md5-band assigner (the
    engine's deterministic sampler, so assignment is stable across
    runs and engines), per-arm purchase-value mean/variance from one
    aggregation, and the Welch t-statistic computed from the
    aggregated moments with identical IEEE expressions on both
    engines. The whole report is two shuffles (per-user rollup,
    per-arm rollup) at any scale."""
    from aproximacion_1_etl_spark.functions.sampling import _hash_prefix

    ev = load_table(spark, sf_dir, "events")
    per_user = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(F.col("value").cast("decimal(38,18)"))
            .cast("double")
            .alias("user_value")
        )
        .withColumn(
            "arm",
            F.when(_hash_prefix(F.col("user_id")) < "8000", "A").otherwise(
                "B"
            ),
        )
    )
    arms = per_user.groupBy("arm").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum(F.col("user_value").cast("decimal(38,18)"))
        .cast("double")
        .alias("s1"),
        F.sum(
            (F.col("user_value") * F.col("user_value")).cast(
                "decimal(38,18)"
            )
        )
        .cast("double")
        .alias("s2"),
    )
    a = arms.filter(F.col("arm") == "A").select(
        F.col("n_users").alias("na"),
        F.col("s1").alias("sa"),
        F.col("s2").alias("qa"),
    )
    b = arms.filter(F.col("arm") == "B").select(
        F.col("n_users").alias("nb"),
        F.col("s1").alias("sb"),
        F.col("s2").alias("qb"),
    )
    j = a.crossJoin(F.broadcast(b))
    mean_a = F.col("sa") / F.col("na")
    mean_b = F.col("sb") / F.col("nb")
    var_a = (
        F.col("qa") / F.col("na") - mean_a * mean_a
    ) * (F.col("na") / (F.col("na") - F.lit(1)))
    var_b = (
        F.col("qb") / F.col("nb") - mean_b * mean_b
    ) * (F.col("nb") / (F.col("nb") - F.lit(1)))
    t = (mean_a - mean_b) / F.sqrt(
        var_a / F.col("na") + var_b / F.col("nb")
    )
    return j.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        _fround(mean_a, 4).alias("mean_a"),
        _fround(mean_b, 4).alias("mean_b"),
        _fround(mean_b - mean_a, 4).alias("lift"),
        _fround(t, 4).alias("welch_t"),
    )


def q_psi_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 distribution-drift monitoring: Population Stability
    Index of the quality-score distribution between two deterministic
    corpus halves (md5 hash-band of doc_id — the sampler's portable
    splitter; a naive doc_id parity is DEGENERATE here because
    doc_id mod |sources| assigns each source a fixed parity), per
    source — the reference-vs-current window stand-in. PSI =
    sum_buckets (p - q) * ln(p / q) over a fixed 10-cell score grid
    with epsilon-floored proportions — the standard model-monitoring
    drift score, complementing cusum_drift's volume view with a
    SHAPE view. One scan + two tiny keyed aggregations; the bucket
    grid bounds all downstream state."""
    from aproximacion_1_etl_spark.text.analysis import quality_score

    docs = load_table(spark, sf_dir, "documents")
    from aproximacion_1_etl_spark.functions.sampling import _hash_prefix

    scored = docs.select(
        "source",
        (_hash_prefix(F.col("doc_id")) < "8000").alias("is_ref"),
        F.least(
            F.floor(quality_score(F.col("text")) * 10).cast("int"),
            F.lit(9),
        ).alias("bkt"),
    )
    cells = scored.groupBy("source", "is_ref", "bkt").agg(
        F.count("*").alias("c")
    )
    tots = cells.groupBy("source", "is_ref").agg(
        F.sum("c").alias("n")
    )
    # dense (source x side x bucket) grid so empty cells get the
    # epsilon floor on BOTH sides
    grid = (
        cells.select("source").distinct()
        .crossJoin(spark.range(10).select(F.col("id").cast("int").alias("bkt")))
        .crossJoin(
            spark.createDataFrame(
                [(True,), (False,)], "is_ref boolean"
            )
        )
    )
    dense = (
        grid.join(cells, ["source", "is_ref", "bkt"], "left")
        .fillna({"c": 0})
        .join(tots, ["source", "is_ref"])
        .select(
            "source",
            "is_ref",
            "bkt",
            F.greatest(
                F.col("c").cast("double") / F.col("n").cast("double"),
                F.lit(1e-4),
            ).alias("p"),
        )
    )
    # ref/current as a conditional-aggregation pivot, NOT a self-join
    # of dense with complementary filters — Spark's self-join lineage
    # dedup collapses the two is_ref filters onto one attribute and
    # returns the empty set (observed); one keyed aggregation is also
    # simply the better plan.
    paired = dense.groupBy("source", "bkt").agg(
        F.max(F.when(F.col("is_ref"), F.col("p"))).alias("p_ref"),
        F.max(F.when(~F.col("is_ref"), F.col("p"))).alias("p_cur"),
    )
    return (
        paired.groupBy("source")
        .agg(
            F.sum(
                (
                    (F.col("p_cur") - F.col("p_ref"))
                    * F.log(F.col("p_cur") / F.col("p_ref"))
                ).cast("decimal(38,18)")
            )
            .cast("double")
            .alias("psi_raw")
        )
        .select("source", _fround(F.col("psi_raw"), 6).alias("psi"))
    )


def q_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 grouped forecasting: Holt double exponential smoothing
    (level + linear trend) per event type over the daily-count
    series, with a 7-day-ahead forecast — the per-key volume
    forecaster capacity planning runs over thousands of series at
    once. The distributed work is the corpus -> daily rollup; each
    type's 30-value series then folds IN-PLAN through a higher-order
    `aggregate` with a (level, trend) struct accumulator — state per
    group is |days| doubles, the same bounded-collect rule as the
    per-user sequence strings, and no UDF appears anywhere.

    Engine parity: the fold order is the sorted day order on both
    engines (DuckDB replays it with list_reduce over the identical
    list), the smoothing constants are exact binary fractions
    (alpha = 0.5, beta = 0.25), and every update is the same IEEE
    expression — so level/trend/forecast agree bit-for-bit before the
    output rounding. Standard init: level = x1, trend = x2 - x1."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").alias("x"))
    series = daily.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "x"))),
            lambda s: s.getField("x").cast("double"),
        ).alias("xs")
    ).filter(F.size("xs") >= 3)
    xs = F.col("xs")
    x1, x2 = F.element_at(xs, 1), F.element_at(xs, 2)
    init = F.struct(x1.alias("l"), (x2 - x1).alias("t"))
    rest = F.slice(xs, 3, F.greatest(F.size(xs) - 2, F.lit(0)))
    a, b = F.lit(0.5), F.lit(0.25)

    def step(acc, x):
        lvl = a * x + (F.lit(1.0) - a) * (
            acc.getField("l") + acc.getField("t")
        )
        trd = b * (
            (
                a * x
                + (F.lit(1.0) - a)
                * (acc.getField("l") + acc.getField("t"))
            )
            - acc.getField("l")
        ) + (F.lit(1.0) - b) * acc.getField("t")
        return F.struct(lvl.alias("l"), trd.alias("t"))

    folded = series.select(
        "event_type",
        F.size(xs).cast("bigint").alias("n_days"),
        F.aggregate(rest, init, step).alias("st"),
    )
    return folded.select(
        "event_type",
        "n_days",
        _fround(F.col("st").getField("l"), 4).alias("level"),
        _fround(F.col("st").getField("t"), 4).alias("trend"),
        _fround(
            F.col("st").getField("l")
            + F.lit(7.0) * F.col("st").getField("t"),
            4,
        ).alias("forecast_7d"),
    )


def q_model_calibration_ece(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """§2.10 model evaluation: reliability table + Expected
    Calibration Error for the GD-trained classifier — EQUAL-MASS
    deciles of the score (rank-based binning; fixed-width probability
    bins degenerate to one cell when a weak model concentrates p near
    0.5, observed), per-bin mean confidence vs empirical accuracy,
    ECE = sum |acc - conf| * n_b / n. Ranks come from the bucketed
    two-phase prefix sum — no single-task global window."""
    scored = _logreg_scored(spark, sf_dir)
    bucketed = scored.withColumn(
        "bkt", F.least(F.floor(F.col("p") * 1000).cast("int"), F.lit(999))
    )
    boff = (
        bucketed.groupBy("bkt")
        .agg(F.count("*").alias("bn"))
        .select(
            "bkt",
            F.coalesce(
                F.sum("bn").over(
                    Window.orderBy("bkt").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ).alias("off"),
        )
    )
    wb = Window.partitionBy("bkt").orderBy("p", "vec_id")
    ranked = (
        bucketed.withColumn("rb", F.row_number().over(wb))
        .join(boff, "bkt")
        .select("y", "p", (F.col("off") + F.col("rb")).alias("r"))
    )
    n_tot = scored.agg(F.count("*").alias("n_all"))
    binned = ranked.crossJoin(F.broadcast(n_tot)).select(
        "y",
        "p",
        F.expr("CAST(((r - 1) * 10) div n_all AS INT)").alias("bin"),
    )
    per_bin = binned.groupBy("bin").agg(
        F.count("*").cast("bigint").alias("n_b"),
        F.sum(F.col("p").cast("decimal(38,18)"))
        .cast("double")
        .alias("sp"),
        F.sum(F.col("y").cast("decimal(38,18)"))
        .cast("double")
        .alias("sy"),
    )
    tot = per_bin.agg(F.sum("n_b").alias("n"))
    return (
        per_bin.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n_b",
            _fround(F.col("sp") / F.col("n_b"), 4).alias("confidence"),
            _fround(F.col("sy") / F.col("n_b"), 4).alias("accuracy"),
            _fround(
                F.abs(
                    F.col("sy") / F.col("n_b") - F.col("sp") / F.col("n_b")
                )
                * F.col("n_b").cast("double")
                / F.col("n").cast("double"),
                6,
            ).alias("ece_contrib"),
        )
    )


def q_model_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 model evaluation: exact ROC-AUC for the GD-trained
    classifier by the Mann-Whitney rank-sum identity
    AUC = (sum of positive ranks - n_pos(n_pos+1)/2) / (n_pos*n_neg),
    with AVERAGE ranks over score ties so the value is the true
    trapezoidal ROC area. Global ranking uses the bucketed two-phase
    prefix sum over the 9-dp-snapped scores (the vocab_growth /
    quantile_normalize pattern) — no single-task global window; ties
    resolve per score group via min/max rank windows, which are
    |distinct scores|-partitioned."""
    scored = _logreg_scored(spark, sf_dir)
    bucketed = scored.withColumn(
        "bkt", F.least(F.floor(F.col("p") * 1000).cast("int"), F.lit(999))
    )
    boff = (
        bucketed.groupBy("bkt")
        .agg(F.count("*").alias("bn"))
        .select(
            "bkt",
            F.coalesce(
                F.sum("bn").over(
                    Window.orderBy("bkt").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ).alias("off"),
        )
    )
    wb = Window.partitionBy("bkt").orderBy("p", "vec_id")
    ranked = (
        bucketed.withColumn("rb", F.row_number().over(wb))
        .join(boff, "bkt")
        .select(
            "y", "p", (F.col("off") + F.col("rb")).alias("r")
        )
    )
    # average rank per tied score group (p is 9-dp snapped, so ties
    # are exact equalities)
    wg = Window.partitionBy("p")
    avg_ranked = ranked.select(
        "y",
        (
            (F.min("r").over(wg) + F.max("r").over(wg)).cast("double")
            / F.lit(2.0)
        ).alias("ar"),
    )
    agg = avg_ranked.agg(
        F.sum(F.when(F.col("y") == 1.0, F.col("ar"))).alias("rs"),
        F.sum((F.col("y") == 1.0).cast("bigint")).alias("np"),
        F.sum((F.col("y") == 0.0).cast("bigint")).alias("nn"),
    )
    return agg.select(
        F.col("np").cast("bigint").alias("n_pos"),
        F.col("nn").cast("bigint").alias("n_neg"),
        _fround(
            (
                F.col("rs")
                - F.col("np").cast("double")
                * (F.col("np").cast("double") + F.lit(1.0))
                / F.lit(2.0)
            )
            / (
                F.col("np").cast("double") * F.col("nn").cast("double")
            ),
            6,
        ).alias("auc"),
    )


def q_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 distribution-free predictive uncertainty: SPLIT-CONFORMAL
    interval for the hour/dow OLS value model — fit on the md5-band
    training half, take q_hat = the ceil(0.9 * (n_cal + 1))-th
    smallest absolute calibration residual (the finite-sample-valid
    conformal quantile, an exact order statistic, not an interpolated
    percentile), and report empirical coverage of mean ± q_hat on the
    training half. The order statistic comes from the bucketed
    two-phase rank over |residual| — no single-task global sort.
    Everything is one fit aggregation + two residual passes; the
    weights never leave the plan."""
    ev = load_table(spark, sf_dir, "events")
    from aproximacion_1_etl_spark.functions.sampling import _hash_prefix

    feat = ev.select(
        "event_id",
        F.col("value").alias("y"),
        F.hour("ts").cast("bigint").alias("h"),
        F.pmod(
            F.datediff(F.col("ts").cast("date"), F.lit("1970-01-05")),
            F.lit(7),
        )
        .cast("bigint")
        .alias("d"),
        (_hash_prefix(F.col("event_id")) < "8000").alias("is_train"),
    )
    tr = feat.filter(F.col("is_train"))
    agg = tr.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("h").alias("sh"),
        F.sum("d").alias("sd"),
        F.sum(F.col("h") * F.col("h")).alias("shh"),
        F.sum(F.col("d") * F.col("d")).alias("sdd"),
        F.sum(F.col("h") * F.col("d")).alias("shd"),
        F.sum(F.col("y").cast("decimal(38,18)")).alias("sy"),
        F.sum((F.col("y") * F.col("h")).cast("decimal(38,18)")).alias("shy"),
        F.sum((F.col("y") * F.col("d")).cast("decimal(38,18)")).alias("sdy"),
    )
    m = agg.selectExpr(
        "CAST(n AS DOUBLE) AS nd",
        "CAST(sh AS DOUBLE) AS shd_",
        "CAST(sd AS DOUBLE) AS sdd_",
        "CAST(shh AS DOUBLE) AS shhd",
        "CAST(sdd AS DOUBLE) AS sddd",
        "CAST(shd AS DOUBLE) AS shdd",
        "CAST(sy AS DOUBLE) AS syd",
        "CAST(shy AS DOUBLE) AS shyd",
        "CAST(sdy AS DOUBLE) AS sdyd",
    )
    det = (
        "(nd*(shhd*sddd - shdd*shdd) - shd_*(shd_*sddd - shdd*sdd_)"
        " + sdd_*(shd_*shdd - shhd*sdd_))"
    )
    det0 = (
        "(syd*(shhd*sddd - shdd*shdd) - shd_*(shyd*sddd - shdd*sdyd)"
        " + sdd_*(shyd*shdd - shhd*sdyd))"
    )
    det1 = (
        "(nd*(shyd*sddd - shdd*sdyd) - syd*(shd_*sddd - shdd*sdd_)"
        " + sdd_*(shd_*sdyd - shyd*sdd_))"
    )
    det2 = (
        "(nd*(shhd*sdyd - shyd*shdd) - shd_*(shd_*sdyd - shyd*sdd_)"
        " + syd*(shd_*shdd - shhd*sdd_))"
    )
    w = m.selectExpr(
        f"{det0} / {det} AS w0",
        f"{det1} / {det} AS w1",
        f"{det2} / {det} AS w2",
    )
    scored = feat.crossJoin(F.broadcast(w)).select(
        "event_id",
        "is_train",
        _fround(
            F.abs(
                F.col("y")
                - (
                    F.col("w0")
                    + F.col("w1") * F.col("h").cast("double")
                    + F.col("w2") * F.col("d").cast("double")
                )
            ),
            9,
        ).alias("ar"),
    )
    cal = scored.filter(~F.col("is_train"))
    # two-phase exact rank over |residual| (values < ~500, so a unit
    # grid gives ~500 buckets)
    bucketed = cal.withColumn("bkt", F.floor("ar").cast("int"))
    boff = (
        bucketed.groupBy("bkt")
        .agg(F.count("*").alias("bn"))
        .select(
            "bkt",
            F.coalesce(
                F.sum("bn").over(
                    Window.orderBy("bkt").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ).alias("off"),
        )
    )
    wb = Window.partitionBy("bkt").orderBy("ar", "event_id")
    ranked = (
        bucketed.withColumn("rb", F.row_number().over(wb))
        .join(boff, "bkt")
        .select("ar", (F.col("off") + F.col("rb")).alias("r"))
    )
    ncal = cal.agg(F.count("*").alias("n_cal"))
    qhat = (
        ranked.crossJoin(F.broadcast(ncal))
        .filter(
            F.col("r")
            == F.least(
                F.ceil(F.lit(0.9) * (F.col("n_cal") + F.lit(1)).cast("double")),
                F.col("n_cal").cast("bigint"),
            )
        )
        .select(F.col("ar").alias("q_hat"), "n_cal")
    )
    cov = (
        scored.filter(F.col("is_train"))
        .crossJoin(F.broadcast(qhat))
        .agg(
            F.count("*").cast("bigint").alias("n_train"),
            F.first("n_cal").cast("bigint").alias("n_cal"),
            _fround(F.first("q_hat"), 4).alias("q_hat"),
            _fround(
                F.sum((F.col("ar") <= F.col("q_hat")).cast("int")).cast(
                    "double"
                )
                / F.count("*"),
                4,
            ).alias("coverage_train"),
        )
    )
    return cov


def q_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 distributed tree learning, the base case: a depth-1
    regression stump for value ~ hour. ALL 23 candidate splits are
    evaluated in ONE aggregation pass — per candidate c, the
    conditional left-count and left-sum (exact decimal) ride
    generated `sum(when(h <= c, ...))` columns, so the corpus is
    scanned once no matter how many candidates; per-split SSE then
    unfolds from the sums algebraically (SSE = Q - sumL²/nL -
    sumR²/nR needs only n/S/Q and the per-side sums) in a 23-row
    projected explode, and the argmin is a min-ordered window with a
    deterministic tiebreak. This is the exact structure every
    histogram-based GBDT (LightGBM-style) uses per node — candidates
    x features in one pass over the data.

    SSE uses a decimal Q (sum of y²), so split scores are
    order-independent; scores round to 6 dp before the argmin."""
    ev = load_table(spark, sf_dir, "events")
    feat = ev.select(
        F.col("value").alias("y"), F.hour("ts").cast("int").alias("h")
    )
    cands = list(range(23))
    aggs = [
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("y").cast("decimal(38,18)")).alias("s"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,18)")).alias("q"),
    ]
    for c in cands:
        aggs.append(
            F.sum(F.when(F.col("h") <= c, 1).otherwise(0))
            .cast("bigint")
            .alias(f"nl{c}")
        )
        aggs.append(
            F.sum(
                F.when(F.col("h") <= c, F.col("y"))
                .otherwise(0.0)
                .cast("decimal(38,18)")
            ).alias(f"sl{c}")
        )
    one = feat.agg(*aggs)
    splits = one.select(
        F.col("n"),
        F.col("s").cast("double").alias("sd"),
        F.col("q").cast("double").alias("qd"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("c"),
                        F.col(f"nl{c}").alias("nl"),
                        F.col(f"sl{c}").cast("double").alias("sl"),
                    )
                    for c in cands
                ]
            )
        ).alias("sp"),
    ).select(
        "n",
        "sd",
        "qd",
        F.col("sp.c").alias("c"),
        F.col("sp.nl").alias("nl"),
        F.col("sp.sl").alias("sl"),
    ).filter((F.col("nl") > 0) & (F.col("nl") < F.col("n")))
    sse = (
        F.col("qd")
        - (F.col("sl") * F.col("sl")) / F.col("nl").cast("double")
        - (
            (F.col("sd") - F.col("sl"))
            * (F.col("sd") - F.col("sl"))
        )
        / (F.col("n") - F.col("nl")).cast("double")
    )
    scored = splits.select(
        "n", "sd", "qd", "c", "nl", "sl", _fround(sse, 6).alias("sse")
    )
    wmin = Window.orderBy(F.col("sse").asc(), F.col("c").asc())
    best = (
        scored.withColumn("rn", F.row_number().over(wmin))
        .filter(F.col("rn") == 1)
    )
    return best.select(
        F.col("c").cast("int").alias("split_hour"),
        F.col("nl").cast("bigint").alias("n_left"),
        (F.col("n") - F.col("nl")).cast("bigint").alias("n_right"),
        _fround(F.col("sl") / F.col("nl").cast("double"), 4).alias(
            "mean_left"
        ),
        _fround(
            (F.col("sd") - F.col("sl"))
            / (F.col("n") - F.col("nl")).cast("double"),
            4,
        ).alias("mean_right"),
        _fround(
            (F.col("qd") - F.col("sd") * F.col("sd") / F.col("n").cast("double"))
            - F.col("sse"),
            4,
        ).alias("sse_reduction"),
    )


def q_gradient_boost_stumps(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """§2.10 distributed gradient boosting (squared loss, 3 rounds,
    lr = 0.5): each round fits a depth-1 stump to the CURRENT
    residuals in one corpus pass (operators/ml.py::fit_stump — all
    candidate splits as generated conditional sums) and one more pass
    scores the updated ensemble's train SSE. The driver holds only
    the stump list (it IS the model); residual expressions carry the
    snapped split means as plan literals, so each pass is a plain
    aggregation over the cached feature relation. The DuckDB oracle
    unrolls the identical three rounds — 9-dp-snapped means and
    6-dp-snapped split scores keep both engines choosing the same
    splits. Monotone train-SSE across rounds is asserted in tests;
    this is the LightGBM-style boosting loop reduced to its Spark-
    native skeleton."""
    import math as _math

    from aproximacion_1_etl_spark.operators.ml import fit_stump

    ev = load_table(spark, sf_dir, "events")
    dp = spark.sparkContext.defaultParallelism
    feat = ev.select(
        F.col("value").alias("y"), F.hour("ts").cast("int").alias("h")
    ).repartition(dp).cache()
    try:
        base_row = feat.agg(
            F.count("*").alias("n"),
            F.sum(F.col("y").cast("decimal(38,18)")).alias("s"),
        ).collect()[0]
        f0 = (
            _math.floor(
                float(base_row["s"]) / int(base_row["n"]) * 1e9 + 0.5
            )
            / 1e9
        )
        lr = 0.5
        pred = F.lit(f0)

        def _sse_of(p):
            return (
                F.sum(
                    ((F.col("y") - p) * (F.col("y") - p)).cast(
                        "decimal(38,18)"
                    )
                ).cast("double")
            )

        # Round r's ensemble SSE and round r+1's stump fit both depend
        # only on pred_r, so each round's SSE RIDES the next round's
        # one-pass fit aggregation (fit_stump extra_aggs) — 4 actions
        # over the cached relation instead of 7 (one fit + one SSE per
        # round), with the SSE computed by the byte-identical decimal
        # expression (guide §1.2: fewer passes, same per-pass work).
        stumps = []
        sses = []
        for rnd in (1, 2, 3):
            resid = F.col("y") - pred
            extras = {"sse": _sse_of(pred)} if rnd > 1 else None
            st = fit_stump(feat, resid, "h", extra_aggs=extras)
            if extras is not None:
                sses.append(float(st["extras"]["sse"]))
            stumps.append(st)
            pred = pred + F.lit(lr) * F.when(
                F.col("h") <= st["c"], F.lit(st["mean_l"])
            ).otherwise(F.lit(st["mean_r"]))
        final_row = feat.agg(_sse_of(pred).alias("sse")).collect()[0]
        sses.append(float(final_row["sse"]))
        rows = [
            (
                rnd,
                int(st["c"]),
                _math.floor(st["mean_l"] * 1e4 + 0.5) / 1e4,
                _math.floor(st["mean_r"] * 1e4 + 0.5) / 1e4,
                _math.floor(sse * 1e2 + 0.5) / 1e2,
            )
            for (rnd, st, sse) in zip((1, 2, 3), stumps, sses)
        ]
        return spark.createDataFrame(
            rows,
            "round int, split_hour int, mean_left double, "
            "mean_right double, train_sse double",
        )
    finally:
        feat.unpersist()


def q_ks_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 drift monitoring, exact flavor: per-source two-sample
    Kolmogorov-Smirnov statistic between the same hash-band corpus
    halves PSI uses — KS = sup |F_ref - F_cur|, computed exactly from
    cumulative fractions over the per-source ordered score sequence
    (one window partitioned by source; partitions are source-sized,
    never the corpus). PSI sees binned shape drift, KS the exact
    sup-norm — together they are the standard monitoring pair.
    Fractions are exact rational counts cast to double with identical
    expressions, and the statistic rounds to 6 dp."""
    from aproximacion_1_etl_spark.functions.sampling import _hash_prefix
    from aproximacion_1_etl_spark.text.analysis import quality_score

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "source",
        "doc_id",
        (_hash_prefix(F.col("doc_id")) < "8000").alias("is_ref"),
        quality_score(F.col("text")).alias("score"),
    )
    tot = scored.groupBy("source").agg(
        F.sum(F.col("is_ref").cast("int")).alias("n_ref"),
        F.sum((~F.col("is_ref")).cast("int")).alias("n_cur"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("score", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = scored.select(
        "source",
        F.sum(F.col("is_ref").cast("int")).over(w).alias("c_ref"),
        F.sum((~F.col("is_ref")).cast("int")).over(w).alias("c_cur"),
    )
    diffs = cum.join(F.broadcast(tot), "source").select(
        "source",
        F.abs(
            F.col("c_ref").cast("double") / F.col("n_ref").cast("double")
            - F.col("c_cur").cast("double") / F.col("n_cur").cast("double")
        ).alias("d"),
    )
    return diffs.groupBy("source").agg(
        _fround(F.max("d"), 6).alias("ks_stat")
    )


def q_als_rank1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 matrix-factorization trainer, the ALS archetype at
    rank 1: implicit user x event-type counts factorize as
    r_ut ≈ u_u * v_t by alternating closed-form least squares. Per
    iteration the USER factor never materializes on the driver — it
    is a per-user aggregate expression over the ratings relation
    (v is the tiny side and rides as plan literals, |types| floats,
    snapped to 9 dp per iteration: it IS the model, the codebook
    rule); the item update is one co-partitioned join + two
    aggregations. 3 iterations, then one RMSE pass. The DuckDB oracle
    unrolls the identical alternation — decimal sums everywhere keep
    the recurrence engine-portable."""
    import math as _math

    ev = load_table(spark, sf_dir, "events")
    dp = spark.sparkContext.defaultParallelism
    ratings = (
        ev.groupBy(
            F.col("user_id").alias("u"), F.col("event_type").alias("t")
        )
        .agg(F.count("*").cast("double").alias("r"))
        .repartition(dp, F.col("u"))
        .cache()
    )
    try:
        types = sorted(
            r["t"] for r in ratings.select("t").distinct().collect()
        )
        v = {t: 1.0 for t in types}

        def snap9(x: float) -> float:
            return _math.floor(x * 1e9 + 0.5) / 1e9

        def v_expr(vd):
            expr = None
            for t, val in vd.items():
                c = F.when(F.col("t") == t, F.lit(val))
                expr = c if expr is None else expr.when(
                    F.col("t") == t, F.lit(val)
                )
            return expr.otherwise(F.lit(0.0))

        for _ in range(3):
            vv = sum(v[t] * v[t] for t in sorted(v))
            u_rel = ratings.groupBy("u").agg(
                (
                    F.sum((F.col("r") * v_expr(v)).cast("decimal(38,18)"))
                    .cast("double")
                    / F.lit(vv)
                ).alias("uf")
            )
            joined = ratings.join(u_rel, "u")
            vt = joined.groupBy("t").agg(
                F.sum((F.col("r") * F.col("uf")).cast("decimal(38,18)"))
                .cast("double")
                .alias("num")
            )
            uu = u_rel.agg(
                F.sum((F.col("uf") * F.col("uf")).cast("decimal(38,18)"))
                .cast("double")
                .alias("den")
            )
            rows = vt.crossJoin(F.broadcast(uu)).select(
                "t", (F.col("num") / F.col("den")).alias("vn")
            ).collect()
            v = {r["t"]: snap9(float(r["vn"])) for r in rows}
        vv = sum(v[t] * v[t] for t in sorted(v))
        u_rel = ratings.groupBy("u").agg(
            (
                F.sum((F.col("r") * v_expr(v)).cast("decimal(38,18)"))
                .cast("double")
                / F.lit(vv)
            ).alias("uf")
        )
        sse_row = (
            ratings.join(u_rel, "u")
            .select(
                (
                    (F.col("r") - F.col("uf") * v_expr(v))
                    * (F.col("r") - F.col("uf") * v_expr(v))
                ).alias("e2"),
            )
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("e2").cast("decimal(38,18)"))
                .cast("double")
                .alias("sse"),
            )
            .collect()[0]
        )
        rmse = _math.floor(
            _math.sqrt(float(sse_row["sse"]) / int(sse_row["n"])) * 1e4
            + 0.5
        ) / 1e4
        out = [
            (t, _math.floor(v[t] * 1e4 + 0.5) / 1e4, rmse)
            for t in types
        ]
        return spark.createDataFrame(
            out, "event_type string, v_factor double, rmse double"
        )
    finally:
        ratings.unpersist()


def q_markov_prediction_accuracy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """§2.10 sequence-model evaluation: resubstitution accuracy of
    the first-order Markov next-event predictor (argmax P(next|prev),
    the event_bigrams model) — per previous state: the predicted next
    type, transition count, and hit rate. One window pass builds
    transitions, one |types|²-bounded aggregation builds the model,
    and a broadcast join scores it; the argmax tiebreak
    (count desc, type asc) is deterministic on both engines."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id",
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .filter(F.col("prev_type").isNotNull())
    )
    cm = pairs.groupBy("prev_type", "next_type").agg(
        F.count("*").alias("n")
    )
    wbest = Window.partitionBy("prev_type").orderBy(
        F.col("n").desc(), F.col("next_type").asc()
    )
    model = (
        cm.withColumn("rn", F.row_number().over(wbest))
        .filter(F.col("rn") == 1)
        .select("prev_type", F.col("next_type").alias("predicted_next"))
    )
    scored = pairs.join(F.broadcast(model), "prev_type")
    return scored.groupBy("prev_type", "predicted_next").agg(
        F.count("*").cast("bigint").alias("n_transitions"),
        _fround(
            F.sum(
                (F.col("next_type") == F.col("predicted_next")).cast(
                    "int"
                )
            ).cast("double")
            / F.count("*"),
            4,
        ).alias("accuracy"),
    )


def q_isotonic_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """§2.10 probability calibration: isotonic (PAV) regression of
    empirical accuracy on the model's score deciles — the standard
    post-hoc calibrator. Instead of the sequential pool-adjacent-
    violators loop, the fit uses the MINIMAX CLOSED FORM
    iso_i = max_{j<=i} min_{k>=i} wmean(y, j..k), which is pure
    relational algebra: weighted range means from prefix sums over
    the 10-row decile table (a 55-row range relation), then a min/max
    rollup — entirely in-plan, no driver arithmetic, no iteration.
    The corpus-sized work is the decile build (shared two-phase
    ranking); everything after is bounded by the bin grid. Calibrated
    values are monotone non-decreasing by construction (asserted)."""
    scored = _logreg_scored(spark, sf_dir)
    bucketed = scored.withColumn(
        "bkt", F.least(F.floor(F.col("p") * 1000).cast("int"), F.lit(999))
    )
    boff = (
        bucketed.groupBy("bkt")
        .agg(F.count("*").alias("bn"))
        .select(
            "bkt",
            F.coalesce(
                F.sum("bn").over(
                    Window.orderBy("bkt").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ).alias("off"),
        )
    )
    wb = Window.partitionBy("bkt").orderBy("p", "vec_id")
    ranked = (
        bucketed.withColumn("rb", F.row_number().over(wb))
        .join(boff, "bkt")
        .select("y", "p", (F.col("off") + F.col("rb")).alias("r"))
    )
    n_tot = scored.agg(F.count("*").alias("n_all"))
    deciles = (
        ranked.crossJoin(F.broadcast(n_tot))
        .select(
            "y",
            "p",
            F.expr("CAST(((r - 1) * 10) div n_all AS INT)").alias("bin"),
        )
        .groupBy("bin")
        .agg(
            F.count("*").cast("bigint").alias("n_b"),
            F.sum(F.col("p").cast("decimal(38,18)"))
            .cast("double")
            .alias("sp"),
            F.sum(F.col("y").cast("decimal(38,18)"))
            .cast("double")
            .alias("sy"),
        )
    )
    # prefix sums over the ordered bins -> weighted range means
    wcum = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pre = deciles.select(
        "bin",
        "n_b",
        "sp",
        "sy",
        F.sum("n_b").over(wcum).alias("cn"),
        F.sum(F.col("sy").cast("decimal(38,18)"))
        .over(wcum)
        .cast("double")
        .alias("cy"),
    )
    lo = pre.select(
        F.col("bin").alias("j"),
        (F.col("cn") - F.col("n_b")).alias("cn_lo"),
        (
            F.col("cy")
            - F.col("sy")
        ).alias("cy_lo"),
    )
    hi = pre.select(
        F.col("bin").alias("k"),
        F.col("cn").alias("cn_hi"),
        F.col("cy").alias("cy_hi"),
    )
    ranges = lo.crossJoin(hi).filter(F.col("j") <= F.col("k")).select(
        "j",
        "k",
        (
            (F.col("cy_hi") - F.col("cy_lo"))
            / (F.col("cn_hi") - F.col("cn_lo")).cast("double")
        ).alias("wmean"),
    )
    bins = deciles.select("bin", "n_b", "sp", "sy")
    cand = bins.crossJoin(ranges).filter(
        (F.col("j") <= F.col("bin")) & (F.col("k") >= F.col("bin"))
    )
    inner = cand.groupBy("bin", "n_b", "sp", "sy", "j").agg(
        F.min("wmean").alias("mn")
    )
    iso = inner.groupBy("bin", "n_b", "sp", "sy").agg(
        F.max("mn").alias("iso_raw")
    )
    return iso.select(
        "bin",
        "n_b",
        _fround(F.col("sp") / F.col("n_b"), 4).alias("confidence"),
        _fround(F.col("sy") / F.col("n_b"), 4).alias("accuracy"),
        _fround(F.col("iso_raw"), 4).alias("calibrated"),
    )


def q_drift_fdr_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 multiple-testing control for drift monitoring: per-source
    KS statistics (the ks_drift_report computation) converted to
    asymptotic two-sample p-values (Kolmogorov series, 5 terms —
    deterministic exp arithmetic, 9-dp snapped before any compare)
    and screened by Benjamini-Hochberg at FDR alpha = 0.1 — the
    correct way to alarm on hundreds of per-source drift tests
    without drowning in false positives. The BH step-up is two
    windows over the |sources| relation: the p-ascending rank, and
    the max qualifying rank broadcast back as the rejection frontier."""
    from aproximacion_1_etl_spark.functions.sampling import _hash_prefix
    from aproximacion_1_etl_spark.text.analysis import quality_score

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "source",
        "doc_id",
        (_hash_prefix(F.col("doc_id")) < "8000").alias("is_ref"),
        quality_score(F.col("text")).alias("score"),
    )
    tot = scored.groupBy("source").agg(
        F.sum(F.col("is_ref").cast("int")).alias("n_ref"),
        F.sum((~F.col("is_ref")).cast("int")).alias("n_cur"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("score", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = scored.select(
        "source",
        F.sum(F.col("is_ref").cast("int")).over(w).alias("c_ref"),
        F.sum((~F.col("is_ref")).cast("int")).over(w).alias("c_cur"),
    )
    ks = (
        cum.join(F.broadcast(tot), "source")
        .select(
            "source",
            "n_ref",
            "n_cur",
            F.abs(
                F.col("c_ref").cast("double")
                / F.col("n_ref").cast("double")
                - F.col("c_cur").cast("double")
                / F.col("n_cur").cast("double")
            ).alias("d"),
        )
        .groupBy("source", "n_ref", "n_cur")
        .agg(F.max("d").alias("ks"))
    )
    lam = F.col("ks") * F.sqrt(
        F.col("n_ref").cast("double")
        * F.col("n_cur").cast("double")
        / (F.col("n_ref") + F.col("n_cur")).cast("double")
    )
    series = None
    for j in range(1, 6):
        term = F.lit(float((-1) ** (j - 1)) * 2.0) * F.exp(
            F.lit(-2.0 * j * j) * lam * lam
        )
        series = term if series is None else series + term
    pval = F.least(
        F.greatest(
            F.floor(series * F.lit(1e9) + F.lit(0.5)) / F.lit(1e9),
            F.lit(0.0),
        ),
        F.lit(1.0),
    )
    tested = ks.select(
        "source", _fround(F.col("ks"), 6).alias("ks_stat"),
        pval.alias("p9"),
    )
    wr = Window.orderBy(F.col("p9").asc(), F.col("source").asc())
    ranked = tested.withColumn("rank", F.row_number().over(wr))
    m = ranked.agg(F.count("*").alias("m"))
    flagged = ranked.crossJoin(F.broadcast(m)).withColumn(
        "qual",
        F.when(
            F.col("p9")
            <= F.col("rank").cast("double")
            * F.lit(0.1)
            / F.col("m").cast("double"),
            F.col("rank"),
        ).otherwise(F.lit(0)),
    )
    kmax = flagged.agg(F.max("qual").alias("kmax"))
    return (
        flagged.crossJoin(F.broadcast(kmax))
        .select(
            "source",
            "ks_stat",
            _fround(F.col("p9"), 6).alias("p_value"),
            F.col("rank").cast("bigint").alias("rank"),
            (F.col("rank") <= F.col("kmax")).cast("int").alias(
                "drift_flagged"
            ),
        )
    )


def q_score_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 filter-design analysis: Pearson correlation between the
    two per-document quality signals the pipeline computes (the
    rule-based quality score and length in characters) — redundant
    filters waste compute and bias the corpus, so the correlation
    matrix between candidate signals is what decides which filters to
    keep. One aggregation of exact decimal moment sums; r from the
    product-moment identity with identical IEEE arithmetic on both
    engines."""
    from aproximacion_1_etl_spark.text.analysis import quality_score

    docs = load_table(spark, sf_dir, "documents")
    xy = docs.select(
        quality_score(F.col("text")).alias("x"),
        F.col("n_chars").cast("double").alias("y"),
    )
    agg = xy.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("x").cast("decimal(38,18)")).cast("double").alias("sx"),
        F.sum(F.col("y").cast("decimal(38,18)")).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,18)"))
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,18)"))
        .cast("double")
        .alias("syy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,18)"))
        .cast("double")
        .alias("sxy"),
    )
    nd = F.col("n").cast("double")
    r = (F.col("sxy") - F.col("sx") * F.col("sy") / nd) / F.sqrt(
        (F.col("sxx") - F.col("sx") * F.col("sx") / nd)
        * (F.col("syy") - F.col("sy") * F.col("sy") / nd)
    )
    return agg.select("n", _fround(r, 6).alias("pearson_r"))


def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 fraud/DQ screening: Benford first-digit audit of order
    totals — observed leading-digit frequencies vs the Benford
    expectation log10(1 + 1/d), with each digit's chi-square
    contribution. Synthetic or fabricated monetary data drifts from
    Benford; the per-digit contributions localize WHERE. One
    aggregation to a 9-row relation; the leading digit is extracted
    arithmetically (digit of |x| shifted into [1, 10) by a log10
    floor), identically on both engines."""
    orders = load_table(spark, sf_dir, "orders")
    x = F.abs(F.col("o_totalprice"))
    lead = F.floor(
        x / F.pow(F.lit(10.0), F.floor(F.log10(x)))
    ).cast("int")
    digits = orders.filter(x > 0).select(lead.alias("d"))
    per = digits.groupBy("d").agg(F.count("*").cast("bigint").alias("n"))
    tot = per.agg(F.sum("n").alias("n_all"))
    expected = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("d").cast("double"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "d",
            "n",
            _fround(
                F.col("n").cast("double") / F.col("n_all").cast("double"),
                6,
            ).alias("observed_freq"),
            _fround(expected, 6).alias("benford_freq"),
            _fround(
                (
                    F.col("n").cast("double")
                    - F.col("n_all").cast("double") * expected
                )
                * (
                    F.col("n").cast("double")
                    - F.col("n_all").cast("double") * expected
                )
                / (F.col("n_all").cast("double") * expected),
                4,
            ).alias("chi2_contrib"),
        )
    )


def q_spearman_correlation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """§2.10 filter-design analysis, rank flavor: Spearman rho
    between the quality score and document length — the robust
    companion to score_correlation's Pearson r (monotone association,
    immune to the length tail). Average ranks over ties for BOTH
    variables via the model_auc pattern (bucketed two-phase global
    rank + per-value min/max averaging), then one Pearson moment
    aggregation over the rank pairs. No single-task global sort:
    both rankings ride the 1000-cell grid prefix sums."""
    from aproximacion_1_etl_spark.text.analysis import quality_score

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        quality_score(F.col("text")).alias("x"),
        F.col("n_chars").cast("double").alias("y"),
    )

    def avg_rank(df, col, out):
        mx = df.agg(
            F.max(F.col(col)).alias("mx"), F.min(F.col(col)).alias("mn")
        )
        b = df.crossJoin(F.broadcast(mx)).withColumn(
            "bkt",
            F.least(
                F.floor(
                    (F.col(col) - F.col("mn"))
                    / (F.col("mx") - F.col("mn") + F.lit(1e-12))
                    * 1000
                ).cast("int"),
                F.lit(999),
            ),
        )
        boff = (
            b.groupBy("bkt")
            .agg(F.count("*").alias("bn"))
            .select(
                "bkt",
                F.coalesce(
                    F.sum("bn").over(
                        Window.orderBy("bkt").rowsBetween(
                            Window.unboundedPreceding, -1
                        )
                    ),
                    F.lit(0),
                ).alias("off"),
            )
        )
        wb = Window.partitionBy("bkt").orderBy(col, "doc_id")
        ranked = (
            b.withColumn("rb", F.row_number().over(wb))
            .join(boff, "bkt")
            .withColumn("r", F.col("off") + F.col("rb"))
        )
        wg = Window.partitionBy(col)
        return ranked.select(
            "doc_id",
            (
                (F.min("r").over(wg) + F.max("r").over(wg)).cast(
                    "double"
                )
                / F.lit(2.0)
            ).alias(out),
        )
    rx = avg_rank(base, "x", "rx")
    ry = avg_rank(base, "y", "ry")
    pairs = rx.join(ry, "doc_id")
    agg = pairs.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("rx").cast("decimal(38,18)")).cast("double").alias("sx"),
        F.sum(F.col("ry").cast("decimal(38,18)")).cast("double").alias("sy"),
        F.sum((F.col("rx") * F.col("rx")).cast("decimal(38,18)"))
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("ry") * F.col("ry")).cast("decimal(38,18)"))
        .cast("double")
        .alias("syy"),
        F.sum((F.col("rx") * F.col("ry")).cast("decimal(38,18)"))
        .cast("double")
        .alias("sxy"),
    )
    nd = F.col("n").cast("double")
    rho = (F.col("sxy") - F.col("sx") * F.col("sy") / nd) / F.sqrt(
        (F.col("sxx") - F.col("sx") * F.col("sx") / nd)
        * (F.col("syy") - F.col("sy") * F.col("sy") / nd)
    )
    return agg.select("n", _fround(rho, 6).alias("spearman_rho"))


def q_attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch TIME-DECAY attribution (completes the attribution
    family next to last-touch): every click/view touch in the 7 days
    before a purchase earns harmonic decay credit 1/(1 + age_days),
    normalized so each purchase distributes exactly 1.0 across its
    touches; per channel the credits sum. The touch-to-purchase range
    join carries only (user, ts, type) and is bounded per user by the
    7-day window — the skew ceiling is one user's weekly event volume,
    not the table. Harmonic (not exponential) decay is deliberate:
    every weight is ONE IEEE division of exact integers, so both
    engines compute bit-identical weights (libm pow is not correctly
    rounded), and every cross-row sum crosses engines as decimal —
    order-independent."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "event_id"
    )
    touches = ev.filter(F.col("event_type").isin("click", "view"))
    buys = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_id"),
    )
    age_days = F.floor(
        (
            F.unix_timestamp("p_ts") - F.unix_timestamp("ts")
        ).cast("double")
        / F.lit(86400.0)
    ).cast("int")
    joined = touches.join(
        buys,
        (touches["user_id"] == buys["user_id"])
        & (F.col("ts") < F.col("p_ts"))
        & (F.col("ts") >= F.col("p_ts") - F.expr("INTERVAL 7 DAYS")),
    ).select(
        "event_type",
        "p_id",
        (F.lit(1.0) / (F.lit(1.0) + age_days)).alias("w"),
    )
    w_tot = Window.partitionBy("p_id")
    credited = joined.withColumn(
        "credit",
        F.col("w")
        / F.sum(F.col("w").cast("decimal(30,15)"))
        .over(w_tot)
        .cast("double"),
    )
    return credited.groupBy("event_type").agg(
        _fround(
            F.sum(F.col("credit").cast("decimal(30,15)")).cast("double"),
            4,
        ).alias("total_credit"),
        F.countDistinct("p_id").cast("bigint").alias("n_purchases"),
    )


def q_target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 categorical target encoding for feature pipelines:
    per-category smoothed mean encoding plus the LEAVE-ONE-OUT family
    rendered in closed form from one moment pass — per row i the LOO
    encoding is (S - y_i)/(n - 1), so the per-category min / max /
    mean-square of ALL row-level encodings follow from (n, S, Q=sum y²,
    min y, max y) with no per-row second pass and no self-join. This is
    the leakage-safe encoder a 100 TB training pipeline needs: the fact
    table is scanned once, the encoder table is |categories|-sized.
    Decimal moment sums keep every number engine-identical."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    d = o.join(
        F.broadcast(c.select("c_custkey", "c_mktsegment")),
        o["o_custkey"] == F.col("c_custkey"),
    ).select(
        F.col("c_mktsegment").alias("segment"),
        F.col("o_totalprice").alias("y"),
    )

    def dsum(e):
        return F.sum(e.cast("decimal(38,12)")).cast("double")

    g = d.groupBy("segment").agg(
        F.count("*").cast("double").alias("n"),
        dsum(F.col("y")).alias("s"),
        dsum(F.col("y") * F.col("y")).alias("q"),
        F.min("y").alias("y_min"),
        F.max("y").alias("y_max"),
    )
    prior = d.agg(
        (dsum(F.col("y")) / F.count("*")).alias("_prior")
    )
    m = F.lit(20.0)
    loo_den = (F.col("n") - 1) * (F.col("n") - 1)
    return g.crossJoin(F.broadcast(prior)).select(
        "segment",
        F.col("n").cast("bigint").alias("n"),
        _fround(
            (F.col("s") + m * F.col("_prior")) / (F.col("n") + m), 4
        ).alias("enc_smoothed"),
        _fround(
            (F.col("s") - F.col("y_max")) / (F.col("n") - 1), 4
        ).alias("loo_min"),
        _fround(
            (F.col("s") - F.col("y_min")) / (F.col("n") - 1), 4
        ).alias("loo_max"),
        _fround(
            ((F.col("n") - 2) * F.col("s") * F.col("s") + F.col("q"))
            / (loo_den * F.col("n")),
            4,
        ).alias("loo_sq_mean"),
    )


def q_woe_iv_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 weight-of-evidence / information-value feature screening:
    equi-depth bin a numeric feature (ntile over a TOTAL order —
    deterministic in any engine), cross each bin with a binary target
    (customer ever placed an URGENT order), and score WOE =
    ln(odds_bin / odds_global) with +0.5 Laplace cells so empty bins
    stay finite. The credit-scoring screen, but distributed: one
    |customers|-sized window for the binning, one |bins|-row report.
    At 100 TB the ntile window would ride the two-phase bucketed rank
    (grouped_quantiles machinery); at dimension-table scale the plain
    window is the right plan."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    lab = (
        o.groupBy("o_custkey")
        .agg(
            F.max(
                (F.col("o_orderpriority") == "1-URGENT").cast("int")
            ).alias("pos")
        )
    )
    t = c.join(
        lab, c["c_custkey"] == lab["o_custkey"], "left"
    ).select(
        "c_custkey",
        "c_acctbal",
        F.coalesce(F.col("pos"), F.lit(0)).alias("pos"),
    )
    n_bins = 10
    binned = t.withColumn(
        "bin",
        F.ntile(n_bins).over(
            Window.orderBy(F.col("c_acctbal"), F.col("c_custkey"))
        ),
    )
    g = binned.groupBy("bin").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum(1 - F.col("pos")).cast("bigint").alias("n_neg"),
        _fround(F.min("c_acctbal"), 2).alias("bin_lo"),
        _fround(F.max("c_acctbal"), 2).alias("bin_hi"),
    )
    tot = t.agg(
        F.sum("pos").cast("double").alias("_pt"),
        F.sum(1 - F.col("pos")).cast("double").alias("_nt"),
    )
    pr = (F.col("n_pos") + 0.5) / F.col("_pt")
    nr = (F.col("n_neg") + 0.5) / F.col("_nt")
    woe = F.log(pr / nr)
    return g.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n",
        "n_pos",
        "n_neg",
        "bin_lo",
        "bin_hi",
        _fround(woe, 6).alias("woe"),
        _fround(
            (
                F.col("n_pos") / F.col("_pt")
                - F.col("n_neg") / F.col("_nt")
            )
            * woe,
            6,
        ).alias("iv_contrib"),
    )


def q_kfold_cv_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 k-fold cross-validated many-models OLS — the evaluation
    loop that normally forces k re-trainings collapses into ONE moment
    pass (_cv_fold_moments): per-(segment, fold) moment vectors sum
    EXACTLY (decimal) to the segment totals, each fold's train model is
    the closed-form fit on (total - fold) moments, and the held-out SSE
    unfolds algebraically from the fold's own moments (_oof_sse).
    k models x |segments| segments evaluated with zero extra scans —
    extends per_group_ols (queries.py:1134) from fit to honest
    out-of-fold error."""
    j = _cv_fold_moments(spark, sf_dir, k=5)
    slope = (
        F.col("tr_n") * F.col("tr_sxy")
        - F.col("tr_sx") * F.col("tr_sy")
    ) / (
        F.col("tr_n") * F.col("tr_sxx")
        - F.col("tr_sx") * F.col("tr_sx")
    )
    icept = (F.col("tr_sy") - slope * F.col("tr_sx")) / F.col("tr_n")
    per_fold = j.select(
        "segment",
        "n_tot",
        slope.alias("_slope"),
        _oof_sse(icept, slope).alias("_sse"),
    )
    return per_fold.groupBy("segment").agg(
        F.max("n_tot").cast("bigint").alias("n"),
        _fround(
            F.sqrt(
                F.sum(F.expr("CAST(_sse AS DECIMAL(38,6))")).cast(
                    "double"
                )
                / F.max("n_tot")
            ),
            4,
        ).alias("cv_rmse"),
        _fround(F.min("_slope"), 6).alias("slope_lo"),
        _fround(F.max("_slope"), 6).alias("slope_hi"),
    )


def q_attribution_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 POSITION-BASED (U-shaped) multi-touch attribution —
    completes the family next to last-touch and time-decay: within each
    purchase's 7-day touch window the first and last touches earn 0.4
    each and the middles share 0.2 (1 touch -> 1.0, 2 -> 0.5/0.5).
    Position comes from ONE window over the per-purchase touch sets the
    range join already produced; every weight is exact binary literals
    and one IEEE division, credits cross engines as decimal sums."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "event_id"
    )
    touches = ev.filter(F.col("event_type").isin("click", "view"))
    buys = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_id"),
    )
    joined = touches.join(
        buys,
        (touches["user_id"] == buys["user_id"])
        & (F.col("ts") < F.col("p_ts"))
        & (F.col("ts") >= F.col("p_ts") - F.expr("INTERVAL 7 DAYS")),
    ).select("event_type", "p_id", "ts", "event_id")
    w = Window.partitionBy("p_id").orderBy("ts", "event_id")
    w_all = Window.partitionBy("p_id")
    pos = (
        joined.withColumn("rk", F.row_number().over(w))
        .withColumn("n", F.count("*").over(w_all))
    )
    credit = (
        F.when(F.col("n") == 1, F.lit(1.0))
        .when(F.col("n") == 2, F.lit(0.5))
        .when(F.col("rk") == 1, F.lit(0.4))
        .when(F.col("rk") == F.col("n"), F.lit(0.4))
        .otherwise(F.lit(0.2) / (F.col("n") - 2))
    )
    return pos.groupBy("event_type").agg(
        _fround(
            F.sum(credit.cast("decimal(30,15)")).cast("double"), 4
        ).alias("total_credit"),
        F.countDistinct("p_id").cast("bigint").alias("n_purchases"),
    )


def q_ridge_path_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 hyperparameter tuning at scale: the ridge regularization
    path per segment, cross-validated, from the SAME single moment
    pass as kfold_cv_ols (_cv_fold_moments — shared, so the fold
    hashing and decimal algebra cannot drift) — the penalty grid is
    RELATIVE (lambda = alpha * centered train Sxx, alpha in
    {0, .25, 1, 4}, all exact binary), so the sweep is scale-free and
    each (segment, fold, alpha) model is closed-form column algebra on
    the |segments|x|k| moment relation exploded by 4. k x |grid| x
    |segments| honest out-of-fold errors, zero extra scans,
    deterministic best-alpha pick."""
    j = _cv_fold_moments(spark, sf_dir, k=5).select(
        "*",
        F.explode(
            F.array(
                F.lit(0.0), F.lit(0.25), F.lit(1.0), F.lit(4.0)
            )
        ).alias("alpha"),
    )
    sxx_c = F.col("tr_sxx") - F.col("tr_sx") * F.col("tr_sx") / F.col(
        "tr_n"
    )
    sxy_c = F.col("tr_sxy") - F.col("tr_sx") * F.col("tr_sy") / F.col(
        "tr_n"
    )
    slope = sxy_c / (sxx_c * (F.lit(1.0) + F.col("alpha")))
    icept = (F.col("tr_sy") - slope * F.col("tr_sx")) / F.col("tr_n")
    per_alpha = (
        j.select(
            "segment",
            "alpha",
            F.col("n_tot"),
            _oof_sse(icept, slope).alias("_sse"),
        )
        .groupBy("segment", "alpha")
        .agg(
            _fround(
                F.sqrt(
                    F.sum(F.expr("CAST(_sse AS DECIMAL(38,6))")).cast(
                        "double"
                    )
                    / F.max("n_tot")
                ),
                4,
            ).alias("cv_rmse")
        )
    )
    w_best = Window.partitionBy("segment").orderBy(
        F.col("cv_rmse").asc(), F.col("alpha").asc()
    )
    return per_alpha.select(
        "segment",
        "alpha",
        "cv_rmse",
        (F.row_number().over(w_best) == 1).alias("is_best"),
    )


def q_purged_time_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 leakage-safe TEMPORAL cross-validation folds with an
    embargo gap (the forecasting twin of cluster_safe_split): three
    rolling-origin test weeks, train strictly before test-start minus a
    2-day embargo so label-adjacent rows can't leak across the
    boundary. One conditional-aggregation pass over the facts (the
    fk_report single-scan shape) renders all folds; gap_ok re-verifies
    the embargo from the data itself, not the spec."""
    ev = load_table(spark, sf_dir, "events").select("ts")
    folds = [
        ("f1", "2024-01-08", "2024-01-15"),
        ("f2", "2024-01-15", "2024-01-22"),
        ("f3", "2024-01-22", "2024-01-29"),
    ]
    embargo = F.expr("INTERVAL 2 DAYS")
    aggs = []
    for name, start, end in folds:
        s, e = F.lit(start).cast("timestamp"), F.lit(end).cast("timestamp")
        in_tr = F.col("ts") < s - embargo
        in_te = (F.col("ts") >= s) & (F.col("ts") < e)
        aggs += [
            F.count(F.when(in_tr, 1)).cast("bigint").alias(f"_ntr_{name}"),
            F.count(F.when(in_te, 1)).cast("bigint").alias(f"_nte_{name}"),
            F.max(F.when(in_tr, F.col("ts"))).alias(f"_mtr_{name}"),
            F.min(F.when(in_te, F.col("ts"))).alias(f"_mte_{name}"),
        ]
    one = ev.agg(*aggs)
    stacked = ", ".join(
        f"'{name}', _ntr_{name}, _nte_{name}, _mtr_{name}, _mte_{name}"
        for name, _s, _e in folds
    )
    out = one.select(
        F.expr(
            f"stack({len(folds)}, {stacked})"
            " AS (fold, n_train, n_test, max_train_ts, min_test_ts)"
        )
    )
    gap = F.unix_timestamp("min_test_ts") - F.unix_timestamp(
        "max_train_ts"
    )
    return out.select(
        "fold",
        "n_train",
        "n_test",
        _ts_str("max_train_ts").alias("max_train_ts"),
        _ts_str("min_test_ts").alias("min_test_ts"),
        (gap >= F.lit(172800)).alias("gap_ok"),
    )


def q_changepoint_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 change-point detection per series (binary-segmentation
    step 1, the time-axis sibling of decision_stump): the SSE-optimal
    day split of each event_type's value series found from ONE daily
    moment aggregation — cumulative decimal (n, S, Q) prefixes per
    type give every candidate split's left/right SSE in closed form,
    argmin by window rank with earliest-day tiebreak. |types|x|days|
    state; the fact table is scanned once; no per-candidate job."""
    ev = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.to_date("ts").alias("day"),
            F.col("value").cast("double").alias("value"),
        )
        .filter(F.col("value").isNotNull())
    )
    return _changepoint_render(_changepoint_daily(ev))


def q_acf_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 time-series autocorrelation per series: ACF of the daily
    mean value at lags 1, 2, 7 per event_type — the
    seasonality/persistence screen beside holt_forecast and
    seasonal_anomaly. The fact table collapses to the |types|x|days|
    daily-mean state ONCE; each lag is a self-join of that tiny state
    on (type, day+lag) plus one Pearson moment aggregation — lag count
    scales the state joins, never the fact scan. Decimal cross-row
    sums keep every correlation engine-identical."""
    ev = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.to_date("ts").alias("day"),
            F.col("value").cast("double").alias("value"),
        )
        .filter(F.col("value").isNotNull())
    )

    def dsum(e):
        return F.sum(e.cast("decimal(38,12)")).cast("double")

    daily = ev.groupBy("event_type", "day").agg(
        (dsum(F.col("value")) / F.count("*")).alias("m")
    )
    lags = spark.range(1).select(
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(7))).alias("lag")
    )
    a = daily.alias("a").crossJoin(F.broadcast(lags))
    pairs = a.join(
        daily.alias("b"),
        (F.col("a.event_type") == F.col("b.event_type"))
        & (
            F.col("b.day")
            == F.expr("date_add(a.day, CAST(lag AS INT))")
        ),
    ).select(
        F.col("a.event_type").alias("event_type"),
        "lag",
        F.col("a.m").alias("x"),
        F.col("b.m").alias("y"),
    )
    g = pairs.groupBy("event_type", "lag").agg(
        F.count("*").cast("double").alias("n"),
        dsum(F.col("x")).alias("sx"),
        dsum(F.col("y")).alias("sy"),
        dsum(F.col("x") * F.col("x")).alias("sxx"),
        dsum(F.col("x") * F.col("y")).alias("sxy"),
        dsum(F.col("y") * F.col("y")).alias("syy"),
    )
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return g.select(
        "event_type",
        F.col("lag").cast("int").alias("lag"),
        F.col("n").cast("bigint").alias("n_pairs"),
        _fround(cov / F.sqrt(vx * vy), 4).alias("acf"),
    )


def q_budget_apportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 EXACT integer apportionment (largest-remainder /
    Hamilton): a 10,000-unit budget allocated across segments
    proportional to revenue — floor quotas first, then the leftover
    units go to the largest fractional remainders (deterministic
    tiebreak). The token-budget sibling of the waterfill planner
    (token_budget_plan) for when the allocation must be integral and
    sum EXACTLY to the budget. Quotas are one IEEE division off exact
    decimal revenue; the leftover count is integer algebra over the
    |segments| aggregate."""
    budget = 10000
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    rev = (
        o.join(
            F.broadcast(
                c.select(
                    "c_custkey", F.col("c_mktsegment").alias("segment")
                )
            ),
            o["o_custkey"] == F.col("c_custkey"),
        )
        .groupBy("segment")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(38,12)")).alias(
                "rev"
            )
        )
    )
    w_all = Window.partitionBy()
    quota = (
        F.col("rev").cast("double")
        / F.sum("rev").over(w_all).cast("double")
        * F.lit(float(budget))
    )
    based = rev.select(
        "segment",
        quota.alias("quota"),
        F.floor(quota).cast("bigint").alias("base"),
        (quota - F.floor(quota)).alias("frac"),
    )
    w_rank = Window.orderBy(F.col("frac").desc(), F.col("segment").asc())
    leftover = F.lit(budget) - F.sum("base").over(w_all)
    return based.select(
        "segment",
        _fround(F.col("quota"), 4).alias("quota"),
        (
            F.col("base")
            + (F.row_number().over(w_rank) <= leftover).cast("bigint")
        ).alias("alloc"),
    )


def q_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 Theil-Sen robust trend per event type — the median of all
    pairwise slopes of the DAILY revenue series, insensitive to ~29%
    of days being outliers where the OLS fit (ols_event_model) is not.
    The quadratic pair set is generated from the |types|x|days| daily
    AGGREGATE (~465 pairs/type for a month of days), never the raw
    facts, so the cost at any SF is one scan plus a tiny self-join.
    Daily sums are decimal-exact; each slope is one IEEE division; the
    median is the exact mean of the two middle order statistics under
    a fully deterministic (slope, d1, d2) order."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("value").isNotNull())
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            F.sum(F.col("value").cast("decimal(38,18)"))
            .cast("double")
            .alias("rev")
        )
    )
    a = daily.select(
        "event_type",
        F.col("day").alias("d1"),
        F.col("rev").alias("v1"),
    )
    b = daily.select(
        "event_type",
        F.col("day").alias("d2"),
        F.col("rev").alias("v2"),
    )
    pairs = (
        a.join(b, "event_type")
        .filter(F.col("d1") < F.col("d2"))
        .select(
            "event_type",
            "d1",
            "d2",
            (
                (F.col("v2") - F.col("v1"))
                / F.datediff("d2", "d1").cast("double")
            ).alias("slope"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("slope", "d1", "d2")
    ranked = pairs.select(
        "event_type",
        "slope",
        F.row_number().over(w).alias("rn"),
        F.count("*")
        .over(Window.partitionBy("event_type"))
        .alias("m"),
    )
    med = (
        ranked.filter(
            (F.col("rn") == F.floor((F.col("m") + 1) / 2))
            | (F.col("rn") == F.floor(F.col("m") / 2) + 1)
        )
        .groupBy("event_type")
        .agg(
            (F.sum("slope") / F.count("*")).alias("_sen"),
            F.max("m").cast("bigint").alias("n_pairs"),
        )
    )
    # n_pairs = C(n_days, 2) exactly, so n_days recovers algebraically
    # (sqrt of a perfect square is correctly rounded — exact): no
    # second scan of the daily aggregate, no extra join.
    return med.select(
        "event_type",
        F.floor(
            (
                F.lit(1.0)
                + F.sqrt(
                    F.lit(1.0) + F.lit(8.0) * F.col("n_pairs").cast("double")
                )
            )
            / F.lit(2.0)
        )
        .cast("bigint")
        .alias("n_days"),
        "n_pairs",
        _fround(F.col("_sen"), 4).alias("sen_slope"),
    )


def q_mann_whitney_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 nonparametric A/B readout: Mann-Whitney U with tie
    correction — the rank-sum complement of ab_test_report's Welch t
    for skewed per-user value distributions (same md5-band arms).
    SCALE-CORRECT RANKING: no global row_number over users — per-user
    values aggregate to per-VALUE counts, one cumulative window over
    the |distinct values| aggregate assigns exact average ranks, and
    every quantity through 2U stays an exact integer (ranks are
    integers-plus-halves, carried doubled): the tie-corrected normal z
    is the only IEEE step. Per-user values are grouped as decimals so
    value equality is engine-exact. At 100x the |distinct values|
    window is the lever — it rides the same two-phase prefix-sum
    rewrite max_concurrency uses."""
    from aproximacion_1_etl_spark.functions.sampling import _hash_prefix

    ev = load_table(spark, sf_dir, "events")
    per_user = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(F.col("value").cast("decimal(38,18)")).alias("uv")
        )
        .withColumn(
            "arm",
            F.when(
                _hash_prefix(F.col("user_id")) < "8000", "A"
            ).otherwise("B"),
        )
    )
    vals = per_user.groupBy("uv").agg(
        F.count("*").cast("decimal(38,0)").alias("t"),
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("ta"),
    )
    w_cum = Window.orderBy("uv").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = vals.select(
        "t",
        "ta",
        F.coalesce(F.sum("t").over(w_cum), F.lit(0))
        .cast("decimal(38,0)")
        .alias("cb"),
    )
    # doubled average rank: 2*rank = 2*cum_before + t + 1 (integer)
    r2 = 2 * F.col("cb") + F.col("t") + 1
    agg = ranked.agg(
        F.sum("t").cast("decimal(38,0)").alias("n"),
        F.sum("ta").cast("decimal(38,0)").alias("na"),
        F.sum(F.col("ta") * r2).cast("decimal(38,0)").alias("ra2"),
        F.sum(
            F.col("t") * F.col("t") * F.col("t") - F.col("t")
        ).cast("decimal(38,0)").alias("tie3"),
    )
    n = F.col("n").cast("double")
    na = F.col("na").cast("double")
    nb = (F.col("n") - F.col("na")).cast("double")
    # 2*U_A = sum(2*rank_A) - nA*(nA+1)  (exact integer)
    u2 = (
        F.col("ra2") - F.col("na") * (F.col("na") + 1)
    ).cast("double")
    mu2 = na * nb  # 2*mu = nA*nB
    sigma2 = (
        na * nb / F.lit(12.0)
    ) * (
        (n + 1)
        - F.col("tie3").cast("double") / (n * (n - F.lit(1.0)))
    )
    z = (u2 - mu2) / (F.lit(2.0) * F.sqrt(sigma2))
    return agg.select(
        F.col("na").cast("bigint").alias("n_a"),
        (F.col("n") - F.col("na")).cast("bigint").alias("n_b"),
        (u2 / F.lit(2.0)).alias("u_a"),
        _fround(z, 4).alias("z"),
        _fround(F.lit(1.0) - u2 / (na * nb), 4).alias(
            "rank_biserial"
        ),
    )


def q_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 difference-in-differences estimator — the panel-causal
    workhorse next to ab_test_report: treatment arm = the engine's
    deterministic md5 hash band of user_id, period = pre/post a
    mid-series cutover, outcome = purchase value. ONE
    conditional-aggregation pass over the facts renders all four
    (arm x period) cells' decimal-exact moments; the DiD point
    estimate and its pooled SE are scalar algebra on the single
    4-cell row. (Hash-randomized arms mean the true effect is 0 —
    the key exercises the estimator on null data.)"""
    from aproximacion_1_etl_spark.functions.sampling import _hash_prefix

    ev = load_table(spark, sf_dir, "events")
    d = ev.filter(
        (F.col("event_type") == "purchase")
        & F.col("value").isNotNull()
    ).select(
        F.when(_hash_prefix(F.col("user_id")) < "8000", 1)
        .otherwise(0)
        .alias("treat"),
        (F.col("ts") >= F.lit("2024-01-16")).cast("int").alias("post"),
        F.col("value").alias("y"),
    )

    def cell(tr: int, po: int, e):
        return F.sum(
            F.when(
                (F.col("treat") == tr) & (F.col("post") == po), e
            ).cast("decimal(38,18)")
        ).cast("double")

    aggs = []
    for tr in (0, 1):
        for po in (0, 1):
            sfx = f"{'t' if tr else 'c'}{po}"
            aggs += [
                cell(tr, po, F.lit(1)).alias("n_" + sfx),
                cell(tr, po, F.col("y")).alias("s_" + sfx),
                cell(tr, po, F.col("y") * F.col("y")).alias(
                    "q_" + sfx
                ),
            ]
    g = d.agg(*aggs)
    m = {
        sfx: F.col("s_" + sfx) / F.col("n_" + sfx)
        for sfx in ("c0", "c1", "t0", "t1")
    }
    var = {
        sfx: (
            F.col("q_" + sfx) / F.col("n_" + sfx) - m[sfx] * m[sfx]
        )
        * (F.col("n_" + sfx) / (F.col("n_" + sfx) - F.lit(1.0)))
        for sfx in ("c0", "c1", "t0", "t1")
    }
    did = (m["t1"] - m["t0"]) - (m["c1"] - m["c0"])
    se = F.sqrt(
        sum(var[sfx] / F.col("n_" + sfx) for sfx in var)
    )
    out = g.select(
        *[
            F.col("n_" + sfx).cast("bigint").alias("n_" + sfx)
            for sfx in ("c0", "c1", "t0", "t1")
        ],
        *[
            _fround(m[sfx], 4).alias("mean_" + sfx)
            for sfx in ("c0", "c1", "t0", "t1")
        ],
        _fround(did, 4).alias("did"),
        _fround(se, 4).alias("se"),
        _fround(did / se, 4).alias("t_stat"),
    )
    return out


def q_ewma_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 EWMA control chart over daily event volume per type —
    cusum_drift's EWMA sibling for drift that drifts back. The
    trailing-16-day exponentially weighted mean uses EXACT rational
    weights 2^(15-k) built with shiftleft — never libm pow, which is
    not correctly rounded across engines — so the weighted sum and its
    normalizer are exact integers < 2^53 and the EWMA is ONE
    correctly-rounded IEEE division, engine-identical. The window
    pairs come from a bounded 16-wide self-join on the row-indexed
    |types|x|days| daily aggregate (gap-proof), never the raw facts.
    A day alarms when its count deviates from the PRIOR window's EWMA
    by more than 3 global-series sigma (moments-exact)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count("*").cast("bigint").alias("x"))
    return _ewma_chart(daily)


def q_stl_decompose_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 seasonal-trend decomposition (STL-lite) of the daily
    revenue series per event type: trend = centered 7-day moving
    average (null until the window is full), weekday seasonal = mean
    detrended value per ISO weekday slot, residual = the rest. The
    facts collapse once to the |types|x|days| daily aggregate; every
    window after that runs on the aggregate. The trend average sums
    DECIMAL daily values (exact) with ONE division; seasonal means
    decimal-cast the detrended doubles so cross-row addition order
    can't leak engine differences. ISO weekday via explicit
    arithmetic (the date_dim_gen convention)."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("value").isNotNull())
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            F.sum(F.col("value").cast("decimal(38,12)")).alias("rev_d")
        )
    )
    w7 = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    with_trend = daily.select(
        "event_type",
        "day",
        F.col("rev_d").cast("double").alias("x"),
        F.when(
            F.count("*").over(w7) == 7,
            F.sum("rev_d").over(w7).cast("double") / F.lit(7.0),
        ).alias("trend"),
        (((F.dayofweek("day") + 5) % 7) + 1).cast("int").alias("dow"),
    )
    det = with_trend.withColumn(
        "detrended", F.col("x") - F.col("trend")
    )
    w_dow = Window.partitionBy("event_type", "dow")
    seasonal = (
        F.sum(F.col("detrended").cast("decimal(38,12)"))
        .over(w_dow)
        .cast("double")
        / F.count("detrended").over(w_dow).cast("double")
    )
    out = det.withColumn("seasonal", seasonal)
    return out.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        _fround(F.col("x"), 2).alias("revenue"),
        _fround(F.col("trend"), 2).alias("trend"),
        _fround(F.col("seasonal"), 2).alias("seasonal"),
        _fround(
            F.col("x") - F.col("trend") - F.col("seasonal"), 2
        ).alias("residual"),
    )


def q_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 RFM SEGMENTATION (the canonical marketing cut): per
    customer recency (days from last order to the corpus anchor),
    frequency (orders) and monetary (decimal spend), quintile-scored
    by three ntile windows with a key tiebreak so bucket boundaries
    are a TOTAL order (engine-identical), then CASE-labelled into the
    classic segments and reported at segment grain. One fact
    aggregation to customer grain; scores are windows over that
    aggregate; the anchor rides a 1-row broadcast (no eager
    collect)."""
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").cast("bigint").alias("freq"),
        F.sum(F.col("o_totalprice").cast("decimal(38,12)")).alias("mon"),
    )
    # one fact scan: the customer rollup feeds both the anchor (its
    # max last_order IS the corpus max order date) and the scores
    per_cust = per_cust.localCheckpoint(eager=True)
    anchor = per_cust.agg(F.max("last_order").alias("anchor"))
    rfm = per_cust.crossJoin(F.broadcast(anchor)).select(
        "o_custkey",
        F.datediff("anchor", "last_order").cast("int").alias("recency_d"),
        "freq",
        "mon",
    )

    def score(order_cols) -> F.Column:
        return F.ntile(5).over(Window.orderBy(*order_cols)).cast("int")

    scored = rfm.select(
        "o_custkey",
        "recency_d",
        "freq",
        "mon",
        # stale first -> ntile 1; most recent lands in bucket 5
        score([F.col("recency_d").desc(), F.col("o_custkey").asc()]).alias(
            "r_score"
        ),
        score([F.col("freq").asc(), F.col("o_custkey").asc()]).alias(
            "f_score"
        ),
        score([F.col("mon").asc(), F.col("o_custkey").asc()]).alias(
            "m_score"
        ),
    )
    seg = (
        F.when(
            (F.col("r_score") >= 4)
            & (F.col("f_score") >= 4)
            & (F.col("m_score") >= 4),
            "champion",
        )
        .when((F.col("r_score") <= 2) & (F.col("f_score") >= 4), "at_risk")
        .when(
            (F.col("r_score") <= 2) & (F.col("f_score") <= 2), "hibernating"
        )
        .when((F.col("r_score") >= 4) & (F.col("f_score") <= 2), "new")
        .otherwise("regular")
    )
    return (
        scored.withColumn("segment", seg)
        .groupBy("segment")
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            _fround(
                F.sum("mon").cast("double")
                / F.count("*").cast("double"),
                2,
            ).alias("avg_monetary"),
            _fround(
                F.sum(F.col("recency_d").cast("decimal(38,0)"))
                .cast("double")
                / F.count("*").cast("double"),
                2,
            ).alias("avg_recency_d"),
        )
    )


def q_gains_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 GAINS/LIFT table (the campaign-targeting evaluation next
    to model_auc / calibration_ece): customers ranked by a score
    (account balance as the deterministic model stand-in) into deciles
    via ntile with a key tiebreak, labelled by late-period purchase
    activity; per decile the response rate, cumulative gain (share of
    all responders captured so far) and lift vs the base rate. The
    label join is a fact semi-join aggregated to customer grain; every
    ratio is exact-integer division rendered identically on both
    engines; the cumulative window runs over 10 rows."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    resp = (
        o.filter(F.col("o_orderdate") >= F.lit("1998-01-01"))
        .select("o_custkey")
        .distinct()
        .withColumn("label", F.lit(1))
    )
    scored = c.select("c_custkey", "c_acctbal").join(
        resp, c["c_custkey"] == resp["o_custkey"], "left"
    ).select(
        "c_custkey",
        "c_acctbal",
        F.coalesce("label", F.lit(0)).alias("label"),
    )
    dec = scored.select(
        "label",
        F.ntile(10)
        .over(
            Window.orderBy(
                F.col("c_acctbal").desc(), F.col("c_custkey").asc()
            )
        )
        .cast("int")
        .alias("decile"),
    )
    per_dec = dec.groupBy("decile").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("label").cast("bigint").alias("n_resp"),
    )
    w_cum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    return per_dec.select(
        "decile",
        "n",
        "n_resp",
        _fround(
            F.col("n_resp").cast("double") / F.col("n").cast("double"), 4
        ).alias("resp_rate"),
        _fround(
            F.sum("n_resp").over(w_cum).cast("double")
            / F.sum("n_resp").over(w_all).cast("double"),
            4,
        ).alias("cum_gain"),
        _fround(
            (F.col("n_resp").cast("double") / F.col("n").cast("double"))
            / (
                F.sum("n_resp").over(w_all).cast("double")
                / F.sum("n").over(w_all).cast("double")
            ),
            4,
        ).alias("lift"),
    )


def q_padding_efficiency_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 context-budget WASTE report: documents assigned to the
    smallest power-of-two token bucket (64..1024, oversize truncated
    to the cap) and per bucket the padding a fixed-length batch would
    burn — the training-cost readout that justifies length-bucketed
    batching (length_bucketed_batches) over naive max-length padding.
    Same bpe_encode budgets; all totals exact integers; efficiency is
    one division."""
    from aproximacion_1_etl_spark.text.analysis import bpe_encode

    docs = load_table(spark, sf_dir, "documents")
    enc = bpe_encode(docs, _trained_bpe_merges(spark, sf_dir)).select(
        "doc_id", "n_tokens"
    )
    cap = (
        F.when(F.col("n_tokens") <= 64, 64)
        .when(F.col("n_tokens") <= 128, 128)
        .when(F.col("n_tokens") <= 256, 256)
        .when(F.col("n_tokens") <= 512, 512)
        .otherwise(1024)
    )
    kept = F.least(F.col("n_tokens"), F.lit(1024))
    bucketed = enc.select(
        cap.cast("int").alias("bucket_cap"),
        kept.alias("kept"),
        (cap - kept).cast("bigint").alias("pad"),
    )
    return bucketed.groupBy("bucket_cap").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("kept").cast("bigint").alias("total_tokens"),
        F.sum("pad").cast("bigint").alias("total_padding"),
        _fround(
            F.sum("kept").cast("double")
            / (F.sum("kept") + F.sum("pad")).cast("double"),
            4,
        ).alias("efficiency"),
    )


def q_classifier_prf_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 classifier evaluation: per-class PRECISION / RECALL / F1
    of the heuristic language-ID against the labeled lang column — the
    summary sheet on top of lang_confusion's raw matrix. tp/fp/fn come
    from three conditional sums over the |langs|² confusion aggregate
    (one scan, one keyed aggregation, then |cells|-sized algebra);
    ratios are nullif-guarded single divisions, identical on both
    engines."""
    from aproximacion_1_etl_spark.text.analysis import lang_id

    d = load_table(spark, sf_dir, "documents")
    cm = d.groupBy(
        F.col("lang").alias("true_lang"),
        lang_id(F.col("text")).alias("pred_lang"),
    ).agg(F.count("*").cast("bigint").alias("n"))
    # the |langs|² matrix feeds two rollups — one lang-id scan, not two
    cm = cm.localCheckpoint(eager=True)
    per_true = cm.groupBy(F.col("true_lang").alias("lang")).agg(
        F.sum("n").cast("bigint").alias("n_true"),
        F.sum(
            F.when(F.col("pred_lang") == F.col("true_lang"), F.col("n"))
        )
        .cast("bigint")
        .alias("tp_t"),
    )
    per_pred = cm.groupBy(F.col("pred_lang").alias("lang")).agg(
        F.sum("n").cast("bigint").alias("n_pred")
    )
    j = per_true.join(per_pred, "lang", "left").select(
        "lang",
        F.coalesce("tp_t", F.lit(0)).alias("tp"),
        (F.coalesce("n_pred", F.lit(0)) - F.coalesce("tp_t", F.lit(0)))
        .cast("bigint")
        .alias("fp"),
        (F.col("n_true") - F.coalesce("tp_t", F.lit(0)))
        .cast("bigint")
        .alias("fn"),
    )
    prec = F.col("tp").cast("double") / F.nullif(
        (F.col("tp") + F.col("fp")).cast("double"), F.lit(0.0)
    )
    rec = F.col("tp").cast("double") / F.nullif(
        (F.col("tp") + F.col("fn")).cast("double"), F.lit(0.0)
    )
    return j.select(
        "lang",
        "tp",
        "fp",
        "fn",
        _fround(prec, 4).alias("precision"),
        _fround(rec, 4).alias("recall"),
        _fround(
            F.lit(2.0) * prec * rec / F.nullif(prec + rec, F.lit(0.0)),
            4,
        ).alias("f1"),
    )


def q_eb_shrunk_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 EMPIRICAL-BAYES rate shrinkage (the small-cell fix every
    ratio dashboard needs): per-(segment, nation) purchase share with
    beta-binomial shrinkage toward the population — method-of-moments
    alpha/beta from the cell-rate mean/variance (decimal-cast sums so
    the moments are order-independent), then shrunk = (x + a)/(n +
    a + b). A sparse cell collapses to the prior, a dense one keeps
    its own rate — all closed form, one fact aggregation + one
    |cells| pass + a 1-row broadcast; no sampling, no iteration."""
    ev = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    dim = F.broadcast(
        c.join(n, c["c_nationkey"] == n["n_nationkey"]).select(
            "c_custkey",
            F.col("c_mktsegment").alias("segment"),
            F.col("n_name").alias("nation"),
        )
    )
    cells = (
        ev.join(dim, ev["user_id"] == F.col("c_custkey"))
        .groupBy("segment", "nation")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(
                (F.col("event_type") == "purchase").cast("int")
            )
            .cast("bigint")
            .alias("x"),
        )
    )
    rate = F.col("x").cast("double") / F.col("n").cast("double")
    rated = cells.withColumn("p", rate)
    mom = rated.agg(
        F.count("*").cast("double").alias("k"),
        F.sum(F.col("p").cast("decimal(38,18)"))
        .cast("double")
        .alias("s"),
        F.sum((F.col("p") * F.col("p")).cast("decimal(38,18)"))
        .cast("double")
        .alias("q"),
    )
    m = F.col("s") / F.col("k")
    v = (F.col("q") / F.col("k") - m * m) * (
        F.col("k") / (F.col("k") - F.lit(1.0))
    )
    common = F.greatest(
        m * (F.lit(1.0) - m) / v - F.lit(1.0), F.lit(1.0)
    )
    pri = mom.select(
        (m * common).alias("alpha"),
        ((F.lit(1.0) - m) * common).alias("beta"),
    )
    out = rated.crossJoin(F.broadcast(pri))
    shrunk = (F.col("x").cast("double") + F.col("alpha")) / (
        F.col("n").cast("double") + F.col("alpha") + F.col("beta")
    )
    return out.select(
        "segment",
        "nation",
        "n",
        "x",
        _fround(F.col("p"), 6).alias("raw_rate"),
        _fround(shrunk, 6).alias("shrunk_rate"),
    )


def q_ab_sequential_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 SEQUENTIAL A/B monitoring: the daily Welch-z path of the
    running experiment against an O'Brien-Fleming-style spending
    boundary (c / sqrt(t/T), c = 2.5 exact literal) — the
    peeking-safe readout ab_test_report's single terminal test lacks.
    Facts aggregate ONCE to |days|x|arms| daily moment partials
    (decimal); cumulative windows over that aggregate produce every
    day's moments; z and the boundary are scalar IEEE algebra. One
    fact exchange + windows on the tiny aggregate."""
    from aproximacion_1_etl_spark.functions.sampling import _hash_prefix

    ev = load_table(spark, sf_dir, "events")
    d = ev.filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select(
        F.to_date("ts").alias("day"),
        F.when(_hash_prefix(F.col("user_id")) < "8000", "A")
        .otherwise("B")
        .alias("arm"),
        F.col("value").alias("y"),
    )
    daily = d.groupBy("day", "arm").agg(
        F.count("*").cast("decimal(38,6)").alias("n"),
        F.sum(F.col("y").cast("decimal(38,12)")).alias("s"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,12)")).alias(
            "q"
        ),
    )
    w_cum = (
        Window.partitionBy("arm")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = daily.select(
        "day",
        "arm",
        F.sum("n").over(w_cum).cast("double").alias("cn"),
        F.sum("s").over(w_cum).cast("double").alias("cs"),
        F.sum("q").over(w_cum).cast("double").alias("cq"),
    )
    paired = cum.groupBy("day").agg(
        F.max(F.when(F.col("arm") == "A", F.col("cn"))).alias("na"),
        F.max(F.when(F.col("arm") == "A", F.col("cs"))).alias("sa"),
        F.max(F.when(F.col("arm") == "A", F.col("cq"))).alias("qa"),
        F.max(F.when(F.col("arm") == "B", F.col("cn"))).alias("nb"),
        F.max(F.when(F.col("arm") == "B", F.col("cs"))).alias("sb"),
        F.max(F.when(F.col("arm") == "B", F.col("cq"))).alias("qb"),
    ).filter(
        (F.col("na") > 1) & (F.col("nb") > 1)
    )
    t_idx = Window.orderBy("day")
    total = Window.partitionBy()
    ma = F.col("na")
    mean_a = F.col("sa") / ma
    mean_b = F.col("sb") / F.col("nb")
    var_a = (F.col("qa") / ma - mean_a * mean_a) * (
        ma / (ma - F.lit(1.0))
    )
    var_b = (
        F.col("qb") / F.col("nb") - mean_b * mean_b
    ) * (F.col("nb") / (F.col("nb") - F.lit(1.0)))
    z = (mean_a - mean_b) / F.sqrt(
        var_a / ma + var_b / F.col("nb")
    )
    t = F.row_number().over(t_idx).cast("double")
    big_t = F.count("*").over(total).cast("double")
    boundary = F.lit(2.5) / F.sqrt(t / big_t)
    return paired.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        _fround(z, 4).alias("z"),
        _fround(boundary, 4).alias("boundary"),
        (F.abs(z) > boundary).alias("crossed"),
    )


def q_cuped_adjusted_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 CUPED variance reduction (the industry-standard
    experiment-sensitivity fix): each user's post-period purchase
    value Y adjusted by their PRE-period value X — Y' = Y - theta*(X -
    mean X), theta = cov(X,Y)/var(X) — then the Welch z on raw vs
    adjusted metric side by side, plus the achieved variance
    reduction. Everything is closed-form moment algebra: one scan to
    per-user (x, y) decimal partials, one single-row moment pass for
    theta (1-row broadcast), one per-arm rollup. Hash-randomized arms
    mean the true effect is 0; CUPED's job here is the variance
    column."""
    from aproximacion_1_etl_spark.functions.sampling import _hash_prefix

    ev = load_table(spark, sf_dir, "events")
    cut = "2024-01-16"
    per_user = (
        ev.filter(
            (F.col("event_type") == "purchase")
            & F.col("value").isNotNull()
        )
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("ts") < cut, F.col("value")).cast(
                    "decimal(38,12)"
                )
            ).alias("_x"),
            F.sum(
                F.when(F.col("ts") >= cut, F.col("value")).cast(
                    "decimal(38,12)"
                )
            ).alias("_y"),
        )
        .select(
            "user_id",
            F.coalesce(F.col("_x"), F.lit(0)).cast("double").alias("x"),
            F.coalesce(F.col("_y"), F.lit(0)).cast("double").alias("y"),
            F.when(
                _hash_prefix(F.col("user_id")) < "8000", "A"
            ).otherwise("B").alias("arm"),
        )
    )

    def dsum(e):
        return F.sum(e.cast("decimal(38,12)")).cast("double")

    mom = per_user.agg(
        F.count("*").cast("double").alias("k"),
        dsum(F.col("x")).alias("sx"),
        dsum(F.col("y")).alias("sy"),
        dsum(F.col("x") * F.col("x")).alias("sxx"),
        dsum(F.col("x") * F.col("y")).alias("sxy"),
    )
    mx = F.col("sx") / F.col("k")
    theta = (
        F.col("sxy") / F.col("k") - mx * (F.col("sy") / F.col("k"))
    ) / (F.col("sxx") / F.col("k") - mx * mx)
    pri = mom.select(theta.alias("theta"), mx.alias("mean_x"))
    adj = per_user.crossJoin(F.broadcast(pri)).select(
        "arm",
        "y",
        (
            F.col("y")
            - F.col("theta") * (F.col("x") - F.col("mean_x"))
        ).alias("y_adj"),
        F.col("theta"),
    )
    arms = adj.groupBy("arm").agg(
        F.count("*").cast("double").alias("n"),
        dsum(F.col("y")).alias("s1"),
        dsum(F.col("y") * F.col("y")).alias("q1"),
        dsum(F.col("y_adj")).alias("s2"),
        dsum(F.col("y_adj") * F.col("y_adj")).alias("q2"),
        F.max("theta").alias("theta"),
    )
    a = arms.filter(F.col("arm") == "A").select(
        F.col("n").alias("na"),
        F.col("s1").alias("sa1"),
        F.col("q1").alias("qa1"),
        F.col("s2").alias("sa2"),
        F.col("q2").alias("qa2"),
        "theta",
    )
    b = arms.filter(F.col("arm") == "B").select(
        F.col("n").alias("nb"),
        F.col("s1").alias("sb1"),
        F.col("q1").alias("qb1"),
        F.col("s2").alias("sb2"),
        F.col("q2").alias("qb2"),
    )
    j = a.crossJoin(F.broadcast(b))

    def welch(sa, qa, sb, qb):
        ma = F.col(sa) / F.col("na")
        mb = F.col(sb) / F.col("nb")
        va = (F.col(qa) / F.col("na") - ma * ma) * (
            F.col("na") / (F.col("na") - F.lit(1.0))
        )
        vb = (F.col(qb) / F.col("nb") - mb * mb) * (
            F.col("nb") / (F.col("nb") - F.lit(1.0))
        )
        z = (ma - mb) / F.sqrt(va / F.col("na") + vb / F.col("nb"))
        return z, va, vb

    z_raw, va1, vb1 = welch("sa1", "qa1", "sb1", "qb1")
    z_cuped, va2, vb2 = welch("sa2", "qa2", "sb2", "qb2")
    return j.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        _fround(F.col("theta"), 6).alias("theta"),
        _fround(z_raw, 4).alias("z_raw"),
        _fround(z_cuped, 4).alias("z_cuped"),
        _fround(F.lit(1.0) - (va2 + vb2) / (va1 + vb1), 4).alias(
            "var_reduction"
        ),
    )


def q_ab_sample_size_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 experiment SAMPLE-SIZE planner: required users per arm to
    detect a {1,2,5,10}% lift of the current per-user purchase-value
    mean at alpha=.05 / power=.80 — n = 2*sigma²*(1.96+0.84)²/delta²,
    the normal-approximation formula with exact z literals (no erf
    needed). Variance comes from ONE per-user moment pass; the MDE
    grid is an exploded literal array, so the whole plan is a
    |grid|-row projection off a 1-row aggregate."""
    ev = load_table(spark, sf_dir, "events")
    per_user = (
        ev.filter(
            (F.col("event_type") == "purchase")
            & F.col("value").isNotNull()
        )
        .groupBy("user_id")
        .agg(
            F.sum(F.col("value").cast("decimal(38,12)"))
            .cast("double")
            .alias("y")
        )
    )
    mom = per_user.agg(
        F.count("*").cast("double").alias("k"),
        F.sum(F.col("y").cast("decimal(38,12)"))
        .cast("double")
        .alias("s"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,12)"))
        .cast("double")
        .alias("q"),
    )
    m = F.col("s") / F.col("k")
    var = (F.col("q") / F.col("k") - m * m) * (
        F.col("k") / (F.col("k") - F.lit(1.0))
    )
    base = mom.select(
        F.col("k").alias("n_users"), m.alias("mean_y"), var.alias("var_y")
    )
    grid = base.select(
        "n_users",
        "mean_y",
        "var_y",
        F.explode(
            F.array(
                F.lit(0.01), F.lit(0.02), F.lit(0.05), F.lit(0.1)
            )
        ).alias("mde_frac"),
    )
    delta = F.col("mde_frac") * F.col("mean_y")
    # built in-engine on BOTH sides (not a Python-computed literal) so
    # the double is bit-identical across engines
    z2 = (F.lit(1.96) + F.lit(0.84)) * (F.lit(1.96) + F.lit(0.84))
    n_req = F.ceil(
        F.lit(2.0) * F.col("var_y") * z2 / (delta * delta)
    ).cast("bigint")
    return grid.select(
        _fround(F.col("mde_frac"), 2).alias("mde_frac"),
        _fround(delta, 4).alias("delta"),
        n_req.alias("n_required_per_arm"),
        (F.col("n_users") / F.lit(2.0)).cast("bigint").alias(
            "n_have_per_arm"
        ),
        (
            F.col("n_users") / F.lit(2.0)
            >= n_req.cast("double")
        ).alias("powered"),
    )


__all__ = [
    "q_bloom_prune_join",
    "q_seasonal_anomaly",
    "q_per_group_ols",
    "q_grouped_pandas_stats",
    "q_pandas_udf_norm",
    "q_anomaly_zscore",
    "q_pandas_iter_udf",
    "q_grouped_arrow_stats",
    "q_cogrouped_pandas_join",
    "q_arrow_map_batches",
    "q_cluster_safe_split",
    "q_quality_outliers",
    "q_ols_event_model",
    "q_quantile_normalize_scores",
    "q_logreg_label_model",
    "q_chi2_feature_selection",
    "q_attribution_last_touch",
    "q_cusum_drift",
    "q_bootstrap_ci_mean",
    "q_survival_km",
    "q_ab_test_report",
    "q_psi_drift_report",
    "q_holt_forecast",
    "q_model_calibration_ece",
    "q_model_auc",
    "q_conformal_interval",
    "q_decision_stump",
    "q_gradient_boost_stumps",
    "q_ks_drift_report",
    "q_als_rank1",
    "q_markov_prediction_accuracy",
    "q_isotonic_calibration",
    "q_drift_fdr_control",
    "q_score_correlation",
    "q_benford_audit",
    "q_spearman_correlation",
    "q_attribution_time_decay",
    "q_target_encode_loo",
    "q_woe_iv_binning",
    "q_kfold_cv_ols",
    "q_attribution_position",
    "q_ridge_path_cv",
    "q_purged_time_split",
    "q_changepoint_detect",
    "q_acf_daily",
    "q_budget_apportion",
    "q_theilsen_trend",
    "q_mann_whitney_ab",
    "q_diff_in_diff",
    "q_ewma_control_chart",
    "q_stl_decompose_lite",
    "q_rfm_segmentation",
    "q_gains_lift_table",
    "q_padding_efficiency_report",
    "q_classifier_prf_report",
    "q_eb_shrunk_rates",
    "q_ab_sequential_monitor",
    "q_cuped_adjusted_ab",
    "q_ab_sample_size_plan",
]
