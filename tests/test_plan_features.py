"""Plan-level scale features: the engine leans on Catalyst/AQE for the
behaviors that matter at 100 TB — runtime skew handling, nested-schema
pruning, and shuffle reuse. These tests pin each one to the physical
plan so a config or upgrade regression is caught, not guessed.
(Complements tools/plan_audit.py, which tracks shuffle/broadcast counts
for the query catalog.)"""

import contextlib
import io

import pyspark.sql.functions as F

from aproximacion_1_etl_spark.sources.tables import load_table


def _with_conf(spark, conf):
    saved = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    return saved


def _restore(spark, saved):
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_aqe_splits_skewed_join_partition(spark):
    """AQE skew-join is the zero-code path for skewed keys (manual
    salting in operators/skew.py is the fallback for aggregations,
    which AQE does not split). With one key owning half the rows, the
    final plan must mark the sort-merge join's skewed partition as
    split (skew=true). Thresholds are shrunk because test data is KB,
    not the 256 MB-scale defaults."""
    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.shuffle.partitions": "64",
    }
    saved = _with_conf(spark, conf)
    try:
        big = spark.range(0, 400000).select(
            F.when(F.col("id") % 2 == 0, F.lit(7))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.col("id").alias("payload"),
        )
        dim = spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("attr")
        )
        j = big.join(dim, "k").groupBy().agg(F.count("*").alias("n"))
        assert j.collect()[0]["n"] == 400000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
    finally:
        _restore(spark, saved)


def test_nested_schema_pruning_reaches_scan(spark, sf_dir, tmp_path):
    """The reference's order record is deeply nested (~100 fields,
    8 array-of-struct children). Reading one sub-field must prune the
    rest at the parquet scan (ReadSchema carries only the selected
    leaf), or every query pays the full nested width."""
    o = load_table(spark, sf_dir, "orders")
    nested = o.select(
        "o_orderkey",
        F.struct(
            F.col("o_orderstatus").alias("status"),
            F.col("o_totalprice").alias("totalprice"),
            F.struct(F.col("o_orderpriority").alias("priority")).alias("meta"),
        ).alias("info"),
    )
    path = str(tmp_path / "nested_orders")
    nested.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path).select(
        "o_orderkey", F.col("info.meta.priority").alias("priority")
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        back.explain(mode="formatted")
    plan = buf.getvalue()
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "priority" in read_schema
    assert "totalprice" not in read_schema, read_schema
    assert "status" not in read_schema, read_schema
    assert back.count() == o.count()


def test_self_referencing_plan_reuses_shuffle(spark, sf_dir):
    """Share-of-total queries reference the same aggregate twice; Spark
    must materialize that shuffle ONCE (ReusedExchange), not recompute
    the upstream scan+agg per branch — at 100 TB recomputing the
    aggregate doubles the job."""
    li = load_table(spark, sf_dir, "lineitem")
    s = li.groupBy("l_returnflag").agg(
        F.sum(F.col("l_quantity").cast("decimal(30,8)")).alias("q")
    )
    tot = s.agg(F.sum("q").alias("t"))
    out = s.crossJoin(tot).select(
        "l_returnflag", (F.col("q") / F.col("t")).alias("share")
    )
    rows = out.collect()
    assert abs(sum(float(r["share"]) for r in rows) - 1.0) < 1e-9
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan, plan


def test_observe_collects_metrics_without_second_pass(spark, sf_dir):
    """Pipeline observability at scale: df.observe() accumulates
    metrics DURING the action (Spark's Observation API), so a daily
    job can report row counts / null rates / sums without re-scanning
    100 TB for a metrics query. The reference's DAG has no metrics
    between its 29 SP steps at all."""
    from pyspark.sql import Observation

    li = load_table(spark, sf_dir, "lineitem")
    obs = Observation("ingest_metrics")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("l_quantity").isNull(), 1).otherwise(0)).alias(
            "null_qty"
        ),
        F.min("l_shipdate").alias("min_ship"),
    )
    out = observed.groupBy("l_returnflag").agg(F.count("*").alias("n"))
    by_flag = {r["l_returnflag"]: r["n"] for r in out.collect()}
    m = obs.get
    assert m["n_rows"] == sum(by_flag.values()) == li.count()
    assert m["null_qty"] == 0
    assert m["min_ship"] is not None


def _plan_of(df):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def test_sql_join_hints_steer_physical_strategy(spark, sf_dir):
    """SQL join hints are the per-query override when Catalyst's
    size-based choice is wrong (stale stats, exploding join output):
    BROADCAST must force a broadcast join even when the threshold
    forbids it, and MERGE must force sort-merge even when the side is
    small enough to broadcast. The hint is advisory syntax but the
    physical plan is the contract."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("h_orders")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "h_customer"
    )
    saved = _with_conf(
        spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}
    )
    try:
        q = """SELECT /*+ {hint}(c) */ c.c_mktsegment, count(*) AS n
               FROM h_orders o JOIN h_customer c
                 ON o.o_custkey = c.c_custkey
               GROUP BY 1"""
        plan_b = _plan_of(spark.sql(q.format(hint="BROADCAST")))
        assert "BroadcastHashJoin" in plan_b, plan_b
    finally:
        _restore(spark, saved)
    saved = _with_conf(
        spark, {"spark.sql.autoBroadcastJoinThreshold": "1GB"}
    )
    try:
        plan_m = _plan_of(spark.sql(q.format(hint="MERGE")))
        assert "SortMergeJoin" in plan_m, plan_m
        assert "BroadcastHashJoin" not in plan_m
    finally:
        _restore(spark, saved)


def test_bpe_encode_single_exchange_and_batch_pack_broadcast(spark, sf_dir):
    """Pin the new ops' scale shapes: tokenizer application must stay
    one exchange (the per-doc rollup) no matter how many merge rules
    ride the plan, and the batch packer's offset join must stay a
    broadcast (a sort-merge join there would shuffle the corpus on a
    256-row relation's key)."""
    from aproximacion_1_etl_spark.functions.sampling import (
        pack_training_batches,
    )
    from aproximacion_1_etl_spark.text.analysis import bpe_encode

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    enc = bpe_encode(docs, [("a", "b"), ("ab", "c"), ("t", "h")])
    plan = _plan_of(enc)
    # repartition + rollup: the merge folds themselves add no exchange
    assert plan.count("Exchange") <= 2
    packed = pack_training_batches(docs.select("doc_id"), "doc_id", 32)
    plan = _plan_of(packed)
    assert "BroadcastExchange" in plan


def test_dedup_clusters_loop_partitions_track_graph_size(spark):
    """The CC loop must size its relations to the materialized graph,
    not defaultParallelism — a handful of edges may not fan out over
    the whole cluster (task overhead dominated the loop before this)."""
    from aproximacion_1_etl_spark.text.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a BIGINT, doc_b BIGINT"
    )
    out = dedup_clusters(pairs)
    assert out.rdd.getNumPartitions() <= 4
    got = {(r["doc_id"], r["cluster_id"], r["keep"]) for r in out.collect()}
    assert got == {
        (1, 1, True), (2, 1, False), (3, 1, False),
        (10, 10, True), (11, 10, False),
    }


def test_results_invariant_under_shuffle_partitioning(spark, sf_dir):
    """The engine-portability contract: hash-keyed operators return
    identical VALUES at any shuffle width. Runs three representative
    keys (Merkle digest, batch packer, RRF fusion) at
    shuffle.partitions=5 and =32 and compares full result sets."""
    from aproximacion_1_etl_spark.queries import ALL_QUERIES

    keys = ["corpus_fingerprint", "training_batch_pack",
            "hybrid_rrf_retrieval"]
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    results = {}
    try:
        for parts in ("5", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            for k in keys:
                rows = ALL_QUERIES[k](spark, sf_dir).collect()
                results.setdefault(k, []).append(
                    sorted(tuple(r) for r in rows)
                )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)
    for k, (a, b) in results.items():
        assert a == b, f"{k} changed under repartitioning"


def test_round4_analytics_invariant_under_shuffle_partitioning(
    spark, sf_dir
):
    """Same contract for the round-4 analytics ops whose determinism
    rests on decimal sums / snapped recurrences: PCA power iteration,
    GD logistic regression, triangle counting, the Poisson bootstrap
    and quantile normalization must return identical VALUES at any
    shuffle width. logreg_label_model reads the registry's model,
    which a second width serves from the memo, so the GD fit itself is
    also run at both widths."""
    from aproximacion_1_etl_spark.operators.ml import (
        logistic_regression_gd,
    )
    from aproximacion_1_etl_spark.queries import ALL_QUERIES, _logreg_feats

    keys = [
        "embedding_pca_power",
        "logreg_label_model",
        "triangle_cooccurrence",
        "bootstrap_ci_mean",
        "quantile_normalize_scores",
        "survival_km",
        "als_rank1",
        "model_auc",
    ]
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    results = {}
    try:
        for parts in ("5", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            for k in keys:
                rows = ALL_QUERIES[k](spark, sf_dir).collect()
                results.setdefault(k, []).append(
                    sorted(tuple(r) for r in rows)
                )
            results.setdefault("logistic_regression_gd", []).append(
                logistic_regression_gd(
                    _logreg_feats(spark, sf_dir), ["x1", "x2", "x3"]
                )
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)
    for k, (a, b) in results.items():
        assert a == b, f"{k} changed under repartitioning"


def test_record_linkage_broadcasts_dimension_side(spark, sf_dir):
    """The blocked linkage join must broadcast the supplier (dim)
    side — a shuffle join of the customer fact on nationkey would
    be the 100 TB regression this pin guards against."""
    from aproximacion_1_etl_spark.queries import ALL_QUERIES

    df = ALL_QUERIES["record_linkage"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" in plan


def test_r6_session_plan_contracts(spark, sf_dir):
    """Exchange-count contracts for this session's operators: a
    regression that doubles the shuffles of a key plan should fail
    loudly here, not in a bench diff. Counts come from the physical
    plan string (Exchange nodes, excluding reused ones)."""
    from aproximacion_1_etl_spark import queries as Q

    def exchanges(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return sum(
            1
            for ln in plan.splitlines()
            if "Exchange" in ln and "ReusedExchange" not in ln
        )

    # upper bounds, not exact: AQE may merge but must not explode
    contracts = {
        "weighted_quantiles": 3,
        "theilsen_trend": 6,
        "diff_in_diff": 2,
        "price_volume_mix": 6,
        "topn_with_other": 4,
        "cycle_time_stages": 5,
        "gains_lift_table": 6,
        "survivorship_golden": 6,
        "drill_across": 4,
    }
    for key, bound in contracts.items():
        df = Q.ALL_QUERIES[key](spark, sf_dir)
        got = exchanges(df)
        assert got <= bound, (key, got, bound)


def test_r7_session_plan_contracts(spark, sf_dir):
    """Round-7 plan contracts: the QUALIFY rewrite must plan the
    filter-on-rank as WindowGroupLimit (running TopK below the sort);
    the correlated scalar subquery must DECORRELATE to exactly one
    aggregate pair (writing it twice planned four); the cap-ladder
    report stays within its histogram-then-broadcast shuffle budget."""
    from aproximacion_1_etl_spark import queries as Q

    def plan_of(key):
        df = Q.ALL_QUERIES[key](spark, sf_dir)
        return df._jdf.queryExecution().executedPlan().toString()

    def exchanges(plan):
        return sum(
            1
            for ln in plan.splitlines()
            if "Exchange" in ln and "ReusedExchange" not in ln
        )

    qual = plan_of("qualify_window_filter")
    assert "WindowGroupLimit" in qual
    assert exchanges(qual) <= 4

    corr = plan_of("correlated_scalar_subquery")
    assert corr.count("HashAggregate") <= 2  # one partial+final pair
    assert exchanges(corr) <= 2

    # 2 distinct + 2 degree aggs + hist agg + final agg + the caps
    # BroadcastExchange = 7
    assert exchanges(plan_of("graph_degree_cap_report")) <= 7

    # remaining r7 keys: upper bounds from the recorded plan audit
    for key, bound in {
        "sql_unpivot": 2,
        "multimodal_audio": 2,
        "pandas_iter_udf": 2,
        "grouped_arrow_stats": 2,
        # r8 PPJoin rewrite: the per-doc prefix state is built ONCE
        # behind an eager checkpoint (3 consumers), so the final plan
        # is just candidate-dedup + verify lookups: 2 shuffles + 3
        # broadcasts (the unblocked self-join's 7 had no hot-shingle
        # bound; the rewrite is cheaper AND fan-out-safe)
        "containment_dedup": 6,
        "morton_cells": 2,
        "point_in_polygon_join": 2,
        "adamic_adar_linkpred": 3,
        # r8: the k-core's final plan is one aggregate over the
        # checkpointed core edges — the per-round degree agg + two
        # semi-joins live behind the loop's lineage cuts
        "graph_kcore": 2,
        # r9: sentence-window chunker — ONE doc_id shuffle reused by
        # every window and aggregate (nothing doc-crossing moves)
        "semantic_chunking": 1,
        # r9: maintained graph stats — the edge relations live behind
        # eager checkpoints; the visible plan is the full maintained-
        # store pipeline (bulk census tail + Δ adjacency build +
        # Δ-side joins + |V|-sized stat merges) planned as one DAG
        "incremental_graph_stats": 30,
        # r9: PPR's loop lives behind per-round checkpoints — the
        # final plan is the checkpointed rank vector + sort/limit
        "personalized_pagerank": 1,
        # r9: two-phase per-band index + tiny cut/offset windows; the
        # corpus is scanned by vc and by the index build, never by
        # the offsets (they derive from the value-count relation)
        "curriculum_order": 23,
        # r9: one bm25 pass + one brute pass (checkpointed |Q|·20
        # lists); rankings and truth are rank FILTERS of those lists
        "retrieval_eval_report": 14,
        # r9: chunk rebuild (one doc_id window chain) + chunk-level
        # bm25 over the checkpointed chunk relation
        "chunk_retrieval_spans": 14,
        # the whole ladder as one conditional-sum aggregate over the
        # probes joined to the two broadcast ivf_nprobe_stats
        # relations, then one explode; the cells come from the
        # checkpointed ivf_index_full artifact
        "ivf_nprobe_plan": 3,
        # the rank loop's output is checkpointed, so the visible plan
        # is the filter + top-20 over it
        "pagerank_suppliers": 0,
        # r10: the cluster fold's visible plan is the contracted-root
        # relabel + append over checkpointed store/label relations —
        # the min-label loop lives behind its per-round cuts
        "incremental_dup_clusters": 6,
        # r10: map-side cell assignment over the checkpointed chunk
        # index + broadcast probe join + top-k window; the candidates
        # shuffle once (asserted below) and the span join adds two
        "chunk_ann_retrieval": 4,
        # r10: chunk BM25 rebuild (one doc_id window chain) + the ANN
        # branch + the |Q|·20 RRF fusion + span joins
        "chunk_hybrid_retrieval": 30,
        # r10: exact brute pass over the chunk index + the IVF branch
        # + the |Q|·k intersection
        "chunk_ann_recall": 12,
        # r10: batch tokenize + postings/df folds + query-term-pruned
        # scoring over the checkpointed index relations
        "incremental_bm25_index": 18,
    }.items():
        got = exchanges(plan_of(key))
        assert got <= bound, (key, got, bound)

    # the IVF candidates move in ONE query_id shuffle, which serves both
    # the pair-key dedup and _topk's window
    ann = plan_of("chunk_ann_retrieval")
    cand = [
        ln for ln in ann.splitlines()
        if "Exchange hashpartitioning(query_id" in ln
    ]
    assert len(cand) == 1, ann


def test_bucketed_adjacency_store_joins_without_store_exchange(
    spark, sf_dir
):
    """Round-10 proof of the 100-TB claim in PLANS.md: persist the
    maintained adjacency store bucketBy(node) and the fold's two
    Δ-side probe joins read it SHUFFLE-FREE — the store side of
    triangle_delta's joins contributes zero Exchange operators (vs 2
    for the same store as a plain table), and the fold result is
    identical either way."""
    from aproximacion_1_etl_spark.operators.graph import (
        edge_adjacency,
        triangle_delta,
    )
    from aproximacion_1_etl_spark.sources.bucketed import write_bucketed

    edges = [(0, 1), (0, 2), (1, 2), (1, 3), (2, 3), (0, 3), (3, 4)]
    eold = spark.createDataFrame(edges[:4], "u BIGINT, v BIGINT")
    enew = spark.createDataFrame(edges[4:], "u BIGINT, v BIGINT")
    adj = edge_adjacency(eold.unionByName(enew))

    write_bucketed(adj, "t_adj_bucketed", "n", n_buckets=4)
    # clear a leftover managed dir from a previous session (same
    # LOCATION_ALREADY_EXISTS guard write_bucketed carries)
    import os
    import shutil

    spark.sql("DROP TABLE IF EXISTS t_adj_plain")
    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    leftover = os.path.join(warehouse, "t_adj_plain")
    if os.path.isdir(leftover):
        shutil.rmtree(leftover, ignore_errors=True)
    adj.write.mode("overwrite").saveAsTable("t_adj_plain")

    def exchanges(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="formatted")
        return sum(
            1
            for ln in buf.getvalue().splitlines()
            if "Exchange" in ln and "ReusedExchange" not in ln
        )

    saved = _with_conf(
        spark,
        {  # pin the 100-TB plan: neither side broadcastable
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.enabled": "false",
        },
    )
    try:
        bucketed = triangle_delta(
            eold, enew, adjacency=spark.table("t_adj_bucketed")
        )
        plain = triangle_delta(
            eold, enew, adjacency=spark.table("t_adj_plain")
        )
        n_bucketed, n_plain = exchanges(bucketed), exchanges(plain)
    finally:
        _restore(spark, saved)
    # the two probe joins cost the plain store one Exchange each;
    # the bucketed store contributes none
    assert n_plain - n_bucketed == 2, (n_bucketed, n_plain)

    want = {
        r.node: r.delta_triangles
        for r in triangle_delta(eold, enew).collect()
    }
    got = {r.node: r.delta_triangles for r in bucketed.collect()}
    assert got == want
