#!/usr/bin/env python3
"""Benchmark harness: times the HEADLINE catalog keys at
$SPARK_GRAFT_SF_DIR (default: the sf0.1 dataset, see SF_DIR) on
local[$SPARK_GRAFT_CPUS], writes the per-key detail to
BENCH_DETAIL.json and prints ONE compact JSON line:

    {"metric": "headline_queries_total_wall", "value": N, "unit": "sec", ...}

Each key is forced with a count() (no driver-side row materialization
— we measure engine time, not collect transfer). Per key: a warm-up
absorbs JVM/codegen startup, then "queries" records the min of
$SPARK_GRAFT_BENCH_RUNS runs (default 3) and "spread_pct" the steady
spread (max-min)/min over the runs after the first. "value" is the
sum of the per-key mins. Model and store builds are their own
"<name>_build_sec" line items, never charged to a key.

Modes:

    python bench.py                        all of HEADLINE, SEGMENT_SIZE
                                           keys per fresh JVM, then the
                                           streaming twins in one more
    python bench.py --child OUT key...     the given keys in this JVM,
                                           result JSON to OUT
    python bench.py --child-streams OUT    the STREAM_TWINS fold costs

$SPARK_GRAFT_BENCH_STREAMS=0 skips the streaming-twin child.

The harness does not correct for host drift. To compare two versions
of the code, run `--child OUT key...` on the same keys from both
checkouts, alternating which runs first, in one host window.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from aproximacion_1_etl_spark.queries import ALL_QUERIES, BUILD_SECS
from aproximacion_1_etl_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
# keys per fresh-JVM child (see _run_segment for why the run is cut)
SEGMENT_SIZE = 50

# Headline set: the flagship chain + heavy representatives of each
# operator family (joins/aggs, windows, explode, text dedup, vector).
HEADLINE = [
    "flagship_order_lifecycle",
    "work_table_build",
    "m5_child_rollup",
    "m1_dedup_latest",
    "f2_explode_roundtrip",
    "pricing_summary",
    "q3_shipping_priority",
    "q5_nation_revenue",
    "q13_order_count_distribution",
    "q18_big_spenders",
    "window_running_sum",
    "sessionize",
    "event_value_quantiles",
    "skew_salted_agg",
    "dedup_exact",
    "corpus_clean",
    "dedup_minhash_lsh",
    "text_profile",
    "top_tokens_per_lang",
    "ann_cosine_topk",
    "embedding_near_dup_lsh",
    # round-2 newcomers AFTER the full r1-comparable prefix: their heap
    # churn measurably inflates the dedup/vector block when interleaved
    # (minhash 1.34 s with the r1 ordering vs 2.7 s with four extra
    # queries run before it — same code, same data)
    "q6_forecast_revenue",
    "q10_returned_items",
    "q19_disjunctive_revenue",
    "incremental_rollup",
    "tfidf_top_terms",
    # round-3-session additions (still pre-Python block): iterative
    # graph loop, the C4 token-line cleaning pass, and the r3 LLM-
    # pipeline ops (BM25 retrieval, semantic dedup, trigram-LM scoring)
    "pagerank_suppliers",
    "personalized_pagerank",
    "c4_boilerplate_filter",
    "bm25_topk",
    "semantic_dedup",
    "lm_trigram_score",
    # round-4: IVF ANN over the trained codebook (training itself is
    # reported separately as ivf_codebook_train — it is a one-off
    # model-build step, amortized across every consumer), BPE pair
    # counting, and int8 embedding quantization
    "ann_topk_ivf",
    "ivf_nprobe_plan",
    "ann_topk_pq",
    "bpe_merge_pairs",
    "embedding_quantize_int8",
    "incremental_near_dup",
    # round-5: incremental ANN index maintenance, Bloom-pruned join,
    # per-group closed-form OLS
    "ivf_index_append",
    "bloom_prune_join",
    "per_group_ols",
    # round-4 session-2: hybrid lexical+semantic retrieval (RRF), the
    # iterative BPE trainer loop, leakage-safe cluster split
    # (connected components + hash split), and the ANN recall gate
    "hybrid_rrf_retrieval",
    "retrieval_eval_report",
    "chunk_retrieval_spans",
    "bpe_train_merges",
    "cluster_safe_split",
    "ann_recall_at_k",
    # tokenizer application (merge table memoized after the first run,
    # so min-of-3 reports the encode pass, not re-training) and the
    # two-phase global-index batch packer
    "bpe_encode_corpus",
    "training_batch_pack",
    "corpus_fingerprint",
    "length_bucketed_batches",
    "curriculum_order",
    "repeated_substrings",
    "temperature_mix_resample",
    "hard_negative_mining",
    "doc_novelty",
    "corpus_funnel",
    "winnowed_duplicates",
    "domain_blocklist_filter",
    "embedding_dim_stats",
    "vocab_growth",
    "kmeans_cluster_profile",
    "ann_topk_multiprobe",
    "lang_confusion",
    "quality_outliers",
    "decayed_user_value",
    "event_bigrams",
    "type_cooccurrence",
    "dedup_rate_by_source",
    "corpus_release",
    # round-4 session-3: distributed Gram + power-iteration PCA,
    # closed-form OLS via in-plan Cramer solve, privacy suppression,
    # blocked record linkage, and the token-budget waterfill planner
    "embedding_pca_power",
    "ols_event_model",
    "k_anonymity",
    "record_linkage",
    "token_budget_plan",
    "triangle_cooccurrence",
    "quantile_normalize_scores",
    "logreg_label_model",
    "naive_bayes_lang",
    "chi2_feature_selection",
    "item_similarity_topk",
    "l_diversity_audit",
    "attribution_last_touch",
    "cusum_drift",
    "bootstrap_ci_mean",
    "join_skew_report",
    "survival_km",
    "sequence_pattern_match",
    "ab_test_report",
    "psi_drift_report",
    "holt_forecast",
    "model_calibration_ece",
    "model_auc",
    "conformal_interval",
    "decision_stump",
    "gradient_boost_stumps",
    "ks_drift_report",
    "als_rank1",
    "markov_prediction_accuracy",
    "isotonic_calibration",
    "drift_fdr_control",
    "score_correlation",
    "vocab_gini",
    "benford_audit",
    "spearman_correlation",
    # round-5 analytics keys (added to the measured set in r6): sweep-
    # line concurrency, 2-D skyline, gap interpolation, planner-style
    # cardinality estimation, one-pass profiler, weekday-slot anomaly
    "max_concurrency",
    "skyline_pareto",
    "interpolate_missing",
    "join_cardinality_estimate",
    "table_profile",
    "seasonal_anomaly",
    # round-6: mergeable profile state (merge == recompute gate), the
    # equi-width histogram, delta-rule join-view maintenance, and the
    # Z-order layout roundtrip
    "incremental_profile",
    "numeric_histogram",
    "ivm_join",
    "zorder_pruned_scan",
    "ivm_join_rollup",
    "incremental_quantiles",
    # round-6 session-4: sketch-partial sliding distinct, sketch
    # inclusion-exclusion segment overlap, merge-on-read scan
    "hll_sliding_distinct",
    "segment_overlap_sketch",
    "merge_on_read",
    "gated_publish",
    "snapshot_blame",
    "streaming_merge_on_read",
    "cdf_to_scd2",
    "fd_profile",
    "multi_window_features",
    "dq_observe",
    "prefix_filter_join",
    "attribution_time_decay",
    "hll_rollup",
    "new_users_daily",
    "ref_integrity",
    "streaming_cms_maintenance",
    "grouped_quantiles",
    # round-6 session-6: feature-engineering batch — Apriori basket
    # rules, closed-form LOO target encoding, WOE/IV screen, the
    # compaction planner, k-fold CV OLS, and the Zipf corpus screen
    "basket_rules",
    "target_encode_loo",
    "woe_iv_binning",
    "compaction_plan",
    "kfold_cv_ols",
    "zipf_fit",
    "asof_forward_tolerance",
    "attribution_position",
    "ridge_path_cv",
    "purged_time_split",
    "changepoint_detect",
    "adamic_adar_linkpred",
    "acf_daily",
    "revenue_concentration",
    "phrase_search",
    "reconciliation_report",
    "scd2_audit",
    "share_of_parent",
    "drill_across",
    "budget_apportion",
    "date_dim_gen",
    "weighted_quantiles",
    "theilsen_trend",
    "mann_whitney_ab",
    "diff_in_diff",
    "ewma_control_chart",
    "geo_grid_knn",
    "price_volume_mix",
    "stl_decompose_lite",
    "funnel_conversion_time",
    "survivorship_golden",
    "rfm_segmentation",
    "gains_lift_table",
    "backfill_plan",
    "bfs_hop_distance",
    "bpe_fertility_stats",
    "padding_efficiency_report",
    "cycle_time_stages",
    "classifier_prf_report",
    "eb_shrunk_rates",
    "topn_with_other",
    "source_vocab_overlap",
    "scd6_view",
    "winsorized_stats",
    "frequent_triples",
    "ab_sequential_monitor",
    "cuped_adjusted_ab",
    "ab_sample_size_plan",
    # round-7: named connected components (pointer-jumping loop), the
    # wedge-volume cap ladder, and the two classic SQL shapes
    "graph_components",
    "graph_degree_cap_report",
    # round-8: k-core min-degree peel (graph-curation pruning) and
    # the data-driven LSH banding planner
    "graph_kcore",
    "lsh_band_plan",
    "qualify_window_filter",
    "correlated_scalar_subquery",
    "sql_unpivot",
    "streaming_dedup_watermark",
    # round-9: maintained graph-stats store (bulk build + delta fold)
    # and the sentence-window RAG chunker
    "incremental_graph_stats",
    "semantic_chunking",
    "morton_cells",
    "point_in_polygon_join",
    "containment_dedup",
    # round-10: maintained dedup-cluster store and the chunk-level
    # semantic/hybrid retrieval pair (index build reported separately
    # as chunk_vector_index_25_build_sec)
    "incremental_dup_clusters",
    "chunk_ann_retrieval",
    "chunk_hybrid_retrieval",
    "incremental_bm25_index",
    "chunk_ann_recall",
    "incremental_weighted_sample",
    # round-11: cluster-store deletion (rebuild-affected-components;
    # full-corpus store build reported separately), the IVF retrain
    # verdict, and incremental chunk-index maintenance
    "dup_clusters_forget",
    "ivf_retrain_plan",
    "incremental_chunk_index",
    # round-11b: the RTBF deletion edges of the other maintained
    # stores (BM25 index, IVF cell stats, the RAG chunk index)
    "bm25_index_forget",
    "ivf_index_forget",
    "chunk_index_forget",
    # round-11b: maintained trigram-LM (fold + batch scoring; RTBF)
    "incremental_lm_index",
    "lm_index_forget",
    # round-11b: the retrain decision EXECUTED and measured, plus the
    # graph store's RTBF edge
    "ivf_retrain_execute",
    "graph_stats_forget",
    # round-12: the cross-store RTBF audit capstone (composes the
    # forget edges over every maintained surface; store builds are
    # attributed to their own line items below) and the
    # non-invertible-sketch deletion policy (windowed rebuild)
    "rtbf_audit_report",
    "sketch_forget_rebuild",
    "cms_forget_subtract",
    # round-12: PQ retrain parity (both book generations are their own
    # train line items)
    "pq_retrain_execute",
    # round-13: the sample store's RTBF edge (reserve-store build is
    # its own line item below) and the PQ drift trigger (the decision
    # half pq_retrain_execute acts on; aging books are a train line
    # item)
    "weighted_sample_forget",
    "pq_retrain_plan",
    # Python-worker queries LAST: applyInPandas spins up 32 Python
    # workers and leaves GC pressure that inflates the next JVM-only
    # query by ~3x (measured: dedup_minhash_lsh 6.96s after it vs 1.9s
    # in a JVM of its own).
    "grouped_pandas_stats",
    "cogrouped_pandas_join",
    "rerank_crossencoder",
    # round-6: adaptive-grid k-D skyline (Arrow dominance kernel) and
    # its mergeable incremental form
    "skyline_pareto_3d",
    "incremental_skyline",
    # round-7: pure-Python RIFF/PCM decode (mapInPandas), the
    # iterator-form pandas UDF, and the Arrow-native grouped map
    "multimodal_audio",
    "pandas_iter_udf",
    "grouped_arrow_stats",
    # round-2 session-2 newcomer: the LLM-pipeline flagship composite
    "corpus_to_sequences",
]


def _run_segment(keys: list[str]) -> dict:
    """Measure one contiguous segment of HEADLINE in THIS process's
    JVM: warmup + min-of-RUNS per key + the artifact build ledger.
    Returns the segment's timings, spreads and build times.

    Segmentation rationale (round-7): per-key steady-state numbers in
    a single long-lived JVM are POSITION-DEPENDENT — the 104-key
    common subset measured 106.7 s in r5 but 119.5 s inside the
    183-key r6 suite (same plans; adamic_adar read 15.5 s in-suite vs
    9.1 s in a JVM of its own — accumulated heap/GC pressure from
    everything that ran before it). Running each ~50-key segment in a
    FRESH JVM bounds that contamination at a segment's width, so
    per-key numbers stay comparable round-over-round as the suite
    grows. Builds repeat per segment (fresh process => cold memo) but
    stay their own line items, never charged to a query's min."""
    spark = get_spark(
        "bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=int(CPUS),
    )
    spark.sparkContext.setLogLevel("ERROR")

    # warmup (JVM + codegen + parquet footer caches), plus one
    # applyInPandas run to spawn the 32-process Python worker pool —
    # worker fork is a one-off deployment cost (~2s fresh, up to ~8s
    # under heap pressure), not per-query engine time; workers are
    # reused (spark.python.worker.reuse) for every later Arrow stage.
    ALL_QUERIES["flagship_order_lifecycle"](spark, SF_DIR).count()
    ALL_QUERIES["grouped_pandas_stats"](spark, SF_DIR).count()

    # min of RUNS runs per query: the first run of a query pays one-off
    # codegen/compile cost (±30% noise on sub-second plans); the min is
    # the steady-state engine time a warmed deployment sees. The spread
    # (max-min)/min is recorded so a noisy run is visible as such —
    # computed over the STEADY samples only (the first run excluded):
    # with the codegen run inside it, 51 r8 keys read >50% "spread"
    # that was compile cost, not noise.
    # Keys whose steady spread still exceeds 50% get up to 2 extra
    # reps — more chances for min to reach the uncontended floor, so
    # a transient stall on one rep can't masquerade as a regression.
    timings: dict[str, float] = {}
    spread_pct: dict[str, float] = {}

    def _spread(xs: list[float]) -> float:
        # clamp the denominator: one anomalous near-zero timer reading
        # must record a degenerate spread, not ZeroDivisionError-abort
        # an hours-long certification run (ADVICE r9 #4)
        return 100.0 * (max(xs) - min(xs)) / max(min(xs), 1e-6)

    for name in keys:
        samples = []
        for _ in range(max(1, RUNS)):
            t0 = time.time()
            ALL_QUERIES[name](spark, SF_DIR).count()
            samples.append(time.time() - t0)
        steady = samples[1:] if len(samples) > 1 else list(samples)
        extra = 0
        while _spread(steady) > 50.0 and extra < 2:
            t0 = time.time()
            ALL_QUERIES[name](spark, SF_DIR).count()
            steady.append(time.time() - t0)
            samples.append(steady[-1])
            extra += 1
        timings[name] = round(min(samples), 3)
        spread_pct[name] = round(_spread(steady), 1)

    # Model and store builds, each its own line item read from the
    # artifact registry's ledger: one-off builds whose artifacts
    # downstream keys consume. The first rep of the first consumer
    # pays the memoized build; min-of-RUNS and the steady spread
    # exclude that rep, so no key's reported time carries a build
    # (unless RUNS=1, where the one rep is also the first).
    train_secs = {
        f"{name}_build_sec": secs for name, secs in BUILD_SECS.items()
    }
    spark.stop()
    return {
        "timings": timings,
        "spread_pct": spread_pct,
        "train_secs": train_secs,
    }


STREAM_TWINS = [
    "streaming_graph_stats",
    "streaming_dup_clusters",
    "streaming_bm25_index",
    # round-12: the two newest maintained stores' twins (guarded LM
    # fold + ledger swap; chunk-index two-half fold)
    "streaming_lm_index",
    "streaming_chunk_index",
    # round-13: the sample store's twin (order-independent fold — the
    # cheapest of the family)
    "streaming_weighted_sample",
]


def _run_stream_folds() -> dict:
    """Measure the maintained-state STREAMING twins' per-wave fold
    costs (VERDICT r10 task 4): each twin runs once in this fresh JVM
    and its foreachBatch handlers record per-micro-batch wall time
    (fold compute + store swap I/O) into
    queries.streaming.STREAM_FOLD_SECS — the number a real deployment
    pays per wave, separated from the one-off harness cost (writing
    the wave files, stream start/stop, final rendering) exactly the
    way the store-build line items separate build from fold on the
    batch side. Wave 1 of each twin is the BOOTSTRAP build (bulk
    build into an empty store), so the steady-state per-wave fold
    cost is waves 2+."""
    spark = get_spark(
        "bench-streams",
        master=f"local[{CPUS}]",
        shuffle_partitions=int(CPUS),
    )
    spark.sparkContext.setLogLevel("ERROR")
    from aproximacion_1_etl_spark.queries.streaming import (
        STREAM_FOLD_SECS,
    )

    # JVM/codegen warmup so wave-1 bootstrap isn't charged startup
    ALL_QUERIES["flagship_order_lifecycle"](spark, SF_DIR).count()
    out: dict[str, dict] = {}
    for key in STREAM_TWINS:
        STREAM_FOLD_SECS.pop(key, None)
        t0 = time.time()
        ALL_QUERIES[key](spark, SF_DIR).count()
        total = round(time.time() - t0, 3)
        folds = STREAM_FOLD_SECS.get(key, [])
        out[key] = {
            "total_sec": total,
            "fold_secs": folds,
            # steady-state per-wave fold: waves AFTER the bootstrap
            "steady_fold_secs": folds[1:],
        }
    spark.stop()
    return {"stream_folds": out}


def _launch_child(args: list[str], what: str) -> dict:
    """Run ``bench.py <args[0]> OUT <args[1:]>`` in a fresh process
    and return the JSON it wrote to OUT."""
    with tempfile.NamedTemporaryFile(
        mode="r", suffix=".json", prefix="graft_bench_seg_",
        delete=False,
    ) as fh:
        out_path = fh.name
    err_path = out_path + ".stderr"
    try:
        # stderr captured TO A FILE so a failing segment carries its
        # traceback instead of a bare exit code, without buffering
        # minutes of Spark log noise in the parent's memory on every
        # successful run
        with open(err_path, "wb") as err_fh:
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__),
                 args[0], out_path, *args[1:]],
                stdout=subprocess.DEVNULL,
                stderr=err_fh,
            )
        if proc.returncode != 0:
            with open(err_path, "rb") as err_fh:
                err_fh.seek(0, os.SEEK_END)
                err_fh.seek(max(0, err_fh.tell() - 2000))
                tail = err_fh.read().decode("utf-8", "replace")
            raise RuntimeError(
                f"bench {what} failed "
                f"(exit {proc.returncode}); stderr tail:\n{tail}"
            )
        with open(out_path) as fh:
            return json.load(fh)
    finally:
        for p in (out_path, err_path):
            if os.path.exists(p):
                os.unlink(p)


def bench_detail(results: list[dict], stream_folds: dict | None) -> dict:
    """The BENCH_DETAIL.json record of a full run, from the segment
    children's results (in HEADLINE order) and the stream-folds
    child's ``stream_folds`` (None when skipped)."""
    timings = {k: v for r in results for k, v in r["timings"].items()}
    spread_pct = {
        k: v for r in results for k, v in r["spread_pct"].items()
    }
    # builds repeat in every segment whose keys consume the artifact
    # (fresh memo per JVM, so a label may appear in any subset of
    # segments); report the min across the segments that built it
    all_labels = {lb for r in results for lb in r["train_secs"]}
    train_secs = {
        label: min(
            r["train_secs"][label]
            for r in results
            if label in r["train_secs"]
        )
        for label in sorted(all_labels)
    }

    sf = SF_DIR.rstrip("/").split("sf")[-1]
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf
    # round-1 headline set (BENCH_r01.json keys) — reported as a
    # like-for-like subtotal so cross-round totals stay comparable as
    # the headline list grows
    r1_keys = {
        "flagship_order_lifecycle", "work_table_build", "m5_child_rollup",
        "m1_dedup_latest", "f2_explode_roundtrip", "pricing_summary",
        "q3_shipping_priority", "q5_nation_revenue",
        "q13_order_count_distribution", "q18_big_spenders",
        "window_running_sum", "sessionize", "event_value_quantiles",
        "skew_salted_agg", "dedup_exact", "corpus_clean",
        "dedup_minhash_lsh", "text_profile", "top_tokens_per_lang",
        "ann_cosine_topk", "embedding_near_dup_lsh", "grouped_pandas_stats",
    }
    return {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "r1_subset_wall": round(
            sum(v for k, v in timings.items() if k in r1_keys), 3
        ),
        "n_queries": len(timings),
        "runs_per_query": max(1, RUNS),
        "segments": len(results),
        "segment_size": SEGMENT_SIZE,
        "spread_pct": spread_pct,
        # per-wave fold costs of the maintained-state streaming twins
        # (fold compute + store swap per micro-batch; wave 1 is the
        # bootstrap build) — the streaming counterpart of the
        # *_build_sec / fold split on the batch side
        "stream_folds": stream_folds,
        **train_secs,
    }


def main() -> None:
    if sys.argv[1:2] == ["--child"]:
        out_path, keys = sys.argv[2], sys.argv[3:]
        result = _run_segment(keys)
        with open(out_path, "w") as fh:
            json.dump(result, fh)
        return

    if sys.argv[1:2] == ["--child-streams"]:
        out_path = sys.argv[2]
        result = _run_stream_folds()
        with open(out_path, "w") as fh:
            json.dump(result, fh)
        return

    segments = [
        HEADLINE[i : i + SEGMENT_SIZE]
        for i in range(0, len(HEADLINE), SEGMENT_SIZE)
    ]
    results = [
        _launch_child(
            ["--child", *seg], f"segment {i + 1}/{len(segments)}"
        )
        for i, seg in enumerate(segments)
    ]
    # streaming-twin fold attribution (its own fresh JVM, after the
    # suite so its Python-worker/GC tail can't contaminate any suite
    # segment)
    stream_folds = None
    if os.environ.get("SPARK_GRAFT_BENCH_STREAMS", "1") != "0":
        stream_folds = _launch_child(
            ["--child-streams"], "stream-folds child"
        ).get("stream_folds")

    detail = bench_detail(results, stream_folds)
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)
        fh.write("\n")

    # Full per-query detail goes to BENCH_DETAIL.json (committed to the
    # repo); stdout carries ONE COMPACT line. Rationale: a caller that
    # keeps only the tail of stdout (~2 KB) lost the r4 100-key line,
    # and BENCH_r04.json came back "parsed": null, making the whole
    # round's perf invisible.
    timings = detail["queries"]
    slowest = dict(
        sorted(timings.items(), key=lambda kv: -kv[1])[:10]
    )
    print(
        json.dumps(
            {
                "metric": detail["metric"],
                "value": detail["value"],
                "unit": "sec",
                "sf": detail["sf"],
                "r1_subset_wall": detail["r1_subset_wall"],
                "n_queries": detail["n_queries"],
                # spec-shaped but truncated to the 10 slowest keys so
                # the one-line output stays inside a ~2 KB tail
                # capture; the full mapping is in the detail file
                "queries": slowest,
                "queries_truncated_to": 10,
                "detail_file": "BENCH_DETAIL.json",
            },
            separators=(",", ":"),
        )
    )


if __name__ == "__main__":
    main()
