"""North-star operator tests (§2.10): dedup families, similarity
search, text analysis, multimodal plumbing — semantic properties on
micro-fixtures (exact expectations), plus shape checks on testdata."""

import pyspark.sql.functions as F
import pytest

from aproximacion_1_etl_spark.text.analysis import lang_id, token_count
from aproximacion_1_etl_spark.text.dedup import (
    exact_dedup,
    minhash_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    word_shingles,
)
from aproximacion_1_etl_spark.text.multimodal import (
    attach_media,
    decode_stub_features,
    frame_sample,
)
from aproximacion_1_etl_spark.text.vector import ann_topk_bruteforce


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )


def test_exact_dedup_collapses_normalized_equals(spark):
    docs = _docs(spark, ["Hello  World", "hello world", "other text"])
    out = exact_dedup(docs).collect()
    by_keep = {r["keep_id"]: r["dup_count"] for r in out}
    assert by_keep == {0: 2, 2: 1}


def test_minhash_finds_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    near = base.replace("lazy", "sleepy")
    far = "completely different content with no overlap whatsoever here ok"
    sh = word_shingles(_docs(spark, [base, near, far]), n=3)
    pairs = minhash_candidate_pairs(
        minhash_signatures(sh), min_matching_bands=1
    ).collect()
    found = {(r["doc_a"], r["doc_b"]) for r in pairs}
    assert (0, 1) in found
    assert (0, 2) not in found and (1, 2) not in found


def test_jaccard_identical_docs_is_one(spark):
    docs = _docs(spark, ["a b c d e", "a b c d e", "x y z w v"])
    sh = word_shingles(docs, n=3)
    pairs = ngram_jaccard_pairs(sh, threshold=0.9).collect()
    assert len(pairs) == 1
    assert pairs[0]["jaccard"] == 1.0


def test_simhash_similar_docs_close(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    out = {
        r["doc_id"]: r["simhash"]
        for r in simhash(
            _docs(spark, [base, base + " extra", "q w e r t y u i o p"])
        ).collect()
    }
    def hamming(a, b):
        return bin(a ^ b).count("1")
    assert hamming(out[0], out[1]) <= hamming(out[0], out[2])


def test_ann_topk_self_similarity_excluded_and_ranked(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # closest to 0
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),  # antipode
    ]
    emb = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    out = ann_topk_bruteforce(emb, query_ids=[0], k=3).collect()
    ranked = [r["vec_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert ranked == [1, 2, 3]
    assert all(r["vec_id"] != 0 for r in out)


def test_lang_id_and_token_count(spark):
    df = spark.createDataFrame(
        [("el que la de los casa",), ("der und das ist haus",),
         ("xyz qwe rty",)],
        ["text"],
    )
    out = [r["l"] for r in df.select(lang_id(F.col("text")).alias("l")).collect()]
    assert out == ["es", "de", "und"]
    n = df.select(token_count(F.col("text")).alias("n")).collect()
    assert n[0]["n"] == 6


def test_multimodal_stub_features_and_frames(spark):
    docs = spark.createDataFrame(
        [(3, "abcdef" * 40)], ["doc_id", "text"]  # doc_id 3 -> image
    )
    media = attach_media(docs)
    feats = decode_stub_features(media).collect()[0]
    assert feats["byte_len"] == 240
    assert feats["first_byte"] == ord("a")
    assert feats["checksum"] == sum(b"abcdef" * 40) % 997
    video = spark.createDataFrame([(2, "x" * 320)], ["doc_id", "text"])
    frames = frame_sample(attach_media(video), every_nth=10).collect()
    assert len(frames) == 2  # 20 frames of 16B, sampled every 10th
    assert all(len(f["frame"]) == 16 for f in frames)


def test_repetition_profile_flags_repeated_doc(spark):
    from aproximacion_1_etl_spark.text.dedup import repetition_profile

    df = spark.createDataFrame(
        [(1, "a b c a b c a b c"),   # 7 3-grams, 3 distinct
         (2, "one two three four"),  # 2 3-grams, both distinct
         (3, "too short")],          # excluded (< 3 tokens)
        "doc_id INT, text STRING",
    )
    out = {r["doc_id"]: r for r in repetition_profile(df).collect()}
    assert set(out) == {1, 2}
    assert out[1]["n_grams"] == 7 and out[1]["n_distinct"] == 3
    assert out[2]["dup_ratio"] == 0.0


def test_decontaminate_finds_shared_ngrams(spark):
    from aproximacion_1_etl_spark.text.dedup import decontaminate

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "completely unrelated text with different words entirely")],
        "doc_id INT, text STRING",
    )
    bench = spark.createDataFrame(
        [(100, "xx the quick brown fox jumps yy")],
        "doc_id INT, text STRING",
    )
    hits = {r["doc_id"]: r["n_shared"] for r in
            decontaminate(corpus, bench, n=5, min_shared=1).collect()}
    assert 1 in hits and 2 not in hits


def test_kmeans_ivf_training_reduces_error_deterministically(spark, sf_dir):
    from aproximacion_1_etl_spark.sources.tables import load_table
    from aproximacion_1_etl_spark.text.vector import (
        pq_quantization_error,
        train_ivf_centroids,
    )

    def objective(cents):
        # one subspace spanning the whole vector: the per-row 6-dp
        # distance to the nearest centroid, i.e. the k-means objective
        return pq_quantization_error(emb, {0: cents}).agg(
            F.avg("err6")
        ).collect()[0][0]

    emb = load_table(spark, sf_dir, "embeddings")
    init = train_ivf_centroids(emb, n_centroids=8, iterations=0)
    trained = train_ivf_centroids(emb, n_centroids=8, iterations=3)
    e0 = objective(init)
    e3 = objective(trained)
    assert e3 < e0  # Lloyd iterations strictly improve the objective here
    # deterministic: same input -> identical codebook
    again = train_ivf_centroids(emb, n_centroids=8, iterations=3)
    assert trained == again


def test_dedup_clusters_transitive_closure(spark):
    # chain A-B, B-C plus isolated pair D-E: A,B,C must share one
    # cluster (min id 0) with exactly one keeper, even though A-C was
    # never a pair. A 41-doc chain of pairs (diameter 40) must
    # converge too: every doc in cluster 0, only doc 0 kept — plain
    # min-label propagation would need 40 rounds.
    from aproximacion_1_etl_spark.text.dedup import dedup_clusters

    cases = [
        (
            [(0, 1), (1, 2), (10, 11)],
            {
                0: (0, True), 1: (0, False), 2: (0, False),
                10: (10, True), 11: (10, False),
            },
        ),
        (
            [(i, i + 1) for i in range(40)],
            {i: (0, i == 0) for i in range(41)},
        ),
    ]
    for pairs, want in cases:
        df = spark.createDataFrame(pairs, ["doc_a", "doc_b"])
        out = {r["doc_id"]: (r["cluster_id"], r["keep"])
               for r in dedup_clusters(df).collect()}
        assert out == want


def test_hll_union_estimate_close_to_exact(spark, sf_dir):
    from aproximacion_1_etl_spark.queries import q_hll_sketch_union

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exact = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .agg(F.count_distinct("tok"))
        .collect()[0][0]
    )
    rows = {r["source"]: r for r in q_hll_sketch_union(spark, sf_dir).collect()}
    assert rows["ALL"]["n_exact"] == exact
    # est_ok encodes |est - exact| <= max(2, 5%) computed in-plan
    assert rows["ALL"]["est_ok"]
    assert all(r["est_ok"] for r in rows.values())


def test_bm25_scores_rank_matching_docs(spark, sf_dir):
    """BM25: every returned doc contains at least one query term; ranks
    are dense from 1 within each query; scores are non-increasing."""
    from aproximacion_1_etl_spark.text.analysis import BM25_QUERIES, bm25_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = bm25_topk(docs, BM25_QUERIES, k=10).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    text_by_id = {
        r["doc_id"]: r["text"] for r in docs.collect()
    }
    for qid, rows_ in by_q.items():
        rows_.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rows_] == list(range(1, len(rows_) + 1))
        scores = [r["score"] for r in rows_]
        assert scores == sorted(scores, reverse=True)
        terms = set(BM25_QUERIES[qid])
        for r in rows_:
            assert terms & set(text_by_id[r["doc_id"]].split()), (qid, r)


def test_semantic_dedup_partitions_corpus(spark, sf_dir):
    """Semantic dedup: kept + dropped tile the corpus exactly, and at a
    threshold where near-dups exist something actually drops."""
    from aproximacion_1_etl_spark.text.vector import (
        ivf_index,
        semantic_dedup,
        train_ivf_centroids,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # the first 16 vectors as the codebook (the k-means init)
    cents = train_ivf_centroids(emb, n_centroids=16, iterations=0)
    out = semantic_dedup(ivf_index(emb, cents), threshold=0.4).collect()
    assert sum(r["n_vectors"] for r in out) == emb.count()
    for r in out:
        assert r["n_kept"] + r["n_dropped"] == r["n_vectors"]
    assert sum(r["n_dropped"] for r in out) > 0


def test_lm_trigram_score_flags_garbage(spark):
    """Char-trigram LM quality score: documents made of corpus-typical
    character sequences score strictly higher than a junk document, and
    every score is a (negative) mean log-probability."""
    from aproximacion_1_etl_spark.text.analysis import lm_trigram_score

    typical = "the quick brown fox jumps over the lazy dog and runs home"
    docs = spark.createDataFrame(
        [(i, typical, "en") for i in range(8)]
        + [(99, "zq xv jk qz wx vj kq zx", "en")],
        "doc_id INT, text STRING, lang STRING",
    )
    out = {r["doc_id"]: r for r in lm_trigram_score(docs).collect()}
    assert all(r["avg_logp"] <= 0.0 for r in out.values())
    assert out[99]["avg_logp"] < out[0]["avg_logp"]


def test_lm_trigram_score_drops_short_docs(spark):
    """Docs shorter than 3 chars have NO trigrams: they must vanish from
    the output (matching generate_series semantics in the oracle) rather
    than emit bogus sub-3-char 'trigrams' via a descending sequence()
    that would pollute the per-language model counts."""
    from aproximacion_1_etl_spark.text.analysis import lm_trigram_score

    docs = spark.createDataFrame(
        [(1, "abcabcabc", "en"), (2, "ab", "en"), (3, "", "en"),
         (4, "x", "en"), (5, "abc", "en")],
        "doc_id INT, text STRING, lang STRING",
    )
    out = {r["doc_id"]: r for r in lm_trigram_score(docs).collect()}
    assert set(out) == {1, 5}
    # model trained only on the surviving docs: 'abc' appears in both,
    # so doc 5's single trigram has p = 8/8 -> avg_logp == 0
    assert out[5]["n_tri"] == 1


def test_trained_codebook_bounds_cell_population_on_skew(spark):
    """The 100 TB invariant behind semantic_dedup / ann_topk_ivf: with
    a TRAINED codebook sized by derive_n_centroids, no cell holds a
    runaway share of a SKEWED corpus — the failure mode of the first-N
    stand-in (first-N vectors all from the dense region -> one hot cell
    swallows everything else and the per-cell quadratic explodes)."""
    import pyspark.sql.functions as F

    from aproximacion_1_etl_spark.text.vector import (
        derive_n_centroids,
        ivf_assign_cells,
        train_ivf_centroids,
    )

    # skewed synthetic corpus: 600 vectors in a tight cluster around
    # one point, 40 spread far away on distinct axes
    def vec(base, eps, dim=8):
        return [base[d] + eps * (d + 1) for d in range(dim)]

    dense = [(i, vec([5.0] * 8, 0.001 * (i % 7))) for i in range(600)]
    sparse = [
        (600 + i, [100.0 * (1 if d == i % 8 else 0) for d in range(8)])
        for i in range(40)
    ]
    emb = spark.createDataFrame(
        dense + sparse, "vec_id INT, embedding ARRAY<DOUBLE>"
    )
    n_c = derive_n_centroids(640)  # 26 cells (sqrt regime)
    cents = train_ivf_centroids(emb, n_centroids=n_c, iterations=3)
    assigned = ivf_assign_cells(emb, cents)
    pops = [r["n"] for r in assigned.groupBy("cell").agg(
        F.count("*").alias("n")).collect()]
    assert sum(pops) == 640
    # trained codebook splits the dense blob across many cells: the
    # hottest cell must stay well under the whole corpus (first-N
    # stand-in puts ~600/640 in one cell here)
    assert max(pops) < 0.4 * 640, sorted(pops, reverse=True)[:5]


def test_codebook_and_assignment_cost_grow_sublinearly():
    """The r4 scale fix: codebook size — and with it driver memory,
    plan-literal bytes, and the per-row assignment cost (one distance
    fold per centroid) — must grow SUB-linearly in corpus size. The
    old ceil(n/32) rule made all three O(n) and Lloyd training
    O(n^2); the sqrt regime caps them at O(sqrt(n)), and
    derive_leaf_planes restores the bounded per-leaf pair bound that
    constant cell populations used to provide."""
    import math

    from aproximacion_1_etl_spark.text.vector import (
        derive_leaf_planes,
        derive_n_centroids,
    )

    # exact sqrt regime (isqrt ceil), floored at 16
    assert derive_n_centroids(100) == 16
    assert derive_n_centroids(1_000_000) == 1000
    assert derive_n_centroids(10**9) == math.isqrt(10**9 - 1) + 1
    # sub-linear: a 100x corpus costs ~10x centroids, never 100x
    for n in (10**4, 10**6, 10**8):
        assert derive_n_centroids(100 * n) <= 11 * derive_n_centroids(n)
    # leaf bound: expected leaf population cell_pop / 2^planes stays
    # within the target except at the explicit max_planes cap
    for n in (10**4, 10**6, 10**9, 10**12):
        nc = derive_n_centroids(n)
        p = derive_leaf_planes(n, nc, target_cell_size=32, max_planes=8)
        cell_pop = (n + nc - 1) // nc
        assert 0 <= p <= 8
        if p < 8:
            assert cell_pop <= 32 << p
        if p > 0:
            assert cell_pop > 32 << (p - 1)


def test_semantic_dedup_banding_matches_plain_when_vacuous(spark):
    """leaf_planes=0 must be byte-identical to the pre-banding
    operator, and with planes>0 the (cell, n_vectors) totals are
    unchanged — banding only restricts which PAIRS are compared, so
    n_dropped can only stay equal or shrink per cell."""
    from aproximacion_1_etl_spark.text.vector import (
        ivf_index,
        semantic_dedup,
        train_ivf_centroids,
    )

    rows = [
        (i, [1.0 if d == i % 4 else 0.1 * ((i * 7 + d) % 5) for d in range(8)])
        for i in range(60)
    ]
    emb = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>")
    cents = train_ivf_centroids(emb, n_centroids=4, iterations=0)
    index = ivf_index(emb, cents)
    plain = semantic_dedup(index, threshold=0.8, dim=8)
    banded = semantic_dedup(
        index, threshold=0.8, leaf_planes=2, leaf_tables=2, dim=8
    )
    p = {r["cell"]: r for r in plain.collect()}
    b = {r["cell"]: r for r in banded.collect()}
    assert set(p) == set(b)
    for c in p:
        assert p[c]["n_vectors"] == b[c]["n_vectors"]
        assert b[c]["n_dropped"] <= p[c]["n_dropped"]
    # planes=0 path is the identical operator (same plan family)
    again = semantic_dedup(index, threshold=0.8, dim=8)
    assert sorted(map(tuple, again.collect())) == sorted(
        map(tuple, plain.collect())
    )


def _retrain_report_dict(spark, store_rows, batch_rows, exact=None, **kw):
    """The report as {evidence: (value, breach)}. The store's cell
    counts and, unless ``exact`` is given, the brute-force truth over
    store ∪ batch are derived in-plan here."""
    from aproximacion_1_etl_spark.text.vector import (
        ivf_assign_cells,
        ivf_retrain_report,
    )

    schema = "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    store = spark.createDataFrame(store_rows, schema)
    batch = spark.createDataFrame(batch_rows, schema)
    base = (
        ivf_assign_cells(store, kw["centroids"])
        .groupBy("cell")
        .agg(F.count("*").alias("n_baseline"))
    )
    if exact is None:
        exact = ann_topk_bruteforce(
            store.unionByName(batch), query_ids=kw["query_ids"], k=kw["k"]
        ).select("query_id", "vec_id")
    return {
        r.evidence: (r.value, r.breach)
        for r in ivf_retrain_report(
            store, batch, baseline_counts=base, exact=exact, **kw
        ).collect()
    }


def test_ivf_index_append_redelivery_guard(spark):
    """r11 fold audit: the cell stats are additive, so a re-delivered
    batch double-counts populations — with ``indexed_ids`` passed,
    already-indexed batch vectors are dropped before counting and
    only the genuinely-new vector lands in n_new."""
    import pyspark.sql.functions as F

    from aproximacion_1_etl_spark.text.vector import (
        ivf_assign_cells,
        ivf_index_append,
    )

    cents = {0: [1.0, 0.0], 1: [8.0, 0.0]}
    schema = "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    store = spark.createDataFrame(
        [(0, [1.0, 0.1]), (1, [0.9, 0.0]), (2, [8.1, 0.2]),
         (3, [7.9, 0.1])],
        schema,
    )
    # ids 2 and 3 are a re-delivery; 9 is genuinely new
    batch = spark.createDataFrame(
        [(2, [8.1, 0.2]), (3, [7.9, 0.1]), (9, [1.2, 0.0])], schema
    )
    baseline = (
        ivf_assign_cells(store, cents)
        .groupBy("cell")
        .agg(F.count("*").alias("n_baseline"))
    )
    guarded = ivf_index_append(
        batch, cents, baseline, indexed_ids=store.select("vec_id")
    )
    assert guarded.agg(F.sum("n_new")).collect()[0][0] == 1
    unguarded = ivf_index_append(batch, cents, baseline)
    assert unguarded.agg(F.sum("n_new")).collect()[0][0] == 3


def test_ivf_recall_cost_exact_observables(spark):
    """r11 retrain-execute observables: hits / scanned_rows / n_total
    are exact integers a hand-checkable 2-cell geometry pins — at
    nprobe=1 the query's exact top-2 lives in the unprobed cell
    (0 hits, 2 rows scanned); at nprobe=2 both cells are probed
    (2 hits, all 4 rows scanned)."""
    from aproximacion_1_etl_spark.text.vector import ivf_recall_cost

    cents = {0: [1.0, 0.0], 1: [8.0, 0.0]}
    corpus = spark.createDataFrame(
        [(0, [1.0, 0.01]), (1, [0.1, 1.0]), (2, [10.0, 0.1]),
         (3, [11.0, 0.2])],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    exact = ann_topk_bruteforce(corpus, query_ids=[0], k=2).select(
        "query_id", "vec_id"
    )
    narrow = ivf_recall_cost(
        corpus, [0], cents, exact, k=2, nprobe=1
    ).collect()[0]
    assert (narrow.hits, narrow.scanned_rows, narrow.n_total) == (0, 2, 4)
    wide = ivf_recall_cost(
        corpus, [0], cents, exact, k=2, nprobe=2
    ).collect()[0]
    assert (wide.hits, wide.scanned_rows, wide.n_total) == (2, 4, 4)


def test_ivf_retrain_report_growth_flip_point(spark):
    """VERDICT r10 task 7: the retrain verdict flips EXACTLY at the
    50% growth bound — a 1-of-4 batch stays no_retrain, a 2-of-4
    batch (2·tot_new >= tot_base at equality) flips to retrain, with
    recall/hot evidence clean in both (all vectors share one cell so
    the nprobe=1 probe captures the exact top-k)."""
    cents = {0: [1.0, 0.0], 1: [8.0, 0.0]}
    store = [
        (0, [1.0, 0.01]), (1, [1.1, 0.0]),
        (2, [0.9, 0.02]), (3, [1.05, 0.03]),
    ]
    kw = dict(centroids=cents, query_ids=[0], k=2, nprobe=1)
    small = _retrain_report_dict(
        spark, store, [(9, [1.0, 0.05])], **kw
    )
    assert small["growth"] == (0.25, False)
    assert small["recall_probe"] == (1.0, False)
    assert small["verdict"] == (0.0, False)
    big = _retrain_report_dict(
        spark, store, [(9, [1.0, 0.05]), (10, [0.95, 0.04])], **kw
    )
    assert big["growth"] == (0.5, True)  # boundary: 2*2 >= 4
    assert big["recall_probe"] == (1.0, False)
    assert big["verdict"] == (1.0, True)


def test_ivf_retrain_report_recall_breach_triggers(spark):
    """The quality evidence alone must trigger retrain: the query's
    exact top-k lives in the UNPROBED cell (high-magnitude vectors
    share the query's direction but quantize to the far centroid), so
    the nprobe=1 probe recalls 0 of it — retrain even though growth
    and skew are clean."""
    cents = {0: [1.0, 0.0], 1: [8.0, 0.0]}
    store = [
        (0, [1.0, 0.01]),   # query, cell 0
        (1, [0.1, 1.0]),    # cell 0, near-orthogonal to the query
        (2, [10.0, 0.1]),   # cell 1, cosine ~1 to the query
        (3, [11.0, 0.2]),   # cell 1, cosine ~1 to the query
    ]
    rep = _retrain_report_dict(
        spark, store, [(9, [0.2, 1.0])],
        centroids=cents, query_ids=[0], k=2, nprobe=1,
    )
    assert rep["growth"][1] is False and rep["hot_cells"][1] is False
    assert rep["recall_probe"] == (0.0, True)
    assert rep["verdict"] == (1.0, True)


def test_ivf_retrain_report_shared_exact_matches_internal(spark):
    """r14: the plan/execute pair shares one memoized brute-force
    ground truth (it is codebook-independent) — a checkpointed truth
    over store ∪ batch must reproduce the report of the in-plan truth
    row for row."""
    from aproximacion_1_etl_spark.text.vector import ann_topk_bruteforce

    cents = {0: [1.0, 0.0], 1: [8.0, 0.0]}
    store = [
        (0, [1.0, 0.01]),
        (1, [0.1, 1.0]),
        (2, [10.0, 0.1]),
        (3, [11.0, 0.2]),
    ]
    batch = [(9, [0.2, 1.0]), (10, [7.5, 0.3])]
    schema = "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    corpus = spark.createDataFrame(store + batch, schema)
    exact = (
        ann_topk_bruteforce(corpus, query_ids=[0], k=2)
        .select("query_id", "vec_id")
        .localCheckpoint(eager=True)
    )
    kw = dict(centroids=cents, query_ids=[0], k=2, nprobe=1)
    in_plan = _retrain_report_dict(spark, store, batch, **kw)
    shared = _retrain_report_dict(spark, store, batch, exact=exact, **kw)
    assert shared == in_plan


def test_ivf_index_append_flags_hot_cells_and_retrain(spark):
    """Incremental index maintenance: a new batch that concentrates in
    one cell flips that cell's hot flag; a batch that grows the corpus
    >= 50% flips the global retrain_due flag; a small balanced batch
    flips neither. The historical corpus is never re-assigned — only
    baseline_counts joins in."""
    import pyspark.sql.functions as F

    from aproximacion_1_etl_spark.text.vector import ivf_index_append

    # 4 well-separated centroids in 4-d
    cents = {
        0: [10.0, 0.0, 0.0, 0.0],
        1: [0.0, 10.0, 0.0, 0.0],
        2: [0.0, 0.0, 10.0, 0.0],
        3: [0.0, 0.0, 0.0, 10.0],
    }
    baseline = spark.createDataFrame(
        [(0, 25), (1, 25), (2, 25), (3, 25)], "cell INT, n_baseline INT"
    )
    # skewed, large batch: 60 vectors all nearest centroid 2
    skewed = spark.createDataFrame(
        [(1000 + i, [0.1, 0.1, 9.0 + 0.01 * i, 0.1]) for i in range(60)],
        "vec_id INT, embedding ARRAY<DOUBLE>",
    )
    out = {
        r["cell"]: r
        for r in ivf_index_append(skewed, cents, baseline).collect()
    }
    assert out[2]["n_new"] == 60 and out[2]["n_total"] == 85
    # 85 * 4 = 340 > 2 * 160 = 320 -> hot
    assert out[2]["hot"] is True
    assert all(not out[c]["hot"] for c in (0, 1, 3))
    # growth 60 vs 100 baseline: 120 >= 100 -> retrain due (all rows)
    assert all(out[c]["retrain_due"] for c in out)

    # small balanced batch: 2 vectors per cell -> no flags
    balanced = spark.createDataFrame(
        [
            (2000 + 2 * c + j, [10.0 if d == c else 0.1 for d in range(4)])
            for c in range(4)
            for j in (0, 1)
        ],
        "vec_id INT, embedding ARRAY<DOUBLE>",
    )
    out2 = {
        r["cell"]: r
        for r in ivf_index_append(balanced, cents, baseline).collect()
    }
    assert all(out2[c]["n_new"] == 2 for c in range(4))
    assert not any(out2[c]["hot"] for c in out2)
    assert not any(out2[c]["retrain_due"] for c in out2)
    # a cell absent from the new batch still reports via the outer join
    empty_cell = spark.createDataFrame(
        [(3000, [10.0, 0.1, 0.1, 0.1])], "vec_id INT, embedding ARRAY<DOUBLE>"
    )
    out3 = {
        r["cell"]: r
        for r in ivf_index_append(empty_cell, cents, baseline).collect()
    }
    assert out3[3]["n_new"] == 0 and out3[3]["n_total"] == 25


def test_artifact_cache_retrains_on_corpus_regen(spark, tmp_path):
    """The artifact registry keys on the mtime of every source table an
    artifact reads: regenerating any of them inside one long-lived
    process must rebuild instead of serving the stale artifact; an
    unchanged corpus must serve the cached artifact (same object)."""
    import os

    from aproximacion_1_etl_spark.queries import _trained_codebook

    sf = str(tmp_path)
    path = os.path.join(sf, "embeddings.parquet")

    def write(shift: float, stamp: float) -> None:
        rows = [
            (i, [float(i % 5) + shift, shift, 1.0, 0.0], i % 3)
            for i in range(40)
        ]
        df = spark.createDataFrame(
            rows, "vec_id INT, embedding ARRAY<DOUBLE>, label INT"
        )
        df.coalesce(1).write.mode("overwrite").parquet(path)
        # pin a deterministic mtime well apart from the next write
        for f in os.listdir(path):
            os.utime(os.path.join(path, f), (stamp, stamp))
        os.utime(path, (stamp, stamp))

    write(0.0, 1_000_000.0)
    cb1 = _trained_codebook(spark, sf)
    assert _trained_codebook(spark, sf) is cb1  # cache hit, same corpus
    write(50.0, 2_000_000.0)  # regenerated corpus, new mtime
    cb2 = _trained_codebook(spark, sf)
    assert cb2 is not cb1
    # and the retrained centroids actually reflect the shifted data
    assert any(
        abs(a - b) > 1.0
        for va, vb in zip(cb1.values(), cb2.values())
        for a, b in zip(va, vb)
    )

    # a DataFrame artifact over two tables: the full graph store reads
    # orders AND lineitem (through the capped baskets), so regenerating
    # only lineitem must rebuild it, not serve the stale store
    from aproximacion_1_etl_spark.queries import _graph_store

    def write_table(name: str, rows, schema: str, stamp: float) -> None:
        tpath = os.path.join(sf, f"{name}.parquet")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tpath)
        for f in os.listdir(tpath):
            os.utime(os.path.join(tpath, f), (stamp, stamp))
        os.utime(tpath, (stamp, stamp))

    write_table(
        "orders", [(o, "2000-01-01") for o in range(4)],
        "o_orderkey BIGINT, o_orderdate STRING", 1_000_000.0,
    )
    # orders 0-2 each hold parts {1, 2, 3}: one triangle
    basket = [(o, p) for o in range(3) for p in (1, 2, 3)]
    write_table(
        "lineitem", basket, "l_orderkey BIGINT, l_partkey BIGINT",
        1_000_000.0,
    )
    edges1, _stats1 = _graph_store(spark, sf)
    assert _graph_store(spark, sf)[0] is edges1  # cache hit
    assert edges1.count() == 3
    # order 3 joins part 4 to parts 1-3: three more edges
    write_table(
        "lineitem", basket + [(3, p) for p in (1, 2, 3, 4)],
        "l_orderkey BIGINT, l_partkey BIGINT", 2_000_000.0,
    )
    edges2, _stats2 = _graph_store(spark, sf)
    assert edges2 is not edges1
    assert edges2.count() == 6


def test_real_decode_ppm_bmp_roundtrip_and_guards(spark):
    """Pure-Python image decode: PPM and BMP round-trip bit-exactly
    (incl. BMP 4-byte row stride, bottom-up flip, BGR order, and PPM
    header comments); non-decodable formats keep the explicit
    NotImplementedError boundary; corrupt payloads raise ValueError."""
    import pytest

    from aproximacion_1_etl_spark.text.multimodal import (
        encode_bmp,
        encode_ppm,
        real_decode,
    )

    # w=5 -> 15-byte rows padded to 16: stride handling is exercised
    w, h = 5, 3
    rgb = bytes((x * 7 + y * 31 + c * 101) % 256
                for y in range(h) for x in range(w) for c in range(3))
    for enc, fmt in ((encode_ppm, "ppm"), (encode_bmp, "bmp")):
        d = real_decode(enc(w, h, rgb), "image")
        assert (d["format"], d["width"], d["height"]) == (fmt, w, h)
        assert d["rgb"] == rgb, fmt

    # PPM with comment lines in the header still parses
    commented = b"P6\n# a comment\n5 3\n# another\n255\n" + rgb
    assert real_decode(commented, "image")["rgb"] == rgb

    with pytest.raises(NotImplementedError):
        real_decode(b"\x89PNG\r\n\x1a\n....", "image")
    with pytest.raises(ValueError):
        real_decode(b"P6\n5 3\n255\n" + rgb[:10], "image")  # truncated
    with pytest.raises(ValueError):
        real_decode(encode_bmp(w, h, rgb)[:30], "image")  # truncated


def test_decode_image_features_end_to_end(spark):
    """The decoded-statistics pipeline (generate real PPM/BMP files ->
    parse them back -> exact pixel sums) matches the closed form the
    images were generated from, distributed over mapInPandas."""
    import pyspark.sql.functions as F

    from aproximacion_1_etl_spark.text.multimodal import (
        decode_image_features,
        make_synthetic_images,
    )

    docs = spark.range(0, 40).select(F.col("id").alias("doc_id"))
    feats = {r["doc_id"]: r for r in decode_image_features(
        make_synthetic_images(docs)).collect()}
    assert len(feats) == 40
    for doc_id in range(40):
        w, h = 4 + doc_id % 5, 3 + doc_id % 4
        r = feats[doc_id]
        assert (r["fmt"], r["width"], r["height"]) == (
            "ppm" if doc_id % 2 == 0 else "bmp", w, h)
        for ci, col in enumerate(("sum_r", "sum_g", "sum_b")):
            expect = sum((doc_id + x + y + ci) % 256
                         for x in range(w) for y in range(h))
            assert r[col] == expect, (doc_id, col)


def test_bpe_merge_pairs_weights_distinct_words_by_frequency(spark):
    """BPE pair counting: counted over distinct words x word frequency,
    exactly equivalent to counting raw corpus positions (the scale
    trick must not change the statistic)."""
    from aproximacion_1_etl_spark.text.analysis import bpe_merge_pairs

    docs = spark.createDataFrame(
        [(0, "abab abab cd"), (1, "abab x cd cd")],
        "doc_id BIGINT, text STRING",
    )
    out = {r["pair"]: (r["n"], r["rank"]) for r in
           bpe_merge_pairs(docs, k=10).collect()}
    # raw-position truth: 'abab' x3 -> ab:2/word, ba:1/word; 'cd' x3 ->
    # cd:1/word; 'x' dropped (<2 chars)
    assert out["ab"] == (6, 1)
    assert out["ba"] == (3, 2) or out["cd"] == (3, 2)
    assert out["ba"][0] == 3 and out["cd"][0] == 3
    # deterministic tie-break: 'ba' < 'cd' lexicographically? no —
    # count desc then pair ASC: 'ba' before 'cd'
    assert out["ba"][1] == 2 and out["cd"][1] == 3


def test_embedding_quantize_int8_stats(spark):
    """int8 quantization: zero vectors quantize to all-zero stats, the
    max-|x| element saturates by construction, and reconstruction error
    is bounded by (scale/2)^2 per element."""
    from aproximacion_1_etl_spark.text.vector import embedding_quantize_int8

    vecs = [
        (0, [0.0, 0.0, 0.0, 0.0]),
        (1, [1.0, -0.5, 0.25, 0.125]),
        (2, [-2.0, 2.0, 1.0, -1.0]),
    ]
    emb = spark.createDataFrame(vecs, "vec_id INT, embedding ARRAY<DOUBLE>")
    out = {r["vec_id"]: r for r in embedding_quantize_int8(emb).collect()}
    assert out[0]["scale"] == 0.0
    assert out[0]["q_sum"] == 0 and out[0]["n_saturated"] == 0
    assert out[0]["mse_ppm"] == 0.0
    for vid, v in [(1, vecs[1][1]), (2, vecs[2][1])]:
        r = out[vid]
        scale = max(abs(x) for x in v) / 127.0
        assert abs(r["scale"] - scale) < 1e-9
        q = [int((x / scale + 0.5) // 1) for x in v]
        assert r["q_sum"] == sum(q), (vid, q)
        assert r["n_saturated"] >= 1  # the max element hits +/-127
        # mse bound: each |err| <= scale/2
        assert r["mse_ppm"] / 1e6 <= (scale / 2) ** 2 + 1e-12


def test_deletion_vector_read_and_compaction_materializes(spark, sf_dir):
    """Deletion vectors: deletes apply at read time without touching
    data files, compose across calls, respect time travel (the DV is
    per-version), and compact_snapshot materializes them into the next
    version (which starts with an empty DV)."""
    import os
    import tempfile

    from aproximacion_1_etl_spark.sources.tables import load_table
    from aproximacion_1_etl_spark.sources.versioned import (
        compact_snapshot,
        delete_rows,
        read_snapshot,
        read_snapshot_with_dv,
        write_snapshot,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    n_total = o.count()
    path = tempfile.mkdtemp(prefix="graft_dvtest_") + "/t"
    v0 = write_snapshot(o, path)

    n_del1 = delete_rows(spark, path, "o_orderkey", "o_orderkey % 10 = 0")
    assert n_del1 == o.filter("o_orderkey % 10 = 0").count()
    # base files untouched: plain read still sees everything
    assert read_snapshot(spark, path).count() == n_total
    assert read_snapshot_with_dv(spark, path).count() == n_total - n_del1

    # second delete composes (overlap with the first is fine)
    delete_rows(spark, path, "o_orderkey", "o_orderkey % 4 = 0")
    survivors = o.filter(
        "NOT (o_orderkey % 10 = 0) AND NOT (o_orderkey % 4 = 0)"
    ).count()
    assert read_snapshot_with_dv(spark, path).count() == survivors

    # compaction reads through the DV: deletes are materialized, the
    # new version has no DV dir, and time travel to v0 still honors
    # v0's own deletion vector
    v1 = compact_snapshot(spark, path, target_partitions=2)
    assert read_snapshot(spark, path).count() == survivors
    assert not os.path.isdir(os.path.join(path, "_dv", f"v={v1}"))
    assert read_snapshot_with_dv(spark, path, version=v0).count() == survivors
    assert read_snapshot_with_dv(spark, path).count() == survivors


def test_incremental_minhash_dedup_screens_new_batch(spark):
    """Incremental dedup: only the new batch is hashed; a re-ingested
    doc collides with its corpus copy on every band (est_jaccard 1.0),
    near-dups collide partially, unrelated docs don't surface."""
    from aproximacion_1_etl_spark.text.dedup import (
        incremental_minhash_dedup,
        minhash_signatures,
        word_shingles,
    )

    base = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away into the quiet green forest before nightfall")
    corpus = spark.createDataFrame(
        [(1, base), (2, "completely different words about spark plans "
                        "and shuffle exchanges in a distributed engine")],
        "doc_id BIGINT, text STRING",
    )
    new = spark.createDataFrame(
        [(100, base),                                   # exact re-ingest
         (101, base.replace("lazy", "sleepy")),          # near-dup
         (102, "nothing like anything in the corpus at all "
               "just novel content with fresh tokens")],  # novel
        "doc_id BIGINT, text STRING",
    )
    store = minhash_signatures(word_shingles(corpus, distinct=False))
    out = {(r["doc_new"], r["doc_old"]): r
           for r in incremental_minhash_dedup(new, store).collect()}
    assert (100, 1) in out
    assert out[(100, 1)]["matching_bands"] == 8
    assert out[(100, 1)]["est_jaccard"] == 1.0
    assert all(k[0] != 102 for k in out)  # novel doc never surfaces
    if (101, 1) in out:  # near-dup: partial collision when it fires
        assert out[(101, 1)]["matching_bands"] < 8


def test_pq_adc_ranks_true_neighbor_first_and_is_deterministic(spark):
    """PQ/ADC: codes are m small ints; a near-identical vector ranks
    first in asymmetric distance; training is deterministic."""
    import random

    from aproximacion_1_etl_spark.text.vector import (
        ann_topk_pq,
        pq_encode,
        train_pq_codebooks,
    )

    random.seed(7)
    dim, m = 16, 4
    base = [[random.uniform(-1, 1) for _ in range(dim)] for _ in range(60)]
    # vec 50 := tiny perturbation of vec 0 -> its ADC distance to query 0
    # must be the smallest
    base[50] = [x + 1e-4 for x in base[0]]
    emb = spark.createDataFrame(
        list(enumerate(base)), "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    )
    books = train_pq_codebooks(emb, m=m, n_centroids=8, iterations=2)
    again = train_pq_codebooks(emb, m=m, n_centroids=8, iterations=2)
    assert books == again  # deterministic recurrence

    codes = {r["vec_id"]: r["code"] for r in pq_encode(emb, books).collect()}
    assert all(len(c) == m for c in codes.values())
    assert all(0 <= x < 8 for c in codes.values() for x in c)
    assert codes[50] == codes[0]  # near-identical vectors share a code

    out = ann_topk_pq(emb, query_ids=[0], books=books, k=5).collect()
    top = [r["vec_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert top[0] == 50, top


def test_ivfpq_probes_cells_and_ranks_neighbor_first(spark):
    """IVF-PQ: the probe stage restricts candidates to nprobe coarse
    cells and ADC still ranks a near-identical vector first; results
    are a subset of the probed cells' members by construction."""
    import random

    from aproximacion_1_etl_spark.text.vector import (
        ann_topk_ivfpq,
        ivf_index,
        train_ivf_centroids,
        train_pq_codebooks,
    )

    random.seed(11)
    dim, m = 16, 4
    base = [[random.uniform(-1, 1) for _ in range(dim)] for _ in range(80)]
    base[70] = [x + 1e-4 for x in base[0]]
    emb = spark.createDataFrame(
        list(enumerate(base)), "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    )
    coarse = train_ivf_centroids(emb, n_centroids=8, iterations=2)
    books = train_pq_codebooks(emb, m=m, n_centroids=8, iterations=2)
    out = ann_topk_ivfpq(
        ivf_index(emb, coarse),
        query_ids=[0],
        coarse=coarse,
        books=books,
        k=5,
        nprobe=3,
    ).collect()
    assert out, "probe stage returned no candidates"
    top = [r["vec_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert top[0] == 70, top
    assert all(r["query_id"] == 0 and r["vec_id"] != 0 for r in out)


def test_rrf_fuse_combines_both_systems_and_singletons(spark):
    from aproximacion_1_etl_spark.text.analysis import rrf_fuse

    lex = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2)], "query_id INT, doc_id INT, rank INT"
    )
    sem = spark.createDataFrame(
        [(1, 10, 1), (1, 12, 2)], "query_id INT, doc_id INT, rank INT"
    )
    out = {r["doc_id"]: r for r in rrf_fuse(lex, sem, k=10).collect()}
    # doc 10 appears in both lists: two reciprocal contributions
    both = 1.0 / 61 + 1.0 / 61
    assert abs(out[10]["rrf_score"] - both) < 1e-6
    assert out[10]["rank"] == 1 and out[10]["lex_rank"] == 1
    assert out[10]["sem_rank"] == 1
    # singletons carry one contribution and a NULL for the absent system
    assert abs(out[11]["rrf_score"] - 1.0 / 62) < 1e-6
    assert out[11]["sem_rank"] is None
    assert out[12]["lex_rank"] is None
    # deterministic tie-break between the two 1/62 singletons: lower id
    assert out[11]["rank"] == 2 and out[12]["rank"] == 3


def test_cluster_safe_split_keeps_near_dups_on_one_side(spark):
    from aproximacion_1_etl_spark.text.dedup import cluster_safe_split

    docs = spark.createDataFrame(
        [(i,) for i in range(20)], "doc_id BIGINT"
    )
    # components {0,1,2} (chain: 0-1, 1-2) and {5,6}; rest singletons
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6)], "doc_a BIGINT, doc_b BIGINT"
    )
    out = cluster_safe_split(
        docs, pairs, {"train": 0.8, "val": 0.1, "test": 0.1}
    ).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert len(by_id) == 20
    # transitive closure: 0,1,2 share a group key and a side even
    # though (0,2) was never a pair
    assert {by_id[i]["group_key"] for i in (0, 1, 2)} == {0}
    assert len({by_id[i]["split"] for i in (0, 1, 2)}) == 1
    assert {by_id[i]["group_key"] for i in (5, 6)} == {5}
    assert by_id[5]["split"] == by_id[6]["split"]
    # singletons are their own group
    assert by_id[9]["group_key"] == 9
    assert set(r["split"] for r in out) <= {"train", "val", "test"}


def test_ann_recall_perfect_when_lsh_probes_everything(spark, sf_dir):
    from aproximacion_1_etl_spark.text.vector import ann_recall_at_k

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # planes=0 => every vector lands in bucket 0 of each table, so the
    # LSH candidate set is the full corpus and recall must be exactly 1
    out = ann_recall_at_k(
        emb,
        query_ids=[0, 1, 2],
        k=5,
        planes=0,
        tables=1,
        dim=64,
        exact=ann_topk_bruteforce(emb, query_ids=[0, 1, 2], k=5),
    ).collect()
    assert len(out) == 3
    for r in out:
        assert r["n_exact"] == 5 and r["n_hit"] == 5
        assert r["recall"] == 1.0


def test_exact_topk_is_a_prefix_of_one_artifact_build(
    spark, sf_dir, monkeypatch
):
    """Every (query ids, k) within the artifact's range reads the one
    exact_topk_full materialization, and equals the brute pass at the
    same arguments row for row: each query's ranking stands alone, so
    the top-k of the top-20 is the top-k."""
    import aproximacion_1_etl_spark.queries.vector as qv
    from aproximacion_1_etl_spark.queries.common import _ARTIFACTS

    monkeypatch.delitem(
        _ARTIFACTS, ("exact_topk_full", sf_dir), raising=False
    )
    builds = []

    def counted(*args, **kwargs):
        builds.append(kwargs)
        return ann_topk_bruteforce(*args, **kwargs)

    monkeypatch.setattr(qv, "ann_topk_bruteforce", counted)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    order = ["query_id", "rank"]
    for qids, k in (([0, 1, 2], 5), ([0, 1, 2, 3, 4], 10)):
        got = qv._exact_topk(spark, sf_dir, qids, k)
        want = ann_topk_bruteforce(emb, query_ids=qids, k=k)
        assert got.columns == want.columns
        assert got.orderBy(order).collect() == want.orderBy(order).collect()
    assert len(builds) == 1


@pytest.mark.parametrize(
    "key, max_jobs",
    [
        ("ann_topk_ivf", 3),
        ("ivf_nprobe_plan", 4),
        ("semantic_dedup", 6),
        ("ann_topk_ivfpq", 4),
    ],
)
def test_ivf_keys_probe_the_registry_index(warm_call, key, max_jobs):
    """The four keys read the ivf_index_full artifact: once the corpus
    is assigned, a call assigns only its queries (6, 18, 11 and 7 jobs
    when each call re-ran the full-corpus argmin). ivf_nprobe_plan
    also reads its cell populations and per-cell truth counts from the
    ivf_nprobe_stats artifact (14 jobs when a call recomputed them),
    semantic_dedup reads the corpus size from the index artifact (9
    jobs when a call counted the table), and the probed searches
    shuffle their candidates once."""
    rows, again, jobs = warm_call(key)
    assert sorted(again) == sorted(rows)
    assert len(jobs) <= max_jobs


def test_bpe_train_merges_learns_greedy_merges(spark):
    from aproximacion_1_etl_spark.text.analysis import bpe_train_merges

    docs = spark.createDataFrame(
        [(1, "abab abab cd"), (2, "abab cd cd"), (3, "aaaa")],
        "doc_id BIGINT, text STRING",
    )
    out = bpe_train_merges(docs, n_merges=3).collect()
    steps = {r["step"]: r for r in out}
    # round 1 pair counts: ab:6? no — words: abab x3 (pairs ab,ba,ab),
    # cd x3 (pair cd), aaaa x1 (aa,aa,aa)
    # => (a,b): 6, (b,a): 3, (c,d): 3, (a,a): 3 -> top = (a,b)
    assert (steps[1]["p1"], steps[1]["p2"], steps[1]["n"]) == ("a", "b", 6)
    # after merging: abab -> [ab, ab], aaaa unchanged, cd -> [c, d]
    # round 2: (ab,ab): 3, (c,d): 3, (a,a): 3 -> tie broken by p1 asc:
    # (a,a) < (ab,ab) < (c,d)
    assert (steps[2]["p1"], steps[2]["p2"], steps[2]["n"]) == ("a", "a", 3)
    # greedy fold on aaaa: [aa, aa] (non-overlapping)
    # round 3: (ab,ab): 3, (c,d): 3, (aa,aa): 1 -> (ab,ab) vs (c,d):
    # p1 'ab' < 'c' so (ab,ab) wins
    assert (steps[3]["p1"], steps[3]["p2"], steps[3]["n"]) == ("ab", "ab", 3)


def test_bpe_encode_applies_merge_table(spark):
    from aproximacion_1_etl_spark.text.analysis import bpe_encode

    docs = spark.createDataFrame(
        [(1, "abab cd x")], "doc_id BIGINT, text STRING"
    )
    # rule 1 merges chars a+b; rule 2 merges the resulting ab+ab
    out = bpe_encode(docs, [("a", "b"), ("ab", "ab")]).collect()
    assert len(out) == 1
    r = out[0]
    # abab -> [ab, ab] -> [abab] (1 token); cd -> [c, d]; x -> [x]
    assert r["n_words"] == 3
    assert r["n_chars"] == 7
    assert r["n_tokens"] == 4
    assert abs(r["compression"] - 1.75) < 1e-9


def test_repeated_substrings_detects_shared_spans(spark):
    from aproximacion_1_etl_spark.text.dedup import repeated_substrings

    shared = "x" * 10 + "the quick brown fox jumps over the lazy dog " * 3
    docs = spark.createDataFrame(
        [
            (1, "prefix one " + shared + " tail a"),
            (2, "another beginning " + shared + " differing end"),
            (3, "completely unrelated text with no overlap at all " * 4),
        ],
        "doc_id BIGINT, text STRING",
    )
    out = repeated_substrings(docs, gram_len=40, sample_prefix_lt="8")
    rows = out.collect()
    # the shared span is long enough that content-defined sampling
    # (rate 1/2) keeps at least one of its ~100 windows
    assert len(rows) >= 1
    for r in rows:
        assert r["n_docs"] == 2 and r["first_doc"] == 1
    # no cross-doc hash involves doc 3
    solo = repeated_substrings(
        docs.filter("doc_id != 2"), gram_len=40, sample_prefix_lt="8"
    )
    assert solo.count() == 0


def test_hard_negative_mining_excludes_near_duplicates(spark):
    from aproximacion_1_etl_spark.queries import q_hard_negative_mining
    import os
    import tempfile

    # corpus: query 0; vec 1 is a near-copy (cos ~1), vecs 2.. are
    # rotated/related — the miner must skip the near-dup entirely
    base = [1.0, 0.0, 0.0, 0.0]
    rows = [
        (0, base, 0),
        (1, [0.999, 0.001, 0.0, 0.0], 0),
        (2, [0.8, 0.6, 0.0, 0.0], 0),
        (3, [0.5, 0.5, 0.70710678, 0.0], 0),
        (4, [0.0, 1.0, 0.0, 0.0], 0),
        (5, [-1.0, 0.0, 0.0, 0.0], 0),
    ]
    d = tempfile.mkdtemp(prefix="graft_hnm_")
    spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
    ).write.mode("overwrite").parquet(os.path.join(d, "embeddings.parquet"))
    out = q_hard_negative_mining(spark, d)
    got = {r["vec_id"]: r for r in out.filter("query_id = 0").collect()}
    assert 1 not in got          # near-dup excluded by the 0.95 cap
    assert 4 not in got and 5 not in got  # below the 0.10 floor
    assert set(got) == {2, 3}
    assert got[2]["rank"] == 1 and got[2]["cos_sim"] > got[3]["cos_sim"]


def test_doc_novelty_counts_unique_shingles(spark, sf_dir, tmp_path):
    from aproximacion_1_etl_spark.queries import q_doc_novelty
    import os

    docs = spark.createDataFrame(
        [
            (1, "a b c d"),          # shingles: "a b c", "b c d"
            (2, "a b c x"),          # shingles: "a b c", "b c x"
        ],
        "doc_id BIGINT, text STRING",
    )
    d = str(tmp_path)
    docs.write.mode("overwrite").parquet(
        os.path.join(d, "documents.parquet")
    )
    out = {r["doc_id"]: r for r in q_doc_novelty(spark, d).collect()}
    # "a b c" is shared (df=2); the second shingle of each doc is unique
    for i in (1, 2):
        assert out[i]["n_grams"] == 2
        assert out[i]["n_unique"] == 1
        assert abs(out[i]["novelty"] - 0.5) < 1e-9


def test_corpus_funnel_is_monotone(spark, sf_dir):
    from aproximacion_1_etl_spark.queries import q_corpus_funnel

    rows = {r["stage"]: r["n_docs"] for r in q_corpus_funnel(spark, sf_dir).collect()}
    order = ["raw", "length_band", "known_lang", "quality_floor", "content_unique"]
    assert list(rows) == order or set(rows) == set(order)
    vals = [rows[s] for s in order]
    assert vals[0] > 0
    assert all(a >= b for a, b in zip(vals, vals[1:]))


def test_winnowing_guarantees_shared_span_detection(spark):
    from aproximacion_1_etl_spark.text.dedup import winnowed_fingerprints

    # shared span of exactly gram_len + window - 1 = 37 chars: the
    # winnowing guarantee says detection is certain, not probabilistic
    span = "0123456789abcdefghijklmnopqrstuvwxyz!"  # 37 chars
    docs = spark.createDataFrame(
        [
            (1, "AAA " + span + " BBB"),
            (2, "CCCCC " + span + " DDDDD"),
            (3, "totally different content here with nothing shared.."),
        ],
        "doc_id BIGINT, text STRING",
    )
    out = winnowed_fingerprints(docs, gram_len=30, window=8).collect()
    assert len(out) >= 1
    assert all(r["n_docs"] == 2 and r["first_doc"] == 1 for r in out)
    # no shared span -> no shared fingerprint
    assert (
        winnowed_fingerprints(
            docs.filter("doc_id != 1"), gram_len=30, window=8
        ).count()
        == 0
    )


def test_domain_blocklist_suffix_semantics(spark, sf_dir):
    from aproximacion_1_etl_spark.queries import q_domain_blocklist_filter

    out = q_domain_blocklist_filter(spark, sf_dir).collect()
    for r in out:
        if r["host"] in ("src3.example.com", "src7.example.com"):
            assert r["blocked"] and r["matched_rule"] == r["host"]
        else:
            # "example.com" is NOT a rule, so no other host may match;
            # in particular suffix matching must not hit "bad.example.org"
            assert not r["blocked"] and r["matched_rule"] is None


def test_embedding_dim_stats_match_numpy(spark, sf_dir):
    import math

    import numpy as np

    from aproximacion_1_etl_spark.queries import q_embedding_dim_stats

    out = {r["dim"]: r for r in q_embedding_dim_stats(spark, sf_dir).collect()}
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    mat = np.array([r["embedding"] for r in emb], dtype=np.float64)
    assert set(out) == set(range(1, mat.shape[1] + 1))
    for d in (1, 7, 64):
        col = mat[:, d - 1]
        r = out[d]
        assert r["n"] == len(col)
        assert math.isclose(r["mean"], col.mean(), abs_tol=2e-6)
        assert math.isclose(r["std"], col.std(), abs_tol=2e-6)
        assert math.isclose(r["vmin"], col.min(), abs_tol=2e-6)
        assert math.isclose(r["vmax"], col.max(), abs_tol=2e-6)


def test_vocab_growth_curve_properties(spark, sf_dir):
    from aproximacion_1_etl_spark.queries import q_vocab_growth

    rows = sorted(
        q_vocab_growth(spark, sf_dir).collect(), key=lambda r: r["doc_id"]
    )
    assert rows, "empty curve"
    # cum_vocab is the prefix sum of new_grams (two-phase == global)
    run = 0
    for r in rows:
        run += r["new_grams"]
        assert r["cum_vocab"] == run
    # final point equals the corpus-wide distinct shingle count
    from aproximacion_1_etl_spark.text.dedup import word_shingles

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    total = word_shingles(docs, n=3, distinct=True).select("shingle").distinct().count()
    assert rows[-1]["cum_vocab"] == total


def test_kmeans_cluster_profile_partitions_corpus(spark, sf_dir):
    from aproximacion_1_etl_spark.queries import q_kmeans_cluster_profile

    rows = q_kmeans_cluster_profile(spark, sf_dir).collect()
    total = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    # assignment is a partition: every vector in exactly one cell
    assert sum(r["n"] for r in rows) == total
    assert len({r["cell"] for r in rows}) == len(rows)
    for r in rows:
        assert 0 < r["top_label_n"] <= r["n"]
        assert r["mean_dist"] >= 0.0


def test_multiprobe_recall_dominates_single_probe(spark, sf_dir):
    from aproximacion_1_etl_spark.text.vector import (
        ann_topk_bruteforce,
        ann_topk_lsh,
        ann_topk_lsh_multiprobe,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qids, k = [0, 1, 2, 3, 4], 10
    exact = {
        (r["query_id"], r["vec_id"])
        for r in ann_topk_bruteforce(emb, qids, k=k).collect()
    }
    single = {
        (r["query_id"], r["vec_id"])
        for r in ann_topk_lsh(emb, qids, k=k, planes=4, tables=1, dim=64).collect()
    }
    multi = {
        (r["query_id"], r["vec_id"])
        for r in ann_topk_lsh_multiprobe(
            emb, qids, k=k, planes=4, tables=1, dim=64
        ).collect()
    }
    r_single = len(single & exact) / len(exact)
    r_multi = len(multi & exact) / len(exact)
    # probing 1-bit-flip neighbors strictly widens the candidate set,
    # so recall can only stay equal or improve
    assert r_multi >= r_single


def test_lang_confusion_is_a_partition_with_recall_fractions(spark, sf_dir):
    from aproximacion_1_etl_spark.queries import q_lang_confusion

    rows = q_lang_confusion(spark, sf_dir).collect()
    total = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert sum(r["n"] for r in rows) == total
    by_true: dict[str, float] = {}
    for r in rows:
        by_true[r["true_lang"]] = by_true.get(r["true_lang"], 0.0) + r["frac_of_true"]
    for lang, s in by_true.items():
        assert abs(s - 1.0) < 0.001, (lang, s)


def test_quality_outliers_are_far_from_source_median(spark, sf_dir):
    from aproximacion_1_etl_spark.queries import q_quality_outliers

    rows = q_quality_outliers(spark, sf_dir).collect()
    for r in rows:
        assert r["abs_dev"] > 0.0
        assert abs(abs(r["q"] - r["source_median"]) - r["abs_dev"]) < 0.0002


def test_rerank_preserves_candidates_and_is_deterministic(spark, sf_dir):
    from aproximacion_1_etl_spark.queries import (
        q_hybrid_rrf_retrieval,
        q_rerank_crossencoder,
    )

    fused = {
        (r["query_id"], r["doc_id"])
        for r in q_hybrid_rrf_retrieval(spark, sf_dir).collect()
    }
    rr = q_rerank_crossencoder(spark, sf_dir).collect()
    # rerank permutes the retrieval candidates, never adds or drops
    assert {(r["query_id"], r["doc_id"]) for r in rr} == fused
    by_q: dict[int, list] = {}
    for r in rr:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rows in by_q.items():
        assert sorted(r["rank"] for r in rows) == list(
            range(1, len(rows) + 1)
        )
        ordered = sorted(rows, key=lambda r: r["rank"])
        keys = [r["ce_key"] for r in ordered]
        assert keys == sorted(keys, reverse=True)
    # deterministic across runs
    again = q_rerank_crossencoder(spark, sf_dir).collect()
    assert sorted(map(tuple, rr)) == sorted(map(tuple, again))


def test_wav_roundtrip_chunk_walk_and_binaryfile_ingest(spark):
    """encode_wav -> decode_wav is the identity (16-bit with a LIST
    metadata chunk to force chunk-walking, 8-bit unsigned, odd-length
    word padding), and real .wav FILES ingested via
    spark.read.format('binaryFile') decode to the same features."""
    import os
    import tempfile

    from aproximacion_1_etl_spark.text.multimodal import (
        decode_audio_features,
        decode_wav,
        encode_wav,
    )

    s16 = [0, 100, -32768, 32767, -5, 7]
    d = decode_wav(encode_wav(8000, s16, junk_chunk=True))
    assert (d["sample_rate"], d["channels"], d["bits"]) == (8000, 1, 16)
    assert d["samples"][0] == s16

    s8 = [-128, 0, 127, 5, -1]  # odd byte count -> word padding
    d8 = decode_wav(encode_wav(11025, s8, bits=8))
    assert d8["bits"] == 8 and d8["samples"][0] == s8

    tmp = tempfile.mkdtemp(prefix="graft_wav_")
    for i, samples in enumerate([s16, [1000, -1000, 1000, -1000]]):
        with open(os.path.join(tmp, f"clip_{i}.wav"), "wb") as fh:
            fh.write(encode_wav(16000, samples, junk_chunk=(i == 0)))
    media = (
        spark.read.format("binaryFile")
        .load(tmp + "/*.wav")
        .select(
            F.regexp_extract(F.col("path"), r"clip_(\d+)", 1)
            .cast("bigint")
            .alias("doc_id"),
            F.col("content").alias("payload"),
        )
    )
    got = {
        r["doc_id"]: r for r in decode_audio_features(media).collect()
    }
    assert got[0]["n_frames"] == 6 and got[0]["n_clipped"] == 2
    assert got[1]["n_zero_cross"] == 3
    assert got[1]["sum_sq"] == 4 * 1000 * 1000


def test_wav_decode_paths_agree_on_ragged_multichannel():
    """decode_wav and decode_wav_np are bit-exact twins even on a
    STEREO payload whose data chunk carries a trailing partial frame
    (odd sample count): both drop the ragged tail, so per-channel
    samples, n_frames, and derived stats match."""
    import struct

    from aproximacion_1_etl_spark.text.multimodal import (
        decode_wav,
        decode_wav_np,
    )

    ch, bits, rate = 2, 16, 8000
    vals = [10, -20, 30, -40, 50, -60, 70]  # 3 full frames + 1 ragged
    raw = struct.pack(f"<{len(vals)}h", *vals)
    fmt = b"fmt " + struct.pack(
        "<IHHIIHH", 16, 1, ch, rate, rate * ch * 2, ch * 2, bits
    )
    data = b"data" + struct.pack("<I", len(raw)) + raw + b"\x00"
    payload = b"RIFF" + struct.pack(
        "<I", 4 + len(fmt) + len(data)
    ) + b"WAVE" + fmt + data

    d = decode_wav(payload)
    meta, frames = decode_wav_np(payload)
    assert d["n_frames"] == meta["n_frames"] == 3
    assert frames.shape == (3, 2)
    for c in range(ch):
        assert d["samples"][c] == frames[:, c].tolist()


def test_wav_decode_guards(spark):
    """Compressed format codes hit the explicit NotImplementedError
    codec boundary; truncation and non-RIFF payloads raise ValueError."""
    import struct

    import pytest

    from aproximacion_1_etl_spark.text.multimodal import (
        decode_wav,
        encode_wav,
    )

    good = encode_wav(8000, [1, 2, 3])
    # flip the PCM format code (offset: RIFF(12) + 'fmt '+size(8) = 20)
    compressed = bytearray(good)
    struct.pack_into("<H", compressed, 20, 85)  # MP3 format code
    with pytest.raises(NotImplementedError):
        decode_wav(bytes(compressed))
    with pytest.raises(ValueError):
        decode_wav(b"RIFF\x00\x00\x00\x00JUNK")
    with pytest.raises(ValueError):
        decode_wav(good[:-3])  # truncated data chunk
    # 8-bit encode refuses out-of-range samples (struct-pack strictness
    # for the byte path too) instead of silently wrapping mod 256
    with pytest.raises(ValueError):
        encode_wav(8000, [0, 200], bits=8)
    with pytest.raises(ValueError):
        encode_wav(8000, [-129], bits=8)


def test_containment_catches_doc_in_doc_that_jaccard_misses(spark):
    """A short doc fully embedded in a 10x larger one: containment
    (inner in outer) = 1.0 while Jaccard stays far below any near-dup
    threshold — the asymmetric ratio is the point of the operator.
    Direction matters: outer-in-inner stays below threshold."""
    from aproximacion_1_etl_spark.text.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
        word_shingles,
    )

    inner = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(20))
    outer = inner + " " + filler
    docs = spark.createDataFrame(
        [(1, inner), (2, outer), (3, "unrelated words only here now")],
        "doc_id bigint, text string",
    )
    sh = word_shingles(docs, n=3)
    cont = {
        (r["doc_inner"], r["doc_outer"]): r["containment"]
        for r in containment_pairs(sh, threshold=0.9).collect()
    }
    assert cont == {(1, 2): 1.0}
    jac = ngram_jaccard_pairs(sh, threshold=0.3).collect()
    assert all(
        {r["doc_a"], r["doc_b"]} != {1, 2} or r["jaccard"] < 0.3
        for r in jac
    )


def test_containment_prefix_bounds_hot_shingle_fanout(spark):
    """Planted boilerplate: ONE shingle shared by all N docs (each doc
    otherwise unique). The unblocked self-join would generate
    N*(N-1) = 3540 directed rows off that shingle alone; the rarity
    prefix keeps the hot shingle out of every doc's prefix (each doc
    has rarer shingles and a miss budget of 0 at t=0.9 for sz=6), so
    the candidate relation is EMPTY — bounded fan-out with zero lost
    pairs (no true containment exists here). A second corpus plants a
    real doc-in-doc pair amid the same boilerplate and must still
    surface it through the prefix path."""
    from aproximacion_1_etl_spark.text.dedup import (
        containment_candidates,
        containment_pairs,
    )

    n = 60
    rows = []
    for d in range(n):
        rows.append((d, "HOT"))
        rows.extend((d, f"u{d}_{j}") for j in range(5))
    sh = spark.createDataFrame(rows, "doc_id BIGINT, shingle STRING")
    cands = containment_candidates(sh, threshold=0.9)
    assert cands.count() == 0
    assert containment_pairs(sh, threshold=0.9).count() == 0

    # plant: doc 1000 = 5 shingles all inside doc 0's set (+ HOT)
    planted = rows + [(1000, "HOT")] + [
        (1000, f"u0_{j}") for j in range(5)
    ]
    sh2 = spark.createDataFrame(planted, "doc_id BIGINT, shingle STRING")
    got = {
        (r["doc_inner"], r["doc_outer"]): r["containment"]
        for r in containment_pairs(sh2, threshold=0.9).collect()
    }
    assert got == {(1000, 0): 1.0, (0, 1000): 1.0}
    # and the candidate relation stays tiny: only the planted twins
    # reach the join through their (now shared-rarity) prefix shingles
    assert containment_candidates(sh2, threshold=0.9).count() <= 4


def test_lsh_band_plan_scurve_and_report_shape(spark, sf_dir):
    """The generated S-curve expression equals the closed form
    1-(1-s^r)^b (repeated-multiply emulation) across the ladder and a
    similarity grid, and the catalog report is monotone where theory
    says it must be: more bands at fixed rows never lowers the catch
    rate; more rows at fixed bands never raises it."""
    import pyspark.sql.functions as F

    from aproximacion_1_etl_spark.queries import ALL_QUERIES
    from aproximacion_1_etl_spark.text.dedup import (
        LSH_PLAN_LADDER,
        lsh_catch_probability_sql,
    )

    grid = spark.createDataFrame(
        [(i / 20.0,) for i in range(21)], "s double"
    )
    for b, r in LSH_PLAN_LADDER:
        got = {
            row["s"]: row["p"]
            for row in grid.select(
                "s", F.expr(lsh_catch_probability_sql(b, r, "s")).alias("p")
            ).collect()
        }
        for s, p in got.items():
            sr = 1.0
            for _ in range(r):
                sr *= s
            q = 1.0 - sr
            qb = 1.0
            for _ in range(b):
                qb *= q
            assert p == 1.0 - qb, (b, r, s)

    rows = ALL_QUERIES["lsh_band_plan"](spark, sf_dir).collect()
    assert len(rows) == len(LSH_PLAN_LADDER)
    catch = {(r["bands"], r["rows_per_band"]): r["catch_ge90"] for r in rows}
    if catch[(8, 4)] is not None:  # sampled histogram non-empty
        assert catch[(16, 4)] >= catch[(8, 4)] >= catch[(4, 4)]
        assert catch[(8, 2)] >= catch[(8, 4)] >= catch[(8, 8)]


def test_lsh_band_plan_rate_derives_from_corpus_size(spark, tmp_path):
    """Plant a corpus LARGE enough that the planner's derived sample
    rate drops below the 0.5 cap (2500 docs, target 1000 → rate
    0.4 = threshold '6666'): the sampled doc count tracks the target,
    and the full key still value-matches the DuckDB oracle — i.e. the
    oracle derives the SAME sub-cap threshold from its own count. This
    is the scale lever: at 100× docs the rate is 100× lower and the
    histogram's pair join stays O(target²)."""
    import math
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entrymod
    from aproximacion_1_etl_spark.functions.sampling import (
        deterministic_sample_to_size,
        size_derived_threshold,
    )
    from aproximacion_1_etl_spark.queries import ALL_QUERIES
    from aproximacion_1_etl_spark.text.dedup import LSH_PLAN_SAMPLE_TARGET

    n = 2500
    words = ["alpha", "beta", "gamma", "delta", "epsilon",
             "zeta", "eta", "theta", "iota", "kappa"]
    texts = [
        " ".join(words[(d + j) % 10] for j in range(5 + d % 3))
        for d in range(n)
    ]
    d = str(tmp_path)
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(texts),
        }),
        os.path.join(d, "documents.parquet"),
    )

    assert size_derived_threshold(n, LSH_PLAN_SAMPLE_TARGET) == "6666"
    docs = spark.read.parquet(os.path.join(d, "documents.parquet"))
    kept = deterministic_sample_to_size(
        docs, "doc_id", LSH_PLAN_SAMPLE_TARGET
    ).count()
    assert 800 <= kept <= 1200  # ~target, NOT ~n/2

    got = ALL_QUERIES["lsh_band_plan"](spark, d).collect()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{os.path.join(d, 'documents.parquet')}'"
    )
    want = con.execute(entrymod.oracle_sql()["lsh_band_plan"]).fetchall()

    def _norm(rows):
        out = []
        for r in rows:
            out.append(tuple(
                None if v is None
                else round(float(v), 9) if isinstance(v, float)
                or (hasattr(v, "__float__") and not isinstance(v, int))
                else v
                for v in r
            ))
        return sorted(out, key=str)

    assert _norm([tuple(r) for r in got]) == _norm(want)
    assert not any(
        isinstance(v, float) and math.isnan(v) for r in got for v in r
    )


def test_semantic_chunking_snaps_budget_to_sentence_boundaries(spark, sf_dir):
    """Consistency of the sentence-window chunker with the engine's
    other budget devices: chunk spans partition each doc's sentences
    contiguously, per-doc chunk tokens sum to the pack_sequences token
    measure (whitespace split), every chunk's id equals its preceding
    token count div the budget (the boundary SNAP — no sentence ever
    splits), and overlap is exactly the previous chunk's last-sentence
    length."""
    import pyspark.sql.functions as F

    from aproximacion_1_etl_spark.queries import ALL_QUERIES

    budget = 25
    rows = ALL_QUERIES["semantic_chunking"](spark, sf_dir).collect()
    docs = {
        r.doc_id: r.n
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            "doc_id", F.size(F.split("text", " ")).alias("n")
        )
        .collect()
    }
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(docs)
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r.chunk_id)
        assert chunks[0].sent_start == 1
        assert chunks[0].overlap_tokens == 0
        assert sum(c.chunk_tokens for c in chunks) == docs[doc_id]
        cum = 0
        for i, c in enumerate(chunks):
            assert c.sent_end >= c.sent_start
            assert c.n_sents == c.sent_end - c.sent_start + 1
            if i > 0:
                prev = chunks[i - 1]
                assert c.sent_start == prev.sent_end + 1
                assert c.overlap_tokens >= 1
            # boundary snap: the chunk holds the sentences whose
            # preceding-token offset lands in [id*budget, (id+1)*budget)
            assert cum // budget == c.chunk_id
            cum += c.chunk_tokens
            assert c.total_tokens == c.chunk_tokens + c.overlap_tokens


def test_ivf_nprobe_plan_monotone_and_bounded(spark, sf_dir):
    """The nprobe ladder report is monotone where theory says it must
    be: probing more cells never lowers recall and never shrinks the
    scanned fraction; recall stays in [0, 1], scan_frac in (0, 1], and
    the scanned row counts are consistent with the fractions."""
    from aproximacion_1_etl_spark.queries import ALL_QUERIES

    rows = sorted(
        ALL_QUERIES["ivf_nprobe_plan"](spark, sf_dir).collect(),
        key=lambda r: r.nprobe,
    )
    assert [r.nprobe for r in rows] == [1, 2, 4, 8]
    for a, b in zip(rows, rows[1:]):
        assert b.recall_at_k >= a.recall_at_k
        assert b.scan_frac >= a.scan_frac
        assert b.scanned_rows >= a.scanned_rows
    for r in rows:
        assert 0.0 <= r.recall_at_k <= 1.0
        assert 0.0 < r.scan_frac <= 1.0
    # more probes must actually buy something on this corpus
    assert rows[-1].recall_at_k > rows[0].recall_at_k or (
        rows[0].recall_at_k == 1.0
    )


def test_ivf_nprobe_plan_equals_min_probe_rank_capture(spark):
    """The ladder's per-cell truth sums equal the hits of a capture
    that takes each truth row's minimum probe rank, on a planted index
    where one truth row lies outside every probe (cell 99 is not in
    the codebook), a probed cell holds no truth (query 0's cell 0, so
    nprobe 1 captures nothing), two truth rows share one probed cell
    (query 0's cell 1) and the largest ladder point (8) is above the
    number of cells (3)."""
    from collections import Counter

    from aproximacion_1_etl_spark.text.vector import (
        _corpus_queries,
        _ivf_probes,
        ivf_nprobe_plan,
        ivf_nprobe_stats,
    )

    centroids = {0: [1.0, 0.0], 1: [0.0, 1.0], 2: [-1.0, 0.0]}
    cells = {0: 0, 1: 1, 2: 1, 3: 1, 4: 99, 5: 2, 6: 0}
    index = spark.createDataFrame(
        [(v, [1.0 + v / 10, 0.1 * v], c) for v, c in cells.items()],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>, cell INT",
    )
    truth = [(0, 2), (0, 3), (0, 4), (1, 5)]
    exact = spark.createDataFrame(truth, "query_id BIGINT, vec_id BIGINT")
    qids, ladder, k = [0, 1], (1, 2, 8), 3

    got = ivf_nprobe_plan(
        index, qids, centroids, ivf_nprobe_stats(index, exact), ladder, k
    ).collect()

    rank_of = {
        (r["query_id"], r["cell"]): r["probe_rank"]
        for r in _ivf_probes(
            _corpus_queries(index, qids, "vec_id", "embedding"),
            centroids,
            max(ladder),
        ).collect()
    }
    captured = {
        (q, v): min(
            (r for (pq, c), r in rank_of.items()
             if pq == q and c == cells[v]),
            default=None,
        )
        for q, v in truth
    }
    assert captured[(0, 4)] is None
    assert captured[(0, 2)] == captured[(0, 3)] is not None
    assert rank_of[(0, 0)] == 1 and all(cells[v] != 0 for _q, v in truth)
    assert max(ladder) > len(centroids)
    assert len(rank_of) == len(qids) * len(centroids)
    pop = Counter(cells.values())
    want = [
        (
            p,
            round(sum(r is not None and r <= p for r in captured.values())
                  / (len(qids) * k), 6),
            round(sum(pop[c] for (_q, c), r in rank_of.items() if r <= p)
                  / (len(qids) * len(cells)), 6),
            sum(pop[c] for (_q, c), r in rank_of.items() if r <= p),
        )
        for p in ladder
    ]
    assert want[0][1] == 0.0
    assert sorted(map(tuple, got)) == want


def test_retrieval_eval_exact_on_planted_rankings(spark):
    """retrieval_eval computes MRR / precision / recall exactly on a
    hand-built ranking: query 0 hits truth at rank 2 (rr 0.5, 1 of 2
    truths found), query 1 hits at rank 1 (rr 1.0, both truths found),
    query 2 retrieves nothing relevant (rr 0)."""
    from aproximacion_1_etl_spark.text.analysis import retrieval_eval

    ranked = spark.createDataFrame(
        [
            (0, 100, 1), (0, 200, 2), (0, 300, 3),
            (1, 201, 1), (1, 202, 2), (1, 999, 3),
            (2, 900, 1), (2, 901, 2), (2, 902, 3),
        ],
        "query_id BIGINT, doc_id BIGINT, rank BIGINT",
    )
    truth = spark.createDataFrame(
        [(0, 200), (0, 201), (1, 201), (1, 202), (2, 555), (2, 556)],
        "query_id BIGINT, doc_id BIGINT",
    )
    r = retrieval_eval(
        ranked, truth, [0, 1, 2], "toy", depth=3, truth_k=2
    ).first()
    assert r.system == "toy"
    assert abs(r.mrr - (0.5 + 1.0 + 0.0) / 3) < 1e-6
    assert abs(r.precision_at_k - 3 / 9) < 1e-6   # 1+2+0 hits over 3*3
    assert abs(r.recall_at_k - 3 / 6) < 1e-6      # over 3*2 truths


def test_curriculum_order_is_banded_permutation(spark, sf_dir):
    """curriculum_order emits a PERMUTATION 0..N-1 where every doc of
    band b precedes every doc of band b+1 (easy -> hard), bands are
    token-count-monotone, and the ordering is stable across runs."""
    from aproximacion_1_etl_spark.queries import ALL_QUERIES

    rows = ALL_QUERIES["curriculum_order"](spark, sf_dir).collect()
    n = len(rows)
    assert sorted(r.curriculum_idx for r in rows) == list(range(n))
    by_band = {}
    for r in rows:
        by_band.setdefault(r.band, []).append(r)
    bands = sorted(by_band)
    assert bands == sorted(set(bands)) and bands[0] == 1
    for a, b in zip(bands, bands[1:]):
        assert max(r.curriculum_idx for r in by_band[a]) < min(
            r.curriculum_idx for r in by_band[b]
        )
        assert max(r.n_tokens for r in by_band[a]) <= min(
            r.n_tokens for r in by_band[b]
        )
    again = ALL_QUERIES["curriculum_order"](spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_chunk_retrieval_spans_cite_real_sentence_spans(spark, sf_dir):
    """Every retrieval hit's (doc_id, chunk_id, sent_start, sent_end)
    must agree with the semantic_chunking report for the same chunk,
    ranks are dense per query, and span bounds are sane."""
    from aproximacion_1_etl_spark.queries import ALL_QUERIES

    hits = ALL_QUERIES["chunk_retrieval_spans"](spark, sf_dir).collect()
    assert hits
    chunks = {
        (r.doc_id, r.chunk_id): (r.sent_start, r.sent_end)
        for r in ALL_QUERIES["semantic_chunking"](spark, sf_dir).collect()
    }
    by_q = {}
    for h in hits:
        assert chunks[(h.doc_id, h.chunk_id)] == (
            h.sent_start, h.sent_end,
        ), "cited span drifted from the chunker's"
        assert 1 <= h.sent_start <= h.sent_end
        by_q.setdefault(h.query_id, []).append(h.rank)
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), q


def test_chunk_ann_and_hybrid_spans_match_lexical_chunker(spark, sf_dir):
    """Round-10 consistency contract: the semantic (ANN) and hybrid
    chunk hits must carry EXACTLY the sentence spans the shared
    chunker assigns — one sentence→chunk assignment across lexical,
    semantic, and chunking keys, so provenance cannot drift between
    retrieval modes."""
    from aproximacion_1_etl_spark.queries import ALL_QUERIES

    spans = {
        (r.doc_id, r.chunk_id): (r.sent_start, r.sent_end)
        for r in ALL_QUERIES["semantic_chunking"](spark, sf_dir).collect()
    }
    ann = ALL_QUERIES["chunk_ann_retrieval"](spark, sf_dir).collect()
    assert ann, "ANN retrieval returned no hits"
    for r in ann:
        assert spans[(r.doc_id, r.chunk_id)] == (
            r.sent_start,
            r.sent_end,
        ), (r.doc_id, r.chunk_id)
        assert 1 <= r.rank <= 10 and -1.0 <= r.cos_sim <= 1.0

    hyb = ALL_QUERIES["chunk_hybrid_retrieval"](spark, sf_dir).collect()
    assert hyb, "hybrid retrieval returned no hits"
    lex_spans = {
        (r.doc_id, r.chunk_id): (r.sent_start, r.sent_end)
        for r in ALL_QUERIES["chunk_retrieval_spans"](
            spark, sf_dir
        ).collect()
    }
    for r in hyb:
        assert spans[(r.doc_id, r.chunk_id)] == (
            r.sent_start,
            r.sent_end,
        ), (r.doc_id, r.chunk_id)
        # a fused hit with a lexical rank must agree with the lexical
        # key's span for that chunk too
        if r.lex_rank is not None and (r.doc_id, r.chunk_id) in lex_spans:
            assert lex_spans[(r.doc_id, r.chunk_id)] == (
                r.sent_start,
                r.sent_end,
            )
        # RRF invariant: every fused hit was retrieved by >= 1 system
        assert r.lex_rank is not None or r.sem_rank is not None


def test_chunk_vector_index_pools_sentence_vectors_exactly(spark, sf_dir):
    """The pooled chunk vector equals the per-dimension mean of its
    sentences' hash-assigned embeddings (decimal-exact, python-checked
    on a sample), and the index is keyed consistently (ckey =
    doc_id*100000 + chunk_id)."""
    from aproximacion_1_etl_spark.queries import ALL_QUERIES
    from aproximacion_1_etl_spark.queries.text import (
        _chunk_vector_index,
        _sentence_chunk_bins,
    )
    from aproximacion_1_etl_spark.sources.tables import load_table
    import pyspark.sql.functions as F

    idx = _chunk_vector_index(spark, sf_dir)
    rows = idx.orderBy("ckey").limit(5).collect()
    assert rows
    emb = {
        r.vec_id: list(r.embedding)
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }
    n_vecs = len(emb)
    docs = load_table(spark, sf_dir, "documents")
    bins = _sentence_chunk_bins(docs, 25).collect()
    by_chunk: dict[tuple, list[int]] = {}
    for b in bins:
        by_chunk.setdefault((b.doc_id, b.chunk_id), []).append(b.sent_idx)
    for r in rows:
        assert r.ckey == r.doc_id * 100000 + r.chunk_id
        sents = by_chunk[(r.doc_id, r.chunk_id)]
        assert r.sent_start == min(sents) and r.sent_end == max(sents)
        vecs = [emb[(r.doc_id * 131 + s) % n_vecs] for s in sents]
        for d in range(0, 64, 17):  # sampled dims
            want = sum(v[d] for v in vecs) / len(vecs)
            assert abs(r.embedding[d] - want) < 1e-9, (r.ckey, d)


def test_incremental_chunk_index_fold_equals_rebuild(spark, sf_dir):
    """VERDICT r10 task 3: folding a wave of NEW docs into the
    persisted chunk index (vectors append, chunk-BM25 postings fold)
    equals the from-scratch index over the grown corpus, bit-for-bit
    on both halves' digests — and a second wave folds onto the
    FOLDED state just as exactly (history is never re-pooled)."""
    import pyspark.sql.functions as F

    from aproximacion_1_etl_spark.queries.text import (
        _chunk_texts,
        _pooled_chunk_vectors,
    )
    from aproximacion_1_etl_spark.sources.tables import load_table
    from aproximacion_1_etl_spark.text.analysis import (
        bm25_index,
        fold_bm25_index,
    )
    from aproximacion_1_etl_spark.text.vector import _sql_dot

    docs = load_table(spark, sf_dir, "documents")

    def digest(vec_df, postings_df):
        dig = postings_df.groupBy("doc_id").agg(
            F.max("dl").cast("bigint").alias("dl"),
            F.count("*").cast("bigint").alias("n_terms"),
        ).select(F.col("doc_id").alias("ckey"), "dl", "n_terms")
        out = vec_df.join(dig, "ckey").select(
            "ckey", "sent_start", "sent_end", "dl", "n_terms",
            F.floor(
                F.expr(_sql_dot("embedding", "embedding")) * 1e6 + 0.5
            ).alias("vv6"),
        )
        return sorted(map(tuple, out.collect()))

    def build(d):
        vec = _pooled_chunk_vectors(spark, sf_dir, d, 25)
        ct = _chunk_texts(d, 25).select(
            F.col("ckey").alias("doc_id"), "text"
        )
        return vec, bm25_index(ct)

    base = docs.filter(F.col("doc_id") % 3 == 0)
    wave1 = docs.filter(F.col("doc_id") % 3 == 1)
    wave2 = docs.filter(F.col("doc_id") % 3 == 2)
    vec0, (p0, d0, s0) = build(base)
    vec0 = vec0.localCheckpoint(eager=True)
    p0, d0, s0 = (x.localCheckpoint(eager=True) for x in (p0, d0, s0))
    # wave 1 fold == rebuild over base+wave1
    v1 = vec0.unionByName(_pooled_chunk_vectors(spark, sf_dir, wave1, 25))
    f1 = fold_bm25_index(
        p0, d0, s0,
        _chunk_texts(wave1, 25).select(
            F.col("ckey").alias("doc_id"), "text"
        ),
    )
    rv, (rp, _rd, _rs) = build(docs.filter(F.col("doc_id") % 3 != 2))
    assert digest(v1, f1[0]) == digest(rv, rp)
    # wave 2 folds onto the FOLDED state -> equals full rebuild
    v2 = v1.unionByName(_pooled_chunk_vectors(spark, sf_dir, wave2, 25))
    f2 = fold_bm25_index(
        *f1,
        _chunk_texts(wave2, 25).select(
            F.col("ckey").alias("doc_id"), "text"
        ),
    )
    fv, (fp, _fd, _fs) = build(docs)
    assert digest(v2, f2[0]) == digest(fv, fp)


def _bm25_store_snapshot(p, d, s):
    """Order-insensitive full-state snapshot of a (postings, df,
    stats) BM25 store for bit-identity assertions."""
    return (
        sorted(map(tuple, p.collect())),
        sorted(map(tuple, d.collect())),
        sorted(map(tuple, s.collect())),
    )


def test_forget_bm25_index_inverts_fold_and_is_idempotent(spark):
    """r11 RTBF edge: forget(fold(store, B), ids(B)) == store
    bit-for-bit (the deletion exactly inverts the append — postings
    anti-join, df decrements with zero-df terms dropping out, exact
    totals subtract), a re-delivered RTBF wave is a no-op, and
    forgetting an id that was never indexed removes nothing."""
    import pyspark.sql.functions as F

    from aproximacion_1_etl_spark.text.analysis import (
        bm25_index,
        fold_bm25_index,
        forget_bm25_index,
    )

    docs = spark.createDataFrame(
        [(1, "join hash scan"), (2, "merge sort join"),
         (3, "slow order filter"), (4, "alpha beta join")],
        "doc_id BIGINT, text STRING",
    )
    old = docs.filter(F.col("doc_id") <= 2)
    batch = docs.filter(F.col("doc_id") >= 3)
    store = bm25_index(old)
    snap0 = _bm25_store_snapshot(*store)
    folded = fold_bm25_index(*store, batch)
    ids = batch.select("doc_id")
    back = forget_bm25_index(*folded, ids)
    assert _bm25_store_snapshot(*back) == snap0
    # 'alpha'/'beta'/'slow'... terms unique to the batch hit df=0 and
    # drop out entirely (matching a from-scratch rebuild)
    assert back[1].filter(F.col("term") == "alpha").count() == 0
    # idempotent: the same RTBF wave again removes nothing
    again = forget_bm25_index(*back, ids)
    assert _bm25_store_snapshot(*again) == snap0
    # unknown ids are a no-op
    stranger = spark.createDataFrame([(99,)], "doc_id BIGINT")
    assert _bm25_store_snapshot(*forget_bm25_index(*back, stranger)) == snap0


def test_ivf_index_forget_decrements_and_guards(spark):
    """r11 RTBF edge for the ANN cell stats: the wave's map-side
    re-assignment recovers the insert-time cells, counts decrement
    exactly, a fully-emptied cell flags ``emptied``, and with
    ``indexed_ids`` passed a never-indexed (or already-forgotten) id
    subtracts nothing."""
    import pyspark.sql.functions as F

    from aproximacion_1_etl_spark.text.vector import (
        ivf_assign_cells,
        ivf_index_forget,
    )

    cents = {0: [1.0, 0.0], 1: [8.0, 0.0]}
    schema = "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    corpus = spark.createDataFrame(
        [(0, [1.0, 0.1]), (1, [0.9, 0.0]), (2, [8.1, 0.2]),
         (3, [7.9, 0.1])],
        schema,
    )
    current = (
        ivf_assign_cells(corpus, cents)
        .groupBy("cell")
        .agg(F.count("*").alias("n_total"))
    )
    # delete both cell-1 vectors plus a never-indexed id
    wave = spark.createDataFrame(
        [(2, [8.1, 0.2]), (3, [7.9, 0.1]), (99, [8.0, 0.0])], schema
    )
    got = {
        r.cell: (r.n_before, r.n_removed, r.n_after, r.emptied)
        for r in ivf_index_forget(
            wave, cents, current, indexed_ids=corpus.select("vec_id")
        ).collect()
    }
    assert got == {0: (2, 0, 2, False), 1: (2, 2, 0, True)}
    # unguarded, the stranger id DOES subtract (by contract)
    raw = {
        r.cell: r.n_removed
        for r in ivf_index_forget(wave, cents, current).collect()
    }
    assert raw[1] == 3


def test_chunk_index_forget_equals_rebuild(spark, sf_dir):
    """r11 RTBF cascade through the RAG store: deleting docs from the
    persisted chunk index (vector half anti-join + postings shrink via
    the deleted chunks' keys recovered from the index itself) equals
    the from-scratch chunk index over the surviving docs — both
    halves' digests, bit-for-bit."""
    import pyspark.sql.functions as F

    from aproximacion_1_etl_spark.queries.text import (
        _chunk_texts,
        _pooled_chunk_vectors,
    )
    from aproximacion_1_etl_spark.sources.tables import load_table
    from aproximacion_1_etl_spark.text.analysis import (
        bm25_index,
        forget_bm25_index,
    )
    from aproximacion_1_etl_spark.text.vector import _sql_dot

    docs = load_table(spark, sf_dir, "documents")

    def digest(vec_df, postings_df):
        dig = postings_df.groupBy("doc_id").agg(
            F.max("dl").cast("bigint").alias("dl"),
            F.count("*").cast("bigint").alias("n_terms"),
        ).select(F.col("doc_id").alias("ckey"), "dl", "n_terms")
        out = vec_df.join(dig, "ckey").select(
            "ckey", "sent_start", "sent_end", "dl", "n_terms",
            F.floor(
                F.expr(_sql_dot("embedding", "embedding")) * 1e6 + 0.5
            ).alias("vv6"),
        )
        return sorted(map(tuple, out.collect()))

    vec = _pooled_chunk_vectors(spark, sf_dir, docs, 25).localCheckpoint(
        eager=True
    )
    p, d0, s0 = bm25_index(
        _chunk_texts(docs, 25).select(F.col("ckey").alias("doc_id"), "text")
    )
    deleted = docs.filter(F.col("doc_id") % 3 == 1).select("doc_id")
    vec2 = vec.join(F.broadcast(deleted), "doc_id", "left_anti")
    del_ckeys = vec.join(
        F.broadcast(deleted), "doc_id", "left_semi"
    ).select(F.col("ckey").alias("doc_id"))
    p2, _d2, _s2 = forget_bm25_index(p, d0, s0, del_ckeys)
    survivors = docs.filter(F.col("doc_id") % 3 != 1)
    rvec = _pooled_chunk_vectors(spark, sf_dir, survivors, 25)
    rp, _rd, _rs = bm25_index(
        _chunk_texts(survivors, 25).select(
            F.col("ckey").alias("doc_id"), "text"
        )
    )
    assert digest(vec2, p2) == digest(rvec, rp)


def test_bm25_index_fold_scores_equal_from_scratch(spark):
    """fold_bm25_index + bm25_score_from_index == bm25_topk over the
    full corpus, bit-for-bit (scores AND ranks): the folded df / N /
    avgdl reproduce the one-shot statistics exactly because totals
    are stored as exact integers."""
    import pyspark.sql.functions as F

    from aproximacion_1_etl_spark.text.analysis import (
        bm25_index,
        bm25_score_from_index,
        bm25_topk,
        fold_bm25_index,
    )

    docs = spark.createDataFrame(
        [
            (1, "join hash scan join"),
            (2, "merge sort merge"),
            (3, "hash hash filter"),
            (4, "scan order filter slow"),
            (5, "join merge order"),
            (6, "slow slow slow scan"),
        ],
        "doc_id BIGINT, text STRING",
    )
    queries = {0: ["join", "hash"], 1: ["slow", "scan", "order"]}
    old = docs.filter(F.col("doc_id") <= 4)
    batch = docs.filter(F.col("doc_id") > 4)

    postings, df0, stats = bm25_index(old)
    p2, d2, s2 = fold_bm25_index(postings, df0, stats, batch)
    qrows = [
        (qid, t)
        for qid, terms in sorted(queries.items())
        for t in sorted(set(terms))
    ]
    qdf = spark.createDataFrame(qrows, "query_id INT, term STRING")
    qterms = qdf.select("term").distinct()
    got = {
        (r.query_id, r.doc_id): (r.score, r.rank)
        for r in bm25_score_from_index(
            p2.join(F.broadcast(qterms), "term"),
            d2.join(F.broadcast(qterms), "term"),
            s2.select(
                "n_docs",
                (
                    F.col("total_dl").cast("double") / F.col("n_docs")
                ).alias("avgdl"),
            ),
            qdf,
            k=10,
        ).collect()
    }
    want = {
        (r.query_id, r.doc_id): (r.score, r.rank)
        for r in bm25_topk(docs, queries, k=10).collect()
    }
    assert got == want
    assert len(want) > 4  # both queries actually matched docs


def _pq_drift_dict(spark, store_rows, batch_rows, books, **kw):
    from aproximacion_1_etl_spark.text.vector import pq_drift_report

    schema = "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    store = spark.createDataFrame(store_rows, schema)
    batch = spark.createDataFrame(batch_rows, schema)
    return {
        r.evidence: (r.value, r.breach)
        for r in pq_drift_report(store, batch, books, **kw).collect()
    }


def test_pq_drift_report_quant_error_flip_point(spark):
    """r13 (VERDICT r12 task 3): the PQ drift trigger's
    reconstruction-error evidence — a batch near the aging codewords
    stays no_retrain, a genuinely out-of-range batch (x5 scale, a
    region the books never tiled) breaches the 2x mean-error bound
    and flips the verdict. k = |corpus|-1 makes both ranked sets the
    full corpus so the recall probe is clean in both cases and the
    flip isolates the error evidence."""
    books = {
        0: {0: [0.0, 0.0], 1: [1.0, 1.0]},
        1: {0: [0.0, 0.0], 1: [1.0, 1.0]},
    }
    store = [
        (0, [0.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 1.0, 1.0, 1.0]),
        (2, [0.1, 0.0, 0.0, 0.1]),
        (3, [0.9, 1.0, 1.0, 0.9]),
    ]
    kw = dict(query_ids=[0], k=5)
    benign = _pq_drift_dict(
        spark, store, [(9, [1.0, 0.9, 0.9, 1.0]), (10, [0.1, 0.1, 0.0, 0.0])],
        books, **kw,
    )
    assert benign["quant_error"][1] is False
    assert benign["recall_probe"] == (1.0, False)
    assert benign["verdict"] == (0.0, False)
    drifted = _pq_drift_dict(
        spark, store, [(9, [5.0, 5.0, 5.0, 5.0]), (10, [4.0, 5.0, 5.0, 4.0])],
        books, **kw,
    )
    assert drifted["quant_error"][1] is True
    assert drifted["quant_error"][0] > 2.0
    assert drifted["recall_probe"] == (1.0, False)
    assert drifted["verdict"] == (1.0, True)


def test_pq_drift_report_recall_breach_triggers(spark):
    """The ranking evidence alone must trigger retrain — the shipped
    mirror drift's failure mode in miniature: every corpus row
    quantizes to the SAME codeword, so ADC distances stop
    discriminating and the tie-break ranks a decoy above the true
    nearest neighbor, while per-row reconstruction error stays inside
    the 2x bound (exactly why a quant-error gate alone is
    insufficient evidence)."""
    books = {
        0: {0: [0.0, 0.0], 1: [5.0, 5.0]},
        1: {0: [0.0, 0.0], 1: [5.0, 5.0]},
    }
    store = [
        (0, [1.0, 1.0, 1.0, 1.0]),   # the probe query
        (1, [0.0, 0.0, 0.0, 0.0]),   # decoy: same code, far in L2
        (2, [1.1, 1.1, 1.1, 1.1]),   # true nearest neighbor
    ]
    rep = _pq_drift_dict(
        spark, store, [(9, [0.9, 0.9, 0.9, 0.9])], books,
        query_ids=[0], k=1,
    )
    assert rep["quant_error"][1] is False
    assert rep["recall_probe"] == (0.0, True)
    assert rep["verdict"] == (1.0, True)


def test_pq_drift_report_recall_boundary_exact(spark):
    """r13: the recall bound is an exact integer comparison —
    breach iff hits·den < num·|Q|·k. Pin both sides of the boundary
    with k = |corpus|-1 geometries: a perfect-recall corpus sits at
    hits = nq·k (no breach at any bound < 1), and the same-code decoy
    corpus at k=1 sits at hits = 0 (breach at any positive bound) —
    the two integer extremes the DECIMAL/integer arithmetic must
    rank identically to DuckDB's."""
    books = {
        0: {0: [0.0, 0.0], 1: [5.0, 5.0]},
        1: {0: [0.0, 0.0], 1: [5.0, 5.0]},
    }
    store = [
        (0, [1.0, 1.0, 1.0, 1.0]),
        (1, [0.0, 0.0, 0.0, 0.0]),
        (2, [1.1, 1.1, 1.1, 1.1]),
    ]
    batch = [(9, [0.9, 0.9, 0.9, 0.9])]
    # perfect recall: k = n-1 ranks the whole corpus on both sides
    full = _pq_drift_dict(
        spark, store, batch, books, query_ids=[0], k=3,
        recall_bound=(99, 100),
    )
    assert full["recall_probe"] == (1.0, False)
    # zero recall at k=1 (ADC tie-break picks the decoy): even the
    # loosest positive bound breaches
    none = _pq_drift_dict(
        spark, store, batch, books, query_ids=[0], k=1,
        recall_bound=(1, 100),
    )
    assert none["recall_probe"] == (0.0, True)
    assert none["verdict"][1] is True
