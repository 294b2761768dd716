"""Query catalog — text domain (mechanically moved from queries.py)."""


from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from aproximacion_1_etl_spark.operators.graph import array_combinations
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



def q_top_tokens_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token frequency: explode lowercase tokens, count per (lang,
    token), keep the top 5 per language (rank window with count-desc /
    token-asc tiebreak). The canonical corpus-stats shape: map-side
    explode -> one partial-agged shuffle -> small per-group window."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), "\\s+")).alias(
            "token"
        ),
    ).filter(F.col("token") != "")
    counts = toks.groupBy("lang", "token").agg(F.count("*").alias("n"))
    w = Window.partitionBy("lang").orderBy(
        F.col("n").desc(), F.col("token").asc()
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("lang", "token", "n", F.col("rank").cast("bigint").alias("rank"))
    )


def q_udtf_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 UDTF surface: a Python user-defined TABLE function (Spark
    3.5+/4.x) splitting each document into numbered sentences via a
    LATERAL join — the FlatMap-with-multiple-outputs shape of the
    reference's Beam generators (`src/2_...py:73-110`) as a first-class
    SQL table function."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="sent_idx BIGINT, sentence STRING")
    class SplitSentences:
        def eval(self, text: str):
            if text is None:
                return
            for i, s in enumerate(text.split(". ")):
                if s:
                    yield i + 1, s

    spark.udtf.register("split_sentences", SplitSentences)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "docs_for_udtf"
    )
    return spark.sql(
        """
        SELECT d.doc_id, s.sent_idx, s.sentence
        FROM docs_for_udtf d, LATERAL split_sentences(d.text) s
        """
    )


def q_rolling_hash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling (polynomial) hash fingerprint per document: fold
    acc = (acc*31 + codepoint) mod 1e9+7 over every character — exact
    BIGINT arithmetic JVM-side via a higher-order aggregate (no UDF),
    order-sensitive unlike the bag-of-tokens fingerprint in
    text_profile."""
    docs = load_table(spark, sf_dir, "documents")
    chars = F.regexp_extract_all(F.col("text"), F.lit(r"[\s\S]"), 0)
    rolled = F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * F.lit(31).cast("long") + F.ascii(ch))
        % F.lit(1000000007).cast("long"),
    )
    return docs.select(
        "doc_id",
        rolled.alias("rolling_hash"),
        F.length("text").cast("bigint").alias("n_chars"),
    )


# ----------------------------------------------------------- north star


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10: exact dedup — one survivor per normalized-content sha256 hash."""
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup(docs)


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10: MinHash+LSH near-dup candidate pairs (shingle -> banded minhash -> bucket self-join)."""
    docs = load_table(spark, sf_dir, "documents")
    sh = word_shingles(docs, n=3, distinct=False)
    sigs = minhash_signatures(sh, bands=8)
    return minhash_candidate_pairs(sigs, bands=8, min_matching_bands=2)


def q_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 flagship composite: the end-to-end training-corpus
    pipeline — quality-score every doc, gate at 0.5, keep one survivor
    (min id) per normalized-content hash, assign a leak-proof 80/10/10
    split by key hash, roll up per (split, lang).

    Scale shape: one narrow scoring pass, one shuffle on the 256-bit
    content hash (uniform), one final rollup — no driver-side state."""
    from aproximacion_1_etl_spark.functions.sampling import split_column
    from aproximacion_1_etl_spark.text.analysis import quality_score
    from aproximacion_1_etl_spark.text.dedup import normalized

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "lang",
        quality_score(F.col("text")).alias("quality"),
        F.sha2(normalized(F.col("text")), 256).alias("content_hash"),
    )
    good = scored.filter(F.col("quality") >= 0.5)
    w = Window.partitionBy("content_hash")
    survivors = good.withColumn(
        "keep_id", F.min("doc_id").over(w)
    ).filter(F.col("doc_id") == F.col("keep_id"))
    labeled = survivors.select(
        "lang",
        "quality",
        split_column(
            F.col("doc_id"), {"train": 0.8, "val": 0.1, "test": 0.1}
        ),
    )
    return labeled.groupBy("split", "lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        _dsum(F.col("quality"), 4).alias("sum_quality"),
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10: SimHash 16-bit signatures per doc (near-dups differ in few bits)."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash(docs, bits=16)


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10: exact 3-gram Jaccard similarity for docs sharing a shingle (LSH verification stage)."""
    docs = load_table(spark, sf_dir, "documents")
    sh = word_shingles(docs, n=3)
    return ngram_jaccard_pairs(sh, threshold=0.3)


def q_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 asymmetric CONTAINMENT detection (doc-in-doc — quoted
    posts, mirrors with boilerplate): |inner ∩ outer| / |inner| >= 0.9
    over 3-gram shingle sets (text/dedup.py::containment_pairs). The
    directional ratio catches what Jaccard dilutes away when sizes
    differ. Candidates come from the rarity-ordered PREFIX join
    (provably complete for the rounded >= 0.9 rule), so a boilerplate
    trigram shared by millions of docs fans out against only the few
    docs rare enough to carry it in their prefix — the hot-shingle
    defense the unblocked self-join lacked; each candidate is then
    verified exactly on the docs' shingle arrays."""
    from aproximacion_1_etl_spark.text.dedup import (
        containment_pairs,
        word_shingles,
    )

    docs = load_table(spark, sf_dir, "documents")
    sh = word_shingles(docs, n=3)
    return containment_pairs(sh, threshold=0.9)


def q_lsh_band_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 LSH BANDING PLANNER — the sizing report for the MinHash
    lever (companion to graph_degree_cap_report's cap ladder): for
    each (bands, rows-per-band) candidate on the ladder, the expected
    behavior of that banding ON THIS CORPUS's empirical similarity
    distribution — expected recall among true near-dup pairs
    (Jaccard >= 0.9), expected sub-threshold candidate load
    (Jaccard < 0.5, the wasted verification work), and total expected
    candidates. This is what an operator reads to pick bands x rows
    before a 100-TB dedup run: more bands/fewer rows => higher recall
    AND higher junk-candidate load; the right point depends on the
    corpus's similarity histogram, not on the formula alone.

    The S-curve p(s) = 1 - (1 - s^r)^b comes from ONE generated
    expression (text/dedup.py::lsh_catch_probability_sql — repeated
    multiplication, never libm pow) consumed verbatim by this plan and
    the DuckDB oracle. The exact pair histogram is bucketed to 0.01
    (<= ~90 rows, eagerly checkpointed — it feeds one aggregate per
    ladder entry); expected counts are decimal-cast sums, so the
    report is value-checked, not eyeballed.

    Scale posture: the histogram is built on a DETERMINISTIC doc-hash
    sample whose RATE IS DERIVED FROM CORPUS SIZE —
    min(0.5, LSH_PLAN_SAMPLE_TARGET / count), quantized to an exact
    md5-prefix threshold (functions/sampling.py::
    deterministic_sample_to_size; the count aggregate's 1-row result
    is broadcast back, no driver collect) — never the full corpus and
    never a fixed rate: the pair join under the histogram is the
    quadratic-prone shape the containment key had to prefix-filter
    away, and a fixed rate q still leaves pair volume at q²·n²,
    growing quadratically with the corpus. Deriving the rate from a
    target sample SIZE pins the pair join at O(target²) at ANY corpus
    scale, while every similarity stratum stays represented (pair
    survival is similarity-independent). The DuckDB oracle mirrors the
    threshold arithmetic verbatim from its own count; the ladder math
    stays O(|hist| x |ladder|)."""
    from aproximacion_1_etl_spark.functions.sampling import (
        deterministic_sample_to_size,
    )
    from aproximacion_1_etl_spark.text.dedup import (
        LSH_PLAN_LADDER,
        LSH_PLAN_SAMPLE_TARGET,
        lsh_catch_probability_sql,
        ngram_jaccard_pairs,
        word_shingles,
    )

    docs = deterministic_sample_to_size(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        LSH_PLAN_SAMPLE_TARGET,
    )
    sh = word_shingles(docs, n=3)
    pairs = ngram_jaccard_pairs(sh, threshold=0.1)
    hist = (
        pairs.select(
            (F.floor(F.col("jaccard") * 100) / 100).alias("s")
        )
        .groupBy("s")
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=True)
    )
    outs = []
    for b, r in LSH_PLAN_LADDER:
        p = F.expr(lsh_catch_probability_sql(b, r, "s"))
        pn = (p * F.col("n")).cast("decimal(38,15)")
        agg = hist.agg(
            _fround(
                F.sum(F.when(F.col("s") >= 0.9, pn)).cast("double")
                / F.sum(F.when(F.col("s") >= 0.9, F.col("n"))),
                6,
            ).alias("catch_ge90"),
            _fround(
                F.sum(F.when(F.col("s") < 0.5, pn)).cast("double"), 2
            ).alias("exp_cand_lt50"),
            _fround(F.sum(pn).cast("double"), 2).alias("exp_cand_total"),
        )
        outs.append(
            agg.select(
                F.lit(b).cast("int").alias("bands"),
                F.lit(r).cast("int").alias("rows_per_band"),
                "catch_ge90",
                "exp_cand_lt50",
                "exp_cand_total",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def q_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10: per-doc text analytics — token counts, BPE-ish tokens, language-ID, quality score, fingerprint."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        token_count(t).cast("bigint").alias("n_tokens"),
        regex_token_count(t).cast("bigint").alias("n_bpe_tokens"),
        lang_id(t).alias("lang_pred"),
        quality_score(t).alias("quality"),
        fingerprint(t).alias("fingerprint"),
    )


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language top-5 TF-IDF terms over the documents corpus."""
    from aproximacion_1_etl_spark.text.analysis import tfidf_top_terms

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, top_k=5)


def q_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 quality: intra-doc duplicate 3-gram ratio (Gopher-style
    repetition filter signal) per document."""
    from aproximacion_1_etl_spark.text.dedup import repetition_profile

    docs = load_table(spark, sf_dir, "documents")
    return repetition_profile(docs, n=3)


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10: benchmark decontamination — corpus docs sharing >= 3
    distinct 5-grams with the held-out 'benchmark' slice (source =
    src0), benchmark side broadcast."""
    from aproximacion_1_etl_spark.text.dedup import decontaminate

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("source") != "src0")
    benchmark = docs.filter(F.col("source") == "src0")
    return decontaminate(corpus, benchmark, n=5, min_shared=3)


def q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-length histogram: 100-char buckets with per-bucket counts
    and char totals — the size-distribution profile a corpus curation
    pass starts from."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(
            F.floor(F.col("n_chars") / 100).cast("bigint").alias("bucket")
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.min("n_chars").cast("bigint").alias("min_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
        )
    )


def q_near_dup_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 composite: the canonical two-stage near-dup pipeline at
    scale — MinHash-LSH candidate generation (sub-quadratic) followed
    by exact 3-gram Jaccard verification computed ONLY for candidate
    pairs. The verify join fans each candidate pair out to its shingle
    intersections; cost is |candidates| x avg-shingles, never
    |docs|^2."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(word_shingles(docs, distinct=False))
    cands = minhash_candidate_pairs(sigs, min_matching_bands=2)
    sh = word_shingles(docs, distinct=True)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    sa = sh.select(F.col("doc_id").alias("a_id"), F.col("shingle").alias("a_sh"))
    sb = sh.select(F.col("doc_id").alias("b_id"), F.col("shingle").alias("b_sh"))
    inter = (
        cands.join(sa, cands["doc_a"] == sa["a_id"])
        .join(sb, (cands["doc_b"] == sb["b_id"]) & (F.col("a_sh") == F.col("b_sh")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    za = sizes.select(F.col("doc_id").alias("za_id"), F.col("sz").alias("sz_a"))
    zb = sizes.select(F.col("doc_id").alias("zb_id"), F.col("sz").alias("sz_b"))
    return (
        inter.join(F.broadcast(za), inter["doc_a"] == za["za_id"])
        .join(F.broadcast(zb), inter["doc_b"] == zb["zb_id"])
        .select(
            "doc_a",
            "doc_b",
            (
                F.floor(
                    F.col("n_inter")
                    / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter"))
                    * F.lit(1000000.0)
                    + F.lit(0.5)
                )
                / F.lit(1000000.0)
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.6)
        .select(
            "doc_a",
            "doc_b",
            _fround(F.col("jaccard"), 4).alias("jaccard"),
        )
    )


def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10: near-dup CLUSTER assignment — MinHash-LSH candidate pairs
    (as in near_dup_verified) closed under transitivity via iterative
    min-label connected components, yielding (doc_id, cluster_id, keep)
    where exactly one doc per cluster is kept. This is the decision
    step of corpus dedup: A~B and B~C collapse to one kept doc even
    when A~C never met in any LSH bucket."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(word_shingles(docs, distinct=False))
    cands = minhash_candidate_pairs(sigs, min_matching_bands=2)
    return dedup_clusters(cands)


def _dup_cluster_store(
    spark: SparkSession, sf_dir: str, corpus: str = "history"
) -> tuple[DataFrame, DataFrame]:
    """The SIMULATED persisted dedup state over a documents slice
    (_document_corpus): (signature store, converged cluster
    assignment). ``history`` is the 75% slice the incremental fold
    starts from; ``full`` is the store the deletion key mutates. In
    production both live on disk: signatures appended per accepted
    batch, clusters maintained by the fold this store feeds. Here they
    are a registry artifact, eagerly checkpointed, so the maintenance
    keys' numbers are the fold's or the forget's cost, not the
    history build a real deployment already has on disk."""

    def build() -> tuple[DataFrame, DataFrame]:
        docs = _document_corpus(spark, sf_dir, corpus)
        sigs = minhash_signatures(
            word_shingles(docs, distinct=False)
        ).localCheckpoint(eager=True)
        store = (
            dedup_clusters(minhash_candidate_pairs(sigs, min_matching_bands=2))
            .select("doc_id", "cluster_id")
            .localCheckpoint(eager=True)
        )
        return sigs, store

    return artifact(
        spark, sf_dir, f"dup_cluster_store_{corpus}", ["documents"], build
    )


def q_incremental_dup_clusters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """§2.10 INCREMENTAL DEDUP-CLUSTER MAINTENANCE — the maintained-
    state family's dedup member (next to incremental_near_dup's
    signature store and incremental_graph_stats' fold): the daily
    batch (doc_id % 4 == 0) is shingled ONCE; its LSH collisions
    against the persisted signature store plus its within-batch
    candidate pairs fold into the PERSISTED cluster assignment
    (text/dedup.py::fold_dup_clusters — union-find on the contracted
    root graph, relabel through a batch-bounded remap), so corpus
    dedup clusters survive daily appends without re-clustering
    history. The DuckDB oracle is the FROM-SCRATCH clustering over
    the full corpus (the dup_clusters SQL verbatim) — hash equality
    IS the fold == rebuild proof."""
    from aproximacion_1_etl_spark.text.dedup import (
        fold_dup_clusters,
        signature_collisions,
    )

    corpus_sigs, store = _dup_cluster_store(spark, sf_dir)
    new = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 4 == 0
    )
    new_sigs = minhash_signatures(
        word_shingles(new, distinct=False)
    ).localCheckpoint(eager=True)
    vs_store = signature_collisions(
        new_sigs, corpus_sigs, min_matching_bands=2
    ).select(
        F.col("doc_new").alias("doc_a"), F.col("doc_old").alias("doc_b")
    )
    within = minhash_candidate_pairs(
        new_sigs, min_matching_bands=2
    ).select("doc_a", "doc_b")
    return fold_dup_clusters(store, vs_store.unionByName(within))


def q_dup_clusters_forget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 CLUSTER-STORE DELETION — the governance edge of the
    dedup-cluster trio (VERDICT r10 task 6), completing
    dup_clusters / incremental_dup_clusters / streaming_dup_clusters
    the way RTBF completes ingestion: an RTBF wave (doc_id % 7 == 0)
    is removed from the maintained cluster store via the
    rebuild-affected-components device
    (text/dedup.py::forget_doc_clusters) — deleted docs' components
    re-derive their surviving members' LSH pairs from the persisted
    signature store and re-cluster, batch-bounded by those
    components' pair sets; a bridge doc's removal correctly SPLITS
    its cluster, and survivors left pairless drop out. Every
    untouched component passes through unchanged. The DuckDB oracle
    is the FROM-SCRATCH clustering over the post-delete corpus —
    hash equality proves forget == rebuild."""
    from aproximacion_1_etl_spark.text.dedup import forget_doc_clusters

    sigs, store = _dup_cluster_store(spark, sf_dir, "full")
    deleted = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 7 == 0)
        .select("doc_id")
    )
    # the forget also shrinks the SIGNATURE store (r12 — content-
    # derived MinHash rows are data an RTBF request may not retain);
    # production persists both returns, the catalog key's oracle
    # checks the cluster assignment and the rtbf_audit_report key
    # checks signature absence across every maintained surface
    store2, _sigs2 = forget_doc_clusters(store, sigs, deleted)
    return store2


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build (posting lists) over the document corpus:
    token -> document frequency + the first 10 posting doc_ids. The
    exploded (token, doc) stream reduces map-side before the single
    shuffle on token; posting arrays are bounded with slice so no
    unbounded collect_set blows executor memory at 100 TB (cap BEFORE
    materializing would use a windowed top-k at real scale)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0)
            )
        ).alias("token"),
    ).where(F.length("token") >= 3)
    # Cap postings BEFORE materializing the list (windowed top-10 per
    # token) so no unbounded collect_set sits in executor memory; the
    # window and the groupBy share the token key, so Catalyst plans ONE
    # exchange for both (measured: 4.0s -> bounded at 10x dup-heavy
    # data, see PERF.md scale-up experiment 2).
    w = Window.partitionBy("token").orderBy("doc_id")
    ranked = toks.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("token")
        .agg(
            F.count("*").cast("bigint").alias("df"),
            F.concat_ws(
                ",",
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("rn") <= 10, F.col("doc_id"))
                    )
                ).cast("array<string>"),
            ).alias("postings"),
        )
        .where(F.col("df") >= 50)
    )


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM-pipeline chunking: split each document into fixed-size
    character windows with 25% overlap (stride 300, width 400). The
    chunk grid is computed per-row with sequence() + posexplode — a
    narrow fan-out, no shuffle at all; at 100 TB chunking composes
    with the scan and any downstream repartition is the consumer's
    choice."""
    docs = load_table(spark, sf_dir, "documents")
    width, stride = 400, 300
    offsets = F.sequence(
        F.lit(0),
        F.greatest(
            F.ceil((F.col("n_chars") - width) / F.lit(float(stride))), F.lit(0)
        ).cast("int"),
    )
    piece = F.substring(F.col("text"), F.col("chunk_id") * stride + 1, width)
    return (
        docs.select(
            "doc_id",
            "lang",
            "text",
            F.posexplode(offsets).alias("chunk_id", "_i"),
        )
        .select(
            "doc_id",
            "lang",
            "chunk_id",
            (F.col("chunk_id") * stride).cast("bigint").alias("chunk_start"),
            F.length(piece).cast("bigint").alias("chunk_len"),
            F.md5(piece).alias("chunk_hash"),
        )
        .where(F.col("chunk_len") > 0)
    )


# Chunk-key packing width shared by every chunk relation (lexical
# spans, vector index, hybrid fusion) AND mirrored verbatim by the
# DuckDB oracles — change both together. 100k chunks/doc means a
# >= 2.5M-token document at budget 25 before the ASSERT below fires.
_CHUNK_KEY_WIDTH = 100_000


def _chunk_key(doc_id: F.Column, chunk_id: F.Column) -> F.Column:
    """Pack (doc_id, chunk_id) into one bigint chunk key — LOUDLY
    (VERDICT r10 'What's wrong' #2): the old bare ``doc_id·100000 +
    chunk_id`` silently ALIASED a >= 100k-chunk document into the next
    doc's key space — wrong provenance with no error. The packing is
    kept (it preserves (doc_id, chunk_id)-lexicographic tie-break
    order, which the ANN/BM25 rank ties and the oracle mirrors depend
    on) but now guarded by an in-plan per-row assert: a document that
    overflows the width raises USER_RAISED_EXCEPTION naming the doc
    instead of corrupting retrieval provenance. One integer compare
    per row inside whole-stage codegen — free at any scale; the
    oracle mirrors need no guard because the gate already ran on the
    Spark side of the same corpus."""
    return (
        F.when(
            chunk_id >= F.lit(_CHUNK_KEY_WIDTH),
            F.raise_error(
                F.concat(
                    F.lit(
                        "chunk-key overflow: chunk_id >= "
                        f"{_CHUNK_KEY_WIDTH} for doc_id="
                    ),
                    doc_id.cast("string"),
                    F.lit(
                        " — raise _CHUNK_KEY_WIDTH (and its oracle "
                        "mirrors) or split the document upstream"
                    ),
                )
            ),
        )
        .otherwise(doc_id * _CHUNK_KEY_WIDTH + chunk_id)
        .cast("bigint")
    )


def _sentence_tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, tok, sent_idx): every token tagged with its
    1-based sentence index — sentences are maximal token runs ending
    at a terminator token ('a'/'the' stand in for punctuation on this
    synthetic corpus). ONE definition shared by the chunker and the
    chunk-level retrieval key (and mirrored verbatim by their
    oracles), so the boundary rule cannot drift."""
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok"),
    )
    wprev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return toks.select(
        "doc_id",
        "pos",
        "tok",
        (
            1
            + F.coalesce(
                F.sum(
                    F.when(F.col("tok").isin("a", "the"), 1).otherwise(0)
                ).over(wprev),
                F.lit(0),
            )
        ).cast("bigint").alias("sent_idx"),
    )


def _sentence_chunk_bins(docs: DataFrame, budget: int) -> DataFrame:
    """(doc_id, sent_idx, n_toks, chunk_id): sentences assigned to
    chunks by the boundary SNAP — chunk floor(preceding-tokens div
    budget); shared by q_semantic_chunking and the chunk-retrieval
    key."""
    sents = _sentence_tokens(docs).groupBy("doc_id", "sent_idx").agg(
        F.count("*").cast("bigint").alias("n_toks")
    )
    return sents.select(
        "doc_id",
        "sent_idx",
        "n_toks",
        F.expr(
            f"coalesce(sum(n_toks) over (partition by doc_id "
            f"order by sent_idx rows between unbounded preceding "
            f"and 1 preceding), 0) div {budget}"
        ).cast("bigint").alias("chunk_id"),
    )


def _chunk_texts(docs: DataFrame, budget: int) -> DataFrame:
    """Reconstructed chunk texts from the ONE shared sentence→chunk
    assignment — the relation chunk-level BM25 indexes over, shared
    by the lexical retrieval key, the hybrid fusion key, and the
    incremental chunk-index fold so their tokenization cannot drift.
    Returns (ckey, doc_id, chunk_id, text)."""
    st = _sentence_tokens(docs)
    bins = _sentence_chunk_bins(docs, budget)
    tok_chunks = st.join(
        bins.select("doc_id", "sent_idx", "chunk_id"),
        ["doc_id", "sent_idx"],
    )
    return tok_chunks.groupBy("doc_id", "chunk_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda x: x["tok"],
            ),
        ).alias("text")
    ).select(
        _chunk_key(F.col("doc_id"), F.col("chunk_id")).alias("ckey"),
        "doc_id",
        "chunk_id",
        "text",
    )


def q_semantic_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 SENTENCE-WINDOW SEMANTIC CHUNKING for RAG — completes the
    chunk→embed→ANN→rerank pipeline next to q_chunk_documents (fixed
    char windows) and q_pack_sequences (token-budget bins): chunk
    boundaries respect BOTH a token budget AND sentence boundaries,
    with per-chunk provenance (doc_id, sent_start, sent_end) so a
    retrieval hit cites the exact sentence span, and OVERLAP
    accounting (each chunk carries the previous chunk's last sentence
    as leading context — the standard RAG continuity device).

    Pure relational — running token sums + boundary snap, no UDF/UDTF:
    sentences are maximal token runs ending at a terminator token
    (the corpus is synthetic and punctuation-free, so the filler
    tokens 'a'/'the' stand in for sentence terminators; with real
    text the terminator predicate is punctuation and everything else
    is unchanged); a sentence belongs to chunk
    floor(preceding-tokens / budget), so no sentence is ever split
    across chunks and a chunk overflows the budget by at most one
    sentence — the snap semantics. Shape at 100 TB: one narrow
    posexplode, two partition-by-doc windows, two per-doc aggregates —
    chunking composes with the scan, nothing doc-crossing is
    shuffled."""
    budget = 25
    docs = load_table(spark, sf_dir, "documents")
    binned = _sentence_chunk_bins(docs, budget)
    chunks = binned.groupBy("doc_id", "chunk_id").agg(
        F.min("sent_idx").cast("bigint").alias("sent_start"),
        F.max("sent_idx").cast("bigint").alias("sent_end"),
        F.count("*").cast("bigint").alias("n_sents"),
        F.sum("n_toks").cast("bigint").alias("chunk_tokens"),
        F.max_by("n_toks", "sent_idx").alias("_last_toks"),
    )
    wchunk = Window.partitionBy("doc_id").orderBy("chunk_id")
    return chunks.select(
        "doc_id",
        "chunk_id",
        "sent_start",
        "sent_end",
        "n_sents",
        "chunk_tokens",
        F.coalesce(F.lag("_last_toks").over(wchunk), F.lit(0))
        .cast("bigint")
        .alias("overlap_tokens"),
        (
            F.col("chunk_tokens")
            + F.coalesce(F.lag("_last_toks").over(wchunk), F.lit(0))
        ).cast("bigint").alias("total_tokens"),
    )


def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 CURRICULUM ORDERING — the training-data op that serves
    documents easy→hard: docs are banded into difficulty quartiles by
    token count (VALUE-based cuts from the shared exact crossing rule
    _crossing_pick — never a global ntile, whose single-task rank
    window is exactly what deterministic_global_index exists to
    avoid), then hash-shuffled WITHIN each band (same md5 order as
    every deterministic shuffle here), and assigned one global
    curriculum index: band offset + within-band rank. The result is a
    reproducible easy→hard ordering whose global coordination is a
    4-row offsets relation — scale-independent. Completes the
    training-order family next to pack_training_batches (flat hash
    order) and length_bucketed_batches (padding-waste bands)."""
    from aproximacion_1_etl_spark.functions.sampling import (
        deterministic_global_index,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
    )
    vc = docs.groupBy("n_tokens").agg(F.count("*").alias("n"))
    wcum = Window.orderBy("n_tokens").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = vc.select(
        "n_tokens", F.sum("n").over(wcum).alias("cw")
    ).crossJoin(F.broadcast(docs.agg(F.count("*").alias("tw"))))
    cuts = cum.agg(
        _crossing_pick("n_tokens", 1, 4).alias("c1"),
        _crossing_pick("n_tokens", 2, 4).alias("c2"),
        _crossing_pick("n_tokens", 3, 4).alias("c3"),
    )
    banded = docs.crossJoin(F.broadcast(cuts)).select(
        "doc_id",
        "n_tokens",
        F.when(F.col("n_tokens") <= F.col("c1"), 1)
        .when(F.col("n_tokens") <= F.col("c2"), 2)
        .when(F.col("n_tokens") <= F.col("c3"), 3)
        .otherwise(4)
        .cast("int")
        .alias("band"),
    )
    idx = deterministic_global_index(
        banded, "doc_id", partition_cols=["band"], name="_bi"
    )
    # band offsets from the |distinct token counts|-sized vc relation
    # (value-banded counts), NOT from re-scanning the corpus-sized
    # banded relation — the offsets need only per-band totals
    woff = Window.orderBy("band").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = (
        vc.crossJoin(F.broadcast(cuts))
        .select(
            F.when(F.col("n_tokens") <= F.col("c1"), 1)
            .when(F.col("n_tokens") <= F.col("c2"), 2)
            .when(F.col("n_tokens") <= F.col("c3"), 3)
            .otherwise(4)
            .cast("int")
            .alias("band"),
            "n",
        )
        .groupBy("band")
        .agg(F.sum("n").alias("_n"))
        .select(
            "band",
            F.coalesce(F.sum("_n").over(woff), F.lit(0)).alias("_off"),
        )
    )
    return idx.join(F.broadcast(offs), "band").select(
        "doc_id",
        "band",
        "n_tokens",
        (F.col("_off") + F.col("_bi")).cast("bigint").alias(
            "curriculum_idx"
        ),
    )


def q_chunk_retrieval_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 CHUNK-LEVEL RETRIEVAL WITH SPAN PROVENANCE — the RAG
    retrieval stage the sentence-window chunker exists for: BM25 runs
    over the CHUNKS (reconstructed chunk texts from the shared
    sentence→chunk assignment, _sentence_tokens/_sentence_chunk_bins —
    one boundary definition with q_semantic_chunking), and every hit
    carries (doc_id, chunk_id, sent_start, sent_end) so the retrieval
    result cites the exact sentence span it came from. Corpus
    statistics (avgdl, N, df) are chunk-level, as a chunk index's
    should be. The chunk key (_chunk_key: doc_id·width + chunk_id,
    overflow-asserted in-plan) keeps the BM25 ranker's tie-break
    deterministic and reversible. Top-10 chunks per query, rank ties
    by chunk key."""
    budget = 25
    docs = load_table(spark, sf_dir, "documents")
    bins = _sentence_chunk_bins(docs, budget)
    spans = bins.groupBy("doc_id", "chunk_id").agg(
        F.min("sent_idx").cast("bigint").alias("sent_start"),
        F.max("sent_idx").cast("bigint").alias("sent_end"),
    ).select(
        _chunk_key(F.col("doc_id"), F.col("chunk_id")).alias("ckey"),
        "doc_id",
        "chunk_id",
        "sent_start",
        "sent_end",
    )
    # ranked lists come THROUGH the persisted chunk postings
    # (_full_chunk_bm25_store) — bit-identical to the old in-plan
    # bm25_topk over reconstructed chunk texts (fold == rebuild
    # equality), without re-tokenizing every chunk per run; the span
    # provenance join needs only the |Q|·k hits' spans, so the
    # checkpointed full chunk-text relation is gone too.
    ranked = _chunk_bm25_topk(spark, sf_dir, k=10, budget=budget).select(
        "query_id", F.col("doc_id").alias("ckey"), "score", "rank"
    )
    return ranked.join(spans, "ckey").select(
        "query_id",
        "doc_id",
        "chunk_id",
        "sent_start",
        "sent_end",
        "score",
        F.col("rank").cast("bigint").alias("rank"),
    )


def _bm25_index_store(
    spark: SparkSession, sf_dir: str, corpus: str = "history"
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The SIMULATED persisted BM25 index over a documents slice
    (_document_corpus): (postings, df, stats) from
    text/analysis.py::bm25_index. ``history`` is the slice the fold
    key appends to; ``full`` is the index the deletion key shrinks. In
    production these are parquet relations (postings bucketed by
    term); here a registry artifact, eagerly checkpointed, so the
    maintenance keys' numbers are the fold or forget + scoring
    cost."""

    def build() -> tuple[DataFrame, DataFrame, DataFrame]:
        from aproximacion_1_etl_spark.text.analysis import bm25_index

        postings, df0, stats = bm25_index(
            _document_corpus(spark, sf_dir, corpus)
        )
        return (
            postings.localCheckpoint(eager=True),
            df0.localCheckpoint(eager=True),
            stats.localCheckpoint(eager=True),
        )

    return artifact(
        spark, sf_dir, f"bm25_index_{corpus}", ["documents"], build
    )


def q_incremental_bm25_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """§2.10 INCREMENTAL BM25 INDEX MAINTENANCE — the retrieval-
    freshness member of the maintained-state family (next to the
    signature, cluster, graph, profile, and IVF stores): the daily
    batch (doc_id % 4 == 0) is tokenized ONCE and folded into the
    persisted inverted index (postings append; per-term dfs add via a
    full-outer coalesce join; 1-row exact-integer totals add —
    text/analysis.py::fold_bm25_index), then the standard queries
    score THROUGH THE FOLDED INDEX via the exact scoring tail
    bm25_topk itself uses (bm25_score_from_index). The oracle is the
    from-scratch BM25 over the full corpus (the bm25_topk SQL
    verbatim) — hash equality proves fold == rebuild: folded df / N /
    avgdl reproduce the one-shot statistics bit-for-bit (totals are
    stored as exact integers; avgdl is one double division)."""
    from aproximacion_1_etl_spark.text.analysis import (
        BM25_QUERIES,
        bm25_score_from_index,
        fold_bm25_index,
    )

    postings, df0, stats = _bm25_index_store(spark, sf_dir)
    batch = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 4 == 0
    )
    postings2, df2, stats2 = fold_bm25_index(postings, df0, stats, batch)
    qrows = [
        (qid, t)
        for qid, terms in sorted(BM25_QUERIES.items())
        for t in sorted(set(terms))
    ]
    qdf = spark.createDataFrame(qrows, "query_id INT, term STRING")
    qterms = qdf.select("term").distinct()
    qtf = postings2.join(F.broadcast(qterms), "term")
    # restrict the maintained df relation to the query terms BEFORE it
    # is broadcast into scoring — the full-vocabulary relation must
    # never ride a broadcast at corpus scale
    dfq = df2.join(F.broadcast(qterms), "term")
    stats_fmt = stats2.select(
        "n_docs",
        (F.col("total_dl").cast("double") / F.col("n_docs")).alias(
            "avgdl"
        ),
    )
    return bm25_score_from_index(qtf, dfq, stats_fmt, qdf, k=10)


def q_bm25_index_forget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 BM25 INDEX DELETION — the RTBF edge of the maintained
    retrieval index (r11; pairs with incremental_bm25_index the way
    dup_clusters_forget pairs with incremental_dup_clusters): an RTBF
    wave (doc_id % 5 == 0) is removed from the persisted inverted
    index through the deleted docs' OWN postings (postings anti-join,
    per-term df decrements, exact-integer totals subtract —
    text/analysis.py::forget_bm25_index; nothing corpus-sized moves),
    then the standard queries score THROUGH the shrunk index via the
    exact scoring tail. Oracle = from-scratch BM25 over the
    post-delete corpus — hash equality proves forget == rebuild:
    the decremented df / N / avgdl reproduce the rebuild's statistics
    bit-for-bit."""
    from aproximacion_1_etl_spark.text.analysis import (
        BM25_QUERIES,
        bm25_score_from_index,
        forget_bm25_index,
    )

    postings, df0, stats = _bm25_index_store(spark, sf_dir, "full")
    deleted = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 == 0)
        .select("doc_id")
    )
    postings2, df2, stats2 = forget_bm25_index(
        postings, df0, stats, deleted
    )
    qrows = [
        (qid, t)
        for qid, terms in sorted(BM25_QUERIES.items())
        for t in sorted(set(terms))
    ]
    qdf = spark.createDataFrame(qrows, "query_id INT, term STRING")
    qterms = qdf.select("term").distinct()
    qtf = postings2.join(F.broadcast(qterms), "term")
    dfq = df2.join(F.broadcast(qterms), "term")
    stats_fmt = stats2.select(
        "n_docs",
        (F.col("total_dl").cast("double") / F.col("n_docs")).alias(
            "avgdl"
        ),
    )
    return bm25_score_from_index(qtf, dfq, stats_fmt, qdf, k=10)


_EMB_DIM = 64


def _chunk_vector_index(
    spark: SparkSession, sf_dir: str, budget: int = 25
) -> DataFrame:
    """The persisted CHUNK-VECTOR INDEX for semantic chunk retrieval:
    one row per chunk — (ckey, doc_id, chunk_id, sent_start, sent_end,
    embedding) — where the chunk embedding is the MEAN-POOL of its
    sentences' embeddings. Sentence embeddings come from a
    deterministic fake embedder (hash-assign each sentence a vector
    from the embeddings table: vec_id = (doc_id·131 + sent_idx) mod
    |vectors|, the count joined in-plan as a broadcast 1-row
    aggregate so the rule is corpus-size-derived on both engines);
    the pooling is the REAL pipeline shape — per-dimension
    DECIMAL(38,18) sums divided once into doubles, so the pooled
    vectors are order-independent and bit-identical cross-engine (the
    centroid-mean device of train_ivf_centroids). Sentence→chunk
    boundaries are the ONE shared assignment (_sentence_chunk_bins)
    with q_semantic_chunking / q_chunk_retrieval_spans, so spans
    cannot drift between lexical and semantic hits. A registry
    artifact, eagerly checkpointed like the other simulated persisted
    stores (in production this index is written once per corpus and
    read by every retrieval)."""

    def build() -> DataFrame:
        from aproximacion_1_etl_spark.text.vector import (
            ivf_assign_cells,
        )

        docs = load_table(spark, sf_dir, "documents")
        pooled = _pooled_chunk_vectors(spark, sf_dir, docs, budget)
        # The index persists its IVF CELL assignment, computed once at
        # build time against the shared trained codebook — that is
        # what an IVF index IS on disk (vectors bucketed by cell); the
        # ANN consumers were re-running the literal-codebook argmin
        # over the whole chunk corpus on every retrieval (measured
        # ~4 s per key at sf0.1, the dominant cost of each chunk-ANN
        # key). Same assignment expression, so every result is
        # unchanged; the cost moves into the index build, where
        # production pays it.
        cells = ivf_assign_cells(
            pooled, _trained_codebook(spark, sf_dir), id_col="ckey"
        )
        return pooled.join(cells, "ckey").repartition(
            spark.sparkContext.defaultParallelism, "ckey"
        ).localCheckpoint(eager=True)

    return artifact(
        spark, sf_dir, f"chunk_vector_index_{budget}",
        ["documents", "embeddings"], build,
    )


def _pooled_chunk_vectors(
    spark: SparkSession, sf_dir: str, docs: DataFrame, budget: int = 25
) -> DataFrame:
    """The pooling pass of the chunk-vector index over ANY document
    relation — ONE definition shared by the full-corpus build
    (_chunk_vector_index) and the incremental fold
    (q_incremental_chunk_index), so fold == rebuild cannot drift:
    chunks are per-document, and the sentence→vector hash rule's
    modulus is |embeddings| (corpus-independent of which docs are
    pooled), so pooling a batch produces bit-identical rows to the
    same docs inside a full build. Returns (ckey, doc_id, chunk_id,
    sent_start, sent_end, embedding)."""
    from aproximacion_1_etl_spark.text.vector import _as_double

    bins = _sentence_chunk_bins(docs, budget)
    emb = _as_double(
        load_table(spark, sf_dir, "embeddings"), "embedding"
    )
    nv = emb.agg(F.count("*").alias("_n_vecs"))
    sa = bins.crossJoin(F.broadcast(nv)).select(
        "doc_id",
        "chunk_id",
        "sent_idx",
        (
            (F.col("doc_id") * 131 + F.col("sent_idx"))
            % F.col("_n_vecs")
        ).cast("bigint").alias("vec_id"),
    )
    sv = sa.join(emb, "vec_id")
    pooled = sv.groupBy("doc_id", "chunk_id").agg(
        F.count("*").alias("_n"),
        F.min("sent_idx").cast("bigint").alias("sent_start"),
        F.max("sent_idx").cast("bigint").alias("sent_end"),
        *[
            F.sum(
                F.col("embedding")[d].cast("decimal(38,18)")
            ).alias(f"_s{d}")
            for d in range(_EMB_DIM)
        ],
    )
    return pooled.select(
        _chunk_key(F.col("doc_id"), F.col("chunk_id")).alias("ckey"),
        "doc_id",
        "chunk_id",
        "sent_start",
        "sent_end",
        F.array(
            *[
                F.col(f"_s{d}").cast("double") / F.col("_n")
                for d in range(_EMB_DIM)
            ]
        ).alias("embedding"),
    )


def _chunk_index_store(
    spark: SparkSession, sf_dir: str, budget: int = 25
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """The SIMULATED persisted RAG chunk-index state over the
    existing corpus (doc_id % 4 != 0): the pooled chunk-VECTOR index
    plus the chunk-level BM25 inverted index (postings, df, stats —
    keyed by ckey), both built from the ONE shared sentence→chunk
    assignment. In production these are parquet relations maintained
    by the incremental fold; here a registry artifact, eagerly
    checkpointed, so the maintenance key's number is the FOLD's
    cost."""

    def build() -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
        from aproximacion_1_etl_spark.text.analysis import bm25_index

        old = _document_corpus(spark, sf_dir, "history")
        vecidx = _pooled_chunk_vectors(
            spark, sf_dir, old, budget
        ).localCheckpoint(eager=True)
        ct = _chunk_texts(old, budget).select(
            F.col("ckey").alias("doc_id"), "text"
        )
        postings, df0, stats = bm25_index(ct)
        return (
            vecidx,
            postings.localCheckpoint(eager=True),
            df0.localCheckpoint(eager=True),
            stats.localCheckpoint(eager=True),
        )

    return artifact(
        spark, sf_dir, f"chunk_index_store_{budget}",
        ["documents", "embeddings"], build,
    )


def _full_chunk_bm25_store(
    spark: SparkSession, sf_dir: str, budget: int = 25
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The persisted chunk-level BM25 inverted index over the FULL
    corpus — (postings, df, stats) keyed by ckey — the lexical half
    of the chunk index the way _chunk_vector_index persists the
    semantic half (VERDICT r13 task 5: the hybrid key re-tokenized
    every chunk and rebuilt tf in-plan on each run; production writes
    the postings once per corpus and every retrieval reads them).
    Built by text/analysis.py::bm25_index over the shared
    _chunk_texts reconstruction, a registry artifact, eagerly
    checkpointed; consumers score THROUGH the index via
    bm25_score_from_index — the exact scoring tail bm25_topk itself
    uses, with stored exact-integer totals, so ranked lists are
    bit-identical to the in-plan form (the incremental_bm25_index
    fold == rebuild equality, pinned by that key's oracle)."""

    def build() -> tuple[DataFrame, DataFrame, DataFrame]:
        from aproximacion_1_etl_spark.text.analysis import bm25_index

        docs = load_table(spark, sf_dir, "documents")
        ct = _chunk_texts(docs, budget).select(
            F.col("ckey").alias("doc_id"), "text"
        )
        postings, df0, stats = bm25_index(ct)
        return (
            postings.localCheckpoint(eager=True),
            df0.localCheckpoint(eager=True),
            stats.localCheckpoint(eager=True),
        )

    return artifact(
        spark, sf_dir, f"chunk_bm25_index_{budget}", ["documents"], build
    )


def _chunk_bm25_topk(
    spark: SparkSession, sf_dir: str, k: int, budget: int = 25
) -> DataFrame:
    """Chunk-level BM25 top-``k`` per query THROUGH the persisted
    chunk postings (one definition for the spans key and the hybrid
    key): query-term postings and df are restricted before broadcast,
    avgdl is the stored exact-integer division."""
    from aproximacion_1_etl_spark.text.analysis import (
        BM25_QUERIES,
        bm25_score_from_index,
    )

    postings, df0, stats = _full_chunk_bm25_store(spark, sf_dir, budget)
    qrows = [
        (qid, t)
        for qid, terms in sorted(BM25_QUERIES.items())
        for t in sorted(set(terms))
    ]
    qdf = spark.createDataFrame(qrows, "query_id INT, term STRING")
    qterms = qdf.select("term").distinct()
    qtf = postings.join(F.broadcast(qterms), "term")
    dfq = df0.join(F.broadcast(qterms), "term")
    stats_fmt = stats.select(
        "n_docs",
        (F.col("total_dl").cast("double") / F.col("n_docs")).alias(
            "avgdl"
        ),
    )
    return bm25_score_from_index(qtf, dfq, stats_fmt, qdf, k=k)


def q_incremental_chunk_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """§2.10 INCREMENTAL CHUNK-INDEX MAINTENANCE — the RAG-freshness
    twin (VERDICT r10 task 3): the one persisted store that still
    rebuilt per corpus was the chunk index, so retrieval went stale
    under daily appends. The daily batch (doc_id % 4 == 0) is
    sentence-tokenized ONCE and folded into BOTH halves of the
    persisted chunk index in one pass: its pooled chunk VECTORS
    append to the vector index (chunks are per-document and the
    sentence→vector hash modulus is |embeddings|, so batch pooling is
    bit-identical to the same docs inside a full build —
    _pooled_chunk_vectors is the one shared definition), and its
    reconstructed chunk texts fold into the chunk-level BM25 postings
    through the guarded fold_bm25_index (postings append, dfs add,
    exact-integer totals — re-delivered chunk keys are no-ops).
    History is never re-pooled or re-tokenized.

    Output: one row per chunk of the FULLY-FOLDED index carrying both
    halves' evidence — the span provenance + the pooled vector's
    squared norm (the _sql_dot device, 6 dp) from the vector half,
    and dl + distinct-term count from the postings half. The DuckDB
    oracle is the FROM-SCRATCH chunk index over the full corpus (the
    _chunk_vec_ctes rebuild) — hash equality proves fold == rebuild
    for both halves at once."""
    from aproximacion_1_etl_spark.text.analysis import fold_bm25_index
    from aproximacion_1_etl_spark.text.vector import _sql_dot

    budget = 25
    vecidx, postings, df0, stats = _chunk_index_store(
        spark, sf_dir, budget
    )
    batch = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 4 == 0
    )
    folded_vec = vecidx.unionByName(
        _pooled_chunk_vectors(spark, sf_dir, batch, budget)
    )
    bct = _chunk_texts(batch, budget).select(
        F.col("ckey").alias("doc_id"), "text"
    )
    p2, _d2, _s2 = fold_bm25_index(postings, df0, stats, bct)
    dig = p2.groupBy("doc_id").agg(
        F.max("dl").cast("bigint").alias("dl"),
        F.count("*").cast("bigint").alias("n_terms"),
    ).select(F.col("doc_id").alias("ckey"), "dl", "n_terms")
    return folded_vec.join(dig, "ckey").select(
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


def q_chunk_index_forget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 CHUNK-INDEX DELETION — the RTBF CASCADE through the RAG
    store (r11; completes the deletion edges: clusters, BM25, IVF
    stats, and now the chunk index): deleting a document must remove
    ALL its chunks from both halves of the persisted chunk index, and
    the deleted doc's chunk keys are recovered from the index ITSELF
    (the (ckey, doc_id) rows of the vector half — no re-tokenization
    of deleted content, which RTBF may not even retain). The vector
    half anti-joins the wave's doc ids; the postings half shrinks
    through forget_bm25_index keyed by the recovered ckeys (per-term
    df decrements, exact-integer totals subtract — wave-bounded).
    The wave is doc_id % 6 == 3 (all such ids sit in the store's
    slice). Oracle = the from-scratch chunk index over the
    post-delete corpus — forget == rebuild for both halves at once
    (the incremental_chunk_index digest shape)."""
    from aproximacion_1_etl_spark.text.analysis import forget_bm25_index
    from aproximacion_1_etl_spark.text.vector import _sql_dot

    budget = 25
    vecidx, postings, df0, stats = _chunk_index_store(
        spark, sf_dir, budget
    )
    deleted = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 6 == 3)
        .select("doc_id")
    )
    vec2 = vecidx.join(F.broadcast(deleted), "doc_id", "left_anti")
    del_ckeys = (
        vecidx.join(F.broadcast(deleted), "doc_id", "left_semi")
        .select(F.col("ckey").alias("doc_id"))
    )
    p2, _d2, _s2 = forget_bm25_index(postings, df0, stats, del_ckeys)
    dig = p2.groupBy("doc_id").agg(
        F.max("dl").cast("bigint").alias("dl"),
        F.count("*").cast("bigint").alias("n_terms"),
    ).select(F.col("doc_id").alias("ckey"), "dl", "n_terms")
    return vec2.join(dig, "ckey").select(
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


def _chunk_ann_hits(
    spark: SparkSession, sf_dir: str, k: int
) -> DataFrame:
    """ANN top-``k`` chunks per query through the trained-IVF path:
    query vectors are the BM25 query ids' document embeddings, the
    corpus is the pooled chunk-vector index, the coarse quantizer is
    the SAME trained codebook the doc-level ANN keys use (trained
    once on the base embeddings — the production pattern: one
    representative-sample codebook indexes every derived-vector
    collection). The chunk index carries its cells (assigned once at
    build time), so only the query side computes codebook distances;
    only probed-cell candidates reach the broadcast query join."""
    from aproximacion_1_etl_spark.text.analysis import BM25_QUERIES
    from aproximacion_1_etl_spark.text.vector import ann_topk_ivf_queries

    idx = _chunk_vector_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(
        F.col("vec_id").isin(sorted(BM25_QUERIES))
    ).select(
        F.col("vec_id").cast("bigint").alias("query_id"),
        F.col("embedding").alias("qvec"),
    )
    return ann_topk_ivf_queries(
        idx.select(F.col("ckey").alias("vec_id"), "embedding", "cell"),
        queries,
        centroids=_trained_codebook(spark, sf_dir),
        k=k,
        nprobe=4,
    ).withColumnRenamed("vec_id", "ckey")


def q_chunk_ann_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 CHUNK-LEVEL ANN RETRIEVAL — the semantic side of the RAG
    retrieval stack (VERDICT r9 task 7), completing
    q_chunk_retrieval_spans' lexical ranking: per-chunk embeddings
    (mean-pooled sentence vectors, _chunk_vector_index) are indexed
    through the trained-IVF path and each query's top-10 chunks come
    back with the SAME (doc_id, chunk_id, sent_start, sent_end)
    sentence-span provenance as the lexical hits — one shared
    sentence→chunk assignment, so a semantic hit cites the exact
    span. Oracle rebuilds the pooled vectors and the full trained-IVF
    chain in-engine (the _ivf_cent_ctes device), so the key is fully
    value-checked."""
    hits = _chunk_ann_hits(spark, sf_dir, k=10)
    idx = _chunk_vector_index(spark, sf_dir)
    return hits.join(idx.drop("embedding"), "ckey").select(
        "query_id",
        "doc_id",
        "chunk_id",
        "sent_start",
        "sent_end",
        "cos_sim",
        F.col("rank").cast("bigint").alias("rank"),
    )


def q_chunk_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 CHUNK-INDEX QUALITY GATE — recall@10 of the trained-IVF
    chunk retrieval against the exact-cosine top-10 over the SAME
    pooled chunk vectors (ann_recall_at_k's device pointed at the new
    derived-vector index): every approximate index the engine ships
    carries its continuous recall measurement, and the chunk index is
    no exception. The exact side is one broadcast-queries pass over
    the chunk relation (fine — it is a sampled quality gate, not a
    lookup path); both sides are |Q|·k lists so the intersection is
    shuffle-trivial at any corpus size."""
    from aproximacion_1_etl_spark.text.analysis import BM25_QUERIES
    from aproximacion_1_etl_spark.text.vector import (
        _as_double,
        _fround as _vr,
        cosine_sim,
    )

    k = 10
    idx = _chunk_vector_index(spark, sf_dir)
    emb = _as_double(
        load_table(spark, sf_dir, "embeddings"), "embedding"
    )
    queries = emb.filter(
        F.col("vec_id").isin(sorted(BM25_QUERIES))
    ).select(
        F.col("vec_id").cast("bigint").alias("query_id"),
        F.col("embedding").alias("qvec"),
    )
    scored = idx.crossJoin(F.broadcast(queries)).select(
        "query_id",
        "ckey",
        _vr(cosine_sim(F.col("qvec"), F.col("embedding")), 9).alias(
            "cos_sim"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("ckey").asc()
    )
    exact = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "ckey")
    )
    approx = _chunk_ann_hits(spark, sf_dir, k=k).select(
        "query_id", "ckey"
    )
    hits = exact.join(approx, ["query_id", "ckey"], "left_semi")
    per_q = (
        exact.groupBy("query_id")
        .agg(F.count("*").cast("bigint").alias("n_exact"))
        .join(
            hits.groupBy("query_id").agg(
                F.count("*").cast("bigint").alias("n_hit")
            ),
            "query_id",
            "left",
        )
    )
    return per_q.select(
        "query_id",
        "n_exact",
        F.coalesce("n_hit", F.lit(0)).cast("bigint").alias("n_hit"),
        (
            F.coalesce("n_hit", F.lit(0)).cast("double") / F.lit(k)
        ).alias("recall"),
    )


def q_chunk_hybrid_retrieval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """§2.10 HYBRID CHUNK RETRIEVAL — the fused RAG retrieval stage:
    the chunk-level BM25 top-20 (q_chunk_retrieval_spans' ranking)
    and the chunk-level trained-IVF ANN top-20 (q_chunk_ann_retrieval)
    fuse by reciprocal-rank fusion into one top-10 per query, every
    hit still carrying its sentence-span provenance. Fusion touches
    only the two |queries|·20 ranked lists (rrf_fuse) — at 100 TB the
    expensive work happened in the retrievers; the fusion join is
    broadcast-scale by construction."""
    from aproximacion_1_etl_spark.text.analysis import rrf_fuse

    budget = 25
    # lexical top-20 THROUGH the persisted chunk postings — the
    # r13-flagged ~3 s/run chunk re-tokenization + in-plan tf build
    # moves into the once-per-corpus _full_chunk_bm25_store build
    # (ranked lists bit-identical: fold == rebuild equality)
    lex = _chunk_bm25_topk(spark, sf_dir, k=20, budget=budget).select(
        "query_id", F.col("doc_id").alias("ckey"), "rank"
    )
    sem = _chunk_ann_hits(spark, sf_dir, k=20)
    fused = rrf_fuse(lex, sem, k=10, id_col="ckey")
    idx = _chunk_vector_index(spark, sf_dir)
    return fused.join(idx.drop("embedding"), "ckey").select(
        "query_id",
        "doc_id",
        "chunk_id",
        "sent_start",
        "sent_end",
        "rrf_score",
        "lex_rank",
        "sem_rank",
        F.col("rank").cast("bigint").alias("rank"),
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing: assign documents (ordered by doc_id
    within language) to fixed token-budget bins by running-sum
    division — the deterministic streaming-pack used to batch training
    sequences. One window pass (running sum) + one reduce per bin;
    both engines compute the identical assignment because the order
    and arithmetic are exact integers."""
    budget = 4096
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    binned = docs.select(
        "doc_id",
        "lang",
        "n_tokens",
        (F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / budget)
        .cast("bigint")
        .alias("bin_id"),
    )
    return binned.groupBy("lang", "bin_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("bin_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy-based quality filter (§2.10): Shannon entropy of each
    document's token distribution — low entropy flags repetitive /
    boilerplate text (complements text/dedup.py::repetition_profile).
    Two keyed reduces (token counts, then per-doc entropy terms), both
    map-side combinable; entropy terms are decimal-cast before the sum
    so the result is summation-order independent (oracle parity)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0)
        ).alias("tok"),
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    totals = tf.groupBy("doc_id").agg(F.sum("c").alias("n"))
    p = F.col("c") / F.col("n")
    term = (-p * F.log2(p)).cast("decimal(30,8)")
    ent = (
        tf.join(totals, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.max("n").alias("n_tokens"),
            _fround(F.sum(term).cast("double"), 4).alias("entropy"),
        )
    )
    return ent.select(
        "doc_id", F.col("n_tokens").cast("bigint").alias("n_tokens"), "entropy"
    ).where(F.col("entropy") < 4.5)


def q_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction: top-20 bigrams by pointwise mutual
    information. Bigrams come from a lead() window over the exploded
    token stream (one shuffle on doc_id); PMI is computed from exact
    integer counts (c_ab * N / (c_a * c_b)) so both engines agree
    bit-for-bit; final selection is a distributed top-k
    (TakeOrderedAndProject), not a global sort."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
        ).alias("pos", "tok"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    pairs = toks.select(
        F.col("tok").alias("tok_a"), F.lead("tok").over(w).alias("tok_b")
    ).where(F.col("tok_b").isNotNull())
    c_ab = pairs.groupBy("tok_a", "tok_b").agg(F.count("*").alias("n_ab"))
    uni = toks.groupBy("tok").agg(F.count("*").alias("n"))
    tot = toks.agg(F.count("*").alias("n_total"))
    pmi = F.log2(
        F.col("n_ab") * F.col("n_total") / (F.col("n_a") * F.col("n_b"))
    )
    return (
        c_ab.where(F.col("n_ab") >= 5)
        .join(
            F.broadcast(uni.select(F.col("tok").alias("tok_a"), F.col("n").alias("n_a"))),
            "tok_a",
        )
        .join(
            F.broadcast(uni.select(F.col("tok").alias("tok_b"), F.col("n").alias("n_b"))),
            "tok_b",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "tok_a",
            "tok_b",
            F.col("n_ab").cast("bigint").alias("n_ab"),
            _fround(pmi, 4).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), F.col("tok_a").asc(), F.col("tok_b").asc())
        .limit(20)
    )


def q_corpus_to_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-sequence builder — the LLM-pipeline
    flagship: quality gate -> overlapping chunking -> exact chunk-level
    dedup (content hash) -> context-window packing, in ONE declarative
    plan. Shuffle budget: dedup's hash shuffle + packing's per-lang
    window + the final rollup; chunking itself is narrow. Every stage
    is JVM-side (md5 / substring / running sum) — no Python in the
    path, so the same plan scales to a 1000-executor corpus build."""
    width, stride, budget = 400, 300, 4096
    docs = load_table(spark, sf_dir, "documents").where(F.col("n_chars") >= 200)
    offsets = F.sequence(
        F.lit(0),
        F.greatest(
            F.ceil((F.col("n_chars") - width) / F.lit(float(stride))), F.lit(0)
        ).cast("int"),
    )
    piece = F.substring(F.col("text"), F.col("chunk_id") * stride + 1, width)
    chunks = (
        docs.select(
            "doc_id",
            "lang",
            "text",
            F.posexplode(offsets).alias("chunk_id", "_i"),
        )
        .select(
            "doc_id",
            "lang",
            "chunk_id",
            F.length(piece).cast("bigint").alias("chunk_len"),
            F.md5(piece).alias("chunk_hash"),
        )
        .where(F.col("chunk_len") >= 50)
    )
    w_dedup = Window.partitionBy("chunk_hash").orderBy(
        F.col("doc_id").asc(), F.col("chunk_id").asc()
    )
    uniq = (
        chunks.withColumn("rn", F.row_number().over(w_dedup))
        .where("rn = 1")
        .drop("rn")
    )
    w_pack = (
        Window.partitionBy("lang")
        .orderBy("doc_id", "chunk_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    binned = uniq.select(
        "lang",
        "doc_id",
        "chunk_len",
        (F.coalesce(F.sum("chunk_len").over(w_pack), F.lit(0)) / budget)
        .cast("bigint")
        .alias("bin_id"),
    )
    return binned.groupBy("lang", "bin_id").agg(
        F.count("*").alias("n_chunks"),
        F.sum("chunk_len").alias("bin_chars"),
        F.count_distinct("doc_id").alias("n_docs"),
    )


def q_sentence_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide sentence-level dedup with document reconstruction
    (C4/RefinedWeb-style boilerplate removal): split docs into
    sentences, keep only each sentence's FIRST corpus occurrence
    (hash + row_number, deterministic), then reassemble documents from
    their surviving sentences in order. One shuffle on sentence hash +
    one reduce back onto doc_id; reconstruction uses an order-preserving
    array_sort over (pos, sentence) structs, not a window."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    sents = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), "\\. ")).alias("pos", "sent"),
    ).where(F.length("sent") > 0)
    w = Window.partitionBy(F.md5(F.col("sent"))).orderBy(
        F.col("doc_id").asc(), F.col("pos").asc()
    )
    kept = sents.withColumn("rn", F.row_number().over(w)).where("rn = 1")
    return (
        kept.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_kept"),
            F.concat_ws(
                ". ",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col("sent")))
                    ),
                    lambda s: s["sent"],
                ),
            ).alias("clean_text"),
        )
        .select(
            "doc_id",
            F.col("n_kept").cast("bigint").alias("n_kept"),
            F.md5(F.col("clean_text")).alias("clean_hash"),
            F.length(F.col("clean_text")).cast("bigint").alias("clean_len"),
        )
    )


def q_c4_boilerplate_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level cleaning (§2.10): chunk each document into
    10-token lines, drop ragged tails and lines where > 20% of tokens
    are single characters (C4's short-token boilerplate heuristic),
    then rebuild the document and drop docs left with < 2 lines. All
    higher-order array functions — explode + slice + filter run inside
    whole-stage codegen, no Python."""
    line_w = 10
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    )
    chunks = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.floor((F.size("toks") - 1) / line_w).cast("int"),
                ),
                lambda i: F.slice(F.col("toks"), i * line_w + 1, line_w),
            )
        ).alias("pos", "line"),
    )
    kept = chunks.filter(
        (F.size("line") == line_w)
        & (
            F.size(F.filter(F.col("line"), lambda t: F.length(t) <= 1))
            <= int(line_w * 0.2)
        )
    )
    return (
        kept.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_lines_kept"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.flatten(
                        F.transform(
                            F.array_sort(
                                F.collect_list(F.struct("pos", "line"))
                            ),
                            lambda s: s["line"],
                        )
                    ),
                )
            ).alias("clean_hash"),
        )
        .filter(F.col("n_lines_kept") >= 2)
        .select(
            "doc_id",
            F.col("n_lines_kept").cast("bigint").alias("n_lines_kept"),
            "clean_hash",
        )
    )


def q_fuzzy_dedup_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy matching (§2.10 entity-dedup shape): candidate
    pairs come only from equality blocks (nation + name prefix), then
    edit distance confirms — the blocking keeps the pair space linear
    instead of O(n²), which is the only way fuzzy dedup survives at
    corpus scale. levenshtein is evaluated JVM-side on the blocked
    pairs."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        F.substring("c_name", 1, 12).alias("blk"),
    )
    a, b = c.alias("a"), c.alias("b")
    pairs = a.join(
        b,
        (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
        & (F.col("a.blk") == F.col("b.blk"))
        & (F.col("a.c_custkey") < F.col("b.c_custkey")),
    )
    close_pairs = pairs.filter(
        F.levenshtein(F.col("a.c_name"), F.col("b.c_name")) <= 2
    )
    return close_pairs.groupBy(F.col("a.c_nationkey").alias("nation")).agg(
        F.count("*").alias("n_fuzzy_pairs"),
        F.min(F.col("a.c_custkey")).alias("first_left"),
    )


def q_domain_mix_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain mixing (§2.10): rebalance the corpus toward a uniform
    per-language share by computing each language's keep-rate FROM the
    observed counts (rate = target/count, capped at 1), then applying
    it as a deterministic key-hash filter — the data-mixture step of
    training-set construction, with rates derived in-plan (one tiny
    aggregate broadcast back), not hand-configured. Stable across runs,
    partitionings, and engines."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count("*").alias("n_lang"))
    totals = counts.agg(
        F.sum("n_lang").alias("total"), F.count("*").alias("n_l")
    )
    rates = counts.join(F.broadcast(totals)).select(
        "lang",
        "n_lang",
        F.least(
            F.lit(1.0),
            (F.col("total").cast("double") / F.col("n_l"))
            / F.col("n_lang"),
        ).alias("rate"),
    )
    # Clamp the scaled threshold to 65535: for rate in [~0.999992, 1.0)
    # floor(rate*65536+0.5) = 65536, whose hex '10000' would be lpad-
    # truncated to '1000' and silently keep only ~1/16 of rows. Values
    # at the cap compare >= every 4-hex-digit prefix, i.e. keep-all.
    rates = rates.withColumn(
        "thr",
        F.when(F.col("rate") >= 1.0, F.lit("g")).otherwise(
            F.lower(
                F.lpad(
                    F.hex(
                        F.least(
                            F.lit(65535),
                            F.floor(
                                F.col("rate") * 65536.0 + F.lit(0.5)
                            ).cast("bigint"),
                        )
                    ),
                    4,
                    "0",
                )
            )
        ),
    )
    kept = d.join(F.broadcast(rates), "lang").filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
        < F.col("thr")
    )
    return kept.groupBy("lang").agg(
        F.max("n_lang").cast("bigint").alias("n_before"),
        F.count("*").alias("n_kept"),
        _fround(F.max("rate"), 4).alias("rate"),
    )


def q_lm_trigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 quality filter: per-doc mean log-prob under a corpus-
    trained per-language char-trigram LM, model + scoring in one plan
    (text/analysis.py::lm_trigram_score)."""
    from aproximacion_1_etl_spark.text.analysis import lm_trigram_score

    docs = load_table(spark, sf_dir, "documents")
    return lm_trigram_score(docs)


def _lm_counts_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SIMULATED persisted trigram-LM state over the existing
    corpus (doc_id % 4 != 0): the (lang, tri, c3) exact-count relation
    from text/analysis.py::lm_counts — ONE relation is the whole
    model (the prefix marginal derives from it). A registry artifact,
    eagerly checkpointed, so the maintenance key's number is the
    fold + batch-scoring cost."""

    def build() -> DataFrame:
        from aproximacion_1_etl_spark.text.analysis import lm_counts

        return lm_counts(
            _document_corpus(spark, sf_dir, "history")
        ).localCheckpoint(eager=True)

    return artifact(spark, sf_dir, "lm_counts_store", ["documents"], build)


def _lm_store_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The doc-id LEDGER paired with ``_lm_counts_store`` (r13,
    VERDICT r12 task 6): the ids of every document ever folded into
    the persisted LM state. In production this is the bucketed
    sidecar relation ``fold_lm_counts_guarded`` maintains next to the
    counts; here it is the store slice's ids read straight off the
    corpus (one column, probed only by batch-bounded broadcast
    semi-joins, so it needs no checkpoint)."""
    return (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 4 != 0)
        .select("doc_id")
    )


def q_incremental_lm_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 INCREMENTAL LANGUAGE-MODEL MAINTENANCE — the LM member
    of the maintained-state family (r11; next to the BM25, cluster,
    graph, profile, sample, and IVF stores): the daily batch
    (doc_id % 4 == 0) is trigram-counted ONCE and its counts fold
    into the persisted per-language model state through one additive
    full-outer merge (text/analysis.py::fold_lm_counts — c2 derives
    from c3, so one relation maintains the whole model); the batch's
    documents are then quality-scored THROUGH THE FOLDED MODEL via
    the exact scoring tail lm_trigram_score itself uses — the
    production shape: history trains, each day's arrivals get scored
    against the full-corpus statistics without a corpus rescan. Since
    r13 the fold routes through the DELIVERY-GUARDED form (VERDICT
    r12 task 6 — no query-code caller uses the raw additive merge any
    more): the batch anti-joins the store's doc-id ledger
    (_lm_store_ledger) before folding, so the exactly-once contract
    the raw merge merely documents is enforced in-plan; the
    pre-computed per-doc counts are passed through ``doc_counts`` so
    the batch still tokenizes exactly once. The DuckDB oracle trains
    the model from scratch over the FULL corpus and scores the same
    batch — hash equality proves fold == rebuild (the counts are
    exact integers; lp is one double division + ln)."""
    from aproximacion_1_etl_spark.text.analysis import (
        _doc_tri_counts,
        fold_lm_counts_guarded,
        lm_score_from_counts,
    )

    store = _lm_counts_store(spark, sf_dir)
    batch = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 4 == 0
    )
    batch_doc_counts = _doc_tri_counts(batch).localCheckpoint(
        eager=False
    )
    folded, _ledger = fold_lm_counts_guarded(
        store,
        _lm_store_ledger(spark, sf_dir),
        batch,
        doc_counts=batch_doc_counts,
    )
    return lm_score_from_counts(batch_doc_counts, folded)


def q_lm_index_forget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 LM DELETION — the RTBF edge of the maintained language
    model (r11; completes the LM pair next to the BM25/IVF/chunk/
    cluster deletion edges): an RTBF wave (doc_id % 5 == 0) is
    trigram-counted from its own text at delete time and SUBTRACTED
    from the persisted model state (text/analysis.py::
    forget_lm_counts — zero-count trigrams drop out, matching a
    retrain); the surviving corpus re-scores through the shrunk
    model via the shared scoring tail. The bring-to-full append
    routes through the delivery-guarded fold (r13, like
    q_incremental_lm_index — the raw merge has no query-code callers
    left). Oracle = train + score from scratch over the post-delete
    corpus — forget == rebuild."""
    from aproximacion_1_etl_spark.text.analysis import (
        _doc_tri_counts,
        fold_lm_counts_guarded,
        forget_lm_counts,
        lm_counts,
        lm_score_from_counts,
    )

    store = _lm_counts_store(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    # bring the store to full-corpus state first (the maintained
    # model after all appends), then forget the RTBF wave
    batch = docs.filter(F.col("doc_id") % 4 == 0)
    full_state, _ledger = fold_lm_counts_guarded(
        store, _lm_store_ledger(spark, sf_dir), batch
    )
    deleted = docs.filter(F.col("doc_id") % 5 == 0)
    shrunk = forget_lm_counts(full_state, lm_counts(deleted))
    remaining = docs.filter(F.col("doc_id") % 5 != 0)
    return lm_score_from_counts(_doc_tri_counts(remaining), shrunk)


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 retrieval: distributed BM25 top-10 per query-term set —
    in-plan index statistics, query-filtered before scoring
    (text/analysis.py::bm25_topk)."""
    from aproximacion_1_etl_spark.text.analysis import (
        BM25_QUERIES,
        bm25_topk,
    )

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, BM25_QUERIES, k=10)


def q_bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 tokenizer training: one BPE round — top adjacent char
    pairs, counted over DISTINCT words weighted by frequency (the
    Zipf trick that keeps the pair fan-out off the raw token stream;
    text/analysis.py::bpe_merge_pairs)."""
    from aproximacion_1_etl_spark.text.analysis import bpe_merge_pairs

    docs = load_table(spark, sf_dir, "documents")
    return bpe_merge_pairs(docs, k=30)


def q_incremental_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 incremental dedup: the daily-batch shape — only the NEW
    slice (doc_id % 4 = 0) is shingled/hashed, then banded-joined
    against the persisted corpus signature store (here built in-plan
    from the old slice; production appends each accepted batch's
    signatures). Returns LSH collisions with the minhash Jaccard
    estimate (text/dedup.py::incremental_minhash_dedup)."""
    from aproximacion_1_etl_spark.text.dedup import (
        incremental_minhash_dedup,
        minhash_signatures,
        word_shingles,
    )

    docs = load_table(spark, sf_dir, "documents")
    new_batch = docs.filter(F.col("doc_id") % 4 == 0)
    corpus_sigs = minhash_signatures(
        word_shingles(docs.filter(F.col("doc_id") % 4 != 0), distinct=False)
    )
    return incremental_minhash_dedup(new_batch, corpus_sigs)


def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 tokenizer training: the full iterative BPE merge loop —
    8 rounds of count-pairs / pick-top / greedy-merge over the
    frequency-weighted distinct-word relation, returning the learned
    merge table (text/analysis.py::bpe_train_merges)."""
    from aproximacion_1_etl_spark.text.analysis import bpe_train_merges

    docs = load_table(spark, sf_dir, "documents")
    return bpe_train_merges(docs, n_merges=8)


def q_bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 tokenizer application: train the 8-rule BPE merge table
    (memoized — see _trained_bpe_merges), bake it into the plan as
    literals, and tokenize the corpus — per-doc token budgets for
    packing/context-length stages (text/analysis.py::bpe_encode)."""
    from aproximacion_1_etl_spark.text.analysis import bpe_encode

    docs = load_table(spark, sf_dir, "documents")
    return bpe_encode(docs, _trained_bpe_merges(spark, sf_dir))


def q_training_batch_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 deterministic training-batch assignment: hash-order global
    index via two-phase distributed ranking (within-bucket rank +
    256-row offset window — NO single-task global sort window), cut
    into fixed-size batches (functions/sampling.py::
    pack_training_batches)."""
    from aproximacion_1_etl_spark.functions.sampling import (
        pack_training_batches,
    )

    docs = load_table(spark, sf_dir, "documents")
    return pack_training_batches(
        docs.select("doc_id", "lang"), "doc_id", batch_size=32
    )


def q_corpus_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 reproducibility primitive: order-insensitive Merkle-style
    corpus digest — (n_rows, fingerprint) changes iff any keyed row
    changes, built as bounded hex-prefix tree rollups (never one global
    collect; functions/profile.py::corpus_fingerprint)."""
    from aproximacion_1_etl_spark.functions.profile import (
        corpus_fingerprint,
    )

    docs = load_table(spark, sf_dir, "documents")
    return corpus_fingerprint(
        docs, "doc_id", ["text", "lang", "source", "n_chars"]
    )


def q_fingerprint_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 Merkle diff localization: compare the corpus against a
    deterministically mutated snapshot (doc 117 edited, doc 3 dropped)
    at the hex-prefix level — only disagreeing buckets surface, so two
    adjacent 100 TB snapshots compare by bucket digests, never row by
    row (functions/profile.py::fingerprint_diff)."""
    from aproximacion_1_etl_spark.functions.profile import (
        fingerprint_diff,
    )

    docs = load_table(spark, sf_dir, "documents")
    mutated = docs.filter(F.col("doc_id") != 3).withColumn(
        "text",
        F.when(F.col("doc_id") == 117, F.lit("tampered")).otherwise(
            F.col("text")
        ),
    )
    return fingerprint_diff(
        docs,
        mutated,
        "doc_id",
        ["text", "lang", "source", "n_chars"],
        prefix_len=2,
    )


def q_length_bucketed_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 padding-efficient batching: band documents by token-count
    (64-wide buckets), then cut each band into deterministic
    hash-ordered batches via the per-band two-phase index — homogeneous
    batch lengths without any single-task ranking
    (functions/sampling.py::length_bucketed_batches)."""
    from aproximacion_1_etl_spark.functions.sampling import (
        length_bucketed_batches,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
    )
    return length_bucketed_batches(
        docs, "doc_id", "n_tokens", batch_size=16, bucket_width=64
    )


def q_repeated_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 exact-substring dedup signal: content-defined sampled
    40-char gram hashes grouped across the corpus — verbatim boilerplate
    and templated spans surface even when whole-doc MinHash misses them
    (text/dedup.py::repeated_substrings)."""
    from aproximacion_1_etl_spark.text.dedup import repeated_substrings

    docs = load_table(spark, sf_dir, "documents")
    return repeated_substrings(docs, gram_len=40, sample_prefix_lt="4")


def q_temperature_mix_resample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """§2.10 temperature-based mixture sampling (the mT5/XLM-R α-
    sampling rule): language l's target share ∝ p_l^α with α=0.5 —
    upweights low-resource languages without flattening to uniform.
    Keep-rates derive in-plan from observed counts; α=0.5 is computed
    with sqrt, which IEEE 754 requires to be correctly rounded, so the
    rate arithmetic is bit-identical across engines (general α uses
    pow; 0.5 is the bit-exactness-guaranteed case). Same clamped
    md5-threshold filter as domain_mix_resample."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count("*").alias("n_lang"))
    totals = counts.agg(
        F.sum("n_lang").alias("total"),
        F.sum(F.sqrt(F.col("n_lang").cast("double"))).alias("sum_sqrt"),
    )
    rates = counts.join(F.broadcast(totals)).select(
        "lang",
        "n_lang",
        F.least(
            F.lit(1.0),
            (
                F.sqrt(F.col("n_lang").cast("double"))
                / F.col("sum_sqrt")
                * F.col("total").cast("double")
            )
            / F.col("n_lang"),
        ).alias("rate"),
    )
    rates = rates.withColumn(
        "thr",
        F.when(F.col("rate") >= 1.0, F.lit("g")).otherwise(
            F.lower(
                F.lpad(
                    F.hex(
                        F.least(
                            F.lit(65535),
                            F.floor(
                                F.col("rate") * 65536.0 + F.lit(0.5)
                            ).cast("bigint"),
                        )
                    ),
                    4,
                    "0",
                )
            )
        ),
    )
    kept = d.join(F.broadcast(rates), "lang").filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
        < F.col("thr")
    )
    return kept.groupBy("lang").agg(
        F.max("n_lang").cast("bigint").alias("n_before"),
        F.count("*").alias("n_kept"),
        _fround(F.max("rate"), 4).alias("rate"),
    )


def q_doc_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 curation metric: per-doc novelty = fraction of its
    distinct word-3-grams that occur in NO other document. Novel-
    content selection is the inverse of dedup: sampling high-novelty
    docs raises corpus diversity per token. Shape: one shingle
    explode, a df count per shingle (shuffle on the high-cardinality
    shingle key), and a join back — the same key distribution as the
    MinHash pipeline, so skew behavior is identical."""
    docs = load_table(spark, sf_dir, "documents")
    sh = word_shingles(docs, n=3, distinct=True)
    df_counts = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    joined = sh.join(df_counts, "shingle")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_unique"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_unique",
            _fround(
                F.col("n_unique").cast("double") / F.col("n_grams"), 4
            ).alias("novelty"),
        )
    )


def q_corpus_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 pipeline observability: how many documents survive each
    cleaning stage, as cumulative conjunctions computed in ONE scan —
    raw -> length band -> known language -> quality floor -> exact-
    content unique. The funnel is the report every corpus-construction
    run ships next to its output; stage predicates reuse the exact
    expressions of the cleaning operators so the counts cannot drift
    from the real pipeline."""
    from pyspark.sql import Window

    from aproximacion_1_etl_spark.text.analysis import (
        lang_id,
        quality_score,
    )
    from aproximacion_1_etl_spark.text.dedup import normalized

    d = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    # stage predicates evaluated map-side at full width BEFORE the
    # content-hash window shuffle: the scan is one small-bytes parquet
    # split and the window's reduce side coalesces to 1-2 tasks, so
    # computing the regex-heavy flags there serialized them
    pre = d.repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    ).select(
        "doc_id",
        (F.length(t) >= 100).alias("len_ok"),
        (lang_id(t) != "und").alias("lang_ok"),
        (quality_score(t) >= 0.5).alias("quality_ok"),
        F.sha2(normalized(t), 256).alias("_ch"),
    )
    w = Window.partitionBy("_ch").orderBy("doc_id")
    flags = pre.select(
        "len_ok",
        "lang_ok",
        "quality_ok",
        (F.row_number().over(w) == 1).alias("first_of_content"),
    )
    agg = flags.agg(
        F.count("*").alias("raw"),
        F.sum(F.when(F.col("len_ok"), 1).otherwise(0)).alias("s1"),
        F.sum(
            F.when(F.col("len_ok") & F.col("lang_ok"), 1).otherwise(0)
        ).alias("s2"),
        F.sum(
            F.when(
                F.col("len_ok") & F.col("lang_ok") & F.col("quality_ok"), 1
            ).otherwise(0)
        ).alias("s3"),
        F.sum(
            F.when(
                F.col("len_ok")
                & F.col("lang_ok")
                & F.col("quality_ok")
                & F.col("first_of_content"),
                1,
            ).otherwise(0)
        ).alias("s4"),
    )
    return agg.select(
        F.expr(
            "stack(5, 'raw', raw, 'length_band', s1, 'known_lang', s2, "
            "'quality_floor', s3, 'content_unique', s4) "
            "AS (stage, n_docs)"
        )
    ).select("stage", F.col("n_docs").cast("bigint").alias("n_docs"))


def q_winnowed_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 winnowing (MOSS) fingerprint dedup: sliding-window minima
    over gram hashes — GUARANTEED detection of any verbatim span >=
    gram_len + window - 1 chars, vs the probabilistic mod-p sampling
    of repeated_substrings (text/dedup.py::winnowed_fingerprints)."""
    from aproximacion_1_etl_spark.text.dedup import winnowed_fingerprints

    docs = load_table(spark, sf_dir, "documents")
    return winnowed_fingerprints(docs, gram_len=30, window=8)


def q_domain_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 URL/domain filtering (the C4/RefinedWeb source-blocklist
    stage): a host matches a rule iff the rule equals the host or any
    label-boundary SUFFIX of it ("example.com" blocks every
    subdomain) — string contains/endswith would false-positive on
    "notexample.com". The suffix chain is built per-row
    (split -> transform -> slice) and matched against the blocklist as
    PLAN LITERALS via array_intersect: fully narrow, zero shuffles,
    composes with the scan. For blocklists too large to inline,
    explode the same suffix chain and broadcast-join the rule table —
    identical semantics, one broadcast."""
    d = load_table(spark, sf_dir, "documents")
    host = F.concat(F.col("source"), F.lit(".example.com"))
    parts = F.split(host, "\\.")
    suffixes = F.transform(
        F.sequence(F.lit(0), F.size(parts) - 1),
        lambda i: F.concat_ws(
            ".", F.slice(parts, i + 1, F.size(parts) - i)
        ),
    )
    rules = F.array(*[F.lit(r) for r in sorted(BLOCKLIST_DOMAINS)])
    matched = F.array_sort(F.array_intersect(suffixes, rules))
    return d.select(
        "doc_id",
        host.alias("host"),
        (F.size(matched) > 0).alias("blocked"),
        F.when(
            F.size(matched) > 0, F.element_at(matched, 1)
        ).alias("matched_rule"),
    )


def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 corpus statistics: vocabulary growth (Heaps-law) curve —
    per document (in doc_id order), how many word-3-grams are NEW and
    the cumulative distinct vocabulary so far. The curve's flattening
    is the classic "more of the same" saturation signal corpus
    curation watches. Shape: each gram's first-occurrence doc via one
    groupBy min, counts per first-doc, and a running sum over the
    per-doc relation (corpus-sized rows only in the first two keyed
    aggregations; the window runs over |docs| rows)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    sh = word_shingles(docs, n=3, distinct=True)
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    per_doc = first.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count("*").cast("bigint").alias("new_grams")
    )
    spine = docs.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("new_grams", F.lit(0)).cast("bigint").alias("new_grams"),
    )
    # Two-phase running sum (same pattern as deterministic_global_index):
    # a bare ORDER BY doc_id window is one task over the whole corpus.
    # Bucket by doc_id ranges — order-aligned with doc_id, so
    # bucket-offset + in-bucket running sum == the global prefix sum —
    # and the offsets window runs over |docs|/65536 rows (re-apply the
    # same split once more if even that is too large).
    bucketed = spine.withColumn("b", F.expr("doc_id div 65536"))
    wb = Window.partitionBy("b").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    inb = bucketed.withColumn("run_in_b", F.sum("new_grams").over(wb))
    wo = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    off = (
        bucketed.groupBy("b")
        .agg(F.sum("new_grams").alias("nb"))
        .select("b", F.coalesce(F.sum("nb").over(wo), F.lit(0)).alias("off"))
    )
    return (
        inb.join(F.broadcast(off), "b")
        .select(
            "doc_id",
            "new_grams",
            (F.col("run_in_b") + F.col("off")).cast("bigint").alias(
                "cum_vocab"
            ),
        )
    )


def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 classifier evaluation artifact: confusion matrix of the
    heuristic language-ID against the labeled ``lang`` column, with
    per-true-language recall — the calibration report any quality
    gate built on lang_id needs before filtering by it. One scan, one
    keyed aggregation."""
    from aproximacion_1_etl_spark.text.analysis import lang_id

    d = load_table(spark, sf_dir, "documents")
    cm = d.groupBy(
        F.col("lang").alias("true_lang"),
        lang_id(F.col("text")).alias("pred_lang"),
    ).agg(F.count("*").cast("bigint").alias("n"))
    tot = cm.groupBy("true_lang").agg(F.sum("n").alias("n_true"))
    return cm.join(tot, "true_lang").select(
        "true_lang",
        "pred_lang",
        "n",
        _fround(
            F.col("n").cast("double") / F.col("n_true"), 4
        ).alias("frac_of_true"),
    )


def q_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 dedup observability: per source — document count, docs
    that are exact-content duplicates (normalized-hash group size > 1),
    and docs swept into a near-dup cluster as non-keepers. The
    per-source attribution is what turns a dedup pass into an
    actionable report (which feed is flooding the corpus with copies).
    Reuses the exact operators' expressions and the MinHash-LSH
    cluster pipeline, so the report cannot drift from the real dedup
    decisions."""
    from pyspark.sql import Window

    from aproximacion_1_etl_spark.text.dedup import normalized

    d = load_table(spark, sf_dir, "documents")
    # content hash computed map-side at full width (the single
    # small-bytes scan split would otherwise serialize it)
    dp = spark.sparkContext.defaultParallelism
    wch = Window.partitionBy("_ch")
    flags = (
        d.repartition(dp, "doc_id")
        .select(
            "doc_id",
            "source",
            F.sha2(normalized(F.col("text")), 256).alias("_ch"),
        )
        .select(
            "doc_id",
            "source",
            (F.count("*").over(wch) > 1).alias("is_exact_dup"),
        )
    )
    sigs = minhash_signatures(word_shingles(d, distinct=False))
    cands = minhash_candidate_pairs(sigs, min_matching_bands=2)
    dropped = dedup_clusters(cands).filter(~F.col("keep")).select(
        "doc_id", F.lit(True).alias("is_near_dup_drop")
    )
    joined = flags.join(F.broadcast(dropped), "doc_id", "left")
    return joined.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("is_exact_dup"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_exact_dup"),
        F.sum(
            F.when(F.coalesce("is_near_dup_drop", F.lit(False)), 1).otherwise(
                0
            )
        )
        .cast("bigint")
        .alias("n_near_dup_dropped"),
    )


def q_corpus_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 capstone composite — the corpus RELEASE job end-to-end in
    one plan: quality gate (length band, known language, quality
    floor), exact-content dedup (keep first), leakage-safe
    cluster-aware train/val/test split over the survivors, and the
    per-split manifest (docs / whitespace tokens / chars) a training
    run consumes. Every stage reuses the production operator
    expressions, so the release manifest value-checks against the
    composed oracle end-to-end."""
    from pyspark.sql import Window

    from aproximacion_1_etl_spark.text.analysis import (
        lang_id,
        quality_score,
        token_count,
    )
    from aproximacion_1_etl_spark.text.dedup import (
        cluster_safe_split,
        normalized,
    )

    d = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    dp = spark.sparkContext.defaultParallelism
    # Evaluate the expensive per-row gate expressions (lang_id /
    # quality_score regexes) MAP-SIDE at full width, as a carried
    # boolean: the documents scan is one small-bytes parquet split and
    # the content-hash window's post-shuffle side AQE-coalesces to 1-2
    # tasks, so expressed as a post-window filter the regexes ran
    # nearly serially. The gate predicate itself is unchanged — it is
    # still ANDed with rn == 1 after the window.
    flagged = d.repartition(dp, "doc_id").withColumn(
        "_gate",
        (F.length(t) >= 100)
        & (lang_id(t) != "und")
        & (quality_score(t) >= 0.5),
    )
    wch = Window.partitionBy(F.sha2(normalized(t), 256)).orderBy("doc_id")
    clean = (
        flagged.withColumn("rn", F.row_number().over(wch))
        .filter(F.col("_gate") & (F.col("rn") == 1))
        .drop("rn", "_gate")
    )
    # materialize the cleaned corpus once: the shingle/split branch
    # and the final manifest join otherwise each replay the quality
    # gate + content-hash dedup window (a real release job writes the
    # cleaned corpus at this point anyway). Re-keyed to doc_id at full
    # width first, so the manifest's token_count pass and the split
    # join downstream run wide instead of on the window's coalesced
    # 1-2 post-shuffle partitions.
    clean = clean.repartition(dp, "doc_id").localCheckpoint()
    sigs = minhash_signatures(word_shingles(clean, distinct=False))
    cands = minhash_candidate_pairs(sigs, min_matching_bands=2)
    split = cluster_safe_split(
        clean, cands, {"train": 0.8, "val": 0.1, "test": 0.1}
    ).select("doc_id", "split")
    return (
        clean.join(split, "doc_id")
        .groupBy("split")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(token_count(t).cast("bigint"))
            .cast("bigint")
            .alias("n_tokens"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
        )
    )


def q_token_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 mixture planning: allocate a total token budget (50% of
    the corpus) across sources by sqrt-weighted shares with one
    waterfill redistribution round — small sources are upweighted
    (sqrt flattening), no source is asked for more tokens than it
    has, and budget freed by capped sources flows to the others in
    proportion to headroom. Complements domain_mix_resample /
    temperature_mix_resample (which SAMPLE) by producing the PLAN
    (per-source allocations + epoch factors) a run config consumes.

    Shape: one corpus aggregation to |sources| rows, then scalar
    arithmetic on broadcast 1-row aggregates of that tiny relation —
    at 100 TB the only data-sized work is the first token count.
    Allocations snap to 6 decimals before the final floor so the
    cross-engine 1e-15 decimal-cast jitter can't flip an integer
    boundary."""
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.sum(F.size(F.split(F.trim("text"), r"\s+")))
        .cast("bigint")
        .alias("tokens")
    )
    # All corpus-wide scalars come from WINDOWS over the tiny
    # per-source relation, not crossJoin-of-aggregates: each
    # crossJoin(agg(per)) re-derives `per` — and with it the corpus
    # scan — once per reference (the first cut of this query scanned
    # documents 4x / 7 exchanges; this shape scans once / 2). The
    # unpartitioned window moves |sources| rows to one task — bounded
    # by the source count, not the corpus.
    w0 = Window.partitionBy()
    staged = per.select(
        "source",
        "tokens",
        (
            F.sum("tokens").over(w0) - (F.sum("tokens").over(w0) % 2)
        ).alias("b2"),
        F.sqrt(F.col("tokens").cast("double")).alias("sq"),
        F.sum(
            F.sqrt(F.col("tokens").cast("double")).cast("decimal(38,18)")
        )
        .over(w0)
        .cast("double")
        .alias("sum_sqrt"),
    )
    first = staged.select(
        "source",
        "tokens",
        "b2",
        F.least(
            F.col("tokens").cast("double"),
            F.col("sq") / F.col("sum_sqrt") * (F.col("b2") / 2),
        ).alias("alloc1"),
    ).withColumn(
        "headroom", F.col("tokens").cast("double") - F.col("alloc1")
    )
    redo = first.select(
        "source",
        "tokens",
        "b2",
        "alloc1",
        "headroom",
        F.sum(F.col("alloc1").cast("decimal(38,18)"))
        .over(w0)
        .cast("double")
        .alias("sum_a1"),
        F.sum(F.col("headroom").cast("decimal(38,18)"))
        .over(w0)
        .cast("double")
        .alias("sum_hr"),
    )
    final = redo.select(
        "source",
        "tokens",
        F.least(
            F.col("tokens").cast("double"),
            F.col("alloc1")
            + (F.col("b2") / 2 - F.col("sum_a1"))
            * F.col("headroom")
            / F.col("sum_hr"),
        ).alias("alloc2"),
    )
    return final.select(
        "source",
        "tokens",
        F.floor(
            F.floor(F.col("alloc2") * 1e6 + F.lit(0.5)) / F.lit(1e6)
        )
        .cast("bigint")
        .alias("alloc_tokens"),
        _fround(
            F.floor(F.floor(F.col("alloc2") * 1e6 + F.lit(0.5)) / F.lit(1e6))
            / F.col("tokens").cast("double"),
            6,
        ).alias("epochs"),
    )


def q_naive_bayes_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 trained text classification: multinomial Naive Bayes over
    whitespace tokens, trained AND applied in one logical plan
    (resubstitution eval), emitting the confusion matrix — the trained
    complement of the heuristic lang_confusion key.

    score(d, l) = ln(prior_l) - |d| * ln(t_l + V)
                + sum_{tok in d} ln(c_{l,tok} + 1)

    The absent-token smoothing term ln(1) = 0 vanishes, so the
    per-(doc, lang) sum needs ONLY the inner join of doc-token
    instances with the present (lang, tok) counts — no dense
    vocab x lang grid ever materializes; the doc x lang score grid
    (|docs| x |langs|) comes from a broadcast join with the 5-row
    language stats. Decimal-cast sums of per-instance ln values keep
    scores order-independent; ranking rounds to 9 dp so sub-ulp ln()
    differences between engines can't flip the argmax."""
    docs = load_table(spark, sf_dir, "documents")
    dp = spark.sparkContext.defaultParallelism
    toks = (
        docs.repartition(dp, F.col("doc_id"))
        .select(
            "doc_id",
            F.col("lang").alias("true_lang"),
            F.explode(
                F.split(F.lower(F.trim("text")), r"\s+")
            ).alias("tok"),
        )
        .filter(F.length("tok") > 0)
    )
    # ONE tokenization pass: model, per-doc token counts and the
    # scoring join all read the materialized token relation — without
    # the cut the explode replays once per branch (14 scans audited;
    # re-tokenizing a 100 TB corpus three times is the bm25-class
    # mistake this engine already fixed once).
    toks = toks.localCheckpoint()
    model = toks.groupBy(
        F.col("true_lang").alias("l"), "tok"
    ).agg(F.count("*").alias("c"))
    lang_tot = model.groupBy("l").agg(F.sum("c").alias("t"))
    vocab = model.select("tok").distinct().agg(
        F.count("*").alias("v")
    )
    priors = docs.groupBy(F.col("lang").alias("l")).agg(
        F.count("*").alias("nd")
    )
    n_docs = docs.agg(F.count("*").alias("n_all"))
    lstats = (
        lang_tot.join(priors, "l")
        .crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "l",
            (
                F.log(F.col("nd").cast("double") / F.col("n_all"))
            ).alias("lprior"),
            F.log((F.col("t") + F.col("v")).cast("double")).alias(
                "ldenom"
            ),
        )
    )
    ntok = toks.groupBy("doc_id", "true_lang").agg(
        F.count("*").alias("nt")
    )
    ssum = (
        toks.join(model, "tok")
        .groupBy("doc_id", "l")
        .agg(
            F.sum(
                F.log((F.col("c") + F.lit(1)).cast("double")).cast(
                    "decimal(38,18)"
                )
            )
            .cast("double")
            .alias("s")
        )
    )
    grid = ntok.crossJoin(F.broadcast(lstats))
    scored = grid.join(ssum, ["doc_id", "l"], "left").select(
        "doc_id",
        "true_lang",
        "l",
        _fround(
            F.col("lprior")
            - F.col("nt").cast("double") * F.col("ldenom")
            + F.coalesce(F.col("s"), F.lit(0.0)),
            9,
        ).alias("score"),
    )
    wd = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("l").asc()
    )
    pred = (
        scored.withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") == 1)
        .select("true_lang", F.col("l").alias("pred_lang"))
    )
    return pred.groupBy("true_lang", "pred_lang").agg(
        F.count("*").cast("bigint").alias("n")
    )


def q_vocab_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 corpus-diversity metric: Gini coefficient of the token
    frequency distribution per language — a high Gini means a few
    tokens dominate (template/boilerplate-heavy text), a key
    diversity signal next to entropy. Exact rank formula
    G = 2 * sum(i * x_(i)) / (n * sum(x)) - (n + 1) / n over the
    per-language count-ascending ranking (ordered per-lang windows,
    partitions bounded by per-language vocabulary); sums in decimal."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("tok"),
    ).filter(F.length("tok") > 0)
    counts = toks.groupBy("lang", "tok").agg(F.count("*").alias("c"))
    wl = Window.partitionBy("lang").orderBy(
        F.col("c").asc(), F.col("tok").asc()
    )
    ranked = counts.withColumn("i", F.row_number().over(wl))
    return (
        ranked.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("vocab"),
            F.sum(F.col("c").cast("decimal(38,18)"))
            .cast("double")
            .alias("total"),
            F.sum((F.col("i") * F.col("c")).cast("decimal(38,18)"))
            .cast("double")
            .alias("ic"),
        )
        .select(
            "lang",
            "vocab",
            _fround(
                F.lit(2.0)
                * F.col("ic")
                / (F.col("vocab").cast("double") * F.col("total"))
                - (F.col("vocab") + F.lit(1)).cast("double")
                / F.col("vocab").cast("double"),
                6,
            ).alias("gini"),
        )
    )


def q_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard-threshold set-similarity self-join via PREFIX
    FILTERING (the PPJoin family's core idea) — the deterministic
    complement to MinHash-LSH: candidates come only from docs sharing
    a token in their RARITY-ORDERED PREFIX (first n - ceil(t*n) + 1
    tokens, rarest first), which provably loses NO pair with Jaccard
    >= t (two sets overlapping that much must collide inside either
    prefix), then the exact intersection verifies. LSH trades recall
    for speed; this trades nothing and still never goes O(n²): the
    candidate join runs over prefix tokens only WITHIN a (lang,
    source) block — the realistic intra-source near-dup sweep
    (cross-source discovery is dedup_minhash_lsh's job), which also
    caps any one token bucket at its block's population — and rarity
    ordering makes prefix tokens the LOW-frequency ones, so bucket
    sizes stay small where frequency-blind blocking would explode on
    stopwords. Tokens sort by per-doc (global_freq, token) with no
    global rank table materialized; this synthetic corpus is
    template-generated (docs share most vocabulary), the WORST case
    for similarity joins — the measured key demonstrates the pruning
    holds even there."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    return prefix_filter_pairs(docs, t=0.9)


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 corpus-statistics screening: per-language Zipf-law fit —
    OLS of ln(frequency) on ln(rank) over the top-100 token ranks plus
    the full type count. Complements vocab_growth (Heaps) and
    vocab_gini: the slope (~-1 for natural text) is the standard
    generated-vs-natural screen for LLM corpus intake. One token
    explode, one count aggregation, one |types|-per-lang window for
    ranks, decimal-cast ln sums so the 100-term OLS is
    order-independent and engine-identical."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang",
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
        ).alias("tok"),
    )
    counts = toks.groupBy("lang", "tok").agg(
        F.count("*").cast("bigint").alias("n")
    )
    ranked = counts.withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("lang").orderBy(
                F.col("n").desc(), F.col("tok")
            )
        ),
    )
    top = 100
    x = F.log(F.col("rank").cast("double"))
    y = F.log(F.col("n").cast("double"))

    def dsum(e):
        return F.sum(
            F.when(F.col("rank") <= top, e).cast("decimal(38,18)")
        ).cast("double")

    g = ranked.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_types"),
        F.sum((F.col("rank") <= top).cast("int"))
        .cast("double")
        .alias("m"),
        dsum(x).alias("sx"),
        dsum(y).alias("sy"),
        dsum(x * x).alias("sxx"),
        dsum(x * y).alias("sxy"),
        dsum(y * y).alias("syy"),
    )
    cov = F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("m") * F.col("syy") - F.col("sy") * F.col("sy")
    return g.select(
        "lang",
        "n_types",
        _fround(cov / varx, 4).alias("zipf_slope"),
        _fround(cov * cov / (varx * vary), 4).alias("r2"),
    )


def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 POSITIONAL phrase search (the exact-phrase complement to
    the bag-of-words inverted index / BM25): a positional posting list
    (token, doc, pos) answers exact-phrase queries by a postings
    SELF-JOIN on (doc, pos+1) — the classic IR phrase plan, no
    re-scan of raw text per query. The query set here is the corpus's
    own top-5 bigrams (deterministic (count DESC, a, b) pick), so the
    whole pipeline — index build, query selection, phrase match — is
    one declarative plan. Join keys carry (token, doc, pos) only; at
    100 TB the postings relation is the bucketed asset every phrase
    query reuses."""
    docs = load_table(spark, sf_dir, "documents")
    post = docs.select(
        "doc_id",
        F.posexplode(
            F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
        ).alias("pos", "tok"),
    )
    big = (
        post.alias("a")
        .join(
            post.alias("b"),
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("b.pos") == F.col("a.pos") + 1),
        )
        .select(
            F.col("a.tok").alias("tok_a"),
            F.col("b.tok").alias("tok_b"),
            F.col("a.doc_id").alias("doc_id"),
        )
    )
    counts = big.groupBy("tok_a", "tok_b").agg(
        F.count("*").cast("bigint").alias("n_occurrences"),
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
    )
    # distributed top-k before the rank window: the |bigrams|
    # aggregate is TakeOrdered'd to 5 rows, never single-task sorted
    top5 = counts.orderBy(
        F.col("n_occurrences").desc(),
        F.col("tok_a").asc(),
        F.col("tok_b").asc(),
    ).limit(5)
    w_top = Window.orderBy(
        F.col("n_occurrences").desc(),
        F.col("tok_a").asc(),
        F.col("tok_b").asc(),
    )
    return (
        top5.withColumn("rank", F.row_number().over(w_top))
        .select(
            F.concat_ws(" ", "tok_a", "tok_b").alias("phrase"),
            "n_docs",
            "n_occurrences",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def q_bpe_fertility_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 tokenizer-quality report: per-language FERTILITY
    (tokens per word) and compression (chars per token) of the trained
    BPE tokenizer — the standard multi-lingual tokenizer-evaluation
    cut (a language with high fertility pays more context budget per
    word). Aggregates the SAME bpe_encode per-doc budgets the packing
    stages consume (one extra |docs| join + one aggregation); every
    total is an exact integer sum, each ratio one IEEE division."""
    from aproximacion_1_etl_spark.text.analysis import bpe_encode

    docs = load_table(spark, sf_dir, "documents")
    enc = bpe_encode(docs, _trained_bpe_merges(spark, sf_dir))
    j = enc.join(docs.select("doc_id", "lang"), "doc_id")
    return j.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("total_words"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        _fround(
            F.sum("n_tokens").cast("double")
            / F.sum("n_words").cast("double"),
            4,
        ).alias("fertility"),
        _fround(
            F.sum("n_chars").cast("double")
            / F.sum("n_tokens").cast("double"),
            4,
        ).alias("chars_per_token"),
    )


def q_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 cross-SOURCE vocabulary overlap: pairwise Jaccard of the
    per-source token vocabularies — the corpus-mixing diagnostic
    (two sources with near-identical vocabularies add less diversity
    than their row counts suggest). The token explode aggregates to
    (token, sorted source set) ONCE; pairs are generated map-side from
    each token's source array (the basket-pair iterator — bounded by
    |sources|²/2 per token, never a vocab self-join); |A∪B| =
    |A|+|B|-|A∩B| from exact integer vocab sizes."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
        ).alias("tok"),
    ).distinct()
    # the distinct (source, token) relation feeds both the vocab sizes
    # and the per-token source sets — one explode+distinct, not two
    toks = toks.localCheckpoint(eager=True)
    sizes = toks.groupBy("source").agg(
        F.count("*").cast("bigint").alias("vocab")
    )
    tok_srcs = toks.groupBy("tok").agg(
        F.sort_array(F.collect_set("source")).alias("ss")
    ).filter(F.size("ss") >= 2)
    pairs = tok_srcs.select(
        array_combinations("ss", "src_a", "src_b").alias("pr")
    ).select("pr.src_a", "pr.src_b")
    inter = pairs.groupBy("src_a", "src_b").agg(
        F.count("*").cast("bigint").alias("n_common")
    )
    sa = sizes.select(
        F.col("source").alias("src_a"), F.col("vocab").alias("va")
    )
    sb = sizes.select(
        F.col("source").alias("src_b"), F.col("vocab").alias("vb")
    )
    j = inter.join(F.broadcast(sa), "src_a").join(
        F.broadcast(sb), "src_b"
    )
    return j.select(
        "src_a",
        "src_b",
        "n_common",
        (F.col("va") + F.col("vb") - F.col("n_common")).alias("n_union"),
        _fround(
            F.col("n_common").cast("double")
            / (
                F.col("va") + F.col("vb") - F.col("n_common")
            ).cast("double"),
            6,
        ).alias("jaccard"),
    )


__all__ = [
    "q_top_tokens_per_lang",
    "q_udtf_sentences",
    "q_rolling_hash_fingerprint",
    "q_dedup_exact",
    "q_dedup_minhash_lsh",
    "q_corpus_clean",
    "q_dedup_simhash",
    "q_ngram_jaccard",
    "q_containment_dedup",
    "q_lsh_band_plan",
    "q_text_profile",
    "q_tfidf_top_terms",
    "q_repetition_profile",
    "q_decontaminate",
    "q_length_histogram",
    "q_near_dup_verified",
    "q_dup_clusters",
    "q_dup_clusters_forget",
    "q_incremental_dup_clusters",
    "_dup_cluster_store",
    "q_incremental_bm25_index",
    "_bm25_index_store",
    "q_inverted_index",
    "q_chunk_documents",
    "q_semantic_chunking",
    "q_curriculum_order",
    "q_chunk_retrieval_spans",
    "q_chunk_ann_retrieval",
    "q_chunk_hybrid_retrieval",
    "q_chunk_ann_recall",
    "_chunk_vector_index",
    "_chunk_index_store",
    "_full_chunk_bm25_store",
    "q_incremental_chunk_index",
    "q_bm25_index_forget",
    "q_chunk_index_forget",
    "q_incremental_lm_index",
    "q_lm_index_forget",
    "_lm_counts_store",
    "_lm_store_ledger",
    "q_pack_sequences",
    "q_token_entropy",
    "q_bigram_pmi",
    "q_corpus_to_sequences",
    "q_sentence_dedup",
    "q_c4_boilerplate_filter",
    "q_fuzzy_dedup_blocked",
    "q_domain_mix_resample",
    "q_lm_trigram_score",
    "q_bm25_topk",
    "q_bpe_merge_pairs",
    "q_incremental_near_dup",
    "q_bpe_train_merges",
    "q_bpe_encode_corpus",
    "q_training_batch_pack",
    "q_corpus_fingerprint",
    "q_fingerprint_diff",
    "q_length_bucketed_batches",
    "q_repeated_substrings",
    "q_temperature_mix_resample",
    "q_doc_novelty",
    "q_corpus_funnel",
    "q_winnowed_duplicates",
    "q_domain_blocklist_filter",
    "q_vocab_growth",
    "q_lang_confusion",
    "q_dedup_rate_by_source",
    "q_corpus_release",
    "q_token_budget_plan",
    "q_naive_bayes_lang",
    "q_vocab_gini",
    "q_prefix_filter_join",
    "q_zipf_fit",
    "q_phrase_search",
    "q_bpe_fertility_stats",
    "q_source_vocab_overlap",
]
