"""Similarity search over embedding columns (SURVEY.md §2.10).

Operates on the ``embeddings`` table (vec_id, embedding array<float>,
label). Every search is candidate generation followed by an exact
re-rank:

- **brute force** (``ann_topk_bruteforce``) — exact baseline: broadcast
  the (small) query set against the corpus, dot product via
  higher-order functions (``zip_with`` + ``aggregate``: JVM-side, no
  UDF, no data movement beyond the broadcast). ``l2_topk_exact`` is its
  squared-L2 sibling, the truth PQ is measured against.
- **LSH** (``ann_topk_lsh``, ``ann_topk_lsh_multiprobe``) —
  random-hyperplane signs bucket vectors; candidates share a (table,
  bucket) with the query or with one of its 1-bit flips. Turns
  O(Q x N) into O(Q x N / 2^planes x tables) at a recall cost.
- **IVF** (``ann_topk_ivf``, ``ann_topk_ivf_queries``) — a trained
  coarse codebook assigns every corpus row a cell (``ivf_index``);
  only the ``nprobe`` cells nearest each query are scored.
- **PQ** (``ann_topk_pq``) — per-subspace codebooks encode each row as
  a few small ints; rows are scored through per-query distance
  tables (ADC), never through their vectors.
- **IVF-PQ** (``ann_topk_ivfpq``) — IVF probing, then ADC within the
  probed cells.

Shared primitives, each defined once: ``_topk`` (the per-query
ranking, ties to the lower id), ``_lsh_topk`` (both LSH searches),
``_dist_structs_sql`` (the codebook-distance expression), ``ivf_index``
(the corpus cell assignment), ``_ivf_probes`` (the query probe order),
``_pq_subspace_sql`` / ``_pq_code_sql`` (the PQ code) and
``_pq_dist_tables`` / ``_adc_sql`` (the ADC distance table and sum).

Determinism: hyperplane components come from md5 of (table, plane, dim)
— no RNG, reproducible across runs and engines.
"""

from __future__ import annotations

import math
from typing import NamedTuple

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from aproximacion_1_etl_spark.functions.rounding import _fround


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine_sim(a: Column, b: Column) -> Column:
    """Cosine similarity between two array<double> columns."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def _as_double(df: DataFrame, vec_col: str) -> DataFrame:
    return df.withColumn(vec_col, F.col(vec_col).cast("array<double>"))


def _corpus_queries(
    corpus: DataFrame, query_ids: list[int], id_col: str, vec_col: str
) -> DataFrame:
    """The (query_id, qvec) rows of a search whose queries are corpus
    rows."""
    return corpus.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )


def _topk(
    scored: DataFrame,
    k: int,
    id_col: str,
    score: str,
    descending: bool,
    out: str | None,
) -> DataFrame:
    """The ONE top-k ranking of every search here: per query_id, order
    the scored (query_id, <id_col>, <score>) relation by ``score``
    (descending for a similarity, ascending for a distance) with ties
    to the lower id, and keep rank <= k. ``score`` arrives already
    rounded, so the order is engine-portable. The output carries the
    score at 4 dp as ``out`` (``None`` drops it) and the bigint rank:
    (query_id, <id_col>, [out], rank)."""
    order = F.col(score).desc() if descending else F.col(score).asc()
    w = Window.partitionBy("query_id").orderBy(order, F.col(id_col).asc())
    kept = [] if out is None else [_fround(F.col(score), 4).alias(out)]
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            id_col,
            *kept,
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


def _cosine_rerank(
    cand: DataFrame, k: int, id_col: str, vec_col: str
) -> DataFrame:
    """The exact re-rank of the cosine searches: cosine of every
    (query_id, qvec, <id_col>, <vec_col>) candidate, rounded to 9
    decimals before ordering so ties are decided by id, independent of
    float summation order. Output (query_id, <id_col>, cos_sim, rank)."""
    scored = cand.select(
        "query_id",
        id_col,
        _fround(cosine_sim(F.col("qvec"), F.col(vec_col)), 9).alias("cos_sim"),
    )
    return _topk(scored, k, id_col, "cos_sim", True, "cos_sim")


def ann_topk_bruteforce(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query vector.

    The query side is tiny => broadcast nested-loop join (no shuffle of
    the corpus). Ranking: round cosine to 9 decimals before ordering so
    ties are decided by vec_id, deterministically, independent of float
    summation order. Output (query_id, vec_id, cos_sim, rank).
    """
    emb = _as_double(embeddings, vec_col)
    queries = _corpus_queries(emb, query_ids, id_col, vec_col)
    pairs = emb.join(F.broadcast(queries), F.col(id_col) != F.col("query_id"))
    return _cosine_rerank(pairs, k, id_col, vec_col)


def _hyperplane(table: int, plane: int, dim: int) -> float:
    """Deterministic pseudo-random hyperplane component in [-1, 1):
    md5-driven, engine-independent."""
    import hashlib

    h = hashlib.md5(f"{table}:{plane}:{dim}".encode()).hexdigest()
    return int(h[:8], 16) / float(2**31) - 1.0


def lsh_bucket(vec: Column, table: int, planes: int, dim: int) -> Column:
    """Random-hyperplane LSH bucket id for one hash table: the sign
    pattern of ``planes`` projections, packed into an int. Pure
    expressions — the hyperplanes are literal arrays baked into the
    plan (a few KB; broadcast-equivalent)."""
    bucket: Column = F.lit(0)
    for p in range(planes):
        plane = F.array(
            *[F.lit(_hyperplane(table, p, d)) for d in range(dim)]
        )
        proj = _dot(vec, plane)
        bucket = bucket + F.when(proj >= 0, F.lit(2**p)).otherwise(F.lit(0))
    return bucket


def ann_topk_lsh(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    planes: int = 4,
    tables: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: exact cosine only among same-bucket candidates
    (union over ``tables`` hash tables). The scale path: the corpus is
    scanned once per table, bucketed map-side, and the join key
    (table, bucket) fans the work out; only candidates are scored."""
    return _lsh_topk(
        embeddings, query_ids, k, planes, tables, dim, id_col, vec_col, [0]
    )


def _lsh_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int,
    planes: int,
    tables: int,
    dim: int,
    id_col: str,
    vec_col: str,
    flips: list[int],
) -> DataFrame:
    """The ONE LSH search: the corpus is bucketed once per table, each
    query row fans out to ``bucket XOR flip`` for every flip in
    ``flips`` (``[0]``: its own bucket only), candidates sharing a
    (table, bucket) with any of them are deduplicated on the pair key
    and re-ranked by exact cosine."""
    emb = _as_double(embeddings, vec_col)
    bucketed = None
    for t in range(tables):
        b = emb.select(
            id_col,
            vec_col,
            F.lit(t).alias("tbl"),
            lsh_bucket(F.col(vec_col), t, planes, dim).alias("bucket"),
        )
        bucketed = b if bucketed is None else bucketed.unionByName(b)
    queries = (
        bucketed.filter(F.col(id_col).isin(query_ids))
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            "tbl",
            "bucket",
            F.explode(F.array(*[F.lit(f) for f in flips])).alias("flip"),
        )
        .select(
            "query_id",
            "qvec",
            "tbl",
            F.col("bucket").bitwiseXOR(F.col("flip")).alias("bucket"),
        )
    )
    cand = (
        bucketed.join(
            F.broadcast(queries),
            on=[
                bucketed["tbl"] == queries["tbl"],
                bucketed["bucket"] == queries["bucket"],
                bucketed[id_col] != queries["query_id"],
            ],
        )
        .select("query_id", id_col, vec_col, "qvec")
        .dropDuplicates(["query_id", id_col])
    )
    return _cosine_rerank(cand, k, id_col, vec_col)


def _sql_double(x: float) -> str:
    """Exact double literal for a generated SQL expression: repr() is
    the shortest string that round-trips, and CAST(string AS DOUBLE)
    parses to the identical IEEE double (then constant-folds)."""
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def _sql_array(x) -> str:
    """A (nested) list of doubles as one literal SQL array of exact
    _sql_double entries."""
    if isinstance(x, list):
        return "array(" + ",".join(_sql_array(e) for e in x) + ")"
    return _sql_double(x)


def _sql_dot(a_sql: str, b_sql: str) -> str:
    """SQL-text form of _dot (same left-to-right fold, same 0.0 seed)."""
    return (
        f"aggregate(zip_with({a_sql}, {b_sql}, (x, y) -> x * y), "
        f"CAST('0.0' AS DOUBLE), (acc, x) -> acc + x)"
    )


def _dist_structs_sql(
    cents: dict[int, list[float]],
    vec_sql: str,
    vv_sql: str,
    ndp: int,
) -> str:
    """The codebook-distance expression array((d, cid), ...) as ONE
    generated SQL string: the codebook is a single 2-D literal array
    (plus parallel cdot / cid literal arrays) and the per-centroid
    distance is ONE transform(sequence(...)) lambda indexing into it.

    Two costs motivate this shape. Building the expression
    column-by-column pays a py4j round trip per literal (n_centroids x
    dim of them — seconds of driver time per plan at trained-codebook
    sizes); one string parse is milliseconds. And emitting a separate
    struct per centroid makes Catalyst analyze/codegen n_centroids
    copies of the dot-product fold — a single shared lambda compiles
    ~3x faster at 63 centroids and evaluates identically (the fold
    arithmetic, and therefore every computed double, is unchanged —
    verified bit-identical). ``vv_sql`` names a per-row precomputed
    v.v column so the shared term isn't re-folded per centroid;
    ``ndp`` rounds like _fround."""
    sorted_cids = sorted(cents)
    cents2d = _sql_array([cents[c] for c in sorted_cids])
    cdarr = _sql_array([sum(x * x for x in cents[c]) for c in sorted_cids])
    cidarr = "array(" + ",".join(str(int(c)) for c in sorted_cids) + ")"
    d = (
        f"({vv_sql} + element_at({cdarr}, i+1) - CAST('2.0' AS DOUBLE) * "
        f"{_sql_dot(vec_sql, f'element_at({cents2d}, i+1)')})"
    )
    f = _sql_double(float(10**ndp))
    d = f"(floor({d} * {f} + CAST('0.5' AS DOUBLE)) / {f})"
    return (
        f"transform(sequence(0, {len(sorted_cids) - 1}), i -> "
        f"named_struct('d', {d}, 'cid', element_at({cidarr}, i+1)))"
    )


def derive_n_centroids(n_rows: int, min_centroids: int = 16) -> int:
    """Codebook size as a function of corpus size: ceil(sqrt(n)) cells
    — the standard IVF regime. The previous ceil(n/32) rule kept cell
    populations constant but made the CODEBOOK itself O(n): the driver
    holds it, every assignment plan bakes it as literals, and each
    Lloyd pass costs O(n * n_centroids * dim) = O(n^2 * dim / 32) —
    quadratic training, a scale-killer at 10^9 vectors. With sqrt(n)
    cells the codebook (driver memory, plan-literal size, per-row
    assignment cost) grows as sqrt(n) and each training pass is
    O(n^1.5 * dim); expected cell population also grows as sqrt(n),
    which the in-cell consumers bound separately (semantic_dedup bands
    inside cells via derive_leaf_planes; ann_topk_ivf's probed-cell
    scoring is the accepted IVF candidate regime, with PQ/ADC as the
    compressed path).

    Exact integer arithmetic (isqrt) so the oracle can reproduce it
    verbatim: greatest(min, ceiling(sqrt(count(*)))) — IEEE sqrt of an
    exact integer < 2^52 is correctly rounded, so the SQL ceiling
    matches isqrt(n-1)+1 for every practical n."""
    if n_rows <= 0:
        return min_centroids
    return max(min_centroids, math.isqrt(n_rows - 1) + 1)


def derive_leaf_planes(
    n_rows: int,
    n_centroids: int,
    target_cell_size: int = 32,
    max_planes: int = 8,
) -> int:
    """In-cell LSH band count for semantic_dedup: the smallest p such
    that the EXPECTED cell population ceil(n / n_centroids) divided by
    2^p is <= target_cell_size (capped at max_planes). With sqrt(n)
    coarse cells the expected population grows as sqrt(n); banding each
    cell into 2^p sign-LSH buckets restores a bounded leaf population,
    so the per-leaf quadratic pair work stays flat as the corpus grows
    — target_cell_size survives as the leaf bound. Pure integer
    arithmetic (compare cell_pop <= target << p), mirrored verbatim by
    the oracle's CASE chain."""
    cell_pop = (n_rows + n_centroids - 1) // n_centroids
    p = 0
    while p < max_planes and cell_pop > (target_cell_size << p):
        p += 1
    return p


def ivf_index(
    df: DataFrame,
    centroids: dict[int, list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The IVF index of ``df`` over a driver-held codebook: every row's
    cell, the 6-dp literal-array argmin (no shuffle for the
    assignment, no join — one distance fold per centroid per row,
    ties to the lower cell id). The ONE definition of the corpus
    assignment: ``ivf_assign_cells`` is its (id, cell) view, and
    every IVF consumer (the IVF searches, IVF-PQ, semantic_dedup) and
    the oracle share one assignment semantic.

    The codebook is baked into the plan as literals. The input is
    spread over ``defaultParallelism`` partitions first (single-file
    inputs scan as one partition). Returns (id_col, vec_col as
    array<double>, cell int); a caller that probes the same corpus
    more than once persists it (the catalog's ``ivf_index_full``
    artifact) instead of re-running the argmin per probe."""
    emb = _as_double(df, vec_col)
    spread = emb.repartition(
        emb.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
    )
    dist_structs = F.expr(_dist_structs_sql(centroids, vec_col, "_vv", 6))
    return spread.withColumn(
        "_vv", F.expr(_sql_dot(vec_col, vec_col))
    ).select(
        id_col,
        vec_col,
        F.array_min(dist_structs).getField("cid").cast("int").alias("cell"),
    )


def _ivf_probes(
    queries: DataFrame,
    centroids: dict[int, list[float]],
    nprobe: int,
) -> DataFrame:
    """The ``nprobe`` cells nearest each (query_id, qvec) row, in the
    index's own 6-dp distance order (ties to the lower cell id) — the
    ONE probe order of every IVF search:
    (query_id, qvec, probe_rank 1..nprobe, cell)."""
    dist_structs = F.expr(_dist_structs_sql(centroids, "qvec", "_vv", 6))
    return (
        _as_double(queries, "qvec")
        .withColumn("_vv", F.expr(_sql_dot("qvec", "qvec")))
        .select(
            "query_id",
            "qvec",
            F.posexplode(
                F.slice(F.array_sort(dist_structs), 1, nprobe)
            ).alias("_i", "p"),
        )
        .select(
            "query_id",
            "qvec",
            (F.col("_i") + 1).alias("probe_rank"),
            F.col("p.cid").alias("cell"),
        )
    )


def _probed_candidates(
    index: DataFrame, probes: DataFrame, id_col: str, *cols: str
) -> DataFrame:
    """The rows of ``index`` in each corpus query's probed cells, the
    query itself excluded: (query_id, <id_col>, *cols), one row per
    (query, row) pair.

    The candidates move in ONE shuffle: they are hash-partitioned by
    query_id before the pair-key dedup, and that partitioning also
    satisfies ``_topk``'s per-query window, so neither the dedup nor
    the window adds an Exchange of its own."""
    return (
        index.join(
            F.broadcast(probes),
            on=[
                index["cell"] == probes["cell"],
                index[id_col] != probes["query_id"],
            ],
        )
        .select("query_id", id_col, *cols)
        .repartition("query_id")
        # Each vector lives in exactly one cell and probed cells are
        # distinct, so no duplicate (query, vec) pair is possible
        # TODAY — but that invariant is a property of the argmin
        # assignment, not of this join. The explicit pair-key dedup
        # (same guard as the LSH path) keeps the result correct under
        # any future codebook/probing change.
        .dropDuplicates(["query_id", id_col])
    )


def ann_topk_ivf(
    index: DataFrame,
    query_ids: list[int],
    centroids: dict[int, list[float]],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style approximate top-k: probe only the ``nprobe`` cells
    nearest each query, exact cosine within probed cells.

    ``index`` is the persisted cell assignment of the corpus,
    ``ivf_index(corpus, centroids)`` over the same ``centroids`` (the
    trained codebook: pass ``train_ivf_centroids(...)`` output, sized
    by ``derive_n_centroids`` so cells stay balanced as the corpus
    grows). The corpus is not assigned here: only the query rows
    compute their distances to the codebook (plan literals), so a
    call reads the index once, and only probed-cell candidates reach
    the (broadcast) query join and the top-k window.
    """
    probes = _ivf_probes(
        _corpus_queries(index, query_ids, id_col, vec_col), centroids, nprobe
    )
    cand = _probed_candidates(index, probes, id_col, vec_col, "qvec")
    return _cosine_rerank(cand, k, id_col, vec_col)


def ann_topk_ivf_queries(
    index: DataFrame,
    queries: DataFrame,
    centroids: dict[int, list[float]],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k where the QUERY VECTORS come from a
    different relation than the indexed corpus — the shape every
    derived-vector index needs (chunk vectors indexed, document/user
    vectors querying), generalizing ``ann_topk_ivf`` (whose queries
    are corpus rows). ``queries`` is (query_id, qvec); ``index`` is
    the corpus's persisted (id_col, vec_col, cell) assignment,
    ``ivf_index(corpus, centroids)`` over the same trained codebook
    (re-deriving it per query would re-scan the whole collection
    through the argmin). Only the query side computes codebook
    distances; only probed-cell candidates reach the broadcast query
    join and the top-k window (same 100-TB shape as ann_topk_ivf).
    Returns (query_id, <id_col>, cos_sim 4dp, rank)."""
    probes = _ivf_probes(queries, centroids, nprobe)
    cand = (
        index.join(F.broadcast(probes), "cell")
        # one shuffle serves the dedup and _topk's window, as in
        # _probed_candidates
        .repartition("query_id")
        # one cell per vector + distinct probed cells make duplicates
        # impossible today; the guard keeps the result correct under
        # any future codebook/probing change (ann_topk_ivf's rule)
        .dropDuplicates(["query_id", id_col])
    )
    return _cosine_rerank(cand, k, id_col, vec_col)


def semantic_dedup(
    index: DataFrame,
    threshold: float = 0.92,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    leaf_planes: int = 0,
    leaf_tables: int = 2,
    dim: int = 64,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): every
    embedding is coarse-clustered to its nearest IVF centroid (the
    cells of ``index``), then WITHIN each cell any vector that has a
    lower-id neighbor at cosine >= ``threshold`` is dropped. Returns
    per-cell (n_vectors, n_dropped, n_kept).

    ``index`` is the persisted cell assignment of the corpus,
    ``ivf_index(corpus, centroids)`` over the trained codebook (the
    catalog path passes the ``ivf_index_full`` artifact, over
    ``train_ivf_centroids`` output sized by ``derive_n_centroids``), so
    a call runs no argmin. The clustering is what bounds the
    quadratic: pairwise cosine runs per cell, never across the corpus,
    and cell populations stay roughly constant as the corpus grows, so
    the per-cell pair work stays flat. The keep-lowest-id rule makes
    the survivor set deterministic and engine-portable (DuckDB oracle
    mirrors cell assignment and the training recurrence
    operand-for-operand).

    ``leaf_planes`` > 0 additionally bands each cell into 2^planes
    sign-LSH buckets (``leaf_tables`` hash tables for recall — a pair
    is compared if it shares (table, cell, bucket) in ANY table, same
    shape as embedding_near_dup_lsh): with sqrt(n) coarse cells the
    expected cell population grows as sqrt(n), and the in-cell banding
    restores a bounded leaf population so the per-leaf pair work stays
    flat at any corpus size (derive_leaf_planes computes the count
    from the target leaf bound). leaf_planes=0 keeps plain same-cell
    semantics — identical to the pre-banding operator.
    """
    v = F.col(vec_col)
    unit = F.transform(v, lambda x: x / F.sqrt(_dot(v, v)))
    bucket_cols = [
        lsh_bucket(F.col(vec_col), t, leaf_planes, dim).alias(f"_bkt{t}")
        for t in range(leaf_tables if leaf_planes > 0 else 0)
    ]
    assigned = index.select(
        F.col(id_col),
        unit.alias("nv"),
        "cell",
        *bucket_cols,
    )
    totals = assigned.groupBy("cell").agg(
        F.count("*").alias("n_vectors")
    )
    if leaf_planes > 0:
        # in-cell banding: one row per (vector, table) with that
        # table's bucket; a pair is a candidate iff it shares
        # (table, cell, bucket) — the same LSH-candidate shape as
        # embedding_near_dup_lsh, so the per-leaf pair count is
        # bounded regardless of cell population. The pair-level
        # distinct below collapses multi-table rediscoveries.
        pairable = None
        for t in range(leaf_tables):
            part = assigned.select(
                id_col,
                "nv",
                "cell",
                F.lit(t).alias("tbl"),
                F.col(f"_bkt{t}").alias("bucket"),
            )
            pairable = part if pairable is None else pairable.unionByName(part)
        join_on = ["tbl", "cell", "bucket"]
    else:
        pairable = assigned.select(id_col, "nv", "cell")
        join_on = ["cell"]
    a = pairable.alias("a")
    b = pairable.alias("b")
    dropped = (
        a.join(
            b,
            on=[
                *[F.col(f"a.{c}") == F.col(f"b.{c}") for c in join_on],
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .filter(
            _fround(_dot(F.col("a.nv"), F.col("b.nv")), 6)
            >= F.lit(threshold)
        )
        .select(F.col("b.cell").alias("cell"), F.col(f"b.{id_col}"))
        .distinct()
        .groupBy("cell")
        .agg(F.count("*").alias("n_dropped"))
    )
    return totals.join(dropped, "cell", "left").select(
        "cell",
        F.col("n_vectors").cast("bigint").alias("n_vectors"),
        F.coalesce("n_dropped", F.lit(0)).cast("bigint").alias("n_dropped"),
        (F.col("n_vectors") - F.coalesce("n_dropped", F.lit(0)))
        .cast("bigint")
        .alias("n_kept"),
    )


def embedding_near_dup(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 4,
    tables: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (vec_a < vec_b,
    cos >= threshold): the high-recall verified composition — sign-LSH
    candidate generation over the union of ``tables`` hash tables,
    then exact cosine on candidate pairs only.

    This used to be an unbounded ``vec_a < vec_b`` self-join (O(n²)
    pairs, a guaranteed scale-killer); every pair now has to share a
    (table, bucket) first, the same LSH→exact-verify shape as text
    ``near_dup_verified``. With 4 tables of 4 planes, a true near-dup
    pair at cos≥0.95 collides in at least one table with p≈0.986
    (miss = (1-(1-θ/π)^planes)^tables); doubling tables squares the
    miss rate, so recall is tunable without touching the verify stage.
    The DuckDB oracle is *generated* from the same hyperplane constants
    (oracles._near_dup_lsh_sql), so the key stays fully value-checked.
    """
    return embedding_near_dup_lsh(
        embeddings,
        threshold=threshold,
        planes=planes,
        tables=tables,
        id_col=id_col,
        vec_col=vec_col,
    )


def embedding_near_dup_lsh(
    embeddings: DataFrame,
    threshold: float = 0.4,
    planes: int = 4,
    tables: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate pairs, LSH-bucketed — the 100 TB path.

    Exact cosine is computed ONLY for pairs sharing a random-hyperplane
    bucket in at least one hash table, cutting the quadratic stage by
    ~2^planes/tables at a recall cost (sign-LSH collision probability
    is 1 - theta/pi per plane, so high-cosine pairs are very likely to
    collide in some table). Candidates dedup on the pair key; cosine on
    pre-normalized vectors (one fold per pair).
    """
    # Rebalance before the heavy per-row projection (tables x planes
    # array folds): a narrow upstream would serialize it on few tasks.
    emb = _as_double(embeddings, vec_col)
    emb = emb.repartition(
        emb.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
    )
    v = F.col(vec_col)
    unit = F.transform(v, lambda x: x / F.sqrt(_dot(v, v)))
    bucketed = None
    for t in range(tables):
        b = emb.select(
            F.col(id_col),
            unit.alias("nv"),
            F.lit(t).alias("tbl"),
            lsh_bucket(v, t, planes, dim).alias("bucket"),
        )
        bucketed = b if bucketed is None else bucketed.unionByName(b)
    a = bucketed.alias("a")
    # No join hint: (tbl, bucket) has only tables x 2^planes distinct
    # values, so forcing a shuffle join would concentrate the pair work
    # on that many tasks. Locally Catalyst broadcasts the (rebalanced)
    # bucketed side; at corpus scale raise ``planes`` so bucket
    # cardinality grows with the data and AQE's sort-merge distributes.
    b = bucketed.alias("b")
    cand = (
        a.join(
            b,
            on=[
                F.col("a.tbl") == F.col("b.tbl"),
                F.col("a.bucket") == F.col("b.bucket"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("vec_a"),
            F.col(f"b.{id_col}").alias("vec_b"),
            F.col("a.nv").alias("na"),
            F.col("b.nv").alias("nb"),
        )
        .dropDuplicates(["vec_a", "vec_b"])
    )
    return (
        cand.select(
            "vec_a",
            "vec_b",
            _fround(_dot(F.col("na"), F.col("nb")), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
        .select(
            "vec_a", "vec_b", _fround(F.col("cos_sim"), 4).alias("cos_sim")
        )
    )


def embedding_quantize_int8(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization — the standard 4x
    memory cut for embedding stores and the ANN candidate stage
    (search int8, re-rank survivors in float). Per vector:
    scale = max|x| / 127, q_i = floor(x_i/scale + 0.5) (all zeros when
    the vector is zero), plus audit stats: quantized checksum,
    saturation count, and the reconstruction MSE.

    Shape: one scan, one narrow projection per row (HOF folds, no
    Python), one explode + keyed groupBy ONLY for the MSE (whose
    per-element squared errors are decimal-cast before summing so the
    sum is order-independent and engine-portable). At 100 TB the
    explode is dim x rows but feeds a map-side-combined keyed agg —
    the same fan-out class as tokenization.
    """
    emb = _as_double(embeddings, vec_col)
    spread = emb.repartition(
        emb.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
    )
    v = F.col(vec_col)
    scale = F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(127.0)
    q = F.when(F.col("scale") == 0.0, F.transform(v, lambda x: F.lit(0).cast("bigint"))).otherwise(
        F.transform(v, lambda x: F.floor(x / F.col("scale") + F.lit(0.5)))
    )
    qd = spread.select(id_col, vec_col, scale.alias("scale")).select(
        id_col, vec_col, "scale", q.alias("q")
    )
    flat = qd.select(
        id_col,
        "scale",
        F.posexplode(F.zip_with(v, F.col("q"), lambda x, qi: x - qi * F.col("scale"))),
    ).select(
        id_col,
        "scale",
        F.col("col").alias("err"),
    )
    mse = flat.groupBy(id_col).agg(
        (
            F.sum((F.col("err") * F.col("err")).cast("decimal(38,18)"))
            .cast("double")
            / F.count("*")
        ).alias("mse")
    )
    stats = qd.select(
        id_col,
        "scale",
        F.aggregate(
            F.col("q"), F.lit(0).cast("bigint"), lambda acc, x: acc + x
        ).alias("q_sum"),
        F.aggregate(
            F.col("q"),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc
            + F.when(F.abs(x) >= 127, F.lit(1)).otherwise(F.lit(0)).cast(
                "bigint"
            ),
        ).alias("n_saturated"),
    )
    return stats.join(mse, id_col).select(
        id_col,
        _fround(F.col("scale"), 9).alias("scale"),
        F.col("q_sum").cast("bigint").alias("q_sum"),
        F.col("n_saturated").cast("bigint").alias("n_saturated"),
        _fround(F.col("mse") * 1e6, 6).alias("mse_ppm"),
    )


def train_ivf_centroids(
    embeddings: DataFrame,
    n_centroids: int = 16,
    iterations: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict[int, list[float]]:
    """Distributed Lloyd's k-means for the IVF codebook. The init is
    the first ``n_centroids`` vectors by id (``iterations=0`` returns
    it).

    Each iteration is one distributed pass: assign every vector to its
    nearest centroid map-side (centroids are plan literals — no join,
    no shuffle for assignment), then recompute means with ONE groupBy
    over (cell) using element-wise array aggregation
    (``posexplode``-free: aggregate(array_agg) would collect per group,
    so instead sum each dimension with zip_with folds over a running
    array — the per-group state is one dim-length array, not the
    member vectors).

    Driver holds only the codebook (n_centroids x dim floats — it IS
    the model); corpus never leaves executors. Deterministic AND
    engine-portable: init = first n_centroids vectors by id, ties in
    assignment break to the lower cell id (array_min on (dist, cid)
    structs), and the per-dimension means are exact decimal(38,18)
    sums divided IN-ENGINE (one double division) — so the recurrence
    is order-independent and the DuckDB oracle reproduces the trained
    codebook bit-for-bit by unrolling the same iterations
    (oracles._ivf_cent_ctes). An empty cell keeps its previous
    centroid, mirrored by the oracle's coalesce.

    Iterative algorithms are inherently multi-job (one per iteration);
    this is the documented exception to "everything is one Catalyst
    plan" — each pass IS one plan, reusing the cached input.
    """
    emb = _as_double(embeddings, vec_col).select(id_col, vec_col)
    # rebalance BEFORE caching: a single-file local input scans as one
    # partition, which would serialize every assignment pass (the
    # n_centroids x dim distance folds) on one core; the cache then
    # holds the spread layout for all iterations.
    emb = emb.repartition(
        emb.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
    )
    emb.cache()
    try:
        cents = {
            int(r[0]): [float(x) for x in r[1]]
            for r in emb.filter(F.col(id_col) < n_centroids).collect()
        }
        # remap arbitrary init ids to dense cell ids 0..n-1
        cents = {i: v for i, (_, v) in enumerate(sorted(cents.items()))}
        for _ in range(iterations):
            # the trainer's own argmin, not ivf_index's: the training
            # recurrence assigns at 9 dp (the oracle unrolls it so)
            dist_structs = F.expr(
                _dist_structs_sql(cents, vec_col, "_vv", 9)
            )
            assigned = emb.withColumn(
                "_vv", F.expr(_sql_dot(vec_col, vec_col))
            ).select(
                F.array_min(dist_structs).getField("cid").alias("cell"),
                F.col(vec_col).alias("v"),
            )
            dim = len(next(iter(cents.values())))
            # one generated expression for all per-dimension means (64
            # py4j Column builds per iteration cost ~1s of driver time;
            # one expr parse is free). Exact decimal sums + one double
            # division per dim — order-independent, oracle-portable.
            means = ", ".join(
                f"CAST(sum(CAST(element_at(v, {d + 1}) AS DECIMAL(38,18)))"
                f" AS DOUBLE) / count(*)"
                for d in range(dim)
            )
            new_rows = (
                assigned.groupBy("cell")
                .agg(F.expr(f"array({means})").alias("ms"))
                .collect()
            )
            for r in new_rows:
                cents[int(r["cell"])] = [float(x) for x in r["ms"]]
        return cents
    finally:
        emb.unpersist()


def ivf_assign_cells(
    df: DataFrame,
    centroids: dict[int, list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Map-side cell assignment against a driver-held codebook: the
    (id_col, cell) view of ``ivf_index``, for the index-maintenance
    operators that need only the cells."""
    return ivf_index(df, centroids, id_col, vec_col).select(id_col, "cell")


def ivf_index_append(
    new_batch: DataFrame,
    centroids: dict[int, list[float]],
    baseline_counts: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    indexed_ids: DataFrame | None = None,
) -> DataFrame:
    """Incremental IVF index maintenance — the daily-batch shape for
    the ANN layer (mirrors incremental_minhash_dedup for the signature
    store): assign ONLY the new batch to the EXISTING trained cells
    (map-side literal-codebook argmin; the historical corpus is never
    re-scanned), merge the per-cell additions into the persisted
    per-cell population stats, and flag when the codebook no longer
    fits the data.

    ``baseline_counts`` is the index's persisted (cell, n_baseline)
    stats relation (|cells|-sized — kilobytes at any corpus scale).
    Output per cell: n_baseline, n_new, n_total, plus two exact-integer
    flags the re-train policy consumes:

    - ``hot`` — this cell's population exceeds 2x the mean cell
      population after the append (n_total * n_cells > 2 * grand_total
      — the skew signal: new data concentrating in few cells means the
      centroids no longer tile the distribution);
    - ``retrain_due`` — global flag, true when the appended rows grew
      the indexed corpus by >= 50% (2 * total_new >= total_baseline —
      the volume signal: sqrt(n) cells for the old n are too few).

    Both comparisons are products of exact integers, so the report
    value-checks bit-for-bit against the DuckDB oracle. Scale: one
    scan of the new batch + a |cells|-sized outer join; per-batch cost
    is O(|batch| * n_centroids * dim) map-side work regardless of
    history length.

    RE-DELIVERY GUARD (``indexed_ids``, optional — the r11 audit of
    every maintained fold): the cell stats are ADDITIVE, so an
    at-least-once duplicate batch double-counts populations and can
    falsely trip the hot / retrain_due policy. When the caller passes
    the index's id relation (in a real IVF index the inverted lists
    themselves — here any (id_col, ...) relation of already-indexed
    vectors), already-indexed batch ids are dropped before counting:
    the store side is semi-joined against the BROADCAST batch ids
    first, so both joins are map-side and the intermediate is bounded
    by the batch's key count (the fold_bm25_index guard device).
    Omitted, the disjointness contract is the caller's (exactly-once
    checkpointed streams)."""
    if indexed_ids is not None:
        batch_ids = new_batch.select(id_col).distinct()
        seen = (
            indexed_ids.join(F.broadcast(batch_ids), id_col, "left_semi")
            .select(id_col)
            .distinct()
        )
        new_batch = new_batch.join(F.broadcast(seen), id_col, "left_anti")
    new_counts = (
        ivf_assign_cells(new_batch, centroids, id_col, vec_col)
        .groupBy("cell")
        .agg(F.count("*").alias("n_new"))
    )
    return ivf_merge_cell_stats(baseline_counts, new_counts, len(centroids))


def ivf_merge_cell_stats(
    baseline_counts: DataFrame, new_counts: DataFrame, n_cells: int
) -> DataFrame:
    """The merge + policy-flag step of incremental IVF maintenance,
    shared by the batch (``ivf_index_append``) and streaming
    (``q_streaming_ivf_append``) forms so the exact-integer hot /
    retrain_due algebra lives in exactly one place: full-outer merge
    of (cell, n_baseline) with (cell, n_new), totals, and the two
    flags (hot: n_total * n_cells > 2 * grand_total; retrain_due:
    2 * total_new >= total_baseline)."""
    merged = (
        baseline_counts.select(
            F.col("cell").cast("int").alias("cell"),
            F.col("n_baseline").cast("bigint").alias("n_baseline"),
        )
        .join(new_counts, "cell", "full_outer")
        .select(
            "cell",
            F.coalesce("n_baseline", F.lit(0)).cast("bigint").alias(
                "n_baseline"
            ),
            F.coalesce("n_new", F.lit(0)).cast("bigint").alias("n_new"),
        )
        .withColumn("n_total", (F.col("n_baseline") + F.col("n_new")))
    )
    totals = merged.agg(
        F.sum("n_baseline").alias("tot_base"),
        F.sum("n_new").alias("tot_new"),
        F.sum("n_total").alias("tot_all"),
    )
    return merged.crossJoin(F.broadcast(totals)).select(
        "cell",
        "n_baseline",
        "n_new",
        F.col("n_total").cast("bigint").alias("n_total"),
        (
            F.col("n_total") * F.lit(n_cells) > F.lit(2) * F.col("tot_all")
        ).alias("hot"),
        (F.lit(2) * F.col("tot_new") >= F.col("tot_base")).alias(
            "retrain_due"
        ),
    )


def ivf_index_forget(
    deleted_batch: DataFrame,
    centroids: dict[int, list[float]],
    current_counts: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    indexed_ids: DataFrame | None = None,
) -> DataFrame:
    """DELETE vectors from a maintained IVF index's cell stats — the
    RTBF edge of the ANN family (r11; pairs with ``ivf_index_append``
    the way ``forget_bm25_index`` pairs with ``fold_bm25_index``):
    cell assignment is a pure deterministic function of (vector,
    codebook), so re-assigning the RTBF wave map-side recovers
    exactly the cells each vector incremented at insert time — the
    per-cell decrements need no history scan. ``current_counts`` is
    the persisted (cell, n_total) stats relation.

    ``indexed_ids`` (optional, the append guard mirrored): when the
    caller passes the index's id relation, the wave is semi-joined
    against it so an id never indexed (or already forgotten — a
    re-delivered RTBF wave) subtracts nothing; both joins are bounded
    by the wave's key count via the broadcast semi/anti device.

    Output per cell: (cell, n_before, n_removed, n_after, emptied) —
    ``emptied`` flags a cell whose population reached 0 (the
    shrink-side retrain signal: empty cells mean the codebook tiles
    space the data no longer occupies). Exact integers throughout;
    forget == rebuild is the catalog key's oracle proof."""
    if indexed_ids is not None:
        batch_ids = deleted_batch.select(id_col).distinct()
        live = (
            indexed_ids.join(F.broadcast(batch_ids), id_col, "left_semi")
            .select(id_col)
            .distinct()
        )
        deleted_batch = deleted_batch.join(
            F.broadcast(live), id_col, "left_semi"
        )
    rm = (
        ivf_assign_cells(deleted_batch, centroids, id_col, vec_col)
        .groupBy("cell")
        .agg(F.count("*").alias("n_removed"))
    )
    return (
        current_counts.select(
            F.col("cell").cast("int").alias("cell"),
            F.col("n_total").cast("bigint").alias("n_before"),
        )
        .join(rm, "cell", "full_outer")
        .select(
            "cell",
            F.coalesce("n_before", F.lit(0))
            .cast("bigint")
            .alias("n_before"),
            F.coalesce("n_removed", F.lit(0))
            .cast("bigint")
            .alias("n_removed"),
        )
        .withColumn(
            "n_after",
            (F.col("n_before") - F.col("n_removed")).cast("bigint"),
        )
        .withColumn(
            "emptied",
            (F.col("n_before") > 0) & (F.col("n_after") == 0),
        )
    )


def ivf_recall_cost(
    corpus: DataFrame,
    query_ids: list[int],
    centroids: dict[int, list[float]],
    exact: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ONE-ROW measured (hits, scanned_rows, n_total) of a codebook on
    a corpus — the recall-vs-cost observables every IVF sizing /
    retraining decision reads (the per-ladder aggregate of
    ivf_nprobe_plan factored into a reusable single measurement):
    hits = |exact top-k ∩ nprobe-probed IVF top-k| over the probe
    query set, scanned_rows = the probed cells' total population
    (the fraction-of-corpus price those probes pay). The corpus is
    assigned once (``ivf_index``); the cell populations and the IVF
    search both read that assignment. ``exact`` is the (query_id,
    <id_col>) exact top-k of ``query_ids`` over ``corpus``
    (``ann_topk_bruteforce`` at the same k), materialized by the
    caller: it is codebook-independent, so one truth serves every
    codebook. Exact integers; callers derive the two ratio forms."""
    index = ivf_index(corpus, centroids, id_col, vec_col)
    pop = index.groupBy("cell").agg(
        F.count("*").cast("bigint").alias("pop")
    )
    tot = pop.agg(F.sum("pop").cast("bigint").alias("n_total"))
    probes = _ivf_probes(
        _corpus_queries(index, query_ids, id_col, vec_col), centroids, nprobe
    ).select("cell")
    scanned = (
        probes.join(pop, "cell")
        .agg(F.sum("pop").cast("bigint").alias("scanned_rows"))
    )
    approx = ann_topk_ivf(
        index,
        query_ids=query_ids,
        centroids=centroids,
        k=k,
        nprobe=nprobe,
        id_col=id_col,
        vec_col=vec_col,
    ).select("query_id", id_col)
    hits = (
        exact.join(approx, ["query_id", id_col], "left_semi")
        .agg(F.count("*").cast("bigint").alias("hits"))
    )
    return hits.crossJoin(F.broadcast(scanned)).crossJoin(
        F.broadcast(tot)
    )


def l2_topk_exact(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact squared-L2 top-k per query vector — the ground truth the
    PQ/ADC family is measured against (``ann_topk_bruteforce`` is its
    cosine sibling; ADC approximates L2, so its recall gate must rank
    by the SAME metric). Broadcast nested-loop like the cosine form;
    distance rounded to 9 dp before ordering with a vec_id tie-break,
    so the ranking is engine-portable. Output (query_id, vec_id,
    rank)."""
    emb = _as_double(embeddings, vec_col)
    queries = _corpus_queries(emb, query_ids, id_col, vec_col)
    pairs = emb.join(
        F.broadcast(queries), F.col(id_col) != F.col("query_id")
    )
    d = (
        F.expr(_sql_dot(vec_col, vec_col))
        + F.expr(_sql_dot("qvec", "qvec"))
        - 2.0 * F.expr(_sql_dot(vec_col, "qvec"))
    )
    scored = pairs.select(
        "query_id", id_col,
        (F.floor(d * 1e9 + F.lit(0.5)) / 1e9).alias("d9"),
    )
    return _topk(scored, k, id_col, "d9", False, None)


def pq_recall_report(
    corpus: DataFrame,
    query_ids: list[int],
    aging_books: dict[int, dict[int, list[float]]],
    retrained_books: dict[int, dict[int, list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ RETRAIN PAYOFF — ``ivf_retrain_execute``'s measured-payoff
    device pointed at the PRODUCT-QUANTIZATION codebooks (r12 task 7):
    aging PQ codes degrade ADC ranking as the corpus grows just like
    an aging coarse codebook degrades cell recall — the subspace
    centroids tile yesterday's distribution and were seeded from
    yesterday's ids, so new-region vectors all collapse onto far
    codewords and their ADC distances stop discriminating. Both
    codebook generations score the SAME corpus through
    ``ann_topk_pq`` (6-dp distance tables, exact-decimal ADC sums)
    against ONE shared exact squared-L2 ground truth
    (``l2_topk_exact`` — the metric ADC approximates). PQ scan cost
    is generation-independent (ADC touches every code either way), so
    the payoff observable is recall alone: one row per codebook with
    exact-integer ``hits`` and the global ``recall_recovered`` flag —
    retrained hits >= aging hits, an exact integer compare riding
    both rows (the efficiency_improved precedent)."""
    from aproximacion_1_etl_spark.functions.concurrency import overlap

    nk = len(query_ids) * k
    exact = (
        l2_topk_exact(corpus, query_ids, k=k, id_col=id_col,
                      vec_col=vec_col)
        .select("query_id", id_col)
        .localCheckpoint(eager=True)
    )

    # the two generations' ADC rankings are independent (both read
    # the checkpointed ground truth); their driver-blocking hit
    # counts overlap through the pool (guide §2.6), slotted by name
    def _hits(books):
        ap = ann_topk_pq(
            corpus, query_ids=query_ids, books=books, k=k,
            id_col=id_col, vec_col=vec_col,
        ).select("query_id", id_col)
        return (
            exact.join(ap, ["query_id", id_col], "left_semi")
            .agg(F.count("*").cast("bigint").alias("hits"))
            .localCheckpoint(eager=True)
        )

    gens = [("aging", aging_books), ("retrained", retrained_books)]
    rows_m = overlap(*[lambda b=books: _hits(b) for _n, books in gens])
    measured = {name: df for (name, _b), df in zip(gens, rows_m)}
    flag = (
        measured["retrained"].select(F.col("hits").alias("_nh"))
        .crossJoin(measured["aging"].select(F.col("hits").alias("_oh")))
        .select((F.col("_nh") >= F.col("_oh")).alias("recall_recovered"))
        .localCheckpoint(eager=True)
    )
    rows = []
    for name in ("aging", "retrained"):
        rows.append(
            measured[name].crossJoin(flag).select(
                F.lit(name).alias("codebook"),
                "hits",
                (
                    F.floor(
                        F.col("hits") * F.lit(1.0) / F.lit(nk) * 1e6
                        + F.lit(0.5)
                    ) / 1e6
                ).alias("recall"),
                "recall_recovered",
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def pq_quantization_error(
    embeddings: DataFrame,
    books: dict[int, dict[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-row PQ RECONSTRUCTION ERROR under a codebook generation:
    sum over subspaces of the 6-dp min distance between the row's
    sub-vector and its nearest codeword — exactly the distance
    ``pq_encode``'s assignment minimizes, so this is the quantity
    that grows when the corpus drifts away from the books. One
    map-side projection (books are plan literals, the
    _dist_structs_sql shared-lambda device), no shuffle; the decimal
    sum of 6-dp terms is exact, and the emitted ``err6`` =
    floor(err·1e6 + 0.5) is an exact BIGINT both engines reproduce
    (the ADC-sum portability pattern). Returns (id, err6)."""
    emb = _as_double(embeddings, vec_col)
    parts = [
        f"CAST(array_min({_pq_subspace_sql(books, s, vec_col)}).d "
        f"AS DECIMAL(38,18))"
        for s in range(len(books))
    ]
    err = f"CAST(({' + '.join(parts)}) AS DOUBLE)"
    return emb.select(
        id_col,
        F.expr(
            f"CAST(floor({err} * 1000000.0 + 0.5) AS BIGINT)"
        ).alias("err6"),
    )


def pq_drift_report(
    store: DataFrame,
    batch: DataFrame,
    books: dict[int, dict[int, list[float]]],
    query_ids: list[int],
    k: int = 10,
    qerr_bound: tuple[int, int] = (2, 1),
    recall_bound: tuple[int, int] = (3, 10),
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ CODEBOOK DRIFT TRIGGER — the DECISION half of the PQ
    retrain pair (r13, VERDICT r12 task 3: ``pq_recall_report`` /
    q_pq_retrain_execute act on a retrain verdict, but nothing
    DECIDED when the subspace books need retraining;
    ``ivf_retrain_report`` is the coarse-side precedent). Folds an
    appended batch against the aging books and emits retrain /
    no-retrain with every piece of measured evidence next to its
    bound:

    - ``quant_error``  — the batch's mean per-row reconstruction
      error (``pq_quantization_error``) relative to the STORE's
      baseline mean error under the same books: codes of a drifted
      region collapse onto far-away codewords, so this ratio is the
      direct per-subspace-geometry drift signal (int8-audit-style
      saturation reads off the same quantity); breach when
      den·se_batch·n_store > num·se_store·n_batch — the sums are
      exact 6-dp integers, so the cross-multiplication is exact on
      both engines (computed in DECIMAL so no product can overflow);
    - ``recall_probe`` — measured ADC recall@k of the aging books
      over the appended corpus vs the exact squared-L2 ground truth
      (``l2_topk_exact`` — the metric ADC approximates) for the
      probe query set; breach when den·hits < num·|Q|·k;
    - ``verdict``      — retrain when ANY evidence breached.

    Scale shape: two map-side error scans (store, batch — codebook
    literals, no shuffle) reduced to one row each, one ADC pass + one
    brute ground-truth pass bounded by |Q| broadcast queries, and
    1-row aggregates cross-joined into the fixed 3-row report
    (eager-cut so the rows share ONE evaluation of the evidence
    subtrees). In production the store's baseline error sum is a
    persisted scalar written at training time — deriving it here
    costs one extra scan of the store slice."""
    nq = len(query_ids)
    se_store = pq_quantization_error(
        store, books, id_col=id_col, vec_col=vec_col
    ).agg(
        F.sum("err6").cast("bigint").alias("_se_s"),
        F.count("*").cast("bigint").alias("_n_s"),
    )
    se_batch = pq_quantization_error(
        batch, books, id_col=id_col, vec_col=vec_col
    ).agg(
        F.sum("err6").cast("bigint").alias("_se_b"),
        F.count("*").cast("bigint").alias("_n_b"),
    )
    corpus = store.unionByName(batch)
    exact = l2_topk_exact(
        corpus, query_ids, k=k, id_col=id_col, vec_col=vec_col
    ).select("query_id", id_col)
    approx = ann_topk_pq(
        corpus, query_ids=query_ids, books=books, k=k,
        id_col=id_col, vec_col=vec_col,
    ).select("query_id", id_col)
    hitrow = exact.join(approx, ["query_id", id_col], "left_semi").agg(
        F.count("*").cast("bigint").alias("_hits")
    )
    # ONE row — eager-cut so the three report rows read it instead of
    # re-evaluating the scans per row (the ivf_retrain_report device)
    ev = (
        se_store.crossJoin(se_batch)
        .crossJoin(hitrow)
        .localCheckpoint(eager=True)
    )
    qnum, qden = qerr_bound
    rnum, rden = recall_bound
    dec = "decimal(38,0)"
    qerr_breach = (
        F.col("_se_b").cast(dec) * F.col("_n_s") * F.lit(qden)
        > F.col("_se_s").cast(dec) * F.col("_n_b") * F.lit(qnum)
    )
    recall_breach = F.col("_hits") * F.lit(rden) < F.lit(nq * k * rnum)
    # ratio of means from exact ints via IEEE double division (each
    # cast value < 2^53, division order fixed -> engine-portable)
    qerr_value = _fround(
        (F.col("_se_b").cast("double") / F.col("_n_b").cast("double"))
        / (F.col("_se_s").cast("double") / F.col("_n_s").cast("double")),
        6,
    )
    rows = [
        ev.select(
            F.lit("quant_error").alias("evidence"),
            qerr_value.alias("value"),
            F.lit(round(qnum / qden, 6)).alias("bound"),
            qerr_breach.alias("breach"),
        ),
        ev.select(
            F.lit("recall_probe").alias("evidence"),
            _fround(F.col("_hits") * F.lit(1.0) / F.lit(nq * k), 6).alias(
                "value"
            ),
            F.lit(round(rnum / rden, 6)).alias("bound"),
            recall_breach.alias("breach"),
        ),
        ev.select(
            F.lit("verdict").alias("evidence"),
            F.when(qerr_breach | recall_breach, F.lit(1.0))
            .otherwise(F.lit(0.0))
            .alias("value"),
            F.lit(1.0).alias("bound"),
            (qerr_breach | recall_breach).alias("breach"),
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def ivf_retrain_report(
    store: DataFrame,
    batch: DataFrame,
    centroids: dict[int, list[float]],
    query_ids: list[int],
    baseline_counts: DataFrame,
    exact: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    growth_bound: tuple[int, int] = (1, 2),
    hot_bound: tuple[int, int] = (1, 8),
    recall_bound: tuple[int, int] = (1, 2),
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF CODEBOOK DRIFT TRIGGER — the decision layer the recall
    gates feed (VERDICT r10 task 7): the recall measurements
    (ann_recall_at_k, chunk_ann_recall) and the population flags
    (ivf_index_append) exist, but nothing DECIDED when to retrain.
    This folds an appended batch's cell-population stats into the
    maintained per-cell counts and measures a recall probe of the
    trained codebook over the appended corpus, then emits a
    retrain / no-retrain verdict with every piece of measured
    evidence next to its bound (the ivf_nprobe_plan report idea:
    a sizing decision read off measurements, not formulas):

    - ``growth``     — |batch| / |store| (the volume signal: sqrt(n)
      cells for the old n are too few); breach when
      den·tot_new >= num·tot_base (exact integers; default >= 1/2,
      the retrain_due rule of ivf_merge_cell_stats);
    - ``hot_cells``  — fraction of cells whose post-append population
      exceeds 2x the mean (the skew signal: appends concentrating in
      few cells mean the centroids no longer tile the distribution);
      breach when den·n_hot > num·n_cells (default > 1/8);
    - ``recall_probe`` — measured recall@k of the nprobe-cell IVF
      search vs the exact top-k over the SAME appended corpus for the
      probe query set (the quality signal — the ground-truth join is
      |Q|·k-sized); breach when den·hits < num·|Q|·k (default < 1/2);
    - ``verdict``    — retrain when ANY evidence breached.

    Every comparison is a product of exact integers, so the report
    value-checks bit-for-bit against the DuckDB oracle; the two
    one-division ratios round 6 dp. Scale shape: map-side assignment
    scans (batch, and the IVF index of store ∪ batch that the recall
    probe searches — the literal-codebook argmin, no shuffle), a
    |cells|-sized merge, and 1-row aggregates cross-joined into the
    fixed 4-row report (eager-cut to 1 row so the report rows share
    ONE evaluation of the evidence subtrees instead of four).
    ``baseline_counts``: the index's maintained (cell, n_baseline)
    stats relation. ``exact``: the (query_id, <id_col>) exact top-k
    of ``query_ids`` over store ∪ batch (``ann_topk_bruteforce`` at
    the same k); it is codebook-independent, so callers share one."""
    n_cells = len(centroids)
    nq = len(query_ids)
    merged = ivf_index_append(
        batch, centroids, baseline_counts, id_col, vec_col
    )
    tots = merged.agg(
        F.sum("n_baseline").cast("bigint").alias("tb"),
        F.sum("n_new").cast("bigint").alias("tn"),
        F.sum(F.when(F.col("hot"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_hot"),
    )
    corpus = store.unionByName(batch)
    approx = ann_topk_ivf(
        ivf_index(corpus, centroids, id_col, vec_col),
        query_ids=query_ids,
        centroids=centroids,
        k=k,
        nprobe=nprobe,
        id_col=id_col,
        vec_col=vec_col,
    ).select("query_id", id_col)
    hitrow = (
        exact.join(approx, ["query_id", id_col], "left_semi")
        .agg(F.count("*").cast("bigint").alias("hits"))
    )
    # ONE row — eager-cut so the four report rows below read it
    # instead of re-evaluating the merge/probe subtrees per row
    ev = tots.crossJoin(hitrow).localCheckpoint(eager=True)
    gnum, gden = growth_bound
    hnum, hden = hot_bound
    rnum, rden = recall_bound
    growth_breach = F.col("tn") * F.lit(gden) >= F.col("tb") * F.lit(gnum)
    hot_breach = F.col("n_hot") * F.lit(hden) > F.lit(n_cells * hnum)
    recall_breach = F.col("hits") * F.lit(rden) < F.lit(nq * k * rnum)
    rows = [
        ev.select(
            F.lit("growth").alias("evidence"),
            _fround(F.col("tn") * F.lit(1.0) / F.col("tb"), 6).alias(
                "value"
            ),
            F.lit(round(gnum / gden, 6)).alias("bound"),
            growth_breach.alias("breach"),
        ),
        ev.select(
            F.lit("hot_cells").alias("evidence"),
            _fround(F.col("n_hot") * F.lit(1.0) / F.lit(n_cells), 6).alias(
                "value"
            ),
            F.lit(round(hnum / hden, 6)).alias("bound"),
            hot_breach.alias("breach"),
        ),
        ev.select(
            F.lit("recall_probe").alias("evidence"),
            _fround(F.col("hits") * F.lit(1.0) / F.lit(nq * k), 6).alias(
                "value"
            ),
            F.lit(round(rnum / rden, 6)).alias("bound"),
            recall_breach.alias("breach"),
        ),
        ev.select(
            F.lit("verdict").alias("evidence"),
            F.when(
                growth_breach | hot_breach | recall_breach, F.lit(1.0)
            )
            .otherwise(F.lit(0.0))
            .alias("value"),
            F.lit(1.0).alias("bound"),
            (growth_breach | hot_breach | recall_breach).alias("breach"),
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def _py_dot(a: list[float], b: list[float]) -> float:
    """Left-to-right fold — bit-matches _sql_dot / DuckDB
    list_dot_product so driver-computed distance tables agree with
    in-engine ones."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def train_pq_codebooks(
    embeddings: DataFrame,
    m: int = 8,
    n_centroids: int = 16,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict[int, dict[int, list[float]]]:
    """Product-quantization codebooks: split each vector into ``m``
    contiguous subspaces and k-means each subspace independently —
    16 centroids per subspace encode a 64-dim float vector in 8 bytes
    (16x smaller than float32), the compression that makes
    billion-vector ANN candidate stages fit in memory.

    ALL subspaces train in ONE distributed pass per iteration: the
    per-row projection assigns a cell per subspace, an explode emits
    (subspace, cell, sub-vector) and a single groupBy(subspace, cell)
    recomputes every mean — m separate trainers would scan the corpus
    m times for the same arithmetic. Same engine-portable recurrence
    as train_ivf_centroids (9-dp rounded assignment, lexicographic
    tie-break, exact decimal means, empty cells keep their centroid),
    so the DuckDB oracle reproduces all m codebooks bit-for-bit
    (oracles._pq_cent_ctes)."""
    emb = _as_double(embeddings, vec_col).select(id_col, vec_col)
    emb = emb.repartition(
        emb.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
    )
    emb.cache()
    try:
        dim_rows = emb.limit(1).collect()
        if not dim_rows:
            raise ValueError("train_pq_codebooks: embeddings table is empty")
        dim = len(dim_rows[0][1])
        if dim % m != 0:
            # silently truncating the tail dims would quantize a
            # DIFFERENT vector than the caller handed in
            raise ValueError(
                f"train_pq_codebooks: dim {dim} not divisible by m={m}"
            )
        d_sub = dim // m
        init = {
            int(r[0]): [float(x) for x in r[1]]
            for r in emb.filter(F.col(id_col) < n_centroids).collect()
        }
        books: dict[int, dict[int, list[float]]] = {
            s: {
                i: v[s * d_sub : (s + 1) * d_sub]
                for i, (_, v) in enumerate(sorted(init.items()))
            }
            for s in range(m)
        }
        for _ in range(iterations):
            branches = []
            for s in range(m):
                sl = f"slice(`{vec_col}`, {s * d_sub + 1}, {d_sub})"
                # the trainer's own argmin, not _pq_subspace_sql's: the
                # training recurrence assigns at 9 dp (the oracle
                # unrolls it so)
                ds = _dist_structs_sql(books[s], sl, _sql_dot(sl, sl), 9)
                branches.append(
                    f"named_struct('s', {s}, "
                    f"'cell', array_min({ds}).cid, 'sub', {sl})"
                )
            assigned = emb.select(
                F.explode(F.expr("array(" + ", ".join(branches) + ")")).alias(
                    "e"
                )
            ).select("e.s", "e.cell", "e.sub")
            means = ", ".join(
                f"CAST(sum(CAST(element_at(sub, {d + 1}) AS DECIMAL(38,18)))"
                f" AS DOUBLE) / count(*)"
                for d in range(d_sub)
            )
            rows = (
                assigned.groupBy("s", "cell")
                .agg(F.expr(f"array({means})").alias("ms"))
                .collect()
            )
            for r in rows:
                books[int(r["s"])][int(r["cell"])] = [
                    float(x) for x in r["ms"]
                ]
        return books
    finally:
        emb.unpersist()


def pq_encode(
    embeddings: DataFrame,
    books: dict[int, dict[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector as its per-subspace nearest-centroid ids —
    one map-side projection (codebooks are plan literals), no shuffle.
    Returns (id, code array<int>)."""
    emb = _as_double(embeddings, vec_col)
    spread = emb.repartition(
        emb.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
    )
    return spread.select(
        id_col, F.expr(_pq_code_sql(books, vec_col)).alias("code")
    )


def _pq_subspace_sql(
    books: dict[int, dict[int, list[float]]], s: int, vec_col: str
) -> str:
    """The ONE PQ assignment expression: the 6-dp codebook-distance
    structs of subspace ``s`` of ``vec_col``. The argmin's cid is the
    subspace's code, its d the subspace's reconstruction error."""
    d_sub = len(next(iter(books[0].values())))
    sl = f"slice(`{vec_col}`, {s * d_sub + 1}, {d_sub})"
    return _dist_structs_sql(books[s], sl, _sql_dot(sl, sl), 6)


def _pq_code_sql(
    books: dict[int, dict[int, list[float]]], vec_col: str
) -> str:
    """The PQ code of ``vec_col``: array of the per-subspace
    nearest-centroid ids."""
    parts = [
        f"array_min({_pq_subspace_sql(books, s, vec_col)}).cid"
        for s in range(len(books))
    ]
    return "array(" + ", ".join(parts) + ")"


def _pq_dist_tables(
    emb: DataFrame,
    query_ids: list[int],
    books: dict[int, dict[int, list[float]]],
    id_col: str,
    vec_col: str,
) -> dict[int, list[list[float]]]:
    """The ONE ADC distance table per query row of ``emb``: entry
    [s][c] is the squared L2 distance between the query's subspace
    ``s`` and centroid ``c`` (sorted cid order), rounded to 6 dp.
    Computed driver-side (m x n_centroids doubles per query — it IS
    the query's lookup structure) with fold arithmetic bit-matching
    the engines, so the tables bake into the plan as literals."""
    d_sub = len(next(iter(books[0].values())))
    qrows = {
        int(r[0]): [float(x) for x in r[1]]
        for r in _as_double(emb, vec_col)
        .filter(F.col(id_col).isin(query_ids))
        .select(id_col, vec_col)
        .collect()
    }
    tables = {}
    for qid, qv in qrows.items():
        table = []
        for s in range(len(books)):
            qs = qv[s * d_sub : (s + 1) * d_sub]
            qq = _py_dot(qs, qs)
            row = []
            for cid in sorted(books[s]):
                cv = books[s][cid]
                d = qq + _py_dot(cv, cv) - 2.0 * _py_dot(qs, cv)
                row.append(math.floor(d * 1e6 + 0.5) / 1e6)
            table.append(row)
        tables[qid] = table
    return tables


def _adc_sql(table_sql: str, m: int) -> str:
    """The ADC distance of a row's ``code`` under the (subspace x
    centroid) distance table ``table_sql``: the table entries of its
    ``m`` codes summed in exact decimal, as a double. The lambda
    result is re-cast to the accumulator type (Spark's decimal
    addition promotes 38,18 -> 38,17); lossless here — entries carry
    6 decimal digits, sums of 8 never need 18."""
    return (
        f"CAST(aggregate(sequence(0, {m - 1}), "
        f"CAST('0' AS DECIMAL(38,18)), (acc, s) -> CAST(acc + "
        f"CAST(element_at(element_at({table_sql}, s + 1), "
        f"element_at(code, s + 1) + 1) AS DECIMAL(38,18)) "
        f"AS DECIMAL(38,18))) AS DOUBLE)"
    )


def ann_topk_pq(
    embeddings: DataFrame,
    query_ids: list[int],
    books: dict[int, dict[int, list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k: corpus rows are scored
    through their 8-byte codes only — approx_dist(q, x) = sum over
    subspaces of d2(q_sub, codebook[s][code_s]) — so the scan touches
    codes, not vectors. The per-query distance table (m x n_centroids
    doubles — it IS the query's lookup structure) is computed
    driver-side with fold arithmetic bit-matching the engines and
    baked into the plan; scoring is one map-side projection + explode
    (per query) + the top-k window. No shuffle touches the corpus
    until the (tiny) ranked result. Distance-table entries are rounded
    to 6 dp and the ADC sum runs in exact decimal, so the result is
    fully value-checked against the oracle's in-engine recomputation.
    """
    tables = _pq_dist_tables(embeddings, query_ids, books, id_col, vec_col)
    encoded = pq_encode(embeddings, books, id_col=id_col, vec_col=vec_col)
    branches = [
        f"named_struct('query_id', {qid}, "
        f"'ad', {_adc_sql(_sql_array(tables[qid]), len(books))})"
        for qid in sorted(tables)
    ]
    scored = encoded.select(
        id_col,
        F.explode(F.expr("array(" + ", ".join(branches) + ")")).alias("qa"),
    ).select(
        F.col("qa.query_id").alias("query_id"), id_col,
        F.col("qa.ad").alias("ad"),
    ).filter(F.col(id_col) != F.col("query_id"))
    return _topk(scored, k, id_col, "ad", False, "approx_dist")


def ann_topk_ivfpq(
    index: DataFrame,
    query_ids: list[int],
    coarse: dict[int, list[float]],
    books: dict[int, dict[int, list[float]]],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ composition — the standard billion-scale ANN layout:
    the coarse (IVF) codebook restricts each query to its ``nprobe``
    nearest cells, and within probed cells candidates are scored
    through their PQ codes only (same ADC tables as ann_topk_pq).

    ``index`` is the persisted cell assignment of the corpus,
    ``ivf_index(corpus, coarse)`` over the same ``coarse`` codebook,
    so a call runs no corpus argmin: the PQ code column (map-side,
    the books are plan literals) rides on the index's cells, and the
    queries probe through ``_ivf_probes``; the probe join is
    broadcast; ADC lookups index a 3-D literal
    (query x subspace x centroid) via array_position on the query id.
    Nothing corpus-sized shuffles before the top-k window. Fully
    value-checked: the oracle recomputes both codebooks in-engine and
    repeats the probe + ADC join."""
    assigned = index.select(
        id_col, "cell", F.expr(_pq_code_sql(books, vec_col)).alias("code")
    )
    probes = _ivf_probes(
        _corpus_queries(index, query_ids, id_col, vec_col), coarse, nprobe
    ).select("query_id", "cell")
    tables = _pq_dist_tables(index, query_ids, books, id_col, vec_col)
    qids = sorted(tables)
    dt3d = _sql_array([tables[q] for q in qids])
    qid_arr = "array(" + ",".join(f"CAST({q} AS BIGINT)" for q in qids) + ")"
    adc = _adc_sql(
        f"element_at({dt3d}, CAST(array_position({qid_arr}, query_id) AS INT))",
        len(books),
    )
    cand = _probed_candidates(assigned, probes, id_col, "code")
    scored = cand.select("query_id", id_col, F.expr(adc).alias("ad"))
    return _topk(scored, k, id_col, "ad", False, "approx_dist")


def ann_recall_at_k(
    embeddings: DataFrame,
    query_ids: list[int],
    exact: DataFrame,
    k: int = 10,
    planes: int = 4,
    tables: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Retrieval-quality evaluation: per-query recall@k of the LSH
    approximate top-k against the exact brute-force top-k ground truth
    — "measure, don't guess" as an operator. Every approximate index
    (LSH / IVF / PQ) trades recall for speed; a pipeline that deploys
    one without continuously measuring that trade ships silent quality
    regressions, so the evaluation join belongs in the engine next to
    the indexes it audits.

    recall@k(q) = |approx_topk(q) ∩ exact_topk(q)| / k. The exact side
    is the expensive one (one corpus pass per query batch) — which is
    fine, because this runs on a SAMPLE of queries as a quality gate,
    not per lookup. Both sides are top-k-per-query relations, so the
    intersection join and the per-query count are |queries| x k sized —
    driver- and shuffle-trivial at any corpus size. The division is
    exact (count <= k over a small integer), so the key value-checks.

    ``exact``: the (query_id, <id_col>) exact top-k of ``query_ids``
    (``ann_topk_bruteforce`` at the same k), materialized by the
    caller so a session shares one brute-force truth across keys.

    Output: (query_id, n_exact, n_hit, recall).
    """
    approx = ann_topk_lsh(
        embeddings,
        query_ids,
        k=k,
        planes=planes,
        tables=tables,
        dim=dim,
        id_col=id_col,
        vec_col=vec_col,
    )
    hits = exact.select("query_id", id_col).join(
        approx.select("query_id", id_col), ["query_id", id_col], "left_semi"
    )
    per_q = (
        exact.groupBy("query_id")
        .agg(F.count("*").alias("n_exact"))
        .join(
            hits.groupBy("query_id").agg(F.count("*").alias("n_hit")),
            "query_id",
            "left",
        )
    )
    return per_q.select(
        "query_id",
        F.col("n_exact").cast("bigint").alias("n_exact"),
        F.coalesce(F.col("n_hit"), F.lit(0)).cast("bigint").alias("n_hit"),
        (
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("double") / F.lit(k)
        ).alias("recall"),
    )


def ann_topk_lsh_multiprobe(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    planes: int = 4,
    tables: int = 1,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-probe LSH (Lv et al., VLDB'07): besides the query's own
    bucket, probe the ``planes`` neighbor buckets that differ by ONE
    hyperplane sign — the buckets a near-neighbor most likely fell
    into when it landed just across one boundary. Recall comparable to
    adding hash tables WITHOUT replicating the corpus bucketing: the
    corpus is still bucketed once per table; only the (tiny) query
    relation fans out x(planes+1). At 100 TB that trade — query-side
    fan-out instead of corpus-side duplication — is the whole point.

    Same candidate dedup + exact-cosine ranking as ``ann_topk_lsh``;
    recall improvement is measurable with ``ann_recall_at_k``'s
    methodology (see the paired pytest).
    """
    flips = [0] + [2**p for p in range(planes)]
    return _lsh_topk(
        embeddings, query_ids, k, planes, tables, dim, id_col, vec_col, flips
    )


def pca_top_component(
    embeddings: DataFrame,
    iterations: int = 64,
    vec_col: str = "embedding",
) -> DataFrame:
    """Top principal component of the embedding corpus by power
    iteration over the Gram matrix — the first step of PCA whitening /
    anisotropy removal ("all-but-the-top") that embedding pipelines
    run before indexing.

    Scale shape: the corpus-sized work is ONE pass — a nested
    ``transform`` fans each vector into its dim^2 outer-product terms
    (map-side, no join, no duplicated array carry) and a single
    groupBy(i, j) reduces them with exact decimal sums (partial
    aggregation collapses every partition to <= dim^2 rows before the
    shuffle, so the exchange is O(dim^2), not O(N)). The driver then
    holds only the dim x dim Gram matrix — like the IVF codebook, it
    IS the model (bounded collect) — and runs the O(dim^2 x iters)
    power iteration locally; the corpus is never touched again.

    Deterministic and engine-portable (the ``train_ivf_centroids``
    recipe): Gram entries are order-independent decimal sums; each
    iterate is snapped to 9 decimals (``floor(x*1e9+0.5)/1e9``) after
    the IEEE-exact normalize, so the recurrence stays in lockstep with
    the DuckDB oracle's unrolled-CTE replay regardless of either
    engine's summation order; the fixed all-0.125 start vector makes
    the eigenvector sign reproducible.
    """
    import math

    emb = _as_double(embeddings, vec_col)
    # rebalance BEFORE the dim^2 fan-out (same rule as the minhash
    # shingle and lm_trigram explodes): a single-file local input
    # scans as one partition, serializing the outer-product stage on
    # one core; the tiny shuffle of raw vectors buys full-width CPU.
    emb = emb.repartition(
        emb.sparkSession.sparkContext.defaultParallelism
    )
    # two chained posexplode generators stay inside whole-stage
    # codegen (a nested higher-order transform builds 4096 structs per
    # row interpreted — measured ~2x slower at sf0.1); the duplicated
    # array carry between the generators never crosses a stage
    # boundary, so nothing row-multiplied is shuffled.
    pairs = (
        emb.select(F.posexplode(vec_col).alias("i", "xi"), vec_col)
        .select("i", "xi", F.posexplode(vec_col).alias("j", "xj"))
        .select("i", "j", (F.col("xi") * F.col("xj")).alias("p"))
    )
    gram_rows = (
        pairs.groupBy("i", "j")
        .agg(F.sum(F.col("p").cast("decimal(38,18)")).alias("g"))
        .collect()
    )
    dim = max(r["i"] for r in gram_rows) + 1
    G = [[0.0] * dim for _ in range(dim)]
    for r in gram_rows:
        G[r["i"]][r["j"]] = float(r["g"])

    def snap9(x: float) -> float:
        return math.floor(x * 1e9 + 0.5) / 1e9

    v = [0.125] * dim
    for _ in range(iterations):
        w = [sum(G[i][j] * v[j] for j in range(dim)) for i in range(dim)]
        nrm = math.sqrt(sum(x * x for x in w))
        if nrm == 0.0:
            # zero Gram matrix (all-zero corpus): power iteration has
            # no direction to find — short-circuit with zero loadings
            # and zero eigenvalue instead of ZeroDivisionError.
            v = [0.0] * dim
            break
        v = [snap9(x / nrm) for x in w]
    w = [sum(G[i][j] * v[j] for j in range(dim)) for i in range(dim)]
    eig = sum(v[i] * w[i] for i in range(dim))
    tr = sum(G[i][i] for i in range(dim))
    if tr == 0.0:
        tr = 1.0  # var_share of a zero-variance corpus reports 0, not NaN

    def r6(x: float) -> float:
        return math.floor(x * 1e6 + 0.5) / 1e6

    def r4(x: float) -> float:
        return math.floor(x * 1e4 + 0.5) / 1e4

    spark = embeddings.sparkSession
    out = [
        (int(i + 1), float(r6(v[i])), float(r4(eig)), float(r6(eig / tr)))
        for i in range(dim)
    ]
    return spark.createDataFrame(
        out, "dim int, loading double, eigenvalue double, var_share double"
    )


class IvfNprobeStats(NamedTuple):
    """The call-invariant inputs of ``ivf_nprobe_plan`` over one index
    and one exact truth: ``pop`` (cell, pop), the rows per cell;
    ``truth_cells`` (query_id, cell, n_truth), the exact top-k rows
    counted per cell; ``n_total``, the corpus row count. Both
    relations are eagerly checkpointed."""

    pop: DataFrame
    truth_cells: DataFrame
    n_total: int


def ivf_nprobe_stats(
    index: DataFrame, exact: DataFrame, id_col: str = "vec_id"
) -> IvfNprobeStats:
    """Prepare ``index`` and ``exact`` for ``ivf_nprobe_plan``: the
    two reductions over the whole index that no ladder point, probe
    order or call changes, built once, so a caller that persists the
    result (the catalog's ``ivf_nprobe_stats`` artifact) runs only
    the probes and the ladder aggregate on every later call.

    ``index``: the persisted cell assignment of the corpus
    (``ivf_index``). ``exact``: the (query_id, <id_col>) exact top-k
    of the planner's queries (``ann_topk_bruteforce`` at the planner's
    k); it is codebook-independent, so a session shares one."""
    assigned = index.select(id_col, "cell")
    pop = (
        assigned.groupBy("cell")
        .agg(F.count("*").cast("bigint").alias("pop"))
        .localCheckpoint(eager=True)
    )
    truth_cells = (
        exact.select("query_id", id_col)
        .join(assigned, id_col)
        .groupBy("query_id", "cell")
        .agg(F.count("*").cast("bigint").alias("n_truth"))
        .localCheckpoint(eager=True)
    )
    n_total = pop.agg(F.sum("pop")).first()[0] or 0
    return IvfNprobeStats(pop, truth_cells, n_total)


def ivf_nprobe_plan(
    index: DataFrame,
    query_ids: list[int],
    centroids: dict[int, list[float]],
    stats: IvfNprobeStats,
    ladder: tuple[int, ...] = (1, 2, 4, 8),
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF nprobe-LADDER PLANNER — the sizing report for the probe
    lever, completing the planner family next to the LSH banding
    ladder and the degree-cap ladder: for each candidate ``nprobe``,
    the MEASURED cell recall@k on this corpus (fraction of the exact
    brute-force top-k whose cell is among the query's nprobe nearest)
    and the scan cost it buys (fraction of the corpus the probed
    cells contain). This is what an operator reads to pick nprobe
    before a 100-TB ANN run: more probes => higher recall AND more
    scanned rows; the right point depends on how the TRAINED codebook
    carved this corpus, not on the formula alone.

    Everything is exact integers until two final divisions (hits/(|Q|·k)
    and scanned/(|Q|·N) — one double division each, engine-identical):
    the cells are the index's 6-dp argmin over the literal codebook,
    the probe order per query is the same rounded distance sort, and
    the brute-force truth is the exact top-k that ``stats`` counted
    per cell.

    ``index``: the persisted cell assignment of the corpus,
    ``ivf_index(corpus, centroids)`` over the same ``centroids``.
    ``stats``: ``ivf_nprobe_stats(index, exact)`` for the exact top-k
    of ``query_ids`` at this ``k``. A call runs only the query probe
    order and ONE 1-row aggregate over probes ⋈ pop ⟕ truth_cells
    (both broadcast): per ladder point p, the hits are sum(n_truth)
    and the scanned rows sum(pop) over probe_rank <= p; one explode
    then emits a row per nprobe. Summing n_truth over the probed
    cells counts a truth row exactly when its cell's probe rank is
    <= p, the same hits as taking each truth row's minimum probe rank:
    each truth row has exactly one cell, and a query's probed cells
    are distinct, so a truth row meets at most one probe row."""
    nq = len(query_ids)
    probes = _ivf_probes(
        _corpus_queries(index, query_ids, id_col, vec_col),
        centroids,
        max(ladder),
    ).select("query_id", "probe_rank", "cell")
    rank = F.col("probe_rank")
    ladder_sums = (
        probes.join(F.broadcast(stats.pop), "cell")
        .join(F.broadcast(stats.truth_cells), ["query_id", "cell"], "left")
        .agg(
            *[
                F.coalesce(
                    F.sum(F.when(rank <= p, F.col("n_truth"))), F.lit(0)
                ).cast("bigint").alias(f"h{i}")
                for i, p in enumerate(ladder)
            ],
            *[
                F.sum(F.when(rank <= p, F.col("pop")))
                .cast("bigint").alias(f"s{i}")
                for i, p in enumerate(ladder)
            ],
        )
    )
    steps = F.array(*[
        F.struct(
            F.lit(p).cast("int").alias("nprobe"),
            F.col(f"h{i}").alias("hits"),
            F.col(f"s{i}").alias("scanned_rows"),
        )
        for i, p in enumerate(ladder)
    ])
    return (
        ladder_sums.select(F.explode(steps).alias("l"))
        .select(
            "l.nprobe",
            _fround(
                F.col("l.hits") * F.lit(1.0) / F.lit(nq * k), 6
            ).alias("recall_at_k"),
            _fround(
                F.col("l.scanned_rows")
                * F.lit(1.0)
                / F.lit(nq * stats.n_total),
                6,
            ).alias("scan_frac"),
            "l.scanned_rows",
        )
    )
