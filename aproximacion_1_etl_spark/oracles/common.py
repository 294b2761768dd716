"""Shared DuckDB SQL builders/fragments for the oracle catalog
(mechanically moved from the monolithic oracles.py)."""


from __future__ import annotations

from aproximacion_1_etl_spark.text.analysis import (
    BM25_QUERIES as _BM25_QUERIES,
)
from aproximacion_1_etl_spark.text.dedup import lsh_catch_probability_sql
from aproximacion_1_etl_spark.text.vector import _hyperplane


# --- shared fragments ---------------------------------------------------

_WORK_SQL = """
WITH items AS (
  SELECT l_orderkey, count(*) AS n_items,
         round(sum(l_quantity), 2) AS sum_qty,
         floor((CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS DOUBLE)) * 100.0 + 0.5) / 100.0 AS revenue
  FROM lineitem GROUP BY 1
), latest AS (
  SELECT user_id, event_type AS latest_event_type, value AS latest_value
  FROM (SELECT *, row_number() OVER (
          PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) WHERE rn = 1
), sched AS (
  SELECT user_id, min(ts) AS scheduled_ts FROM events GROUP BY 1
), work AS (
  SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus,
         round(o.o_totalprice, 2) AS o_totalprice,
         coalesce(i.n_items, 0) AS n_items,
         coalesce(i.sum_qty, 0.0) AS sum_qty,
         coalesce(i.revenue, 0.0) AS revenue,
         l.latest_event_type,
         floor((l.latest_value) * 100.0 + 0.5) / 100.0 AS latest_value,
         strftime(s.scheduled_ts, '%Y-%m-%d %H:%M:%S') AS first_event_ts
  FROM orders o
  LEFT JOIN items i ON o.o_orderkey = i.l_orderkey
  LEFT JOIN latest l ON o.o_custkey = l.user_id
  LEFT JOIN sched s ON o.o_custkey = s.user_id
)
"""

_SHINGLES_SQL = """
shingles AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
    FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks)-2)) AS i
          FROM (SELECT doc_id, string_split(text, ' ') AS toks
                FROM documents WHERE len(string_split(text, ' ')) >= 3))
  )
)
"""


def _simhash_sql(bits: int = 16) -> str:
    """Generated mirror of text/dedup.py::simhash (same bit math)."""
    bit_cols = []
    for j in range(bits):
        div = 2 ** (3 - j % 4)
        bit_cols.append(
            f"CASE WHEN ((strpos('0123456789abcdef', substr(h, {j // 4 + 1}, 1)) - 1)"
            f" // {div}) % 2 = 1 THEN 1 ELSE -1 END AS b{j}"
        )
    sums = ", ".join(f"CAST(sum(b{j}) AS BIGINT) AS s{j}" for j in range(bits))
    sig = " + ".join(
        f"CASE WHEN s{j} >= 0 THEN {2**j} ELSE 0 END" for j in range(bits)
    )
    return f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
h AS (SELECT doc_id, md5(tok) AS h FROM tok),
bits AS (SELECT doc_id, {', '.join(bit_cols)} FROM h),
s AS (SELECT doc_id, {sums} FROM bits GROUP BY 1)
SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM s
"""


def _plane_literal(table: int, plane: int, dim: int) -> str:
    return "[" + ", ".join(repr(_hyperplane(table, plane, d)) for d in range(dim)) + "]"


def _near_dup_lsh_sql(
    threshold: float = 0.4, planes: int = 4, tables: int = 2, dim: int = 64
) -> str:
    """Generated mirror of text/vector.py::embedding_near_dup_lsh."""
    per_table = []
    for t in range(tables):
        terms = " + ".join(
            f"CASE WHEN list_dot_product(v, {_plane_literal(t, p, dim)}) >= 0 "
            f"THEN {2**p} ELSE 0 END"
            for p in range(planes)
        )
        per_table.append(
            f"SELECT vec_id, nv, {t} AS tbl, ({terms}) AS bucket FROM e"
        )
    buckets = " UNION ALL ".join(per_table)
    return f"""
WITH raw AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
e AS (SELECT vec_id, v,
             list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv
      FROM raw),
bk AS ({buckets}),
cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         FROM bk a JOIN bk b
           ON a.tbl = b.tbl AND a.bucket = b.bucket
          AND a.vec_id < b.vec_id),
p AS (SELECT c.vec_a, c.vec_b,
             floor(list_dot_product(ea.nv, eb.nv) * 1000000.0 + 0.5)
               / 1000000.0 AS cos_sim
      FROM cand c
      JOIN e ea ON c.vec_a = ea.vec_id
      JOIN e eb ON c.vec_b = eb.vec_id)
SELECT vec_a, vec_b, floor((cos_sim) * 10000.0 + 0.5) / 10000.0 AS cos_sim
FROM p WHERE cos_sim >= {threshold}
"""


def _lsh_sql(
    query_ids: str = "0, 1, 2, 3, 4",
    k: int = 10,
    planes: int = 4,
    tables: int = 2,
    dim: int = 64,
) -> str:
    """Generated mirror of text/vector.py::ann_topk_lsh — identical
    hyperplane constants, bucketing, candidate dedup, and ranking."""
    per_table = []
    for t in range(tables):
        terms = " + ".join(
            f"CASE WHEN list_dot_product(v, {_plane_literal(t, p, dim)}) >= 0 "
            f"THEN {2**p} ELSE 0 END"
            for p in range(planes)
        )
        per_table.append(
            f"SELECT vec_id, v, {t} AS tbl, ({terms}) AS bucket FROM e"
        )
    buckets = " UNION ALL ".join(per_table)
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
bk AS ({buckets}),
q AS (SELECT vec_id AS qid, v AS qv, tbl, bucket FROM bk
      WHERE vec_id IN ({query_ids})),
cand AS (SELECT DISTINCT q.qid, b.vec_id
         FROM bk b JOIN q ON b.tbl = q.tbl AND b.bucket = q.bucket
         WHERE b.vec_id != q.qid),
s AS (SELECT c.qid AS query_id, c.vec_id,
             floor((list_dot_product(qe.v, ce.v) /
                   (sqrt(list_dot_product(qe.v, qe.v)) *
                    sqrt(list_dot_product(ce.v, ce.v)))) * 1000000000.0 + 0.5) / 1000000000.0 AS cos_sim
      FROM cand c
      JOIN e ce ON c.vec_id = ce.vec_id
      JOIN e qe ON c.qid = qe.vec_id),
r AS (SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS rank
      FROM s)
SELECT query_id, vec_id, floor((cos_sim) * 10000.0 + 0.5) / 10000.0 AS cos_sim, rank
FROM r WHERE rank <= {k}
"""


def _sentence_chunk_ctes(budget: int = 25) -> str:
    """CTE chain text for the sentence->chunk assignment — sc_tok
    (doc_id, pos, tok, sent_idx), sc_sents (doc_id, sent_idx, n_toks),
    sc_bins (+chunk_id via the boundary snap). ONE definition for the
    semantic_chunking oracle and the chunk-retrieval oracle, mirroring
    queries/text.py::_sentence_tokens/_sentence_chunk_bins verbatim."""
    return f"""sc_base AS (SELECT doc_id, string_split(text, ' ') AS t
           FROM documents),
sc_pos AS (
  SELECT doc_id, unnest(generate_series(1, len(t))) AS pos, t
  FROM sc_base),
sc_tok0 AS (SELECT doc_id, pos, t[pos] AS tok FROM sc_pos),
sc_tok AS (
  SELECT doc_id, pos, tok,
         1 + coalesce(sum(CASE WHEN tok IN ('a', 'the') THEN 1
                          ELSE 0 END)
             OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             0) AS sent_idx
  FROM sc_tok0),
sc_sents AS (
  SELECT doc_id, CAST(sent_idx AS BIGINT) AS sent_idx,
         CAST(count(*) AS BIGINT) AS n_toks
  FROM sc_tok GROUP BY 1, 2),
sc_bins AS (
  SELECT doc_id, sent_idx, n_toks,
         CAST(coalesce(sum(n_toks)
             OVER (PARTITION BY doc_id ORDER BY sent_idx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             0) // {budget} AS BIGINT) AS chunk_id
  FROM sc_sents)"""


def _bm25_sql(
    queries: dict[int, list[str]],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    relation: str = "documents",
) -> str:
    """Generated mirror of text/analysis.py::bm25_topk. Floating-point
    literals are emitted with repr() of the SAME Python arithmetic the
    Spark plan bakes in (k1+1.0, 1.0-b), and the idf / length-norm
    expressions are parenthesized operand-for-operand, so both engines
    compute bit-identical doubles; the per-doc contribution sum is
    decimal-cast in both."""
    vals = ", ".join(
        f"({qid}, '{t}')"
        for qid, terms in sorted(queries.items())
        for t in sorted(set(terms))
    )
    return f"""
WITH q(query_id, term) AS (SELECT * FROM (VALUES {vals})),
toks AS (SELECT doc_id, len(string_split(text, ' ')) AS dl,
                unnest(string_split(text, ' ')) AS term
         FROM {relation}),
tf AS (SELECT doc_id, term, max(dl) AS dl, count(*) AS tf
       FROM toks GROUP BY 1, 2),
qtf AS (SELECT * FROM tf WHERE term IN (SELECT DISTINCT term FROM q)),
df0 AS (SELECT term, count(*) AS df FROM qtf GROUP BY 1),
st AS (SELECT count(*) AS n_docs,
              avg(len(string_split(text, ' '))) AS avgdl
       FROM {relation}),
contrib AS (
  SELECT q.query_id, qtf.doc_id,
         ln(1.0 + (st.n_docs - df0.df + 0.5) / (df0.df + 0.5))
         * (qtf.tf * {k1 + 1.0!r})
         / (qtf.tf + {k1!r} * ({1.0 - b!r} + ({b!r} * qtf.dl) / st.avgdl))
           AS c
  FROM qtf JOIN q USING (term) JOIN df0 USING (term), st),
score AS (SELECT query_id, doc_id,
                 CAST(sum(CAST(c AS DECIMAL(38,18))) AS DOUBLE) AS s
          FROM contrib GROUP BY 1, 2),
r AS (SELECT query_id, doc_id, s,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY s DESC, doc_id ASC) AS rank
      FROM score)
SELECT CAST(query_id AS INT) AS query_id, doc_id,
       floor(s * 10000.0 + 0.5) / 10000.0 AS score,
       CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= {k}
"""


def _pagerank_sql(iterations: int = 5) -> str:
    """Generated mirror of operators/graph.py::pagerank over the
    customer->supplier bipartite graph (q_pagerank_suppliers): the
    damped fixed-iteration recurrence unrolled into one CTE per
    iteration. The contribution sums are decimal-cast in BOTH engines
    (same convention as _dsum), so every iteration's ranks are
    bit-identical regardless of partitioning/summation order — which is
    what makes a value oracle possible for an iterative algorithm.
    Literals mirror the Spark plan exactly: (1.0 - 0.85) so both
    engines compute the same IEEE double for the teleport term."""
    teleport = "(1.0 - 0.85) / nn.n"
    parts = [
        """
WITH e AS (
  SELECT DISTINCT o_custkey AS src, 1000000 + l_suppkey AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
nodes AS (SELECT src AS node FROM e UNION SELECT dst AS node FROM e),
nn AS (SELECT count(*) AS n FROM nodes),
deg AS (SELECT src, count(*) AS out_deg FROM e GROUP BY 1),
nr AS (SELECT node FROM nodes WHERE node NOT IN (SELECT dst FROM e)),
it0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes, nn)"""
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f""",
it{i} AS (
  SELECT c.node,
         {teleport} + 0.85 * CAST(c.received AS DOUBLE) AS rank
  FROM (SELECT e.dst AS node,
               sum(CAST(r.rank / deg.out_deg AS DECIMAL(38,20))) AS received
        FROM e JOIN deg USING (src) JOIN it{i - 1} r ON r.node = e.src
        GROUP BY 1) c, nn
  UNION ALL
  SELECT nr.node, {teleport} AS rank FROM nr, nn)"""
        )
    parts.append(
        f"""
SELECT node - 1000000 AS supplier,
       floor((rank * 1000000.0) * 100.0 + 0.5) / 100.0 AS rank_ppm
FROM it{iterations} WHERE node >= 1000000
ORDER BY rank_ppm DESC, supplier LIMIT 20"""
    )
    return "".join(parts)


def _ivf_cent_ctes(
    iterations: int = 3,
    dim: int = 64,
    min_c: int = 16,
    where: str = "",
    prefix: str = "",
) -> str:
    """Mirror of text/vector.py::train_ivf_centroids — Lloyd's k-means
    unrolled one (assign, mean, coalesce) CTE trio per iteration, so the
    trained codebook is recomputed IN-ENGINE and the downstream IVF
    queries stay fully value-checked. Parity levers: codebook size is
    greatest(min, ceiling(sqrt(count(*)))) == derive_n_centroids —
    IEEE sqrt of an exact integer < 2^52 is correctly rounded, so the
    SQL ceiling equals Python's isqrt(n-1)+1 for every practical n;
    assignment rounds the dot-product-identity distance to 9 dp with a
    (d, cid) lexicographic tie-break, and the per-dimension means are
    exact DECIMAL(38,18) sums divided in one double division —
    order-independent in both engines, so the recurrence is
    bit-reproducible. Empty cells keep their previous centroid
    (coalesce), mirroring the Spark dict update.

    ``prefix`` namespaces every CTE (e -> <p>e, cent -> <p>cent, ...)
    so TWO codebooks (e.g. the aging one and a retrained one) can
    train inside one statement without name collisions (r11,
    q_ivf_retrain_execute's oracle)."""
    wh = f" WHERE {where}" if where else ""
    p = prefix
    parts = [
        f"{p}e AS (SELECT vec_id, embedding::DOUBLE[] AS v"
        f" FROM embeddings{wh})",
        f"{p}nc AS (SELECT greatest({min_c}, CAST(ceiling(sqrt(CAST("
        f"count(*) AS DOUBLE))) AS BIGINT)) AS n FROM {p}e)",
        f"{p}cent0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id)"
        " - 1 AS INT) AS cid, v AS cv\n"
        f"          FROM {p}e WHERE vec_id < (SELECT n FROM {p}nc))",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"""{p}asg{i} AS (SELECT vec_id, v, cid FROM (
    SELECT e.vec_id, e.v, c.cid,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             floor((list_dot_product(e.v, e.v) + list_dot_product(c.cv, c.cv)
                    - 2.0 * list_dot_product(e.v, c.cv)) * 1000000000.0 + 0.5)
               / 1000000000.0 ASC, c.cid ASC) AS rn
    FROM {p}e e CROSS JOIN {p}cent{i - 1} c) WHERE rn = 1)"""
        )
        dims = ",\n    ".join(
            f"CAST(sum(CAST(v[{d + 1}] AS DECIMAL(38,18))) AS DOUBLE)"
            f" / count(*)"
            for d in range(dim)
        )
        parts.append(
            f"{p}mean{i} AS (SELECT cid, [\n    {dims}] AS cv"
            f" FROM {p}asg{i} GROUP BY cid)"
        )
        parts.append(
            f"{p}cent{i} AS (SELECT p.cid, coalesce(m.cv, p.cv) AS cv\n"
            f"            FROM {p}cent{i - 1} p"
            f" LEFT JOIN {p}mean{i} m ON p.cid = m.cid)"
        )
    parts.append(
        f"{p}cent AS (SELECT cid, cv, list_dot_product(cv, cv) AS cc"
        f" FROM {p}cent{iterations})"
    )
    return ",\n".join(parts)


def _pq_cent_ctes(
    m: int = 8,
    d_sub: int = 8,
    iterations: int = 3,
    n_centroids: int = 16,
    include_e: bool = True,
    where: str = "",
    prefix: str = "",
    e_sql: str = "",
) -> str:
    """Mirror of text/vector.py::train_pq_codebooks: the per-subspace
    k-means recurrence unrolled like _ivf_cent_ctes, once per
    subspace (same 9-dp rounded assignment, exact decimal means,
    coalesce for empty cells) — all m codebooks recomputed in-engine
    bit-for-bit. ``where`` filters the training relation and
    ``prefix`` namespaces every CTE (the _ivf_cent_ctes retrain
    devices), so two codebook GENERATIONS can train side by side in
    one statement (_pq_retrain_execute_sql); ``e_sql`` overrides the
    training-relation body entirely (the drift corpus's shifted
    union)."""
    p = prefix
    w = f" WHERE {where}" if where else ""
    body = (
        e_sql
        or f"SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings{w}"
    )
    parts = [f"{p}e AS ({body})"] if include_e else []
    for s in range(m):
        sl = f"list_slice(v, {s * d_sub + 1}, {s * d_sub + d_sub})"
        parts.append(f"{p}sub{s} AS (SELECT vec_id, {sl} AS sv FROM {p}e)")
        parts.append(
            f"{p}c{s}_0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id)"
            f" - 1 AS INT) AS cid, sv AS cv FROM {p}sub{s}"
            f" WHERE vec_id < {n_centroids})"
        )
        for i in range(1, iterations + 1):
            parts.append(
                f"""{p}a{s}_{i} AS (SELECT vec_id, sv, cid FROM (
    SELECT t.vec_id, t.sv, c.cid,
           row_number() OVER (PARTITION BY t.vec_id ORDER BY
             floor((list_dot_product(t.sv, t.sv)
                    + list_dot_product(c.cv, c.cv)
                    - 2.0 * list_dot_product(t.sv, c.cv))
                   * 1000000000.0 + 0.5) / 1000000000.0 ASC,
             c.cid ASC) AS rn
    FROM {p}sub{s} t CROSS JOIN {p}c{s}_{i - 1} c) WHERE rn = 1)"""
            )
            dims = ", ".join(
                f"CAST(sum(CAST(sv[{d + 1}] AS DECIMAL(38,18)))"
                f" AS DOUBLE) / count(*)"
                for d in range(d_sub)
            )
            parts.append(
                f"{p}m{s}_{i} AS (SELECT cid, [{dims}] AS cv"
                f" FROM {p}a{s}_{i} GROUP BY cid)"
            )
            parts.append(
                f"{p}c{s}_{i} AS (SELECT p.cid, coalesce(mm.cv, p.cv) AS cv"
                f" FROM {p}c{s}_{i - 1} p"
                f" LEFT JOIN {p}m{s}_{i} mm ON p.cid = mm.cid)"
            )
        parts.append(
            f"{p}cent_s{s} AS (SELECT cid, cv FROM {p}c{s}_{iterations})"
        )
    return ",\n".join(parts)


def _pq_retrain_execute_sql(
    m: int = 8,
    d_sub: int = 8,
    k: int = 10,
    query_ids: tuple = (0, 2, 1, 3),
) -> str:
    """Mirror of q_pq_retrain_execute: BOTH PQ codebook generations
    trained in-engine — the aging one on the store slice
    (vec_id % 2 = 0, unprefixed CTEs) and the retrained one on the
    DRIFTED appended corpus (prefix ``r_``: the store plus the
    vec_id % 8 in {1,3,5} waves with NEGATED vectors — a new encoder
    region the aging subspace centroids never saw; negation is exact
    in IEEE, so the shift is bit-portable) — then each generation
    encodes the SAME drifted corpus (6-dp subspace assignment),
    builds the per-query 6-dp distance tables, ranks by the
    exact-decimal ADC sum with the vec_id tie-break, and is scored
    against ONE shared exact squared-L2 ground truth (9-dp,
    self-excluded) over store AND wave queries. The global
    recall_recovered flag (retrained hits >= aging hits, exact
    integers) rides both rows."""
    drift_e = (
        "SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings"
        " WHERE vec_id % 2 = 0"
        " UNION ALL"
        " SELECT vec_id, list_transform(embedding::DOUBLE[], x -> -x)"
        " AS v FROM embeddings"
        " WHERE vec_id % 2 != 0 AND vec_id % 8 IN (1, 3, 5)"
    )
    ids = ", ".join(str(i) for i in query_ids)
    nk = len(query_ids) * k
    d6 = (
        "floor((list_dot_product({q}, {q}) + list_dot_product(c.cv, c.cv)"
        " - 2.0 * list_dot_product({q}, c.cv)) * 1000000.0 + 0.5)"
        " / 1000000.0"
    )
    csubs = ",\n".join(
        f"csub{s} AS (SELECT vec_id,"
        f" list_slice(v, {s * d_sub + 1}, {s * d_sub + d_sub}) AS sv"
        f" FROM corp)"
        for s in range(m)
    )

    def block(tag: str, p: str) -> str:
        code_branches = " UNION ALL ".join(
            f"""SELECT vec_id, {s} AS s, cell FROM (
  SELECT t.vec_id, c.cid AS cell,
         row_number() OVER (PARTITION BY t.vec_id ORDER BY
           {d6.format(q='t.sv')} ASC, c.cid ASC) AS rn
  FROM csub{s} t CROSS JOIN {p}cent_s{s} c) WHERE rn = 1"""
            for s in range(m)
        )
        qdt_branches = " UNION ALL ".join(
            f"""SELECT {s} AS s, t.vec_id AS query_id, c.cid,
       {d6.format(q='t.sv')} AS d
FROM (SELECT vec_id, sv FROM csub{s} WHERE vec_id IN ({ids})) t
CROSS JOIN {p}cent_s{s} c"""
            for s in range(m)
        )
        return f""",
{tag}codes AS ({code_branches}),
{tag}qdt AS ({qdt_branches}),
{tag}ap AS (SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY ad ASC, vec_id ASC) AS rn
    FROM (SELECT q.query_id, cd.vec_id,
                 CAST(sum(CAST(q.d AS DECIMAL(38,18))) AS DOUBLE) AS ad
          FROM {tag}codes cd JOIN {tag}qdt q
            ON cd.s = q.s AND cd.cell = q.cid
          WHERE cd.vec_id != q.query_id
          GROUP BY 1, 2)) WHERE rn <= {k}),
{tag}hits AS (SELECT CAST(count(*) AS BIGINT) AS hits
              FROM ex e JOIN {tag}ap a
                ON e.query_id = a.query_id AND e.vec_id = a.vec_id)"""

    def row(name: str, tag: str) -> str:
        return f"""SELECT '{name}' AS codebook, hits,
       floor((hits * 1.0 / {nk}) * 1000000.0 + 0.5) / 1000000.0
         AS recall,
       ((SELECT hits FROM newhits) >= (SELECT hits FROM oldhits))
         AS recall_recovered
FROM {tag}hits"""

    return f"""
WITH {_pq_cent_ctes(m=m, d_sub=d_sub, where="vec_id % 2 = 0")},
{_pq_cent_ctes(m=m, d_sub=d_sub, prefix="r_", e_sql=drift_e)},
corp AS (SELECT * FROM r_e),
{csubs},
qv AS (SELECT vec_id AS query_id, v AS qv FROM corp
       WHERE vec_id IN ({ids})),
ex AS (SELECT query_id, vec_id FROM (
    SELECT q.query_id, c.vec_id,
           row_number() OVER (PARTITION BY q.query_id ORDER BY
             floor((list_dot_product(c.v, c.v)
                    + list_dot_product(q.qv, q.qv)
                    - 2.0 * list_dot_product(c.v, q.qv))
                   * 1000000000.0 + 0.5) / 1000000000.0 ASC,
             c.vec_id ASC) AS rn
    FROM corp c CROSS JOIN qv q WHERE c.vec_id != q.query_id)
  WHERE rn <= {k}){block("old", "")}{block("new", "r_")}
{row("aging", "old")}
UNION ALL
{row("retrained", "new")}"""


def _pq_retrain_plan_sql(
    m: int = 8,
    d_sub: int = 8,
    k: int = 10,
    query_ids: tuple = (0, 2, 1),
    qerr: tuple = (2, 1),
    recall: tuple = (3, 10),
) -> str:
    """Mirror of q_pq_retrain_plan (r13 — the PQ drift trigger): the
    AGING books re-trained in-engine on the store slice
    (_pq_cent_ctes, vec_id % 2 = 0), then for each appended wave
    (wave 1: the unshifted vec_id % 8 = 1 day; wave 2: the negated
    vec_id % 8 in {1,3,5} backlog — the execute key's drift) the two
    evidence lines are recomputed from scratch:

    - quant_error: per-row reconstruction error = the decimal sum of
      per-subspace 6-dp min distances to the aging codewords, floored
      to an exact err6 integer (text/vector.py::
      pq_quantization_error's portability pattern); the batch/store
      mean ratio compares by exact DECIMAL cross-multiplication;
    - recall_probe: the aging books ADC-rank the wave's appended
      corpus (6-dp distance tables, exact-decimal ADC sums) against
      the exact squared-L2 ground truth; integer hits vs den·hits <
      num·|Q|·k.

    Every comparison the verdict hangs on is exact integer/decimal
    arithmetic, so the 6-row report value-checks bit-for-bit."""
    ids = ", ".join(str(i) for i in query_ids)
    nqk = len(query_ids) * k
    qnum, qden = qerr
    rnum, rden = recall
    d6 = (
        "floor((list_dot_product({q}, {q}) + list_dot_product(c.cv, c.cv)"
        " - 2.0 * list_dot_product({q}, c.cv)) * 1000000.0 + 0.5)"
        " / 1000000.0"
    )
    wave_rel = {
        1: (
            "SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings"
            " WHERE vec_id % 2 != 0 AND vec_id % 8 = 1"
        ),
        2: (
            "SELECT vec_id, list_transform(embedding::DOUBLE[], x -> -x)"
            " AS v FROM embeddings"
            " WHERE vec_id % 2 != 0 AND vec_id % 8 IN (1, 3, 5)"
        ),
    }

    def err_ctes(tag: str, rel: str) -> str:
        """Per-row err6 sums for one relation (``rel`` names a CTE)."""
        parts = []
        for s in range(m):
            sl = f"list_slice(v, {s * d_sub + 1}, {s * d_sub + d_sub})"
            parts.append(
                f"{tag}md{s} AS (SELECT vec_id, min(d) AS md FROM ("
                f"SELECT t.vec_id, {d6.format(q='t.sv')} AS d FROM "
                f"(SELECT vec_id, {sl} AS sv FROM {rel}) t "
                f"CROSS JOIN cent_s{s} c) GROUP BY vec_id)"
            )
        dsum = " + ".join(
            f"CAST(m{s}.md AS DECIMAL(38,18))" for s in range(m)
        )
        joins = " ".join(
            f"JOIN {tag}md{s} m{s} USING (vec_id)" for s in range(1, m)
        )
        parts.append(
            f"{tag}err AS (SELECT CAST(sum(err6) AS BIGINT) AS se,"
            f" CAST(count(*) AS BIGINT) AS n FROM ("
            f"SELECT m0.vec_id, CAST(floor(CAST(({dsum}) AS DOUBLE)"
            f" * 1000000.0 + 0.5) AS BIGINT) AS err6"
            f" FROM {tag}md0 m0 {joins}))"
        )
        return ",\n".join(parts)

    def recall_ctes(tag: str) -> str:
        """ADC-vs-exact hit count for one wave's corp ({tag}corp)."""
        csubs = ",\n".join(
            f"{tag}csub{s} AS (SELECT vec_id,"
            f" list_slice(v, {s * d_sub + 1}, {s * d_sub + d_sub}) AS sv"
            f" FROM {tag}corp)"
            for s in range(m)
        )
        code_branches = " UNION ALL ".join(
            f"""SELECT vec_id, {s} AS s, cell FROM (
  SELECT t.vec_id, c.cid AS cell,
         row_number() OVER (PARTITION BY t.vec_id ORDER BY
           {d6.format(q='t.sv')} ASC, c.cid ASC) AS rn
  FROM {tag}csub{s} t CROSS JOIN cent_s{s} c) WHERE rn = 1"""
            for s in range(m)
        )
        qdt_branches = " UNION ALL ".join(
            f"""SELECT {s} AS s, t.vec_id AS query_id, c.cid,
       {d6.format(q='t.sv')} AS d
FROM (SELECT vec_id, sv FROM {tag}csub{s} WHERE vec_id IN ({ids})) t
CROSS JOIN cent_s{s} c"""
            for s in range(m)
        )
        return f"""{csubs},
{tag}qv AS (SELECT vec_id AS query_id, v AS qv FROM {tag}corp
            WHERE vec_id IN ({ids})),
{tag}ex AS (SELECT query_id, vec_id FROM (
    SELECT q.query_id, c.vec_id,
           row_number() OVER (PARTITION BY q.query_id ORDER BY
             floor((list_dot_product(c.v, c.v)
                    + list_dot_product(q.qv, q.qv)
                    - 2.0 * list_dot_product(c.v, q.qv))
                   * 1000000000.0 + 0.5) / 1000000000.0 ASC,
             c.vec_id ASC) AS rn
    FROM {tag}corp c CROSS JOIN {tag}qv q
    WHERE c.vec_id != q.query_id) WHERE rn <= {k}),
{tag}codes AS ({code_branches}),
{tag}qdt AS ({qdt_branches}),
{tag}ap AS (SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY ad ASC, vec_id ASC) AS rn
    FROM (SELECT q.query_id, cd.vec_id,
                 CAST(sum(CAST(q.d AS DECIMAL(38,18))) AS DOUBLE) AS ad
          FROM {tag}codes cd JOIN {tag}qdt q
            ON cd.s = q.s AND cd.cell = q.cid
          WHERE cd.vec_id != q.query_id
          GROUP BY 1, 2)) WHERE rn <= {k}),
{tag}hits AS (SELECT CAST(count(*) AS BIGINT) AS hits
              FROM {tag}ex e JOIN {tag}ap a
                ON e.query_id = a.query_id AND e.vec_id = a.vec_id)"""

    def wave_rows(w: int) -> str:
        t = f"w{w}"
        qb = (
            f"CAST(ev.wse AS DECIMAL(38,0)) * ev.sn * {qden}"
            f" > CAST(ev.sse AS DECIMAL(38,0)) * ev.wn * {qnum}"
        )
        rb = f"ev.hits * {rden} < {rnum * nqk}"
        return f"""SELECT CAST({w} AS INT) AS wave,
       'quant_error' AS evidence,
       floor(((CAST(ev.wse AS DOUBLE) / CAST(ev.wn AS DOUBLE))
              / (CAST(ev.sse AS DOUBLE) / CAST(ev.sn AS DOUBLE)))
             * 1000000.0 + 0.5) / 1000000.0 AS value,
       {round(qnum / qden, 6)} AS bound,
       ({qb}) AS breach
FROM {t}ev ev
UNION ALL
SELECT CAST({w} AS INT) AS wave, 'recall_probe' AS evidence,
       floor((ev.hits * 1.0 / {nqk}) * 1000000.0 + 0.5) / 1000000.0
         AS value,
       {round(rnum / rden, 6)} AS bound,
       ({rb}) AS breach
FROM {t}ev ev
UNION ALL
SELECT CAST({w} AS INT) AS wave, 'verdict' AS evidence,
       CASE WHEN ({qb}) OR ({rb}) THEN 1.0 ELSE 0.0 END AS value,
       1.0 AS bound,
       (({qb}) OR ({rb})) AS breach
FROM {t}ev ev"""

    wave_blocks = []
    for w in (1, 2):
        wave_blocks.append(
            f"w{w}e AS ({wave_rel[w]}),\n"
            f"w{w}corp AS (SELECT * FROM e UNION ALL SELECT * FROM w{w}e),\n"
            + err_ctes(f"w{w}", f"w{w}e")
            + ",\n"
            + recall_ctes(f"w{w}")
            + f",\nw{w}ev AS (SELECT we.se AS wse, we.n AS wn,"
            f" se.se AS sse, se.n AS sn, h.hits"
            f" FROM w{w}err we, serr se, w{w}hits h)"
        )
    joined_waves = ",\n".join(wave_blocks)
    return f"""
WITH {_pq_cent_ctes(m=m, d_sub=d_sub, where="vec_id % 2 = 0")},
{err_ctes("s", "e")},
{joined_waves}
{wave_rows(1)}
UNION ALL
{wave_rows(2)}"""


def _ann_topk_pq_sql(
    m: int = 8,
    d_sub: int = 8,
    k: int = 10,
    query_ids: tuple = (0, 1, 2, 3, 4),
) -> str:
    """Mirror of text/vector.py::ann_topk_pq: in-engine PQ encode
    (6-dp assignment per subspace) + the same 6-dp distance table +
    exact-decimal ADC sum."""
    d6 = (
        "floor((list_dot_product({q}, {q}) + list_dot_product(c.cv, c.cv)"
        " - 2.0 * list_dot_product({q}, c.cv)) * 1000000.0 + 0.5)"
        " / 1000000.0"
    )
    code_branches = " UNION ALL ".join(
        f"""SELECT vec_id, {s} AS s, cell FROM (
  SELECT t.vec_id, c.cid AS cell,
         row_number() OVER (PARTITION BY t.vec_id ORDER BY
           {d6.format(q='t.sv')} ASC, c.cid ASC) AS rn
  FROM sub{s} t CROSS JOIN cent_s{s} c) WHERE rn = 1"""
        for s in range(m)
    )
    ids = ", ".join(str(i) for i in query_ids)
    qdt_branches = " UNION ALL ".join(
        f"""SELECT {s} AS s, t.vec_id AS query_id, c.cid,
       {d6.format(q='t.sv')} AS d
FROM (SELECT vec_id, sv FROM sub{s} WHERE vec_id IN ({ids})) t
CROSS JOIN cent_s{s} c"""
        for s in range(m)
    )
    return f"""
WITH {_pq_cent_ctes(m=m, d_sub=d_sub)},
codes AS ({code_branches}),
qdt AS ({qdt_branches}),
approx AS (
  SELECT qdt.query_id, codes.vec_id,
         CAST(sum(CAST(qdt.d AS DECIMAL(38,18))) AS DOUBLE) AS ad
  FROM codes JOIN qdt ON codes.s = qdt.s AND codes.cell = qdt.cid
  WHERE codes.vec_id != qdt.query_id
  GROUP BY 1, 2),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY ad ASC, vec_id ASC) AS rank
      FROM approx)
SELECT CAST(query_id AS INT) AS query_id, vec_id,
       floor(ad * 10000.0 + 0.5) / 10000.0 AS approx_dist,
       CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= {k}
"""


def _ann_topk_ivfpq_sql(
    m: int = 8,
    d_sub: int = 8,
    k: int = 10,
    nprobe: int = 4,
    query_ids: tuple = (0, 1, 2, 3, 4),
) -> str:
    """Mirror of text/vector.py::ann_topk_ivfpq: the IVF coarse chain
    (_ivf_cent_ctes) supplies cell assignment + probes; the PQ chains
    (_pq_cent_ctes) supply codes + distance tables; ADC runs only
    inside probed cells."""
    d6 = (
        "floor((list_dot_product({q}, {q}) + list_dot_product(c.cv, c.cv)"
        " - 2.0 * list_dot_product({q}, c.cv)) * 1000000.0 + 0.5)"
        " / 1000000.0"
    )
    ids = ", ".join(str(i) for i in query_ids)
    code_branches = " UNION ALL ".join(
        f"""SELECT vec_id, {s} AS s, cell FROM (
  SELECT t.vec_id, c.cid AS cell,
         row_number() OVER (PARTITION BY t.vec_id ORDER BY
           {d6.format(q='t.sv')} ASC, c.cid ASC) AS rn
  FROM sub{s} t CROSS JOIN cent_s{s} c) WHERE rn = 1"""
        for s in range(m)
    )
    qdt_branches = " UNION ALL ".join(
        f"""SELECT {s} AS s, t.vec_id AS query_id, c.cid,
       {d6.format(q='t.sv')} AS d
FROM (SELECT vec_id, sv FROM sub{s} WHERE vec_id IN ({ids})) t
CROSS JOIN cent_s{s} c"""
        for s in range(m)
    )
    return f"""
WITH {_ivf_cent_ctes()},
{_pq_cent_ctes(m=m, d_sub=d_sub, include_e=False)},
cd AS (SELECT e.vec_id, e.v, c.cid,
             floor((list_dot_product(e.v, e.v) + c.cc
                    - 2.0 * list_dot_product(e.v, c.cv)) * 1000000.0 + 0.5)
               / 1000000.0 AS d6
      FROM e CROSS JOIN cent c),
assign AS (SELECT vec_id, cid AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY d6 ASC, cid ASC) AS rn FROM cd)
  WHERE rn = 1),
probes AS (SELECT vec_id AS query_id, cid AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY d6 ASC, cid ASC) AS rn
    FROM cd WHERE vec_id IN ({ids}))
  WHERE rn <= {nprobe}),
codes AS ({code_branches}),
qdt AS ({qdt_branches}),
cand AS (SELECT DISTINCT p.query_id, a.vec_id
         FROM assign a JOIN probes p
           ON a.cell = p.cell AND a.vec_id != p.query_id),
approx AS (
  SELECT cand.query_id, cand.vec_id,
         CAST(sum(CAST(qdt.d AS DECIMAL(38,18))) AS DOUBLE) AS ad
  FROM cand
  JOIN codes ON codes.vec_id = cand.vec_id
  JOIN qdt ON qdt.s = codes.s AND qdt.cid = codes.cell
          AND qdt.query_id = cand.query_id
  GROUP BY 1, 2),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY ad ASC, vec_id ASC) AS rank
      FROM approx)
SELECT query_id, vec_id,
       floor(ad * 10000.0 + 0.5) / 10000.0 AS approx_dist,
       CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= {k}
"""


def _semantic_dedup_sql(
    threshold: float = 0.4,
    leaf_tables: int = 2,
    target_cell: int = 32,
    max_planes: int = 8,
    dim: int = 64,
) -> str:
    """Mirror of text/vector.py::semantic_dedup over the TRAINED
    codebook (threshold 0.4) WITH in-cell sign-LSH banding: training
    recurrence from _ivf_cent_ctes, the same 6-dp dist2 +
    lexicographic argmin assignment, then the derive_leaf_planes
    integer CASE chain computed IN-SQL from count(*) (cell_pop <=
    target << p — exact integer comparisons on both engines), the
    identical md5-derived hyperplane literals as Spark's lsh_bucket
    (each of max_planes sign terms masked by p < planes so the bucket
    uses exactly the derived band count), and the rounded-cosine
    keep-lowest-id drop rule over pairs sharing (table, cell,
    bucket)."""
    plane_cases = " ".join(
        f"WHEN cp <= {target_cell << p} THEN {p}" for p in range(max_planes)
    )
    per_table = []
    for t in range(leaf_tables):
        terms = " + ".join(
            f"CASE WHEN {p} < (SELECT p FROM nleaf) AND "
            f"list_dot_product(v, {_plane_literal(t, p, dim)}) >= 0 "
            f"THEN {2**p} ELSE 0 END"
            for p in range(max_planes)
        )
        per_table.append(
            f"SELECT vec_id, nv, cell, {t} AS tbl, ({terms}) AS bucket"
            " FROM assign"
        )
    buckets = " UNION ALL ".join(per_table)
    return f"""
WITH {_ivf_cent_ctes()},
nleaf AS (SELECT CASE {plane_cases} ELSE {max_planes} END AS p FROM (
            SELECT ((SELECT count(*) FROM e) + (SELECT n FROM nc) - 1)
                     // (SELECT n FROM nc) AS cp)),
d AS (SELECT e.vec_id, e.v, c.cid,
             floor((list_dot_product(e.v, e.v) + c.cc
                    - 2.0 * list_dot_product(e.v, c.cv)) * 1000000.0 + 0.5)
               / 1000000.0 AS d6
      FROM e CROSS JOIN cent c),
assign AS (SELECT vec_id, v,
                  list_transform(v, x -> x / sqrt(list_dot_product(v, v)))
                    AS nv,
                  CAST(cid AS INT) AS cell
           FROM (SELECT *, row_number() OVER (
                     PARTITION BY vec_id ORDER BY d6 ASC, cid ASC) AS rn
                 FROM d)
           WHERE rn = 1),
bk AS ({buckets}),
tot AS (SELECT cell, count(*) AS n_vectors FROM assign GROUP BY 1),
drp AS (SELECT cell, count(*) AS n_dropped FROM (
          SELECT DISTINCT b.cell, b.vec_id
          FROM bk a JOIN bk b
            ON a.tbl = b.tbl AND a.cell = b.cell AND a.bucket = b.bucket
           AND a.vec_id < b.vec_id
          WHERE floor(list_dot_product(a.nv, b.nv) * 1000000.0 + 0.5)
                  / 1000000.0 >= {threshold})
        GROUP BY 1)
SELECT t.cell, CAST(t.n_vectors AS BIGINT) AS n_vectors,
       CAST(coalesce(d.n_dropped, 0) AS BIGINT) AS n_dropped,
       CAST(t.n_vectors - coalesce(d.n_dropped, 0) AS BIGINT) AS n_kept
FROM tot t LEFT JOIN drp d ON t.cell = d.cell
"""


def _ivf_index_append_sql() -> str:
    """Mirror of q_ivf_index_append: codebook trained on the
    historical slice only (vec_id % 4 != 0 — the _ivf_cent_ctes
    recurrence over the filtered corpus), then ONE 6-dp argmin
    assignment relation over the full corpus split into baseline/new
    counts, a full-outer merge, and the two exact-integer policy
    flags (hot: n_total * n_cells > 2 * grand_total; retrain_due:
    2 * total_new >= total_baseline)."""
    return f"""
WITH {_ivf_cent_ctes(where="vec_id % 4 != 0")},
eall AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
d AS (SELECT eall.vec_id, c.cid,
             floor((list_dot_product(eall.v, eall.v) + c.cc
                    - 2.0 * list_dot_product(eall.v, c.cv)) * 1000000.0
                   + 0.5) / 1000000.0 AS d6
      FROM eall CROSS JOIN cent c),
asg AS (SELECT vec_id, CAST(cid AS INT) AS cell FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id
                                       ORDER BY d6 ASC, cid ASC) AS rn
          FROM d) WHERE rn = 1),
base AS (SELECT cell, count(*) AS n_baseline FROM asg
         WHERE vec_id % 4 != 0 GROUP BY 1),
newc AS (SELECT cell, count(*) AS n_new FROM asg
         WHERE vec_id % 4 = 0 GROUP BY 1),
merged AS (SELECT coalesce(b.cell, n.cell) AS cell,
                  coalesce(b.n_baseline, 0) AS n_baseline,
                  coalesce(n.n_new, 0) AS n_new
           FROM base b FULL OUTER JOIN newc n ON b.cell = n.cell),
tot AS (SELECT sum(n_baseline) AS tb, sum(n_new) AS tn,
               sum(n_baseline + n_new) AS ta FROM merged),
k AS (SELECT count(*) AS n_cells FROM cent)
SELECT cell,
       CAST(n_baseline AS BIGINT) AS n_baseline,
       CAST(n_new AS BIGINT) AS n_new,
       CAST(n_baseline + n_new AS BIGINT) AS n_total,
       ((n_baseline + n_new) * (SELECT n_cells FROM k))
         > 2 * (SELECT ta FROM tot) AS hot,
       (2 * (SELECT tn FROM tot)) >= (SELECT tb FROM tot) AS retrain_due
FROM merged
"""


def _ann_topk_ivf_sql() -> str:
    """Mirror of text/vector.py::ann_topk_ivf over the TRAINED codebook:
    training recurrence from _ivf_cent_ctes, then 6-dp assignment,
    nprobe=4 nearest cells per query, exact cosine within probed
    cells."""
    return f"""
WITH {_ivf_cent_ctes()},
d AS (SELECT e.vec_id, e.v, c.cid,
             floor((list_dot_product(e.v, e.v) + c.cc
                    - 2.0 * list_dot_product(e.v, c.cv)) * 1000000.0 + 0.5)
               / 1000000.0 AS d6
      FROM e CROSS JOIN cent c),
assign AS (SELECT vec_id, v, cid AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY d6 ASC, cid ASC) AS rn FROM d)
  WHERE rn = 1),
probes AS (SELECT vec_id AS query_id, v AS qv, cid AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY d6 ASC, cid ASC) AS rn
    FROM d WHERE vec_id IN (0, 1, 2, 3, 4))
  WHERE rn <= 4),
cand AS (SELECT p.query_id, a.vec_id, p.qv, a.v
         FROM assign a JOIN probes p
           ON a.cell = p.cell AND a.vec_id != p.query_id),
s AS (SELECT query_id, vec_id,
             floor((list_dot_product(qv, v) /
                    (sqrt(list_dot_product(qv, qv)) *
                     sqrt(list_dot_product(v, v)))) * 1000000000.0 + 0.5)
               / 1000000000.0 AS cos_sim
      FROM cand),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, vec_id ASC) AS rank
      FROM s)
SELECT query_id, vec_id,
       floor((cos_sim) * 10000.0 + 0.5) / 10000.0 AS cos_sim, rank
FROM r WHERE rank <= 10
"""


def _ivf_nprobe_plan_sql(
    ladder: tuple[int, ...] = (1, 2, 4, 8), k: int = 10
) -> str:
    """Mirror of text/vector.py::ivf_nprobe_plan: trained-codebook
    recurrence (_ivf_cent_ctes) -> 6-dp cell assignment + per-query
    probe order (the _ann_topk_ivf_sql devices), exact brute-force
    truth (_ann_brute_sql, nested so its CTE names stay scoped), then
    one aggregate per ladder entry over the (|Q|·k)-sized capture
    relation and the (|Q|·max nprobe)-sized scan relation. Exact
    integers until the two final one-division ratios, floor-rounded
    6 dp — identical on both engines."""
    pmax = max(ladder)
    nq = 5
    head = f"""WITH {_ivf_cent_ctes()},
d AS (SELECT e.vec_id, e.v, c.cid,
             floor((list_dot_product(e.v, e.v) + c.cc
                    - 2.0 * list_dot_product(e.v, c.cv)) * 1000000.0 + 0.5)
               / 1000000.0 AS d6
      FROM e CROSS JOIN cent c),
assign AS (SELECT vec_id, cid AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY d6 ASC, cid ASC) AS rn FROM d)
  WHERE rn = 1),
pop AS (SELECT cell, CAST(count(*) AS BIGINT) AS pop
        FROM assign GROUP BY 1),
tot AS (SELECT CAST(sum(pop) AS BIGINT) AS n_total FROM pop),
probes AS (SELECT vec_id AS query_id, cid AS cell,
                  CAST(rn AS BIGINT) AS probe_rank FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY d6 ASC, cid ASC) AS rn
    FROM d WHERE vec_id IN (0, 1, 2, 3, 4))
  WHERE rn <= {pmax}),
truth AS ({_ann_brute_sql("0, 1, 2, 3, 4", k)}),
cap AS (SELECT t.query_id, t.vec_id, min(p.probe_rank) AS captured_rank
        FROM truth t JOIN assign a ON a.vec_id = t.vec_id
        LEFT JOIN probes p ON p.query_id = t.query_id
                          AND p.cell = a.cell
        GROUP BY 1, 2),
scan AS (SELECT p.query_id, p.probe_rank, pop.pop
         FROM probes p JOIN pop USING (cell))
"""
    parts = []
    for p in ladder:
        parts.append(f"""SELECT CAST({p} AS INT) AS nprobe,
       floor(((SELECT CAST(sum(CASE WHEN captured_rank <= {p}
                      THEN 1 ELSE 0 END) AS BIGINT) FROM cap)
              * 1.0 / {nq * k}) * 1000000.0 + 0.5) / 1000000.0
         AS recall_at_k,
       floor(((SELECT CAST(sum(pop) AS BIGINT) FROM scan
               WHERE probe_rank <= {p})
              * 1.0 / ({nq} * (SELECT n_total FROM tot)))
             * 1000000.0 + 0.5) / 1000000.0 AS scan_frac,
       (SELECT CAST(sum(pop) AS BIGINT) FROM scan
        WHERE probe_rank <= {p}) AS scanned_rows""")
    return head + "\nUNION ALL\n".join(parts)


def _ivf_index_forget_sql() -> str:
    """Mirror of q_ivf_index_forget: codebook trained on the
    historical slice (vec_id % 4 != 0 — the _ivf_index_append_sql
    device), ONE 6-dp argmin assignment relation over the full
    corpus, the full census vs the RTBF wave's census (vec_id % 6 =
    0), and the exact-integer decrements + emptied flag."""
    return f"""
WITH {_ivf_cent_ctes(where="vec_id % 4 != 0")},
eall AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
d AS (SELECT eall.vec_id, c.cid,
             floor((list_dot_product(eall.v, eall.v) + c.cc
                    - 2.0 * list_dot_product(eall.v, c.cv)) * 1000000.0
                   + 0.5) / 1000000.0 AS d6
      FROM eall CROSS JOIN cent c),
asg AS (SELECT vec_id, CAST(cid AS INT) AS cell FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id
                                       ORDER BY d6 ASC, cid ASC) AS rn
          FROM d) WHERE rn = 1),
cur AS (SELECT cell, count(*) AS n_before FROM asg GROUP BY 1),
rm AS (SELECT cell, count(*) AS n_removed FROM asg
       WHERE vec_id % 6 = 0 GROUP BY 1)
SELECT coalesce(c.cell, r.cell) AS cell,
       CAST(coalesce(c.n_before, 0) AS BIGINT) AS n_before,
       CAST(coalesce(r.n_removed, 0) AS BIGINT) AS n_removed,
       CAST(coalesce(c.n_before, 0) - coalesce(r.n_removed, 0)
            AS BIGINT) AS n_after,
       (coalesce(c.n_before, 0) > 0
        AND coalesce(c.n_before, 0) - coalesce(r.n_removed, 0) = 0)
         AS emptied
FROM cur c FULL OUTER JOIN rm r ON c.cell = r.cell
"""


def _ivf_retrain_execute_sql() -> str:
    """Mirror of q_ivf_retrain_execute: BOTH codebooks trained
    in-engine — the aging one on the store slice (vec_id % 2 = 0,
    unprefixed CTEs) and the retrained one on the appended corpus
    (prefix ``r_``) — then for each the 6-dp assignment, nprobe=4
    probe set, probed-cell scan cost, and 9-dp IVF top-10 vs ONE
    shared exact ground truth over the same appended corpus; the
    global efficiency_improved flag (exact cross-multiplication:
    retrained hits·aging scanned >= aging hits·retrained scanned —
    recall per scanned row did not degrade) rides both rows (the
    retrain_due-repeats-per-row precedent)."""
    pred = "vec_id % 2 = 0 OR vec_id % 8 IN (1, 3, 5)"
    qids, nq, k, nprobe = "0, 2, 4", 3, 10, 4
    cos9 = (
        "floor((list_dot_product(q.qv, {v}) / "
        "(sqrt(list_dot_product(q.qv, q.qv)) * "
        "sqrt(list_dot_product({v}, {v})))) * 1000000000.0 + 0.5) "
        "/ 1000000000.0"
    )

    def block(tag: str, cent: str) -> str:
        return f""",
{tag}d AS (SELECT c.vec_id, c.v, ct.cid,
             floor((list_dot_product(c.v, c.v) + ct.cc
                    - 2.0 * list_dot_product(c.v, ct.cv)) * 1000000.0
                   + 0.5) / 1000000.0 AS d6
      FROM corp c CROSS JOIN {cent} ct),
{tag}asg AS (SELECT vec_id, CAST(cid AS INT) AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY d6 ASC, cid ASC) AS rn
    FROM {tag}d) WHERE rn = 1),
{tag}pop AS (SELECT cell, CAST(count(*) AS BIGINT) AS pop
             FROM {tag}asg GROUP BY 1),
{tag}tot AS (SELECT CAST(sum(pop) AS BIGINT) AS n_total FROM {tag}pop),
{tag}probes AS (SELECT vec_id AS query_id, CAST(cid AS INT) AS cell
                FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY d6 ASC, cid ASC) AS rn
    FROM {tag}d WHERE vec_id IN ({qids})) WHERE rn <= {nprobe}),
{tag}scan AS (SELECT CAST(sum(pop) AS BIGINT) AS scanned_rows
              FROM {tag}probes p JOIN {tag}pop USING (cell)),
{tag}cand AS (SELECT DISTINCT p.query_id, c.vec_id, c.v
              FROM corp c JOIN {tag}asg a ON a.vec_id = c.vec_id
              JOIN {tag}probes p ON p.cell = a.cell
                                AND c.vec_id != p.query_id),
{tag}ap AS (SELECT query_id, vec_id FROM (
    SELECT cd.query_id, cd.vec_id,
           row_number() OVER (PARTITION BY cd.query_id ORDER BY
             {cos9.format(v="cd.v")} DESC, cd.vec_id ASC) AS rn
    FROM {tag}cand cd JOIN qv q ON q.query_id = cd.query_id)
  WHERE rn <= {k}),
{tag}hits AS (SELECT CAST(count(*) AS BIGINT) AS hits
              FROM ex e JOIN {tag}ap a
                ON e.query_id = a.query_id AND e.vec_id = a.vec_id)"""

    def row(name: str, tag: str) -> str:
        nk = nq * k
        return f"""SELECT '{name}' AS codebook, hits,
       floor((hits * 1.0 / {nk}) * 1000000.0 + 0.5) / 1000000.0
         AS recall,
       scanned_rows,
       floor((scanned_rows * 1.0 / ({nq} * (SELECT n_total
                                            FROM {tag}tot)))
             * 1000000.0 + 0.5) / 1000000.0 AS scan_frac,
       ((SELECT hits FROM newhits) * (SELECT scanned_rows FROM oldscan)
        >= (SELECT hits FROM oldhits)
           * (SELECT scanned_rows FROM newscan))
         AS efficiency_improved
FROM {tag}hits h, {tag}scan s"""

    return f"""
WITH {_ivf_cent_ctes(where="vec_id % 2 = 0")},
{_ivf_cent_ctes(where=pred, prefix="r_")},
corp AS (SELECT * FROM r_e),
qv AS (SELECT vec_id AS query_id, v AS qv FROM corp
       WHERE vec_id IN ({qids})),
ex AS (SELECT query_id, vec_id FROM (
    SELECT q.query_id, c.vec_id,
           row_number() OVER (PARTITION BY q.query_id ORDER BY
             {cos9.format(v="c.v")} DESC, c.vec_id ASC) AS rn
    FROM corp c CROSS JOIN qv q WHERE c.vec_id != q.query_id)
  WHERE rn <= {k}){block("old", "cent")}{block("new", "r_cent")}
{row("aging", "old")}
UNION ALL
{row("retrained", "new")}"""


def _ivf_retrain_plan_sql() -> str:
    """Mirror of q_ivf_retrain_plan / text/vector.py::
    ivf_retrain_report: codebook recurrence on the STORE slice
    (vec_id % 2 = 0 — the _ivf_cent_ctes device of
    _ivf_index_append_sql), shared 6-dp assignment + per-query probe
    order, then per append wave the base/new cell-count merge with
    the hot rule (n_total·n_cells > 2·grand_total), the 9-dp exact
    and nprobe=4 IVF top-10 over the appended corpus slice, and the
    fixed 4-row evidence report. Exact integers everywhere until the
    two 6-dp one-division ratios per wave — identical on both
    engines."""
    qids, nq, k, nprobe = "0, 2, 4", 3, 10, 4
    waves = [(1, "vec_id % 8 = 1"), (2, "vec_id % 8 IN (1, 3, 5)")]
    cos9 = (
        "floor((list_dot_product(q.qv, {v}) / "
        "(sqrt(list_dot_product(q.qv, q.qv)) * "
        "sqrt(list_dot_product({v}, {v})))) * 1000000000.0 + 0.5) "
        "/ 1000000000.0"
    )
    head = f"""WITH {_ivf_cent_ctes(where="vec_id % 2 = 0")},
kc AS (SELECT CAST(count(*) AS BIGINT) AS n_cells FROM cent),
eall AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
dall AS (SELECT eall.vec_id, c.cid,
             floor((list_dot_product(eall.v, eall.v) + c.cc
                    - 2.0 * list_dot_product(eall.v, c.cv)) * 1000000.0
                   + 0.5) / 1000000.0 AS d6
      FROM eall CROSS JOIN cent c),
asg AS (SELECT vec_id, CAST(cid AS INT) AS cell FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id
                                       ORDER BY d6 ASC, cid ASC) AS rn
          FROM dall) WHERE rn = 1),
probes AS (SELECT vec_id AS query_id, CAST(cid AS INT) AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY d6 ASC, cid ASC) AS rn
    FROM dall WHERE vec_id IN ({qids})) WHERE rn <= {nprobe}),
qv AS (SELECT vec_id AS query_id, v AS qv FROM eall
       WHERE vec_id IN ({qids})),
base AS (SELECT cell, count(*) AS n_baseline FROM asg
         WHERE vec_id % 2 = 0 GROUP BY 1)"""
    parts = [head]
    tails = []
    for w, pred in waves:
        parts.append(f""",
new{w} AS (SELECT cell, count(*) AS n_new FROM asg
           WHERE {pred} GROUP BY 1),
m{w} AS (SELECT coalesce(b.cell, n.cell) AS cell,
              coalesce(b.n_baseline, 0) AS n_baseline,
              coalesce(n.n_new, 0) AS n_new
         FROM base b FULL OUTER JOIN new{w} n ON b.cell = n.cell),
t{w} AS (SELECT CAST(sum(n_baseline) AS BIGINT) AS tb,
              CAST(sum(n_new) AS BIGINT) AS tn,
              CAST(sum(n_baseline + n_new) AS BIGINT) AS ta FROM m{w}),
h{w} AS (SELECT CAST(count(*) AS BIGINT) AS n_hot
         FROM m{w}, t{w}, kc
         WHERE (n_baseline + n_new) * n_cells > 2 * ta),
corp{w} AS (SELECT * FROM eall WHERE vec_id % 2 = 0 OR {pred}),
ex{w} AS (SELECT query_id, vec_id FROM (
    SELECT q.query_id, c.vec_id,
           row_number() OVER (PARTITION BY q.query_id ORDER BY
             {cos9.format(v="c.v")} DESC, c.vec_id ASC) AS rn
    FROM corp{w} c CROSS JOIN qv q WHERE c.vec_id != q.query_id)
  WHERE rn <= {k}),
cand{w} AS (SELECT DISTINCT p.query_id, c.vec_id, c.v
            FROM corp{w} c JOIN asg a ON a.vec_id = c.vec_id
            JOIN probes p ON p.cell = a.cell
                         AND c.vec_id != p.query_id),
ap{w} AS (SELECT query_id, vec_id FROM (
    SELECT cd.query_id, cd.vec_id,
           row_number() OVER (PARTITION BY cd.query_id ORDER BY
             {cos9.format(v="cd.v")} DESC, cd.vec_id ASC) AS rn
    FROM cand{w} cd JOIN qv q ON q.query_id = cd.query_id)
  WHERE rn <= {k}),
hit{w} AS (SELECT CAST(count(*) AS BIGINT) AS hits
           FROM ex{w} e JOIN ap{w} a
             ON e.query_id = a.query_id AND e.vec_id = a.vec_id)""")
        nk = nq * k
        tails.append(f"""SELECT CAST({w} AS INT) AS wave,
       'growth' AS evidence,
       floor((tn * 1.0 / tb) * 1000000.0 + 0.5) / 1000000.0 AS value,
       CAST(0.5 AS DOUBLE) AS bound, (tn * 2 >= tb) AS breach FROM t{w}
UNION ALL
SELECT CAST({w} AS INT), 'hot_cells',
       floor((n_hot * 1.0 / n_cells) * 1000000.0 + 0.5) / 1000000.0,
       CAST(0.125 AS DOUBLE), (n_hot * 8 > n_cells) FROM h{w}, kc
UNION ALL
SELECT CAST({w} AS INT), 'recall_probe',
       floor((hits * 1.0 / {nk}) * 1000000.0 + 0.5) / 1000000.0,
       CAST(0.5 AS DOUBLE), (hits * 2 < {nk}) FROM hit{w}
UNION ALL
SELECT CAST({w} AS INT), 'verdict',
       CASE WHEN (tn * 2 >= tb) OR (n_hot * 8 > n_cells)
              OR (hits * 2 < {nk})
            THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END,
       CAST(1.0 AS DOUBLE),
       ((tn * 2 >= tb) OR (n_hot * 8 > n_cells) OR (hits * 2 < {nk}))
FROM t{w}, h{w}, hit{w}, kc""")
    return "".join(parts) + "\n" + "\nUNION ALL\n".join(tails)


def _ann_brute_sql(query_ids: str = "0, 1, 2, 3, 4", k: int = 10) -> str:
    """Generated mirror of text/vector.py::ann_topk_bruteforce."""
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id IN ({query_ids})),
s AS (SELECT qid AS query_id, e.vec_id,
             floor((list_dot_product(qv, v) /
                   (sqrt(list_dot_product(qv, qv)) *
                    sqrt(list_dot_product(v, v)))) * 1000000000.0 + 0.5) / 1000000000.0 AS cos_sim
      FROM e CROSS JOIN q WHERE e.vec_id != qid),
r AS (SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS rank
      FROM s)
SELECT query_id, vec_id, floor((cos_sim) * 10000.0 + 0.5) / 10000.0 AS cos_sim, rank
FROM r WHERE rank <= {k}
"""


def _rrf_sql(k: int = 10, depth: int = 20, rrf_k: int = 60) -> str:
    """Generated mirror of q_hybrid_rrf_retrieval: the _bm25_sql and
    _ann_brute_sql mirrors as nested CTEs, fused with the same
    1/(rrf_k + rank) two-term double sum the Spark plan computes
    (one division of exact integers per system + one IEEE addition,
    bit-identical on both engines)."""
    ids = ", ".join(str(q) for q in sorted(_BM25_QUERIES))
    return f"""
WITH lex AS ({_bm25_sql(_BM25_QUERIES, k=depth)}),
sem AS ({_ann_brute_sql(ids, k=depth)}),
f AS (
  SELECT coalesce(l.query_id, s.query_id) AS query_id,
         coalesce(l.doc_id, s.vec_id) AS doc_id,
         l.rank AS lex_rank, s.rank AS sem_rank
  FROM lex l FULL OUTER JOIN sem s
    ON l.query_id = s.query_id AND l.doc_id = s.vec_id),
sc AS (
  SELECT query_id, doc_id,
         coalesce(CAST(1.0 AS DOUBLE) / ({rrf_k} + lex_rank), CAST(0.0 AS DOUBLE))
       + coalesce(CAST(1.0 AS DOUBLE) / ({rrf_k} + sem_rank), CAST(0.0 AS DOUBLE)) AS s,
         lex_rank, sem_rank
  FROM f),
r AS (SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY s DESC, doc_id ASC) AS rank
      FROM sc)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(doc_id AS BIGINT) AS doc_id,
       floor(s * 1000000.0 + 0.5) / 1000000.0 AS rrf_score,
       CAST(lex_rank AS BIGINT) AS lex_rank,
       CAST(sem_rank AS BIGINT) AS sem_rank,
       CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= {k}
"""


def _chunk_retrieval_sql(budget: int = 25, k: int = 10) -> str:
    """Generated mirror of q_chunk_retrieval_spans: the shared
    sentence→chunk CTEs rebuild the chunk relation (texts via
    string_agg ordered by token position — same token order as the
    Spark side's array_sort on (pos, tok)), then the _bm25_sql mirror
    runs over it (relation parameter; nested WITH stays scoped) and
    hits join back to their sentence spans."""
    return f"""
WITH {_sentence_chunk_ctes(budget)},
chmap AS (
  SELECT t.doc_id, t.pos, t.tok, b.chunk_id
  FROM sc_tok t JOIN sc_bins b
    ON b.doc_id = t.doc_id AND b.sent_idx = t.sent_idx),
chunk_rel AS (
  SELECT CAST(doc_id * 100000 + chunk_id AS BIGINT) AS doc_id,
         string_agg(tok, ' ' ORDER BY pos) AS text
  FROM chmap GROUP BY doc_id, chunk_id),
spans AS (
  SELECT CAST(doc_id * 100000 + chunk_id AS BIGINT) AS ckey,
         doc_id, chunk_id,
         min(sent_idx) AS sent_start, max(sent_idx) AS sent_end
  FROM sc_bins GROUP BY doc_id, chunk_id),
ranked AS ({_bm25_sql(_BM25_QUERIES, k=k, relation="chunk_rel")})
SELECT r.query_id, s.doc_id, s.chunk_id, s.sent_start, s.sent_end,
       r.score, r.rank
FROM ranked r JOIN spans s ON s.ckey = r.doc_id
"""


def _chunk_vec_ctes(budget: int = 25, dim: int = 64) -> str:
    """CTE chain for the pooled CHUNK-VECTOR index — mirror of
    queries/text.py::_chunk_vector_index: the shared sentence→chunk
    assignment (_sentence_chunk_ctes), the corpus-size-derived
    sentence→vector hash rule ((doc_id·131 + sent_idx) mod |vectors|,
    the modulus from the engine's own count), and per-dimension
    DECIMAL(38,18) mean-pooling divided once into doubles (the
    centroid-mean device — order-independent, bit-identical).
    Requires ``e`` (embeddings as v) in scope — compose after
    _ivf_cent_ctes. Emits cvec (ckey, doc_id, chunk_id, v) and
    cspans (ckey + sentence spans)."""
    dims = ",\n    ".join(
        f"CAST(sum(CAST(v[{d + 1}] AS DECIMAL(38,18))) AS DOUBLE)"
        f" / count(*)"
        for d in range(dim)
    )
    return f"""{_sentence_chunk_ctes(budget)},
nvec AS (SELECT count(*) AS n FROM e),
sasgn AS (
  SELECT doc_id, chunk_id, sent_idx,
         (doc_id * 131 + sent_idx) % (SELECT n FROM nvec) AS vec_id
  FROM sc_bins),
svec AS (SELECT s.doc_id, s.chunk_id, e.v
         FROM sasgn s JOIN e ON e.vec_id = s.vec_id),
cvec AS (
  SELECT CAST(doc_id * 100000 + chunk_id AS BIGINT) AS ckey,
         doc_id, chunk_id, [\n    {dims}] AS v
  FROM svec GROUP BY doc_id, chunk_id),
cspans AS (
  SELECT CAST(doc_id * 100000 + chunk_id AS BIGINT) AS ckey,
         doc_id, chunk_id,
         min(sent_idx) AS sent_start, max(sent_idx) AS sent_end
  FROM sc_bins GROUP BY doc_id, chunk_id)"""


def _incremental_chunk_index_sql(budget: int = 25, where: str = "") -> str:
    """Mirror of q_incremental_chunk_index (and, with ``where``, of
    q_chunk_index_forget's post-delete rebuild): the FROM-SCRATCH
    chunk index over the (optionally filtered) corpus — pooled chunk
    vectors (_chunk_vec_ctes) for the vector half's 6-dp squared-norm
    digest, and per-chunk token counts / distinct-term counts from
    the shared sentence→chunk assignment for the postings half
    (count(*) over a chunk's tokens IS the reconstructed text's dl;
    count(DISTINCT) its posting count). Fold/forget == rebuild pins
    both halves at once. The ``where`` predicate injects into the
    sc_base document scan with the established fail-fast anchor
    device."""
    chunk_ctes = _chunk_vec_ctes(budget)
    if where:
        anchor = "FROM documents)"
        injected = chunk_ctes.replace(
            anchor, f"FROM documents WHERE {where})"
        )
        if injected == chunk_ctes:
            raise AssertionError(
                "_incremental_chunk_index_sql: rebase anchor "
                "'FROM documents)' not found in _chunk_vec_ctes — the "
                "CTE was reworded; update the injection anchor"
            )
        chunk_ctes = injected
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
{chunk_ctes},
ctoks AS (SELECT b.doc_id, b.chunk_id, t.tok
          FROM sc_tok t JOIN sc_bins b
            ON b.doc_id = t.doc_id AND b.sent_idx = t.sent_idx),
dig AS (SELECT CAST(doc_id * 100000 + chunk_id AS BIGINT) AS ckey,
               CAST(count(*) AS BIGINT) AS dl,
               CAST(count(DISTINCT tok) AS BIGINT) AS n_terms
        FROM ctoks GROUP BY doc_id, chunk_id)
SELECT c.ckey, c.doc_id, c.chunk_id, s.sent_start, s.sent_end,
       d.dl, d.n_terms,
       floor(list_dot_product(c.v, c.v) * 1000000.0 + 0.5) / 1000000.0
         AS vv
FROM cvec c
JOIN cspans s ON s.ckey = c.ckey
JOIN dig d ON d.ckey = c.ckey
"""


def _chunk_ann_ctes(nprobe: int = 4) -> str:
    """The trained-IVF chunk ANN ranking CTEs (mirror of
    text/vector.py::ann_topk_ivf_queries over the cvec index): 6-dp
    cell assignment of chunk vectors and query vectors against the
    SAME recomputed codebook (_ivf_cent_ctes' cent), nprobe cells per
    query, 9-dp exact cosine within probed cells. Emits ``cr``
    (query_id, ckey, cos_sim, rank — unfiltered ranks; consumers cut
    at their k)."""
    ids = ", ".join(str(q) for q in sorted(_BM25_QUERIES))
    return f"""cd AS (SELECT t.ckey, t.v, c.cid,
             floor((list_dot_product(t.v, t.v) + c.cc
                    - 2.0 * list_dot_product(t.v, c.cv)) * 1000000.0 + 0.5)
               / 1000000.0 AS d6
      FROM cvec t CROSS JOIN cent c),
cassign AS (SELECT ckey, v, cid AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY ckey
                                 ORDER BY d6 ASC, cid ASC) AS rn FROM cd)
  WHERE rn = 1),
qd AS (SELECT e.vec_id, e.v, c.cid,
              floor((list_dot_product(e.v, e.v) + c.cc
                     - 2.0 * list_dot_product(e.v, c.cv)) * 1000000.0 + 0.5)
                / 1000000.0 AS d6
       FROM e CROSS JOIN cent c WHERE e.vec_id IN ({ids})),
qprobes AS (SELECT vec_id AS query_id, v AS qv, cid AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY d6 ASC, cid ASC) AS rn FROM qd)
  WHERE rn <= {nprobe}),
ccand AS (SELECT p.query_id, a.ckey, p.qv, a.v
          FROM cassign a JOIN qprobes p ON a.cell = p.cell),
cs AS (SELECT query_id, ckey,
              floor((list_dot_product(qv, v) /
                     (sqrt(list_dot_product(qv, qv)) *
                      sqrt(list_dot_product(v, v)))) * 1000000000.0 + 0.5)
                / 1000000000.0 AS cos_sim
       FROM ccand),
cr AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos_sim DESC, ckey ASC)
                   AS rank
      FROM cs)"""


def _chunk_ann_sql(k: int = 10, budget: int = 25) -> str:
    """Generated mirror of q_chunk_ann_retrieval: trained-codebook
    recurrence + pooled chunk vectors + the IVF probe/cosine chain,
    hits joined back to their sentence spans."""
    return f"""
WITH {_ivf_cent_ctes()},
{_chunk_vec_ctes(budget)},
{_chunk_ann_ctes()}
SELECT CAST(cr.query_id AS BIGINT) AS query_id,
       s.doc_id, s.chunk_id, s.sent_start, s.sent_end,
       floor(cos_sim * 10000.0 + 0.5) / 10000.0 AS cos_sim,
       CAST(rank AS BIGINT) AS rank
FROM cr JOIN cspans s USING (ckey)
WHERE rank <= {k}
"""


def _chunk_hybrid_sql(
    k: int = 10, depth: int = 20, rrf_k: int = 60, budget: int = 25
) -> str:
    """Generated mirror of q_chunk_hybrid_retrieval: chunk-level BM25
    (the _chunk_retrieval_sql chunk_rel + _bm25_sql device) and the
    chunk-level trained-IVF ANN ranking fused with the _rrf_sql
    two-term reciprocal-rank sum, spans joined back by chunk key."""
    return f"""
WITH {_ivf_cent_ctes()},
{_chunk_vec_ctes(budget)},
chmap AS (
  SELECT t.doc_id, t.pos, t.tok, b.chunk_id
  FROM sc_tok t JOIN sc_bins b
    ON b.doc_id = t.doc_id AND b.sent_idx = t.sent_idx),
chunk_rel AS (
  SELECT CAST(doc_id * 100000 + chunk_id AS BIGINT) AS doc_id,
         string_agg(tok, ' ' ORDER BY pos) AS text
  FROM chmap GROUP BY doc_id, chunk_id),
lex AS ({_bm25_sql(_BM25_QUERIES, k=depth, relation="chunk_rel")}),
{_chunk_ann_ctes()},
sem AS (SELECT query_id, ckey, rank FROM cr WHERE rank <= {depth}),
f AS (
  SELECT coalesce(l.query_id, s.query_id) AS query_id,
         coalesce(l.doc_id, s.ckey) AS ckey,
         l.rank AS lex_rank, s.rank AS sem_rank
  FROM lex l FULL OUTER JOIN sem s
    ON l.query_id = s.query_id AND l.doc_id = s.ckey),
sc AS (
  SELECT query_id, ckey,
         coalesce(CAST(1.0 AS DOUBLE) / ({rrf_k} + lex_rank),
                  CAST(0.0 AS DOUBLE))
       + coalesce(CAST(1.0 AS DOUBLE) / ({rrf_k} + sem_rank),
                  CAST(0.0 AS DOUBLE)) AS s,
         lex_rank, sem_rank
  FROM f),
r AS (SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY s DESC, ckey ASC) AS rank
      FROM sc)
SELECT CAST(r.query_id AS BIGINT) AS query_id,
       sp.doc_id, sp.chunk_id, sp.sent_start, sp.sent_end,
       floor(s * 1000000.0 + 0.5) / 1000000.0 AS rrf_score,
       CAST(lex_rank AS BIGINT) AS lex_rank,
       CAST(sem_rank AS BIGINT) AS sem_rank,
       CAST(r.rank AS BIGINT) AS rank
FROM r JOIN cspans sp USING (ckey)
WHERE r.rank <= {k}
"""


def _chunk_ann_recall_sql(k: int = 10, budget: int = 25) -> str:
    """Generated mirror of q_chunk_ann_recall: exact 9-dp cosine
    top-k over the SAME pooled chunk vectors (cvec) vs the trained-IVF
    chunk ranking (cr), intersected per query — the _ann_recall_sql
    device pointed at the derived-vector index."""
    ids = ", ".join(str(q) for q in sorted(_BM25_QUERIES))
    return f"""
WITH {_ivf_cent_ctes()},
{_chunk_vec_ctes(budget)},
{_chunk_ann_ctes()},
qv AS (SELECT vec_id AS query_id, v AS qv FROM e
       WHERE vec_id IN ({ids})),
ex AS (SELECT query_id, ckey FROM (
  SELECT q.query_id, c.ckey,
         row_number() OVER (PARTITION BY q.query_id ORDER BY
           floor((list_dot_product(q.qv, c.v) /
                  (sqrt(list_dot_product(q.qv, q.qv)) *
                   sqrt(list_dot_product(c.v, c.v)))) * 1000000000.0
                 + 0.5) / 1000000000.0 DESC, c.ckey ASC) AS rn
  FROM cvec c CROSS JOIN qv q) WHERE rn <= {k}),
ap AS (SELECT query_id, ckey FROM cr WHERE rank <= {k}),
hits AS (SELECT e2.query_id, count(*) AS n_hit
         FROM ex e2 JOIN ap
           ON ap.query_id = e2.query_id AND ap.ckey = e2.ckey
         GROUP BY 1),
pq AS (SELECT query_id, count(*) AS n_exact FROM ex GROUP BY 1)
SELECT CAST(pq.query_id AS BIGINT) AS query_id,
       CAST(n_exact AS BIGINT) AS n_exact,
       CAST(coalesce(n_hit, 0) AS BIGINT) AS n_hit,
       CAST(coalesce(n_hit, 0) AS DOUBLE) / {k} AS recall
FROM pq LEFT JOIN hits ON pq.query_id = hits.query_id
"""


def _retrieval_eval_sql(depth: int = 10, truth_k: int = 5) -> str:
    """Generated mirror of q_retrieval_eval_report: the _bm25_sql,
    _rrf_sql, and _ann_brute_sql mirrors as nested CTEs (inner WITHs
    stay scoped), judged against the exact-cosine top-``truth_k``
    relevance set; per-system aggregates mirror retrieval_eval's exact
    arithmetic — integer hit counts, one 1.0/first_rank division per
    query summed as DECIMAL(38,20), one division per mean,
    floor-rounded 6 dp."""
    ids = ", ".join(str(q) for q in sorted(_BM25_QUERIES))
    nq = len(_BM25_QUERIES)

    def _agg(src: str, name: str) -> str:
        return f"""SELECT '{name}' AS system,
       floor((CAST(sum(CASE WHEN first_rank IS NOT NULL
                  THEN CAST(1.0 / first_rank AS DECIMAL(38,20))
                  ELSE CAST(0 AS DECIMAL(38,20)) END) AS DOUBLE) / {nq})
             * 1000000.0 + 0.5) / 1000000.0 AS mrr,
       floor((sum(coalesce(n_hits, 0)) * 1.0 / {nq * depth})
             * 1000000.0 + 0.5) / 1000000.0 AS precision_at_k,
       floor((sum(coalesce(n_hits, 0)) * 1.0 / {nq * truth_k})
             * 1000000.0 + 0.5) / 1000000.0 AS recall_at_k
FROM qs LEFT JOIN {src} USING (query_id)"""

    return f"""
WITH truth AS (SELECT query_id, vec_id AS doc_id
               FROM ({_ann_brute_sql(ids, truth_k)})),
lex AS ({_bm25_sql(_BM25_QUERIES, k=depth)}),
hyb AS ({_rrf_sql(k=depth, depth=20)}),
qs AS (SELECT unnest([{ids}]) AS query_id),
lexq AS (SELECT l.query_id, count(*) AS n_hits,
                min(l.rank) AS first_rank
         FROM lex l JOIN truth t
           ON t.query_id = l.query_id AND t.doc_id = l.doc_id
         GROUP BY 1),
hybq AS (SELECT h.query_id, count(*) AS n_hits,
                min(h.rank) AS first_rank
         FROM hyb h JOIN truth t
           ON t.query_id = h.query_id AND t.doc_id = h.doc_id
         GROUP BY 1)
{_agg("lexq", "bm25")}
UNION ALL
{_agg("hybq", "hybrid_rrf")}"""


def _ann_recall_sql(k: int = 10) -> str:
    """Generated mirror of text/vector.py::ann_recall_at_k: the exact
    and LSH mirrors intersected per query."""
    return f"""
WITH exact AS ({_ann_brute_sql(k=k)}),
approx AS ({_lsh_sql(k=k)}),
hits AS (SELECT e.query_id, count(*) AS n_hit
         FROM exact e JOIN approx a
           ON e.query_id = a.query_id AND e.vec_id = a.vec_id
         GROUP BY 1),
pq AS (SELECT query_id, count(*) AS n_exact FROM exact GROUP BY 1)
SELECT pq.query_id,
       CAST(n_exact AS BIGINT) AS n_exact,
       CAST(coalesce(n_hit, 0) AS BIGINT) AS n_hit,
       CAST(coalesce(n_hit, 0) AS DOUBLE) / {k} AS recall
FROM pq LEFT JOIN hits ON pq.query_id = hits.query_id
"""


# MinHash-LSH candidate pairs closed under transitivity (shared by the
# dup_clusters and cluster_safe_split oracles): recursive reachability
# mirror of text/dedup.py::dedup_clusters, which labels through
# operators/graph.py::connected_components.
_CLUSTER_CTES = """
sig AS (
  SELECT doc_id, b,
         min(substr(md5(CAST(b // 4 AS VARCHAR) || ':' || shingle),
                    1 + 8 * (b % 4), 8)) AS s
  FROM shingles, (SELECT unnest(generate_series(0, 7)) AS b)
  GROUP BY 1, 2),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sig a JOIN sig b ON a.b = b.b AND a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= 2),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM cand
  UNION ALL
  SELECT doc_b, doc_a FROM cand),
reach(id, r) AS (
  SELECT src, src FROM edges GROUP BY 1, 2
  UNION
  SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.id)
"""


def _cluster_split_sql(fractions: dict[str, float]) -> str:
    """Generated mirror of text/dedup.py::cluster_safe_split: the
    dup_clusters reachability CTEs, then the same md5-prefix range
    assignment functions/sampling.py::split_column bakes into the
    Spark plan (thresholds derived from the SAME cumulative-fraction
    arithmetic)."""
    from aproximacion_1_etl_spark.functions.sampling import rate_threshold

    key = "CAST(coalesce(cl.cluster_id, d.doc_id) AS VARCHAR)"
    names = list(fractions)
    cases, cum = [], 0.0
    for name in names[:-1]:
        cum += fractions[name]
        cases.append(
            f"WHEN substr(md5({key}), 1, 4) < '{rate_threshold(cum)}' "
            f"THEN '{name}'"
        )
    case = "CASE " + " ".join(cases) + f" ELSE '{names[-1]}' END"
    return (
        "WITH RECURSIVE "
        + _SHINGLES_SQL.strip()
        + ","
        + _CLUSTER_CTES
        + f""",
cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)
SELECT d.doc_id,
       CAST(coalesce(cl.cluster_id, d.doc_id) AS BIGINT) AS group_key,
       {case} AS split
FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id
"""
    )


def _bpe_train_sql(n_merges: int = 8) -> str:
    """Generated mirror of text/analysis.py::bpe_train_merges: the
    training loop unrolled into one CTE chain per round — pair counts
    over the frequency-weighted distinct-word relation, deterministic
    top-1, and the same greedy left-to-right merge fold (list_reduce
    over singleton-wrapped symbols == F.aggregate from an empty
    accumulator, verified element-for-element). Counts are exact
    integer sums, so the whole training trajectory value-checks."""
    parts = [
        """
WITH w0 AS (
  SELECT list_transform(generate_series(1, len(word)),
                        i -> substr(word, i, 1)) AS syms,
         cnt
  FROM (SELECT word, count(*) AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS word
              FROM documents)
        WHERE len(word) >= 2 GROUP BY 1))"""
    ]
    for i in range(1, n_merges + 1):
        prev = f"w{i - 1}"
        parts.append(f""",
pc{i} AS (
  SELECT syms[i] AS p1, syms[i+1] AS p2, sum(cnt) AS n
  FROM (SELECT syms, cnt, unnest(generate_series(1, len(syms) - 1)) AS i
        FROM {prev} WHERE len(syms) >= 2)
  GROUP BY 1, 2),
top{i} AS (
  SELECT p1, p2, n FROM (
    SELECT *, row_number() OVER (ORDER BY n DESC, p1 ASC, p2 ASC) AS rn
    FROM pc{i}) WHERE rn = 1),
w{i} AS (
  SELECT list_reduce(list_transform(syms, s -> [s]),
           (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = t.p1
                                 AND x[1] = t.p2
                            THEN list_append(
                                   list_slice(acc, 1, len(acc) - 1),
                                   t.p1 || t.p2)
                            ELSE list_concat(acc, x) END) AS syms,
         cnt
  FROM {prev}, top{i} t WHERE len(syms) >= 2)""")
    union = "\nUNION ALL\n".join(
        f"SELECT {i} AS step, p1, p2, n FROM top{i}"
        for i in range(1, n_merges + 1)
    )
    parts.append(f"""
SELECT CAST(step AS INT) AS step, p1, p2, CAST(n AS BIGINT) AS n
FROM ({union})
""")
    return "".join(parts)


def _bpe_encode_sql(n_merges: int = 8) -> str:
    """Generated mirror of text/analysis.py::bpe_encode composed with
    its trainer: re-derives the same merge table (the training CTE
    chain), then applies each rule to EVERY word of the corpus with the
    same greedy fold, and rolls token budgets up per document. The
    merge rules the Spark plan bakes in as literals are recomputed
    in-engine here, so a drift anywhere in the train->apply pipeline
    breaks value parity."""
    train = _bpe_train_sql(n_merges)
    ctes = train[: train.rindex("\nSELECT CAST(step AS INT)")]
    parts = [
        ctes,
        """,
e0 AS (
  SELECT doc_id, len(word) AS wlen,
         list_transform(generate_series(1, len(word)),
                        i -> substr(word, i, 1)) AS syms
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
        FROM documents)
  WHERE len(word) >= 1)""",
    ]
    for i in range(1, n_merges + 1):
        parts.append(f""",
e{i} AS (
  SELECT doc_id, wlen,
         list_reduce(list_transform(syms, s -> [s]),
           (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = t.p1
                                 AND x[1] = t.p2
                            THEN list_append(
                                   list_slice(acc, 1, len(acc) - 1),
                                   t.p1 || t.p2)
                            ELSE list_concat(acc, x) END) AS syms
  FROM e{i - 1} LEFT JOIN top{i} t ON TRUE)""")
    parts.append(f"""
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(wlen) AS BIGINT) AS n_chars,
       CAST(sum(len(syms)) AS BIGINT) AS n_tokens,
       floor(CAST(sum(wlen) AS DOUBLE) / sum(len(syms)) * 10000.0 + 0.5)
         / 10000.0 AS compression
FROM e{n_merges} GROUP BY 1
""")
    return "".join(parts)


# quality_score mirror, shared by the funnel and outlier oracles
# (copied operand-for-operand from the text_profile mirror, incl. the
# floor-round that precedes any threshold comparison)
_QUALITY_SQL = """floor((0.25 * (CASE WHEN length(text) BETWEEN 100 AND 20000
                     THEN 1.0 ELSE 0.0 END)
      + 0.25 * (1.0 - len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) * 1.0
                 / greatest(length(text), 1))
      + 0.25 * (len(regexp_extract_all(text, '[A-Za-z]')) * 1.0
                 / greatest(length(text), 1))
      + 0.25 * (CASE WHEN length(text) * 1.0 /
                       greatest(len(regexp_split_to_array(trim(text),
                                                          '\\s+')), 1)
                       BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.0 END))
        * 10000.0 + 0.5) / 10000.0"""


def _lang_hits_sql() -> str:
    """Language-marker hit columns generated from the SAME LANG_MARKERS
    constant the Spark lang_id() bakes in (shared by the funnel and
    confusion-matrix oracles)."""
    from aproximacion_1_etl_spark.text.analysis import LANG_MARKERS

    hits = []
    for lang, words in LANG_MARKERS.items():
        terms = " +\n     ".join(
            "CASE WHEN contains(' ' || lower(text) || ' ', ' "
            + w
            + " ') THEN 1 ELSE 0 END"
            for w in words
        )
        hits.append(f"({terms}) AS {lang}_h")
    return ",\n    ".join(hits)


# the lang_id() CASE mirror over the *_h hit columns
_LANG_PRED_SQL = """CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
       WHEN greatest(es_h, de_h, fr_h, en_h) >= 1
            AND es_h = greatest(es_h, de_h, fr_h, en_h) THEN 'es'
       WHEN greatest(es_h, de_h, fr_h, en_h) >= 1
            AND de_h = greatest(es_h, de_h, fr_h, en_h) THEN 'de'
       WHEN greatest(es_h, de_h, fr_h, en_h) >= 1
            AND fr_h = greatest(es_h, de_h, fr_h, en_h) THEN 'fr'
       WHEN greatest(es_h, de_h, fr_h, en_h) >= 1
            AND en_h = greatest(es_h, de_h, fr_h, en_h) THEN 'en'
       ELSE 'und' END"""


def _lang_confusion_sql() -> str:
    """Generated mirror of queries.q_lang_confusion."""
    return f"""
WITH base AS (
  SELECT lang, text,
    {_lang_hits_sql()}
  FROM documents),
p AS (SELECT lang AS true_lang,
             {_LANG_PRED_SQL} AS pred_lang
      FROM base),
cm AS (SELECT true_lang, pred_lang, count(*) AS n FROM p GROUP BY 1, 2),
t AS (SELECT true_lang, sum(n) AS n_true FROM cm GROUP BY 1)
SELECT cm.true_lang, cm.pred_lang, CAST(cm.n AS BIGINT) AS n,
       floor(CAST(cm.n AS DOUBLE) / t.n_true * 10000.0 + 0.5) / 10000.0
         AS frac_of_true
FROM cm JOIN t ON cm.true_lang = t.true_lang
"""


def _quality_outliers_sql() -> str:
    """Generated mirror of queries.q_quality_outliers (quantile_disc ==
    percentile_disc for exact engine parity)."""
    return f"""
WITH d AS (SELECT doc_id, source, {_QUALITY_SQL} AS q FROM documents),
med AS (SELECT source, quantile_disc(q, 0.5) AS med FROM d GROUP BY 1),
dev AS (SELECT doc_id, d.source, q, med, abs(q - med) AS adev
        FROM d JOIN med ON d.source = med.source),
mad AS (SELECT source, quantile_disc(adev, 0.5) AS mad
        FROM dev GROUP BY 1)
SELECT doc_id, dev.source,
       floor(q * 10000.0 + 0.5) / 10000.0 AS q,
       floor(med * 10000.0 + 0.5) / 10000.0 AS source_median,
       floor(adev * 10000.0 + 0.5) / 10000.0 AS abs_dev
FROM dev JOIN mad ON dev.source = mad.source
WHERE adev > 3.0 * greatest(mad, 0.0001)
"""


def _funnel_sql() -> str:
    """Generated mirror of queries.q_corpus_funnel (shares
    _lang_hits_sql and _QUALITY_SQL with the confusion/outlier
    oracles)."""
    hits_sql = _lang_hits_sql()
    quality = _QUALITY_SQL
    return f"""
WITH base AS (
  SELECT doc_id, text,
    {hits_sql}
  FROM documents),
fl AS (
  SELECT (length(text) >= 100) AS len_ok,
         (regexp_matches(text, '[\\x{{4e00}}-\\x{{9fff}}]')
          OR greatest(es_h, de_h, fr_h, en_h) >= 1) AS lang_ok,
         ({quality} >= 0.5) AS quality_ok,
         (row_number() OVER (
            PARTITION BY sha256(trim(regexp_replace(lower(text),
                                                    '\\s+', ' ', 'g')))
            ORDER BY doc_id) = 1) AS first_of_content
  FROM base),
a AS (
  SELECT count(*) AS raw,
         sum(CASE WHEN len_ok THEN 1 ELSE 0 END) AS s1,
         sum(CASE WHEN len_ok AND lang_ok THEN 1 ELSE 0 END) AS s2,
         sum(CASE WHEN len_ok AND lang_ok AND quality_ok
                  THEN 1 ELSE 0 END) AS s3,
         sum(CASE WHEN len_ok AND lang_ok AND quality_ok
                       AND first_of_content THEN 1 ELSE 0 END) AS s4
  FROM fl)
SELECT 'raw' AS stage, CAST(raw AS BIGINT) AS n_docs FROM a
UNION ALL SELECT 'length_band', CAST(s1 AS BIGINT) FROM a
UNION ALL SELECT 'known_lang', CAST(s2 AS BIGINT) FROM a
UNION ALL SELECT 'quality_floor', CAST(s3 AS BIGINT) FROM a
UNION ALL SELECT 'content_unique', CAST(s4 AS BIGINT) FROM a
"""


def _kmeans_profile_sql() -> str:
    """Mirror of q_kmeans_cluster_profile: the in-engine training
    recurrence (_ivf_cent_ctes), the same 6-dp argmin assignment, then
    decimal-mean distance and deterministic dominant label per cell."""
    return f"""
WITH {_ivf_cent_ctes()},
d AS (SELECT e.vec_id, c.cid,
             floor((list_dot_product(e.v, e.v) + c.cc
                    - 2.0 * list_dot_product(e.v, c.cv)) * 1000000.0 + 0.5)
               / 1000000.0 AS d6
      FROM e CROSS JOIN cent c),
assign AS (SELECT vec_id, cid AS cell, d6 FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY d6 ASC, cid ASC) AS rn FROM d)
  WHERE rn = 1),
al AS (SELECT a.vec_id, a.cell, a.d6, em.label
       FROM assign a JOIN embeddings em ON a.vec_id = em.vec_id),
st AS (SELECT cell, count(*) AS n,
              CAST(sum(CAST(d6 AS DECIMAL(38,18))) AS DOUBLE) / count(*)
                AS md
       FROM al GROUP BY 1),
lb AS (SELECT cell, label AS top_label, n_l AS top_label_n FROM (
    SELECT cell, label, count(*) AS n_l,
           row_number() OVER (PARTITION BY cell
                              ORDER BY count(*) DESC, label ASC) AS rn
    FROM al GROUP BY 1, 2) WHERE rn = 1)
SELECT CAST(st.cell AS INT) AS cell,
       CAST(st.n AS BIGINT) AS n,
       floor(st.md * 1000000.0 + 0.5) / 1000000.0 AS mean_dist,
       lb.top_label,
       CAST(lb.top_label_n AS BIGINT) AS top_label_n
FROM st JOIN lb ON st.cell = lb.cell
"""


def _lsh_multiprobe_sql(
    query_ids: str = "0, 1, 2, 3, 4",
    k: int = 10,
    planes: int = 4,
    tables: int = 1,
    dim: int = 64,
) -> str:
    """Generated mirror of text/vector.py::ann_topk_lsh_multiprobe —
    the _lsh_sql bucketing plus the query-side 1-bit-flip probe set
    (xor against {0, 1, 2, 4, ...})."""
    per_table = []
    for t in range(tables):
        terms = " + ".join(
            f"CASE WHEN list_dot_product(v, {_plane_literal(t, p, dim)}) >= 0 "
            f"THEN {2**p} ELSE 0 END"
            for p in range(planes)
        )
        per_table.append(
            f"SELECT vec_id, v, {t} AS tbl, ({terms}) AS bucket FROM e"
        )
    buckets = " UNION ALL ".join(per_table)
    flips = ", ".join(["0"] + [str(2**p) for p in range(planes)])
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
bk AS ({buckets}),
q AS (SELECT vec_id AS qid, v AS qv, tbl,
             xor(bucket, f.flip) AS bucket
      FROM bk, (SELECT unnest([{flips}]) AS flip) f
      WHERE vec_id IN ({query_ids})),
cand AS (SELECT DISTINCT q.qid, b.vec_id
         FROM bk b JOIN q ON b.tbl = q.tbl AND b.bucket = q.bucket
         WHERE b.vec_id != q.qid),
s AS (SELECT c.qid AS query_id, c.vec_id,
             floor((list_dot_product(qe.v, ce.v) /
                   (sqrt(list_dot_product(qe.v, qe.v)) *
                    sqrt(list_dot_product(ce.v, ce.v)))) * 1000000000.0 + 0.5) / 1000000000.0 AS cos_sim
      FROM cand c
      JOIN e ce ON c.vec_id = ce.vec_id
      JOIN e qe ON c.qid = qe.vec_id),
r AS (SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS rank
      FROM s)
SELECT query_id, vec_id, floor((cos_sim) * 10000.0 + 0.5) / 10000.0 AS cos_sim, rank
FROM r WHERE rank <= {k}
"""


def _rerank_sql() -> str:
    """Generated mirror of q_rerank_crossencoder: the _rrf_sql mirror
    as a CTE, joined to text, re-scored by the same md5 stand-in the
    pandas UDF computes (identical input string construction), ranked
    by (key desc, doc asc)."""
    return f"""
WITH fused AS ({_rrf_sql()}),
j AS (SELECT f.query_id, f.doc_id,
             substr(md5(CAST(f.query_id AS VARCHAR) || ':' ||
                        CAST(f.doc_id AS VARCHAR) || ':' ||
                        substr(coalesce(d.text, ''), 1, 16)), 1, 8)
               AS ce_key
      FROM fused f LEFT JOIN documents d ON f.doc_id = d.doc_id)
SELECT query_id, doc_id, ce_key,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY ce_key DESC, doc_id ASC)
            AS BIGINT) AS rank
FROM j
"""


def _corpus_release_sql(fractions: dict[str, float]) -> str:
    """Generated mirror of queries.q_corpus_release: the funnel-stage
    predicates (shared _lang_hits_sql / _QUALITY_SQL), exact-dedup
    keep-first window, the recursive cluster CTEs REBASED onto the
    clean survivor set (shingle fragment retargeted from documents to
    clean), the same md5-threshold split ranges, and the per-split
    manifest aggregation."""
    from aproximacion_1_etl_spark.functions.sampling import rate_threshold

    key = "CAST(coalesce(cl.cluster_id, c.doc_id) AS VARCHAR)"
    names = list(fractions)
    cases, cum = [], 0.0
    for name in names[:-1]:
        cum += fractions[name]
        cases.append(
            f"WHEN substr(md5({key}), 1, 4) < '{rate_threshold(cum)}' "
            f"THEN '{name}'"
        )
    case = "CASE " + " ".join(cases) + f" ELSE '{names[-1]}' END"
    shingles_clean = _SHINGLES_SQL.strip().replace(
        "FROM documents", "FROM clean"
    )
    if shingles_clean == _SHINGLES_SQL.strip():
        # textual injection: a reworded _SHINGLES_SQL must fail HERE
        # with a clear message, not later as an opaque cert hash
        # mismatch from an unfiltered (all-documents) histogram —
        # same fail-fast device as _lsh_band_plan_sql
        raise AssertionError(
            "_corpus_release_sql: rebase anchor 'FROM documents' not "
            "found in _SHINGLES_SQL — the CTE was reworded; update "
            "the injection anchor"
        )
    return (
        f"""WITH RECURSIVE base AS (
  SELECT doc_id, text, n_chars,
    {_lang_hits_sql()}
  FROM documents),
fl AS (
  SELECT doc_id, text, n_chars,
         (length(text) >= 100) AS len_ok,
         (regexp_matches(text, '[\\x{{4e00}}-\\x{{9fff}}]')
          OR greatest(es_h, de_h, fr_h, en_h) >= 1) AS lang_ok,
         ({_QUALITY_SQL} >= 0.5) AS quality_ok,
         (row_number() OVER (
            PARTITION BY sha256(trim(regexp_replace(lower(text),
                                                    '\\s+', ' ', 'g')))
            ORDER BY doc_id) = 1) AS first_of_content
  FROM base),
clean AS (
  SELECT doc_id, text, n_chars FROM fl
  WHERE len_ok AND lang_ok AND quality_ok AND first_of_content),
"""
        + shingles_clean
        + ","
        + _CLUSTER_CTES
        + f""",
cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
sp AS (
  SELECT c.doc_id, c.text, c.n_chars, {case} AS split
  FROM clean c LEFT JOIN cl ON c.doc_id = cl.doc_id)
SELECT split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT)
         AS n_tokens,
       CAST(sum(n_chars) AS BIGINT) AS n_chars
FROM sp GROUP BY 1
"""
    )


def _pca_power_sql(dim: int = 64, iterations: int = 64) -> str:
    """Unrolled power-iteration replay of text/vector.pca_top_component:
    decimal-summed Gram, then per-iteration matvec + IEEE normalize
    with the same 9-dp snap, so both engines walk the identical
    recurrence (summation-order differences vanish at each snap)."""
    ctes = [
        f"""g AS MATERIALIZED (
  SELECT s.i, s.j, CAST(sum(CAST(s.p AS DECIMAL(38,18))) AS DOUBLE) AS g
  FROM (SELECT CAST(a.i AS INT) AS i, CAST(b.j AS INT) AS j,
               CAST(embedding[a.i + 1] AS DOUBLE)
               * CAST(embedding[b.j + 1] AS DOUBLE) AS p
        FROM embeddings, range({dim}) a(i), range({dim}) b(j)) s
  GROUP BY 1, 2)""",
        f"v0 AS (SELECT CAST(t.i AS INT) AS j, CAST(0.125 AS DOUBLE) AS v"
        f" FROM range({dim}) t(i))",
    ]
    prev = "v0"
    for k in range(1, iterations + 1):
        ctes.append(
            f"w{k} AS MATERIALIZED (SELECT g.i AS j, sum(g.g * {prev}.v) AS w"
            f" FROM g JOIN {prev} ON g.j = {prev}.j GROUP BY 1)"
        )
        ctes.append(f"n{k} AS MATERIALIZED (SELECT sqrt(sum(w * w)) AS nrm FROM w{k})")
        ctes.append(
            f"v{k} AS MATERIALIZED (SELECT j, floor(w / nrm * 1000000000.0 + 0.5)"
            f" / 1000000000.0 AS v FROM w{k}, n{k})"
        )
        prev = f"v{k}"
    ctes.append(
        f"wf AS MATERIALIZED (SELECT g.i AS j, sum(g.g * {prev}.v) AS w"
        f" FROM g JOIN {prev} ON g.j = {prev}.j GROUP BY 1)"
    )
    ctes.append(
        f"eig AS (SELECT sum({prev}.v * wf.w) AS ev"
        f" FROM {prev} JOIN wf ON {prev}.j = wf.j)"
    )
    ctes.append("tr AS (SELECT sum(g) AS t FROM g WHERE i = j)")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT CAST({prev}.j + 1 AS INT) AS dim,
       floor({prev}.v * 1000000.0 + 0.5) / 1000000.0 AS loading,
       floor(eig.ev * 10000.0 + 0.5) / 10000.0 AS eigenvalue,
       floor(eig.ev / tr.t * 1000000.0 + 0.5) / 1000000.0 AS var_share
FROM {prev}, eig, tr
"""
    )


def _ols_event_sql() -> str:
    """Mirror of q_ols_event_model: identical det3 expression
    structure so the Cramer solve is bit-for-bit IEEE-equal."""
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
    return f"""
WITH f AS (
  SELECT value AS y, hour(ts) AS h,
         ((datediff('day', DATE '1970-01-05', CAST(ts AS DATE)) % 7) + 7)
           % 7 AS d
  FROM events),
a AS (
  SELECT count(*) AS n, sum(h) AS sh, sum(d) AS sd,
         sum(h * h) AS shh, sum(d * d) AS sdd, sum(h * d) AS shd,
         sum(CAST(y AS DECIMAL(38,18))) AS sy,
         sum(CAST(y * h AS DECIMAL(38,18))) AS shy,
         sum(CAST(y * d AS DECIMAL(38,18))) AS sdy,
         sum(CAST(y * y AS DECIMAL(38,18))) AS syy
  FROM f),
m AS (
  SELECT CAST(n AS BIGINT) AS n,
         CAST(n AS DOUBLE) AS nd, CAST(sh AS DOUBLE) AS shd_,
         CAST(sd AS DOUBLE) AS sdd_, CAST(shh AS DOUBLE) AS shhd,
         CAST(sdd AS DOUBLE) AS sddd, CAST(shd AS DOUBLE) AS shdd,
         CAST(sy AS DOUBLE) AS syd, CAST(shy AS DOUBLE) AS shyd,
         CAST(sdy AS DOUBLE) AS sdyd, CAST(syy AS DOUBLE) AS syyd
  FROM a),
s AS (
  SELECT n, syd, shyd, sdyd, syyd, nd,
         {det0} / {det} AS w0,
         {det1} / {det} AS w1,
         {det2} / {det} AS w2
  FROM m)
SELECT n,
       floor(w0 * 1000000.0 + 0.5) / 1000000.0 AS w_intercept,
       floor(w1 * 1000000.0 + 0.5) / 1000000.0 AS w_hour,
       floor(w2 * 1000000.0 + 0.5) / 1000000.0 AS w_dow,
       floor((1.0 - (syyd - w0*syd - w1*shyd - w2*sdyd)
              / (syyd - syd*syd/nd)) * 1000000.0 + 0.5) / 1000000.0 AS r2,
       floor(sqrt((syyd - w0*syd - w1*shyd - w2*sdyd) / nd)
             * 10000.0 + 0.5) / 10000.0 AS rmse
FROM s
"""


def _logreg_ctes(iterations: int = 12) -> tuple[str, str]:
    """The shared feature + GD-weight CTE chain (f, w0i, g1..wN):
    returns (ctes_sql, final_weight_cte_name). Used by the training
    oracle and both model-evaluation oracles so all three replay the
    identical recurrence."""
    zexpr = (
        "(0.0 + w.w0 * x0 + w.w1 * x1 + w.w2 * x2 + w.w3 * x3)"
    )
    ctes = [
        """f AS MATERIALIZED (
  SELECT vec_id,
         CASE WHEN label < 5 THEN 1.0 ELSE 0.0 END AS y,
         CAST(1.0 AS DOUBLE) AS x0,
         CAST(embedding[1] AS DOUBLE) AS x1,
         CAST(embedding[2] AS DOUBLE) AS x2,
         CAST(embedding[3] AS DOUBLE) AS x3
  FROM embeddings)""",
        "w0i AS (SELECT CAST(0.0 AS DOUBLE) AS w0, CAST(0.0 AS DOUBLE)"
        " AS w1, CAST(0.0 AS DOUBLE) AS w2, CAST(0.0 AS DOUBLE) AS w3)",
    ]
    prev = "w0i"
    for k in range(1, iterations + 1):
        gsum = ", ".join(
            f"CAST(sum(CAST(((1.0 / (1.0 + exp(-{zexpr}))) - y) * x{j}"
            f" AS DECIMAL(38,18))) AS DOUBLE) / count(*) AS g{j}"
            for j in range(4)
        )
        ctes.append(
            f"g{k} AS MATERIALIZED (SELECT {gsum} FROM f, {prev} w)"
        )
        wup = ", ".join(
            f"floor((w.w{j} - 2.0 * g.g{j}) * 1e9 + 0.5) / 1e9 AS w{j}"
            for j in range(4)
        )
        ctes.append(
            f"w{k} AS MATERIALIZED (SELECT {wup} FROM {prev} w, g{k} g)"
        )
        prev = f"w{k}"
    return ",\n".join(ctes), prev


def _logreg_sql(iterations: int = 12) -> str:
    """Unrolled-CTE replay of operators/ml.logistic_regression_gd +
    the scoring pass of q_logreg_label_model: per iteration one
    decimal-summed gradient aggregate over the materialized feature
    relation and a 9-dp-snapped weight update (lr = 2.0). MATERIALIZED
    throughout — the weight CTE chain would otherwise inline
    exponentially (each g{k} references f and w{k-1})."""
    zexpr = (
        "(0.0 + w.w0 * x0 + w.w1 * x1 + w.w2 * x2 + w.w3 * x3)"
    )
    ctes = [
        """f AS MATERIALIZED (
  SELECT CASE WHEN label < 5 THEN 1.0 ELSE 0.0 END AS y,
         CAST(1.0 AS DOUBLE) AS x0,
         CAST(embedding[1] AS DOUBLE) AS x1,
         CAST(embedding[2] AS DOUBLE) AS x2,
         CAST(embedding[3] AS DOUBLE) AS x3
  FROM embeddings)""",
        "w0i AS (SELECT CAST(0.0 AS DOUBLE) AS w0, CAST(0.0 AS DOUBLE)"
        " AS w1, CAST(0.0 AS DOUBLE) AS w2, CAST(0.0 AS DOUBLE) AS w3)",
    ]
    prev = "w0i"
    for k in range(1, iterations + 1):
        gsum = ", ".join(
            f"CAST(sum(CAST(((1.0 / (1.0 + exp(-{zexpr}))) - y) * x{j}"
            f" AS DECIMAL(38,18))) AS DOUBLE) / count(*) AS g{j}"
            for j in range(4)
        )
        ctes.append(
            f"g{k} AS MATERIALIZED (SELECT {gsum} FROM f, {prev} w)"
        )
        wup = ", ".join(
            f"floor((w.w{j} - 2.0 * g.g{j}) * 1e9 + 0.5) / 1e9 AS w{j}"
            for j in range(4)
        )
        ctes.append(
            f"w{k} AS MATERIALIZED (SELECT {wup} FROM {prev} w, g{k} g)"
        )
        prev = f"w{k}"
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
sc AS (
  SELECT y, {zexpr} AS z FROM f, {prev} w),
m AS (
  SELECT count(*) AS n,
         CAST(sum(CASE WHEN (z >= 0) = (y = 1.0) THEN 1 ELSE 0 END)
              AS DOUBLE) / count(*) AS acc_raw,
         CAST(sum(CAST(ln(1.0 + exp(-z)) + (1.0 - y) * z
                       AS DECIMAL(38,18))) AS DOUBLE) / count(*)
           AS ll_raw
  FROM sc)
SELECT CAST(n AS BIGINT) AS n,
       floor(w.w0 * 1000000.0 + 0.5) / 1000000.0 AS w0,
       floor(w.w1 * 1000000.0 + 0.5) / 1000000.0 AS w1,
       floor(w.w2 * 1000000.0 + 0.5) / 1000000.0 AS w2,
       floor(w.w3 * 1000000.0 + 0.5) / 1000000.0 AS w3,
       floor(acc_raw * 10000.0 + 0.5) / 10000.0 AS accuracy,
       floor(ll_raw * 10000.0 + 0.5) / 10000.0 AS logloss
FROM m, {prev} w
"""
    )


def _bootstrap_sql(B: int = 64) -> str:
    """Mirror of q_bootstrap_ci_mean: identical Poisson(1) CDF hex
    thresholds (same Python float arithmetic generates both sides),
    md5 string comparisons, decimal replicate sums, nearest-rank CI."""
    import math as _math

    cdf, acc, k = [], 0.0, 0
    while acc < 0.99999 and k < 8:
        acc += _math.exp(-1.0) / _math.factorial(k)
        cdf.append(min(acc, 1.0))
        k += 1
    th = [format(int(c * 2**32), "08x") for c in cdf]
    cases = " ".join(
        f"WHEN h < '{t}' THEN {i}" for i, t in enumerate(th)
    )
    lo_rk = max(1, _math.ceil(0.025 * B))
    hi_rk = _math.ceil(0.975 * B)
    return f"""
WITH fan AS (
  SELECT o.o_orderkey, o.o_totalprice, t.b,
         substring(md5(concat_ws(':', o.o_orderkey, t.b)), 1, 8) AS h
  FROM orders o, range({B}) t(b)),
wtd AS (
  SELECT b, o_totalprice,
         CASE {cases} ELSE {len(th)} END AS w
  FROM fan),
reps AS (
  SELECT b,
         CAST(sum(CAST(w * o_totalprice AS DECIMAL(38,18))) AS DOUBLE)
           / sum(w) AS mean_b
  FROM wtd GROUP BY b),
ranked AS (
  SELECT mean_b,
         row_number() OVER (ORDER BY mean_b, b) AS rk
  FROM reps),
point AS (
  SELECT count(*) AS n,
         CAST(sum(CAST(o_totalprice AS DECIMAL(38,18))) AS DOUBLE)
           / count(*) AS mean_raw
  FROM orders)
SELECT CAST(p.n AS BIGINT) AS n,
       floor(p.mean_raw * 10000.0 + 0.5) / 10000.0 AS mean_value,
       floor(lo.mean_b * 10000.0 + 0.5) / 10000.0 AS ci_lo,
       floor(hi.mean_b * 10000.0 + 0.5) / 10000.0 AS ci_hi,
       CAST({B} AS BIGINT) AS n_replicates
FROM point p,
     (SELECT mean_b FROM ranked WHERE rk = {lo_rk}) lo,
     (SELECT mean_b FROM ranked WHERE rk = {hi_rk}) hi
"""


def _skew_family_sql(label: str, table: str, key: str) -> str:
    return f"""
SELECT '{label}' AS join_key,
       CAST(sum(c) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(max(c) AS BIGINT) AS max_key_rows,
       floor(CAST(max(c) AS DOUBLE)
             / (CAST(sum(c) AS DOUBLE) / CAST(count(*) AS DOUBLE))
             * 100.0 + 0.5) / 100.0 AS skew_ratio,
       floor(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE)
             * 1000000.0 + 0.5) / 1000000.0 AS top_key_share,
       CAST(CASE WHEN CAST(max(c) AS DOUBLE)
                      / (CAST(sum(c) AS DOUBLE) / CAST(count(*) AS DOUBLE))
                      > 10.0
                 THEN 1 ELSE 0 END AS INT) AS is_skewed
FROM (SELECT {key}, count(*) AS c FROM {table} GROUP BY 1)
"""



def _logreg_eval_scored_sql() -> tuple[str, str]:
    """WITH-prefix producing `scored(vec_id, y, p)` from the shared
    GD chain, p snapped to 9 dp exactly like queries._logreg_scored."""
    ctes, wlast = _logreg_ctes()
    zexpr = "(0.0 + w.w0 * x0 + w.w1 * x1 + w.w2 * x2 + w.w3 * x3)"
    scored = (
        f"scored AS (SELECT vec_id, y, floor((1.0 / (1.0 + exp(-{zexpr})))"
        f" * 1000000000.0 + 0.5) / 1000000000.0 AS p FROM f, {wlast} w)"
    )
    return ctes, scored


def _ece_sql() -> str:
    ctes, scored = _logreg_eval_scored_sql()
    return f"""
WITH {ctes},
{scored},
ranked AS (
  SELECT y, p, row_number() OVER (ORDER BY p, vec_id) AS r FROM scored),
n_tot AS (SELECT count(*) AS n_all FROM scored),
binned AS (
  SELECT y, p, CAST(((r - 1) * 10) // n_all AS INT) AS bin
  FROM ranked, n_tot),
per_bin AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n_b,
         CAST(sum(CAST(p AS DECIMAL(38,18))) AS DOUBLE) AS sp,
         CAST(sum(CAST(y AS DECIMAL(38,18))) AS DOUBLE) AS sy
  FROM binned GROUP BY 1),
tot AS (SELECT sum(n_b) AS n FROM per_bin)
SELECT bin, n_b,
       floor(sp / n_b * 10000.0 + 0.5) / 10000.0 AS confidence,
       floor(sy / n_b * 10000.0 + 0.5) / 10000.0 AS accuracy,
       floor(abs(sy / n_b - sp / n_b) * CAST(n_b AS DOUBLE)
             / CAST(n AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
         AS ece_contrib
FROM per_bin, tot
"""


def _auc_sql() -> str:
    ctes, scored = _logreg_eval_scored_sql()
    return f"""
WITH {ctes},
{scored},
ranked AS (
  SELECT y, p, row_number() OVER (ORDER BY p, vec_id) AS r
  FROM scored),
avg_ranked AS (
  SELECT y,
         CAST(min(r) OVER (PARTITION BY p)
              + max(r) OVER (PARTITION BY p) AS DOUBLE) / 2.0 AS ar
  FROM ranked),
agg AS (
  SELECT sum(CASE WHEN y = 1.0 THEN ar END) AS rs,
         sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS np,
         sum(CASE WHEN y = 0.0 THEN 1 ELSE 0 END) AS nn
  FROM avg_ranked)
SELECT CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
       floor((rs - CAST(np AS DOUBLE) * (CAST(np AS DOUBLE) + 1.0) / 2.0)
             / (CAST(np AS DOUBLE) * CAST(nn AS DOUBLE))
             * 1000000.0 + 0.5) / 1000000.0 AS auc
FROM agg
"""


def _gboost_sql(rounds: int = 3) -> str:
    """Unrolled replay of q_gradient_boost_stumps: per round, the
    conditional-sum split search over the current residuals, the
    9-dp-snapped means / 6-dp-snapped scores, the lr=0.5 ensemble
    update, and the reported train SSE — all MATERIALIZED so the CTE
    chain cannot inline exponentially."""

    def snap9(e: str) -> str:
        return f"floor(({e}) * 1000000000.0 + 0.5) / 1000000000.0"

    ctes = [
        "feat AS MATERIALIZED (SELECT value AS y,"
        " CAST(hour(ts) AS INT) AS h FROM events)",
        "m0 AS MATERIALIZED (SELECT "
        + snap9(
            "CAST(sum(CAST(y AS DECIMAL(38,18))) AS DOUBLE) / count(*)"
        )
        + " AS f0 FROM feat)",
    ]
    model_tables = ["m0"]
    pred = "m0.f0"
    selects = []
    for r in range(1, rounds + 1):
        joins = ", ".join(model_tables)
        resid = f"(y - ({pred}))"
        ctes.append(
            f"tot{r} AS MATERIALIZED (SELECT count(*) AS n, "
            f"CAST(sum(CAST({resid} AS DECIMAL(38,18))) AS DOUBLE) AS s, "
            f"CAST(sum(CAST({resid} * {resid} AS DECIMAL(38,18))) "
            f"AS DOUBLE) AS q FROM feat, {joins})"
        )
        ctes.append(
            f"sides{r} AS MATERIALIZED (SELECT CAST(t.c AS INT) AS c, "
            f"CAST(sum(CASE WHEN h <= t.c THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS nl, "
            f"CAST(sum(CASE WHEN h <= t.c THEN CAST({resid} AS "
            f"DECIMAL(38,18)) ELSE CAST(0.0 AS DECIMAL(38,18)) END) "
            f"AS DOUBLE) AS sl FROM feat, range(23) t(c), {joins} "
            f"GROUP BY 1)"
        )
        ctes.append(
            f"scored{r} AS MATERIALIZED (SELECT s.c, s.nl, s.sl, "
            f"t.n, t.s AS sg, t.q, "
            f"floor((t.q - (s.sl * s.sl) / CAST(s.nl AS DOUBLE) "
            f"- ((t.s - s.sl) * (t.s - s.sl)) "
            f"/ CAST(t.n - s.nl AS DOUBLE)) * 1000000.0 + 0.5) "
            f"/ 1000000.0 AS sse FROM sides{r} s, tot{r} t "
            f"WHERE s.nl > 0 AND s.nl < t.n)"
        )
        ml = snap9("sl / CAST(nl AS DOUBLE)")
        mr = snap9("(sg - sl) / CAST(n - nl AS DOUBLE)")
        ctes.append(
            f"b{r} AS MATERIALIZED (SELECT c, {ml} AS ml, {mr} AS mr "
            f"FROM (SELECT *, row_number() OVER (ORDER BY sse, c) AS rn"
            f" FROM scored{r}) WHERE rn = 1)"
        )
        model_tables.append(f"b{r}")
        pred = (
            f"{pred} + 0.5 * (CASE WHEN h <= b{r}.c THEN b{r}.ml "
            f"ELSE b{r}.mr END)"
        )
        joins_r = ", ".join(model_tables)
        ctes.append(
            f"sse{r} AS MATERIALIZED (SELECT "
            f"CAST(sum(CAST((y - ({pred})) * (y - ({pred})) "
            f"AS DECIMAL(38,18))) AS DOUBLE) AS v FROM feat, {joins_r})"
        )
        selects.append(
            f"SELECT CAST({r} AS INT) AS round, "
            f"CAST(b{r}.c AS INT) AS split_hour, "
            f"floor(b{r}.ml * 10000.0 + 0.5) / 10000.0 AS mean_left, "
            f"floor(b{r}.mr * 10000.0 + 0.5) / 10000.0 AS mean_right, "
            f"floor(sse{r}.v * 100.0 + 0.5) / 100.0 AS train_sse "
            f"FROM b{r}, sse{r}"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\n"
        + "\nUNION ALL\n".join(selects)
    )


def _als_rank1_sql(iterations: int = 3) -> str:
    """Unrolled replay of q_als_rank1's alternating closed-form
    updates: per iteration a scalar v'v, the per-user factor as a
    decimal-summed aggregate, and the 9-dp-snapped item update."""

    def snap9(e: str) -> str:
        return f"floor(({e}) * 1000000000.0 + 0.5) / 1000000000.0"

    ctes = [
        "ratings AS MATERIALIZED (SELECT user_id AS u, event_type AS t,"
        " CAST(count(*) AS DOUBLE) AS r FROM events GROUP BY 1, 2)",
        "v0 AS MATERIALIZED (SELECT t, CAST(1.0 AS DOUBLE) AS v"
        " FROM (SELECT DISTINCT t FROM ratings))",
    ]
    prev = "v0"
    for k in range(1, iterations + 1):
        ctes.append(
            f"vv{k} AS (SELECT sum(v * v) AS s FROM {prev})"
        )
        ctes.append(
            f"u{k} AS MATERIALIZED (SELECT r.u, "
            f"CAST(sum(CAST(r.r * v.v AS DECIMAL(38,18))) AS DOUBLE)"
            f" / max(vv.s) AS uf "
            f"FROM ratings r JOIN {prev} v ON v.t = r.t, vv{k} vv "
            f"GROUP BY r.u)"
        )
        ctes.append(
            f"num{k} AS (SELECT r.t, "
            f"CAST(sum(CAST(r.r * u.uf AS DECIMAL(38,18))) AS DOUBLE)"
            f" AS num FROM ratings r JOIN u{k} u ON u.u = r.u GROUP BY 1)"
        )
        ctes.append(
            f"den{k} AS (SELECT CAST(sum(CAST(uf * uf AS "
            f"DECIMAL(38,18))) AS DOUBLE) AS den FROM u{k})"
        )
        ctes.append(
            f"v{k} AS MATERIALIZED (SELECT n.t, "
            + snap9("n.num / d.den")
            + f" AS v FROM num{k} n, den{k} d)"
        )
        prev = f"v{k}"
    ctes.append(
        f"vvf AS (SELECT sum(v * v) AS s FROM {prev})"
    )
    ctes.append(
        "uf AS MATERIALIZED (SELECT r.u, "
        "CAST(sum(CAST(r.r * v.v AS DECIMAL(38,18))) AS DOUBLE)"
        f" / max(vv.s) AS uf FROM ratings r JOIN {prev} v ON v.t = r.t,"
        " vvf vv GROUP BY r.u)"
    )
    ctes.append(
        f"sse AS (SELECT count(*) AS n, "
        f"CAST(sum(CAST((r.r - u.uf * v.v) * (r.r - u.uf * v.v) "
        f"AS DECIMAL(38,18))) AS DOUBLE) AS sse "
        f"FROM ratings r JOIN uf u ON u.u = r.u "
        f"JOIN {prev} v ON v.t = r.t)"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT v.t AS event_type,
       floor(v.v * 10000.0 + 0.5) / 10000.0 AS v_factor,
       floor(sqrt(sse.sse / sse.n) * 10000.0 + 0.5) / 10000.0 AS rmse
FROM {prev} v, sse
"""
    )


def _isotonic_sql() -> str:
    """Replay of q_isotonic_calibration: the shared scored relation,
    rank-decile table, and the minimax closed form
    iso_i = max_{j<=i} min_{k>=i} wmean(j..k) from prefix sums."""
    ctes, scored = _logreg_eval_scored_sql()
    return f"""
WITH {ctes},
{scored},
ranked AS (
  SELECT y, p, row_number() OVER (ORDER BY p, vec_id) AS r FROM scored),
n_tot AS (SELECT count(*) AS n_all FROM scored),
deciles AS (
  SELECT CAST(((r - 1) * 10) // n_all AS INT) AS bin,
         CAST(count(*) AS BIGINT) AS n_b,
         CAST(sum(CAST(p AS DECIMAL(38,18))) AS DOUBLE) AS sp,
         CAST(sum(CAST(y AS DECIMAL(38,18))) AS DOUBLE) AS sy
  FROM ranked, n_tot GROUP BY 1),
pre AS (
  SELECT bin, n_b, sp, sy,
         sum(n_b) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS cn,
         CAST(sum(CAST(sy AS DECIMAL(38,18))) OVER (
           ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
           AND CURRENT ROW) AS DOUBLE) AS cy
  FROM deciles),
rng AS (
  SELECT l.bin AS j, h.bin AS k,
         (h.cy - (l.cy - l.sy))
         / CAST(h.cn - (l.cn - l.n_b) AS DOUBLE) AS wmean
  FROM pre l, pre h WHERE l.bin <= h.bin),
inner_min AS (
  SELECT d.bin, d.n_b, d.sp, d.sy, r.j, min(r.wmean) AS mn
  FROM deciles d JOIN rng r ON r.j <= d.bin AND r.k >= d.bin
  GROUP BY 1, 2, 3, 4, 5),
iso AS (
  SELECT bin, n_b, sp, sy, max(mn) AS iso_raw
  FROM inner_min GROUP BY 1, 2, 3, 4)
SELECT bin, n_b,
       floor(sp / n_b * 10000.0 + 0.5) / 10000.0 AS confidence,
       floor(sy / n_b * 10000.0 + 0.5) / 10000.0 AS accuracy,
       floor(iso_raw * 10000.0 + 0.5) / 10000.0 AS calibrated
FROM iso
"""

_GEO_PTS_SQL = """
pts AS (
  SELECT c_custkey,
         CAST(-180 + (c_custkey * 7) % 360 AS BIGINT) AS px,
         CAST(-55 + c_custkey % 110 AS BIGINT) AS py
  FROM customer)
"""


def _kcore_sql(k: int = 3, rounds: int = 14) -> str:
    """Generated mirror of operators/graph.py::kcore over the strong
    co-order graph (q_graph_kcore): the min-degree peel unrolled into
    one CTE per round — a_i keeps the nodes whose degree within the
    a_{i-1}-induced subgraph is >= k, exactly the parallel sweep the
    Spark loop runs. ``rounds`` must be >= the peel depth at the
    oracle SF (measured 10 at sf0.01 for k=3; extra rounds are no-ops
    at the fixpoint, so over-provisioning is harmless and 14 leaves
    margin). Final projection = each survivor's degree WITHIN the
    core, matching the operator's output.

    Every CTE is MATERIALIZED: each round references the previous one
    TWICE (both join sides), so inlining would expand the plan 2^rounds
    times — materialization is what makes an unrolled iterative oracle
    linear in rounds, exactly like the Spark loop's lineage cuts."""
    ctes = ["""WITH op0 AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
op AS MATERIALIZED (
  SELECT * FROM op0 WHERE l_orderkey IN (
    SELECT l_orderkey FROM op0 GROUP BY 1 HAVING count(*) <= 64)),
e AS MATERIALIZED (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey <> b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2),
a0 AS MATERIALIZED (SELECT DISTINCT u AS node FROM e)"""]
    for i in range(1, rounds + 1):
        ctes.append(
            f"""a{i} AS MATERIALIZED (
  SELECT e.u AS node FROM e
  JOIN a{i - 1} x ON e.u = x.node
  JOIN a{i - 1} y ON e.v = y.node
  GROUP BY 1 HAVING count(*) >= {k})"""
        )
    return ",\n".join(ctes) + f"""
SELECT CAST(e.u AS BIGINT) AS p_partkey,
       CAST(count(*) AS BIGINT) AS core_degree
FROM e
JOIN a{rounds} x ON e.u = x.node
JOIN a{rounds} y ON e.v = y.node
GROUP BY 1"""



def _ppr_sql(
    seeds: list[int],
    iterations: int = 4,
    damping: float = 0.85,
    eps: float = 0.0,
) -> str:
    """Generated mirror of operators/graph.py::personalized_pagerank
    over the capped undirected part co-order graph
    (q_personalized_pagerank): the seed-restart recurrence unrolled
    one MATERIALIZED CTE per round, FRONTIER-SPARSE exactly like the
    Spark loop (it_i holds only nodes with nonzero rank). The
    contribution sums are decimal-cast in both engines; each node's
    round value is teleport-row UNION ALL damped-received-row summed —
    at most 2 addends, one commutative IEEE addition, so the unrolled
    ranks are bit-identical. Teleport literal mirrors the Spark plan:
    (1.0 - 0.85) evaluates to the same IEEE double both sides before
    the in-engine division by |seeds|. ``eps`` > 0 mirrors the
    operator's forward-push truncation as a HAVING on each round's
    summed rank (same engine-identical double comparison)."""
    k = len(seeds)
    seed_list = ", ".join(str(s) for s in seeds)
    tele = f"(1.0 - {damping}) / {k}"
    having = f" HAVING sum(rank) >= {eps}" if eps > 0.0 else ""
    parts = [
        f"""WITH op0 AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
op AS MATERIALIZED (
  SELECT * FROM op0 WHERE l_orderkey IN (
    SELECT l_orderkey FROM op0 GROUP BY 1 HAVING count(*) <= 64)),
e AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey <> b.l_partkey),
deg AS MATERIALIZED (SELECT src, count(*) AS out_deg FROM e GROUP BY 1),
seeds AS MATERIALIZED (SELECT unnest([{seed_list}]) AS node),
it0 AS MATERIALIZED (SELECT node, 1.0 / {k} AS rank FROM seeds)"""
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f""",
it{i} AS MATERIALIZED (
  SELECT node, sum(rank) AS rank FROM (
    SELECT node, {tele} AS rank FROM seeds
    UNION ALL
    SELECT c.node, {damping} * CAST(c.received AS DOUBLE) AS rank
    FROM (SELECT e.dst AS node,
                 sum(CAST(r.rank / deg.out_deg AS DECIMAL(38,20)))
                   AS received
          FROM e JOIN deg USING (src) JOIN it{i - 1} r ON r.node = e.src
          GROUP BY 1) c
  ) GROUP BY 1{having})"""
        )
    parts.append(
        f"""
SELECT CAST(node AS BIGINT) AS l_partkey,
       floor((rank * 1000000.0) * 100.0 + 0.5) / 100.0 AS rank_ppm
FROM it{iterations}
ORDER BY rank_ppm DESC, l_partkey LIMIT 20"""
    )
    return "".join(parts)


def _graph_stats_rebuild_sql(edge_where: str = "") -> str:
    """From-scratch rebuild of the maintained per-node
    (degree, n_triangles) store over the capped part co-order graph —
    ONE definition consumed by BOTH incremental_graph_stats and
    streaming_graph_stats (the fold and the stream maintain the same
    store, so their rebuild oracle must be literally identical; a
    per-key copy is the silent-drift risk the engine's other twins
    avoid the same way). Basket cap mirrors queries/graph.py::
    _capped_order_parts (HAVING count(*) <= 64); triangle enumeration
    is the orientation-free a<b<c triple join; rank ties break by
    node. ``edge_where`` (r11, graph_stats_forget's oracle) filters
    the edge relation — the rebuild over the SURVIVING edges the
    deletion must equal."""
    ef = (
        f",\nef AS MATERIALIZED (SELECT * FROM e WHERE {edge_where})"
        if edge_where
        else ""
    )
    src = "ef" if edge_where else "e"
    return f"""
WITH op0 AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
op AS MATERIALIZED (
  SELECT * FROM op0 WHERE l_orderkey IN (
    SELECT l_orderkey FROM op0 GROUP BY 1 HAVING count(*) <= 64)),
e AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey){ef},
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
    SELECT u AS node FROM {src} UNION ALL SELECT v AS node FROM {src})
  GROUP BY 1),
t AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM {src} e1 JOIN {src} e2 ON e1.v = e2.u
            JOIN {src} e3 ON e3.u = e1.u AND e3.v = e2.v),
tri AS (
  SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
  FROM (SELECT unnest([a, b, c]) AS node FROM t) GROUP BY 1),
m AS (
  SELECT d.node, d.degree,
         CAST(coalesce(tri.n_triangles, 0) AS BIGINT) AS n_triangles
  FROM deg d LEFT JOIN tri ON d.node = tri.node),
r AS (
  SELECT node, degree, n_triangles,
         row_number() OVER (ORDER BY n_triangles DESC, node) AS rank
  FROM m)
SELECT CAST(node AS BIGINT) AS l_partkey, degree, n_triangles,
       CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= 20
"""


def _lsh_band_plan_sql(ladder: list[tuple[int, int]]) -> str:
    """Generated mirror of q_lsh_band_plan: the exact pair-Jaccard
    histogram (same shingle/intersection CTEs as ngram_jaccard,
    bucketed to 0.01) crossed with the banding ladder — each ladder
    entry's S-curve comes from the SAME generated expression the Spark
    plan consumes (text/dedup.py::lsh_catch_probability_sql), and the
    expected counts are decimal-cast sums with the engine's standard
    floor-rounding. The doc relation is the deterministic SIZE-DERIVED
    md5-prefix sample: the threshold hex is computed from DuckDB's own
    corpus count with the exact integer arithmetic of
    functions/sampling.py::deterministic_sample_to_size — the
    cap/space literals IMPORTED from that module (DEFAULT_MAX_RATE,
    _SPACE), the division guarded by GREATEST(count(*), 1) — mirroring
    the Spark plan's quadratic-bounding sample at any corpus scale."""
    from aproximacion_1_etl_spark.functions.sampling import (
        _SPACE,
        DEFAULT_MAX_RATE,
    )
    from aproximacion_1_etl_spark.text.dedup import (
        LSH_PLAN_SAMPLE_TARGET,
    )

    # Derived from the SAME constants the engine's
    # deterministic_sample_to_size uses — never re-typed literals, so
    # changing max_rate/_SPACE on the Spark side cannot silently
    # desync this mirror (ADVICE r9 #1).
    cap = int(DEFAULT_MAX_RATE * _SPACE)
    jac = "floor((i * 1.0 / (sa.sz + sb.sz - i)) * 1000000.0 + 0.5) / 1000000.0"
    sampled_shingles = _SHINGLES_SQL.strip().replace(
        "FROM documents WHERE",
        "FROM documents WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)"
        " < (SELECT h FROM samp_thr) AND",
        1,
    )
    if sampled_shingles == _SHINGLES_SQL.strip():
        # the injection is textual: a reworded _SHINGLES_SQL must fail
        # HERE with a clear message, not later as an opaque cert hash
        # mismatch from an unsampled histogram
        raise AssertionError(
            "_lsh_band_plan_sql: sample-predicate injection anchor "
            "'FROM documents WHERE' not found in _SHINGLES_SQL — the "
            "CTE was reworded; update the injection anchor"
        )
    head = f"""WITH samp_thr AS MATERIALIZED (
  SELECT printf('%04x',
                GREATEST(1, LEAST({cap},
                  ({LSH_PLAN_SAMPLE_TARGET} * {_SPACE})
                    // GREATEST(count(*), 1)))) AS h
  FROM documents),
{sampled_shingles},
sz AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM shingles a JOIN shingles b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
j AS (
  SELECT {jac} AS jac
  FROM inter JOIN sz sa ON doc_a = sa.doc_id
             JOIN sz sb ON doc_b = sb.doc_id
  WHERE {jac} >= 0.1),
hist AS (SELECT floor(jac * 100) / 100 AS s, count(*) AS n
         FROM j GROUP BY 1)
"""
    parts = []
    for b, r in ladder:
        p = lsh_catch_probability_sql(b, r, "s")
        parts.append(f"""SELECT CAST({b} AS INT) AS bands,
       CAST({r} AS INT) AS rows_per_band,
       floor((CAST(sum(CASE WHEN s >= 0.9
                  THEN CAST({p} * n AS DECIMAL(38,15)) END) AS DOUBLE)
              / sum(CASE WHEN s >= 0.9 THEN n END))
             * 1000000.0 + 0.5) / 1000000.0 AS catch_ge90,
       floor(CAST(sum(CASE WHEN s < 0.5
                  THEN CAST({p} * n AS DECIMAL(38,15)) END) AS DOUBLE)
             * 100.0 + 0.5) / 100.0 AS exp_cand_lt50,
       floor(CAST(sum(CAST({p} * n AS DECIMAL(38,15))) AS DOUBLE)
             * 100.0 + 0.5) / 100.0 AS exp_cand_total
FROM hist""")
    return head + "\nUNION ALL\n".join(parts)


def _dup_clusters_sql(doc_where: str = "") -> str:
    """The from-scratch near-dup clustering over the (optionally
    filtered) corpus — ONE builder now shared by the dup_clusters /
    dup_clusters_forget catalog entries AND the RTBF audit's
    cluster-surface counts, so the audit's rebuild can never drift
    from the keys it audits. ``doc_where`` injects into the shingle
    base with the established fail-fast anchor device."""
    sh = _SHINGLES_SQL.strip()
    if doc_where:
        injected = sh.replace(
            "FROM documents WHERE",
            f"FROM documents WHERE {doc_where} AND ",
        )
        if injected == sh:
            raise AssertionError(
                "_dup_clusters_sql: rebase anchor 'FROM documents "
                "WHERE' not found in _SHINGLES_SQL — the CTE was "
                "reworded; update the injection anchor"
            )
        sh = injected
    return (
        "WITH RECURSIVE "
        + sh
        + ","
        + _CLUSTER_CTES
        + """
SELECT id AS doc_id, min(r) AS cluster_id, (id = min(r)) AS keep
FROM reach GROUP BY id
"""
    )


def _graph_node_relation_sql(edge_where: str = "") -> str:
    """The FULL per-node store relation of _graph_stats_rebuild_sql —
    the same rebuild with the top-20 rank cut stripped (fail-fast
    anchor device), so the RTBF audit can count the whole maintained
    graph store before/after a product-forget wave."""
    sql = _graph_stats_rebuild_sql(edge_where)
    out = sql.replace("FROM r WHERE rank <= 20", "FROM r")
    if out == sql:
        raise AssertionError(
            "_graph_node_relation_sql: rebase anchor 'FROM r WHERE "
            "rank <= 20' not found in _graph_stats_rebuild_sql — the "
            "tail was reworded; update the strip anchor"
        )
    return out


def _rtbf_audit_sql(budget: int = 25) -> str:
    """Mirror of q_rtbf_audit_report — the cross-store RTBF audit
    capstone (r12 task 4): ten (surface, n_before, n_deleted,
    n_after, n_subject_still_visible) rows, every count computed from
    a FROM-SCRATCH rebuild over the pre-/post-delete corpus (never
    from the engine's folds), and every visibility column computed as
    a genuine subject-membership sum over the post-delete rebuild —
    all-zeros because a rebuild over erased data cannot see the
    subject, which is exactly the bar the engine's composed forget
    edges must meet. Surface relations reuse the SAME SQL builders as
    the per-store catalog keys (_dup_clusters_sql,
    _incremental_chunk_index_sql, _graph_node_relation_sql, the BM25
    tokenizer and LM trigram CTE shapes), so audit and store oracles
    cannot drift."""
    doc_where = "doc_id % 7 != 0"
    band = "substring(md5(CAST({k} AS VARCHAR)), 1, 4) < '0800'"

    def rel_row(surface, full_sql, after_sql, vis_pred):
        return f"""
SELECT '{surface}' AS surface, _b.n_before,
       CAST(_b.n_before - _a.n_after AS BIGINT) AS n_deleted,
       _a.n_after, _a.vis AS n_subject_still_visible
FROM (SELECT CAST(count(*) AS BIGINT) AS n_before
      FROM ({full_sql.strip()}) _x) _b,
     (SELECT CAST(count(*) AS BIGINT) AS n_after,
             CAST(coalesce(sum(CASE WHEN {vis_pred}
                                    THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS vis
      FROM ({after_sql.strip()}) _y) _a"""

    def dv_row(surface, table, key_expr, join=""):
        b = band.format(k=key_expr)
        return f"""
SELECT '{surface}' AS surface, _b.n_before,
       CAST(_b.n_before - _a.n_after AS BIGINT) AS n_deleted,
       _a.n_after, _a.vis AS n_subject_still_visible
FROM (SELECT CAST(count(*) AS BIGINT) AS n_before FROM {table}{join}) _b,
     (SELECT CAST(count(*) AS BIGINT) AS n_after,
             CAST(coalesce(sum(CASE WHEN {b} THEN 1 ELSE 0 END), 0)
                  AS BIGINT) AS vis
      FROM {table}{join} WHERE NOT ({b})) _a"""

    postings = (
        "SELECT doc_id, term FROM (SELECT doc_id,"
        " unnest(string_split(text, ' ')) AS term FROM documents{w})"
        " GROUP BY 1, 2"
    )
    sig_docs = (
        "SELECT doc_id FROM documents"
        " WHERE len(string_split(text, ' ')) >= 3{a}"
    )
    lm_tris = (
        "SELECT lang, tri, CAST(count(*) AS BIGINT) AS c3"
        " FROM (SELECT lang, substr(text, i, 3) AS tri"
        "       FROM (SELECT lang, text,"
        "                    unnest(generate_series(1, len(text) - 2)) AS i"
        "             FROM documents{w})) GROUP BY 1, 2"
    )
    rows = [
        dv_row("dv_events", "events", "user_id"),
        dv_row("dv_orders", "orders", "o_custkey"),
        dv_row(
            "dv_lineitem", "lineitem li", "ord.o_custkey",
            join=" JOIN orders ord ON ord.o_orderkey = li.l_orderkey",
        ),
        rel_row(
            "cluster_store",
            _dup_clusters_sql(),
            _dup_clusters_sql(doc_where),
            "doc_id % 7 = 0 OR cluster_id % 7 = 0",
        ),
        rel_row(
            "signature_store",
            sig_docs.format(a=""),
            sig_docs.format(a=f" AND {doc_where}"),
            "doc_id % 7 = 0",
        ),
        rel_row(
            "bm25_postings",
            postings.format(w=""),
            postings.format(w=f" WHERE {doc_where}"),
            "doc_id % 7 = 0",
        ),
        rel_row(
            "chunk_index",
            _incremental_chunk_index_sql(budget),
            _incremental_chunk_index_sql(budget, where=doc_where),
            "doc_id % 7 = 0",
        ),
        rel_row(
            "lm_counts",
            lm_tris.format(w=""),
            lm_tris.format(w=f" WHERE {doc_where}"),
            "c3 <= 0",
        ),
        rel_row(
            "graph_store",
            _graph_node_relation_sql(),
            _graph_node_relation_sql(
                edge_where="u % 10 != 0 AND v % 10 != 0"
            ),
            "l_partkey % 10 = 0",
        ),
        rel_row(
            "ivf_index",
            "SELECT vec_id FROM embeddings",
            "SELECT vec_id FROM embeddings WHERE vec_id % 7 != 0",
            "vec_id % 7 = 0",
        ),
    ]
    # ---- r13 surfaces (VERDICT r12 task 2) ----
    from aproximacion_1_etl_spark.queries.profile import (
        WEIGHTED_SAMPLE_K,
        WEIGHTED_SAMPLE_RESERVE,
    )

    cap = WEIGHTED_SAMPLE_K + WEIGHTED_SAMPLE_RESERVE
    ws_ranked = (
        "SELECT lang, doc_id FROM ("
        "SELECT lang, doc_id, row_number() OVER ("
        "PARTITION BY lang ORDER BY "
        "pow((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)"
        " AS INTEGER) + 1) / 65537.0,"
        " 1.0 / greatest(CAST(n_chars AS DOUBLE), 1.0)) DESC,"
        " doc_id ASC) AS rn FROM documents) "
        f"WHERE rn <= {cap}{{extra}}"
    )
    ub = "substring(md5(CAST(o_custkey AS VARCHAR)), 1, 4) < '0800'"
    prof_cols = [
        "o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority",
    ]
    stack = " UNION ALL ".join(
        f"SELECT '{c}' AS column_name, CAST({c} AS VARCHAR) AS value"
        f" FROM o WHERE {c} IS NOT NULL"
        for c in prof_cols
    )
    # NOTE on representations: only COUNTS surface in the audit rows,
    # and both engines' double/date-to-string casts are injective, so
    # distinct counts agree even where the text forms differ; the vis
    # predicate touches only o_custkey values (integers — identical
    # text both sides)
    pd_rel = (
        "SELECT DISTINCT column_name, value FROM ({stack}) _st"
    )
    eb = "substring(md5(CAST(user_id AS VARCHAR)), 1, 4) < '0800'"
    hist_rel = (
        "SELECT bucket FROM ("
        "SELECT LEAST(512, CAST(floor((value - (SELECT min(value) FROM"
        " events)) / ((SELECT (max(value) - min(value)) / 512.0 FROM"
        " events))) AS INT) + 1) AS bucket"
        " FROM events{w}) GROUP BY bucket"
    )
    cms_rel = (
        "SELECT day, j, cell FROM ("
        "SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, j,"
        " substring(md5(j || ':' || event_type), 1, 2) AS cell"
        " FROM events, (SELECT unnest([0, 1, 2, 3]) AS j){w})"
        " GROUP BY 1, 2, 3"
    )
    rows += [
        rel_row(
            "weighted_sample",
            ws_ranked.format(extra=""),
            ws_ranked.format(extra=" AND doc_id % 7 != 0"),
            "doc_id % 7 = 0",
        ),
        rel_row(
            "profile_distinct",
            "WITH o AS (SELECT * FROM orders) "
            + pd_rel.format(stack=stack),
            f"WITH o AS (SELECT * FROM orders WHERE NOT ({ub})) "
            + pd_rel.format(stack=stack),
            "column_name = 'o_custkey' AND"
            " substring(md5(value), 1, 4) < '0800'",
        ),
        rel_row(
            "quantile_hist",
            hist_rel.format(w=""),
            hist_rel.format(w=f" WHERE NOT ({eb})"),
            "bucket < 0",
        ),
        rel_row(
            "hll_sketch_cells",
            "SELECT event_type, CAST(ts AS DATE) AS day FROM events"
            " GROUP BY 1, 2",
            "SELECT event_type, CAST(ts AS DATE) AS day FROM events"
            f" WHERE NOT ({eb}) GROUP BY 1, 2",
            "FALSE",
        ),
        rel_row(
            "cms_sketch_cells",
            cms_rel.format(w=""),
            cms_rel.format(w=f" WHERE NOT ({eb})"),
            "cell IS NULL",
        ),
    ]
    return "\nUNION ALL\n".join(rows)


__all__ = [
    "_ppr_sql",
    "_graph_stats_rebuild_sql",
    "_lsh_band_plan_sql",
    "_kcore_sql",
    "_WORK_SQL",
    "_SHINGLES_SQL",
    "_simhash_sql",
    "_plane_literal",
    "_near_dup_lsh_sql",
    "_lsh_sql",
    "_bm25_sql",
    "_pagerank_sql",
    "_ivf_cent_ctes",
    "_pq_cent_ctes",
    "_ann_topk_pq_sql",
    "_ann_topk_ivfpq_sql",
    "_ivf_nprobe_plan_sql",
    "_ivf_retrain_plan_sql",
    "_ivf_index_forget_sql",
    "_ivf_retrain_execute_sql",
    "_pq_retrain_execute_sql",
    "_pq_retrain_plan_sql",
    "_retrieval_eval_sql",
    "_sentence_chunk_ctes",
    "_chunk_retrieval_sql",
    "_chunk_ann_sql",
    "_incremental_chunk_index_sql",
    "_dup_clusters_sql",
    "_graph_node_relation_sql",
    "_rtbf_audit_sql",
    "_chunk_hybrid_sql",
    "_chunk_ann_recall_sql",
    "_chunk_vec_ctes",
    "_chunk_ann_ctes",
    "_semantic_dedup_sql",
    "_ivf_index_append_sql",
    "_ann_topk_ivf_sql",
    "_ann_brute_sql",
    "_rrf_sql",
    "_ann_recall_sql",
    "_CLUSTER_CTES",
    "_cluster_split_sql",
    "_bpe_train_sql",
    "_bpe_encode_sql",
    "_QUALITY_SQL",
    "_lang_hits_sql",
    "_LANG_PRED_SQL",
    "_lang_confusion_sql",
    "_quality_outliers_sql",
    "_funnel_sql",
    "_kmeans_profile_sql",
    "_lsh_multiprobe_sql",
    "_rerank_sql",
    "_corpus_release_sql",
    "_pca_power_sql",
    "_ols_event_sql",
    "_logreg_ctes",
    "_logreg_sql",
    "_bootstrap_sql",
    "_skew_family_sql",
    "_logreg_eval_scored_sql",
    "_ece_sql",
    "_auc_sql",
    "_gboost_sql",
    "_als_rank1_sql",
    "_isotonic_sql",
    "_GEO_PTS_SQL",
]
