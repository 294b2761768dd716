"""Oracle SQL — text domain (entries mechanically moved from oracles.py, values verbatim)."""


from __future__ import annotations

from aproximacion_1_etl_spark.text.analysis import (
    BM25_QUERIES as _BM25_QUERIES,
)
from aproximacion_1_etl_spark.text.dedup import (
    LSH_PLAN_LADDER as _LSH_PLAN_LADDER,
)
from .common import *  # noqa: F401,F403

ORACLES: dict[str, str] = {
    "lsh_band_plan": _lsh_band_plan_sql(_LSH_PLAN_LADDER),
    "bm25_topk": _bm25_sql(_BM25_QUERIES),
    # maintained-index fold must equal the from-scratch pass - the
    # oracle IS that rebuild (bm25_topk SQL verbatim)
    "incremental_bm25_index": _bm25_sql(_BM25_QUERIES),
    # streaming twin: multi-wave fold must reproduce the one-shot
    # statistics bit-for-bit - same rebuild SQL
    "streaming_bm25_index": _bm25_sql(_BM25_QUERIES),
    # the RTBF deletion edge: scoring through the SHRUNK index must
    # equal the from-scratch BM25 over the post-delete corpus —
    # forget == rebuild (the dup_clusters_forget device applied to
    # the retrieval index)
    "bm25_index_forget": _bm25_sql(
        _BM25_QUERIES,
        relation="(SELECT doc_id, text FROM documents"
        " WHERE doc_id % 5 != 0) rem",
    ),
    "lm_trigram_score": """
WITH dtc AS (SELECT doc_id, lang, tri, count(*) AS cnt
             FROM (SELECT doc_id, lang, substr(text, i, 3) AS tri
                   FROM (SELECT doc_id, lang, text,
                                unnest(generate_series(1, len(text) - 2))
                                  AS i
                         FROM documents))
             GROUP BY 1, 2, 3),
c3 AS (SELECT lang, tri, sum(cnt) AS c3 FROM dtc GROUP BY 1, 2),
c2 AS (SELECT lang, substr(tri, 1, 2) AS bi, sum(c3) AS c2
       FROM c3 GROUP BY 1, 2),
model AS (SELECT c3.lang, c3.tri, ln(c3.c3 / c2.c2) AS lp
          FROM c3 JOIN c2
            ON c3.lang = c2.lang AND substr(c3.tri, 1, 2) = c2.bi)
SELECT dtc.doc_id, dtc.lang, CAST(sum(dtc.cnt) AS BIGINT) AS n_tri,
       floor((CAST(sum(CAST(m.lp AS DECIMAL(38,18)) * dtc.cnt) AS DOUBLE)
              / sum(dtc.cnt)) * 10000.0 + 0.5) / 10000.0 AS avg_logp
FROM dtc JOIN model m ON dtc.lang = m.lang AND dtc.tri = m.tri
GROUP BY 1, 2
""",
    # maintained-LM fold must equal scoring through the from-scratch
    # full-corpus model — model over ALL docs, scores over the batch
    # (fold == rebuild, the family's standard proof)
    "incremental_lm_index": """
WITH dtc AS (SELECT doc_id, lang, tri, count(*) AS cnt
             FROM (SELECT doc_id, lang, substr(text, i, 3) AS tri
                   FROM (SELECT doc_id, lang, text,
                                unnest(generate_series(1, len(text) - 2))
                                  AS i
                         FROM documents))
             GROUP BY 1, 2, 3),
c3 AS (SELECT lang, tri, sum(cnt) AS c3 FROM dtc GROUP BY 1, 2),
c2 AS (SELECT lang, substr(tri, 1, 2) AS bi, sum(c3) AS c2
       FROM c3 GROUP BY 1, 2),
model AS (SELECT c3.lang, c3.tri, ln(c3.c3 / c2.c2) AS lp
          FROM c3 JOIN c2
            ON c3.lang = c2.lang AND substr(c3.tri, 1, 2) = c2.bi)
SELECT dtc.doc_id, dtc.lang, CAST(sum(dtc.cnt) AS BIGINT) AS n_tri,
       floor((CAST(sum(CAST(m.lp AS DECIMAL(38,18)) * dtc.cnt) AS DOUBLE)
              / sum(dtc.cnt)) * 10000.0 + 0.5) / 10000.0 AS avg_logp
FROM dtc JOIN model m ON dtc.lang = m.lang AND dtc.tri = m.tri
WHERE dtc.doc_id % 4 = 0
GROUP BY 1, 2
""",
    # LM deletion edge: scoring through the SHRUNK counts must equal
    # train + score from scratch over the post-delete corpus
    "lm_index_forget": """
WITH dtc AS (SELECT doc_id, lang, tri, count(*) AS cnt
             FROM (SELECT doc_id, lang, substr(text, i, 3) AS tri
                   FROM (SELECT doc_id, lang, text,
                                unnest(generate_series(1, len(text) - 2))
                                  AS i
                         FROM documents
                         WHERE doc_id % 5 != 0))
             GROUP BY 1, 2, 3),
c3 AS (SELECT lang, tri, sum(cnt) AS c3 FROM dtc GROUP BY 1, 2),
c2 AS (SELECT lang, substr(tri, 1, 2) AS bi, sum(c3) AS c2
       FROM c3 GROUP BY 1, 2),
model AS (SELECT c3.lang, c3.tri, ln(c3.c3 / c2.c2) AS lp
          FROM c3 JOIN c2
            ON c3.lang = c2.lang AND substr(c3.tri, 1, 2) = c2.bi)
SELECT dtc.doc_id, dtc.lang, CAST(sum(dtc.cnt) AS BIGINT) AS n_tri,
       floor((CAST(sum(CAST(m.lp AS DECIMAL(38,18)) * dtc.cnt) AS DOUBLE)
              / sum(dtc.cnt)) * 10000.0 + 0.5) / 10000.0 AS avg_logp
FROM dtc JOIN model m ON dtc.lang = m.lang AND dtc.tri = m.tri
GROUP BY 1, 2
""",
    "prefix_filter_join": """
WITH toks AS (
  SELECT DISTINCT doc_id, lang, source, tok
  FROM (SELECT doc_id, lang, source,
               unnest(string_split(lower(text), ' ')) AS tok
        FROM documents)
  WHERE tok <> ''),
sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY 1),
inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS ni
          FROM toks a JOIN toks b
            ON a.tok = b.tok AND a.lang = b.lang
           AND a.source = b.source AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
SELECT da AS doc_a, db AS doc_b,
       floor(CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) * 10000.0 + 0.5)
         / 10000.0 AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = da
JOIN sizes sb ON sb.doc_id = db
WHERE CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) >= 0.9
""",
    "top_tokens_per_lang": """
WITH toks AS (
  SELECT lang, unnest(regexp_split_to_array(lower(trim(text)), '\\s+'))
           AS token
  FROM documents),
c AS (SELECT lang, token, count(*) AS n FROM toks
      WHERE token != '' GROUP BY 1, 2),
r AS (SELECT *, row_number() OVER (
        PARTITION BY lang ORDER BY n DESC, token ASC) AS rank FROM c)
SELECT lang, token, n, rank FROM r WHERE rank <= 5
""",
    "udtf_sentences": """
WITH parts AS (
  SELECT doc_id, string_split(text, '. ') AS ps FROM documents)
SELECT doc_id, i AS sent_idx, ps[i] AS sentence
FROM parts, (SELECT unnest(generate_series(1, 10000)) AS i)
WHERE i <= len(ps) AND ps[i] != ''
""",
    "rolling_hash_fingerprint": """
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(regexp_extract_all(text, '[\\s\\S]'),
                          c -> CAST(unicode(c) AS BIGINT))),
         (a, b) -> (a * 31 + b) % 1000000007) AS rolling_hash,
       CAST(length(text) AS BIGINT) AS n_chars
FROM documents
""",
    "corpus_clean": """
WITH scored AS (
  SELECT doc_id, lang,
    floor((0.25 * (CASE WHEN length(text) BETWEEN 100 AND 20000
                       THEN 1.0 ELSE 0.0 END)
        + 0.25 * (1.0 - len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) * 1.0
                   / greatest(length(text), 1))
        + 0.25 * (len(regexp_extract_all(text, '[A-Za-z]')) * 1.0
                   / greatest(length(text), 1))
        + 0.25 * (CASE WHEN length(text) * 1.0 /
                         greatest(len(regexp_split_to_array(trim(text),
                                                            '\\s+')), 1)
                         BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.0 END))
          * 10000.0 + 0.5) / 10000.0 AS quality,
    sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
      AS content_hash
  FROM documents
), good AS (
  SELECT * FROM scored WHERE quality >= 0.5
), surv AS (
  SELECT *, min(doc_id) OVER (PARTITION BY content_hash) AS keep_id
  FROM good
)
SELECT CASE
         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccd' THEN 'train'
         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'val'
         ELSE 'test'
       END AS split,
       lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       floor(CAST(sum(CAST(quality AS DECIMAL(30,8))) AS DOUBLE)
             * 10000.0 + 0.5) / 10000.0 AS sum_quality
FROM surv
WHERE doc_id = keep_id
GROUP BY 1, 2
""",
    "dedup_exact": """
SELECT sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
         AS content_hash,
       min(doc_id) AS keep_id, count(*) AS dup_count
FROM documents GROUP BY 1
""",
    "dedup_minhash_lsh": "WITH "
    + _SHINGLES_SQL
    + """,
sig AS (
  SELECT doc_id, b,
         min(substr(md5(CAST(b // 4 AS VARCHAR) || ':' || shingle),
                    1 + 8 * (b % 4), 8)) AS s
  FROM shingles, (SELECT unnest(generate_series(0, 7)) AS b)
  GROUP BY 1, 2)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS matching_bands
FROM sig a JOIN sig b ON a.b = b.b AND a.s = b.s AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= 2
""",
    "incremental_near_dup": "WITH "
    + _SHINGLES_SQL
    + """,
sig AS (
  SELECT doc_id, b,
         min(substr(md5(CAST(b // 4 AS VARCHAR) || ':' || shingle),
                    1 + 8 * (b % 4), 8)) AS s
  FROM shingles, (SELECT unnest(generate_series(0, 7)) AS b)
  GROUP BY 1, 2)
SELECT a.doc_id AS doc_new, b.doc_id AS doc_old,
       CAST(count(*) AS BIGINT) AS matching_bands,
       floor((count(*) / 8.0) * 10000.0 + 0.5) / 10000.0 AS est_jaccard
FROM sig a JOIN sig b ON a.b = b.b AND a.s = b.s
WHERE a.doc_id % 4 = 0 AND b.doc_id % 4 != 0
GROUP BY 1, 2 HAVING count(*) >= 2
""",
    "dedup_simhash": _simhash_sql(16),
    "ngram_jaccard": "WITH "
    + _SHINGLES_SQL
    + """,
sz AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM shingles a JOIN shingles b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b,
       floor((i * 1.0 / (sa.sz + sb.sz - i)) * 1000000.0 + 0.5) / 1000000.0 AS jaccard
FROM inter
JOIN sz sa ON doc_a = sa.doc_id
JOIN sz sb ON doc_b = sb.doc_id
WHERE floor((i * 1.0 / (sa.sz + sb.sz - i)) * 1000000.0 + 0.5) / 1000000.0 >= 0.3
""",
    "containment_dedup": "WITH "
    + _SHINGLES_SQL
    + """,
sz AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM shingles a JOIN shingles b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
directed AS (
  SELECT doc_a AS doc_inner, doc_b AS doc_outer, i, sa.sz AS den
  FROM inter JOIN sz sa ON doc_a = sa.doc_id
  UNION ALL
  SELECT doc_b AS doc_inner, doc_a AS doc_outer, i, sb.sz AS den
  FROM inter JOIN sz sb ON doc_b = sb.doc_id)
SELECT doc_inner, doc_outer,
       floor(i * 1.0 / den * 1000000.0 + 0.5) / 1000000.0
         AS containment
FROM directed
WHERE floor(i * 1.0 / den * 1000000.0 + 0.5) / 1000000.0 >= 0.9
""",
    "text_profile": """
SELECT doc_id,
  CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
       AS BIGINT) AS n_bpe_tokens,
  CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
       WHEN greatest(es_h, de_h, fr_h, en_h) >= 1
            AND es_h = greatest(es_h, de_h, fr_h, en_h) THEN 'es'
       WHEN greatest(es_h, de_h, fr_h, en_h) >= 1
            AND de_h = greatest(es_h, de_h, fr_h, en_h) THEN 'de'
       WHEN greatest(es_h, de_h, fr_h, en_h) >= 1
            AND fr_h = greatest(es_h, de_h, fr_h, en_h) THEN 'fr'
       WHEN greatest(es_h, de_h, fr_h, en_h) >= 1
            AND en_h = greatest(es_h, de_h, fr_h, en_h) THEN 'en'
       ELSE 'und' END AS lang_pred,
  floor((0.25 * (CASE WHEN length(text) BETWEEN 100 AND 20000
                     THEN 1.0 ELSE 0.0 END)
      + 0.25 * (1.0 - len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) * 1.0
                 / greatest(length(text), 1))
      + 0.25 * (len(regexp_extract_all(text, '[A-Za-z]')) * 1.0
                 / greatest(length(text), 1))
      + 0.25 * (CASE WHEN length(text) * 1.0 /
                       greatest(len(regexp_split_to_array(trim(text),
                                                          '\\s+')), 1)
                       BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.0 END))
        * 10000.0 + 0.5) / 10000.0
    AS quality,
  md5(array_to_string(list_sort(list_distinct(
        string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                     ' '))), chr(1))) AS fingerprint
FROM (
  SELECT *,
    (CASE WHEN contains(' ' || lower(text) || ' ', ' el ') THEN 1 ELSE 0 END +
     CASE WHEN contains(' ' || lower(text) || ' ', ' la ') THEN 1 ELSE 0 END +
     CASE WHEN contains(' ' || lower(text) || ' ', ' de ') THEN 1 ELSE 0 END +
     CASE WHEN contains(' ' || lower(text) || ' ', ' que ') THEN 1 ELSE 0 END +
     CASE WHEN contains(' ' || lower(text) || ' ', ' los ') THEN 1 ELSE 0 END +
     CASE WHEN contains(' ' || lower(text) || ' ', ' una ') THEN 1 ELSE 0 END)
      AS es_h,
    (CASE WHEN contains(' ' || lower(text) || ' ', ' der ') THEN 1 ELSE 0 END +
     CASE WHEN contains(' ' || lower(text) || ' ', ' die ') THEN 1 ELSE 0 END +
     CASE WHEN contains(' ' || lower(text) || ' ', ' und ') THEN 1 ELSE 0 END +
     CASE WHEN contains(' ' || lower(text) || ' ', ' das ') THEN 1 ELSE 0 END +
     CASE WHEN contains(' ' || lower(text) || ' ', ' ist ') THEN 1 ELSE 0 END +
     CASE WHEN contains(' ' || lower(text) || ' ', ' nicht ') THEN 1 ELSE 0 END)
      AS de_h,
    (CASE WHEN contains(' ' || lower(text) || ' ', ' le ') THEN 1 ELSE 0 END +
     CASE WHEN contains(' ' || lower(text) || ' ', ' les ') THEN 1 ELSE 0 END +
     CASE WHEN contains(' ' || lower(text) || ' ', ' des ') THEN 1 ELSE 0 END +
     CASE WHEN contains(' ' || lower(text) || ' ', ' est ') THEN 1 ELSE 0 END +
     CASE WHEN contains(' ' || lower(text) || ' ', ' une ') THEN 1 ELSE 0 END +
     CASE WHEN contains(' ' || lower(text) || ' ', ' dans ') THEN 1 ELSE 0 END)
      AS fr_h,
    (CASE WHEN contains(' ' || lower(text) || ' ', ' the ') THEN 1 ELSE 0 END +
     CASE WHEN contains(' ' || lower(text) || ' ', ' and ') THEN 1 ELSE 0 END +
     CASE WHEN contains(' ' || lower(text) || ' ', ' of ') THEN 1 ELSE 0 END +
     CASE WHEN contains(' ' || lower(text) || ' ', ' is ') THEN 1 ELSE 0 END +
     CASE WHEN contains(' ' || lower(text) || ' ', ' that ') THEN 1 ELSE 0 END +
     CASE WHEN contains(' ' || lower(text) || ' ', ' with ') THEN 1 ELSE 0 END)
      AS en_h
  FROM documents)
""",
    "bpe_merge_pairs": """
WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
wc AS (SELECT word, count(*) AS cnt FROM w WHERE len(word) >= 2 GROUP BY 1),
p AS (SELECT substr(word, i, 2) AS pair, cnt
      FROM (SELECT word, cnt,
                   unnest(generate_series(1, len(word) - 1)) AS i
            FROM wc)),
agg AS (SELECT pair, CAST(sum(cnt) AS BIGINT) AS n FROM p GROUP BY 1)
SELECT pair, n, CAST(rank AS INT) AS rank
FROM (SELECT *, row_number() OVER (ORDER BY n DESC, pair ASC) AS rank
      FROM agg)
WHERE rank <= 30
""",
    "length_histogram": """
SELECT CAST(floor(n_chars / 100.0) AS BIGINT) AS bucket,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(min(n_chars) AS BIGINT) AS min_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars
FROM documents GROUP BY 1
""",
    "near_dup_verified": "WITH "
    + _SHINGLES_SQL
    + """,
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
sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY 1),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
  FROM cand c
  JOIN shingles sa ON sa.doc_id = c.doc_a
  JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY 1, 2)
SELECT doc_a, doc_b,
       floor(floor(n_inter / CAST(za.sz + zb.sz - n_inter AS DOUBLE)
                   * 1000000.0 + 0.5) / 1000000.0 * 10000.0 + 0.5)
         / 10000.0 AS jaccard
FROM inter
JOIN sizes za ON inter.doc_a = za.doc_id
JOIN sizes zb ON inter.doc_b = zb.doc_id
WHERE floor(n_inter / CAST(za.sz + zb.sz - n_inter AS DOUBLE)
            * 1000000.0 + 0.5) / 1000000.0 >= 0.6
""",
    "repetition_profile": """
WITH sh AS (
  SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks)-2)) AS i
        FROM (SELECT doc_id, string_split(text, ' ') AS toks
              FROM documents
              WHERE len(string_split(text, ' ')) >= 3)))
SELECT doc_id, count(*) AS n_grams,
       CAST(count(DISTINCT shingle) AS BIGINT) AS n_distinct,
       floor((1 - count(DISTINCT shingle) / CAST(count(*) AS DOUBLE))
             * 10000.0 + 0.5) / 10000.0 AS dup_ratio
FROM sh GROUP BY 1
""",
    "decontaminate": """
WITH g AS (
  SELECT DISTINCT doc_id, source,
         toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
           || toks[i+3] || ' ' || toks[i+4] AS shingle
  FROM (SELECT doc_id, source, toks,
               unnest(generate_series(1, len(toks)-4)) AS i
        FROM (SELECT doc_id, source, string_split(text, ' ') AS toks
              FROM documents
              WHERE len(string_split(text, ' ')) >= 5))
), b AS (SELECT DISTINCT shingle FROM g WHERE source = 'src0')
SELECT g.doc_id, count(*) AS n_shared
FROM g JOIN b ON g.shingle = b.shingle
WHERE g.source <> 'src0'
GROUP BY 1 HAVING count(*) >= 3
""",
    "tfidf_top_terms": """
WITH term_doc AS (
  SELECT lang, doc_id, t.term, count(*) AS tf
  FROM (SELECT lang, doc_id,
               unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
        FROM documents) t
  GROUP BY 1, 2, 3
), term_stats AS (
  SELECT lang, term, CAST(sum(tf) AS BIGINT) AS total_tf,
         CAST(count(*) AS BIGINT) AS df
  FROM term_doc GROUP BY 1, 2
), nd AS (
  SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1
), scored AS (
  SELECT s.lang, term, total_tf, df,
         floor(total_tf * ln((n_docs + 1.0) / (df + 1.0)) * 10000.0 + 0.5)
           / 10000.0 AS tfidf
  FROM term_stats s JOIN nd ON s.lang = nd.lang
)
SELECT lang, term, total_tf, df, tfidf, CAST(rank AS INT) AS rank
FROM (SELECT *, row_number() OVER (
        PARTITION BY lang ORDER BY tfidf DESC, term ASC) AS rank
      FROM scored)
WHERE rank <= 5
""",
    # ONE builder (oracles/common.py::_dup_clusters_sql) now serves
    # dup_clusters, the deletion key, and the RTBF audit's
    # cluster-surface counts — the audit cannot drift from the keys
    # it audits
    "dup_clusters": _dup_clusters_sql(),
    # the deletion key MUST equal the from-scratch clustering over the
    # POST-DELETE corpus (doc_id % 7 != 0 — the RTBF wave removed):
    # the same dup_clusters SQL with the delete predicate injected
    # into the shingle base via the fail-fast anchor device of
    # _corpus_release_sql (the builder asserts the anchor)
    "dup_clusters_forget": _dup_clusters_sql("doc_id % 7 != 0"),
    # the maintained-store fold MUST equal the from-scratch clustering
    # over the full corpus — the oracle IS that rebuild (the
    # fold == rebuild device of incremental_graph_stats), so this key
    # reuses dup_clusters' SQL verbatim
    "incremental_dup_clusters": "WITH RECURSIVE "
    + _SHINGLES_SQL.strip()
    + ","
    + _CLUSTER_CTES
    + """
SELECT id AS doc_id, min(r) AS cluster_id, (id = min(r)) AS keep
FROM reach GROUP BY id
""",
    "inverted_index": """
WITH toks AS (
  SELECT DISTINCT doc_id, t.token
  FROM (SELECT doc_id,
               unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
        FROM documents) t
  WHERE length(token) >= 3)
SELECT token,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
       array_to_string(list_sort(list(DISTINCT doc_id))[1:10], ',') AS postings
FROM toks GROUP BY 1
HAVING count(DISTINCT doc_id) >= 50
""",
    "chunk_documents": """
WITH grid AS (
  SELECT doc_id, lang, text,
         CAST(unnest(generate_series(0,
           CAST(greatest(ceil((n_chars - 400) / 300.0), 0) AS INT))) AS INT)
           AS chunk_id
  FROM documents)
SELECT doc_id, lang, chunk_id,
       CAST(chunk_id * 300 AS BIGINT) AS chunk_start,
       CAST(length(substr(text, chunk_id * 300 + 1, 400)) AS BIGINT) AS chunk_len,
       md5(substr(text, chunk_id * 300 + 1, 400)) AS chunk_hash
FROM grid
WHERE length(substr(text, chunk_id * 300 + 1, 400)) > 0
""",
    # sentence-window chunking: identical token split, terminator
    # predicate, exclusive running sums, integer-div snap, and
    # last-sentence overlap lag as the Spark plan — all exact integers
    "chunk_retrieval_spans": _chunk_retrieval_sql(25, 10),
    # trained-IVF ANN over the pooled chunk-vector index, spans joined
    "chunk_ann_retrieval": _chunk_ann_sql(10, 25),
    "incremental_chunk_index": _incremental_chunk_index_sql(25),
    # streaming twin: the multi-wave guarded fold must reproduce the
    # from-scratch chunk index over the full corpus for BOTH halves —
    # same rebuild SQL as the batch twin
    "streaming_chunk_index": _incremental_chunk_index_sql(25),
    "chunk_index_forget": _incremental_chunk_index_sql(
        25, where="doc_id % 4 != 0 AND doc_id % 6 != 3"
    ),
    # chunk BM25 top-20 + chunk ANN top-20 fused by RRF into top-10
    "chunk_hybrid_retrieval": _chunk_hybrid_sql(10, 20, 60, 25),
    # recall@10 of the trained-IVF chunk index vs exact chunk cosine
    "chunk_ann_recall": _chunk_ann_recall_sql(10, 25),
    "semantic_chunking": "WITH "
    + _sentence_chunk_ctes(25)
    + """,
ch AS (
  SELECT doc_id, chunk_id,
         min(sent_idx) AS sent_start, max(sent_idx) AS sent_end,
         CAST(count(*) AS BIGINT) AS n_sents,
         CAST(sum(n_toks) AS BIGINT) AS chunk_tokens,
         arg_max(n_toks, sent_idx) AS last_toks
  FROM sc_bins GROUP BY 1, 2)
SELECT doc_id, chunk_id, sent_start, sent_end, n_sents, chunk_tokens,
       CAST(coalesce(lag(last_toks)
            OVER (PARTITION BY doc_id ORDER BY chunk_id), 0)
            AS BIGINT) AS overlap_tokens,
       CAST(chunk_tokens + coalesce(lag(last_toks)
            OVER (PARTITION BY doc_id ORDER BY chunk_id), 0)
            AS BIGINT) AS total_tokens
FROM ch
""",
    # curriculum ordering: same exact crossing-rule quartile cuts,
    # same md5 within-band order, same 4-row offset window
    "curriculum_order": """
WITH d AS (SELECT doc_id,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           FROM documents),
vc AS (SELECT n_tokens, count(*) AS n FROM d GROUP BY 1),
cum AS (SELECT n_tokens,
               sum(n) OVER (ORDER BY n_tokens) AS cw,
               (SELECT count(*) FROM d) AS tw
        FROM vc),
cuts AS (SELECT
  min(CASE WHEN cw * 4 >= tw * 1 THEN n_tokens END) AS c1,
  min(CASE WHEN cw * 4 >= tw * 2 THEN n_tokens END) AS c2,
  min(CASE WHEN cw * 4 >= tw * 3 THEN n_tokens END) AS c3
  FROM cum),
b AS (SELECT doc_id, n_tokens,
             CAST(CASE WHEN n_tokens <= c1 THEN 1
                       WHEN n_tokens <= c2 THEN 2
                       WHEN n_tokens <= c3 THEN 3
                       ELSE 4 END AS INT) AS band
      FROM d, cuts),
i AS (SELECT doc_id, n_tokens, band,
             row_number() OVER (
               PARTITION BY band
               ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
             ) - 1 AS bi
      FROM b),
o2 AS (SELECT band,
              coalesce(sum(n) OVER (ORDER BY band
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                0) AS off
       FROM (SELECT band, count(*) AS n FROM b GROUP BY 1))
SELECT i.doc_id, i.band, i.n_tokens,
       CAST(o2.off + i.bi AS BIGINT) AS curriculum_idx
FROM i JOIN o2 USING (band)
""",
    "pack_sequences": """
WITH d AS (
  SELECT doc_id, lang,
         CAST(length(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents),
b AS (
  SELECT doc_id, lang, n_tokens,
         CAST(floor(coalesce(sum(n_tokens) OVER (
             PARTITION BY lang ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           / 4096.0) AS BIGINT) AS bin_id
  FROM d)
SELECT lang, bin_id,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM b GROUP BY 1, 2
""",
    "token_entropy": """
WITH toks AS (
  SELECT doc_id, t.tok
  FROM (SELECT doc_id,
               unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        FROM documents) t),
tf AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2),
tot AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM tf GROUP BY 1),
ent AS (
  SELECT tf.doc_id,
         CAST(max(n) AS BIGINT) AS n_tokens,
         floor(CAST(sum(CAST(-(c / n) * log2(c / n) AS DECIMAL(30,8)))
                    AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS entropy
  FROM tf JOIN tot ON tf.doc_id = tot.doc_id
  GROUP BY 1)
SELECT doc_id, n_tokens, entropy FROM ent WHERE entropy < 4.5
""",
    "bigram_pmi": """
WITH toks AS (
  SELECT doc_id,
         generate_subscripts(regexp_extract_all(lower(text), '[a-z]+'), 1)
           AS pos,
         unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
  FROM documents),
pairs AS (
  SELECT tok AS tok_a,
         lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS tok_b
  FROM toks),
c_ab AS (
  SELECT tok_a, tok_b, count(*) AS n_ab FROM pairs
  WHERE tok_b IS NOT NULL GROUP BY 1, 2 HAVING count(*) >= 5),
uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY 1),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM toks)
SELECT tok_a, tok_b, CAST(n_ab AS BIGINT) AS n_ab,
       floor(log2(n_ab * n_total / (a.n * b.n)) * 10000.0 + 0.5) / 10000.0
         AS pmi
FROM c_ab JOIN uni a ON c_ab.tok_a = a.tok
          JOIN uni b ON c_ab.tok_b = b.tok
          CROSS JOIN tot
ORDER BY pmi DESC, tok_a ASC, tok_b ASC
LIMIT 20
""",
    "corpus_to_sequences": """
WITH gated AS (SELECT * FROM documents WHERE n_chars >= 200),
grid AS (
  SELECT doc_id, lang, text,
         CAST(unnest(generate_series(0,
           CAST(greatest(ceil((n_chars - 400) / 300.0), 0) AS INT))) AS INT)
           AS chunk_id
  FROM gated),
chunks AS (
  SELECT doc_id, lang, chunk_id,
         CAST(length(substr(text, chunk_id * 300 + 1, 400)) AS BIGINT)
           AS chunk_len,
         md5(substr(text, chunk_id * 300 + 1, 400)) AS chunk_hash
  FROM grid
  WHERE length(substr(text, chunk_id * 300 + 1, 400)) >= 50),
uniq AS (
  SELECT doc_id, lang, chunk_id, chunk_len FROM (
    SELECT *, row_number() OVER (PARTITION BY chunk_hash
                                 ORDER BY doc_id ASC, chunk_id ASC) AS rn
    FROM chunks) WHERE rn = 1),
binned AS (
  SELECT lang, doc_id, chunk_len,
         CAST(floor(coalesce(sum(chunk_len) OVER (
             PARTITION BY lang ORDER BY doc_id, chunk_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           / 4096.0) AS BIGINT) AS bin_id
  FROM uniq)
SELECT lang, bin_id,
       count(*) AS n_chunks,
       CAST(sum(chunk_len) AS BIGINT) AS bin_chars,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM binned GROUP BY 1, 2
""",
    "sentence_dedup": """
WITH docs AS (SELECT * FROM documents WHERE doc_id < 200),
sents AS (
  SELECT doc_id,
         generate_subscripts(string_split(text, '. '), 1) AS pos,
         unnest(string_split(text, '. ')) AS sent
  FROM docs),
f AS (SELECT * FROM sents WHERE length(sent) > 0),
kept AS (
  SELECT doc_id, pos, sent FROM (
    SELECT *, row_number() OVER (PARTITION BY md5(sent)
                                 ORDER BY doc_id, pos) AS rn
    FROM f) WHERE rn = 1)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_kept,
       md5(string_agg(sent, '. ' ORDER BY pos)) AS clean_hash,
       CAST(length(string_agg(sent, '. ' ORDER BY pos)) AS BIGINT)
         AS clean_len
FROM kept GROUP BY 1
""",
    "c4_boilerplate_filter": """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
chunks AS (
  SELECT doc_id,
         unnest(generate_series(0,
             CAST(floor((len(t) - 1) / 10) AS INT))) AS pos,
         t
  FROM toks),
lines AS (
  SELECT doc_id, pos, list_slice(t, pos * 10 + 1, pos * 10 + 10) AS line
  FROM chunks),
kept AS (
  SELECT * FROM lines
  WHERE len(line) = 10
    AND len(list_filter(line, x -> length(x) <= 1)) <= 2)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_lines_kept,
       md5(string_agg(array_to_string(line, ' '), ' ' ORDER BY pos))
         AS clean_hash
FROM kept GROUP BY 1
HAVING count(*) >= 2
""",
    "fuzzy_dedup_blocked": """
SELECT a.c_nationkey AS nation,
       CAST(count(*) AS BIGINT) AS n_fuzzy_pairs,
       min(a.c_custkey) AS first_left
FROM customer a JOIN customer b
  ON a.c_nationkey = b.c_nationkey
 AND substring(a.c_name, 1, 12) = substring(b.c_name, 1, 12)
 AND a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 2
GROUP BY 1
""",
    "domain_mix_resample": """
WITH c AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY 1),
t AS (SELECT sum(n_lang) AS total, count(*) AS n_l FROM c),
r AS (SELECT lang, n_lang,
             least(1.0, (CAST(total AS DOUBLE) / n_l) / n_lang) AS rate
      FROM c, t),
rr AS (SELECT lang, n_lang, rate,
              CASE WHEN rate >= 1.0 THEN 'g'
                   ELSE printf('%04x',
                        least(65535,
                              CAST(floor(rate * 65536.0 + 0.5) AS INT)))
              END AS thr
       FROM r)
SELECT d.lang,
       CAST(max(rr.n_lang) AS BIGINT) AS n_before,
       CAST(count(*) AS BIGINT) AS n_kept,
       floor(max(rr.rate) * 10000.0 + 0.5) / 10000.0 AS rate
FROM documents d JOIN rr ON d.lang = rr.lang
WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < rr.thr
GROUP BY 1
""",
    "bpe_train_merges": _bpe_train_sql(8),
    "bpe_encode_corpus": _bpe_encode_sql(8),
    "training_batch_pack": """
WITH r AS (SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS h
           FROM documents),
i AS (SELECT doc_id, lang,
             row_number() OVER (ORDER BY h ASC, doc_id ASC) - 1 AS gi
      FROM r)
SELECT doc_id, lang,
       CAST(gi AS BIGINT) AS global_idx,
       CAST(gi // 32 AS BIGINT) AS batch_id,
       CAST(gi % 32 AS BIGINT) AS position
FROM i
""",
    "corpus_fingerprint": """
WITH r AS (
  SELECT sha256(concat_ws(chr(1), CAST(doc_id AS VARCHAR), text, lang,
                          source, CAST(n_chars AS VARCHAR))) AS h
  FROM documents),
a6 AS (SELECT substr(h, 1, 6) AS p,
       sha256(string_agg(h, '' ORDER BY h)) AS d,
       count(*) AS n
       FROM r GROUP BY 1),
a3 AS (SELECT substr(p, 1, 3) AS p,
       sha256(string_agg(d, '' ORDER BY d)) AS d,
       sum(n) AS n
       FROM a6 GROUP BY 1)
SELECT CAST(sum(n) AS BIGINT) AS n_rows,
       sha256(string_agg(d, '' ORDER BY d)) AS fingerprint
FROM a3
""",
    "fingerprint_diff": """
WITH lt AS (SELECT doc_id, text, lang, source, n_chars FROM documents),
rt AS (SELECT doc_id,
              CASE WHEN doc_id = 117 THEN 'tampered' ELSE text END AS text,
              lang, source, n_chars
       FROM documents WHERE doc_id != 3),
lh AS (SELECT substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS prefix,
              sha256(concat_ws(chr(1), CAST(doc_id AS VARCHAR), text, lang,
                               source, CAST(n_chars AS VARCHAR))) AS h
       FROM lt),
rh AS (SELECT substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS prefix,
              sha256(concat_ws(chr(1), CAST(doc_id AS VARCHAR), text, lang,
                               source, CAST(n_chars AS VARCHAR))) AS h
       FROM rt),
ll AS (SELECT prefix, sha256(string_agg(h, '' ORDER BY h)) AS d,
              count(*) AS n
       FROM lh GROUP BY 1),
rl AS (SELECT prefix, sha256(string_agg(h, '' ORDER BY h)) AS d,
              count(*) AS n
       FROM rh GROUP BY 1)
SELECT coalesce(ll.prefix, rl.prefix) AS prefix,
       CASE WHEN ll.d IS NULL THEN 'only_right'
            WHEN rl.d IS NULL THEN 'only_left'
            ELSE 'changed' END AS status,
       CAST(coalesce(ll.n, 0) AS BIGINT) AS n_left,
       CAST(coalesce(rl.n, 0) AS BIGINT) AS n_right
FROM ll FULL OUTER JOIN rl ON ll.prefix = rl.prefix
WHERE ll.d IS NULL OR rl.d IS NULL OR ll.d != rl.d
""",
    "length_bucketed_batches": """
WITH d AS (SELECT doc_id,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           FROM documents),
b AS (SELECT doc_id, n_tokens,
             CAST(n_tokens // 64 AS BIGINT) AS len_bucket,
             md5(CAST(doc_id AS VARCHAR)) AS h
      FROM d),
i AS (SELECT doc_id, n_tokens, len_bucket,
             row_number() OVER (PARTITION BY len_bucket
                                ORDER BY h ASC, doc_id ASC) - 1 AS gi
      FROM b)
SELECT doc_id, n_tokens, len_bucket,
       CAST(gi // 16 AS BIGINT) AS batch_id,
       CAST(gi % 16 AS BIGINT) AS position
FROM i
""",
    "repeated_substrings": """
WITH g AS (
  SELECT doc_id, md5(substr(text, i, 40)) AS h
  FROM (SELECT doc_id, text,
               unnest(generate_series(1, len(text) - 39)) AS i
        FROM documents WHERE len(text) >= 40)),
s AS (SELECT DISTINCT doc_id, h FROM g WHERE substr(h, 1, 1) < '4')
SELECT h AS gram_hash,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS first_doc
FROM s GROUP BY 1 HAVING count(*) >= 2
""",
    "temperature_mix_resample": """
WITH c AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY 1),
t AS (SELECT sum(n_lang) AS total,
             sum(sqrt(CAST(n_lang AS DOUBLE))) AS sum_sqrt
      FROM c),
r AS (SELECT lang, n_lang,
             least(1.0, (sqrt(CAST(n_lang AS DOUBLE)) / sum_sqrt
                         * CAST(total AS DOUBLE)) / n_lang) AS rate
      FROM c, t),
rr AS (SELECT lang, n_lang, rate,
              CASE WHEN rate >= 1.0 THEN 'g'
                   ELSE printf('%04x',
                        least(65535,
                              CAST(floor(rate * 65536.0 + 0.5) AS INT)))
              END AS thr
       FROM r)
SELECT d.lang,
       CAST(max(rr.n_lang) AS BIGINT) AS n_before,
       CAST(count(*) AS BIGINT) AS n_kept,
       floor(max(rr.rate) * 10000.0 + 0.5) / 10000.0 AS rate
FROM documents d JOIN rr ON d.lang = rr.lang
WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < rr.thr
GROUP BY 1
""",
    "doc_novelty": "WITH "
    + _SHINGLES_SQL.strip()
    + """,
dfc AS (SELECT shingle, count(*) AS df FROM shingles GROUP BY 1)
SELECT s.doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN dfc.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unique,
       floor(CAST(sum(CASE WHEN dfc.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) * 10000.0 + 0.5) / 10000.0 AS novelty
FROM shingles s JOIN dfc USING (shingle) GROUP BY 1
""",
    "corpus_funnel": _funnel_sql(),
    "winnowed_duplicates": """
WITH g AS (
  SELECT doc_id,
         list_transform(generate_series(1, len(text) - 29),
                        i -> md5(substr(text, i, 30))) AS ha
  FROM documents WHERE len(text) >= 37),
w AS (
  SELECT doc_id,
         unnest(list_distinct(
           list_transform(generate_series(1, len(ha) - 7),
                          j -> list_min(list_slice(ha, j, j + 7)))))
           AS fingerprint
  FROM g)
SELECT fingerprint,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS first_doc
FROM w GROUP BY 1 HAVING count(*) >= 2
""",
    "domain_blocklist_filter": """
WITH d AS (
  SELECT doc_id, source || '.example.com' AS host FROM documents),
sx AS (
  SELECT doc_id, host,
         list_sort(list_intersect(
           list_transform(
             generate_series(0, len(string_split(host, '.')) - 1),
             i -> array_to_string(
                    list_slice(string_split(host, '.'), i + 1,
                               len(string_split(host, '.'))), '.')),
           ['bad.example.org', 'src3.example.com', 'src7.example.com']))
           AS matched
  FROM d)
SELECT doc_id, host,
       (len(matched) > 0) AS blocked,
       CASE WHEN len(matched) > 0 THEN matched[1] END AS matched_rule
FROM sx
""",
    "vocab_growth": "WITH "
    + _SHINGLES_SQL.strip()
    + """,
f AS (SELECT shingle, min(doc_id) AS first_doc FROM shingles GROUP BY 1),
pd AS (SELECT first_doc AS doc_id, count(*) AS new_grams
       FROM f GROUP BY 1)
SELECT d.doc_id,
       CAST(coalesce(pd.new_grams, 0) AS BIGINT) AS new_grams,
       CAST(sum(coalesce(pd.new_grams, 0)) OVER (
              ORDER BY d.doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_vocab
FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
""",
    "lang_confusion": _lang_confusion_sql(),
    "dedup_rate_by_source": "WITH RECURSIVE "
    + _SHINGLES_SQL.strip()
    + ","
    + _CLUSTER_CTES
    + """,
cl AS (SELECT id AS doc_id FROM reach GROUP BY id
       HAVING id != min(r)),
ex AS (SELECT doc_id, source,
              count(*) OVER (
                PARTITION BY sha256(trim(regexp_replace(lower(text),
                                                        '\\s+', ' ', 'g')))
              ) > 1 AS is_exact_dup
       FROM documents)
SELECT ex.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN ex.is_exact_dup THEN 1 ELSE 0 END) AS BIGINT)
         AS n_exact_dup,
       CAST(sum(CASE WHEN cl.doc_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_near_dup_dropped
FROM ex LEFT JOIN cl ON ex.doc_id = cl.doc_id
GROUP BY 1
""",
    "corpus_release": _corpus_release_sql(
        {"train": 0.8, "val": 0.1, "test": 0.1}
    ),
    "token_budget_plan": """
WITH per AS (
  SELECT source,
         CAST(sum(len(regexp_split_to_array(trim(text), '\\s+')))
              AS BIGINT) AS tokens
  FROM documents GROUP BY 1),
tot AS (
  SELECT sum(tokens) AS total,
         CAST(sum(CAST(sqrt(CAST(tokens AS DOUBLE)) AS DECIMAL(38,18)))
              AS DOUBLE) AS sum_sqrt
  FROM per),
st AS (
  SELECT source, tokens, (total - (total % 2)) AS b2,
         sqrt(CAST(tokens AS DOUBLE)) AS sq, sum_sqrt
  FROM per, tot),
f1 AS (
  SELECT source, tokens, b2,
         least(CAST(tokens AS DOUBLE), sq / sum_sqrt * (b2 / 2)) AS alloc1
  FROM st),
f1h AS (SELECT f1.*, CAST(tokens AS DOUBLE) - alloc1 AS headroom FROM f1),
t2 AS (
  SELECT CAST(sum(CAST(alloc1 AS DECIMAL(38,18))) AS DOUBLE) AS sum_a1,
         CAST(sum(CAST(headroom AS DECIMAL(38,18))) AS DOUBLE) AS sum_hr
  FROM f1h),
fin AS (
  SELECT source, tokens,
         least(CAST(tokens AS DOUBLE),
               alloc1 + (b2 / 2 - sum_a1) * headroom / sum_hr) AS alloc2
  FROM f1h, t2)
SELECT source, tokens,
       CAST(floor(floor(alloc2 * 1000000.0 + 0.5) / 1000000.0) AS BIGINT)
         AS alloc_tokens,
       floor(CAST(floor(floor(alloc2 * 1000000.0 + 0.5) / 1000000.0)
                  AS DOUBLE) / CAST(tokens AS DOUBLE)
             * 1000000.0 + 0.5) / 1000000.0 AS epochs
FROM fin
""",
    "naive_bayes_lang": """
WITH toks AS MATERIALIZED (
  SELECT doc_id, lang AS true_lang,
         unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
  FROM documents),
tk AS (SELECT * FROM toks WHERE length(tok) > 0),
model AS MATERIALIZED (
  SELECT true_lang AS l, tok, count(*) AS c FROM tk GROUP BY 1, 2),
lang_tot AS (SELECT l, sum(c) AS t FROM model GROUP BY 1),
vocab AS (SELECT count(DISTINCT tok) AS v FROM model),
priors AS (SELECT lang AS l, count(*) AS nd FROM documents GROUP BY 1),
n_docs AS (SELECT count(*) AS n_all FROM documents),
lstats AS (
  SELECT lt.l,
         ln(CAST(p.nd AS DOUBLE) / n.n_all) AS lprior,
         ln(CAST(lt.t + v.v AS DOUBLE)) AS ldenom
  FROM lang_tot lt JOIN priors p ON p.l = lt.l, vocab v, n_docs n),
ntok AS (
  SELECT doc_id, true_lang, count(*) AS nt FROM tk GROUP BY 1, 2),
ssum AS (
  SELECT tk.doc_id, m.l,
         CAST(sum(CAST(ln(CAST(m.c + 1 AS DOUBLE)) AS DECIMAL(38,18)))
              AS DOUBLE) AS s
  FROM tk JOIN model m ON m.tok = tk.tok
  GROUP BY 1, 2),
scored AS (
  SELECT ntok.doc_id, ntok.true_lang, ls.l,
         floor((ls.lprior - CAST(ntok.nt AS DOUBLE) * ls.ldenom
                + coalesce(ss.s, 0.0)) * 1000000000.0 + 0.5)
           / 1000000000.0 AS score
  FROM ntok CROSS JOIN lstats ls
  LEFT JOIN ssum ss ON ss.doc_id = ntok.doc_id AND ss.l = ls.l),
pred AS (
  SELECT true_lang, l AS pred_lang,
         row_number() OVER (
           PARTITION BY doc_id ORDER BY score DESC, l) AS rn
  FROM scored)
SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n
FROM pred WHERE rn = 1 GROUP BY 1, 2
""",
    "vocab_gini": """
WITH toks AS (
  SELECT lang,
         unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
  FROM documents),
tk AS (SELECT * FROM toks WHERE length(tok) > 0),
counts AS (SELECT lang, tok, count(*) AS c FROM tk GROUP BY 1, 2),
ranked AS (
  SELECT lang, c,
         row_number() OVER (PARTITION BY lang ORDER BY c, tok) AS i
  FROM counts)
SELECT lang,
       CAST(count(*) AS BIGINT) AS vocab,
       floor((2.0 * CAST(sum(CAST(i * c AS DECIMAL(38,18))) AS DOUBLE)
              / (CAST(count(*) AS DOUBLE)
                 * CAST(sum(CAST(c AS DECIMAL(38,18))) AS DOUBLE))
              - CAST(count(*) + 1 AS DOUBLE) / CAST(count(*) AS DOUBLE))
             * 1000000.0 + 0.5) / 1000000.0 AS gini
FROM ranked GROUP BY 1
""",
    "zipf_fit": """
WITH toks AS (
  SELECT lang,
         unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
  FROM documents),
counts AS (
  SELECT lang, tok, CAST(count(*) AS BIGINT) AS n
  FROM toks GROUP BY 1, 2),
ranked AS (
  SELECT lang, n,
         row_number() OVER (PARTITION BY lang ORDER BY n DESC, tok)
           AS rank
  FROM counts),
g AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_types,
         CAST(sum(CASE WHEN rank <= 100 THEN 1 ELSE 0 END) AS DOUBLE)
           AS m,
         CAST(sum(CASE WHEN rank <= 100
                  THEN CAST(ln(CAST(rank AS DOUBLE)) AS DECIMAL(38,18))
                  END) AS DOUBLE) AS sx,
         CAST(sum(CASE WHEN rank <= 100
                  THEN CAST(ln(CAST(n AS DOUBLE)) AS DECIMAL(38,18))
                  END) AS DOUBLE) AS sy,
         CAST(sum(CASE WHEN rank <= 100
                  THEN CAST(ln(CAST(rank AS DOUBLE))
                            * ln(CAST(rank AS DOUBLE))
                            AS DECIMAL(38,18)) END) AS DOUBLE) AS sxx,
         CAST(sum(CASE WHEN rank <= 100
                  THEN CAST(ln(CAST(rank AS DOUBLE))
                            * ln(CAST(n AS DOUBLE))
                            AS DECIMAL(38,18)) END) AS DOUBLE) AS sxy,
         CAST(sum(CASE WHEN rank <= 100
                  THEN CAST(ln(CAST(n AS DOUBLE))
                            * ln(CAST(n AS DOUBLE))
                            AS DECIMAL(38,18)) END) AS DOUBLE) AS syy
  FROM ranked GROUP BY 1)
SELECT lang, n_types,
       floor((m * sxy - sx * sy) / (m * sxx - sx * sx)
             * 10000.0 + 0.5) / 10000.0 AS zipf_slope,
       floor((m * sxy - sx * sy) * (m * sxy - sx * sy)
             / ((m * sxx - sx * sx) * (m * syy - sy * sy))
             * 10000.0 + 0.5) / 10000.0 AS r2
FROM g
""",
    "phrase_search": """
WITH post AS (
  SELECT doc_id,
         generate_subscripts(regexp_extract_all(lower(text), '[a-z]+'),
                             1) AS pos,
         unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
  FROM documents),
big AS (
  SELECT a.tok AS tok_a, b.tok AS tok_b, a.doc_id
  FROM post a JOIN post b
    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
counts AS (
  SELECT tok_a, tok_b,
         CAST(count(*) AS BIGINT) AS n_occurrences,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM big GROUP BY 1, 2),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY n_occurrences DESC,
                               tok_a, tok_b) AS rank
  FROM counts)
SELECT tok_a || ' ' || tok_b AS phrase, n_docs, n_occurrences,
       CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
""",
    "bpe_fertility_stats": f"""
SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(enc.n_words) AS BIGINT) AS total_words,
       CAST(sum(enc.n_tokens) AS BIGINT) AS total_tokens,
       floor(CAST(sum(enc.n_tokens) AS DOUBLE)
             / CAST(sum(enc.n_words) AS DOUBLE) * 10000.0 + 0.5)
         / 10000.0 AS fertility,
       floor(CAST(sum(enc.n_chars) AS DOUBLE)
             / CAST(sum(enc.n_tokens) AS DOUBLE) * 10000.0 + 0.5)
         / 10000.0 AS chars_per_token
FROM ({_bpe_encode_sql(8)}) enc
JOIN documents d USING (doc_id)
GROUP BY 1
""",
    "source_vocab_overlap": """
WITH toks AS (
  SELECT DISTINCT source,
         unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
  FROM documents),
sizes AS (
  SELECT source, CAST(count(*) AS BIGINT) AS vocab
  FROM toks GROUP BY 1),
pairs AS (
  SELECT a.source AS src_a, b.source AS src_b
  FROM toks a JOIN toks b
    ON a.tok = b.tok AND a.source < b.source),
inter AS (
  SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_common
  FROM pairs GROUP BY 1, 2)
SELECT src_a, src_b, n_common,
       CAST(sa.vocab + sb.vocab - n_common AS BIGINT) AS n_union,
       floor(CAST(n_common AS DOUBLE)
             / CAST(sa.vocab + sb.vocab - n_common AS DOUBLE)
             * 1000000.0 + 0.5) / 1000000.0 AS jaccard
FROM inter
JOIN sizes sa ON src_a = sa.source
JOIN sizes sb ON src_b = sb.source
""",
}

# fail-fast anchor guard (the _corpus_release_sql device): the
# dup_clusters_forget oracle injects its delete predicate textually
# into _SHINGLES_SQL — a reworded CTE must fail HERE with a clear
# message, not later as an opaque cert hash mismatch from an
# unfiltered (all-documents) clustering.
# streaming twin of the maintained trigram LM: the multi-wave
# GUARDED fold (doc-id ledger) must reproduce the from-scratch model,
# so scoring the full corpus through it equals the one-shot
# lm_trigram_score — the oracle IS that SQL, verbatim
ORACLES["streaming_lm_index"] = ORACLES["lm_trigram_score"]

if "doc_id % 7 != 0" not in ORACLES["dup_clusters_forget"]:
    raise AssertionError(
        "dup_clusters_forget oracle: rebase anchor 'FROM documents "
        "WHERE' not found in _SHINGLES_SQL — the CTE was reworded; "
        "update the injection anchor"
    )
