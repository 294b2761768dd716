"""Oracle SQL — analytics domain (entries mechanically moved from oracles.py, values verbatim)."""


from __future__ import annotations
from .common import *  # noqa: F401,F403

ORACLES: dict[str, str] = {
    "attribution_time_decay": """
WITH touches AS (SELECT user_id, ts, event_type FROM events
                 WHERE event_type IN ('click', 'view')),
buys AS (SELECT user_id, ts AS p_ts, event_id AS p_id FROM events
         WHERE event_type = 'purchase'),
j AS (SELECT t.event_type, b.p_id,
             1.0 / (1.0 + CAST(floor(
               (floor(epoch(b.p_ts)) - floor(epoch(t.ts))) / 86400.0)
               AS INT)) AS w
      FROM touches t JOIN buys b
        ON t.user_id = b.user_id AND t.ts < b.p_ts
       AND t.ts >= b.p_ts - INTERVAL 7 DAY),
c AS (SELECT event_type, p_id, w,
             CAST(sum(CAST(w AS DECIMAL(30,15)))
                  OVER (PARTITION BY p_id) AS DOUBLE) AS tot
      FROM j)
SELECT event_type,
       floor(CAST(sum(CAST(w / tot AS DECIMAL(30,15))) AS DOUBLE)
             * 10000.0 + 0.5) / 10000.0 AS total_credit,
       CAST(count(DISTINCT p_id) AS BIGINT) AS n_purchases
FROM c GROUP BY 1
""",
    "grouped_pandas_stats": """
SELECT user_id, count(*) AS n,
       floor((median(value)) * 10000.0 + 0.5) / 10000.0 AS median_value,
       floor((max(value) - min(value)) * 10000.0 + 0.5) / 10000.0 AS spread
FROM events GROUP BY 1
""",
    "pandas_udf_norm": """
SELECT vec_id, CAST(len(embedding) AS BIGINT) AS n_dims,
       floor(sqrt(list_dot_product(embedding::DOUBLE[],
                                   embedding::DOUBLE[]))
             * 10000.0 + 0.5) / 10000.0 AS l2_norm
FROM embeddings
""",
    "anomaly_zscore": """
WITH stats AS (
  SELECT user_id,
         CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) / count(*) AS mu0,
         CAST(sum(CAST(value * value AS DECIMAL(30,8))) AS DOUBLE) / count(*) AS m2
  FROM events GROUP BY 1),
s2 AS (SELECT user_id, mu0 AS mu, sqrt(m2 - mu0 * mu0) AS sigma FROM stats)
SELECT event_id, e.user_id,
       floor(value * 100.0 + 0.5) / 100.0 AS value,
       floor((value - mu) / sigma * 1000.0 + 0.5) / 1000.0 AS z
FROM events e JOIN s2 ON e.user_id = s2.user_id
WHERE abs(floor((value - mu) / sigma * 1000.0 + 0.5) / 1000.0) > 2.0
""",
    "pandas_iter_udf": """
WITH b AS (
  SELECT CAST((o_totalprice >= 50000.0)::INT
              + (o_totalprice >= 100000.0)::INT
              + (o_totalprice >= 200000.0)::INT
              + (o_totalprice >= 400000.0)::INT AS INT) AS bucket,
         o_totalprice AS p
  FROM orders)
SELECT bucket, CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(floor(p * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM b GROUP BY 1
""",
    "grouped_arrow_stats": """
WITH c AS (SELECT c_nationkey,
                  CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT)
                    AS cents
           FROM customer)
SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(cents) AS BIGINT) AS sum_cents,
       CAST(min(cents) AS BIGINT) AS min_cents,
       CAST(max(cents) AS BIGINT) AS max_cents
FROM c GROUP BY 1
""",
    "cogrouped_pandas_join": """
WITH o AS (
  SELECT o_custkey AS key,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
              AS DOUBLE) / 100.0 AS spend
  FROM orders GROUP BY 1),
e AS (
  SELECT user_id AS key, CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1)
SELECT coalesce(o.key, e.key) AS key,
       coalesce(o.n_orders, 0) AS n_orders,
       coalesce(e.n_events, 0) AS n_events,
       coalesce(o.spend, 0.0) AS spend
FROM o FULL OUTER JOIN e ON o.key = e.key
""",
    "arrow_map_batches": """
WITH t AS (
  SELECT lang, len(string_split(text, ' ')) AS n_tokens FROM documents)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(max(n_tokens) AS BIGINT) AS max_tokens
FROM t GROUP BY 1
""",
    "cluster_safe_split": _cluster_split_sql(
        {"train": 0.8, "val": 0.1, "test": 0.1}
    ),
    "quality_outliers": _quality_outliers_sql(),
    "ols_event_model": _ols_event_sql(),
    "quantile_normalize_scores": f"""
WITH sc AS (
  SELECT doc_id, source, {_QUALITY_SQL} AS score FROM documents),
g AS (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score, doc_id) AS grank
  FROM sc),
gn AS (SELECT count(*) AS n_g FROM sc),
s AS (
  SELECT doc_id, source, score,
         row_number() OVER (
           PARTITION BY source ORDER BY score, doc_id) AS rs,
         count(*) OVER (PARTITION BY source) AS ns
  FROM sc),
t AS (
  SELECT s.doc_id, s.source, s.score,
         CAST(floor(
           (CASE WHEN s.ns = 1 THEN 0.5
                 ELSE CAST(s.rs - 1 AS DOUBLE) / CAST(s.ns - 1 AS DOUBLE)
            END) * CAST(gn.n_g - 1 AS DOUBLE) + 0.5
         ) AS BIGINT) + 1 AS ti
  FROM s, gn)
SELECT t.doc_id, t.source,
       floor(t.score * 10000.0 + 0.5) / 10000.0 AS score,
       floor(g.score * 10000.0 + 0.5) / 10000.0 AS norm_score
FROM t JOIN g ON g.grank = t.ti
""",
    "logreg_label_model": _logreg_sql(),
    "chi2_feature_selection": """
WITH dtok AS MATERIALIZED (
  SELECT DISTINCT doc_id, lang AS l,
         unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
  FROM documents),
tk AS (SELECT * FROM dtok WHERE length(tok) > 0),
a_df AS (SELECT l, tok, count(*) AS a FROM tk GROUP BY 1, 2),
t_df AS (SELECT tok, sum(a) AS df_t FROM a_df GROUP BY 1),
n_l AS (SELECT lang AS l, count(*) AS nl FROM documents GROUP BY 1),
n_all AS (SELECT count(*) AS n_all FROM documents),
cells AS (
  SELECT a_df.l, a_df.tok,
         CAST(a_df.a AS DOUBLE) AS ad,
         CAST(t_df.df_t - a_df.a AS DOUBLE) AS bd,
         CAST(n_l.nl - a_df.a AS DOUBLE) AS cd,
         CAST(n_all.n_all - n_l.nl - t_df.df_t + a_df.a AS DOUBLE) AS dd,
         CAST(n_all.n_all AS DOUBLE) AS nn,
         CAST(a_df.a AS BIGINT) AS df_in_lang
  FROM a_df
  JOIN t_df ON t_df.tok = a_df.tok
  JOIN n_l ON n_l.l = a_df.l, n_all
  WHERE t_df.df_t >= 5),
ranked AS (
  SELECT l, tok, df_in_lang,
         floor((nn * (ad * dd - bd * cd) * (ad * dd - bd * cd)
                / ((ad + bd) * (cd + dd) * (ad + cd) * (bd + dd)))
               * 10000.0 + 0.5) / 10000.0 AS chi2
  FROM cells),
topk AS (
  SELECT l, tok, df_in_lang, chi2,
         row_number() OVER (
           PARTITION BY l ORDER BY chi2 DESC, tok) AS rn
  FROM ranked)
SELECT l AS lang, tok, df_in_lang, chi2, CAST(rn AS BIGINT) AS rank
FROM topk WHERE rn <= 10
""",
    "attribution_last_touch": """
WITH conv AS (
  SELECT event_id, user_id, ts, value FROM events
  WHERE event_type = 'purchase'),
touch AS (
  SELECT event_id, user_id, ts, event_type AS touch_type FROM events
  WHERE event_type != 'purchase'),
cand AS (
  SELECT c.event_id AS conv_id, c.value, t.touch_type,
         row_number() OVER (
           PARTITION BY c.event_id
           ORDER BY t.ts DESC, t.event_id DESC) AS rn
  FROM conv c
  JOIN touch t
    ON t.user_id = c.user_id AND t.ts <= c.ts),
best AS (SELECT conv_id, touch_type FROM cand WHERE rn = 1),
attr AS (
  SELECT coalesce(b.touch_type, '(direct)') AS touch_type, c.value
  FROM conv c LEFT JOIN best b ON b.conv_id = c.event_id)
SELECT touch_type,
       CAST(count(*) AS BIGINT) AS n_conversions,
       floor(CAST(sum(CAST(value AS DECIMAL(38,18))) AS DOUBLE)
             * 100.0 + 0.5) / 100.0 AS attributed_value
FROM attr GROUP BY 1
""",
    "cusum_drift": """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS x
  FROM events GROUP BY 1, 2),
mu AS (
  SELECT event_type,
         CAST(sum(CAST(x AS DECIMAL(38,18))) AS DOUBLE) / count(*) AS mu
  FROM daily GROUP BY 1),
devs AS (
  SELECT d.event_type, d.day,
         CAST(d.x AS DOUBLE) - m.mu AS dev, m.mu
  FROM daily d JOIN mu m ON m.event_type = d.event_type),
pre AS (
  SELECT event_type, day, mu,
         sum(dev) OVER (
           PARTITION BY event_type ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix
  FROM devs),
run AS (
  SELECT event_type, day, mu, prefix,
         min(prefix) OVER (
           PARTITION BY event_type ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runmin
  FROM pre),
drifted AS (
  SELECT event_type, day, mu,
         floor((prefix - least(runmin, 0.0)) * 1000000.0 + 0.5)
           / 1000000.0 AS drift
  FROM run),
ranked AS (
  SELECT event_type, day, mu, drift,
         row_number() OVER (
           PARTITION BY event_type ORDER BY drift DESC, day) AS rn
  FROM drifted)
SELECT event_type,
       strftime(day, '%Y-%m-%d') AS peak_day,
       floor(drift * 10000.0 + 0.5) / 10000.0 AS max_drift,
       floor(mu * 10000.0 + 0.5) / 10000.0 AS mean_daily
FROM ranked WHERE rn = 1
""",
    "bootstrap_ci_mean": _bootstrap_sql(),
    "survival_km": """
WITH su AS (
  SELECT user_id, min(ts) AS signup_ts FROM events
  WHERE event_type = 'signup' GROUP BY 1),
fp AS (
  SELECT su.user_id, su.signup_ts, min(e.ts) AS event_ts
  FROM su
  LEFT JOIN events e
    ON e.user_id = su.user_id
   AND e.event_type = 'purchase'
   AND e.ts > su.signup_ts
  GROUP BY 1, 2),
hz AS (SELECT max(CAST(ts AS DATE)) AS hday FROM events),
durations AS (
  SELECT user_id,
         CAST(CASE WHEN event_ts IS NOT NULL
              THEN datediff('day', CAST(signup_ts AS DATE),
                            CAST(event_ts AS DATE))
              ELSE datediff('day', CAST(signup_ts AS DATE), hday)
              END AS INT) AS t,
         CASE WHEN event_ts IS NOT NULL THEN 1 ELSE 0 END AS is_event
  FROM fp, hz),
day_level AS (
  SELECT t, CAST(sum(is_event) AS BIGINT) AS d,
         CAST(sum(1 - is_event) AS BIGINT) AS c,
         CAST(count(*) AS BIGINT) AS n_t
  FROM durations GROUP BY 1),
tot AS (SELECT count(*) AS n_total FROM durations),
risk AS (
  SELECT t, d, c,
         CAST(n_total - coalesce(sum(n_t) OVER (
           ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
           AND 1 PRECEDING), 0) AS BIGINT) AS at_risk
  FROM day_level, tot),
surv AS (
  SELECT t, d, c, at_risk,
         CASE WHEN max(CASE WHEN d = at_risk THEN 1 ELSE 0 END)
                   OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) = 1
              THEN 0.0
              ELSE exp(sum(ln(
                     CASE WHEN 1.0 - CAST(d AS DOUBLE)
                               / CAST(at_risk AS DOUBLE) > 0
                          THEN 1.0 - CAST(d AS DOUBLE)
                               / CAST(at_risk AS DOUBLE)
                          ELSE 1.0 END))
                   OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW))
         END AS s_raw
  FROM risk)
SELECT t AS day, at_risk AS n_at_risk, d AS n_events, c AS n_censored,
       floor(s_raw * 1000000.0 + 0.5) / 1000000.0 AS survival
FROM surv
""",
    "bloom_prune_join": """
SELECT substring(CAST(o.o_orderdate AS VARCHAR), 1, 7) AS order_month,
       CAST(count(*) AS BIGINT) AS n_items,
       floor((CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                            AS DECIMAL(30,8))) AS DOUBLE)) * 100.0 + 0.5)
         / 100.0 AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderpriority = '1-URGENT'
GROUP BY 1
""",
    "seasonal_anomaly": """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS x
  FROM events GROUP BY 1, 2),
wk AS (SELECT *, (day - DATE '2024-01-01') % 7 AS wd FROM daily),
base AS (
  SELECT event_type, wd, CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(CAST(x AS DECIMAL(38,18))) AS DOUBLE) AS s,
         CAST(sum(CAST(x * x AS DECIMAL(38,18))) AS DOUBLE) AS q
  FROM wk GROUP BY 1, 2),
j AS (SELECT w.event_type, w.day, w.x, b.n, b.s, b.q
      FROM wk w JOIN base b
        ON w.event_type = b.event_type AND w.wd = b.wd),
z AS (SELECT event_type, day, x,
             CASE WHEN (q / n - (s / n) * (s / n)) <= 0 THEN 0.0
                  ELSE (x - s / n) / sqrt(q / n - (s / n) * (s / n))
             END AS zv
      FROM j)
SELECT event_type, CAST(day AS VARCHAR) AS day,
       CAST(x AS BIGINT) AS n_events,
       floor(zv * 10000.0 + 0.5) / 10000.0 AS z,
       abs(floor(zv * 10000.0 + 0.5) / 10000.0) > 2.0 AS is_anomaly
FROM z
""",
    "per_group_ols": """
WITH d AS (
  SELECT c.c_mktsegment AS segment, c.c_acctbal AS x,
         o.o_totalprice AS y
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
m AS (
  SELECT segment, CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(CAST(x AS DECIMAL(38,18))) AS DOUBLE) AS sx,
         CAST(sum(CAST(y AS DECIMAL(38,18))) AS DOUBLE) AS sy,
         CAST(sum(CAST(x * x AS DECIMAL(38,18))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(x * y AS DECIMAL(38,18))) AS DOUBLE) AS sxy,
         CAST(sum(CAST(y * y AS DECIMAL(38,18))) AS DOUBLE) AS syy
  FROM d GROUP BY 1)
SELECT segment, CAST(n AS BIGINT) AS n,
       floor(((n * sxy - sx * sy) / (n * sxx - sx * sx)) * 1000000.0
             + 0.5) / 1000000.0 AS slope,
       floor(((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
              / n) * 100.0 + 0.5) / 100.0 AS intercept,
       floor(((n * sxy - sx * sy) * (n * sxy - sx * sy)
              / ((n * sxx - sx * sx) * (n * syy - sy * sy)))
             * 1000000.0 + 0.5) / 1000000.0 AS r2
FROM m
""",
    "ab_test_report": """
WITH pu AS (
  SELECT user_id,
         CAST(sum(CAST(value AS DECIMAL(38,18))) AS DOUBLE)
           AS user_value,
         CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 4)
                   < '8000' THEN 'A' ELSE 'B' END AS arm
  FROM events WHERE event_type = 'purchase' GROUP BY 1),
arms AS (
  SELECT arm, count(*) AS n,
         CAST(sum(CAST(user_value AS DECIMAL(38,18))) AS DOUBLE) AS s1,
         CAST(sum(CAST(user_value * user_value AS DECIMAL(38,18)))
              AS DOUBLE) AS s2
  FROM pu GROUP BY 1),
j AS (
  SELECT a.n AS na, a.s1 AS sa, a.s2 AS qa,
         b.n AS nb, b.s1 AS sb, b.s2 AS qb
  FROM (SELECT * FROM arms WHERE arm = 'A') a,
       (SELECT * FROM arms WHERE arm = 'B') b),
m AS (
  SELECT na, nb,
         sa / na AS mean_a, sb / nb AS mean_b,
         (qa / na - (sa / na) * (sa / na)) * (na / (na - 1.0)) AS va,
         (qb / nb - (sb / nb) * (sb / nb)) * (nb / (nb - 1.0)) AS vb
  FROM j)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       floor(mean_a * 10000.0 + 0.5) / 10000.0 AS mean_a,
       floor(mean_b * 10000.0 + 0.5) / 10000.0 AS mean_b,
       floor((mean_b - mean_a) * 10000.0 + 0.5) / 10000.0 AS lift,
       floor((mean_a - mean_b) / sqrt(va / na + vb / nb)
             * 10000.0 + 0.5) / 10000.0 AS welch_t
FROM m
""",
    "psi_drift_report": f"""
WITH scored AS (
  SELECT source,
         (substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '8000')
           AS is_ref,
         least(CAST(floor(({_QUALITY_SQL}) * 10) AS INT), 9) AS bkt
  FROM documents),
cells AS (
  SELECT source, is_ref, bkt, count(*) AS c
  FROM scored GROUP BY 1, 2, 3),
tots AS (
  SELECT source, is_ref, sum(c) AS n FROM cells GROUP BY 1, 2),
grid AS (
  SELECT s.source, b.b AS bkt, r.r AS is_ref
  FROM (SELECT DISTINCT source FROM cells) s,
       range(10) b(b), (VALUES (TRUE), (FALSE)) r(r)),
dense AS (
  SELECT g.source, g.is_ref, g.bkt,
         greatest(CAST(coalesce(c.c, 0) AS DOUBLE)
                  / CAST(t.n AS DOUBLE), 0.0001) AS p
  FROM grid g
  LEFT JOIN cells c
    ON c.source = g.source AND c.is_ref = g.is_ref AND c.bkt = g.bkt
  JOIN tots t ON t.source = g.source AND t.is_ref = g.is_ref)
SELECT r.source,
       floor(CAST(sum(CAST((c.p - r.p) * ln(c.p / r.p)
                           AS DECIMAL(38,18))) AS DOUBLE)
             * 1000000.0 + 0.5) / 1000000.0 AS psi
FROM (SELECT * FROM dense WHERE is_ref) r
JOIN (SELECT * FROM dense WHERE NOT is_ref) c
  ON c.source = r.source AND c.bkt = r.bkt
GROUP BY 1
""",
    "model_calibration_ece": _ece_sql(),
    "model_auc": _auc_sql(),
    "holt_forecast": """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS x
  FROM events GROUP BY 1, 2),
series AS (
  SELECT event_type, list(CAST(x AS DOUBLE) ORDER BY day) AS xs
  FROM daily GROUP BY 1),
ok AS (SELECT * FROM series WHERE len(xs) >= 3),
folded AS (
  SELECT event_type, CAST(len(xs) AS BIGINT) AS n_days,
         list_reduce(
           list_prepend([xs[1], xs[2] - xs[1]],
                        list_transform(xs[3:], x -> [x, 0.0])),
           (acc, x) -> [
             0.5 * x[1] + (1.0 - 0.5) * (acc[1] + acc[2]),
             0.25 * ((0.5 * x[1] + (1.0 - 0.5) * (acc[1] + acc[2]))
                     - acc[1]) + (1.0 - 0.25) * acc[2]
           ]) AS st
  FROM ok)
SELECT event_type, n_days,
       floor(CAST(st[1] AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS level,
       floor(CAST(st[2] AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS trend,
       floor((CAST(st[1] AS DOUBLE) + 7.0 * CAST(st[2] AS DOUBLE))
             * 10000.0 + 0.5) / 10000.0 AS forecast_7d
FROM folded
""",
    "conformal_interval": """
WITH feat AS (
  SELECT event_id, value AS y, hour(ts) AS h,
         ((datediff('day', DATE '1970-01-05', CAST(ts AS DATE)) % 7) + 7)
           % 7 AS d,
         (substring(md5(CAST(event_id AS VARCHAR)), 1, 4) < '8000')
           AS is_train
  FROM events),
a AS (
  SELECT count(*) AS n, sum(h) AS sh, sum(d) AS sd,
         sum(h * h) AS shh, sum(d * d) AS sdd, sum(h * d) AS shd,
         sum(CAST(y AS DECIMAL(38,18))) AS sy,
         sum(CAST(y * h AS DECIMAL(38,18))) AS shy,
         sum(CAST(y * d AS DECIMAL(38,18))) AS sdy
  FROM feat WHERE is_train),
m AS (
  SELECT CAST(n AS DOUBLE) AS nd, CAST(sh AS DOUBLE) AS shd_,
         CAST(sd AS DOUBLE) AS sdd_, CAST(shh AS DOUBLE) AS shhd,
         CAST(sdd AS DOUBLE) AS sddd, CAST(shd AS DOUBLE) AS shdd,
         CAST(sy AS DOUBLE) AS syd, CAST(shy AS DOUBLE) AS shyd,
         CAST(sdy AS DOUBLE) AS sdyd
  FROM a),
w AS (
  SELECT
    (syd*(shhd*sddd - shdd*shdd) - shd_*(shyd*sddd - shdd*sdyd)
     + sdd_*(shyd*shdd - shhd*sdyd))
    / (nd*(shhd*sddd - shdd*shdd) - shd_*(shd_*sddd - shdd*sdd_)
       + sdd_*(shd_*shdd - shhd*sdd_)) AS w0,
    (nd*(shyd*sddd - shdd*sdyd) - syd*(shd_*sddd - shdd*sdd_)
     + sdd_*(shd_*sdyd - shyd*sdd_))
    / (nd*(shhd*sddd - shdd*shdd) - shd_*(shd_*sddd - shdd*sdd_)
       + sdd_*(shd_*shdd - shhd*sdd_)) AS w1,
    (nd*(shhd*sdyd - shyd*shdd) - shd_*(shd_*sdyd - shyd*sdd_)
     + syd*(shd_*shdd - shhd*sdd_))
    / (nd*(shhd*sddd - shdd*shdd) - shd_*(shd_*sddd - shdd*sdd_)
       + sdd_*(shd_*shdd - shhd*sdd_)) AS w2
  FROM m),
scored AS (
  SELECT f.event_id, f.is_train,
         floor(abs(f.y - (w.w0 + w.w1 * CAST(f.h AS DOUBLE)
                          + w.w2 * CAST(f.d AS DOUBLE)))
               * 1000000000.0 + 0.5) / 1000000000.0 AS ar
  FROM feat f, w),
cal AS (SELECT * FROM scored WHERE NOT is_train),
ranked AS (
  SELECT ar, row_number() OVER (ORDER BY ar, event_id) AS r FROM cal),
nc AS (SELECT count(*) AS n_cal FROM cal),
qh AS (
  SELECT r.ar AS q_hat, nc.n_cal
  FROM ranked r, nc
  WHERE r.r = least(CAST(ceil(0.9 * CAST(nc.n_cal + 1 AS DOUBLE))
                         AS BIGINT), nc.n_cal))
SELECT CAST(count(*) AS BIGINT) AS n_train,
       CAST(max(qh.n_cal) AS BIGINT) AS n_cal,
       floor(max(qh.q_hat) * 10000.0 + 0.5) / 10000.0 AS q_hat,
       floor(CAST(sum(CASE WHEN s.ar <= qh.q_hat THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*) * 10000.0 + 0.5) / 10000.0
         AS coverage_train
FROM scored s, qh WHERE s.is_train
""",
    "gradient_boost_stumps": _gboost_sql(),
    "als_rank1": _als_rank1_sql(),
    "isotonic_calibration": _isotonic_sql(),
    "drift_fdr_control": f"""
WITH scored AS (
  SELECT source, doc_id,
         (substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '8000')
           AS is_ref,
         {_QUALITY_SQL} AS score
  FROM documents),
tot AS (
  SELECT source,
         sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS n_ref,
         sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS n_cur
  FROM scored GROUP BY 1),
cum AS (
  SELECT source,
         sum(CASE WHEN is_ref THEN 1 ELSE 0 END) OVER (
           PARTITION BY source ORDER BY score, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c_ref,
         sum(CASE WHEN is_ref THEN 0 ELSE 1 END) OVER (
           PARTITION BY source ORDER BY score, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c_cur
  FROM scored),
ks AS (
  SELECT c.source, t.n_ref, t.n_cur,
         max(abs(CAST(c.c_ref AS DOUBLE) / CAST(t.n_ref AS DOUBLE)
                 - CAST(c.c_cur AS DOUBLE) / CAST(t.n_cur AS DOUBLE)))
           AS ks
  FROM cum c JOIN tot t ON t.source = c.source
  GROUP BY 1, 2, 3),
lamd AS (
  SELECT source, ks,
         ks * sqrt(CAST(n_ref AS DOUBLE) * CAST(n_cur AS DOUBLE)
                   / CAST(n_ref + n_cur AS DOUBLE)) AS lam
  FROM ks),
tested AS (
  SELECT source,
         floor(ks * 1000000.0 + 0.5) / 1000000.0 AS ks_stat,
         least(greatest(floor((
             2.0 * exp(-2.0 * lam * lam)
             + -2.0 * exp(-8.0 * lam * lam)
             + 2.0 * exp(-18.0 * lam * lam)
             + -2.0 * exp(-32.0 * lam * lam)
             + 2.0 * exp(-50.0 * lam * lam)
           ) * 1000000000.0 + 0.5) / 1000000000.0, 0.0), 1.0) AS p9
  FROM lamd),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY p9, source) AS rank
  FROM tested),
m AS (SELECT count(*) AS m FROM ranked),
flagged AS (
  SELECT r.*, m.m,
         CASE WHEN r.p9 <= CAST(r.rank AS DOUBLE) * 0.1
                           / CAST(m.m AS DOUBLE)
              THEN r.rank ELSE 0 END AS qual
  FROM ranked r, m),
km AS (SELECT max(qual) AS kmax FROM flagged)
SELECT f.source, f.ks_stat,
       floor(f.p9 * 1000000.0 + 0.5) / 1000000.0 AS p_value,
       CAST(f.rank AS BIGINT) AS rank,
       CAST(CASE WHEN f.rank <= km.kmax THEN 1 ELSE 0 END AS INT)
         AS drift_flagged
FROM flagged f, km
""",
    "score_correlation": f"""
WITH xy AS (
  SELECT {_QUALITY_SQL} AS x, CAST(n_chars AS DOUBLE) AS y
  FROM documents),
a AS (
  SELECT count(*) AS n,
         CAST(sum(CAST(x AS DECIMAL(38,18))) AS DOUBLE) AS sx,
         CAST(sum(CAST(y AS DECIMAL(38,18))) AS DOUBLE) AS sy,
         CAST(sum(CAST(x * x AS DECIMAL(38,18))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(y * y AS DECIMAL(38,18))) AS DOUBLE) AS syy,
         CAST(sum(CAST(x * y AS DECIMAL(38,18))) AS DOUBLE) AS sxy
  FROM xy)
SELECT CAST(n AS BIGINT) AS n,
       floor((sxy - sx * sy / CAST(n AS DOUBLE))
             / sqrt((sxx - sx * sx / CAST(n AS DOUBLE))
                    * (syy - sy * sy / CAST(n AS DOUBLE)))
             * 1000000.0 + 0.5) / 1000000.0 AS pearson_r
FROM a
""",
    "spearman_correlation": f"""
WITH base AS (
  SELECT doc_id, {_QUALITY_SQL} AS x, CAST(n_chars AS DOUBLE) AS y
  FROM documents),
rx0 AS (
  SELECT doc_id, x, row_number() OVER (ORDER BY x, doc_id) AS r
  FROM base),
rx AS (
  SELECT doc_id,
         CAST(min(r) OVER (PARTITION BY x)
              + max(r) OVER (PARTITION BY x) AS DOUBLE) / 2.0 AS rx
  FROM rx0),
ry0 AS (
  SELECT doc_id, y, row_number() OVER (ORDER BY y, doc_id) AS r
  FROM base),
ry AS (
  SELECT doc_id,
         CAST(min(r) OVER (PARTITION BY y)
              + max(r) OVER (PARTITION BY y) AS DOUBLE) / 2.0 AS ry
  FROM ry0),
pairs AS (
  SELECT rx.rx, ry.ry FROM rx JOIN ry ON ry.doc_id = rx.doc_id),
a AS (
  SELECT count(*) AS n,
         CAST(sum(CAST(rx AS DECIMAL(38,18))) AS DOUBLE) AS sx,
         CAST(sum(CAST(ry AS DECIMAL(38,18))) AS DOUBLE) AS sy,
         CAST(sum(CAST(rx * rx AS DECIMAL(38,18))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(ry * ry AS DECIMAL(38,18))) AS DOUBLE) AS syy,
         CAST(sum(CAST(rx * ry AS DECIMAL(38,18))) AS DOUBLE) AS sxy
  FROM pairs)
SELECT CAST(n AS BIGINT) AS n,
       floor((sxy - sx * sy / CAST(n AS DOUBLE))
             / sqrt((sxx - sx * sx / CAST(n AS DOUBLE))
                    * (syy - sy * sy / CAST(n AS DOUBLE)))
             * 1000000.0 + 0.5) / 1000000.0 AS spearman_rho
FROM a
""",
    "benford_audit": """
WITH digits AS (
  SELECT CAST(floor(abs(o_totalprice)
              / pow(10.0, floor(log10(abs(o_totalprice))))) AS INT)
           AS d
  FROM orders WHERE abs(o_totalprice) > 0),
per AS (SELECT d, CAST(count(*) AS BIGINT) AS n FROM digits GROUP BY 1),
tot AS (SELECT sum(n) AS n_all FROM per)
SELECT d, n,
       floor(CAST(n AS DOUBLE) / CAST(n_all AS DOUBLE)
             * 1000000.0 + 0.5) / 1000000.0 AS observed_freq,
       floor(log10(1.0 + 1.0 / CAST(d AS DOUBLE))
             * 1000000.0 + 0.5) / 1000000.0 AS benford_freq,
       floor((CAST(n AS DOUBLE) - CAST(n_all AS DOUBLE)
              * log10(1.0 + 1.0 / CAST(d AS DOUBLE)))
             * (CAST(n AS DOUBLE) - CAST(n_all AS DOUBLE)
                * log10(1.0 + 1.0 / CAST(d AS DOUBLE)))
             / (CAST(n_all AS DOUBLE)
                * log10(1.0 + 1.0 / CAST(d AS DOUBLE)))
             * 10000.0 + 0.5) / 10000.0 AS chi2_contrib
FROM per, tot
""",
    "markov_prediction_accuracy": """
WITH p AS (
  SELECT user_id,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type,
         event_type AS next_type
  FROM events),
pairs AS (SELECT * FROM p WHERE prev_type IS NOT NULL),
cm AS (
  SELECT prev_type, next_type, count(*) AS n
  FROM pairs GROUP BY 1, 2),
model AS (
  SELECT prev_type, next_type AS predicted_next
  FROM (SELECT *, row_number() OVER (
          PARTITION BY prev_type ORDER BY n DESC, next_type) AS rn
        FROM cm) WHERE rn = 1)
SELECT pr.prev_type, m.predicted_next,
       CAST(count(*) AS BIGINT) AS n_transitions,
       floor(CAST(sum(CASE WHEN pr.next_type = m.predicted_next
                      THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
             * 10000.0 + 0.5) / 10000.0 AS accuracy
FROM pairs pr JOIN model m ON m.prev_type = pr.prev_type
GROUP BY 1, 2
""",
    "ks_drift_report": f"""
WITH scored AS (
  SELECT source, doc_id,
         (substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '8000')
           AS is_ref,
         {_QUALITY_SQL} AS score
  FROM documents),
tot AS (
  SELECT source,
         sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS n_ref,
         sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS n_cur
  FROM scored GROUP BY 1),
cum AS (
  SELECT source,
         sum(CASE WHEN is_ref THEN 1 ELSE 0 END) OVER (
           PARTITION BY source ORDER BY score, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c_ref,
         sum(CASE WHEN is_ref THEN 0 ELSE 1 END) OVER (
           PARTITION BY source ORDER BY score, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c_cur
  FROM scored),
diffs AS (
  SELECT c.source,
         abs(CAST(c.c_ref AS DOUBLE) / CAST(t.n_ref AS DOUBLE)
             - CAST(c.c_cur AS DOUBLE) / CAST(t.n_cur AS DOUBLE)) AS d
  FROM cum c JOIN tot t ON t.source = c.source)
SELECT source, floor(max(d) * 1000000.0 + 0.5) / 1000000.0 AS ks_stat
FROM diffs GROUP BY 1
""",
    "decision_stump": """
WITH feat AS (
  SELECT value AS y, CAST(hour(ts) AS INT) AS h FROM events),
tot AS (
  SELECT count(*) AS n,
         CAST(sum(CAST(y AS DECIMAL(38,18))) AS DOUBLE) AS sd,
         CAST(sum(CAST(y * y AS DECIMAL(38,18))) AS DOUBLE) AS qd
  FROM feat),
sides AS (
  SELECT CAST(t.c AS INT) AS c,
         CAST(sum(CASE WHEN f.h <= t.c THEN 1 ELSE 0 END) AS BIGINT)
           AS nl,
         CAST(sum(CASE WHEN f.h <= t.c
                  THEN CAST(f.y AS DECIMAL(38,18))
                  ELSE CAST(0.0 AS DECIMAL(38,18)) END) AS DOUBLE)
           AS sl
  FROM feat f, range(23) t(c) GROUP BY 1),
scored AS (
  SELECT tot.n, tot.sd, tot.qd, s.c, s.nl, s.sl,
         floor((tot.qd - (s.sl * s.sl) / CAST(s.nl AS DOUBLE)
                - ((tot.sd - s.sl) * (tot.sd - s.sl))
                  / CAST(tot.n - s.nl AS DOUBLE))
               * 1000000.0 + 0.5) / 1000000.0 AS sse
  FROM sides s, tot
  WHERE s.nl > 0 AND s.nl < tot.n),
best AS (
  SELECT *, row_number() OVER (ORDER BY sse, c) AS rn FROM scored)
SELECT CAST(c AS INT) AS split_hour,
       CAST(nl AS BIGINT) AS n_left,
       CAST(n - nl AS BIGINT) AS n_right,
       floor(sl / CAST(nl AS DOUBLE) * 10000.0 + 0.5) / 10000.0
         AS mean_left,
       floor((sd - sl) / CAST(n - nl AS DOUBLE) * 10000.0 + 0.5)
         / 10000.0 AS mean_right,
       floor(((qd - sd * sd / CAST(n AS DOUBLE)) - sse)
             * 10000.0 + 0.5) / 10000.0 AS sse_reduction
FROM best WHERE rn = 1
""",
    "target_encode_loo": """
WITH d AS (
  SELECT c.c_mktsegment AS segment, o.o_totalprice AS y
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
g AS (
  SELECT segment, CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS s,
         CAST(sum(CAST(y * y AS DECIMAL(38,12))) AS DOUBLE) AS q,
         min(y) AS y_min, max(y) AS y_max
  FROM d GROUP BY 1),
pr AS (
  SELECT CAST(sum(CAST(y AS DECIMAL(38,12))) AS DOUBLE) / count(*)
           AS _prior
  FROM d)
SELECT segment, CAST(n AS BIGINT) AS n,
       floor((s + 20.0 * _prior) / (n + 20.0) * 10000.0 + 0.5)
         / 10000.0 AS enc_smoothed,
       floor((s - y_max) / (n - 1) * 10000.0 + 0.5) / 10000.0
         AS loo_min,
       floor((s - y_min) / (n - 1) * 10000.0 + 0.5) / 10000.0
         AS loo_max,
       floor(((n - 2) * s * s + q) / (((n - 1) * (n - 1)) * n)
             * 10000.0 + 0.5) / 10000.0 AS loo_sq_mean
FROM g CROSS JOIN pr
""",
    "woe_iv_binning": """
WITH lab AS (
  SELECT o_custkey,
         max(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
           AS pos
  FROM orders GROUP BY 1),
t AS (
  SELECT c.c_custkey, c.c_acctbal, COALESCE(lab.pos, 0) AS pos
  FROM customer c LEFT JOIN lab ON c.c_custkey = lab.o_custkey),
b AS (
  SELECT c_acctbal, pos,
         ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS bin
  FROM t),
g AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(pos) AS BIGINT) AS n_pos,
         CAST(sum(1 - pos) AS BIGINT) AS n_neg,
         floor(min(c_acctbal) * 100.0 + 0.5) / 100.0 AS bin_lo,
         floor(max(c_acctbal) * 100.0 + 0.5) / 100.0 AS bin_hi
  FROM b GROUP BY 1),
tot AS (
  SELECT CAST(sum(pos) AS DOUBLE) AS _pt,
         CAST(sum(1 - pos) AS DOUBLE) AS _nt
  FROM t)
SELECT bin, n, n_pos, n_neg, bin_lo, bin_hi,
       floor(ln(((n_pos + 0.5) / _pt) / ((n_neg + 0.5) / _nt))
             * 1000000.0 + 0.5) / 1000000.0 AS woe,
       floor((n_pos / _pt - n_neg / _nt)
             * ln(((n_pos + 0.5) / _pt) / ((n_neg + 0.5) / _nt))
             * 1000000.0 + 0.5) / 1000000.0 AS iv_contrib
FROM g CROSS JOIN tot
""",
    "kfold_cv_ols": """
WITH d AS (
  SELECT c.c_mktsegment AS segment,
         CAST(o.o_orderkey % 5 AS INT) AS fold,
         c.c_acctbal AS x, o.o_totalprice AS y
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
fm AS (
  SELECT segment, fold,
         CAST(count(*) AS DECIMAL(38,12)) AS n,
         sum(CAST(x AS DECIMAL(38,12))) AS sx,
         sum(CAST(y AS DECIMAL(38,12))) AS sy,
         sum(CAST(x * x AS DECIMAL(38,12))) AS sxx,
         sum(CAST(x * y AS DECIMAL(38,12))) AS sxy,
         sum(CAST(y * y AS DECIMAL(38,12))) AS syy
  FROM d GROUP BY 1, 2),
tot AS (
  SELECT segment, sum(n) AS t_n, sum(sx) AS t_sx, sum(sy) AS t_sy,
         sum(sxx) AS t_sxx, sum(sxy) AS t_sxy, sum(syy) AS t_syy
  FROM fm GROUP BY 1),
pf AS (
  SELECT fm.segment, CAST(tot.t_n AS DOUBLE) AS n_tot,
         ((CAST(t_n - n AS DOUBLE) * CAST(t_sxy - sxy AS DOUBLE)
           - CAST(t_sx - sx AS DOUBLE) * CAST(t_sy - sy AS DOUBLE))
          / (CAST(t_n - n AS DOUBLE) * CAST(t_sxx - sxx AS DOUBLE)
             - CAST(t_sx - sx AS DOUBLE) * CAST(t_sx - sx AS DOUBLE)))
           AS _slope,
         CAST(t_sy - sy AS DOUBLE) AS tr_sy,
         CAST(t_sx - sx AS DOUBLE) AS tr_sx,
         CAST(t_n - n AS DOUBLE) AS tr_n,
         CAST(n AS DOUBLE) AS f_n, CAST(sx AS DOUBLE) AS f_sx,
         CAST(sy AS DOUBLE) AS f_sy, CAST(sxx AS DOUBLE) AS f_sxx,
         CAST(sxy AS DOUBLE) AS f_sxy, CAST(syy AS DOUBLE) AS f_syy
  FROM fm JOIN tot ON fm.segment = tot.segment),
scored AS (
  SELECT segment, n_tot, _slope,
         (tr_sy - _slope * tr_sx) / tr_n AS _icept,
         f_n, f_sx, f_sy, f_sxx, f_sxy, f_syy
  FROM pf),
sse AS (
  SELECT segment, n_tot, _slope,
         (f_syy - 2 * _icept * f_sy - 2 * _slope * f_sxy
          + 2 * _icept * _slope * f_sx + _icept * _icept * f_n
          + _slope * _slope * f_sxx) AS _sse
  FROM scored)
SELECT segment, CAST(max(n_tot) AS BIGINT) AS n,
       floor(sqrt(CAST(sum(CAST(_sse AS DECIMAL(38,6))) AS DOUBLE)
                  / max(n_tot)) * 10000.0 + 0.5) / 10000.0 AS cv_rmse,
       floor(min(_slope) * 1000000.0 + 0.5) / 1000000.0 AS slope_lo,
       floor(max(_slope) * 1000000.0 + 0.5) / 1000000.0 AS slope_hi
FROM sse GROUP BY 1
""",
    "attribution_position": """
WITH ev AS (SELECT user_id, ts, event_type, event_id FROM events),
touches AS (SELECT * FROM ev WHERE event_type IN ('click', 'view')),
buys AS (SELECT user_id, ts AS p_ts, event_id AS p_id FROM ev
         WHERE event_type = 'purchase'),
joined AS (
  SELECT t.event_type, b.p_id, t.ts, t.event_id
  FROM touches t JOIN buys b
    ON t.user_id = b.user_id AND t.ts < b.p_ts
   AND t.ts >= b.p_ts - INTERVAL 7 DAY),
pos AS (
  SELECT event_type, p_id,
         row_number() OVER (PARTITION BY p_id
                            ORDER BY ts, event_id) AS rk,
         count(*) OVER (PARTITION BY p_id) AS n
  FROM joined),
credited AS (
  SELECT event_type, p_id,
         CASE WHEN n = 1 THEN 1.0
              WHEN n = 2 THEN 0.5
              WHEN rk = 1 THEN 0.4
              WHEN rk = n THEN 0.4
              ELSE 0.2 / (n - 2) END AS credit
  FROM pos)
SELECT event_type,
       floor(CAST(sum(CAST(credit AS DECIMAL(30,15))) AS DOUBLE)
             * 10000.0 + 0.5) / 10000.0 AS total_credit,
       CAST(count(DISTINCT p_id) AS BIGINT) AS n_purchases
FROM credited GROUP BY 1
""",
    "ridge_path_cv": """
WITH d AS (
  SELECT c.c_mktsegment AS segment,
         CAST(o.o_orderkey % 5 AS INT) AS fold,
         c.c_acctbal AS x, o.o_totalprice AS y
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
fm AS (
  SELECT segment, fold,
         CAST(count(*) AS DECIMAL(38,12)) AS n,
         sum(CAST(x AS DECIMAL(38,12))) AS sx,
         sum(CAST(y AS DECIMAL(38,12))) AS sy,
         sum(CAST(x * x AS DECIMAL(38,12))) AS sxx,
         sum(CAST(x * y AS DECIMAL(38,12))) AS sxy,
         sum(CAST(y * y AS DECIMAL(38,12))) AS syy
  FROM d GROUP BY 1, 2),
tot AS (
  SELECT segment, sum(n) AS t_n, sum(sx) AS t_sx, sum(sy) AS t_sy,
         sum(sxx) AS t_sxx, sum(sxy) AS t_sxy, sum(syy) AS t_syy
  FROM fm GROUP BY 1),
grid AS (SELECT unnest([0.0, 0.25, 1.0, 4.0]) AS alpha),
j AS (
  SELECT fm.segment, grid.alpha,
         CAST(t_n - n AS DOUBLE) AS tr_n,
         CAST(t_sx - sx AS DOUBLE) AS tr_sx,
         CAST(t_sy - sy AS DOUBLE) AS tr_sy,
         CAST(t_sxx - sxx AS DOUBLE) AS tr_sxx,
         CAST(t_sxy - sxy AS DOUBLE) AS tr_sxy,
         CAST(t_n AS DOUBLE) AS n_tot,
         CAST(n AS DOUBLE) AS f_n, CAST(sx AS DOUBLE) AS f_sx,
         CAST(sy AS DOUBLE) AS f_sy, CAST(sxx AS DOUBLE) AS f_sxx,
         CAST(sxy AS DOUBLE) AS f_sxy, CAST(syy AS DOUBLE) AS f_syy
  FROM fm JOIN tot ON fm.segment = tot.segment CROSS JOIN grid),
modeled AS (
  SELECT segment, alpha, n_tot,
         ((tr_sxy - tr_sx * tr_sy / tr_n)
          / ((tr_sxx - tr_sx * tr_sx / tr_n) * (1.0 + alpha)))
           AS _slope,
         tr_sy, tr_sx, tr_n,
         f_n, f_sx, f_sy, f_sxx, f_sxy, f_syy
  FROM j),
sse AS (
  SELECT segment, alpha, n_tot,
         (f_syy
          - 2 * ((tr_sy - _slope * tr_sx) / tr_n) * f_sy
          - 2 * _slope * f_sxy
          + 2 * ((tr_sy - _slope * tr_sx) / tr_n) * _slope * f_sx
          + ((tr_sy - _slope * tr_sx) / tr_n)
            * ((tr_sy - _slope * tr_sx) / tr_n) * f_n
          + _slope * _slope * f_sxx) AS _sse
  FROM modeled),
per_alpha AS (
  SELECT segment, alpha,
         floor(sqrt(CAST(sum(CAST(_sse AS DECIMAL(38,6))) AS DOUBLE)
                    / max(n_tot)) * 10000.0 + 0.5) / 10000.0
           AS cv_rmse
  FROM sse GROUP BY 1, 2)
SELECT segment, alpha, cv_rmse,
       row_number() OVER (PARTITION BY segment
                          ORDER BY cv_rmse, alpha) = 1 AS is_best
FROM per_alpha
""",
    "purged_time_split": """
WITH folds(fold, f_start, f_end) AS (
  VALUES ('f1', TIMESTAMP '2024-01-08', TIMESTAMP '2024-01-15'),
         ('f2', TIMESTAMP '2024-01-15', TIMESTAMP '2024-01-22'),
         ('f3', TIMESTAMP '2024-01-22', TIMESTAMP '2024-01-29')),
g AS (
  SELECT f.fold,
         count(CASE WHEN e.ts < f.f_start - INTERVAL 2 DAY THEN 1 END)
           AS n_train,
         count(CASE WHEN e.ts >= f.f_start AND e.ts < f.f_end THEN 1
               END) AS n_test,
         max(CASE WHEN e.ts < f.f_start - INTERVAL 2 DAY THEN e.ts
             END) AS mtr,
         min(CASE WHEN e.ts >= f.f_start AND e.ts < f.f_end THEN e.ts
             END) AS mte
  FROM folds f CROSS JOIN events e GROUP BY 1)
SELECT fold, CAST(n_train AS BIGINT) AS n_train,
       CAST(n_test AS BIGINT) AS n_test,
       strftime(mtr, '%Y-%m-%d %H:%M:%S') AS max_train_ts,
       strftime(mte, '%Y-%m-%d %H:%M:%S') AS min_test_ts,
       CAST(floor(epoch(mte)) AS BIGINT)
       - CAST(floor(epoch(mtr)) AS BIGINT) >= 172800 AS gap_ok
FROM g
""",
    "changepoint_detect": """
WITH ev AS (
  SELECT event_type, CAST(ts AS DATE) AS day, value FROM events
  WHERE value IS NOT NULL),
daily AS (
  SELECT event_type, day,
         CAST(count(*) AS DECIMAL(38,12)) AS n,
         sum(CAST(value AS DECIMAL(38,12))) AS s,
         sum(CAST(value * value AS DECIMAL(38,12))) AS q
  FROM ev GROUP BY 1, 2),
cum AS (
  SELECT event_type, day,
         CAST(sum(n) OVER w AS DOUBLE) AS cn,
         CAST(sum(s) OVER w AS DOUBLE) AS cs,
         CAST(sum(q) OVER w AS DOUBLE) AS cq,
         CAST(sum(n) OVER wt AS DOUBLE) AS tn,
         CAST(sum(s) OVER wt AS DOUBLE) AS ts_,
         CAST(sum(q) OVER wt AS DOUBLE) AS tq
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wt AS (PARTITION BY event_type)),
scored AS (
  SELECT event_type, day, cn, cs, tn, ts_,
         (cq - cs * cs / cn)
         + ((tq - cq) - (ts_ - cs) * (ts_ - cs) / (tn - cn)) AS _sse,
         tq - ts_ * ts_ / tn AS _base
  FROM cum WHERE cn < tn),
best AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY _sse, day) AS rn
  FROM scored)
SELECT event_type, strftime(day, '%Y-%m-%d') AS split_day,
       CAST(cn AS BIGINT) AS n_before,
       CAST(tn - cn AS BIGINT) AS n_after,
       floor(cs / cn * 10000.0 + 0.5) / 10000.0 AS mean_before,
       floor((ts_ - cs) / (tn - cn) * 10000.0 + 0.5) / 10000.0
         AS mean_after,
       floor((_base - _sse) * 10000.0 + 0.5) / 10000.0
         AS sse_reduction
FROM best WHERE rn = 1
""",
    "acf_daily": """
WITH ev AS (
  SELECT event_type, CAST(ts AS DATE) AS day, value FROM events
  WHERE value IS NOT NULL),
daily AS (
  SELECT event_type, day,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE)
           / count(*) AS m
  FROM ev GROUP BY 1, 2),
lags AS (SELECT unnest([1, 2, 7]) AS lag),
pairs AS (
  SELECT a.event_type, lags.lag, a.m AS x, b.m AS y
  FROM daily a CROSS JOIN lags
  JOIN daily b ON b.event_type = a.event_type
              AND b.day = a.day + CAST(lags.lag AS INT)),
g AS (
  SELECT event_type, lag, CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
         CAST(sum(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
         CAST(sum(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(x * y AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
         CAST(sum(CAST(y * y AS DECIMAL(38,12))) AS DOUBLE) AS syy
  FROM pairs GROUP BY 1, 2)
SELECT event_type, CAST(lag AS INT) AS lag,
       CAST(n AS BIGINT) AS n_pairs,
       floor((n * sxy - sx * sy)
             / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
             * 10000.0 + 0.5) / 10000.0 AS acf
FROM g
""",
    "budget_apportion": """
WITH rev AS (
  SELECT c_mktsegment AS segment,
         sum(CAST(o_totalprice AS DECIMAL(38,12))) AS rev
  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1),
based AS (
  SELECT segment,
         CAST(rev AS DOUBLE) / CAST(sum(rev) OVER () AS DOUBLE)
           * 10000.0 AS quota
  FROM rev),
b2 AS (
  SELECT segment, quota, CAST(floor(quota) AS BIGINT) AS base,
         quota - floor(quota) AS frac
  FROM based),
r2 AS (
  SELECT *, row_number() OVER (ORDER BY frac DESC, segment) AS rn,
         10000 - sum(base) OVER () AS leftover
  FROM b2)
SELECT segment, floor(quota * 10000.0 + 0.5) / 10000.0 AS quota,
       CAST(base + CASE WHEN rn <= leftover THEN 1 ELSE 0 END
            AS BIGINT) AS alloc
FROM r2
""",
    "theilsen_trend": """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(sum(CAST(value AS DECIMAL(38,18))) AS DOUBLE) AS rev
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
pairs AS (
  SELECT a.event_type, a.day AS d1, b.day AS d2,
         (b.rev - a.rev)
           / CAST(date_diff('day', a.day, b.day) AS DOUBLE) AS slope
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.day < b.day),
ranked AS (
  SELECT event_type, slope,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY slope, d1, d2) AS rn,
         count(*) OVER (PARTITION BY event_type) AS m
  FROM pairs),
med AS (
  SELECT event_type, sum(slope) / count(*) AS sen,
         CAST(max(m) AS BIGINT) AS n_pairs
  FROM ranked
  WHERE rn = floor((m + 1) / 2) OR rn = floor(m / 2) + 1
  GROUP BY 1)
SELECT event_type,
       CAST(floor((1.0 + sqrt(1.0 + 8.0 * CAST(n_pairs AS DOUBLE)))
                  / 2.0) AS BIGINT) AS n_days,
       n_pairs,
       floor(sen * 10000.0 + 0.5) / 10000.0 AS sen_slope
FROM med
""",
    "mann_whitney_ab": """
WITH pu AS (
  SELECT user_id, sum(CAST(value AS DECIMAL(38,18))) AS uv,
         CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 4)
                   < '8000' THEN 'A' ELSE 'B' END AS arm
  FROM events WHERE event_type = 'purchase' GROUP BY 1),
vals AS (
  SELECT uv, CAST(count(*) AS DECIMAL(38,0)) AS t,
         CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END)
              AS DECIMAL(38,0)) AS ta
  FROM pu GROUP BY 1),
ranked AS (
  SELECT t, ta,
         CAST(COALESCE(sum(t) OVER (ORDER BY uv
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
              0) AS DECIMAL(38,0)) AS cb
  FROM vals),
agg AS (
  SELECT CAST(sum(t) AS DECIMAL(38,0)) AS n,
         CAST(sum(ta) AS DECIMAL(38,0)) AS na,
         CAST(sum(ta * (2 * cb + t + 1)) AS DECIMAL(38,0)) AS ra2,
         CAST(sum(t * t * t - t) AS DECIMAL(38,0)) AS tie3
  FROM ranked),
m AS (
  SELECT CAST(na AS BIGINT) AS n_a, CAST(n - na AS BIGINT) AS n_b,
         CAST(ra2 - na * (na + 1) AS DOUBLE) AS u2,
         CAST(n AS DOUBLE) AS nd, CAST(na AS DOUBLE) AS nad,
         CAST(n - na AS DOUBLE) AS nbd, CAST(tie3 AS DOUBLE) AS tied
  FROM agg),
sig AS (
  SELECT *, (nad * nbd / 12.0)
            * ((nd + 1) - tied / (nd * (nd - 1.0))) AS sigma2
  FROM m)
SELECT n_a, n_b, u2 / 2.0 AS u_a,
       floor((u2 - nad * nbd) / (2.0 * sqrt(sigma2))
             * 10000.0 + 0.5) / 10000.0 AS z,
       floor((1.0 - u2 / (nad * nbd)) * 10000.0 + 0.5) / 10000.0
         AS rank_biserial
FROM sig
""",
    "diff_in_diff": """
WITH d AS (
  SELECT CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 4)
                   < '8000' THEN 1 ELSE 0 END AS treat,
         CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END
           AS post,
         value AS y
  FROM events
  WHERE event_type = 'purchase' AND value IS NOT NULL),
g AS (
  SELECT
    CAST(sum(CASE WHEN treat = 0 AND post = 0
                  THEN CAST(1 AS DECIMAL(38,18)) END) AS DOUBLE)
      AS n_c0,
    CAST(sum(CASE WHEN treat = 0 AND post = 0
                  THEN CAST(y AS DECIMAL(38,18)) END) AS DOUBLE)
      AS s_c0,
    CAST(sum(CASE WHEN treat = 0 AND post = 0
                  THEN CAST(y * y AS DECIMAL(38,18)) END) AS DOUBLE)
      AS q_c0,
    CAST(sum(CASE WHEN treat = 0 AND post = 1
                  THEN CAST(1 AS DECIMAL(38,18)) END) AS DOUBLE)
      AS n_c1,
    CAST(sum(CASE WHEN treat = 0 AND post = 1
                  THEN CAST(y AS DECIMAL(38,18)) END) AS DOUBLE)
      AS s_c1,
    CAST(sum(CASE WHEN treat = 0 AND post = 1
                  THEN CAST(y * y AS DECIMAL(38,18)) END) AS DOUBLE)
      AS q_c1,
    CAST(sum(CASE WHEN treat = 1 AND post = 0
                  THEN CAST(1 AS DECIMAL(38,18)) END) AS DOUBLE)
      AS n_t0,
    CAST(sum(CASE WHEN treat = 1 AND post = 0
                  THEN CAST(y AS DECIMAL(38,18)) END) AS DOUBLE)
      AS s_t0,
    CAST(sum(CASE WHEN treat = 1 AND post = 0
                  THEN CAST(y * y AS DECIMAL(38,18)) END) AS DOUBLE)
      AS q_t0,
    CAST(sum(CASE WHEN treat = 1 AND post = 1
                  THEN CAST(1 AS DECIMAL(38,18)) END) AS DOUBLE)
      AS n_t1,
    CAST(sum(CASE WHEN treat = 1 AND post = 1
                  THEN CAST(y AS DECIMAL(38,18)) END) AS DOUBLE)
      AS s_t1,
    CAST(sum(CASE WHEN treat = 1 AND post = 1
                  THEN CAST(y * y AS DECIMAL(38,18)) END) AS DOUBLE)
      AS q_t1
  FROM d),
mm AS (
  SELECT *,
         s_c0 / n_c0 AS m_c0, s_c1 / n_c1 AS m_c1,
         s_t0 / n_t0 AS m_t0, s_t1 / n_t1 AS m_t1
  FROM g),
vv AS (
  SELECT *,
         (q_c0 / n_c0 - m_c0 * m_c0) * (n_c0 / (n_c0 - 1.0)) AS v_c0,
         (q_c1 / n_c1 - m_c1 * m_c1) * (n_c1 / (n_c1 - 1.0)) AS v_c1,
         (q_t0 / n_t0 - m_t0 * m_t0) * (n_t0 / (n_t0 - 1.0)) AS v_t0,
         (q_t1 / n_t1 - m_t1 * m_t1) * (n_t1 / (n_t1 - 1.0)) AS v_t1,
         (m_t1 - m_t0) - (m_c1 - m_c0) AS did_raw
  FROM mm),
fin AS (
  SELECT *,
         sqrt(((0 + v_c0 / n_c0) + v_c1 / n_c1) + v_t0 / n_t0
              + v_t1 / n_t1) AS se_raw
  FROM vv)
SELECT CAST(n_c0 AS BIGINT) AS n_c0, CAST(n_c1 AS BIGINT) AS n_c1,
       CAST(n_t0 AS BIGINT) AS n_t0, CAST(n_t1 AS BIGINT) AS n_t1,
       floor(m_c0 * 10000.0 + 0.5) / 10000.0 AS mean_c0,
       floor(m_c1 * 10000.0 + 0.5) / 10000.0 AS mean_c1,
       floor(m_t0 * 10000.0 + 0.5) / 10000.0 AS mean_t0,
       floor(m_t1 * 10000.0 + 0.5) / 10000.0 AS mean_t1,
       floor(did_raw * 10000.0 + 0.5) / 10000.0 AS did,
       floor(se_raw * 10000.0 + 0.5) / 10000.0 AS se,
       floor(did_raw / se_raw * 10000.0 + 0.5) / 10000.0 AS t_stat
FROM fin
""",
    "ewma_control_chart": """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2),
idx AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY day) AS i
  FROM daily),
pairs AS (
  SELECT a.event_type, a.day, a.x,
         CAST(b.x * (CAST(1 AS BIGINT)
                     << CAST(15 - (a.i - 1 - b.i) AS INT))
              AS DECIMAL(38,0)) AS term,
         CAST((CAST(1 AS BIGINT)
               << CAST(15 - (a.i - 1 - b.i) AS INT))
              AS DECIMAL(38,0)) AS wt
  FROM idx a JOIN idx b ON a.event_type = b.event_type
  WHERE b.i >= a.i - 16 AND b.i <= a.i - 1),
ew AS (
  SELECT event_type, day, x, sum(term) AS s, sum(wt) AS den
  FROM pairs GROUP BY 1, 2, 3),
mo AS (
  SELECT event_type, CAST(count(*) AS DOUBLE) AS nn,
         CAST(sum(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
         CAST(sum(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS qx
  FROM daily GROUP BY 1),
sd AS (
  SELECT event_type,
         sqrt((qx / nn - (sx / nn) * (sx / nn))
              * (nn / (nn - 1.0))) AS sigma
  FROM mo)
SELECT d.event_type, strftime(d.day, '%Y-%m-%d') AS day, d.x,
       floor(CAST(e.s AS DOUBLE) / CAST(e.den AS DOUBLE)
             * 10000.0 + 0.5) / 10000.0 AS ewma_prior,
       COALESCE(abs(CAST(d.x AS DOUBLE)
                    - CAST(e.s AS DOUBLE) / CAST(e.den AS DOUBLE))
                > 3.0 * sd.sigma, FALSE) AS alarm
FROM daily d
LEFT JOIN ew e ON d.event_type = e.event_type AND d.day = e.day
JOIN sd ON d.event_type = sd.event_type
""",
    "stl_decompose_lite": """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         sum(CAST(value AS DECIMAL(38,12))) AS rev_d
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
t AS (
  SELECT event_type, day, CAST(rev_d AS DOUBLE) AS x,
         CASE WHEN count(*) OVER w7 = 7
              THEN CAST(sum(rev_d) OVER w7 AS DOUBLE) / 7.0 END
           AS trend,
         CAST(isodow(day) AS INT) AS dow
  FROM daily
  WINDOW w7 AS (PARTITION BY event_type ORDER BY day
                ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
d AS (SELECT *, x - trend AS detrended FROM t),
s AS (
  SELECT *,
         CAST(sum(CAST(detrended AS DECIMAL(38,12)))
                OVER (PARTITION BY event_type, dow) AS DOUBLE)
           / CAST(count(detrended)
                OVER (PARTITION BY event_type, dow) AS DOUBLE)
           AS seasonal
  FROM d)
SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
       floor(x * 100.0 + 0.5) / 100.0 AS revenue,
       floor(trend * 100.0 + 0.5) / 100.0 AS trend,
       floor(seasonal * 100.0 + 0.5) / 100.0 AS seasonal,
       floor((x - trend - seasonal) * 100.0 + 0.5) / 100.0 AS residual
FROM s
""",
    "rfm_segmentation": """
WITH pc AS (
  SELECT o_custkey, max(o_orderdate) AS last_order,
         CAST(count(*) AS BIGINT) AS freq,
         sum(CAST(o_totalprice AS DECIMAL(38,12))) AS mon
  FROM orders GROUP BY 1),
an AS (SELECT max(o_orderdate) AS anchor FROM orders),
rfm AS (
  SELECT o_custkey,
         CAST(date_diff('day', last_order, anchor) AS INT) AS recency_d,
         freq, mon
  FROM pc, an),
sc AS (
  SELECT *,
         CAST(ntile(5) OVER (ORDER BY recency_d DESC, o_custkey ASC)
              AS INT) AS r_score,
         CAST(ntile(5) OVER (ORDER BY freq ASC, o_custkey ASC)
              AS INT) AS f_score,
         CAST(ntile(5) OVER (ORDER BY mon ASC, o_custkey ASC)
              AS INT) AS m_score
  FROM rfm),
lab AS (
  SELECT *,
         CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
                THEN 'champion'
              WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk'
              WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
              WHEN r_score >= 4 AND f_score <= 2 THEN 'new'
              ELSE 'regular' END AS segment
  FROM sc)
SELECT segment, CAST(count(*) AS BIGINT) AS n_customers,
       floor(CAST(sum(mon) AS DOUBLE) / CAST(count(*) AS DOUBLE)
             * 100.0 + 0.5) / 100.0 AS avg_monetary,
       floor(CAST(sum(CAST(recency_d AS DECIMAL(38,0))) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) * 100.0 + 0.5) / 100.0
         AS avg_recency_d
FROM lab GROUP BY 1
""",
    "gains_lift_table": """
WITH resp AS (
  SELECT DISTINCT o_custkey FROM orders
  WHERE o_orderdate >= DATE '1998-01-01'),
sc AS (
  SELECT c.c_custkey, c.c_acctbal,
         CASE WHEN r.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS label
  FROM customer c LEFT JOIN resp r ON c.c_custkey = r.o_custkey),
dec AS (
  SELECT label,
         CAST(ntile(10) OVER (ORDER BY c_acctbal DESC, c_custkey ASC)
              AS INT) AS decile
  FROM sc),
pd AS (
  SELECT decile, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(label) AS BIGINT) AS n_resp
  FROM dec GROUP BY 1)
SELECT decile, n, n_resp,
       floor(CAST(n_resp AS DOUBLE) / CAST(n AS DOUBLE)
             * 10000.0 + 0.5) / 10000.0 AS resp_rate,
       floor(CAST(sum(n_resp) OVER (ORDER BY decile ROWS BETWEEN
                     UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             / CAST(sum(n_resp) OVER () AS DOUBLE)
             * 10000.0 + 0.5) / 10000.0 AS cum_gain,
       floor((CAST(n_resp AS DOUBLE) / CAST(n AS DOUBLE))
             / (CAST(sum(n_resp) OVER () AS DOUBLE)
                / CAST(sum(n) OVER () AS DOUBLE))
             * 10000.0 + 0.5) / 10000.0 AS lift
FROM pd
""",
    "padding_efficiency_report": f"""
WITH b AS (
  SELECT CAST(CASE WHEN n_tokens <= 64 THEN 64
                   WHEN n_tokens <= 128 THEN 128
                   WHEN n_tokens <= 256 THEN 256
                   WHEN n_tokens <= 512 THEN 512
                   ELSE 1024 END AS INT) AS bucket_cap,
         least(n_tokens, 1024) AS kept,
         CAST(CASE WHEN n_tokens <= 64 THEN 64
                   WHEN n_tokens <= 128 THEN 128
                   WHEN n_tokens <= 256 THEN 256
                   WHEN n_tokens <= 512 THEN 512
                   ELSE 1024 END
              - least(n_tokens, 1024) AS BIGINT) AS pad
  FROM ({_bpe_encode_sql(8)}) enc)
SELECT bucket_cap, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(kept) AS BIGINT) AS total_tokens,
       CAST(sum(pad) AS BIGINT) AS total_padding,
       floor(CAST(sum(kept) AS DOUBLE)
             / CAST(sum(kept) + sum(pad) AS DOUBLE)
             * 10000.0 + 0.5) / 10000.0 AS efficiency
FROM b GROUP BY 1
""",
    "classifier_prf_report": f"""
WITH base AS (
  SELECT lang, text,
    {_lang_hits_sql()}
  FROM documents),
p AS (SELECT lang AS true_lang, {_LANG_PRED_SQL} AS pred_lang
      FROM base),
cm AS (SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n
       FROM p GROUP BY 1, 2),
pt AS (SELECT true_lang AS lang, CAST(sum(n) AS BIGINT) AS n_true,
              CAST(sum(CASE WHEN pred_lang = true_lang THEN n END)
                   AS BIGINT) AS tp_t
       FROM cm GROUP BY 1),
pp AS (SELECT pred_lang AS lang, CAST(sum(n) AS BIGINT) AS n_pred
       FROM cm GROUP BY 1),
jj AS (
  SELECT pt.lang, COALESCE(tp_t, 0) AS tp,
         CAST(COALESCE(n_pred, 0) - COALESCE(tp_t, 0) AS BIGINT)
           AS fp,
         CAST(n_true - COALESCE(tp_t, 0) AS BIGINT) AS fn
  FROM pt LEFT JOIN pp ON pt.lang = pp.lang),
r AS (
  SELECT *,
         CAST(tp AS DOUBLE)
           / nullif(CAST(tp + fp AS DOUBLE), 0.0) AS prec,
         CAST(tp AS DOUBLE)
           / nullif(CAST(tp + fn AS DOUBLE), 0.0) AS rec
  FROM jj)
SELECT lang, tp, fp, fn,
       floor(prec * 10000.0 + 0.5) / 10000.0 AS "precision",
       floor(rec * 10000.0 + 0.5) / 10000.0 AS recall,
       floor(2.0 * prec * rec / nullif(prec + rec, 0.0)
             * 10000.0 + 0.5) / 10000.0 AS f1
FROM r
""",
    "eb_shrunk_rates": """
WITH dim AS (
  SELECT c_custkey, c_mktsegment AS segment, n_name AS nation
  FROM customer JOIN nation ON c_nationkey = n_nationkey),
cells AS (
  SELECT segment, nation, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS x
  FROM events e JOIN dim d ON e.user_id = d.c_custkey
  GROUP BY 1, 2),
rated AS (
  SELECT *, CAST(x AS DOUBLE) / CAST(n AS DOUBLE) AS p FROM cells),
mom AS (
  SELECT CAST(count(*) AS DOUBLE) AS k,
         CAST(sum(CAST(p AS DECIMAL(38,18))) AS DOUBLE) AS s,
         CAST(sum(CAST(p * p AS DECIMAL(38,18))) AS DOUBLE) AS q
  FROM rated),
mm AS (SELECT k, q, s / k AS m FROM mom),
vv AS (SELECT *, (q / k - m * m) * (k / (k - 1.0)) AS v FROM mm),
cc AS (SELECT *, greatest(m * (1.0 - m) / v - 1.0, 1.0) AS com
       FROM vv),
pri AS (SELECT m * com AS alpha, (1.0 - m) * com AS beta FROM cc)
SELECT segment, nation, n, x,
       floor(p * 1000000.0 + 0.5) / 1000000.0 AS raw_rate,
       floor((CAST(x AS DOUBLE) + alpha)
             / (CAST(n AS DOUBLE) + alpha + beta)
             * 1000000.0 + 0.5) / 1000000.0 AS shrunk_rate
FROM rated, pri
""",
    "ab_sequential_monitor": """
WITH d AS (
  SELECT CAST(ts AS DATE) AS day,
         CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 4)
                   < '8000' THEN 'A' ELSE 'B' END AS arm,
         value AS y
  FROM events
  WHERE event_type = 'purchase' AND value IS NOT NULL),
daily AS (
  SELECT day, arm, CAST(count(*) AS DECIMAL(38,6)) AS n,
         sum(CAST(y AS DECIMAL(38,12))) AS s,
         sum(CAST(y * y AS DECIMAL(38,12))) AS q
  FROM d GROUP BY 1, 2),
cum AS (
  SELECT day, arm,
         CAST(sum(n) OVER w AS DOUBLE) AS cn,
         CAST(sum(s) OVER w AS DOUBLE) AS cs,
         CAST(sum(q) OVER w AS DOUBLE) AS cq
  FROM daily
  WINDOW w AS (PARTITION BY arm ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
paired AS (
  SELECT day,
         max(CASE WHEN arm = 'A' THEN cn END) AS na,
         max(CASE WHEN arm = 'A' THEN cs END) AS sa,
         max(CASE WHEN arm = 'A' THEN cq END) AS qa,
         max(CASE WHEN arm = 'B' THEN cn END) AS nb,
         max(CASE WHEN arm = 'B' THEN cs END) AS sb,
         max(CASE WHEN arm = 'B' THEN cq END) AS qb
  FROM cum GROUP BY 1
  HAVING max(CASE WHEN arm = 'A' THEN cn END) > 1
     AND max(CASE WHEN arm = 'B' THEN cn END) > 1),
zz AS (
  SELECT day, na, nb,
         (sa / na - sb / nb)
           / sqrt(((qa / na - (sa / na) * (sa / na))
                   * (na / (na - 1.0))) / na
                  + ((qb / nb - (sb / nb) * (sb / nb))
                     * (nb / (nb - 1.0))) / nb) AS z,
         row_number() OVER (ORDER BY day) AS t,
         count(*) OVER () AS big_t
  FROM paired)
SELECT strftime(day, '%Y-%m-%d') AS day,
       CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       floor(z * 10000.0 + 0.5) / 10000.0 AS z,
       floor(2.5 / sqrt(CAST(t AS DOUBLE) / CAST(big_t AS DOUBLE))
             * 10000.0 + 0.5) / 10000.0 AS boundary,
       abs(z) > 2.5 / sqrt(CAST(t AS DOUBLE) / CAST(big_t AS DOUBLE))
         AS crossed
FROM zz
""",
    "cuped_adjusted_ab": """
WITH pu AS (
  SELECT user_id,
         CAST(COALESCE(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
                  THEN CAST(value AS DECIMAL(38,12)) END), 0)
              AS DOUBLE) AS x,
         CAST(COALESCE(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                  THEN CAST(value AS DECIMAL(38,12)) END), 0)
              AS DOUBLE) AS y,
         CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 4)
                   < '8000' THEN 'A' ELSE 'B' END AS arm
  FROM events
  WHERE event_type = 'purchase' AND value IS NOT NULL
  GROUP BY user_id),
mom AS (
  SELECT CAST(count(*) AS DOUBLE) AS k,
         CAST(sum(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
         CAST(sum(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
         CAST(sum(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(x * y AS DECIMAL(38,12))) AS DOUBLE) AS sxy
  FROM pu),
pri AS (
  SELECT (sxy / k - (sx / k) * (sy / k))
           / (sxx / k - (sx / k) * (sx / k)) AS theta,
         sx / k AS mean_x
  FROM mom),
adj AS (
  SELECT arm, y, y - theta * (x - mean_x) AS y_adj, theta
  FROM pu, pri),
arms AS (
  SELECT arm, CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS s1,
         CAST(sum(CAST(y * y AS DECIMAL(38,12))) AS DOUBLE) AS q1,
         CAST(sum(CAST(y_adj AS DECIMAL(38,12))) AS DOUBLE) AS s2,
         CAST(sum(CAST(y_adj * y_adj AS DECIMAL(38,12))) AS DOUBLE)
           AS q2,
         max(theta) AS theta
  FROM adj GROUP BY arm),
j AS (
  SELECT a.n AS na, a.s1 AS sa1, a.q1 AS qa1, a.s2 AS sa2,
         a.q2 AS qa2, a.theta,
         b.n AS nb, b.s1 AS sb1, b.q1 AS qb1, b.s2 AS sb2,
         b.q2 AS qb2
  FROM (SELECT * FROM arms WHERE arm = 'A') a,
       (SELECT * FROM arms WHERE arm = 'B') b),
w AS (
  SELECT *,
         (qa1 / na - (sa1 / na) * (sa1 / na)) * (na / (na - 1.0))
           AS va1,
         (qb1 / nb - (sb1 / nb) * (sb1 / nb)) * (nb / (nb - 1.0))
           AS vb1,
         (qa2 / na - (sa2 / na) * (sa2 / na)) * (na / (na - 1.0))
           AS va2,
         (qb2 / nb - (sb2 / nb) * (sb2 / nb)) * (nb / (nb - 1.0))
           AS vb2
  FROM j)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       floor(theta * 1000000.0 + 0.5) / 1000000.0 AS theta,
       floor((sa1 / na - sb1 / nb) / sqrt(va1 / na + vb1 / nb)
             * 10000.0 + 0.5) / 10000.0 AS z_raw,
       floor((sa2 / na - sb2 / nb) / sqrt(va2 / na + vb2 / nb)
             * 10000.0 + 0.5) / 10000.0 AS z_cuped,
       floor((1.0 - (va2 + vb2) / (va1 + vb1)) * 10000.0 + 0.5)
         / 10000.0 AS var_reduction
FROM w
""",
    "ab_sample_size_plan": """
WITH pu AS (
  SELECT user_id,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS y
  FROM events
  WHERE event_type = 'purchase' AND value IS NOT NULL
  GROUP BY 1),
mom AS (
  SELECT CAST(count(*) AS DOUBLE) AS k,
         CAST(sum(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS s,
         CAST(sum(CAST(y * y AS DECIMAL(38,12))) AS DOUBLE) AS q
  FROM pu),
base AS (
  SELECT k AS n_users, s / k AS mean_y,
         (q / k - (s / k) * (s / k)) * (k / (k - 1.0)) AS var_y
  FROM mom),
grid AS (
  SELECT n_users, mean_y, var_y,
         unnest([0.01, 0.02, 0.05, 0.1]) AS mde_frac
  FROM base),
calc AS (
  SELECT *, mde_frac * mean_y AS delta,
         ceil(2.0 * var_y * ((1.96 + 0.84) * (1.96 + 0.84))
              / ((mde_frac * mean_y) * (mde_frac * mean_y)))
           AS n_req
  FROM grid)
SELECT floor(mde_frac * 100.0 + 0.5) / 100.0 AS mde_frac,
       floor(delta * 10000.0 + 0.5) / 10000.0 AS delta,
       CAST(n_req AS BIGINT) AS n_required_per_arm,
       CAST(n_users / 2.0 AS BIGINT) AS n_have_per_arm,
       n_users / 2.0 >= CAST(CAST(n_req AS BIGINT) AS DOUBLE)
         AS powered
FROM calc
""",
}
