"""Refinement chain (SURVEY.md §2.4, M1-M14) — the Spark forms of the
reference's ~29 sequential BigQuery stored procedures
(``Composer/DAG_cloudrun_dataflow_sp.py:90-362``): dedup -> merge-upsert
-> derive work table -> column-update passes -> ranked-visit passes.

Every function is pure DataFrame -> DataFrame, keyed on the parent key,
so the whole chain is one Catalyst plan per output instead of 29
sequential warehouse jobs. Scale posture:

- dedup and n-th-event use one ``row_number`` window partitioned by the
  key (single shuffle, AQE-skew-handled);
- all update-by-join passes join child *aggregates* (pre-shrunk by a
  partial-agg groupBy) to the parent — the join input is |keys|, not
  |child rows|;
- merge-upsert is a full-outer join + schema-driven per-column coalesce
  (no MERGE on vanilla parquet; SURVEY.md §7 hard parts).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window


def dedup_latest(
    df: DataFrame, keys: list[str], order_by: list[Column]
) -> DataFrame:
    """M1 (`delete_duplicates`): keep one row per key, latest first.

    ``order_by`` must be deterministic (include a unique tiebreaker) so
    results are stable across partitionings. row_number over a
    key-partitioned window = one shuffle on the key.
    """
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def merge_upsert(master: DataFrame, updates: DataFrame, keys: list[str]) -> DataFrame:
    """M2 (`merge_temp_master`): upsert — insert new keys, update existing
    (update wins), schema-driven over all non-key columns.

    full_outer join on the key + per-column ``coalesce(update, master)``.
    At scale this is one co-partitioned shuffle join; with a table format
    that supports MERGE (Delta/Iceberg) swap the implementation, the
    call-site contract is identical.
    """
    value_cols = [c for c in master.columns if c not in keys]
    if set(updates.columns) != set(master.columns):
        missing = set(master.columns) - set(updates.columns)
        raise ValueError(f"updates missing columns: {sorted(missing)}")
    m = master.alias("m")
    u = updates.alias("u")
    return m.join(u, on=keys, how="full_outer").select(
        *[F.col(k) for k in keys],
        *[
            F.coalesce(F.col(f"u.{c}"), F.col(f"m.{c}")).alias(c)
            for c in value_cols
        ],
    )


def merge_upsert_evolve(
    master: DataFrame, updates: DataFrame, keys: list[str]
) -> DataFrame:
    """M2 variant with schema evolution: ``updates`` may carry columns
    the master lacks (and vice versa) — the merged output has the union
    schema, with NULL where a side never had the column. This is the
    append-only schema-drift story (S8) applied to the upsert path: at
    100 TB you cannot rewrite history to add a column, so the merge
    must widen on the fly (what Delta calls mergeSchema).
    """
    m_missing = [c for c in updates.columns if c not in master.columns]
    u_missing = [c for c in master.columns if c not in updates.columns]
    m = master
    u = updates
    for c in m_missing:
        m = m.withColumn(c, F.lit(None).cast(dict(updates.dtypes)[c]))
    for c in u_missing:
        u = u.withColumn(c, F.lit(None).cast(dict(master.dtypes)[c]))
    return merge_upsert(m, u.select(*m.columns), keys)


def merge_upsert_delete(
    master: DataFrame,
    changes: DataFrame,
    keys: list[str],
    op_col: str = "op",
) -> DataFrame:
    """CDC-style merge: ``changes`` carries an ``op_col`` of 'U'
    (upsert) or 'D' (delete). Deletes drop the key from the result;
    upserts follow merge_upsert semantics (update wins, inserts
    survive).

    Same single full-outer co-partitioned join as merge_upsert — the
    delete is a post-join filter, not a second pass. This is the
    WHEN MATCHED AND op='D' THEN DELETE arm of a warehouse MERGE,
    expressed on vanilla parquet."""
    value_cols = [c for c in master.columns if c not in keys]
    m = master.alias("m")
    u = changes.alias("u")
    joined = m.join(u, on=keys, how="full_outer")
    # a key is dropped iff the change side says 'D'; master-only rows
    # (op null) and upserts survive
    kept = joined.filter(
        F.col(f"u.{op_col}").isNull() | (F.col(f"u.{op_col}") != "D")
    )
    return kept.select(
        *[F.col(k) for k in keys],
        *[
            F.coalesce(F.col(f"u.{c}"), F.col(f"m.{c}")).alias(c)
            for c in value_cols
        ],
    )


def merge_partial_rollup(
    base: DataFrame,
    delta: DataFrame,
    keys: list[str],
    sum_cols: list[str],
    count_col: str | None = None,
) -> DataFrame:
    """Incremental aggregate maintenance: fold a delta batch's partial
    rollup into an existing rollup WITHOUT rescanning history.

    Both inputs carry re-aggregatable partials (sums/counts) keyed by
    ``keys``; the merge is unionByName + one groupBy summing each
    partial — cost proportional to |delta| + |affected keys|, never to
    the historical fact table. avg/ratio metrics must be stored as
    (sum, count) pairs and derived at read time (averages are not
    re-aggregatable). This is what replaces the reference's daily
    full-recompute SP chain (DAG:323-362) once the corpus no longer
    fits a nightly rescan.

    RETRACTIONS (Z-set style): a CDC delete enters as a delta row with
    NEGATED partials (count -1, sums negated); the sum-merge algebra
    absorbs them. Pass ``count_col`` naming the row-count partial and
    keys whose merged count reaches zero are DROPPED, keeping the
    maintained rollup row-identical to a full recompute that never saw
    the deleted facts (without the drop, a fully-retracted key would
    linger as a zero row no recompute produces)."""
    merged = base.unionByName(delta, allowMissingColumns=False)
    out = merged.groupBy(*keys).agg(
        *[F.sum(c).alias(c) for c in sum_cols]
    )
    if count_col is not None:
        if count_col not in sum_cols:
            raise ValueError(
                f"count_col {count_col!r} must be one of sum_cols"
            )
        out = out.filter(F.col(count_col) != 0)
    return out


def _propagate_dim_attrs(
    kept: DataFrame,
    dim_upserts: DataFrame,
    join_key: str,
    dim_attrs: list[str],
) -> DataFrame:
    """Overwrite ``dim_attrs`` on ``kept`` rows whose ``join_key``
    appears in ``dim_upserts`` (broadcast LEFT join — map-side). Match
    detection uses an explicit hit flag, NOT coalesce — an upsert that
    legitimately NULLs an attribute must propagate (a coalesce would
    silently keep the stale non-null value and diverge from a full
    recompute)."""
    upd = dim_upserts.select(
        join_key,
        F.lit(True).alias("_dim_hit"),
        *[F.col(a).alias(f"_new_{a}") for a in dim_attrs],
    )
    kept = kept.join(F.broadcast(upd), join_key, "left")
    for a in dim_attrs:
        kept = kept.withColumn(
            a,
            F.when(F.col("_dim_hit"), F.col(f"_new_{a}")).otherwise(
                F.col(a)
            ),
        ).drop(f"_new_{a}")
    return kept.drop("_dim_hit")


def maintain_join_view(
    view: DataFrame,
    fact_changes: DataFrame,
    dim_current: DataFrame,
    dim_changes: DataFrame,
    fact_key: str,
    join_key: str,
    op_col: str = "op",
    dim_op_col: str | None = None,
) -> DataFrame:
    """Incremental maintenance of a denormalized fact-JOIN-dim view
    (classic delta-rule IVM, the join sibling of
    ``merge_partial_rollup``): fold CDC deltas into a materialized
    ``view`` = fact INNER JOIN dim ON fact.join_key = dim.join_key
    WITHOUT re-joining history.

    Inputs: ``view`` (one row per ``fact_key``: fact columns + dim
    attribute columns), ``fact_changes`` (fact-schema rows + ``op_col``
    of 'U' upsert / 'D' delete), ``dim_current`` (the dim AFTER its
    changes were applied — what new fact rows must join against) and
    ``dim_changes`` (only the changed dim rows; upserts, plus deletes
    when ``dim_op_col`` names a 'U'/'D' column in it). Delta rules:

    1. rows of ``view`` whose ``fact_key`` appears in ``fact_changes``
       are dropped (broadcast ANTI join — the delta is small, the view
       is never shuffled);
    2. dim DELETES drop every surviving view row carrying the deleted
       ``join_key`` (broadcast ANTI join — inner-join semantics: no
       dim row, no view row);
    3. surviving rows whose ``join_key`` appears in the dim upserts
       take the NEW dim attribute values (broadcast LEFT join +
       per-column overwrite — again map-side);
    4. 'U' fact rows are joined against ``dim_current`` (small-side
       shuffle or broadcast, |delta| not |view|) and unioned back —
       ``dim_current`` must already exclude deleted dim keys.

    Scale posture: the materialized view — the one input proportional
    to history — is touched only by BROADCAST joins and a union: zero
    shuffles of the big side, cost O(|view|) map work + O(|delta|
    join dim).

    PRECONDITION: each changes batch carries at most ONE row per key
    (fact_changes per ``fact_key``, dim_changes per ``join_key``) —
    the usual CDC compaction; a raw multi-event feed must be reduced
    to final images first (``dedup_latest`` on the event order).
    Duplicate keys would multiply view rows through the joins below.

    Inner-join semantics throughout: a 'U' fact whose join_key has no
    dim row drops out of the view — and is NOT resurrected if that
    dim key arrives later (this function keeps no memory of dropped
    facts). When early-arriving facts are possible, use
    ``maintain_join_view_full``, which carries them in an explicit
    orphan relation and promotes them when their dim key appears.

    Replaces the reference's nightly full re-join of master x dims
    (`Composer/DAG_cloudrun_dataflow_sp.py:137-192`) once the fact
    table no longer fits a nightly rescan.
    """
    fact_cols = [c for c in fact_changes.columns if c != op_col]
    dim_attrs = [
        c for c in dim_changes.columns if c not in (join_key, dim_op_col)
    ]
    if set(view.columns) != set(fact_cols) | set(dim_attrs):
        raise ValueError(
            "view schema must be fact columns + dim attribute columns; "
            f"got {sorted(view.columns)}"
        )
    touched = fact_changes.select(fact_key)
    kept = view.join(F.broadcast(touched), fact_key, "left_anti")

    if dim_op_col is not None:
        dim_deleted = dim_changes.filter(
            F.col(dim_op_col) == "D"
        ).select(join_key)
        kept = kept.join(F.broadcast(dim_deleted), join_key, "left_anti")
        dim_changes = dim_changes.filter(F.col(dim_op_col) != "D")

    kept = _propagate_dim_attrs(kept, dim_changes, join_key, dim_attrs)

    # refreshed fact rows join the POST-change dim (inner: facts with
    # no dim row vanish, matching the view's definition)
    refreshed = (
        fact_changes.filter(F.col(op_col) == "U")
        .select(*fact_cols)
        .join(dim_current, join_key, "inner")
    )
    return kept.select(*view.columns).unionByName(
        refreshed.select(*view.columns)
    )


def maintain_join_view_full(
    view: DataFrame,
    orphans: DataFrame,
    fact_changes: DataFrame,
    dim_current: DataFrame,
    dim_changes: DataFrame,
    fact_key: str,
    join_key: str,
    op_col: str = "op",
    dim_op_col: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """``maintain_join_view`` with FULL recompute equality under
    out-of-order CDC: live facts whose ``join_key`` currently has no
    dim row are carried in an explicit ``orphans`` relation (fact
    columns only) instead of being forgotten, and are PROMOTED into
    the view the moment their dim key arrives. Returns the pair
    ``(view', orphans')``; the two key sets partition the live facts,
    so ``view'`` always equals ``facts INNER JOIN dim`` recomputed
    from scratch — including after a dim key is deleted (its view
    rows demote to orphans) and later re-inserted (they promote
    back).

    Same one-row-per-key-per-batch precondition and broadcast
    posture as ``maintain_join_view``: view and orphans are touched
    by broadcast joins and unions only; every join's build side is a
    CDC delta. The orphan relation is bounded by the out-of-order
    window (facts referencing never-to-arrive dims should be expired
    by the caller's retention policy)."""
    fact_cols = [c for c in fact_changes.columns if c != op_col]
    dim_attrs = [
        c for c in dim_changes.columns if c not in (join_key, dim_op_col)
    ]
    if set(view.columns) != set(fact_cols) | set(dim_attrs):
        raise ValueError(
            "view schema must be fact columns + dim attribute columns; "
            f"got {sorted(view.columns)}"
        )
    if set(orphans.columns) != set(fact_cols):
        raise ValueError(
            f"orphans schema must be fact columns; got "
            f"{sorted(orphans.columns)}"
        )
    touched = fact_changes.select(fact_key)
    kept_view = view.join(F.broadcast(touched), fact_key, "left_anti")
    kept_orph = orphans.join(F.broadcast(touched), fact_key, "left_anti")

    if dim_op_col is not None:
        dim_deleted = dim_changes.filter(
            F.col(dim_op_col) == "D"
        ).select(join_key)
        # inner-join semantics, but the FACTS still exist: demote the
        # deleted dim's view rows to orphans so a re-inserted dim key
        # restores them
        demoted = kept_view.join(
            F.broadcast(dim_deleted), join_key, "inner"
        ).select(*fact_cols)
        kept_view = kept_view.join(
            F.broadcast(dim_deleted), join_key, "left_anti"
        )
        dim_upserts = dim_changes.filter(F.col(dim_op_col) != "D")
    else:
        demoted = orphans.limit(0)
        dim_upserts = dim_changes

    kept_view = _propagate_dim_attrs(
        kept_view, dim_upserts, join_key, dim_attrs
    )

    # orphan promotion: the arrived dim row supplies the attributes
    promoted = kept_orph.join(
        F.broadcast(dim_upserts.select(join_key, *dim_attrs)),
        join_key,
        "inner",
    )
    kept_orph = kept_orph.join(
        F.broadcast(dim_upserts.select(join_key)), join_key, "left_anti"
    )

    refreshed = fact_changes.filter(F.col(op_col) == "U").select(
        *fact_cols
    )
    matched = refreshed.join(dim_current, join_key, "inner")
    unmatched = refreshed.join(
        dim_current.select(join_key), join_key, "left_anti"
    )

    view_out = (
        kept_view.select(*view.columns)
        .unionByName(promoted.select(*view.columns))
        .unionByName(matched.select(*view.columns))
    )
    orph_out = (
        kept_orph.select(*orphans.columns)
        .unionByName(demoted.select(*orphans.columns))
        .unionByName(unmatched.select(*orphans.columns))
    )
    return view_out, orph_out


def latest_child_attrs(
    child: DataFrame,
    keys: list[str],
    attrs: list[str],
    ts_col: str,
    tiebreak: str,
) -> DataFrame:
    """M4 (`update_..._work_status`/`_lob` core): per key, the attribute
    values of the latest child row.

    max_by with a composite deterministic ordering (ts, tiebreak) — a
    single hash aggregation with map-side partial aggregation, cheaper
    than a row_number window (no sort of the full child set).
    """
    order = F.struct(F.col(ts_col), F.col(tiebreak))
    return child.groupBy(*keys).agg(
        *[F.max_by(F.col(a), order).alias(f"latest_{a}") for a in attrs]
    )


def child_rollup(
    child: DataFrame, keys: list[str], aggs: dict[str, Column]
) -> DataFrame:
    """M5/M7 (`update_..._work_packages`/`_total`): per-key rollup of a
    child table (counts, sums, bool-status counts). Partial aggregation
    shrinks map-side; only the per-key partials shuffle."""
    return child.groupBy(*keys).agg(*[c.alias(n) for n, c in aggs.items()])


def nth_event(
    child: DataFrame, keys: list[str], ts_col: str, tiebreak: str, n: int
) -> DataFrame:
    """M8 (`insert_table_temp(n)`): the n-th child row per key in event
    order; n=0 means the last (the reference's 'remaining/last visit'
    convention, DAG:193-246)."""
    asc = [F.col(ts_col).asc(), F.col(tiebreak).asc()]
    desc = [F.col(ts_col).desc(), F.col(tiebreak).desc()]
    w = Window.partitionBy(*keys).orderBy(*(desc if n == 0 else asc))
    pick = 1 if n == 0 else n
    return (
        child.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == pick)
        .drop("_rn")
    )


def visit_order(
    child: DataFrame, keys: list[str], ts_col: str, tiebreak: str
) -> DataFrame:
    """M11 (`insert_delivery_order_visit_order`): materialized visit
    ranking (key, visit_rank, visit ts)."""
    w = Window.partitionBy(*keys).orderBy(F.col(ts_col).asc(), F.col(tiebreak).asc())
    return child.withColumn("visit_rank", F.row_number().over(w))


def visit_columns(
    child: DataFrame,
    keys: list[str],
    ts_col: str,
    tiebreak: str,
    attrs: list[str],
    n_visits: int = 3,
) -> DataFrame:
    """M9 (`update_..._work_visit(n)` x3): pivot the first ``n_visits``
    child rows per key into wide ``visit_{n}_{attr}`` columns — what the
    reference does with 3 sequential UPDATE SPs (DAG:201-238) collapses
    into ONE ranked window + ONE conditional aggregation (single
    shuffle on the key, no pivot-table second shuffle)."""
    w = Window.partitionBy(*keys).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak).asc()
    )
    ranked = child.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= n_visits
    )
    aggs = []
    for n in range(1, n_visits + 1):
        for a in [ts_col, *attrs]:
            aggs.append(
                F.max(F.when(F.col("_rn") == n, F.col(a))).alias(
                    f"visit_{n}_{a}"
                )
            )
    return ranked.groupBy(*keys).agg(*aggs)


def first_scheduled(child: DataFrame, keys: list[str], ts_col: str) -> DataFrame:
    """M10 (`update_..._work_scheduled`): earliest schedule event per key."""
    return child.groupBy(*keys).agg(F.min(ts_col).alias("scheduled_ts"))


def scd2_history(
    changes: DataFrame,
    keys: list[str],
    ts_col: str,
    tiebreak: str,
    attrs: list[str],
) -> DataFrame:
    """Slowly-changing-dimension type-2 history: turn a change stream
    into validity intervals [valid_from, valid_to) per key, current row
    marked with NULL valid_to.

    The reference keeps only the latest state (its master table is
    UPDATE-d in place, `Case Study Documentation (English).md:129`);
    SCD2 is the auditable superset an analytics engine needs. One
    window (lead over the key's time order) — a single shuffle on the
    key; no self-join."""
    w = Window.partitionBy(*keys).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak).asc()
    )
    return changes.select(
        *keys,
        *attrs,
        F.col(ts_col).alias("valid_from"),
        F.lead(F.col(ts_col)).over(w).alias("valid_to"),
        (F.lead(F.col(ts_col)).over(w).isNull()).alias("is_current"),
    )
