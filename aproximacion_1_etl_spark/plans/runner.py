"""The E3-equivalent linear driver (SURVEY.md §3): what the reference
spreads over an Airflow DAG of 35 sequential tasks (extract -> 5 Beam
pipelines -> 29 BigQuery stored procedures) collapses here into one
driver program building ONE Catalyst plan per output table.

Role mapping onto the driver testdata (FIXTURES.md §B):
``orders`` = delivery_order_master (wide parent), ``lineitem`` =
packages/items children, ``events`` = events_info child keyed by
user_id (== customer key), dimensions = enrichment lookups.

The chain (mirrors DAG order at ``Composer/DAG_cloudrun_dataflow_sp.py:
323-362``): M1 dedup -> M5/M7 child rollups -> M4 latest-status ->
M10 first-scheduled -> update-by-join passes -> final work table.
All joins are key-equi on the parent key; the child aggregates are
pre-shrunk before joining (|keys| rows, not |child| rows).
"""

from __future__ import annotations

import json
import os
import shutil

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from aproximacion_1_etl_spark.functions.rounding import _fround
from aproximacion_1_etl_spark.operators.refine import (
    child_rollup,
    dedup_latest,
)
from aproximacion_1_etl_spark.sources.tables import load_table


def run_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the delivery_order_work-equivalent table: one row per
    order, enriched with child rollups and latest-event attributes."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    events = load_table(spark, sf_dir, "events")

    # M1: dedup the parent (idempotent re-ingest tolerance)
    master = dedup_latest(
        orders,
        keys=["o_orderkey"],
        order_by=[F.col("o_orderdate").desc(), F.col("o_custkey").desc()],
    )

    # M5/M7: per-order child rollup (packages-per-order analog)
    items = child_rollup(
        lineitem,
        keys=["l_orderkey"],
        aggs={
            "n_items": F.count("*"),
            "sum_qty": F.round(F.sum("l_quantity"), 2),
            "revenue": _fround(
                F.sum(
                    (
                        F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    ).cast("decimal(30,8)")
                ).cast("double"),
                2,
            ),
        },
    )

    # M4 + M10 fused: the reference runs latest-status and
    # first-scheduled as separate UPDATE SPs (DAG:114-136, 248-254);
    # both are per-user aggregates over the same child, so ONE
    # partial-agged shuffle computes them together (max_by with a
    # (ts, id) struct for deterministic latest, min for first) —
    # one events pass and one join instead of two of each.
    ord_key = F.struct(F.col("ts"), F.col("event_id"))
    user_state = events.groupBy("user_id").agg(
        F.max_by("event_type", ord_key).alias("latest_event_type"),
        F.max_by("value", ord_key).alias("latest_value"),
        F.min("ts").alias("scheduled_ts"),
    )

    # Update-by-join passes onto the work table
    work = (
        master.join(items, master["o_orderkey"] == items["l_orderkey"], "left")
        .drop("l_orderkey")
        .join(user_state, master["o_custkey"] == user_state["user_id"], "left")
        .drop("user_id")
    )
    return work.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        F.coalesce("n_items", F.lit(0)).alias("n_items"),
        F.coalesce("sum_qty", F.lit(0.0)).alias("sum_qty"),
        F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
        F.col("latest_event_type"),
        _fround(F.col("latest_value"), 2).alias("latest_value"),
        F.date_format("scheduled_ts", "yyyy-MM-dd HH:mm:ss").alias(
            "first_event_ts"
        ),
    )


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship rollup over the work table: order-lifecycle summary per
    (status, latest event type) — the compact, stable-schema result the
    driver smoke-checks."""
    work = run_daily(spark, sf_dir)
    return (
        work.groupBy("o_orderstatus", "latest_event_type")
        .agg(
            F.count("*").alias("n_orders"),
            _fround(
                F.sum(F.col("revenue").cast("decimal(30,8)")).cast("double"),
                2,
            ).alias("total_revenue"),
            _fround(F.avg("n_items"), 4).alias("avg_items"),
        )
        .orderBy("o_orderstatus", "latest_event_type")
    )


def post_publish_gate(landed: DataFrame) -> tuple[list[dict], list[dict]]:
    """The post-publish data-quality gate (the validation the
    reference's 29-SP chain never does): the metadata sidecar and the
    DQ report of a landed work table, from ONE aggregate collected once.

    Each row rule is a SQL predicate that is true on a violating row;
    ``orderkey_unique``, a set rule, is the fourth. GROUPING SETS over
    one scan: the status set counts each status's orders, those without
    events (``sin_eventos``) and each row rule's violations; the key set
    counts rows per ``o_orderkey``, and the second level turns those
    into the duplicate-key count (null keys form one group, as in
    ``groupBy``). Returns (one record per status, one record per rule).
    The rule counts are summed over the status rows, so an empty table
    has no status records and every rule at 0.
    """
    rules = {
        "orderkey_not_null": "o_orderkey IS NULL",
        "totalprice_positive": "o_totalprice <= 0",
        "n_items_non_negative": "n_items < 0",
    }
    counted = {"sin_eventos": "latest_event_type IS NULL", **rules}
    rows = (
        landed.groupingSets(
            [["o_orderstatus"], ["o_orderkey"]], "o_orderstatus", "o_orderkey"
        )
        .agg(
            F.grouping("o_orderstatus").alias("by_key"),
            F.count("*").alias("total_ordenes"),
            *(F.count(F.when(F.expr(p), 1)).alias(c) for c, p in counted.items()),
        )
        .groupBy("by_key", "o_orderstatus")
        .agg(
            *(F.sum(c).alias(c) for c in ["total_ordenes", *counted]),
            F.count(F.when(F.col("total_ordenes") > 1, 1)).alias("orderkey_unique"),
        )
        .collect()
    )
    meta = [
        {c: r[c] for c in ("o_orderstatus", "total_ordenes", "sin_eventos")}
        for r in rows if not r["by_key"]
    ]
    dq = {rule: sum(r[rule] for r in rows if not r["by_key"]) for rule in rules}
    dq["orderkey_unique"] = sum(r["orderkey_unique"] for r in rows if r["by_key"])
    return meta, [{"rule": k, "n_violations": v} for k, v in dq.items()]


def run_daily_job(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> dict:
    """The full daily-run entry point (E3). What the reference needs
    Airflow + Cloud Run + 5 Dataflow jobs + 29 SPs for (DAG:323-362) is
    this one function. Under ``out_dir`` it lands:

    - ``delivery_order_work/``: the work table as parquet (S7);
    - ``metadata/``: the per-status sidecar, one JSON line per status (S4);
    - ``dq_report/``: one JSON line per data-quality rule with its
      violation count;
    - ``run_summary.json``: the returned summary, i.e. ``rows`` and
      ``statuses`` (both read off the metadata), ``dq_violations`` per
      rule and ``out``, the work table's path.

    After landing, the work table is scanned once, by
    ``post_publish_gate``. The few rows it collects are written with
    plain file I/O, and each directory is replaced, not appended to.
    """
    work = run_daily(spark, sf_dir)
    work_path = os.path.join(out_dir, "delivery_order_work")
    work.write.mode("overwrite").parquet(work_path)

    # the schema is known, so reading it back starts no footer-read job
    meta, dq = post_publish_gate(spark.read.schema(work.schema).parquet(work_path))
    for name, records in (("metadata", meta), ("dq_report", dq)):
        shutil.rmtree(os.path.join(out_dir, name), ignore_errors=True)
        os.makedirs(os.path.join(out_dir, name))
        with open(os.path.join(out_dir, name, "part-00000.json"), "w") as f:
            f.writelines(json.dumps(r) + "\n" for r in records)

    summary = {
        "rows": sum(r["total_ordenes"] for r in meta),
        "statuses": len(meta),
        "dq_violations": {r["rule"]: r["n_violations"] for r in dq},
        "out": work_path,
    }
    with open(os.path.join(out_dir, "run_summary.json"), "w") as f:
        json.dump(summary, f)
    return summary


def main() -> None:
    import argparse

    from aproximacion_1_etl_spark.session import get_spark

    ap = argparse.ArgumentParser(description="Run the daily work-table build")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    spark = get_spark("daily-runner")
    spark.sparkContext.setLogLevel("ERROR")
    print(json.dumps(run_daily_job(spark, args.sf_dir, args.out)))


if __name__ == "__main__":
    main()
