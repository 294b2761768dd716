"""End-to-end smoke on the driver testdata: flagship plan, streaming
ingest, and the __spark_entry__ contract surface."""

import os
import sys

import pyspark.sql.functions as F
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from aproximacion_1_etl_spark.plans.runner import flagship, run_daily
from aproximacion_1_etl_spark.streaming.events import run_available_now


def test_run_daily_work_table(spark, sf_dir):
    work = run_daily(spark, sf_dir)
    assert work.count() > 0
    # one row per order, children rolled up, no duplicate keys
    keys = work.select("o_orderkey").distinct().count()
    assert keys == work.count()


def test_flagship_smoke(spark, sf_dir):
    out = flagship(spark, sf_dir)
    rows = out.collect()
    assert len(rows) > 0
    assert set(out.columns) == {
        "o_orderstatus", "latest_event_type", "n_orders",
        "total_revenue", "avg_items",
    }


def test_entry_contract(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0


def test_queries_oracle_keys_align(spark):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    # every key is value-oracled as of round 3: the approximate-sketch
    # queries hash exact-value + bound-check booleans, and pagerank's
    # decimal-cast sums made the iterative ranks engine-portable
    rows_only = set(qs) - set(oracles)
    assert rows_only == set()


def test_streaming_available_now(spark, sf_dir):
    out = run_available_now(spark, sf_dir, "1 day", glob="events.parquet")
    rows = out.collect()
    assert len(rows) > 0
    assert {"window_start", "event_type", "n_events", "sum_value"} == set(
        out.columns
    )


def test_run_daily_job_lands_outputs(spark, sf_dir, tmp_path, monkeypatch):
    from pyspark.sql import SparkSession

    from aproximacion_1_etl_spark.plans.runner import run_daily_job

    def no_python_rows(*args, **kwargs):
        raise AssertionError("createDataFrame starts a Python worker")

    out = str(tmp_path / "daily")
    sc = spark.sparkContext
    group = "run-daily-job"
    sc.setJobGroup(group, group)
    try:
        with monkeypatch.context() as m:
            m.setattr(SparkSession, "createDataFrame", no_python_rows)
            summary = run_daily_job(spark, sf_dir, out)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # 12 jobs as measured: the post-publish metadata and DQ come from
    # one two-level aggregate over the landed table (3 jobs); a second
    # scan, a Spark JSON write or a Python-row round-trip would push the
    # count back up
    assert len(jobs) <= 12
    assert summary["rows"] > 0
    landed = spark.read.parquet(os.path.join(out, "delivery_order_work"))
    assert landed.count() == summary["rows"]
    meta = spark.read.json(os.path.join(out, "metadata"))
    assert meta.count() == summary["statuses"]
    # the post-publish DQ gate ran, landed a report, and found a clean table
    dq = {r["rule"]: r["n_violations"] for r in
          spark.read.json(os.path.join(out, "dq_report")).collect()}
    assert dq == summary["dq_violations"]
    assert set(dq) == {"orderkey_not_null", "totalprice_positive",
                       "n_items_non_negative", "orderkey_unique"}
    assert all(v == 0 for v in dq.values())


def _reference_gate(landed):
    """The gate's records computed rule by rule, as the quality helpers
    and a per-status ``groupBy`` give them: ({status: (total_ordenes,
    sin_eventos)}, {rule: n_violations})."""
    from aproximacion_1_etl_spark.functions.quality import (
        row_rule_violations,
        unique_violations,
    )

    meta = landed.groupBy("o_orderstatus").agg(
        F.count("*").alias("total_ordenes"),
        F.count(F.when(F.col("latest_event_type").isNull(), 1)).alias(
            "sin_eventos"
        ),
    )
    dq = row_rule_violations(
        landed,
        {
            "orderkey_not_null": F.col("o_orderkey").isNull(),
            "totalprice_positive": F.col("o_totalprice") <= 0,
            "n_items_non_negative": F.col("n_items") < 0,
        },
    ).unionByName(unique_violations(landed, ["o_orderkey"], "orderkey_unique"))
    return (
        {r[0]: (r[1], r[2]) for r in meta.collect()},
        {r["rule"]: r["n_violations"] for r in dq.collect()},
    )


_GATE_SCHEMA = (
    "o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE, "
    "n_items BIGINT, latest_event_type STRING"
)
_CLEAN = [(1, "O", 10.0, 2, "created"), (2, "F", 20.0, 1, "paid"),
          (3, "F", 5.0, 0, "created")]
# case -> (landed rows, the non-zero counts the planted fault must give)
_GATE_CASES = {
    "dup_key_two_statuses": (_CLEAN + [(1, "P", 7.0, 1, "paid")],
                             {"orderkey_unique": 1}),
    "two_null_keys": (_CLEAN + [(None, "O", 1.0, 1, "paid"),
                                (None, "P", 2.0, 1, "paid")],
                      {"orderkey_unique": 1, "orderkey_not_null": 2}),
    "price_not_positive": (_CLEAN + [(4, "O", 0.0, 1, "paid")],
                           {"totalprice_positive": 1}),
    "negative_items": (_CLEAN + [(5, "P", 3.0, -1, "paid")],
                       {"n_items_non_negative": 1}),
    "no_events": (_CLEAN + [(6, "O", 3.0, 1, None)], {"sin_eventos": 1}),
    "empty": ([], {}),
}


@pytest.mark.parametrize("case", sorted(_GATE_CASES))
def test_post_publish_gate_counts_planted_faults(spark, case):
    from aproximacion_1_etl_spark.plans.runner import post_publish_gate

    rows, planted = _GATE_CASES[case]
    landed = spark.createDataFrame(rows, _GATE_SCHEMA)
    meta, dq = post_publish_gate(landed)
    got_meta = {
        r["o_orderstatus"]: (r["total_ordenes"], r["sin_eventos"]) for r in meta
    }
    got_dq = {r["rule"]: r["n_violations"] for r in dq}
    assert len(got_meta) == len(meta)
    assert (got_meta, got_dq) == _reference_gate(landed)
    counts = {**got_dq, "sin_eventos": sum(n for _, n in got_meta.values())}
    assert {k: v for k, v in counts.items() if v} == planted


def test_run_daily_job_replaces_sidecars(spark, sf_dir, tmp_path):
    from aproximacion_1_etl_spark.plans.runner import run_daily_job

    out = str(tmp_path / "daily")
    run_daily_job(spark, sf_dir, out)
    stale = {
        "metadata": '{"o_orderstatus": "X", "total_ordenes": 1, "sin_eventos": 0}',
        "dq_report": '{"rule": "stale_rule", "n_violations": 7}',
    }
    for name, line in stale.items():
        with open(os.path.join(out, name, "part-99999-stale.json"), "w") as f:
            f.write(line + "\n")
    summary = run_daily_job(spark, sf_dir, out)
    meta = spark.read.json(os.path.join(out, "metadata")).collect()
    dq = spark.read.json(os.path.join(out, "dq_report")).collect()
    assert len(meta) == summary["statuses"] and len(dq) == 4
    want_meta, want_dq = _reference_gate(spark.read.parquet(summary["out"]))
    assert {
        r["o_orderstatus"]: (r["total_ordenes"], r["sin_eventos"]) for r in meta
    } == want_meta
    assert {r["rule"]: r["n_violations"] for r in dq} == want_dq
