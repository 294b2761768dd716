"""End-to-end smoke on the driver testdata: flagship plan, streaming
ingest, and the __spark_entry__ contract surface."""

import os
import sys

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
    # 19 jobs as measured: the post-publish metadata and DQ each scan
    # the landed table once; a rescan or a Python-row round-trip would
    # push the count back up
    assert len(jobs) <= 19
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
