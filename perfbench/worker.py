"""One benchmark process: a fresh Python interpreter and a fresh JVM.

    python3 perfbench/worker.py CONFIG.json

``run.py`` writes the config and reads back the result file it names.
The config's ``workload`` is a benchmark workload (set up, then run its
timed body and output checks) or ``reference`` (compute the hash of
``run_daily`` over the daily tables, which ``spec.DAILY_REFERENCE``
records). Set-up runs from process start to the first timed call:
session start, fixture check and, for ``analytics_session``, the
warm-up pass. With ``setup_only`` the worker stops there. With
``trace`` on, the session writes a plain-JSON Spark event log and every span sets
the Spark job group; after the session stops the log is attributed to
the spans.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import spec  # noqa: E402
from spans import Span, Tracer, attribute, parse_event_log  # noqa: E402

ORDERS_DDL = (
    "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
    "o_totalprice DOUBLE, o_orderdate STRING, o_orderpriority STRING, "
    "items_json STRING, events_info_json STRING"
)
ITEM_DDL = (
    "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, "
    "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, "
    "l_returnflag STRING, l_linestatus STRING, l_shipdate STRING"
)
EVENT_DDL = (
    "event_id BIGINT, ts STRING, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)


def noop(df) -> None:
    """Materialize every output column without keeping the result."""
    df.write.format("noop").mode("overwrite").save()


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def table_hash(df) -> list:
    """Order-insensitive multiset hash: row count and sum of row hashes."""
    import pyspark.sql.functions as F

    h = F.xxhash64(*[F.col(c) for c in sorted(df.columns)]).cast("decimal(38,0)")
    row = df.agg(F.count(F.lit(1)), F.sum(h)).first()
    return [int(row[0]), str(row[1])]


def start_session(cfg: dict):
    from aproximacion_1_etl_spark.session import get_spark

    tmp = cfg["tmp_dir"]
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if cfg["trace"]:
        os.makedirs(cfg["event_dir"], exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": cfg["event_dir"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(
        f"perfbench-{cfg['workload']}", master=f"local[{spec.CORES}]", extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def check_fixture(cfg: dict) -> None:
    from aproximacion_1_etl_spark.sources.tables import TABLES

    for t in TABLES:
        if not os.path.isfile(os.path.join(cfg["tables_dir"], f"{t}.parquet")):
            raise FileNotFoundError(f"fixture table {t} missing")
    if cfg["workload"] == "daily_etl":
        days = glob.glob(os.path.join(cfg["landing_dir"], "*", "*.json"))
        if len(days) < 2 * cfg["manifest"]["days"]:
            raise FileNotFoundError("landing zone incomplete")


# -- daily_etl --------------------------------------------------------------


def daily_body(spark, cfg: dict, tr: Tracer) -> dict:
    """The paper's daily run: JSON landing zone -> ingest -> explode to
    parquet staging -> refinement chain, land, metadata and DQ."""
    import pyspark.sql.functions as F

    from aproximacion_1_etl_spark.operators.explode import explode_json_array
    from aproximacion_1_etl_spark.plans.runner import run_daily_job
    from aproximacion_1_etl_spark.sources.json_ingest import (
        read_day_files,
        split_corrupt,
    )

    work = cfg["work_dir"]
    staging = os.path.join(work, "staging")
    with tr.span(spec.INGEST):
        raw = read_day_files(spark, os.path.join(cfg["landing_dir"], "*"), ORDERS_DDL)
        clean, corrupt = split_corrupt(raw)
        corrupt_rows = corrupt.count()
        rows_in = clean.count()
    with tr.span(spec.EXPLODE):
        orders = clean.select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            F.col("o_orderdate").cast("timestamp").alias("o_orderdate"),
            "o_orderpriority",
        )
        items = explode_json_array(clean, "items_json", ITEM_DDL, []).withColumn(
            "l_shipdate", F.col("l_shipdate").cast("timestamp")
        )
        events = explode_json_array(clean, "events_info_json", EVENT_DDL, []).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        for name, df in (("orders", orders), ("lineitem", items), ("events", events)):
            df.write.mode("overwrite").parquet(os.path.join(staging, f"{name}.parquet"))
    with tr.span(spec.RUNNER):
        summary = run_daily_job(spark, staging, os.path.join(work, "out"))
    return {"corrupt_rows": corrupt_rows, "rows_in": rows_in, "summary": summary}


def daily_checks(cfg: dict, out: dict, landed: list) -> list[str]:
    """Every failed output check of one daily job, as text."""
    m = cfg["manifest"]
    errors = []
    if out["corrupt_rows"] != m["corrupt_files"]:
        errors.append(f"corrupt rows {out['corrupt_rows']} != {m['corrupt_files']}")
    if out["rows_in"] != m["orders"]:
        errors.append(f"ingested {out['rows_in']} rows != {m['orders']} orders")
    bad_dq = {k: v for k, v in out["summary"]["dq_violations"].items() if v}
    if bad_dq or not out["summary"]["dq_violations"]:
        errors.append(f"dq rules failing: {bad_dq}")
    if landed != spec.DAILY_REFERENCE:
        errors.append(f"landed table hash {landed} != run_daily {spec.DAILY_REFERENCE}")
    return errors


def run_daily_etl(spark, cfg: dict, tr: Tracer, res: dict) -> None:
    res["setup_s"] = time.time() - cfg["t_spawn"]
    if cfg["setup_only"]:
        return
    res["attempted"] = 1
    t0 = time.time()
    with tr.span("daily_etl"):
        try:
            out = daily_body(spark, cfg, tr)
        except Exception as e:  # a failed job is counted, not fatal
            out = None
            res["errors"].append(f"daily job raised: {e!r}"[:500])
    res["wall_s"] = time.time() - t0
    if out is None:
        res["failed"] = 1
        return
    res["rows_out"] = out["rows_in"]
    res["corrupt_rows"] = out["corrupt_rows"]
    with tr.span("check"):
        landed = table_hash(spark.read.parquet(out["summary"]["out"]))
        errors = daily_checks(cfg, out, landed)
    res["errors"] += errors
    res["failed"] = 1 if errors else 0


# -- analytics_session --------------------------------------------------------


def run_analytics(spark, cfg: dict, tr: Tracer, res: dict) -> None:
    """A warm-up pass that collects every key and checks it against its
    oracle (the first consumer of the IVF codebook builds it here); it
    ends set-up. Then timed warm passes over the same keys until at
    least ``MIN_PASSES`` passes and ``--seconds`` of timing (a traced
    run times ``TRACE_PASSES``). ``wall_s`` adds up each key's median
    call."""
    from aproximacion_1_etl_spark.oracles import ALL_ORACLES
    from aproximacion_1_etl_spark.queries import ALL_QUERIES

    from oracle import OracleCache, compare

    oracles = OracleCache(cfg["tables_dir"], cfg["oracle_dir"])
    sf = cfg["tables_dir"]
    keys = cfg["keys"]
    bad: set[str] = set()
    t0 = time.time()
    with tr.span("warmup"):
        for key in keys:
            with tr.span(f"warmup.{key}"):
                try:
                    df = ALL_QUERIES[key](spark, sf)
                    err = compare(oracles.expected(ALL_ORACLES[key]), df.columns,
                                  [tuple(r) for r in df.collect()])
                except Exception as e:  # counted as a failed op, not fatal
                    err = f"raised {e!r}"[:500]
            if err:
                bad.add(key)
                res["errors"].append(f"{key}: {err}")
    res["warmup_s"] = time.time() - t0
    res["setup_s"] = time.time() - cfg["t_spawn"]
    oracles.close()
    if cfg["setup_only"]:
        return

    passes: list[float] = []
    calls: dict[str, list[float]] = {k: [] for k in keys}
    min_passes = cfg.get("passes", spec.MIN_PASSES)
    max_passes = cfg.get("passes", spec.MAX_PASSES)
    with tr.span("timed"):
        while len(passes) < min_passes or (
            sum(passes) < cfg["seconds"] and len(passes) < max_passes
        ):
            t = time.time()
            for key in keys:
                with tr.span(spec.key_span(key, len(passes) + 1)) as s:
                    try:
                        noop(ALL_QUERIES[key](spark, sf))
                    except Exception as e:
                        bad.add(key)
                        res["errors"].append(f"{key} raised {e!r}"[:500])
                calls[key].append(s.wall)
            passes.append(time.time() - t)
    res["wall_s"] = sum(statistics.median(v) for v in calls.values())
    res["passes"] = len(passes)
    res["attempted"] = len(keys) * len(passes)
    res["failed"] = sum(len(passes) for k in keys if k in bad)


def run_reference(spark, cfg: dict, tr: Tracer, res: dict) -> None:
    from aproximacion_1_etl_spark.plans.runner import run_daily

    res["reference"] = table_hash(run_daily(spark, cfg["tables_dir"]))


def main(cfg_path: str) -> None:
    with open(cfg_path) as f:
        cfg = json.load(f)
    res: dict = {"errors": [], "attempted": 0, "failed": 0}
    session = Span("session", None, cfg["t_spawn"])
    spark = start_session(cfg)
    res["start_s"] = time.time() - cfg["t_spawn"]
    check_fixture(cfg)
    session.end = time.time()
    tr = Tracer(spark.sparkContext if cfg["trace"] else None)
    tr.spans.append(session)

    body = {
        "reference": run_reference,
        "daily_etl": run_daily_etl,
        "analytics_session": run_analytics,
    }[cfg["workload"]]
    body(spark, cfg, tr, res)

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    res["peak_rss_mb"] = vm_hwm_mb("self") + vm_hwm_mb(gateway.proc.pid)
    app_id = spark.sparkContext.applicationId
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)

    if cfg["trace"]:
        with open(os.path.join(cfg["event_dir"], app_id)) as f:
            jobs = parse_event_log(f)
        res["attribution"] = attribute(tr.spans, jobs)
    res["spans"] = [s.__dict__ for s in tr.spans]
    with open(cfg["result_path"] + ".tmp", "w") as f:
        json.dump(res, f)
    os.replace(cfg["result_path"] + ".tmp", cfg["result_path"])


if __name__ == "__main__":
    main(sys.argv[1])
