"""Query catalog — etl domain (mechanically moved from queries.py)."""


from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from aproximacion_1_etl_spark.functions.cleaning import (
    cast_to_ddl,
    default_fill,
    empty_to_null,
    lenient_ts,
    strip_digits,
    try_ts,
)
from aproximacion_1_etl_spark.operators.explode import (
    explode_json_array,
    pack_children_as_json,
)
from aproximacion_1_etl_spark.operators.refine import (
    child_rollup,
    dedup_latest,
    first_scheduled,
    latest_child_attrs,
    merge_upsert,
    nth_event,
    visit_order,
)
from aproximacion_1_etl_spark.operators.refine import visit_columns
from aproximacion_1_etl_spark.plans.runner import flagship, run_daily
from aproximacion_1_etl_spark.sources.json_ingest import (
    read_day_files,
    split_corrupt,
)
from aproximacion_1_etl_spark.sources.rest import fetch_distributed, task_grid
from aproximacion_1_etl_spark.sources.tables import load_table
from aproximacion_1_etl_spark.streaming.harness import scratch_dir
from .common import *  # noqa: F401,F403



# ---------------------------------------------------------------- core ETL


def q_flagship_order_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the reference's master+children lifecycle rollup (dedup -> child agg join -> latest event) in one plan."""
    return flagship(spark, sf_dir)


def q_m1_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1: one surviving row per customer — their latest order."""
    orders = load_table(spark, sf_dir, "orders")
    out = dedup_latest(
        orders,
        keys=["o_custkey"],
        order_by=[F.col("o_orderdate").desc(), F.col("o_orderkey").desc()],
    )
    return out.select(
        "o_custkey",
        "o_orderkey",
        _ts_str("o_orderdate").alias("latest_orderdate"),
        "o_orderstatus",
    )


def q_m2_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2: full-outer upsert — updates win, unmatched master survives,
    new keys insert."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("totalprice"),
    )
    master = base.filter(F.col("o_orderkey") % 3 != 0)
    updates = base.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        F.round(F.col("totalprice") + 1.0, 2).alias("totalprice"),
    )
    return merge_upsert(master, updates, keys=["o_orderkey"])


def q_m4_latest_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4: latest event attributes per user via max_by."""
    events = load_table(spark, sf_dir, "events")
    out = latest_child_attrs(
        events, ["user_id"], ["event_type", "value"], "ts", "event_id"
    )
    return out.select(
        "user_id",
        F.col("latest_event_type"),
        _fround(F.col("latest_value"), 2).alias("latest_value"),
    )


def q_m5_child_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5/M7: per-order child rollup (count / sum / conditional count)."""
    li = load_table(spark, sf_dir, "lineitem")
    return child_rollup(
        li,
        keys=["l_orderkey"],
        aggs={
            "n_items": F.count("*"),
            "sum_qty": F.round(F.sum("l_quantity"), 2),
            "revenue": _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
            "n_returned": F.sum(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            ).cast("bigint"),
        },
    )


def q_m6_case_derivation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6: CASE-derived attribute columns + rollup."""
    orders = load_table(spark, sf_dir, "orders")
    cat = (
        F.when(F.col("o_totalprice") < 50000, "low")
        .when(F.col("o_totalprice") < 150000, "mid")
        .otherwise("high")
    )
    return (
        orders.withColumn("price_band", cat)
        .groupBy("price_band", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            _fround(
                F.sum(F.col("o_totalprice").cast("decimal(30,8)")).cast(
                    "double"
                )
                / F.count("*"),
                2,
            ).alias("avg_price"),
        )
    )


def q_m8_nth_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 (insert_table_temp(2)): each user's 2nd event."""
    events = load_table(spark, sf_dir, "events")
    out = nth_event(events, ["user_id"], "ts", "event_id", n=2)
    return out.select(
        "user_id", "event_id", "event_type", _ts_str("ts").alias("event_ts")
    )


def q_m8_last_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 (insert_table_temp(0)): each user's last event."""
    events = load_table(spark, sf_dir, "events")
    out = nth_event(events, ["user_id"], "ts", "event_id", n=0)
    return out.select(
        "user_id", "event_id", "event_type", _ts_str("ts").alias("event_ts")
    )


def q_m10_first_scheduled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M10: earliest event per user."""
    events = load_table(spark, sf_dir, "events")
    out = first_scheduled(events, ["user_id"], "ts")
    return out.select(
        "user_id", _ts_str("scheduled_ts").alias("scheduled_ts")
    )


def q_m11_visit_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M11: materialized visit ranking, first 3 visits per user."""
    events = load_table(spark, sf_dir, "events")
    out = visit_order(events, ["user_id"], "ts", "event_id")
    return out.filter(F.col("visit_rank") <= 3).select(
        "user_id",
        "event_id",
        F.col("visit_rank").cast("bigint").alias("visit_rank"),
        _ts_str("ts").alias("visit_ts"),
    )


def q_f2_explode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2-F5 + P12: children -> JSON-string array in parent -> from_json
    + explode with parent-key carry. Round-trips to the original child
    table, which is exactly what the oracle checks."""
    li = load_table(spark, sf_dir, "lineitem")
    packed = pack_children_as_json(
        li,
        parent_keys=["l_orderkey"],
        child_cols=["l_linenumber", "l_quantity", "l_returnflag"],
        json_col="items_json",
    )
    return explode_json_array(
        packed,
        json_col="items_json",
        element_schema_ddl="l_linenumber INT, l_quantity DOUBLE, l_returnflag STRING",
        parent_keys=["l_orderkey"],
        projections={
            "l_linenumber": "l_linenumber",
            "l_quantity": "l_quantity",
            "l_returnflag": "l_returnflag",
        },
    )


def q_p3_p5_cleaning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3/P4/P5: empty->null, default fill, digit-strip."""
    c = load_table(spark, sf_dir, "customer")
    seg_dirty = F.when(F.col("c_custkey") % 5 == 0, F.lit("")).otherwise(
        F.col("c_mktsegment")
    )
    return c.select(
        "c_custkey",
        strip_digits(F.col("c_name")).alias("clean_name"),
        empty_to_null(seg_dirty).alias("seg_or_null"),
        default_fill(seg_dirty, "NONE").alias("seg_filled"),
    )


def q_p6_cast_ddl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: declared string-DDL schema cast (select + cast + prune)."""
    li = load_table(spark, sf_dir, "lineitem")
    out = cast_to_ddl(
        li, "l_orderkey STRING, l_linenumber BIGINT, l_tax DOUBLE"
    )
    return out.select(
        "l_orderkey", "l_linenumber", F.round("l_tax", 2).alias("l_tax")
    )


def q_p7_try_timestamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7: strict-pattern parse, NULL on failure (round-trip + a column
    that always fails to parse)."""
    ev = load_table(spark, sf_dir, "events")
    iso = F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
    return ev.select(
        "event_id",
        F.date_format(try_ts(iso), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "parsed_ts"
        ),
        try_ts(F.col("props")).isNull().alias("bad_parse_null"),
    )


def q_p8_lenient_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8: lenient multi-format parse via coalesce fallback chain, over
    four encodings of the same date — slashed datetime, date-only,
    offset-suffixed ISO (+03:00, which normalizes to the UTC session
    tz, i.e. shifts the instant back 3h), and milli-fraction ISO."""
    orders = load_table(spark, sf_dir, "orders")
    m = F.col("o_orderkey") % 4
    mixed = (
        F.when(m == 0, F.date_format("o_orderdate", "yyyy/MM/dd HH:mm:ss"))
        .when(m == 1, F.date_format("o_orderdate", "yyyy-MM-dd"))
        .when(
            m == 2,
            F.concat(
                F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss"),
                F.lit("+03:00"),
            ),
        )
        .otherwise(
            F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss.SSS")
        )
    )
    return orders.select(
        "o_orderkey", _ts_str(lenient_ts(mixed)).alias("parsed_date")
    )


def q_p12_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P12/§2.7 JSON: get_json_object over the props column + rollup."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n"),
            F.sum("k").cast("bigint").alias("sum_k"),
            _fround(F.avg("k"), 4).alias("avg_k"),
        )
    )


def q_s1_rest_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S2: distributed paginated fetch over a (day, page) task grid
    with a deterministic fake HTTP client."""
    from datetime import date

    days = [date(2024, 1, d) for d in (1, 2, 3)]

    def fake_fetch(fetch_date: str, page: int) -> list[dict]:
        return [
            {
                "order_id": f"{fetch_date}#p{page}#r{i}",
                "amount": float(page * 100 + i),
            }
            for i in range(5)
        ]

    tasks = task_grid(spark, days, max_pages=2)
    return fetch_distributed(
        tasks, fake_fetch, "order_id STRING, amount DOUBLE"
    )


def q_s3_s6_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3+S5+S6+F6: write day-partitioned JSON, read back with metadata
    exclusion + corrupt-record tolerance, aggregate per day."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") < 1000
    )
    day_df = orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("totalprice"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("ingest_date"),
    )
    with scratch_dir("graft_json_") as path:
        day_df.write.mode("overwrite").partitionBy("ingest_date").json(path)
        back = read_day_files(
            spark,
            path,
            schema_ddl="o_orderkey BIGINT, o_orderstatus STRING, totalprice DOUBLE",
            multiline=False,
        )
        clean, _corrupt = split_corrupt(back)
        out = clean.groupBy("ingest_date").agg(
            F.count("*").alias("n_orders"),
            _dsum(F.col("totalprice")).alias("day_total"),
        )
        return out.localCheckpoint(eager=True)


def q_s9_enrichment_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9: gated broadcast-lookup enrichment (the geo-service analog)."""
    from aproximacion_1_etl_spark.sources.rest import enrich_segmentation

    c = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    lookup = nation.select(
        F.col("n_nationkey").alias("destination_structure_id"),
        F.col("n_name").alias("segmentation"),
    )
    cust = c.select(
        "c_custkey",
        F.col("c_nationkey").alias("destination_structure_id"),
    )
    out = enrich_segmentation(cust, lookup, gate_ids=(1, 2, 3))
    return out.select("c_custkey", "destination_structure_id", "segmentation")


def q_work_table_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3/M3-M13: the full refinement chain — the reference's 29
    sequential stored procedures as ONE Catalyst plan producing the
    delivery_order_work-equivalent table."""
    return run_daily(spark, sf_dir)


def q_m9_visit_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M9: first-3-visits pivoted wide (visit_n_ts / visit_n_type)."""
    events = load_table(spark, sf_dir, "events")
    out = visit_columns(
        events, ["user_id"], "ts", "event_id", ["event_type"], n_visits=3
    )
    return out.select(
        "user_id",
        *[
            c
            for n in (1, 2, 3)
            for c in (
                _ts_str(f"visit_{n}_ts").alias(f"visit_{n}_ts"),
                F.col(f"visit_{n}_event_type"),
            )
        ],
    )


def q_s8_union_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8: unionByName across drifted schemas (missing columns -> NULL),
    the per-file-branch union tolerance of the reference's pipelines."""
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderstatus"
    )
    b = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", F.round("o_totalprice", 2).alias("totalprice")
    )
    return a.unionByName(b, allowMissingColumns=True)


def q_s4_metadata_sidecar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4+F6: day-partitioned JSON write with injected corrupt lines,
    PERMISSIVE read with corrupt-record capture, per-day metadata
    sidecar {ingest_date, total_ordenes, fallos} written + read back —
    the reference's extraction-metadata contract (app.py:166-171)."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= "2001-06-01"
    )
    line = F.when(
        F.col("o_orderkey") % 97 == 0, F.lit("CORRUPT{{not json")
    ).otherwise(
        F.to_json(
            F.struct(
                F.col("o_orderkey"),
                F.col("o_orderstatus"),
                F.round("o_totalprice", 2).alias("totalprice"),
            )
        )
    )
    with scratch_dir("graft_sidecar_") as path:
        # repartition by the partition column first: one file per day-dir
        # instead of (tasks x days) tiny files — the 100 TB-safe layout.
        o.select(
            line.alias("value"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("ingest_date"),
        ).repartition("ingest_date").write.mode("overwrite").partitionBy(
            "ingest_date"
        ).text(path)
        back = (
            spark.read.schema(
                "o_orderkey BIGINT, o_orderstatus STRING, totalprice DOUBLE, "
                "_corrupt_record STRING"
            )
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt_record")
            .json(path)
        )
        # Corrupt lines parse to all-NULL data columns; counting off a data
        # column (o_orderkey, never null in valid rows) instead of
        # _corrupt_record avoids Spark's corrupt-record-only-query
        # restriction without caching the parse.
        meta = back.groupBy("ingest_date").agg(
            F.count("o_orderkey").alias("total_ordenes"),
            F.count(F.when(F.col("o_orderkey").isNull(), 1)).alias("fallos"),
        )
        meta_path = os.path.join(path, "_metadata_out")
        meta.coalesce(1).write.mode("overwrite").json(meta_path)
        out = spark.read.schema(
            "ingest_date STRING, total_ordenes BIGINT, fallos BIGINT"
        ).json(meta_path)
        return out.localCheckpoint(eager=True)


def q_s3_partitioned_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: day-partitioned parquet table sink + partition-pruned read
    (the engine's GCS-day-layout analog; the read scans only the
    selected year's directories — verified in tests via the plan's
    partition filters)."""
    o = load_table(spark, sf_dir, "orders")
    with scratch_dir("graft_part_") as path:
        o.withColumn("order_year", F.year("o_orderdate")).repartition(
            "order_year"
        ).write.mode("overwrite").partitionBy("order_year").parquet(path)
        back = spark.read.parquet(path).filter(F.col("order_year") == 1997)
        out = back.groupBy(
            F.month("o_orderdate").cast("bigint").alias("order_month")
        ).agg(
            F.count("*").alias("n_orders"),
            _dsum(F.col("o_totalprice")).alias("month_total"),
        )
        return out.localCheckpoint(eager=True)


def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source/sink: header + explicit DDL schema + date format on
    write, permissive typed read back (the engine's delimited-file
    surface; reference only had JSON, §2.1)."""
    o = load_table(spark, sf_dir, "orders")
    with scratch_dir("graft_csv_") as path:
        o.select(
            "o_orderkey",
            "o_orderstatus",
            F.round("o_totalprice", 2).alias("totalprice"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        ).repartition(4).write.mode("overwrite").option("header", True).csv(path)
        back = (
            spark.read.schema(
                "o_orderkey BIGINT, o_orderstatus STRING, "
                "totalprice DOUBLE, orderdate STRING"
            )
            .option("header", True)
            .csv(path)
        )
        out = back.groupBy("o_orderstatus").agg(
            F.count("*").alias("n"),
            _dsum(F.col("totalprice")).alias("total"),
            F.min("orderdate").alias("first_date"),
        )
        return out.localCheckpoint(eager=True)


def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink: the second columnar at-rest format (built into
    Spark; same pushdown/pruning machinery as parquet)."""
    li = load_table(spark, sf_dir, "lineitem")
    with scratch_dir("graft_orc_") as path:
        li.select("l_orderkey", "l_quantity", "l_returnflag").write.mode(
            "overwrite"
        ).orc(path)
        back = spark.read.orc(path).filter(F.col("l_returnflag") == "R")
        out = back.groupBy("l_returnflag").agg(
            F.count("*").alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("qty"),
        )
        return out.localCheckpoint(eager=True)


def q_m2_merge_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2 + schema evolution (merge_upsert_evolve): the update batch
    carries a column the master never had (is_priority); the merged
    output widens, with NULL for keys only present in the master."""
    from aproximacion_1_etl_spark.operators.refine import (
        merge_upsert_evolve,
    )

    o = load_table(spark, sf_dir, "orders")
    master = o.filter(F.col("o_orderdate") < "1999-01-01").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    updates = o.filter(F.col("o_orderdate") >= "1998-01-01").select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.col("o_orderpriority")
        .isin("1-URGENT", "2-HIGH")
        .alias("is_priority"),
    )
    merged = merge_upsert_evolve(master, updates, ["o_orderkey"])
    return merged.select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        "is_priority",
    )


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10: PII scrub pass over documents — redacted text digest +
    match count per doc (counts are 0 on this synthetic corpus; the
    redaction semantics are unit-tested on crafted rows in
    test_cleaning)."""
    from aproximacion_1_etl_spark.functions.cleaning import (
        pii_count,
        pii_scrub,
    )

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5(pii_scrub(F.col("text"))).alias("scrubbed_md5"),
        pii_count(F.col("text")).alias("n_pii"),
    )


def q_m2_merge_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2 + CDC deletes (merge_upsert_delete): change batch carries
    op U/D; D drops the order from the merged master."""
    from aproximacion_1_etl_spark.operators.refine import (
        merge_upsert_delete,
    )

    o = load_table(spark, sf_dir, "orders")
    master = o.filter(F.col("o_orderdate") < "1999-01-01").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    changes = o.filter(F.col("o_orderdate") >= "1998-01-01").select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.when(F.col("o_orderstatus") == "F", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    merged = merge_upsert_delete(master, changes, ["o_orderkey"])
    return merged.select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("o_totalprice"),
    )


def q_binary_file_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 multimodal ingest: docs materialized as .bin files, read
    back via the binaryFile source, manifest (id, bytes, md5)."""
    from aproximacion_1_etl_spark.sources.binary import (
        binary_ingest_manifest,
        read_binary_files,
        write_doc_files,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 200
    )
    with scratch_dir("binsrc_") as out_dir:
        write_doc_files(docs, out_dir)
        return binary_ingest_manifest(
            read_binary_files(spark, out_dir)
        ).localCheckpoint(eager=True)


def q_rest_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S2 as a registered Spark 4 Python DataSource
    (sources/rest_datasource.py): the paginated REST extract read via
    spark.read.format("rest_orders") — one task per (day, page)
    InputPartition, so retries/speculation are per-page and the source
    composes with column pruning like any built-in format."""
    from aproximacion_1_etl_spark.sources.rest_datasource import register

    register(spark)
    df = (
        spark.read.format("rest_orders")
        .option("start_date", "2024-01-01")
        .option("n_days", 3)
        .option("max_pages", 2)
        .load()
    )
    return df.select(
        "order_id", "fetch_date", "page", _fround(F.col("amount"), 2).alias("amount")
    )


def q_log_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw text-line ingestion surface (``spark.read.text``): events are
    serialized as one log line per row, landed as plain text files, read
    back line-oriented, and re-parsed with ``regexp_extract`` — the
    semi-structured-log path the reference's JSON-only ingest lacks.
    Money travels as integer cents inside the line so both engines
    format/parse bit-identically (no float printf divergence)."""
    ev = load_table(spark, sf_dir, "events")
    with scratch_dir("graft_log_") as path:
        lines = ev.select(
            F.format_string(
                "evt=%d ts=%s user=%d type=%s cents=%d",
                F.col("event_id"),
                _ts_str("ts"),
                F.col("user_id"),
                F.col("event_type"),
                F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long"),
            ).alias("value")
        )
        lines.repartition(4).write.mode("overwrite").text(path)
        raw = spark.read.text(path)
        pat = r"evt=(\d+) ts=(.+) user=(\d+) type=(\w+) cents=(-?\d+)"
        parsed = raw.select(
            F.regexp_extract("value", pat, 1).cast("bigint").alias("event_id"),
            F.regexp_extract("value", pat, 4).alias("event_type"),
            F.regexp_extract("value", pat, 5).cast("bigint").alias("cents"),
        )
        out = parsed.groupBy("event_type").agg(
            F.count("*").alias("n"),
            F.sum("cents").alias("total_cents"),
            F.min("event_id").alias("first_event"),
        )
        return out.localCheckpoint(eager=True)


def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization with ``parse_url`` (host / path / query-param
    extraction, tracking-param strip) — the dedup key-prep step of any
    web-scale corpus pipeline. URLs are synthesized deterministically
    from the documents table, then decomposed with the engine's URL
    functions; canonical identity = (host, path, id param) with
    utm_*/ref stripped."""
    d = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("doc_id"),
        F.lit("?id="),
        F.col("doc_id"),
        F.lit("&utm_source=feed&ref="),
        F.col("lang"),
    )
    u = d.select(
        "doc_id",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("id"))
        .cast("bigint")
        .alias("id_param"),
    )
    canon = u.select(
        "doc_id",
        "host",
        F.concat(F.lit("https://"), F.col("host"), F.col("path"), F.lit("?id="), F.col("id_param")).alias("canonical_url"),
    )
    return canon.groupBy("host").agg(
        F.count("*").alias("n_docs"),
        F.min("canonical_url").alias("first_url"),
    )


def q_sql_script_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (Spark 4 BEGIN/END blocks with DECLARE/SET) — the
    engine-native form of the reference's BigQuery stored procedures
    (`Composer/DAG_cloudrun_dataflow_sp.py:90-318`): a multi-statement
    script computes a threshold into a variable, then the final SELECT
    uses it; control flow lives in the engine, not an external
    orchestrator."""
    from aproximacion_1_etl_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    spark.conf.set("spark.sql.scripting.enabled", "true")
    return spark.sql(
        """
        BEGIN
          DECLARE avg_bal DOUBLE;
          SET avg_bal = (SELECT avg(c_acctbal) FROM customer
                         WHERE c_acctbal > 0);
          SELECT n.n_name,
                 CAST(count(*) AS BIGINT) AS n_rich,
                 floor(sum(CAST(c.c_acctbal AS DECIMAL(30,8)))
                       * 100.0 + 0.5) / 100.0 AS total_bal
          FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
          WHERE c.c_acctbal > avg_bal
          GROUP BY n.n_name;
        END
        """
    )


def q_execute_immediate_param(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL via EXECUTE IMMEDIATE ... USING — the engine
    form of the reference's parameterized procedures
    (`insert_table_temp(n)`, DAG:193-246, called with n=1,2,3,0): one
    statement template, bind values at call time, no string splicing.
    Binds the n-th-order rank and a status filter."""
    from aproximacion_1_etl_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        EXECUTE IMMEDIATE
          'SELECT o_custkey,
                  CAST(count(*) AS BIGINT) AS n_orders,
                  min(o_orderkey) AS sample_order
           FROM (SELECT *, row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn
                 FROM orders WHERE o_orderstatus = ?)
           WHERE rn <= ? GROUP BY 1'
          USING 'F', 2
        """
    )


def q_auto_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-driven recursive struct flattening: a nested order record
    (order + customer sub-struct + geo sub-sub-struct, the reference's
    ~100-field shape, app.py:37-98) flattens to dotted-name columns with
    zero per-field code. The nested struct is built then flattened back
    — the output hash proves lossless field lifting."""
    from aproximacion_1_etl_spark.functions.cleaning import flatten_struct

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    nested = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .select(
            "o_orderkey",
            F.struct(
                F.col("c_name").alias("name"),
                F.col("c_mktsegment").alias("segment"),
                F.struct(
                    F.col("c_nationkey").alias("nation"),
                    _fround(F.col("c_acctbal"), 2).alias("balance"),
                ).alias("account"),
            ).alias("customer"),
            _fround(F.col("o_totalprice"), 2).alias("total"),
        )
    )
    flat = flatten_struct(nested)
    return flat.filter(F.col("customer_account_balance") > 9000.0).select(
        "o_orderkey",
        "customer_name",
        "customer_segment",
        F.col("customer_account_nation").alias("nation"),
        "customer_account_balance",
        "total",
    )


def q_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML source/sink (built into Spark 4): the third at-rest text
    format beside JSON and CSV — write orders as row-tagged XML, read
    back with an explicit schema, aggregate. Completes the
    delimited/markup ingest matrix the reference's JSON-only extractor
    lacked."""
    o = load_table(spark, sf_dir, "orders")
    with scratch_dir("graft_xml_") as path:
        o.select(
            "o_orderkey",
            "o_orderstatus",
            F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        ).repartition(4).write.mode("overwrite").format("xml").option(
            "rootTag", "orders"
        ).option("rowTag", "order").save(path)
        back = (
            spark.read.format("xml")
            .option("rowTag", "order")
            .schema("o_orderkey BIGINT, o_orderstatus STRING, cents BIGINT")
            .load(path)
        )
        out = back.groupBy("o_orderstatus").agg(
            F.count("*").alias("n"),
            F.sum("cents").alias("total_cents"),
            F.min("o_orderkey").alias("first_key"),
        )
        return out.localCheckpoint(eager=True)


def q_date_dim_gen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.1 GENERATED calendar dimension (the zero-input source every
    warehouse needs): 2024's 366 days from a range generator with
    year / quarter / month / ISO week / ISO weekday / weekend /
    month-end attributes — no file scan, the generator parallelizes by
    range split. Weekday is emitted as ISO (1=Mon..7=Sun) via explicit
    arithmetic so no engine's locale or week-start convention leaks
    in."""
    days = spark.range(0, 366).select(
        F.date_add(F.lit("2024-01-01").cast("date"), F.col("id").cast("int")).alias(
            "d"
        )
    )
    isodow = ((F.dayofweek("d") + 5) % 7) + 1
    return days.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.year("d").cast("int").alias("year"),
        F.quarter("d").cast("int").alias("quarter"),
        F.month("d").cast("int").alias("month"),
        F.weekofyear("d").cast("int").alias("iso_week"),
        isodow.cast("int").alias("iso_dow"),
        (isodow >= 6).alias("is_weekend"),
        (F.last_day("d") == F.col("d")).alias("is_month_end"),
    )


__all__ = [
    "q_flagship_order_lifecycle",
    "q_m1_dedup_latest",
    "q_m2_merge_upsert",
    "q_m4_latest_status",
    "q_m5_child_rollup",
    "q_m6_case_derivation",
    "q_m8_nth_event",
    "q_m8_last_event",
    "q_m10_first_scheduled",
    "q_m11_visit_order",
    "q_f2_explode_roundtrip",
    "q_p3_p5_cleaning",
    "q_p6_cast_ddl",
    "q_p7_try_timestamp",
    "q_p8_lenient_dates",
    "q_p12_json_props",
    "q_s1_rest_fetch",
    "q_s3_s6_json_roundtrip",
    "q_s9_enrichment_lookup",
    "q_work_table_build",
    "q_m9_visit_columns",
    "q_s8_union_schema_drift",
    "q_s4_metadata_sidecar",
    "q_s3_partitioned_pruned",
    "q_csv_roundtrip",
    "q_orc_roundtrip",
    "q_m2_merge_evolution",
    "q_pii_scrub",
    "q_m2_merge_delete",
    "q_binary_file_source",
    "q_rest_datasource",
    "q_log_parse",
    "q_url_canonicalize",
    "q_sql_script_chain",
    "q_execute_immediate_param",
    "q_auto_flatten",
    "q_xml_roundtrip",
    "q_date_dim_gen",
]
