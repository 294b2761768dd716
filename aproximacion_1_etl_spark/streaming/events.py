"""Structured Streaming ingest of the events stream (SURVEY.md §2.9).

The reference is strictly daily batch; this is the engine's streaming
extension: file-source ``readStream`` -> watermark -> tumbling-window
aggregation -> sink, with ``Trigger.AvailableNow`` for batch-equivalent
catch-up runs (processes everything currently available, then stops —
so results are deterministic and comparable to the batch oracle).

At scale: the file source tracks processed files in checkpoint state;
watermark bounds the window state store; the windowed agg shuffles on
(window, event_type) — the same partitioning story as batch groupBy.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from aproximacion_1_etl_spark.streaming.harness import drain

EVENTS_DDL_NANOS = (
    "event_id BIGINT, ts BIGINT, user_id BIGINT, "
    "event_type STRING, value DOUBLE, props STRING"
)
EVENTS_DDL_TS = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
    "event_type STRING, value DOUBLE, props STRING"
)


def read_events_stream(spark: SparkSession, dir_path: str, glob: str = "*.parquet") -> DataFrame:
    """File-source stream over the events parquet directory. Streaming
    sources need an explicit schema (no inference at stream start), but
    the at-rest ``ts`` encoding varies by generator version (nanosecond
    int64 vs microsecond no-tz timestamp) — probe the footer with a
    batch read and pick the matching stream schema, normalizing to
    session-tz TIMESTAMP either way (same contract as the batch reader
    in sources/tables.py)."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set(
            "spark.sql.parquet.inferTimestampNTZ.enabled", "false"
        )
    except Exception:
        pass
    # An empty source dir is a normal state for a file-source stream
    # (files arrive later); the batch probe can't infer a schema then,
    # so fall back to the modern TIMESTAMP encoding. But ONLY the
    # empty-dir case may fall back: a non-empty dir whose probe fails
    # (e.g. one corrupt footer) must raise, not silently default to a
    # schema that would misread bigint-nanos files downstream.
    import fnmatch
    import os

    local = dir_path.removeprefix("file://").removeprefix("file:")
    has_files = os.path.isdir(local) and any(
        fnmatch.fnmatch(name, glob)
        for _, _, names in os.walk(local)
        for name in names
    )
    if has_files:
        probe = (
            spark.read.option("pathGlobFilter", glob)
            .parquet(dir_path)
            .schema
        )
        ts_is_nanos = dict(
            (f.name, f.dataType.simpleString()) for f in probe
        ).get("ts") == "bigint"
    else:
        ts_is_nanos = False
    stream = (
        spark.readStream.schema(
            EVENTS_DDL_NANOS if ts_is_nanos else EVENTS_DDL_TS
        )
        .option("pathGlobFilter", glob)
        .parquet(dir_path)
    )
    if ts_is_nanos:
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    return stream


def windowed_event_counts(
    events: DataFrame,
    window_duration: str = "1 day",
    watermark: str = "1 hour",
    slide: str | None = None,
) -> DataFrame:
    """Tumbling-window counts/sums per event_type with late-data
    watermark. Works identically on a batch DataFrame (window() is the
    same expression), which is how the oracle checks it."""
    streaming = events.isStreaming
    base = events.withWatermark("ts", watermark) if streaming else events
    return (
        base.groupBy(
            F.window("ts", window_duration, slide or window_duration).alias(
                "win"
            ),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n_events"),
            # decimal-cast sum: deterministic across partition orders and
            # engines (double summation order otherwise varies)
            (
                F.floor(
                    F.sum(F.col("value").cast("decimal(30,8)")).cast("double")
                    * F.lit(100.0)
                    + F.lit(0.5)
                )
                / F.lit(100.0)
            ).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stream_static_enrich(
    spark: SparkSession,
    source_dir: str,
    customer: DataFrame,
    glob: str = "*.parquet",
) -> DataFrame:
    """Stream-static enrichment join: the events stream joined to the
    static customer dimension (broadcast — the static side is planned
    per micro-batch, so a small dim never shuffles the stream), rolled
    up per market segment. Trigger.AvailableNow + complete-mode memory
    sink => deterministic, batch-oracle-checkable.

    At scale this is the canonical streaming enrichment shape: the
    stream side stays partitioned by its source; only the rolled-up
    (|segments|-sized) state lives in the state store."""
    ev = read_events_stream(spark, source_dir, glob)
    dim = customer.select(
        F.col("c_custkey"), F.col("c_mktsegment")
    )
    joined = ev.join(
        F.broadcast(dim), ev["user_id"] == dim["c_custkey"]
    )
    agg = joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        (
            F.floor(
                F.sum(F.col("value").cast("decimal(30,8)")).cast("double")
                * F.lit(100.0)
                + F.lit(0.5)
            )
            / F.lit(100.0)
        ).alias("sum_value"),
    )
    return drain(agg, "complete")


def run_available_now(
    spark: SparkSession,
    source_dir: str,
    window_duration: str = "1 day",
    glob: str = "*.parquet",
    slide: str | None = None,
) -> DataFrame:
    """Run the windowed aggregation as a real stream with
    Trigger.AvailableNow into a memory sink; returns the final result
    table (deterministic: all available data processed, stream stopped).
    ``slide`` < ``window_duration`` makes the windows hopping/sliding
    (each event lands in window_duration/slide overlapping windows;
    state per open window is bounded by the watermark).
    """
    stream = windowed_event_counts(
        read_events_stream(spark, source_dir, glob), window_duration,
        slide=slide,
    )
    return drain(stream, "complete")
