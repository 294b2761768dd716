"""Distributed paginated REST extraction (operators S1, S2, S9, S10).

The reference fetches a 5-month window day-by-day, 100 records/page,
with 3 retries per page, single-threaded in one Cloud Run container
(reference ``extract-app/app.py:100-161``). That serial loop is the
extraction bottleneck; the Spark-first design turns (day, page) into a
task grid and fetches from executors:

    days × pages  →  DataFrame of fetch tasks
                  →  mapInPandas(fetch_batch)   # Arrow-batched, parallel
                  →  order records DataFrame

Network access is injected (``fetch_page``) so tests run with a
deterministic fake and production supplies a real HTTP client. The
external geo-enrichment call (S9, ``app.py:57-65``) is modeled as a
broadcast lookup join — never a per-row HTTP call inside a query.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from datetime import date

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

PAGE_SIZE = 100
MAX_RETRIES = 3

# destination_structure_id values that trigger enrichment
# (reference app.py:58).
ENRICHMENT_STRUCTURE_IDS = (13123, 13120, 13101)


def task_grid(spark: SparkSession, days: list[date], max_pages: int) -> DataFrame:
    """The (day, page) fetch-task grid, partitioned so each executor core
    owns a slice of the fetch work."""
    rows = [(d.isoformat(), p) for d in days for p in range(1, max_pages + 1)]
    df = spark.createDataFrame(rows, "fetch_date STRING, page_number INT")
    return df.repartition(max(len(rows) // 8, 1))


def fetch_distributed(
    tasks: DataFrame,
    fetch_page: Callable[[str, int], list[dict]],
    record_schema_ddl: str,
) -> DataFrame:
    """Run the paginated fetch on executors via mapInPandas (Arrow path).

    ``fetch_page(fetch_date, page_number) -> list[record-dict]`` does its
    own retry budget (MAX_RETRIES, reference ``app.py:100-120``); an empty
    list means past-the-last-page (the reference stops when accumulated
    rows >= response total — with a task grid we simply over-provision
    pages and drop empties).
    """
    out_cols = [f.strip().split(" ")[0] for f in record_schema_ddl.split(",")]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            for fetch_date, page in zip(pdf["fetch_date"], pdf["page_number"]):
                for attempt in range(MAX_RETRIES):
                    try:
                        rows.extend(fetch_page(fetch_date, int(page)))
                        break
                    except Exception:
                        if attempt == MAX_RETRIES - 1:
                            # out of retries: skip page, pipeline survives
                            pass
            if rows:
                yield pd.DataFrame(rows, columns=out_cols)

    return tasks.mapInPandas(run, schema=record_schema_ddl)


def enrich_segmentation(
    orders: DataFrame,
    geo_lookup: DataFrame,
    gate_ids: tuple[int, ...] = ENRICHMENT_STRUCTURE_IDS,
) -> DataFrame:
    """Geo enrichment (S9) as a broadcast lookup join instead of per-row
    HTTP: only rows whose ``destination_structure_id`` is in the gate set
    receive a segmentation value (reference ``app.py:57-65``)."""
    gated = F.col("destination_structure_id").isin(*gate_ids)
    joined = orders.join(
        F.broadcast(geo_lookup), on="destination_structure_id", how="left"
    )
    return joined.withColumn(
        "segmentation", F.when(gated, F.col("segmentation")).otherwise(F.lit(None))
    )
