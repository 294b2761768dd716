"""SparkSession factory.

Centralizes the configuration the whole engine relies on:

- ``spark.sql.session.timeZone = UTC`` — the reference mixes naive
  timestamps with an America/Santiago wall clock (reference
  ``extract-app/app.py:138``); we pin UTC and keep tz logic explicit so
  results are deterministic and oracle-comparable (SURVEY.md §7 risks).
- AQE on (runtime re-plan: partition coalescing, skew-join splitting) —
  at 100 TB this is what keeps shuffle partition sizing sane without
  hand-tuning per stage.
- Arrow on for any pandas-UDF path.

Tests/bench run on ``local[N]``; on a real cluster the same builder is
used with master/resources supplied externally.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

# local[N] executors are driver threads: a file-listing job only adds scheduling
LOCAL_PARTITION_DISCOVERY_THRESHOLD = 1_000_000


def get_spark(
    app_name: str = "aproximacion-1-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``)
    when no cluster master is configured — on a real deployment the
    master comes from spark-submit and this argument stays None.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)

    conf = {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": str(
            shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
        ),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        # Coalesce post-shuffle partitions by DATA VOLUME, not up to the
        # default parallelism: partition count should follow bytes (the
        # advisory size), so a 20 MB shuffle at sf0.1 runs 1-2 tasks and
        # a 100 TB shuffle still runs ~400k. With the default
        # parallelismFirst=true every tiny stage schedules 32 tasks and
        # fixed per-task overhead dominates iterative loops (measured:
        # pagerank 5.9s -> 3.6s at sf0.1). Genuinely CPU-bound Python
        # stages keep their parallelism via explicit repartition(N)
        # before the grouped map (operators/pandas_ops.py), which AQE
        # does not coalesce.
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16m",
        # Let AQE re-plan (and volume-coalesce) CACHED plans too —
        # default false pins every .cache() at the full
        # shuffle-partition count, so iterative loops over cached
        # relations (pagerank, connected components) schedule 32 map
        # tasks per stage no matter how tiny the data is.
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": (
            "true"
        ),
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Write timestamps as TIMESTAMP_MICROS, not the legacy INT96:
        # INT96 column chunks carry no min/max statistics, so sorted /
        # z-ordered layouts lose all row-group skipping on timestamp
        # keys (and INT96 is unreadable by most modern readers).
        "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
        # ANSI off: the reference's parsing is permissive (null on
        # failure, reference src/2_...py:76-83); try_* functions plus
        # non-ANSI casts reproduce that contract.
        "spark.sql.ansi.enabled": "false",
        # A STRING field over a nested JSON array or object is filled
        # by re-serializing the parsed value (the reference's
        # json.dumps, src/1_...py:60-65), not by the default exact
        # mode: that skips the value and then does a positioned read of
        # its raw bytes from the file, one random read per nested value
        # (a ranged GET each on an object store). There is no reader
        # option, and executors read the SQLConf when the task runs, so
        # the session is the only scope. Measured on 4 cores, noop over
        # perfbench's 150 day files (15k orders, two STRING arrays
        # each): scan 1.46 -> 0.82 s cold, 0.71-0.84 -> 0.28-0.32 s
        # warm, about what an ARRAY<STRUCT> schema costs (0.92 s cold).
        "spark.sql.json.enableExactStringParsing": "false",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
    }
    if master and master.startswith("local"):
        # cluster masters keep Spark's default: distributed listing
        # helps on object stores with many paths
        conf["spark.sql.sources.parallelPartitionDiscovery.threshold"] = str(
            LOCAL_PARTITION_DISCOVERY_THRESHOLD
        )
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
