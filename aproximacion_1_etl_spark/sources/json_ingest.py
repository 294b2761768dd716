"""Day-partitioned JSON file ingestion (operators S3, S5, S6, F1, F6).

The reference stores one JSON *array* file per calendar day at
``{execution_date}/{day}/{day}.json`` plus a ``{day}_metadata.json``
sidecar (reference ``extract-app/app.py:122-133,163-171``); readers list
files and drop anything whose name contains ``metadata`` (reference
``src/1_run_main_table_pipeline.py:27-53``), then whole-file
``json.load`` each file, tolerating corrupt files (``src/1_...py:67-68``).

Spark-first translation:
- one ``spark.read.json(multiLine=True)`` over the whole glob replaces
  the per-file Beam branches (S8) — Spark parallelizes by file natively;
- Spark's file index lists the glob, in place of the reference's
  listing loop. Past ``spark.sql.sources.parallelPartitionDiscovery.
  threshold`` paths (32 by default; a 150-day glob expands to 150) Spark
  lists them with a distributed job, one task per path. Under
  ``local[N]`` that job's executors are driver threads, so it is pure
  scheduling cost, and ``session.get_spark`` raises the threshold to
  list in the driver; cluster masters keep the distributed listing.
  ``pathGlobFilter`` keeps non-JSON files out, and an
  ``input_file_name()`` predicate drops the sidecars by file name;
- PERMISSIVE mode + ``columnNameOfCorruptRecord`` replaces the
  try/except-skip (F6) while keeping a countable record of corruption
  for the metadata sidecar (S4);
- a column declared ``STRING`` over a nested array or object (the wide
  table's ``*_json`` children) holds compact JSON of the same value,
  re-serialized by the parser as the reference's ``json.dumps`` does,
  not the source bytes: whitespace and layout are not kept
  (``session.get_spark`` turns off Spark's exact string parsing).
  The children's own fields are parsed later by ``from_json``, so a
  type mismatch inside an element nulls that field, not the order.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

CORRUPT_COL = "_corrupt_record"


def read_day_files(
    spark: SparkSession,
    path: str,
    schema_ddl: str | None = None,
    exclude_substring: str = "metadata",
    multiline: bool = True,
) -> DataFrame:
    """Read day-partitioned JSON array files, excluding metadata sidecars.

    With ``schema_ddl`` (string DDL, the Spark analog of the reference's
    ``"name:BQTYPE"`` schema strings, ``src/1_...py:95-116``) the scan is
    schema-ful and corrupt rows land in ``_corrupt_record`` instead of
    failing the job. ``multiline=True`` parses whole-file JSON arrays
    (the reference's file format, F1); ``multiline=False`` reads
    JSON-lines (Spark's own JSON sink format).
    """
    reader = (
        spark.read.option("multiLine", multiline)
        .option("pathGlobFilter", "*.json")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
    )
    if schema_ddl:
        reader = reader.schema(f"{schema_ddl}, {CORRUPT_COL} STRING")
    df = reader.json(path)
    # exclusion matches the file NAME only (reference filters blob names,
    # src/1_...py:40) — a directory containing the substring must not
    # blank out the whole read
    fname = F.element_at(F.split(F.input_file_name(), "/"), -1)
    return df.filter(~fname.contains(exclude_substring))


def split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Separate clean rows from corrupt ones (F6). The corrupt side feeds
    the metadata sidecar's failure count (S4).

    The scan is cached: Spark forbids plans referencing only the internal
    corrupt-record column (SPARK-26716), and both halves re-read the same
    files anyway — one materialization serves both counts.
    """
    if CORRUPT_COL not in df.columns:
        return df, df.limit(0)
    df = df.cache()
    clean = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    corrupt = df.filter(F.col(CORRUPT_COL).isNotNull())
    return clean, corrupt
