"""The AvailableNow harness: the one scaffold every streaming catalog
key runs through, and the one temp dir every key that writes files
uses.

A key makes one ``scratch_dir`` for its stores; the stream checkpoint
lives under it too (``<root>/_ckpt``), and the whole tree goes when the
``with`` block exits, on success and on raise. The batch round-trip
keys (write files, read them back) use the same dir. A result read
from the dir is materialized with ``localCheckpoint(eager=True)``
before the block exits, which cuts its lineage to the files.

Inside the dir:

- ``wave_stream`` replays a list of DataFrames as a file stream, one
  micro-batch per DataFrame;
- ``run_to_end`` runs a stream writer (``foreachBatch`` or a file sink)
  with ``Trigger.AvailableNow``: everything available is processed,
  then the query stops, so the result is deterministic and
  oracle-checkable;
- ``drain`` runs a streaming DataFrame into the memory sink and
  returns the final table.

Wave-order contract:

- one file per wave: wave *i* is ONE parquet file under
  ``<root>/src/w<i>``;
- increasing mtimes: the files are backdated so their mtimes increase
  in list order;
- one file per trigger: the file source admits a single file per
  micro-batch.

The file source picks up files oldest-mtime first, so wave *i* is
micro-batch *i*, an empty wave included (its one file has zero rows).
That ordering is an engine implementation detail, not an API promise:
folds whose result depends on it must also check it loudly, as
``text/dedup.py::assert_watermark_monotone`` does for the TTL dedup
twin.

Store paths: a ``foreachBatch`` handler may be defined before the
``with scratch_dir(...)`` block; it reads the store paths bound inside
the block when the stream runs.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile
import time
import uuid
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql.streaming import DataStreamWriter


@contextlib.contextmanager
def scratch_dir(prefix: str) -> Iterator[str]:
    """One ``mkdtemp`` root for a key's files, stores and stream
    checkpoint, removed on exit whether the body returns or raises. A
    result read from it must be materialized with
    ``localCheckpoint(eager=True)`` before the block exits."""
    root = tempfile.mkdtemp(prefix=prefix)
    try:
        yield root
    finally:
        shutil.rmtree(root, ignore_errors=True)


def wave_stream(root: str, waves: list[DataFrame]) -> DataFrame:
    """File stream over ``waves``, one micro-batch per wave, in list
    order (see the module docstring). The stream schema is the first
    wave's; every wave must share it."""
    src = os.path.join(root, "src")
    now = time.time()
    for i, wave in enumerate(waves):
        pdir = os.path.join(src, f"w{i}")
        wave.coalesce(1).write.parquet(pdir)
        ts = now - 60 * (len(waves) - i)
        for f in os.listdir(pdir):
            os.utime(os.path.join(pdir, f), (ts, ts))
    return (
        waves[0].sparkSession.readStream.schema(waves[0].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "*"))
    )


def run_to_end(writer: DataStreamWriter, root: str) -> None:
    """Start ``writer`` with ``Trigger.AvailableNow`` and its checkpoint
    at ``<root>/_ckpt``; return once every available batch is done. A
    failing micro-batch re-raises here."""
    (
        writer.trigger(availableNow=True)
        .option("checkpointLocation", os.path.join(root, "_ckpt"))
        .start()
        .awaitTermination()
    )


def drain(stream: DataFrame, output_mode: str) -> DataFrame:
    """Run ``stream`` to the end into a memory sink under a fresh table
    name and return that table. The memory sink holds its rows on the
    driver, so the checkpoint is dead once the run ends and is removed
    here."""
    table = f"stream_{uuid.uuid4().hex[:12]}"
    with scratch_dir("graft_drain_") as root:
        run_to_end(
            stream.writeStream.format("memory")
            .queryName(table)
            .outputMode(output_mode),
            root,
        )
    return stream.sparkSession.table(table)
