#!/usr/bin/env python3
"""Dump ``explain('formatted')`` for the named queries to files.

    python tools/dump_plans.py <outdir> <suffix> <query> [query ...]

Writes ``<outdir>/<query>_<suffix>.txt`` for each query — before/after
plan evidence for an optimization, dumped from the parent and the
changed checkout. Queries whose callable executes eagerly (streaming
sinks, table writes) are skipped with a note, same set as
tools/plan_audit.py.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from aproximacion_1_etl_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def main() -> None:
    outdir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    for name in names:
        df = qs[name](spark, SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="formatted")
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(buf.getvalue())
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
