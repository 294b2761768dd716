"""Output checks for catalog keys against the engine's DuckDB oracles.

Rows are normalized with ``tools/check_oracle.py``'s ``normalize``
(columns sorted by name, floats rounded to 9 digits, rows sorted).
DuckDB results are slow to compute for some keys, so they are cached
on disk by data fingerprint and SQL text.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from fixture import tree_digest  # noqa: E402
from tools.check_oracle import normalize  # noqa: E402


def _canonical(rows) -> list:
    """JSON round trip, so cached and fresh results compare alike."""
    return json.loads(json.dumps(rows))


class OracleCache:
    """DuckDB oracle results for one data directory, cached on disk."""

    def __init__(self, tables_dir: str, cache_dir: str):
        self.tables_dir = tables_dir
        self.cache_dir = cache_dir
        self.fingerprint = tree_digest(tables_dir)
        self._con = None

    def _path(self, sql: str) -> str:
        h = hashlib.sha256((self.fingerprint + "\0" + sql).encode()).hexdigest()
        return os.path.join(self.cache_dir, f"{h}.json")

    def _duckdb(self):
        if self._con is None:
            import duckdb

            from aproximacion_1_etl_spark.sources.tables import TABLES

            self._con = duckdb.connect()
            for t in TABLES:
                path = os.path.join(self.tables_dir, f"{t}.parquet")
                self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        return self._con

    def expected(self, sql: str) -> dict:
        """``{"cols": [...], "rows": normalized rows}`` for one oracle."""
        path = self._path(sql)
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        res = self._duckdb().execute(sql)
        cols = [d[0] for d in res.description]
        out = {"cols": sorted(cols), "rows": _canonical(normalize(res.fetchall(), cols))}
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(out, f)
        os.replace(tmp, path)
        return out

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None


def compare(expected: dict, cols: list[str], rows: list[tuple]) -> str | None:
    """None when the Spark rows match the oracle, else what differs."""
    if sorted(cols) != expected["cols"]:
        return f"columns {sorted(cols)} != {expected['cols']}"
    if len(rows) != len(expected["rows"]):
        return f"{len(rows)} rows != {len(expected['rows'])}"
    if _canonical(normalize(rows, cols)) != expected["rows"]:
        return "values differ"
    return None
