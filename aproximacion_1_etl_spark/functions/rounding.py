"""Engine-portable rounding, shared by the query catalog, the daily
runner and the vector kernels. A leaf module: importing it loads no
other part of the engine."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column


def _fround(col: Column, n: int = 2) -> Column:
    """Engine-portable deterministic rounding: floor(x*10^n + 0.5)/10^n
    in IEEE double — identical in any engine. Native round() half-way
    semantics differ (Spark rounds the shortest decimal repr HALF_UP,
    DuckDB rounds the binary value numerically), which breaks oracle
    hash-matching whenever a value lands exactly on .xx5."""
    f = float(10 ** n)
    return F.floor(col * F.lit(f) + F.lit(0.5)) / F.lit(f)
