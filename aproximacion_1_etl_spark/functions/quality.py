"""Declarative data-quality checks (dbt-test / Great-Expectations
surface for the ETL chain).

The reference trusts its stored-procedure chain blindly — nothing
validates the master table between SP steps. These checks are the
Spark-native guardrail: each rule compiles to ONE aggregate (or one
anti-join for referential rules) over the table, so a full rule suite
is a handful of reduces — no row-by-row validator in Python, and at
100 TB every check is map-side-combinable.

Row-level rules are fused into a SINGLE pass over the table
(one aggregate computing every rule's violation count at once);
set-level rules (uniqueness, referential integrity) need their own
shuffle by nature.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def row_rule_violations(df: DataFrame, rules: dict[str, Column]) -> DataFrame:
    """Count violations for row-level predicates in ONE scan.

    ``rules`` maps rule name -> boolean Column that is True when the
    row VIOLATES the rule. Returns (rule STRING, n_violations BIGINT),
    one row per rule, computed as a single fused aggregate. A count,
    not a sum, so an empty table reports 0 violations, not null.
    """
    aggs = [
        F.count(F.when(cond, 1)).alias(name) for name, cond in rules.items()
    ]
    wide = df.agg(*aggs)
    stacked = ", ".join(f"'{n}', {n}" for n in rules)
    return wide.selectExpr(
        f"stack({len(rules)}, {stacked}) AS (rule, n_violations)"
    )


def unique_violations(df: DataFrame, keys: list[str], rule: str) -> DataFrame:
    """Primary-key check: number of keys appearing more than once."""
    dups = df.groupBy(*keys).count().where(F.col("count") > 1)
    return dups.agg(
        F.lit(rule).alias("rule"), F.count("*").cast("bigint").alias("n_violations")
    )


def fk_violations(
    child: DataFrame,
    child_key: str,
    parent: DataFrame,
    parent_key: str,
    rule: str,
) -> DataFrame:
    """Referential-integrity check: child keys with no parent row
    (left anti join — broadcast when the parent is a dim)."""
    orphans = child.join(
        parent.select(F.col(parent_key).alias(child_key)),
        on=child_key,
        how="left_anti",
    )
    return orphans.agg(
        F.lit(rule).alias("rule"), F.count("*").cast("bigint").alias("n_violations")
    )
