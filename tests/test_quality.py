"""functions/quality.py: rules must COUNT real violations, not just
return zeros on clean data."""

import pyspark.sql.functions as F

from aproximacion_1_etl_spark.functions.quality import (
    fk_violations,
    row_rule_violations,
    unique_violations,
)


def test_rules_count_injected_violations(spark):
    df = spark.createDataFrame(
        [
            (1, "O", 10.0),
            (2, None, -5.0),  # null key, negative price
            (2, "X", 20.0),  # dup id, bad status
            (3, "F", 0.0),  # non-positive price
        ],
        "id BIGINT, status STRING, price DOUBLE",
    )
    rows = {
        r["rule"]: r["n_violations"]
        for r in row_rule_violations(
            df,
            {
                "status_not_null": F.col("status").isNull(),
                "status_accepted": ~F.coalesce(
                    F.col("status").isin("O", "F"), F.lit(False)
                ),
                "price_positive": F.col("price") <= 0,
            },
        ).collect()
    }
    assert rows == {
        "status_not_null": 1,
        "status_accepted": 2,  # 'X' and the NULL both fail acceptance
        "price_positive": 2,
    }

    uniq = unique_violations(df, ["id"], "id_unique").collect()[0]
    assert uniq["rule"] == "id_unique" and uniq["n_violations"] == 1

    parent = spark.createDataFrame([(1,), (2,)], "pid BIGINT")
    fk = fk_violations(df, "id", parent, "pid", "id_fk").collect()[0]
    assert fk["rule"] == "id_fk" and fk["n_violations"] == 1  # id=3 orphan


def test_row_rules_are_one_scan(spark):
    """All row-level rules must fuse into a single aggregate pass."""
    df = spark.range(0, 100).select(F.col("id"), (F.col("id") % 5).alias("v"))
    out = row_rule_violations(
        df,
        {"a": F.col("v") > 3, "b": F.col("id") < 0, "c": F.col("v").isNull()},
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # one aggregate over one scan: no join, no union of scans
    assert "Union" not in plan and "Join" not in plan
    got = {r["rule"]: r["n_violations"] for r in out.collect()}
    assert got == {"a": 20, "b": 0, "c": 0}


def test_row_rules_count_zero_on_an_empty_table(spark):
    """No rows violate nothing: every rule reads 0, not null."""
    df = spark.createDataFrame([], "id BIGINT, price DOUBLE")
    got = {
        r["rule"]: r["n_violations"]
        for r in row_rule_violations(
            df,
            {
                "id_not_null": F.col("id").isNull(),
                "price_positive": F.col("price") <= 0,
            },
        ).collect()
    }
    assert got == {"id_not_null": 0, "price_positive": 0}
