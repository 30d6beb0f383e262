"""functions/exact: the long-space (unscaled limb) sums must equal the
decimal-space dsum/davg forms bit-for-bit, on data built to hit the edge
cases the oracle fixtures may not (negatives, nulls, all-null groups,
negative factors in a product sum)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipline_ibrd_loan_system_spark.functions.exact import (
    davg,
    dsum,
    lavg_unscaled,
    lsum_unscaled,
    unscaled_sql,
)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_lsum_lavg_match_decimal_forms(spark):
    """lsum_unscaled/lavg_unscaled == dsum/davg bit-for-bit, including
    negatives, nulls mixed into a group, and an all-null group."""
    data = [
        ("a", 12345.67),
        ("a", -0.01),
        ("a", None),
        ("a", 9999999.99),
        ("b", -54321.5),
        ("b", 0.0),
        ("c", None),  # all-null group -> NULL sum, NULL avg
    ]
    df = spark.createDataFrame(data, "g string, x double")
    u = unscaled_sql("CAST(x AS DECIMAL(18,4))", 4)
    got = df.groupBy("g").agg(
        lsum_unscaled(u, 4, "s", limbs=3),
        lavg_unscaled(u, 4, "m", limbs=3),
    )
    want = df.groupBy("g").agg(dsum("x", "s"), davg("x", "m"))
    assert _rows(got) == _rows(want)


def test_lsum_product_matches_decimal_product_sum(spark):
    """Long-space product sum == decimal-space product sum (the q1
    sum_disc_price shape), with negative factors."""
    data = [(1, 100.25, 0.05), (1, -3.10, 0.10), (2, 0.07, 0.00)]
    df = spark.createDataFrame(data, "g int, price double, disc double")
    prod_dec = F.col("price").cast("decimal(12,2)") * (
        1 - F.col("disc")
    ).cast("decimal(8,4)")
    cents = unscaled_sql("CAST(price AS DECIMAL(12,2))", 2)
    dfac = unscaled_sql("CAST(1 - disc AS DECIMAL(8,4))", 4)
    got = df.groupBy("g").agg(
        lsum_unscaled(f"({cents}) * ({dfac})", 6, "s", limbs=3)
    )
    want = df.groupBy("g").agg(dsum(prod_dec, "s", cast_to=None))
    assert _rows(got) == _rows(want)
