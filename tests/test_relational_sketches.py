"""b16 sketch accuracy pins (rows-only entry needs an engine-side truth
anchor): HLL++ count-distinct within its published error bound and
approx_percentile within rank tolerance of the exact quantile."""

from __future__ import annotations

from pyspark.sql import functions as F

from cdc2vec_spark.io import load_table
from cdc2vec_spark.operators.relational import b16_sketches


def test_sketches_accuracy_and_determinism(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    exact_parts, exact_orders = li.agg(
        F.countDistinct("l_partkey"), F.countDistinct("l_orderkey")
    ).first()
    p50, p95 = li.agg(
        F.expr("percentile(l_extendedprice, 0.5)"),
        F.expr("percentile(l_extendedprice, 0.95)"),
    ).first()

    row = b16_sketches(spark, sf_dir).first()
    # HLL++ default rsd is 5%; allow 3 sigma
    assert abs(row["apx_parts"] - exact_parts) <= max(3, 0.15 * exact_parts)
    assert abs(row["apx_orders"] - exact_orders) <= max(3, 0.15 * exact_orders)
    # approx_percentile(accuracy=10000) → rank error <= n/10000; value
    # tolerance: 5% of the exact quantile covers it on this distribution
    assert abs(row["apx_p50_price"] - p50) <= 0.05 * p50
    assert abs(row["apx_p95_price"] - p95) <= 0.05 * p95

    # deterministic: same data → identical sketch outputs (driver reruns)
    assert b16_sketches(spark, sf_dir).first() == row


def test_approx_count_distinct_tolerance(spark, sf_dir):
    """B7's HLL variant: within 5% of exact (rsd default 0.05)."""
    li = load_table(spark, sf_dir, "lineitem")
    row = li.agg(
        F.countDistinct("l_partkey").alias("exact"),
        F.approx_count_distinct("l_partkey").alias("approx"),
    ).first()
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.05
