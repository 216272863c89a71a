"""Bucketed-table co-location: a join between two tables bucketed on
the same key with the same bucket count must plan WITHOUT any shuffle
exchange — the 100 TB repeated-join strategy (write once bucketed,
join/aggregate forever shuffle-free)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from svs_spark.operators.bucketing import (
    colocated_join,
    join_is_shuffle_free,
    write_bucketed_table,
)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def bucketed_tables(spark, tmp_path_factory):
    wh = tmp_path_factory.mktemp("bucketed_wh")
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    lineitem = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity", "l_extendedprice"
    )
    write_bucketed_table(orders, "b_orders", "o_orderkey", 8,
                         sort_by="o_orderkey", path=str(wh / "b_orders"))
    write_bucketed_table(lineitem, "b_lineitem", "o_orderkey", 8,
                         sort_by="o_orderkey", path=str(wh / "b_lineitem"))
    yield "b_orders", "b_lineitem"
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_colocated_join_no_shuffle(spark, bucketed_tables):
    lt, rt = bucketed_tables
    j = colocated_join(spark, lt, rt, "o_orderkey")
    assert join_is_shuffle_free(j), (
        j._jdf.queryExecution().executedPlan().toString()[:2000]
    )


def test_colocated_join_correct(spark, bucketed_tables):
    lt, rt = bucketed_tables
    j = colocated_join(spark, lt, rt, "o_orderkey")
    plain = spark.read.parquet(f"{SF_DIR}/orders.parquet").join(
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
            F.col("l_orderkey").alias("o_orderkey"), "l_quantity",
            "l_extendedprice",
        ),
        "o_orderkey",
    )
    assert j.count() == plain.count()


def test_bucketed_aggregation_no_shuffle(spark, bucketed_tables):
    """groupBy on the bucket key also skips the exchange."""
    _, rt = bucketed_tables
    agg = spark.table(rt).groupBy("o_orderkey").agg(
        F.sum("l_quantity").alias("q")
    )
    assert join_is_shuffle_free(agg), (
        agg._jdf.queryExecution().executedPlan().toString()[:2000]
    )
