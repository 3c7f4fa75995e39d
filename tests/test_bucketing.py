"""Bucketed tables must join without an exchange (the co-location
actually engages), and results must equal the plain join."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from elective_waiting_times_pipeline_spark.harness import explain
from elective_waiting_times_pipeline_spark.sources.bucketing import (
    bucketed_join,
    join_is_shuffle_free,
    write_bucketed,
)
from elective_waiting_times_pipeline_spark.sources.readers import load_table


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir):
    # default warehouse dir (static conf); tables dropped in teardown
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    write_bucketed(li, "bt_lineitem", "l_orderkey", n_buckets=4)
    write_bucketed(o, "bt_orders", "l_orderkey", n_buckets=4)
    yield "bt_lineitem", "bt_orders"
    spark.sql("DROP TABLE IF EXISTS bt_lineitem")
    spark.sql("DROP TABLE IF EXISTS bt_orders")


def test_bucketed_join_is_shuffle_free(spark, bucketed_tables):
    lt, rt = bucketed_tables
    joined = bucketed_join(spark, lt, rt, on="l_orderkey")
    assert join_is_shuffle_free(joined), "bucketed join re-introduced an exchange"


def test_bucketed_join_equals_plain(spark, sf_dir, bucketed_tables):
    lt, rt = bucketed_tables
    got = bucketed_join(spark, lt, rt, on="l_orderkey").count()
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    want = li.join(o, li.l_orderkey == o.o_orderkey).count()
    assert got == want


def test_bucketed_agg_skips_exchange(spark, bucketed_tables):
    lt, _ = bucketed_tables
    agg = spark.table(lt).groupBy("l_orderkey").agg(F.sum("l_quantity"))
    assert "Exchange hashpartitioning" not in explain(agg)
