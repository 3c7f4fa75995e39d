"""Dynamic partition pruning (DPP) over the month-partitioned lake.

The reference appends one month at a time and every dashboard read is
month-scoped (`1b.R:383-387`, `2.R:61-75`); the Spark lake mirrors
that with `partitionBy('monthyr')` (`sources/readers.py::
write_partitioned`). At 100 TB the payoff is that a join against a
FILTERED dimension must scan only the fact partitions the dim
selects — Spark's runtime DPP inserts a `dynamicpruning` subquery
into the fact scan's PartitionFilters. These tests prove our lake
layout actually activates it (and that results stay correct), so a
layout regression that silently turns month-scoped joins into full
lake scans fails CI.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from elective_waiting_times_pipeline_spark.harness import plan_string
from elective_waiting_times_pipeline_spark.sources.readers import load_table, write_partitioned


def _build_month_lake(spark, sf_dir, tmp_path):
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "ship_month", F.date_format("l_shipdate", "yyyy-MM")
    )
    lake = str(tmp_path / "fact_lake")
    write_partitioned(li, lake, partition_cols=("ship_month",))
    return lake


def test_dpp_subquery_prunes_month_partitions(spark, sf_dir, tmp_path):
    lake = _build_month_lake(spark, sf_dir, tmp_path)
    fact = spark.read.parquet(lake)
    # dim: one row per month with an attribute only the dim knows —
    # the fact-side month set is NOT statically derivable, so only
    # runtime DPP can prune the scan.
    months = (
        fact.select("ship_month")
        .distinct()
        .withColumn("quarter", F.substring("ship_month", 6, 2).cast("int"))
    )
    dim = months.filter(F.col("quarter") <= 2)  # selective dim filter

    joined = fact.join(dim, "ship_month").groupBy("ship_month").agg(
        F.count(F.lit(1)).alias("n")
    )
    plan = plan_string(joined)
    assert "dynamicpruning" in plan.lower(), plan[:2000]

    # correctness: identical to the statically-filtered equivalent
    got = {r.ship_month: r.n for r in joined.collect()}
    want = {
        r.ship_month: r.n
        for r in fact.filter(F.substring("ship_month", 6, 2).cast("int") <= 2)
        .groupBy("ship_month")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want and len(got) > 0


def test_static_month_filter_prunes_at_plan_time(spark, sf_dir, tmp_path):
    """The cheaper sibling: a literal month predicate must land in
    PartitionFilters (plan-time pruning, no subquery needed)."""
    lake = _build_month_lake(spark, sf_dir, tmp_path)
    fact = spark.read.parquet(lake)
    one_month = fact.filter(F.col("ship_month") == "1995-06").agg(
        F.count(F.lit(1)).alias("n")
    )
    scan = plan_string(one_month)
    assert "PartitionFilters" in scan and "1995-06" in scan
    n = one_month.collect()[0].n
    manual = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.date_format("l_shipdate", "yyyy-MM") == "1995-06")
        .count()
    )
    assert n == manual > 0
