"""Bucketed-table storage for shuffle-free co-located joins.

At 100 TB the dominant cost of a fact-fact join is the shuffle; if
both sides are bucketed by the join key into the same bucket count,
Spark's SortMergeJoin reads co-located buckets with NO Exchange on
either side. This module owns the write path (bucketBy requires the
table catalog, not a bare parquet path) and a verifier that the
optimization actually engaged — silent de-optimization (bucket-count
mismatch, disabled conf) just re-shuffles without warning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 8,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (and bucket-sorted) managed table. Joins
    and aggregations keyed on `bucket_col` against tables bucketed
    with the SAME n_buckets skip their Exchange (and with sort=True,
    the Sort) entirely."""
    writer = df.write.mode(mode).format("parquet").bucketBy(n_buckets, bucket_col)
    if sort:
        writer = writer.sortBy(bucket_col)
    writer.saveAsTable(table)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, on: str, force_merge: bool = True
) -> DataFrame:
    """Join two same-bucketed tables on their bucket key. force_merge
    pins SortMergeJoin — bucketing targets big-big joins where
    broadcast is impossible; on toy-sized tables the planner would
    auto-broadcast and never exercise the bucket co-location."""
    left = spark.table(left_table)
    right = spark.table(right_table)
    if force_merge:
        left, right = left.hint("merge"), right.hint("merge")
    return left.join(right, on=on)


def join_is_shuffle_free(df: DataFrame) -> bool:
    """True when the plan contains a SortMergeJoin with no Exchange
    feeding it (the bucketed co-location engaged)."""
    from elective_waiting_times_pipeline_spark.harness import explain

    plan = explain(df)
    return "SortMergeJoin" in plan and "Exchange hashpartitioning" not in plan
