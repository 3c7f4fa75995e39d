"""Stream-stream joins: watermarked interval join between two event
streams (attribution: match each follow-up event to a trigger event by
key within a time window).

Spark buffers both sides in state; the watermark + the explicit time
bound on the join condition let it expire state once no on-time row can
still match — O(events per window) state per key, not unbounded. This
is the streaming counterpart of the batch range/as-of joins
(operators/rangejoin.py, operators/asof.py).

Reference has no streaming (SURVEY §2.12); engine extension over the
`events` table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from elective_waiting_times_pipeline_spark.streaming.io import drain, read_table_stream


def attribution_join(
    triggers: DataFrame,
    followups: DataFrame,
    trigger_type: str = "click",
    followup_type: str = "purchase",
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Pairs (trigger, follow-up) for the same user where the follow-up
    lands in (trigger_ts, trigger_ts + within]. Same logical plan works
    on batch and streaming inputs; on streams BOTH sides need the
    watermark and the range bound so state can be evicted."""
    t = (
        triggers.filter(F.col("event_type") == trigger_type)
        .withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("t_user"),
            F.col("event_id").alias("trigger_id"),
            F.col("ts").alias("t_ts"),
        )
    )
    f = (
        followups.filter(F.col("event_type") == followup_type)
        .withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("f_user"),
            F.col("event_id").alias("followup_id"),
            F.col("ts").alias("f_ts"),
            F.col("value").alias("followup_value"),
        )
    )
    return t.join(
        f,
        (F.col("t_user") == F.col("f_user"))
        & (F.col("f_ts") > F.col("t_ts"))
        & (F.col("f_ts") <= F.col("t_ts") + F.expr(f"INTERVAL {within}")),
        "inner",
    ).select(
        F.col("t_user").alias("user_id"),
        "trigger_id",
        "followup_id",
        "t_ts",
        "f_ts",
        "followup_value",
    )


def run_attribution_available_now(
    spark: SparkSession,
    parquet_path: str,
    query_name: str = "events_attribution_out",
    within: str = "1 hour",
) -> DataFrame:
    """Drive the stream-stream attribution join over a parquet
    directory to completion (availableNow) into a memory sink."""

    def stream():
        return read_table_stream(spark, parquet_path)

    joined = attribution_join(stream(), stream(), within=within)
    return drain(joined, query_name, "append")
