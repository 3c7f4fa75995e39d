"""Structured Streaming counterparts of the batch time-series queries.

The reference is strictly monthly batch (SURVEY §2.12); its only
incremental behavior is skip-if-downloaded + append-month-by-month
(1b.R:169-178, 383-387). The streaming surface here is the engine
extension for the `events` table: watermarked tumbling-window
aggregation whose semantics are oracle-checked in BATCH form by
catalog_events.events_tumbling_window — the logical agg is shared, so
the streaming test only has to show the incremental execution agrees.

`trigger(availableNow=True)` + memory sink turns a parquet directory
into a finite stream — the same shape as the reference's monthly
append, but with exactly-once bookkeeping handled by the engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from elective_waiting_times_pipeline_spark.streaming.io import drain, read_table_stream


def windowed_event_counts(events: DataFrame, window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Tumbling-window count+sum per event type with late-data bound.
    Works on both batch and streaming DataFrames (same logical plan)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )


def run_available_now(
    spark: SparkSession,
    parquet_path: str,
    query_name: str = "events_stream_out",
    window: str = "1 hour",
) -> DataFrame:
    """Drive the streaming agg over a parquet directory to completion
    (availableNow) into a memory sink; returns the result table."""
    raw = read_table_stream(spark, parquet_path)
    agg = windowed_event_counts(raw, window=window)
    return drain(agg, query_name, "complete")


def session_window_stats(events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Native session windows (gap-based) per user: a session closes
    after `gap` of inactivity. Works on batch and streaming frames; in
    streaming, the watermark bounds session state so it is dropped once
    no on-time event can extend it — O(open sessions) state, the
    scale-safe form of sessionization (vs. the batch lag/cumsum variant
    in catalog_events.sessionize, which needs the full history)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "total_value",
        )
    )


def run_sessions_available_now(
    spark: SparkSession,
    parquet_path: str,
    query_name: str = "events_sessions_out",
    gap: str = "30 minutes",
) -> DataFrame:
    """Drive session-window aggregation over a parquet directory to
    completion (availableNow) into a memory sink."""
    raw = read_table_stream(spark, parquet_path)
    agg = session_window_stats(raw, gap=gap)
    return drain(agg, query_name, "complete")


def windowed_ohlc(events: DataFrame, window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Hourly OHLC bars per event type with a late-data bound — the
    streaming counterpart of catalog_events.tumbling_ohlc (same
    logical agg, so the equality test only has to show incremental
    execution agrees). Open/close pin to the first/last event by the
    lexicographic (ts, event_id) order as a STRUCT ordering key — the
    measured-fastest pin (see the batch query's note); min_by/max_by
    are mergeable aggregates, so watermark-bounded partial state
    composes across micro-batches exactly like count/sum."""
    vc = F.floor(F.col("value") * 100 + 0.5).cast("long")
    okey = F.struct(F.unix_micros("ts").alias("ts_us"), F.col("event_id"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.min_by(vc, okey).cast("double") / 100).alias("open"),
            (F.max(vc).cast("double") / 100).alias("high"),
            (F.min(vc).cast("double") / 100).alias("low"),
            (F.max_by(vc, okey).cast("double") / 100).alias("close"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type", "n_events", "open", "high", "low", "close",
        )
    )


def run_ohlc_available_now(
    spark: SparkSession,
    parquet_path: str,
    query_name: str = "ohlc_stream_out",
    window: str = "1 hour",
) -> DataFrame:
    """Drive the streaming OHLC over a parquet directory to completion
    (availableNow) into a memory sink; returns the result table."""
    raw = read_table_stream(spark, parquet_path)
    agg = windowed_ohlc(raw, window=window)
    return drain(agg, query_name, "complete")
