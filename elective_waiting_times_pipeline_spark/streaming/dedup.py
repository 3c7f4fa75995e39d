"""Streaming exact deduplication — the incremental counterpart of
operators/dedup.py::dedup_exact.

At 100 TB the dedup decision usually has to happen at INGEST time
(re-scanning the accumulated corpus per batch is O(corpus) per
month); Structured Streaming's `dropDuplicatesWithinWatermark` keeps
only `delay` worth of keys in state (RocksDB-backed at scale), giving
exactly-once dedup of any key that re-arrives within the lateness
bound — the streaming analog of the reference's skip-if-downloaded +
append-month idempotency (`1b.R:169-178, 383-387`).

Batch-equivalence contract: over a finite input where every duplicate
pair is within the watermark delay, the availableNow run emits exactly
the batch `dropDuplicates(keys)` row set (tested)."""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from elective_waiting_times_pipeline_spark.streaming.io import drain, read_table_stream


def dedup_stream(
    events: DataFrame, keys: Sequence[str], ts_col: str = "ts", delay: str = "2 hours"
) -> DataFrame:
    """Keep the first-arriving row per key among rows within the
    watermark lateness bound. State size is O(keys seen in `delay`),
    not O(corpus) — the property that makes streaming dedup viable
    where batch re-scans are not."""
    return events.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(list(keys))


def run_dedup_available_now(
    spark: SparkSession,
    parquet_dir: str,
    keys: Sequence[str] = ("event_id",),
    delay: str = "2 hours",
    query_name: str = "events_dedup_out",
) -> DataFrame:
    """Drive streaming dedup over a parquet directory to completion
    (availableNow) into a memory sink; returns the deduped table."""
    raw = read_table_stream(spark, parquet_dir)
    return drain(dedup_stream(raw, keys, delay=delay), query_name, "append")
