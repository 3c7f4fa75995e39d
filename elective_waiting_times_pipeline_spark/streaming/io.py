"""Scan-edge normalization for streaming event sources.

The lake's `events.parquet` has stored its `ts` column under more than
one physical encoding (parquet TIMESTAMP(NANOS) read as long via
`nanosAsLong`, and parquet TIMESTAMP(MICROS) without a timezone read as
TIMESTAMP_NTZ). The batch edge normalizes in
`sources.readers.load_table`; this module is the streaming counterpart.
Every streaming reader goes through `read_table_stream`, which infers
the actual on-disk schema (a driver-side footer read — no data scan)
and normalizes the event-time column to TIMESTAMP_LTZ with the batch
edge's own `normalize_time_column`, so the watermarked operators
downstream see exactly one dtype regardless of which encoding the
files carry. `drain` is the matching exit every
`run_*_available_now` harness uses: run to completion into a memory
sink and read it back as a batch table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_table_stream(spark: SparkSession, parquet_path: str) -> DataFrame:
    """File-source stream over a parquet file or directory, for ANY
    lake table. Streaming scans need an explicit schema; taking it
    from a batch read of the same path keeps it in lock-step with the
    on-disk encoding (and with the session's nanosAsLong conf) instead
    of a hardcoded StructType that goes stale when the lake's writer
    changes. Event-time normalization applies only when a `ts` column
    exists."""
    from elective_waiting_times_pipeline_spark.sources.readers import (
        _ensure_session_confs,
        normalize_time_column,
    )

    import os

    _ensure_session_confs(spark)
    schema = spark.read.parquet(parquet_path).schema
    reader = spark.readStream.schema(schema).format("parquet")
    # The file source needs a directory. A DIRECTORY named X.parquet
    # (this repo's own table convention for partitioned writes) must
    # stream as-is — only a true single FILE becomes parent dir +
    # glob filter (a name-suffix check would silently match nothing:
    # the leaf files inside the dir are part-*.parquet).
    if not os.path.isdir(parquet_path) and parquet_path.endswith(".parquet"):
        head, _, tail = parquet_path.rpartition("/")
        reader = reader.option("pathGlobFilter", tail)
        parquet_path = head or "."
    df = reader.load(parquet_path)
    return normalize_time_column(df)


def drain(df: DataFrame, name: str, mode: str) -> DataFrame:
    """Run a streaming frame to completion (availableNow) into a memory
    sink called ``name`` with output mode ``mode``; return the sink's
    table as a batch DataFrame."""
    q = df.writeStream.outputMode(mode).format("memory").queryName(name).trigger(availableNow=True).start()
    q.awaitTermination()
    return df.sparkSession.sql(f"SELECT * FROM {name}")
