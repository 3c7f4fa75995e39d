"""Streaming sink into the month-partitioned parquet lake.

`foreachBatch` bridges a stream onto the batch writer so each
micro-batch lands with dynamic partition overwrite
(sources/readers.py::overwrite_partitions): a batch only replaces the
partitions it actually touches, and a replayed batch (restart after
failure between Spark's checkpoint commit and the file commit)
rewrites the same partitions to the same content instead of appending
duplicates — idempotent ingest without a transactional table format.

Reference analog: the monthly append loop (1b.R:383-392) rebuilt one
big CSV per run; here each month is an independently replaceable
partition and the stream's checkpoint tracks what was consumed.

CONSTRAINT: a partition's rows must arrive within ONE micro-batch —
a later batch touching the same partition replaces it, not appends.
That holds for the intended layout (one landing file per month, the
reference's own model); for sources that interleave partitions across
batches, land to a staging path and compact, or use a transactional
table format.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from elective_waiting_times_pipeline_spark.sources.readers import overwrite_partitions


def _start(source: DataFrame, fn, checkpoint_path: str, query_name: str) -> StreamingQuery:
    """Start `source` as an availableNow query that hands each
    micro-batch to `fn(batch, batch_id)`, checkpointed at
    `checkpoint_path`."""
    return (
        source.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint_path)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def stream_to_partitioned_lake(
    source: DataFrame,
    lake_path: str,
    checkpoint_path: str,
    partition_cols: tuple[str, ...] = ("monthyr",),
    query_name: str = "lake_ingest",
) -> StreamingQuery:
    """Start (and return) a streaming query that lands each micro-batch
    into the lake, replacing only the partitions present in the batch.
    Caller drives it (`availableNow` sources terminate on their own via
    `q.awaitTermination()`)."""

    def land(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        overwrite_partitions(batch, lake_path, partition_cols)

    return _start(source, land, checkpoint_path, query_name)


def stream_refresh_hourly_rollup(
    source: DataFrame,
    lake_provider,
    rollup_path: str,
    checkpoint_path: str,
    ts_col: str = "ts",
    query_name: str = "rollup_refresh",
) -> StreamingQuery:
    """Streaming continuous-aggregate maintenance: each micro-batch
    names the day partitions it touches, and the hourly rollup is
    recomputed for exactly those days from the BASE lake
    (operators/rollup.py::refresh_hourly_rollup — the rollup stays a
    pure function of the lake, never merged deltas). `lake_provider`
    is a zero-arg callable returning a fresh DataFrame over the base
    lake so each batch sees newly landed partitions. Because a refresh
    is an idempotent partition swap, checkpoint replays and duplicate
    batches are harmless — the same days just get recomputed to the
    same content.

    ORDERING CONSTRAINT: nothing here sequences a day's refresh after
    that day's LANDING in the base lake — run this query downstream of
    the landed lake (its `source` should be the lake itself, so a
    batch only fires after the files exist), or drive landing and
    refresh from the same foreachBatch. Feeding both queries the same
    upstream source concurrently can refresh day D from a lake that
    does not hold D's rows yet, and no later batch touches D again."""
    from elective_waiting_times_pipeline_spark.operators.rollup import (
        refresh_hourly_rollup,
        touched_days,
    )

    def refresh(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        days = touched_days(batch, ts_col)
        refresh_hourly_rollup(lake_provider(), rollup_path, days)

    return _start(source, refresh, checkpoint_path, query_name)


def stream_append_quantized_store(
    source: DataFrame,
    centroids_df,
    store_path: str,
    checkpoint_path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_name: str = "vector_ingest",
) -> StreamingQuery:
    """Streaming ingest into the IVF + int8 vector store: each
    micro-batch of float embeddings is cell-assigned against the
    PERSISTED centroid table (similarity.py::ivf_fit output — fit
    once, reused forever), quantized, and written under
    ``cell=<c>/batch=<id>`` partitions. Cells interleave across
    batches by nature, so plain dynamic overwrite can't make replays
    safe — the batch id in the partition path does: a replayed batch
    rewrites exactly its own (cell, batch) leaves and nothing else
    (the same exactly-once trick as the month lake, one level deeper).
    Probes read the whole store with the usual ``cell IN (...)``
    partition pruning; the extra batch level only adds leaf dirs."""
    from elective_waiting_times_pipeline_spark.operators.similarity import (
        ivf_assign,
        quantize_int8,
    )

    def land(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        assigned = ivf_assign(batch, centroids_df, vec_col=vec_col, cell_col="cell")
        s, q = quantize_int8(F.col(vec_col))
        out = assigned.select(
            F.col(id_col),
            F.col("cell"),
            s.alias("scale"),
            q.alias("qvec"),
            F.lit(batch_id).alias("batch"),
        )
        overwrite_partitions(out, store_path, partition_cols=("cell", "batch"))

    return _start(source, land, checkpoint_path, query_name)


def stream_to_lake_with_dq(
    source: DataFrame,
    lake_path: str,
    quarantine_path: str,
    checkpoint_path: str,
    constraints,
    partition_cols: tuple[str, ...] = ("monthyr",),
    unique_key=None,
    query_name: str = "dq_gated_ingest",
) -> StreamingQuery:
    """Data-quality-gated ingest (the circuit breaker): each
    micro-batch runs the single-pass constraint suite
    (operators/quality.py::dq_report); a batch with ANY violation is
    diverted whole to `quarantine_path/batch=<id>` for triage instead
    of polluting the lake, a clean batch lands via dynamic partition
    overwrite as usual. Both paths are replay-idempotent: the lake by
    partition swap, the quarantine by batch-id subdir overwrite."""
    from elective_waiting_times_pipeline_spark.operators.quality import dq_report

    # pin the constraint suite once: a one-shot iterable (generator)
    # would be consumed by batch 0 and silently disable the gate for
    # every later batch
    constraints = list(constraints)

    def land(batch: DataFrame, batch_id: int) -> None:
        # one pass decides everything (the report's n_rows gates the
        # empty batch — no separate isEmpty probe re-reading source
        # files); persist so the report scan and the write share it
        batch.persist()
        try:
            report = dq_report(batch, constraints, unique_key=unique_key).collect()[0]
            if report.n_rows == 0:
                return
            violations = sum(v for k, v in report.asDict().items() if k != "n_rows")
            if violations:
                batch.write.mode("overwrite").parquet(f"{quarantine_path}/batch={batch_id}")
            else:
                overwrite_partitions(batch, lake_path, partition_cols)
        finally:
            batch.unpersist()

    return _start(source, land, checkpoint_path, query_name)


def stream_maintain_count_min(
    source: DataFrame,
    store_path: str,
    checkpoint_path: str,
    key_col: str = "key",
    d: int = 4,
    w: int = 1024,
    query_name: str = "cms_maintain",
) -> StreamingQuery:
    """Streaming maintenance of a count-min frequency sketch
    (operators/sketches.py): each micro-batch's keys collapse to a
    <= d·w cell grid that lands under its own ``batch=<id>`` partition
    — the sketch for any point in time is the plain SUM over landed
    cells, because count-min cells merge by addition. Replays are
    exactly-once by the same trick as the vector store: a re-run batch
    rewrites exactly its own ``batch`` leaf, so cells never
    double-count. The store grows by at most d·w rows per batch no
    matter how many events the batch carried; compact old batches by
    re-summing into one leaf whenever leaf count matters."""
    from elective_waiting_times_pipeline_spark.operators.sketches import count_min_cells

    def land(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        cells = count_min_cells(batch, key_col, d=d, w=w).withColumn(
            "batch", F.lit(batch_id)
        )
        overwrite_partitions(cells, store_path, partition_cols=("batch",))

    return _start(source, land, checkpoint_path, query_name)


def read_count_min(spark: SparkSession, store_path: str) -> DataFrame:
    """Collapse a streamed count-min store back to one (row, col, cnt)
    cell grid — the exact sketch a single batch pass would have built
    over the union of every landed micro-batch."""
    return (
        spark.read.parquet(store_path)
        .groupBy("row", "col")
        .agg(F.sum("cnt").alias("cnt"))
    )


def compact_count_min(spark: SparkSession, store_path: str) -> None:
    """Collapse a streamed count-min store's per-batch leaves into one
    ``batch=-1`` leaf (cells re-summed — the merge is exact, so the
    collapsed store answers identically). Run when leaf count starts
    to matter; the overwrite replaces the whole store root in one
    write — partitionOverwriteMode pinned STATIC on this write, since
    the maintenance stream's own sink flips the session-global conf to
    dynamic mid-write, and a dynamic overwrite here would replace only
    the batch=-1 leaf while every old leaf silently DOUBLES the
    counts. A concurrently-running maintenance stream simply lands
    its next batch leaf beside the compacted one (sums still correct —
    batch ids only ever move forward, so no live leaf is lost unless
    compaction races the very batch being written; pause the stream or
    accept at-most-one-batch staleness)."""
    cells = read_count_min(spark, store_path).withColumn("batch", F.lit(-1))
    # materialize BEFORE the overwrite: the plan reads the same files
    # the write replaces
    rows = cells.collect()  # <= d*w rows by construction
    spark.createDataFrame(rows, cells.schema).write.mode("overwrite").option(
        "partitionOverwriteMode", "static"
    ).partitionBy("batch").parquet(store_path)


def stream_refresh_scd2(
    source: DataFrame,
    obs_lake_provider,
    store_path: str,
    checkpoint_path: str,
    key: str = "custkey",
    attr: str = "attr",
    eff: str = "eff",
    tie: str = "tie",
    n_buckets: int = 16,
    bucket_col: str | None = None,
    query_name: str = "scd2_refresh",
) -> StreamingQuery:
    """Streaming SCD2 dimension maintenance: each micro-batch of
    attribute observations names the key-BUCKETS it touches, and those
    buckets' histories are rebuilt from the BASE observation lake
    (operators/scd2.py::refresh_scd2 — the store stays a pure function
    of the lake, never merged deltas; late/out-of-order observations
    therefore re-version correctly instead of appending a wrong
    tail). The swap is an idempotent dynamic partition overwrite, so
    checkpoint replays and duplicate batches converge.

    Same ORDERING CONSTRAINT as stream_refresh_hourly_rollup: run this
    downstream of the landed lake (source = the lake itself), or drive
    landing and refresh from one foreachBatch, so a bucket is never
    rebuilt from a lake that does not yet hold the batch's rows."""
    from elective_waiting_times_pipeline_spark.operators.scd2 import (
        key_bucket,
        refresh_scd2,
    )

    def refresh(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        touched = [
            r.b for r in batch.select(key_bucket(key, n_buckets).alias("b")).distinct().collect()
        ]
        refresh_scd2(
            obs_lake_provider(),
            store_path,
            touched,
            key=key,
            attr=attr,
            eff=eff,
            tie=tie,
            n_buckets=n_buckets,
            bucket_col=bucket_col,
        )

    return _start(source, refresh, checkpoint_path, query_name)
