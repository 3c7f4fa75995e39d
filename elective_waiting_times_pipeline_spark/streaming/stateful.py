"""Custom stateful streaming operator via applyInPandasWithState —
the engine's arbitrary-state surface (running per-user aggregates
with state carried across micro-batches).

The reference has no streaming (SURVEY §2.12); this is the extension
pattern for incremental pipelines: a per-key running total that
survives across triggers, emitting one updated row per key per batch.
State is a (count, total) pair per user — O(keys) memory, checkpointed
by the engine."""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)
STATE_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("total", DoubleType())]
)


def _update(
    key: Tuple[int], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    # state keeps the RAW total — rounding in state would compound per
    # micro-batch and make the result depend on batch boundaries;
    # rounding is presentation, applied only on emit
    state.update((n, total))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]})


def running_user_totals(events: DataFrame) -> DataFrame:
    """Streaming per-user running (count, total) with explicit state."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_stateful_available_now(
    spark: SparkSession,
    parquet_path: str,
    query_name: str = "stateful_out",
) -> DataFrame:
    """Drive the stateful operator over a parquet directory to
    completion; returns the final per-user rows (last update wins)."""
    from elective_waiting_times_pipeline_spark.streaming.io import drain, read_table_stream

    raw = read_table_stream(spark, parquet_path)
    out = running_user_totals(raw.select("user_id", "value"))
    drain(out, query_name, "update")
    return spark.sql(
        f"SELECT user_id, max_by(n_events, n_events) AS n_events, "
        f"max_by(total_value, n_events) AS total_value FROM {query_name} GROUP BY user_id"
    )


# ---------------------------------------------------------------------------
# Streaming ordered funnel (view → click → purchase), the stateful
# counterpart of plans/catalog_events.py::funnel_conversion.
# ---------------------------------------------------------------------------

FUNNEL_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("t_view", TimestampType()),
        StructField("t_click", TimestampType()),
        StructField("t_purchase", TimestampType()),
        StructField("stage", IntegerType()),
        StructField("n_seen", LongType()),
    ]
)
# Per-user kept event times (micros): min view collapses to one value;
# clicks/purchases stay as sorted arrays because a LATE-arriving
# earlier view can validate a click we already saw (the funnel answer
# is min(click > t_view), and t_view only decreases). Production
# bounds these arrays with the attribution window (drop events older
# than watermark - window); this demo keeps them all so the result is
# EXACT under any micro-batch split.
FUNNEL_STATE_SCHEMA = StructType(
    [
        StructField("min_view", LongType()),
        StructField("clicks", ArrayType(LongType())),
        StructField("purchases", ArrayType(LongType())),
        StructField("n_seen", LongType()),
    ]
)

def _funnel_update(
    key: Tuple[int], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    min_view, clicks, purchases, n_seen = (
        state.get if state.exists else (None, [], [], 0)
    )
    clicks, purchases = list(clicks or ()), list(purchases or ())
    for pdf in pdfs:
        n_seen += len(pdf)
        ts_us = (pdf["ts"].astype("datetime64[us]").astype("int64")).tolist()
        for t, us in zip(pdf["event_type"].tolist(), ts_us):
            if t == "view":
                min_view = us if min_view is None else min(min_view, us)
            elif t == "click":
                clicks.append(us)
            elif t == "purchase":
                purchases.append(us)
    clicks.sort()
    purchases.sort()
    state.update((min_view, clicks, purchases, n_seen))
    # Recompute the funnel from state — answers only ever move earlier
    # as late data lands, so each emitted row supersedes the previous.
    t_click = None
    if min_view is not None:
        t_click = next((c for c in clicks if c > min_view), None)
    t_purchase = None
    if t_click is not None:
        t_purchase = next((p for p in purchases if p > t_click), None)
    stage = 3 if t_purchase is not None else 2 if t_click is not None else 1 if min_view is not None else 0
    as_ts = lambda us: pd.Timestamp(us, unit="us") if us is not None else pd.NaT  # noqa: E731
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "t_view": [as_ts(min_view)],
            "t_click": [as_ts(t_click)],
            "t_purchase": [as_ts(t_purchase)],
            "stage": [stage],
            "n_seen": [n_seen],
        }
    )


def streaming_funnel(events: DataFrame) -> DataFrame:
    """Streaming per-user funnel state machine: emits the user's
    current (t_view, t_click, t_purchase, stage) after every
    micro-batch that touches the user. Exact w.r.t. the batch funnel
    under any event arrival order (see FUNNEL_STATE_SCHEMA note)."""
    return events.groupBy("user_id").applyInPandasWithState(
        _funnel_update,
        outputStructType=FUNNEL_OUTPUT_SCHEMA,
        stateStructType=FUNNEL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_funnel_available_now(
    spark: SparkSession,
    parquet_path: str,
    query_name: str = "funnel_out",
) -> DataFrame:
    """Drive the streaming funnel over a parquet directory to
    completion; returns each user's FINAL funnel row (max n_seen =
    the last update, since every update sees strictly more events)."""
    from elective_waiting_times_pipeline_spark.streaming.io import drain, read_table_stream

    raw = read_table_stream(spark, parquet_path)
    out = streaming_funnel(raw.select("user_id", "event_type", "ts"))
    drain(out, query_name, "update")
    return spark.sql(
        f"SELECT user_id, max_by(t_view, n_seen) AS t_view, "
        f"max_by(t_click, n_seen) AS t_click, "
        f"max_by(t_purchase, n_seen) AS t_purchase, "
        f"max_by(stage, n_seen) AS stage FROM {query_name} GROUP BY user_id"
    )
