"""Timer-driven session finalization on Spark 4's transformWithState
API — the modern typed-state successor to applyInPandasWithState
(`streaming/stateful.py`), demonstrated on the operator the older API
cannot express cleanly: EMIT-ON-INACTIVITY sessions.

`session_window` aggregation (streaming/windows.py) only releases a
session when the WATERMARK closes the window; this processor instead
keeps one ValueState per user and registers an EVENT-TIME TIMER at
`last_event + gap`. A session is emitted by whichever happens first:

- input-driven close: a new event arrives more than `gap` after the
  session's last event → the old session is emitted inline and the
  state re-seeds (the timer it left behind is detected stale and
  ignored when it fires);
- timer-driven close: the watermark passes `last_event + gap` with no
  newer event → `handleExpiredTimer` emits and clears the state.

State per key is ONE fixed-width tuple (start, last, n) plus at most a
handful of pending timers — bounded regardless of session length, and
the watermark bounds how long a key's state can linger. At 100 TB of
events this shuffles once on user_id and scales with the key count,
exactly like any stateful aggregation.

Semantics note (inherent to timers, not this implementation): events
arriving AFTER their session's timer fired start a NEW session — the
same late-data contract session_window has under a watermark.

Environment gate: the transformWithState Python protocol requires
`google.protobuf` at runtime (Spark ships the generated pb2 modules
but not the library). Where protobuf is absent the query fails at
pre-init; tests/test_streaming_tws_sessions.py auto-skips there and
validates both close paths wherever the dependency exists. The
applyInPandasWithState operators (`streaming/stateful.py`) remain the
protobuf-free stateful path.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.stateful_processor import (
    ExpiredTimerInfo,
    StatefulProcessor,
    StatefulProcessorHandle,
    TimerValues,
)
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
)

SESSION_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start_us", LongType()),
        StructField("session_end_us", LongType()),
        StructField("n_events", LongType()),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n", LongType()),
    ]
)


class SessionFinalizer(StatefulProcessor):
    """Per-user inactivity-gap sessionizer; gap in microseconds."""

    def __init__(self, gap_us: int):
        self.gap_us = gap_us

    def init(self, handle: StatefulProcessorHandle) -> None:
        self.handle = handle
        self.sess = handle.getValueState("sess", _STATE_SCHEMA)

    def _emit(self, key, start_us: int, last_us: int, n: int) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "user_id": [key[0]],
                "session_start_us": [start_us],
                "session_end_us": [last_us],
                "n_events": [n],
            }
        )

    def handleInputRows(
        self, key, rows, timerValues: TimerValues
    ) -> Iterator[pd.DataFrame]:
        # collect this batch's event times for the key (bounded by the
        # micro-batch, arriving as Arrow-sized pandas chunks)
        ts: list[int] = []
        for pdf in rows:
            ts.extend(int(v) for v in pdf["ts_us"])
        ts.sort()
        out = []
        if self.sess.exists():
            start_us, last_us, n = self.sess.get()
        else:
            start_us = last_us = ts[0]
            n = 0
        for t in ts:
            if n > 0 and t - last_us > self.gap_us:
                out.append(self._emit(key, start_us, last_us, n))
                start_us, n = t, 0
            # a late-but-within-watermark event can precede the open
            # session's start — the session interval must cover it
            start_us = min(start_us, t)
            last_us = max(last_us, t)
            n += 1
        self.sess.update((start_us, last_us, n))
        # one live timer per key: re-arm at the new deadline
        for t_old in self.handle.listTimers():
            self.handle.deleteTimer(t_old)
        self.handle.registerTimer((last_us + self.gap_us) // 1000)
        return iter(out)

    def handleExpiredTimer(
        self, key, timerValues: TimerValues, expiredTimerInfo: ExpiredTimerInfo
    ) -> Iterator[pd.DataFrame]:
        if not self.sess.exists():
            return iter([])
        start_us, last_us, n = self.sess.get()
        # stale-timer guard: a newer event moved the deadline
        if expiredTimerInfo.getExpiryTimeInMs() < (last_us + self.gap_us) // 1000:
            return iter([])
        self.sess.clear()
        return iter([self._emit(key, start_us, last_us, n)])

    def close(self) -> None:
        pass


def finalized_sessions(
    events: DataFrame,
    gap: str = "60 seconds",
    watermark: str = "10 seconds",
) -> DataFrame:
    """events(user_id, ts) → append-mode session summaries, emitted on
    inactivity rather than window close."""
    from pyspark.sql import functions as F

    gap_us = int(pd.Timedelta(gap).total_seconds() * 1_000_000)
    typed = (
        events.withWatermark("ts", watermark)
        .select("user_id", F.unix_micros("ts").alias("ts_us"), "ts")
    )
    return typed.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=SessionFinalizer(gap_us),
        outputStructType=SESSION_OUTPUT_SCHEMA,
        outputMode="Append",
        timeMode="EventTime",
    )


def run_finalized_sessions_available_now(
    spark,
    parquet_path: str,
    gap: str = "60 seconds",
    watermark: str = "10 seconds",
    query_name: str = "tws_sessions",
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Drive the finalizer over a parquet directory, one file per
    micro-batch (so timers observe advancing watermarks), to
    completion; returns the emitted session rows."""
    from elective_waiting_times_pipeline_spark.sources.readers import (
        _ensure_session_confs,
        normalize_time_column,
    )
    from elective_waiting_times_pipeline_spark.streaming.io import drain

    _ensure_session_confs(spark)
    schema = spark.read.parquet(parquet_path).schema
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(parquet_path)
    )
    events = normalize_time_column(raw)
    out = finalized_sessions(events.select("user_id", "ts"), gap=gap, watermark=watermark)
    return drain(out, query_name, "append")
