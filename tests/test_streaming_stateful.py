"""applyInPandasWithState running totals == batch groupBy truth."""

from __future__ import annotations

from pyspark.sql import functions as F

from elective_waiting_times_pipeline_spark.sources.readers import normalize_time_column as normalize_event_time
from elective_waiting_times_pipeline_spark.streaming.stateful import run_stateful_available_now


def test_stateful_running_totals_match_batch(spark, sf_dir):
    out = run_stateful_available_now(spark, f"{sf_dir}/events.parquet", query_name="t_stateful").toPandas()
    truth = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("t"))
        .toPandas()
    )
    m = out.merge(truth, on="user_id")
    assert len(m) == len(truth)
    assert (m.n_events == m.n).all()
    assert (abs(m.total_value - m.t) < 0.05).all()


def test_session_windows_streaming_match_batch(spark, sf_dir):
    """Streaming session_window == the same session_window run in batch
    mode (identical logical agg, incremental execution)."""
    from elective_waiting_times_pipeline_spark.streaming.windows import (
        run_sessions_available_now,
        session_window_stats,
    )

    out = run_sessions_available_now(
        spark, f"{sf_dir}/events.parquet", query_name="t_sessions"
    ).toPandas()
    batch_raw = normalize_event_time(spark.read.parquet(f"{sf_dir}/events.parquet"))
    truth = session_window_stats(batch_raw).toPandas()
    key = ["session_start", "session_end", "user_id"]
    out = out.sort_values(key).reset_index(drop=True)
    truth = truth.sort_values(key).reset_index(drop=True)
    assert len(out) == len(truth) > 0
    assert (out[key + ["n_events"]] == truth[key + ["n_events"]]).all().all()
    assert (abs(out.total_value - truth.total_value) < 1e-9).all()


def test_stream_stream_attribution_matches_batch(spark, sf_dir):
    """Watermarked stream-stream interval join == the identical logical
    join run in batch."""
    from elective_waiting_times_pipeline_spark.streaming.joins import (
        attribution_join,
        run_attribution_available_now,
    )

    out = run_attribution_available_now(
        spark, f"{sf_dir}/events.parquet", query_name="t_attr"
    ).toPandas()
    batch_raw = normalize_event_time(spark.read.parquet(f"{sf_dir}/events.parquet"))
    truth = attribution_join(batch_raw, batch_raw).toPandas()
    key = ["trigger_id", "followup_id"]
    assert len(out) == len(truth) > 0
    assert set(map(tuple, out[key].values)) == set(map(tuple, truth[key].values))


def test_normalize_event_time_all_encodings(spark):
    """The scan-edge normalizer must accept every encoding the lake has
    shipped: nanos-as-long, TIMESTAMP_NTZ (parquet us, no tz), and
    TIMESTAMP_LTZ — all mapping to the same TIMESTAMP_LTZ instant."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    us = 1_700_000_000_123_456  # 2023-11-14T22:13:20.123456Z
    as_long = spark.createDataFrame([(us * 1000,)], T.StructType([T.StructField("ts", T.LongType())]))
    as_ntz = spark.sql(f"SELECT timestamp_ntz '1970-01-01 00:00:00' + INTERVAL '{us}' MICROSECOND AS ts")
    as_ltz = spark.sql(f"SELECT timestamp_micros({us}) AS ts")
    got = set()
    for df in (as_long, as_ntz, as_ltz):
        out = normalize_event_time(df)
        assert out.schema["ts"].dataType == T.TimestampType()
        got.add(out.select(F.unix_micros("ts")).first()[0])
    assert got == {us}


def test_streaming_funnel_matches_batch(spark, sf_dir):
    """applyInPandasWithState funnel == the batch window funnel,
    exact per-user timestamps and stage, under whatever micro-batch
    split availableNow produces."""
    from elective_waiting_times_pipeline_spark.plans.catalog import SPARK_QUERIES
    from elective_waiting_times_pipeline_spark.streaming.stateful import (
        run_funnel_available_now,
    )

    out = run_funnel_available_now(
        spark, f"{sf_dir}/events.parquet", query_name="t_funnel"
    ).toPandas()
    truth = SPARK_QUERIES["funnel_conversion"](spark, sf_dir).toPandas()
    cols = ["user_id", "t_view", "t_click", "t_purchase", "stage"]
    out = out[cols].sort_values("user_id").reset_index(drop=True)
    truth = truth[cols].sort_values("user_id").reset_index(drop=True)
    assert len(out) == len(truth) > 0
    assert (out["stage"] == truth["stage"]).all()
    for c in ("t_view", "t_click", "t_purchase"):
        a, b = out[c], truth[c]
        assert (a.isna() == b.isna()).all()
        assert (a.dropna() == b.dropna()).all()


def test_streaming_funnel_exact_across_micro_batches(spark, sf_dir, tmp_path):
    """Force MULTIPLE micro-batches (3 files, maxFilesPerTrigger=1,
    files split so each user's events scatter across batches in
    NON-time order) and require the final state to still equal the
    batch funnel — the late-arriving-view case the state design is
    for."""
    from pyspark.sql import functions as F

    from elective_waiting_times_pipeline_spark.plans.catalog import SPARK_QUERIES
    from elective_waiting_times_pipeline_spark.sources.readers import normalize_time_column as normalize_event_time
    from elective_waiting_times_pipeline_spark.streaming.stateful import streaming_funnel

    ev = normalize_event_time(spark.read.parquet(f"{sf_dir}/events.parquet"))
    src = str(tmp_path / "ev_split")
    # split by a hash of event_id: time-interleaved, so batch 1 holds
    # clicks whose validating view arrives only in batch 2 or 3
    for i in range(3):
        (ev.filter(F.pmod(F.xxhash64("event_id"), F.lit(3)) == i)
           .coalesce(1).write.parquet(f"{src}/part{i}"))
    schema = spark.read.parquet(f"{src}/part0").schema
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(f"{src}/part*")
    )
    out_stream = streaming_funnel(raw.select("user_id", "event_type", "ts"))
    q = (
        out_stream.writeStream.outputMode("update")
        .format("memory")
        .queryName("t_funnel_mb")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.sql(
        "SELECT user_id, max_by(t_view, n_seen) AS t_view, "
        "max_by(t_click, n_seen) AS t_click, "
        "max_by(t_purchase, n_seen) AS t_purchase, "
        "max_by(stage, n_seen) AS stage FROM t_funnel_mb GROUP BY user_id"
    ).toPandas()
    truth = SPARK_QUERIES["funnel_conversion"](spark, sf_dir).toPandas()
    cols = ["user_id", "t_view", "t_click", "t_purchase", "stage"]
    out = out[cols].sort_values("user_id").reset_index(drop=True)
    truth = truth[cols].sort_values("user_id").reset_index(drop=True)
    assert len(out) == len(truth) > 0
    assert (out["stage"] == truth["stage"]).all()
    for c in ("t_view", "t_click", "t_purchase"):
        a, b = out[c], truth[c]
        assert (a.isna() == b.isna()).all()
        assert (a.dropna() == b.dropna()).all()


def test_running_total_state_is_not_rounded_across_batches():
    # 250 micro-batches of value 0.004: rounding IN STATE would snap
    # the total back toward 0 every batch; the raw-state form emits
    # the true 1.0 (rounded only on the emitted row).
    import pandas as pd

    from elective_waiting_times_pipeline_spark.streaming.stateful import _update

    class FakeState:
        exists = False
        get = None

        def update(self, v):
            self.get = v
            self.exists = True

    st = FakeState()
    out = None
    for _ in range(250):
        out = list(_update((1,), iter([pd.DataFrame({"value": [0.004]})]), st))[0]
    assert st.get[0] == 250
    assert abs(out["total_value"][0] - 1.0) < 1e-6
