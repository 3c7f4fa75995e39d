"""Catalog: time-series surface over the `events` table — tumbling
windows, sessionization, series generation. The streaming counterparts
(watermarked Structured Streaming versions of the same aggregations)
live in streaming/windows.py; these batch forms are the oracle-checked
semantics."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from elective_waiting_times_pipeline_spark.operators import timeseries as TS
from elective_waiting_times_pipeline_spark.plans.registry import query, sl2
from elective_waiting_times_pipeline_spark.sources.readers import load_table


# ---------------------------------------------------------------------------
# Tumbling time window (1 hour) per event type. Batch equivalent of
# the streaming windowed aggregation (streaming/windows.py runs the
# same logical agg with a watermark).
# ---------------------------------------------------------------------------
@query(
    "events_tumbling_window",
    headline=True,
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(sl2("value")) / 100.0).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )


# ---------------------------------------------------------------------------
# Sessionization: 30-minute inactivity gap via lag + cumulative flag.
# Gap math in integer epoch-microseconds — exact on both engines.
# ---------------------------------------------------------------------------
@query(
    "sessionize",
    headline=True,
    oracle="""
    WITH gaps AS (
      SELECT user_id, event_id,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > 1800000000 THEN 1 ELSE 0 END AS new_session
      FROM events
    )
    SELECT user_id,
           CAST(1 + SUM(new_session) AS BIGINT) AS n_sessions,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM gaps
    GROUP BY user_id
    """,
)
def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    gaps = ev.select(
        "user_id",
        "event_id",
        F.when(us - F.lag(us).over(w) > 1_800_000_000, 1).otherwise(0).alias("new_session"),
    )
    return gaps.groupBy("user_id").agg(
        (1 + F.sum("new_session")).cast("long").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


# ---------------------------------------------------------------------------
# U3 — month-series generator (`1b.R:58-79` year_lkup): a relational
# sequence + explode instead of a driver-side loop.
# ---------------------------------------------------------------------------
@query(
    "month_series",
    oracle="""
    SELECT CAST(unnest(generate_series(DATE '2018-04-01', DATE '2020-03-01', INTERVAL 1 MONTH)) AS TIMESTAMP) AS month_start
    """,
)
def month_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2018-04-01").cast("date"),
                F.lit("2020-03-01").cast("date"),
                F.expr("INTERVAL 1 MONTH"),
            )
        ).alias("_m")
        # TIMESTAMP, not DATE: the rest of the catalog's time columns
        # are timestamps (the driver-green mapping on both engines);
        # this was the lone DateType output in all 194 queries
    ).select(F.col("_m").cast("timestamp").alias("month_start"))


# ---------------------------------------------------------------------------
# J6 — point-in-polygon spatial join (reference: `over(points,
# polygons)` at `1c. Look for provider locations.R:454`), via the
# broadcast-polygon ray-casting pandas UDF. The oracle uses axis-
# aligned rectangles so pure BETWEEN predicates verify the generic
# ray-cast path (bounds at 3dp so no point sits on an edge).
# ---------------------------------------------------------------------------
_ZONES = [
    ("zone_a", [(9.995, 4.5), (80.005, 4.5), (80.005, 30.5), (9.995, 30.5)]),
    ("zone_b", [(100.005, 30.5), (180.005, 30.5), (180.005, 64.5), (100.005, 64.5)]),
]


@query(
    "spatial_point_in_polygon",
    oracle="""
    SELECT event_id,
           CASE WHEN value > 9.995 AND value < 80.005 AND user_id > 4.5 AND user_id < 30.5 THEN 'zone_a'
                WHEN value > 100.005 AND value < 180.005 AND user_id > 30.5 AND user_id < 64.5 THEN 'zone_b'
           END AS polygon
    FROM events
    """,
)
def spatial_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    from elective_waiting_times_pipeline_spark.operators.geo import spatial_join

    ev = load_table(spark, sf_dir, "events")
    return spatial_join(ev, _ZONES, "value", "user_id").select("event_id", "polygon")


# ---------------------------------------------------------------------------
# JSON prop extraction (events.props is a JSON string) — modern-lake
# scalar family the reference lacks (its F1 surface is plain strings).
# ---------------------------------------------------------------------------
# ---------------------------------------------------------------------------
# As-of join (extension operator — Spark has no native one; DuckDB's
# ASOF JOIN is the oracle): each click gets the user's most recent
# purchase value at-or-before its timestamp.
# ---------------------------------------------------------------------------
@query(
    "asof_join_backward",
    headline=True,
    oracle="""
    SELECT l.event_id, l.user_id, r.value AS last_purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') l
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def asof_join_backward_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from elective_waiting_times_pipeline_spark.operators.asof import asof_join_backward

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value")
    )
    out = asof_join_backward(clicks, purchases, by="user_id", ts="ts", value_cols=["value"])
    return out.select("event_id", "user_id", F.col("value").alias("last_purchase_value"))


# ---------------------------------------------------------------------------
# Range (interval) join — beyond-reference extension (operators/
# rangejoin.py): each click event matched to every "busy window"
# (hours with >= 3 purchases, widened to [h-30min, h+90min) so
# windows overlap and a point can hit 2 of them — a genuine non-equi
# interval join, not an hour-truncate equi-join in disguise). Binned
# strategy: equi-join on hour-wide bins, oracle = DuckDB's native
# inequality join.
# ---------------------------------------------------------------------------
@query(
    "range_join_busy_windows",
    headline=True,
    oracle="""
    WITH busy AS (
      SELECT date_trunc('hour', ts) AS h, CAST(COUNT(*) AS BIGINT) AS n_purchases
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1 HAVING COUNT(*) >= 3
    ), win AS (
      SELECT h - INTERVAL 30 MINUTE AS win_start,
             h + INTERVAL 90 MINUTE AS win_end,
             n_purchases
      FROM busy
    )
    SELECT e.event_id, w.win_start, w.win_end, w.n_purchases
    FROM events e JOIN win w
      ON e.ts >= w.win_start AND e.ts < w.win_end
    WHERE e.event_type = 'click'
    """,
)
def range_join_busy_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from elective_waiting_times_pipeline_spark.operators.rangejoin import range_join

    ev = load_table(spark, sf_dir, "events")
    busy = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).alias("n_purchases"))
        .filter(F.col("n_purchases") >= 3)
    )
    wins = busy.select(
        (F.col("h") - F.expr("INTERVAL 30 MINUTES")).alias("win_start"),
        (F.col("h") + F.expr("INTERVAL 90 MINUTES")).alias("win_end"),
        "n_purchases",
    )
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "ts")
    out = range_join(clicks, wins, "ts", "win_start", "win_end", strategy="binned", bin_width=3600)
    return out.select("event_id", "win_start", "win_end", "n_purchases")


@query(
    "events_json_extract",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS INT) AS k_value
    FROM events
    """,
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_value"),
    )


# ---------------------------------------------------------------------------
# Rolling time-range mean (1 hour per user): RANGE-framed window over
# epoch-micros ordering. The frame mean is computed as exact
# scaled-long sum / count so both engines divide identical integers
# (registry.sl2 rule); ties in ts are frame-peers in both engines
# (RANGE semantics), so no order pinning is needed.
# ---------------------------------------------------------------------------
@query(
    "rolling_mean_1h",
    oracle="""
    SELECT user_id, event_id,
           ROUND(CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER w AS DOUBLE) / 100
                 / COUNT(*) OVER w, 6) AS roll_avg_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """,
)
def rolling_mean_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.round((F.sum(sl2("value")).over(w) / 100.0) / F.count(F.lit(1)).over(w), 6).alias(
            "roll_avg_1h"
        ),
    )


# ---------------------------------------------------------------------------
# Hopping (sliding) window — 1 hour wide, 30 min slide: each event
# lands in exactly 2 windows. Spark's native F.window(slide) vs a
# DuckDB offset-lattice expansion (start = trunc_hour(ts - off) + off
# for off in {0, 30min} — the same two windows). The streaming form is
# the identical logical agg under a watermark (streaming/windows.py).
# ---------------------------------------------------------------------------
@query(
    "events_hopping_window",
    oracle="""
    WITH hops AS (
      SELECT e.event_type,
             date_trunc('hour', e.ts - o.off) + o.off AS window_start,
             e.value
      FROM events e
      CROSS JOIN (SELECT unnest([INTERVAL 0 MINUTE, INTERVAL 30 MINUTE]) AS off) o
    )
    SELECT event_type, window_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS total_value
    FROM hops
    GROUP BY 1, 2
    """,
)
def events_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(sl2("value")) / 100.0).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )


# ---------------------------------------------------------------------------
# Trending: top-3 event types per hour by count — the per-window top-k
# shape (grouped count → per-window row_number). Partial counts
# map-side; the window operator sees |windows|×|types| rows, not
# events.
# ---------------------------------------------------------------------------
@query(
    "events_trending_topk",
    oracle="""
    WITH counts AS (
      SELECT date_trunc('hour', ts) AS window_start, event_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY window_start ORDER BY n DESC, event_type) AS rnk
      FROM counts
    )
    SELECT window_start, event_type, n, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= 3
    """,
)
def events_trending_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy(
        F.date_trunc("hour", "ts").alias("window_start"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("window_start").orderBy(F.col("n").desc(), "event_type")
    return (
        counts.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 3)
    )


# ---------------------------------------------------------------------------
# Ordered funnel (view → click → purchase): per user, the first view,
# the first click AFTER that view, the first purchase AFTER that
# click, and the furthest stage reached. Three chained min-windows on
# the SAME user partitioning — Catalyst plans ONE exchange and reuses
# it for all three Window ops and the final agg; no self-joins of the
# event log (the classic funnel anti-pattern at scale).
# ---------------------------------------------------------------------------
@query(
    "funnel_conversion",
    headline=True,
    oracle="""
    WITH u AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view
      FROM events GROUP BY 1
    ), c AS (
      SELECT e.user_id, MIN(e.ts) AS t_click
      FROM events e JOIN u USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > u.t_view
      GROUP BY 1
    ), p AS (
      SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM events e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY 1
    )
    SELECT u.user_id, u.t_view, c.t_click, p.t_purchase,
           CAST(CASE WHEN p.t_purchase IS NOT NULL THEN 3
                     WHEN c.t_click IS NOT NULL THEN 2
                     WHEN u.t_view IS NOT NULL THEN 1
                     ELSE 0 END AS INT) AS stage
    FROM u LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = Window.partitionBy("user_id")
    t = F.col("ts")
    typ = F.col("event_type")
    step1 = ev.withColumn("t_view", F.min(F.when(typ == "view", t)).over(w))
    step2 = step1.withColumn(
        "t_click", F.min(F.when((typ == "click") & (t > F.col("t_view")), t)).over(w)
    )
    step3 = step2.withColumn(
        "t_purchase", F.min(F.when((typ == "purchase") & (t > F.col("t_click")), t)).over(w)
    )
    return step3.groupBy("user_id").agg(
        F.first("t_view").alias("t_view"),
        F.first("t_click").alias("t_click"),
        F.first("t_purchase").alias("t_purchase"),
        F.when(F.first("t_purchase").isNotNull(), 3)
        .when(F.first("t_click").isNotNull(), 2)
        .when(F.first("t_view").isNotNull(), 1)
        .otherwise(0)
        .cast("int")
        .alias("stage"),
    )


# ---------------------------------------------------------------------------
# Cohort retention: users grouped by first-activity day, counted at
# each day-offset they return. One user-keyed window for the cohort
# day, a distinct over (user, offset), one count agg — the event log
# is never self-joined.
# ---------------------------------------------------------------------------
@query(
    "cohort_retention",
    oracle="""
    WITH f AS (
      SELECT user_id, date_trunc('day', MIN(ts)) AS cohort_day
      FROM events GROUP BY 1
    ), d AS (
      SELECT DISTINCT e.user_id, f.cohort_day,
             date_diff('day', f.cohort_day, date_trunc('day', e.ts)) AS day_offset
      FROM events e JOIN f USING (user_id)
    )
    SELECT cohort_day, CAST(day_offset AS INT) AS day_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM d GROUP BY 1, 2
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    w = Window.partitionBy("user_id")
    cohort = F.date_trunc("DAY", F.min("ts").over(w))
    return (
        ev.withColumn("cohort_day", cohort)
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.date_trunc("DAY", F.col("ts")), F.col("cohort_day"))
            .cast("int")
            .alias("day_offset"),
        )
        .distinct()
        .groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


# ---------------------------------------------------------------------------
# Dense hourly series + LOCF gap fill (the hypertable
# time_bucket_gapfill + locf pattern). One fact-table aggregation;
# grid + windows are |types| x |hours| rows at any corpus size.
# ---------------------------------------------------------------------------
@query(
    "events_gapfill_locf",
    headline=True,
    oracle="""
    WITH agg AS (
      SELECT event_type AS grp, date_trunc('hour', ts) AS bucket,
             COUNT(*) AS n_events,
             SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS sv
      FROM events GROUP BY 1, 2
    ), bounds AS (
      SELECT grp, MIN(bucket) AS mn, MAX(bucket) AS mx FROM agg GROUP BY 1
    ), grid AS (
      SELECT grp, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS bucket FROM bounds
    ), j AS (
      SELECT g.grp, g.bucket,
             a.n_events,
             CASE WHEN a.n_events IS NOT NULL
                  THEN ROUND(CAST(a.sv AS DOUBLE) / 100 / a.n_events, 6) END AS avg_value
      FROM grid g LEFT JOIN agg a USING (grp, bucket)
    )
    SELECT grp AS event_type, bucket,
           CAST(COALESCE(n_events, 0) AS BIGINT) AS n_events,
           avg_value,
           LAST_VALUE(avg_value IGNORE NULLS)
             OVER (PARTITION BY grp ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
           COALESCE(n_events, 0) = 0 AS is_gap
    FROM j
    """,
)
def events_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return TS.gapfill_locf(ev)


# ---------------------------------------------------------------------------
# Rolling z-score anomaly flags on the hourly bucket series: each
# bucket's mean vs the trailing 24 buckets (current excluded).
# Rolling state = two exact longs + a count over the bucketed series,
# never over the raw log.
# ---------------------------------------------------------------------------
@query(
    "events_anomaly_zscore",
    oracle="""
    WITH agg AS (
      SELECT event_type AS grp, date_trunc('hour', ts) AS bucket,
             COUNT(*) AS n_events,
             SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS sv
      FROM events GROUP BY 1, 2
    ), au AS (
      SELECT grp, bucket,
             CAST(floor(CAST(sv AS DOUBLE) / n_events + 0.5) AS BIGINT) AS au,
             ROUND(CAST(sv AS DOUBLE) / 100 / n_events, 6) AS bucket_avg
      FROM agg
    ), roll AS (
      SELECT grp, bucket, au, bucket_avg,
             COUNT(au) OVER w AS n,
             SUM(au) OVER w AS s,
             SUM(au * au) OVER w AS ss
      FROM au
      WINDOW w AS (PARTITION BY grp ORDER BY bucket
                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    ), scored AS (
      SELECT grp, bucket, bucket_avg,
             CASE WHEN n >= 8
                       AND (CAST(ss AS DOUBLE) / n
                            - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)) > 0
                  THEN ROUND((au - CAST(s AS DOUBLE) / n)
                             / sqrt(CAST(ss AS DOUBLE) / n
                                    - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)), 6)
             END AS z_score
      FROM roll
    )
    SELECT grp AS event_type, bucket, bucket_avg, z_score,
           COALESCE(abs(z_score) > 3, FALSE) AS is_anomaly
    FROM scored
    """,
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return TS.rolling_zscore(ev)


# ---------------------------------------------------------------------------
# STL-lite decomposition of the daily revenue series: trend = centered
# 7-day moving average (full windows only), seasonal = day-of-week
# mean of the detrended series, remainder = the rest — the classic
# additive decomposition a forecasting pipeline runs before modeling.
# Exactness: daily revenue is cents (yc); the detrended value rides as
# the EXACT integer 7·yc − Σ₇yc (avoiding an order-sensitive double
# sum in the seasonal mean), so every emitted double is a fixed
# sequence of correctly-rounded divisions of exact integers. The
# rolling window is over the bounded calendar-day axis
# (lint-whitelisted); the seasonal join is a broadcast of ≤7 rows.
# ---------------------------------------------------------------------------
@query(
    "stl_decompose_daily",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day,
             CAST(((date_diff('day', TIMESTAMP '2024-01-01 00:00:00',
                              date_trunc('day', ts)) % 7) + 7) % 7 AS BIGINT) AS dow,
             CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS yc
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2
    ), roll AS (
      -- full-window guard checks CALENDAR span, not just row count: a
      -- missing day would otherwise let 7 rows straddle 8 days and
      -- silently misalign the MA
      SELECT day, dow, yc,
             CASE WHEN COUNT(*) OVER w = 7
                   AND date_diff('day', MIN(day) OVER w, MAX(day) OVER w) = 6
                  THEN SUM(yc) OVER w END AS t7
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ), seas AS (
      SELECT dow,
             CAST(SUM(7 * yc - t7) AS BIGINT) AS s_sum,
             CAST(COUNT(*) AS BIGINT) AS s_cnt
      FROM roll WHERE t7 IS NOT NULL GROUP BY dow
    )
    SELECT r.day,
           CAST(r.yc AS DOUBLE) / 100 AS revenue,
           ROUND(CAST(r.t7 AS DOUBLE) / 7 / 100, 6) AS trend,
           ROUND(CAST(s.s_sum AS DOUBLE) / s.s_cnt / 7 / 100, 6) AS seasonal,
           ROUND(CAST(7 * r.yc - r.t7 AS DOUBLE) / 7 / 100
                 - CAST(s.s_sum AS DOUBLE) / s.s_cnt / 7 / 100, 6) AS remainder
    FROM roll r JOIN seas s USING (dow)
    WHERE r.t7 IS NOT NULL
    """,
)
def stl_decompose_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    day_idx = F.datediff(
        F.date_trunc("DAY", "ts"), F.lit("2024-01-01 00:00:00").cast("timestamp")
    )
    daily = ev.groupBy(
        F.date_trunc("DAY", "ts").alias("day"),
        F.pmod(day_idx, 7).cast("long").alias("dow"),
    ).agg(F.sum(sl2("value")).alias("yc"))
    w = Window.orderBy("day").rowsBetween(-3, 3)
    # day-axis-sized; checkpointed because TWO consumers (the seasonal
    # agg and the final join) would otherwise each re-run the corpus
    # agg + rolling window
    # full-window guard checks the CALENDAR span too: 7 rows around a
    # missing day straddle 8 days and must not pass as a 7-day MA
    full = (F.count(F.lit(1)).over(w) == 7) & (
        F.datediff(F.max("day").over(w), F.min("day").over(w)) == 6
    )
    roll = (
        daily.select(
            "day",
            "dow",
            "yc",
            F.when(full, F.sum("yc").over(w)).alias("t7"),
        )
        .filter(F.col("t7").isNotNull())
        .localCheckpoint(eager=False)
    )
    seas = roll.groupBy("dow").agg(
        F.sum(7 * F.col("yc") - F.col("t7")).alias("s_sum"),
        F.count(F.lit(1)).alias("s_cnt"),
    )
    trend = F.col("t7").cast("double") / 7 / 100
    seasonal = F.col("s_sum").cast("double") / F.col("s_cnt") / 7 / 100
    detr = (7 * F.col("yc") - F.col("t7")).cast("double") / 7 / 100
    return roll.join(F.broadcast(seas), "dow").select(
        "day",
        (F.col("yc").cast("double") / 100).alias("revenue"),
        F.round(trend, 6).alias("trend"),
        F.round(seasonal, 6).alias("seasonal"),
        F.round(detr - seasonal, 6).alias("remainder"),
    )


# ---------------------------------------------------------------------------
# SEASONALLY-adjusted anomaly detection: hourly event counts scored
# against their (event_type, hour-of-week) baseline — the standard
# detrend for strongly-cyclic traffic, where a Monday-9am spike is
# normal but the same count at Sunday-3am is an incident (the rolling
# z-score above would flag both or neither). The baseline relation is
# |event_type|×168 rows — broadcast back onto the hourly series. All
# moments are exact integer sums; mean/σ/z are the same fixed sequence
# of correctly-rounded double ops on both engines (no transcendentals)
# so the rounded z hash-matches. Hour-of-week via pmod off the
# 2024-01-01 Monday anchor — sign-safe for pre-anchor timestamps.
# ---------------------------------------------------------------------------
@query(
    "seasonal_anomaly_how",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             CAST(((date_diff('day', TIMESTAMP '2024-01-01 00:00:00',
                              date_trunc('day', ts)) % 7) + 7) % 7 * 24
                  + hour(ts) AS BIGINT) AS how,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2, 3
    ), base AS (
      SELECT event_type, how,
             CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n_events) AS BIGINT) AS s,
             CAST(SUM(n_events * n_events) AS BIGINT) AS ss
      FROM hourly GROUP BY 1, 2
    )
    SELECT h.event_type, h.bucket, h.n_events,
           ROUND((h.n_events - CAST(s AS DOUBLE) / k)
                 / sqrt(CAST(ss AS DOUBLE) / k
                        - (CAST(s AS DOUBLE) / k) * (CAST(s AS DOUBLE) / k)), 6) AS z_score
    FROM hourly h JOIN base b USING (event_type, how)
    WHERE k >= 4
      AND CAST(ss AS DOUBLE) / k - (CAST(s AS DOUBLE) / k) * (CAST(s AS DOUBLE) / k) > 0
    ORDER BY abs((h.n_events - CAST(s AS DOUBLE) / k)
                 / sqrt(CAST(ss AS DOUBLE) / k
                        - (CAST(s AS DOUBLE) / k) * (CAST(s AS DOUBLE) / k))) DESC,
             h.event_type, h.bucket
    LIMIT 20
    """,
)
def seasonal_anomaly_how(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    day_idx = F.datediff(
        F.date_trunc("DAY", "ts"), F.lit("2024-01-01 00:00:00").cast("timestamp")
    )
    hourly = (
        ev.groupBy(
            "event_type",
            F.date_trunc("HOUR", "ts").alias("bucket"),
            (F.pmod(day_idx, 7) * 24 + F.hour("ts")).cast("long").alias("how"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    # baseline moments as window aggregates over the SAME hourly
    # relation — one raw-log scan, not a second groupBy+join pass
    # (each (type, hour-of-week) partition holds one row per week:
    # bounded by the series length, never by event volume)
    wb = Window.partitionBy("event_type", "how")
    j = (
        hourly.withColumn("k", F.count(F.lit(1)).over(wb))
        .withColumn("s", F.sum("n_events").over(wb))
        .withColumn("ss", F.sum(F.col("n_events") * F.col("n_events")).over(wb))
    )
    mean = F.col("s").cast("double") / F.col("k")
    var = F.col("ss").cast("double") / F.col("k") - mean * mean
    z = (F.col("n_events") - mean) / F.sqrt(var)
    # top-20 by |z|: the selection is deterministic because z is the
    # same fixed op sequence on both engines (bit-identical doubles)
    # and ties fall through to the (event_type, bucket) key
    return (
        j.filter((F.col("k") >= 4) & (var > 0))
        .select(
            "event_type", "bucket", "n_events", F.round(z, 6).alias("z_score"), z.alias("_z")
        )
        .orderBy(F.abs(F.col("_z")).desc(), "event_type", "bucket")
        .limit(20)
        .drop("_z")
    )


# ---------------------------------------------------------------------------
# Rolling 7-day distinct active users. COUNT(DISTINCT) over a sliding
# window has no window-function form; the scalable rewrite is the
# contribution explode: distinct (day, user) pairs each contribute to
# the 7 target days they keep a user active for, then one
# count-distinct per target day. Cost is |distinct day-user pairs| x 7
# — independent of raw event volume after the first distinct — vs the
# naive per-day self-join that rescans the log per day.
# ---------------------------------------------------------------------------
@query(
    "rolling_active_users",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events
    ), b AS (
      SELECT MIN(day) AS mn, MAX(day) AS mx FROM pairs
    ), contrib AS (
      SELECT unnest(generate_series(day, day + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS d,
             user_id
      FROM pairs
    )
    SELECT d AS day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active_users_7d
    FROM contrib, b
    WHERE d <= b.mx
    GROUP BY d
    """,
)
def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    pairs = ev.select(F.date_trunc("DAY", "ts").alias("day"), "user_id").distinct()
    bounds = pairs.agg(F.max("day").alias("mx"))
    contrib = pairs.select(
        F.explode(
            F.sequence(
                "day", F.col("day") + F.expr("INTERVAL 6 DAYS"), F.expr("INTERVAL 1 DAY")
            )
        ).alias("d"),
        "user_id",
    )
    return (
        contrib.crossJoin(F.broadcast(bounds))
        .filter(F.col("d") <= F.col("mx"))
        .groupBy(F.col("d").alias("day"))
        .agg(F.countDistinct("user_id").alias("active_users_7d"))
    )


# ---------------------------------------------------------------------------
# Dyadic EWMA (alpha = 1/2) over the hourly bucket series — exact
# integer weights (au_i << i, denominator 2^L - 1) make the smoother
# bit-deterministic across engines; one float division at the end.
# ---------------------------------------------------------------------------
@query(
    "events_ewma",
    oracle="""
    WITH agg AS (
      SELECT event_type AS grp, date_trunc('hour', ts) AS bucket,
             CAST(floor(CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
                  / COUNT(*) + 0.5) AS BIGINT) AS au
      FROM events GROUP BY 1, 2
    ), arrs AS (
      SELECT grp, bucket, au,
             list(au) FILTER (WHERE au IS NOT NULL)
                      OVER (PARTITION BY grp ORDER BY bucket
                            ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) AS arr
      FROM agg
    )
    SELECT grp AS event_type, bucket,
           ROUND(au / 100.0, 6) AS bucket_avg,
           ROUND(CAST(list_sum(list_transform(list_zip(arr, range(1, len(arr) + 1)),
                                              p -> p[1] * (CAST(1 AS BIGINT) << (p[2] - 1)))) AS DOUBLE)
                 / NULLIF((CAST(1 AS BIGINT) << len(arr)) - 1, 0) / 100.0, 6) AS ewma
    FROM arrs
    """,
)
def events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return TS.dyadic_ewma(ev)


# ---------------------------------------------------------------------------
# Native session_window (batch form of the streaming session operator):
# per-user sessions split at 30-minute inactivity, one row per session
# with start/end/stats. The oracle derives the same sessions from
# first principles (lag + cumulative new-session flag), pinning
# Spark's native operator to the textbook definition: session end =
# last event + gap.
# ---------------------------------------------------------------------------
@query(
    "events_session_window",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > 1800000000 THEN 1 ELSE 0 END AS new_session
      FROM events
    ), numbered AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_no
      FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100
             AS total_value
    FROM numbered
    GROUP BY user_id, session_no
    """,
)
def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(sl2("value")) / 100.0).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# Funnel latency percentiles: among fully-converted users, the
# view->click / click->purchase / view->purchase time distributions.
# Same single-exchange funnel plan as funnel_conversion, then one
# global agg over integer epoch-microsecond deltas (exact inputs, so
# both engines interpolate identical order statistics).
# ---------------------------------------------------------------------------
@query(
    "funnel_latency",
    oracle="""
    WITH u AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view
      FROM events GROUP BY 1
    ), c AS (
      SELECT e.user_id, MIN(e.ts) AS t_click
      FROM events e JOIN u USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > u.t_view
      GROUP BY 1
    ), p AS (
      SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM events e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY 1
    ), conv AS (
      SELECT u.user_id,
             epoch_us(c.t_click) - epoch_us(u.t_view) AS d_vc,
             epoch_us(p.t_purchase) - epoch_us(c.t_click) AS d_cp,
             epoch_us(p.t_purchase) - epoch_us(u.t_view) AS d_vp
      FROM u JOIN c USING (user_id) JOIN p USING (user_id)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
           ROUND(quantile_cont(d_vc, 0.5) / 1000000.0, 4) AS p50_view_click_s,
           ROUND(quantile_cont(d_cp, 0.5) / 1000000.0, 4) AS p50_click_purchase_s,
           ROUND(quantile_cont(d_vp, 0.5) / 1000000.0, 4) AS p50_view_purchase_s,
           ROUND(quantile_cont(d_vp, 0.9) / 1000000.0, 4) AS p90_view_purchase_s
    FROM conv
    """,
)
def funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    conv = funnel_conversion(spark, sf_dir).filter(F.col("stage") == 3)
    d_vc = F.unix_micros("t_click") - F.unix_micros("t_view")
    d_cp = F.unix_micros("t_purchase") - F.unix_micros("t_click")
    d_vp = F.unix_micros("t_purchase") - F.unix_micros("t_view")
    deltas = conv.select(d_vc.alias("d_vc"), d_cp.alias("d_cp"), d_vp.alias("d_vp"))
    return deltas.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.round(F.percentile("d_vc", F.lit(0.5)) / 1000000.0, 4).alias("p50_view_click_s"),
        F.round(F.percentile("d_cp", F.lit(0.5)) / 1000000.0, 4).alias("p50_click_purchase_s"),
        F.round(F.percentile("d_vp", F.lit(0.5)) / 1000000.0, 4).alias("p50_view_purchase_s"),
        F.round(F.percentile("d_vp", F.lit(0.9)) / 1000000.0, 4).alias("p90_view_purchase_s"),
    )


# ---------------------------------------------------------------------------
# Planar radius join via the 3x3 neighbor-grid stencil (operators/
# geo.py::radius_join) — the 2-D spatial-join scale pattern. Points
# derive deterministically from customer keys (pure integer/decimal
# arithmetic), so the quadratic DuckDB oracle replays exactly.
# ---------------------------------------------------------------------------
@query(
    "spatial_radius_join",
    oracle="""
    WITH pts AS (
      SELECT c_custkey AS pid,
             CAST(c_custkey % 97 AS DOUBLE) + CAST(c_custkey % 13 AS DOUBLE) / 16
               AS x,
             CAST(c_custkey % 89 AS DOUBLE) + CAST(c_custkey % 11 AS DOUBLE) / 16
               AS y
      FROM customer WHERE c_custkey < 600
    )
    SELECT a.pid AS id_a, b.pid AS id_b,
           ROUND(sqrt((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)), 6)
             AS dist
    FROM pts a JOIN pts b ON a.pid < b.pid
    WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 2.25
    """,
)
def spatial_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from elective_waiting_times_pipeline_spark.operators.geo import radius_join

    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 600)
    pts = c.select(
        F.col("c_custkey").alias("pid"),
        ((F.col("c_custkey") % 97).cast("double") + (F.col("c_custkey") % 13).cast("double") / 16).alias("x"),
        ((F.col("c_custkey") % 89).cast("double") + (F.col("c_custkey") % 11).cast("double") / 16).alias("y"),
    )
    return radius_join(pts, radius=1.5)


# ---------------------------------------------------------------------------
# Event-type transition matrix (first-order Markov view of user
# behavior): consecutive event pairs per user via one lag window,
# counted globally with transition probabilities per source state.
# ---------------------------------------------------------------------------
@query(
    "event_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type
      FROM events
    ), pairs AS (
      SELECT prev_type, event_type AS next_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT prev_type, next_type, n,
           ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY prev_type), 6)
             AS p_transition
    FROM pairs
    """,
)
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wt = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(wt), 6).alias("p_transition"),
    )


# ---------------------------------------------------------------------------
# Time-weighted average over the irregular per-user series (the
# hypertable time_weight('LOCF') aggregate): each observation holds
# its value until the next one, so it weighs by that duration.
# Weights in whole seconds and values in scaled cents keep the
# accumulating products exact longs; one lead window + one agg.
# ---------------------------------------------------------------------------
@query(
    "time_weighted_avg",
    oracle="""
    WITH seq AS (
      SELECT user_id,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc,
             (epoch_us(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
              - epoch_us(ts)) // 1000000 AS dur_s
      FROM events
    )
    SELECT user_id,
           CAST(SUM(dur_s) AS BIGINT) AS observed_s,
           ROUND(CAST(SUM(vc * dur_s) AS DOUBLE) / SUM(dur_s) / 100, 6) AS twa
    FROM seq WHERE dur_s IS NOT NULL AND dur_s > 0
    GROUP BY user_id
    """,
)
def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dur_s = (
        (F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts")) / 1_000_000
    ).cast("long")
    seq = ev.select(
        "user_id", sl2("value").alias("vc"), dur_s.alias("dur_s")
    ).filter(F.col("dur_s").isNotNull() & (F.col("dur_s") > 0))
    return seq.groupBy("user_id").agg(
        F.sum("dur_s").cast("long").alias("observed_s"),
        F.round(F.sum(F.col("vc") * F.col("dur_s")).cast("double") / F.sum("dur_s") / 100, 6).alias(
            "twa"
        ),
    )


# ---------------------------------------------------------------------------
# Peak concurrency (sweep line in SQL): sessions from the native
# session_window explode into +1/-1 boundary events; a running sum
# ordered by (time, delta) — ends processed before starts at a tie,
# since session end (last event + gap) is exclusive — yields the
# concurrency curve, maxed per event type. Event types are few and
# skewed, so the running sum never partitions by type alone: the
# day-bucketed distributed prefix sum (sampling.ordered_prefix —
# per-(type, day) windows + broadcast per-day offsets, the
# training_order machinery) keeps one hot type spread across the
# whole time axis.
# ---------------------------------------------------------------------------
@query(
    "peak_concurrency",
    headline=True,
    oracle="""
    WITH flagged AS (
      SELECT event_type, user_id, ts,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts))
                       OVER (PARTITION BY event_type, user_id ORDER BY ts, event_id)
                       > 1800000000 THEN 1 ELSE 0 END AS new_session
      FROM events
    ), numbered AS (
      SELECT event_type, user_id, ts,
             SUM(new_session) OVER (PARTITION BY event_type, user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sess
      FROM flagged
    ), sessions AS (
      SELECT event_type, MIN(ts) AS s_start, MAX(ts) + INTERVAL 30 MINUTE AS s_end
      FROM numbered GROUP BY event_type, user_id, sess
    ), bounds AS (
      SELECT event_type, s_start AS t, 1 AS delta FROM sessions
      UNION ALL
      SELECT event_type, s_end AS t, -1 AS delta FROM sessions
    ), curve AS (
      SELECT event_type,
             SUM(delta) OVER (PARTITION BY event_type ORDER BY t, delta
                              ROWS UNBOUNDED PRECEDING) AS concurrent
      FROM bounds
    )
    SELECT event_type, CAST(MAX(concurrent) AS BIGINT) AS peak_concurrent
    FROM curve GROUP BY event_type
    """,
)
def peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sessions = (
        ev.groupBy("event_type", "user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.lit(1).alias("_one"))
        .select("event_type", F.col("w.start").alias("s_start"), F.col("w.end").alias("s_end"))
    )
    # explode, not union: a union's two branches would each re-derive
    # the session aggregation (two extra event-log scans in the plan)
    bounds = sessions.select(
        "event_type",
        F.explode(
            F.array(
                F.struct(F.col("s_start").alias("t"), F.lit(1).alias("delta")),
                F.struct(F.col("s_end").alias("t"), F.lit(-1).alias("delta")),
            )
        ).alias("b"),
    ).select("event_type", "b.t", "b.delta", F.unix_micros("b.t").alias("_tus"))
    from elective_waiting_times_pipeline_spark.operators import sampling as S

    # hash-sampled cut points on the boundary-TIME axis, NOT calendar
    # days: with a fixed time span, per-(type, day) partitions deepen
    # linearly with data (a shifted-user ×100 probe read 35× on the
    # day form); equal-mass buckets keep partition depth ~|bounds|/64
    # at any density. The sample comes from the RAW event-time column
    # — cuts only steer parallelism (any monotone bucketing is exact),
    # and session boundaries track event times closely, so the cheap
    # single-column TakeOrdered scan replaces either a checkpoint of
    # the bounds relation or a second session_window derivation.
    cuts = S.range_cut_points(ev.select(F.unix_micros("ts").alias("_tus")), "_tus")
    # fused peak-of-running-sum: max_rows(off + cw) == max_buckets(off
    # + max cw-in-bucket), so the boundary stream is windowed ONCE and
    # reduced partition-locally — no second sort+window for the
    # offsets branch, no broadcast join back onto the curve, no
    # curve-sized final aggregation (plan: 2 fewer sorts, the
    # BroadcastHashJoin gone, final agg runs on the ≤|types|·64-row
    # bucket axis).
    return S.grouped_prefix_peak(
        bounds,
        [F.col("t"), F.col("delta")],
        S.range_bucket("_tus", cuts),
        group_cols=["event_type"],
        weight="delta",
        out="peak_concurrent",
    )


# ---------------------------------------------------------------------------
# Mergeable distinct-count sketches (operators/sketches.py): per-day
# HLL sketches merged into a range estimate — the never-rescan
# incremental form of COUNT(DISTINCT). Rows-only driver check (the
# sketch estimate is engine-specific); the local test bounds the
# estimate against the exact distinct and proves the persisted-sketch
# path equals the one-shot merge.
# ---------------------------------------------------------------------------
@query("hll_incremental_users")
def hll_incremental_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from elective_waiting_times_pipeline_spark.operators.sketches import (
        daily_user_sketches,
        merged_distinct_estimate,
    )

    ev = load_table(spark, sf_dir, "events")
    return merged_distinct_estimate(daily_user_sketches(ev))


# ---------------------------------------------------------------------------
# VARIANT ingestion (Spark 4's semi-structured type): parse the JSON
# props column once into variant, extract typed fields with
# variant_get — the schema-on-read path that replaces per-query
# get_json_object re-parsing. Same result as events_json_extract, so
# the oracle is the plain DuckDB JSON extraction.
# ---------------------------------------------------------------------------
@query(
    "events_variant_extract",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS INT) AS k_value
    FROM events
    """,
)
def events_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.expr("variant_get(parse_json(props), '$.k', 'int')").alias("k_value"),
    )


# ---------------------------------------------------------------------------
# As-of FORWARD join ("what happened next"): each click attached to
# the next purchase at-or-after it per user — the symmetric form of
# asof_join_backward, same one-window plan with the carry running
# backward from the future. Oracle: DuckDB ASOF with <=.
# ---------------------------------------------------------------------------
@query(
    "asof_join_forward",
    oracle="""
    SELECT l.event_id, l.user_id, r.value AS next_purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') l
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
      ON l.user_id = r.user_id AND l.ts <= r.ts
    """,
)
def asof_join_forward_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from elective_waiting_times_pipeline_spark.operators.asof import asof_join_forward

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value")
    )
    out = asof_join_forward(clicks, purchases, by="user_id", ts="ts", value_cols=["value"])
    return out.select("event_id", "user_id", F.col("value").alias("next_purchase_value"))


# ---------------------------------------------------------------------------
# Inter-arrival time distribution per event type (the ops-metrics
# view: is traffic bursty or steady): consecutive gaps per (type,
# user) from one lag window, exact integer second deltas, percentile
# interpolation over identical order statistics in both engines.
# ---------------------------------------------------------------------------
@query(
    "interarrival_stats",
    oracle="""
    WITH gaps AS (
      SELECT event_type,
             (epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY event_type, user_id
                                                    ORDER BY ts, event_id))) // 1000000 AS gap_s
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(gap_s) AS BIGINT) AS n_gaps,
           ROUND(quantile_cont(gap_s, 0.5), 4) AS p50_gap_s,
           ROUND(quantile_cont(gap_s, 0.9), 4) AS p90_gap_s,
           ROUND(quantile_cont(gap_s, 0.99), 4) AS p99_gap_s
    FROM gaps WHERE gap_s IS NOT NULL
    GROUP BY event_type
    """,
)
def interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type", "user_id").orderBy("ts", "event_id")
    gap = ((F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))) / 1_000_000).cast("long")
    gaps = ev.select("event_type", gap.alias("gap_s")).filter(F.col("gap_s").isNotNull())
    return gaps.groupBy("event_type").agg(
        F.count("gap_s").alias("n_gaps"),
        F.round(F.percentile("gap_s", F.lit(0.5)), 4).alias("p50_gap_s"),
        F.round(F.percentile("gap_s", F.lit(0.9)), 4).alias("p90_gap_s"),
        F.round(F.percentile("gap_s", F.lit(0.99)), 4).alias("p99_gap_s"),
    )


# ---------------------------------------------------------------------------
# Retention-rate curve: cohort_retention's counts normalized into the
# day-N retention percentage every growth dashboard plots — returning
# users at each offset over the cohort's day-0 size.
# ---------------------------------------------------------------------------
@query(
    "retention_curve",
    oracle="""
    WITH f AS (
      SELECT user_id, date_trunc('day', MIN(ts)) AS cohort_day
      FROM events GROUP BY 1
    ), d AS (
      SELECT DISTINCT e.user_id, f.cohort_day,
             date_diff('day', f.cohort_day, date_trunc('day', e.ts)) AS day_offset
      FROM events e JOIN f USING (user_id)
    ), counts AS (
      SELECT cohort_day, CAST(day_offset AS INT) AS day_offset,
             CAST(COUNT(*) AS BIGINT) AS n_users
      FROM d GROUP BY 1, 2
    ), base AS (
      SELECT cohort_day, n_users AS day0 FROM counts WHERE day_offset = 0
    )
    SELECT c.cohort_day, c.day_offset, c.n_users,
           ROUND(CAST(c.n_users AS DOUBLE) / b.day0, 6) AS retention_rate
    FROM counts c JOIN base b USING (cohort_day)
    """,
)
def retention_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = cohort_retention(spark, sf_dir)
    base = counts.filter(F.col("day_offset") == 0).select(
        "cohort_day", F.col("n_users").alias("day0")
    )
    return counts.join(F.broadcast(base), "cohort_day").select(
        "cohort_day",
        "day_offset",
        "n_users",
        F.round(F.col("n_users") / F.col("day0"), 6).alias("retention_rate"),
    )


# ---------------------------------------------------------------------------
# Kaplan-Meier survival curve for time-to-first-purchase (survival
# analysis with right censoring — the correct way to report
# conversion latency when many users haven't converted YET; a naive
# mean over converters only is biased). Per user: entry = first view,
# event = first later purchase (delay in whole hours), censor = last
# observed activity otherwise. The curve computes over the DISTINCT
# delay axis (tiny): risk sets from a cumulative window; the product
# of (1 - d/n) factors is an ordered left-fold of IEEE doubles
# (division / multiplication / floor are correctly-rounded and
# bit-identical on any IEEE-754 engine — unlike ln/exp, whose libm
# ulp drift flipped a snap boundary at sf0.1 in round 4), reported as
# an integer ppm (censored-at-t users remain at risk at t, the
# standard deaths-before-censoring convention).
#
# Fold-order hardening (round 6): the oracle previously built the
# factor sequence with `list(...) OVER` + `list_reduce`, whose
# within-frame list ordering is not contractually guaranteed across
# DuckDB versions (the driver's engine hash-mismatched at sf0.01
# while DuckDB 1.0.0 locally agreed at every sf). Both sides now make
# the multiply order EXPLICIT: the oracle folds via a recursive CTE
# over row_number-ordered terms (a strict sequential left-fold on any
# SQL engine), and the Spark side folds an `array_sort`ed
# (t_h, factor) struct array instead of trusting collect_list's frame
# order. Same sequence of correctly-rounded multiplies on both
# engines, no version-sensitive construct left.
# ---------------------------------------------------------------------------
@query(
    "survival_conversion",
    oracle="""
    WITH RECURSIVE u AS (
      SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN ts END) AS t0,
             MAX(ts) AS t_last
      FROM events GROUP BY 1
    ), p AS (
      SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM events e JOIN u USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > u.t0
      GROUP BY 1
    ), pop AS (
      SELECT u.user_id,
             CASE WHEN p.t_purchase IS NOT NULL
                  THEN (epoch_us(p.t_purchase) - epoch_us(u.t0)) // 3600000000
                  ELSE (epoch_us(u.t_last) - epoch_us(u.t0)) // 3600000000 END AS t_h,
             CASE WHEN p.t_purchase IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM u LEFT JOIN p USING (user_id)
      WHERE u.t0 IS NOT NULL
    ), marks AS (
      SELECT t_h, CAST(SUM(ev) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS leaving
      FROM pop GROUP BY t_h
    ), risk AS (
      SELECT t_h, d,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM pop)
               - COALESCE(SUM(leaving) OVER (ORDER BY t_h
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
      FROM marks
    ), terms AS (
      SELECT t_h, d, n_risk,
             CAST(1 AS DOUBLE) - CAST(d AS DOUBLE) / n_risk AS factor
      FROM risk WHERE d > 0 AND d < n_risk
    ), ord AS (
      SELECT t_h, d, n_risk, factor,
             ROW_NUMBER() OVER (ORDER BY t_h) AS rn
      FROM terms
    ), fold AS (
      SELECT rn, t_h, d, n_risk, factor AS surv FROM ord WHERE rn = 1
      UNION ALL
      SELECT o.rn, o.t_h, o.d, o.n_risk, f.surv * o.factor
      FROM fold f JOIN ord o ON o.rn = f.rn + 1
    )
    SELECT t_h AS delay_hours, CAST(n_risk AS BIGINT) AS n_risk, d AS d_events,
           CAST(floor(surv * 1000000 + 0.5) AS BIGINT) AS survival_ppm
    FROM fold
    """,
)
def survival_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t0"),
        F.max("ts").alias("t_last"),
    )
    p = (
        ev.join(u, "user_id")
        .filter((F.col("event_type") == "purchase") & (F.col("ts") > F.col("t0")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    pop = (
        u.join(p, "user_id", "left")
        .filter(F.col("t0").isNotNull())
        .select(
            F.when(
                F.col("t_purchase").isNotNull(),
                ((F.unix_micros("t_purchase") - F.unix_micros("t0")) / 3_600_000_000).cast("long"),
            )
            .otherwise(
                ((F.unix_micros("t_last") - F.unix_micros("t0")) / 3_600_000_000).cast("long")
            )
            .alias("t_h"),
            F.when(F.col("t_purchase").isNotNull(), 1).otherwise(0).alias("ev"),
        )
        .localCheckpoint(eager=False)  # feeds marks AND the population count
    )
    marks = pop.groupBy("t_h").agg(
        F.sum("ev").cast("long").alias("d"), F.count(F.lit(1)).cast("long").alias("leaving")
    )
    total = pop.agg(F.count(F.lit(1)).alias("n_total"))
    wcum = Window.orderBy("t_h").rowsBetween(Window.unboundedPreceding, -1)
    risk = (
        marks.crossJoin(F.broadcast(total))
        .withColumn(
            "n_risk", F.col("n_total") - F.coalesce(F.sum("leaving").over(wcum), F.lit(0))
        )
    )
    terms = risk.filter((F.col("d") > 0) & (F.col("d") < F.col("n_risk"))).withColumn(
        "factor", F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk")
    )
    # Ordered left-fold of the running factor list: ((1.0*f1)*f2)*...*fk.
    # 1.0*f1 == f1 exactly, so the sequence of correctly-rounded IEEE
    # multiplies is identical to the oracle's recursive-CTE fold. The
    # fold order is made explicit with array_sort over (t_h, factor)
    # structs (t_h is distinct per row, so the sort is total) rather
    # than trusting collect_list's frame order. The window is
    # axis-sized (distinct delay hours), a whitelisted bounded global
    # window.
    wS = Window.orderBy("t_h").rowsBetween(Window.unboundedPreceding, 0)
    return terms.select(
        F.col("t_h").alias("delay_hours"),
        "n_risk",
        F.col("d").alias("d_events"),
        F.floor(
            F.aggregate(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("t_h", "factor")).over(wS)
                    ),
                    lambda s: s["factor"],
                ),
                F.lit(1.0),
                lambda acc, x: acc * x,
            )
            * 1000000
            + 0.5
        )
        .cast("long")
        .alias("survival_ppm"),
    )


# ---------------------------------------------------------------------------
# As-of join with staleness tolerance (pandas merge_asof(tolerance)):
# last purchase value per click, but only if it happened within the
# past hour — stale matches become NULL rather than silently ancient.
# Oracle: DuckDB ASOF + an age CASE on the matched row.
# ---------------------------------------------------------------------------
@query(
    "asof_join_tolerance",
    oracle="""
    SELECT l.event_id, l.user_id,
           CASE WHEN epoch_us(l.ts) - epoch_us(r.ts) <= 3600000000
                THEN r.value END AS recent_purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') l
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def asof_join_tolerance_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from elective_waiting_times_pipeline_spark.operators.asof import (
        asof_join_backward_tolerance,
    )

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value")
    )
    out = asof_join_backward_tolerance(
        clicks, purchases, by="user_id", ts="ts", value_cols=["value"], tolerance_s=3600
    )
    return out.select("event_id", "user_id", F.col("value").alias("recent_purchase_value"))


# ---------------------------------------------------------------------------
# Linear-interpolation gap fill — the interpolate() companion to
# events_gapfill_locf: gap buckets get the straight line between
# their nearest observed neighbors (integer hour offsets keep the
# weights exact in both engines).
# ---------------------------------------------------------------------------
@query(
    "events_gapfill_interp",
    oracle="""
    WITH agg AS (
      SELECT event_type AS grp, date_trunc('hour', ts) AS bucket,
             COUNT(*) AS n_events,
             SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS sv
      FROM events GROUP BY 1, 2
    ), bounds AS (
      SELECT grp, MIN(bucket) AS mn, MAX(bucket) AS mx FROM agg GROUP BY 1
    ), grid AS (
      SELECT grp, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS bucket FROM bounds
    ), base AS (
      SELECT g.grp, g.bucket,
             epoch_us(g.bucket) // 3600000000 AS h,
             COALESCE(a.n_events, 0) AS n_events,
             CASE WHEN a.n_events IS NOT NULL
                  THEN ROUND(CAST(a.sv AS DOUBLE) / 100 / a.n_events, 6) END AS avg_value,
             CASE WHEN a.n_events IS NOT NULL AND a.sv IS NOT NULL
                  THEN epoch_us(g.bucket) // 3600000000 END AS h_obs
      FROM grid g LEFT JOIN agg a USING (grp, bucket)
    ), nbr AS (
      SELECT grp, bucket, h, n_events, avg_value,
             LAST_VALUE(avg_value IGNORE NULLS) OVER wb AS prev_v,
             LAST_VALUE(h_obs IGNORE NULLS) OVER wb AS prev_h,
             FIRST_VALUE(avg_value IGNORE NULLS) OVER wf AS next_v,
             FIRST_VALUE(h_obs IGNORE NULLS) OVER wf AS next_h
      FROM base
      WINDOW wb AS (PARTITION BY grp ORDER BY bucket
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wf AS (PARTITION BY grp ORDER BY bucket
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT grp AS event_type, bucket, CAST(n_events AS BIGINT) AS n_events, avg_value,
           CASE WHEN avg_value IS NOT NULL THEN avg_value
                ELSE ROUND(prev_v + (next_v - prev_v)
                           * CAST(h - prev_h AS DOUBLE) / CAST(next_h - prev_h AS DOUBLE), 6)
           END AS filled_value,
           n_events = 0 AS is_gap
    FROM nbr
    """,
)
def events_gapfill_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return TS.gapfill_interpolate(ev)


# ---------------------------------------------------------------------------
# Co-occurrence lift (association mining over user baskets): for each
# event-type pair, P(a,b) / (P(a) P(b)) over users — lift > 1 means
# the behaviors attract. Distinct (user, type) first, so the pair
# self-join is bounded by |types|^2 per user, never raw event volume.
# ---------------------------------------------------------------------------
@query(
    "cooccurrence_lift",
    oracle="""
    WITH ut AS (
      SELECT DISTINCT user_id, event_type FROM events
    ), n AS (
      SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM ut
    ), singles AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM ut GROUP BY 1
    ), pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS n_both
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b, p.n_both,
           ROUND(CAST(p.n_both AS DOUBLE) * n.n_users / (sa.n * sb.n), 6) AS lift
    FROM pairs p
    JOIN singles sa ON sa.event_type = p.type_a
    JOIN singles sb ON sb.event_type = p.type_b, n
    """,
)
def cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # four consumers (n_users, singles, both self-join legs) read the
    # distinct (user, type) relation; measured at the ×10 lake a
    # localCheckpoint pin is FLAT (1.61 s both forms — the identical
    # distinct exchanges already reuse), and the pin would be
    # user-scaled (grows with the corpus), so the un-pinned form stays
    ut = ev.select("user_id", "event_type").distinct()
    n = ut.agg(F.count_distinct("user_id").alias("n_users"))
    singles = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a, b = ut.alias("a"), ut.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"), F.col("b.event_type").alias("type_b")
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sa = F.broadcast(singles.select(F.col("event_type").alias("type_a"), F.col("n").alias("na")))
    sb = F.broadcast(singles.select(F.col("event_type").alias("type_b"), F.col("n").alias("nb")))
    return (
        pairs.join(sa, "type_a")
        .join(sb, "type_b")
        .crossJoin(F.broadcast(n))
        .select(
            "type_a",
            "type_b",
            "n_both",
            F.round(
                F.col("n_both").cast("double") * F.col("n_users") / (F.col("na") * F.col("nb")),
                6,
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# Mann-Kendall trend test per event type: the nonparametric is-this-
# metric-trending check over the DAILY value series. S = sum of
# sgn(x_j - x_i) over ordered day pairs — exact integers; the pair
# join runs over the bucketed series only (|days|^2 per type, tiny),
# never the raw log. Continuity-corrected z from the exact S.
# ---------------------------------------------------------------------------
@query(
    "trend_mann_kendall",
    oracle="""
    WITH daily AS (
      SELECT event_type AS grp, date_trunc('day', ts) AS d,
             SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS sv
      FROM events GROUP BY 1, 2
    ), pairs AS (
      SELECT a.grp,
             CAST(SUM(CASE WHEN b.sv > a.sv THEN 1 WHEN b.sv < a.sv THEN -1 ELSE 0 END)
                  AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM daily a JOIN daily b ON a.grp = b.grp AND a.d < b.d
      GROUP BY a.grp
    ), sized AS (
      SELECT grp, s, n_pairs,
             CAST((1 + sqrt(1.0 + 8 * n_pairs)) / 2 AS DOUBLE) AS n
      FROM pairs
    )
    SELECT grp AS event_type, s AS mk_s, CAST(n AS BIGINT) AS n_days,
           ROUND((s - CASE WHEN s > 0 THEN 1 WHEN s < 0 THEN -1 ELSE 0 END)
                 / sqrt(n * (n - 1) * (2 * n + 5) / 18), 6) AS mk_z
    FROM sized
    """,
)
def trend_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type").alias("grp"), F.date_trunc("DAY", "ts").alias("d")
    ).agg(F.sum(sl2("value")).alias("sv"))
    a, b = daily.alias("a"), daily.alias("b")
    sgn = (
        F.when(F.col("b.sv") > F.col("a.sv"), 1)
        .when(F.col("b.sv") < F.col("a.sv"), -1)
        .otherwise(0)
    )
    pairs = (
        a.join(b, (F.col("a.grp") == F.col("b.grp")) & (F.col("a.d") < F.col("b.d")))
        .groupBy(F.col("a.grp").alias("grp"))
        .agg(F.sum(sgn).cast("long").alias("s"), F.count(F.lit(1)).alias("n_pairs"))
    )
    n = (1 + F.sqrt(1.0 + 8 * F.col("n_pairs"))) / 2
    corr = F.when(F.col("s") > 0, 1).when(F.col("s") < 0, -1).otherwise(0)
    return pairs.select(
        F.col("grp").alias("event_type"),
        F.col("s").alias("mk_s"),
        n.cast("long").alias("n_days"),
        F.round((F.col("s") - corr) / F.sqrt(n * (n - 1) * (2 * n + 5) / 18), 6).alias("mk_z"),
    )


# ---------------------------------------------------------------------------
# Top session paths: the most common within-session event-type
# sequences (ts-then-event_id order pins ties). Path strings build
# per session — a bounded-cardinality string per session row — and
# one count agg ranks them; top-k membership pinned by (count desc,
# path).
# ---------------------------------------------------------------------------
@query(
    "top_session_paths",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > 1800000000 THEN 1 ELSE 0 END AS new_session
      FROM events
    ), numbered AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sess
      FROM flagged
    ), paths AS (
      SELECT user_id, sess,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM numbered GROUP BY user_id, sess
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path
    LIMIT 10
    """,
)
def top_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    flagged = ev.withColumn(
        "new_session", F.when(gap > 1_800_000_000, 1).otherwise(0)
    ).withColumn("sess", F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    paths = (
        flagged.groupBy("user_id", "sess")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# New vs returning users per day — the growth dashboard's daily split:
# a user is "new" on their first activity day, "returning" on every
# later active day. One user-keyed min + a distinct day relation.
# ---------------------------------------------------------------------------
@query(
    "new_vs_returning",
    oracle="""
    WITH f AS (
      SELECT user_id, date_trunc('day', MIN(ts)) AS first_day FROM events GROUP BY 1
    ), d AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
    )
    SELECT d.day,
           CAST(SUM(CASE WHEN d.day = f.first_day THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
           CAST(SUM(CASE WHEN d.day > f.first_day THEN 1 ELSE 0 END) AS BIGINT) AS returning_users
    FROM d JOIN f USING (user_id)
    GROUP BY d.day
    """,
)
def new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(F.date_trunc("DAY", F.min("ts")).alias("first_day"))
    d = ev.select("user_id", F.date_trunc("DAY", "ts").alias("day")).distinct()
    return (
        d.join(f, "user_id")
        .groupBy("day")
        .agg(
            F.sum(F.when(F.col("day") == F.col("first_day"), 1).otherwise(0))
            .cast("long")
            .alias("new_users"),
            F.sum(F.when(F.col("day") > F.col("first_day"), 1).otherwise(0))
            .cast("long")
            .alias("returning_users"),
        )
    )


# ---------------------------------------------------------------------------
# Seasonality heatmap: the (day-of-week x hour-of-day) activity grid
# every traffic dashboard plots — one hash agg to at most 168 cells.
# ---------------------------------------------------------------------------
@query(
    "seasonality_heatmap",
    oracle="""
    SELECT CAST(dayofweek(ts) AS INT) AS dow,
           CAST(hour(ts) AS INT) AS hour,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100
             AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def seasonality_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        (F.dayofweek("ts") - 1).cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hour"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.sum(sl2("value")) / 100.0).alias("total_value"),
    )


# ---------------------------------------------------------------------------
# Daily ARPU: purchase revenue over daily active users — the last of
# the growth-metric trio (actives, new/returning, revenue-per-user).
# Two aggregates over one day-keyed pass each.
# ---------------------------------------------------------------------------
@query(
    "arpu_daily",
    oracle="""
    WITH rev AS (
      SELECT date_trunc('day', ts) AS day,
             SUM(CASE WHEN event_type = 'purchase'
                      THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS rc
      FROM events GROUP BY 1
    ), dau AS (
      SELECT date_trunc('day', ts) AS day,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS actives
      FROM events GROUP BY 1
    )
    SELECT d.day, d.actives,
           CAST(r.rc AS DOUBLE) / 100 AS revenue,
           ROUND(CAST(r.rc AS DOUBLE) / 100 / d.actives, 6) AS arpu
    FROM dau d JOIN rev r USING (day)
    """,
)
def arpu_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("DAY", "ts").alias("day")
    rev = ev.groupBy(day).agg(
        F.sum(F.when(F.col("event_type") == "purchase", sl2("value")).otherwise(0)).alias("rc")
    )
    dau = ev.groupBy(day).agg(F.count_distinct("user_id").alias("actives"))
    return dau.join(rev, "day").select(
        "day",
        "actives",
        (F.col("rc").cast("double") / 100).alias("revenue"),
        F.round(F.col("rc").cast("double") / 100 / F.col("actives"), 6).alias("arpu"),
    )


# ---------------------------------------------------------------------------
# Daily autocorrelation function (lags 1..7): the weekly-seasonality /
# trend-persistence diagnostic over the daily event-count series.
# The corpus collapses to ONE bounded row per day first (map-side
# combinable count), so the lag window runs on the calendar-day axis
# — the whitelisted bounded-axis class, like lag_delta's months. All
# moments are exact integers (counts, their products, their squares)
# accumulated as DECIMAL(38,0)/HUGEINT; the textbook ACF
#   r_k = sum((x_t - m)(x_{t-k} - m)) / sum((x_t - m)^2)
# is cleared of the rational mean m = S/n by multiplying through by
# n^2, leaving one exact integer ratio per lag:
#   r_k = (n^2 P_k - n S (A_k + B_k) + (n-k') S^2) / (n (n Q - S^2))
# where P_k/A_k/B_k sum over the k-overlap window and k' is the
# overlap shortfall — identical float division in both engines.
# ---------------------------------------------------------------------------
@query(
    "daily_autocorrelation",
    oracle="""
    WITH observed AS (
      SELECT date_trunc('day', ts) AS day, CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ), grid AS (
      SELECT unnest(generate_series(MIN(day), MAX(day), INTERVAL 1 DAY)) AS day
      FROM observed
    ), daily AS (
      -- dense calendar grid: a zero-event day is x=0, so LAG(x, k)
      -- always pairs days exactly k CALENDAR days apart
      SELECT grid.day, COALESCE(o.x, 0) AS x
      FROM grid LEFT JOIN observed o USING (day)
    ), lagged AS (
      SELECT x,
             LAG(x, 1) OVER (ORDER BY day) AS x1, LAG(x, 2) OVER (ORDER BY day) AS x2,
             LAG(x, 3) OVER (ORDER BY day) AS x3, LAG(x, 4) OVER (ORDER BY day) AS x4,
             LAG(x, 5) OVER (ORDER BY day) AS x5, LAG(x, 6) OVER (ORDER BY day) AS x6,
             LAG(x, 7) OVER (ORDER BY day) AS x7
      FROM daily
    ), s AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n, CAST(SUM(x) AS HUGEINT) AS S,
             CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS Q,
             {cols}
      FROM lagged
    )
    SELECT lag,
           ROUND(CAST(n*n*P - n*S*(A + B) + m*S*S AS DOUBLE)
                 / CAST(n * (n*Q - S*S) AS DOUBLE), 6) AS acf
    FROM (
      {unions}
    )
    """.format(
        cols=", ".join(
            f"CAST(SUM(CASE WHEN x{k} IS NOT NULL THEN CAST(x AS HUGEINT) * x{k} END) AS HUGEINT) AS P{k}, "
            f"CAST(SUM(CASE WHEN x{k} IS NOT NULL THEN x END) AS HUGEINT) AS A{k}, "
            f"CAST(SUM(CASE WHEN x{k} IS NOT NULL THEN x{k} END) AS HUGEINT) AS B{k}, "
            f"CAST(COUNT(x{k}) AS HUGEINT) AS m{k}"
            for k in range(1, 8)
        ),
        unions=" UNION ALL ".join(
            f"SELECT {k} AS lag, P{k} AS P, A{k} AS A, B{k} AS B, m{k} AS m, n, S, Q FROM s"
            for k in range(1, 8)
        ),
    ),
)
def daily_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    observed = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    # dense calendar grid (a zero-event day is x=0): without it, LAG
    # pairs days k ROWS apart, not k calendar days, and the weekly
    # ACF is wrong on exactly the gappy data it should diagnose
    grid = observed.agg(F.min("day").alias("lo"), F.max("day").alias("hi")).select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    daily = grid.join(observed, "day", "left").select(
        "day", F.coalesce("x", F.lit(0)).cast("long").alias("x")
    )
    w = Window.orderBy("day")  # bounded calendar-day axis
    lagged = daily.select(
        "x", *[F.lag("x", k).over(w).alias(f"x{k}") for k in range(1, 8)]
    )
    dec = "decimal(38,0)"
    aggs = [
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("x").cast(dec).alias("S"),
        F.sum(F.col("x").cast(dec) * F.col("x")).cast(dec).alias("Q"),
    ]
    for k in range(1, 8):
        xk = F.col(f"x{k}")
        aggs += [
            F.sum(F.when(xk.isNotNull(), F.col("x").cast(dec) * xk)).cast(dec).alias(f"P{k}"),
            F.sum(F.when(xk.isNotNull(), F.col("x"))).cast(dec).alias(f"A{k}"),
            F.sum(xk).cast(dec).alias(f"B{k}"),
            F.count(xk).cast(dec).alias(f"m{k}"),
        ]
    s = lagged.agg(*aggs)
    per_lag = s.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("lag"),
                        F.col(f"P{k}").alias("P"),
                        F.col(f"A{k}").alias("A"),
                        F.col(f"B{k}").alias("B"),
                        F.col(f"m{k}").alias("m"),
                        F.col("n"),
                        F.col("S"),
                        F.col("Q"),
                    )
                    for k in range(1, 8)
                ]
            )
        ).alias("r")
    ).select("r.*")
    num = (
        F.col("n") * F.col("n") * F.col("P")
        - F.col("n") * F.col("S") * (F.col("A") + F.col("B"))
        + F.col("m") * F.col("S") * F.col("S")
    )
    den = F.col("n") * (F.col("n") * F.col("Q") - F.col("S") * F.col("S"))
    return per_lag.select(
        F.col("lag").cast("int"),
        F.round(num.cast("double") / den.cast("double"), 6).alias("acf"),
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust trend: the median of all pairwise slopes of the
# daily value series, per event type — the estimator companion to
# trend_mann_kendall's test statistic (same bounded daily axis, same
# pairwise self-join; the pair count is days² regardless of corpus
# size, so the quadratic lives on the calendar axis, never the fact
# table). Slopes divide exact cent integers by exact day counts, so
# the doubles — and their median, both engines interpolating the same
# two order statistics — are bit-identical before the final round.
# ---------------------------------------------------------------------------
@query(
    "theil_sen_trend",
    oracle="""
    WITH daily AS (
      SELECT event_type AS grp, date_trunc('day', ts) AS d,
             SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS sv
      FROM events GROUP BY 1, 2
    ), slopes AS (
      SELECT a.grp,
             (b.sv - a.sv) / CAST(date_diff('day', a.d, b.d) AS DOUBLE) / 100 AS slope
      FROM daily a JOIN daily b ON a.grp = b.grp AND a.d < b.d
    )
    SELECT grp AS event_type,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY slope), 6) AS sen_slope
    FROM slopes GROUP BY grp
    """,
)
def theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type").alias("grp"), F.date_trunc("DAY", "ts").alias("d")
    ).agg(F.sum(sl2("value")).alias("sv"))
    a, b = daily.alias("a"), daily.alias("b")
    slope = (
        (F.col("b.sv") - F.col("a.sv"))
        / F.datediff(F.col("b.d"), F.col("a.d")).cast("double")
        / 100
    )
    pairs = a.join(b, (F.col("a.grp") == F.col("b.grp")) & (F.col("a.d") < F.col("b.d"))).select(
        F.col("a.grp").alias("grp"), slope.alias("slope")
    )
    return pairs.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.percentile("slope", F.lit(0.5)), 6).alias("sen_slope"),
    ).select(F.col("grp").alias("event_type"), "n_pairs", "sen_slope")


# ---------------------------------------------------------------------------
# Mann-Whitney U test: does `value` differ in distribution between two
# event types? The nonparametric two-sample companion to
# `ab_test_welch` (which assumes normality). Needs only the
# distinct-value axis — cnt_a and cnt per value, tie-averaged ranks
# from the range-bucketed prefix machinery (operators/rankstats.py),
# then ONE aggregate: the rank sum of group A is Σ cnt_a(v)·avgrank(v)
# — no join back to the fact rows at all, so the whole test is one
# hash agg + the bounded prefix + one final agg. Tie-corrected normal
# approximation; exact integer sums feed a fixed-order double formula
# the oracle repeats verbatim.
# ---------------------------------------------------------------------------
@query(
    "mann_whitney_value",
    oracle="""
    WITH t AS (
      SELECT event_type AS g, value AS v FROM events
      WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
    ), r AS (
      SELECT g, 2 * RANK() OVER (ORDER BY v) + COUNT(*) OVER (PARTITION BY v) - 1 AS r2
      FROM t
    ), s AS (
      SELECT CAST(SUM(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS na,
             CAST(SUM(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS nb,
             SUM(CASE WHEN g = 'click' THEN r2 ELSE 0 END) AS r2a
      FROM r
    ), ties AS (
      SELECT SUM(c * c * c - c) AS tsum
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY v)
    )
    SELECT na AS n_a, nb AS n_b,
           (CAST(r2a AS DOUBLE) - CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) + 1.0)) / 2.0
             AS u_stat,
           ROUND(((CAST(r2a AS DOUBLE) - CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) + 1.0)) / 2.0
                  - CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 2.0)
                 / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0
                        * ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) + 1.0)
                           - CAST(tsum AS DOUBLE)
                             / ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
                                * (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 1.0)))), 6)
             AS z_score
    FROM s, ties
    """,
)
def mann_whitney_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from elective_waiting_times_pipeline_spark.operators.rankstats import mann_whitney_u

    ev = load_table(spark, sf_dir, "events")
    return mann_whitney_u(ev, "value", "event_type", "click", "purchase")


# ---------------------------------------------------------------------------
# CUSUM changepoint detection per event type: the day where the
# cumulative deviation of daily volume from the series mean peaks —
# the classic single-changepoint estimator (argmax_k |Σ_{i<=k}(x_i -
# x̄)|). Everything stays in EXACT integers until display: with
# T = Σ sv and n days, n·S_k = n·(Σ_{i<=k} sv_i) - k·T is an exact
# long, so the argmax comparison never touches a float (windowed
# double sums are engine-unstable — DuckDB's segment-tree windows
# add in a different order than a sequential scan). The windows ride
# the per-type DAILY axis (<= days-in-data rows after the corpus
# agg), the same bounded class as daily_autocorrelation.
# ---------------------------------------------------------------------------
@query(
    "cusum_changepoint",
    oracle="""
    WITH daily AS (
      SELECT event_type AS g, date_trunc('day', ts) AS d,
             SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS sv
      FROM events GROUP BY 1, 2
    ), m AS (
      SELECT g, CAST(SUM(sv) AS BIGINT) AS t, CAST(COUNT(*) AS BIGINT) AS nd
      FROM daily GROUP BY 1
    ), c AS (
      SELECT daily.g, d, nd,
             CAST(nd AS HUGEINT) * SUM(CAST(sv AS HUGEINT)) OVER (PARTITION BY daily.g ORDER BY d)
               - ROW_NUMBER() OVER (PARTITION BY daily.g ORDER BY d) * CAST(t AS HUGEINT) AS s2
      FROM daily JOIN m USING (g)
    )
    SELECT g AS event_type, nd AS n_days, d AS cp_day,
           ROUND(CAST(s2 AS DOUBLE) / nd / 100, 6) AS cusum_peak
    FROM c
    QUALIFY ROW_NUMBER() OVER (PARTITION BY g ORDER BY abs(s2) DESC, d) = 1
    """,
)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type").alias("g"), F.date_trunc("DAY", "ts").alias("d")
    ).agg(F.sum(sl2("value")).alias("sv"))
    m = daily.groupBy(F.col("g").alias("_g")).agg(
        F.sum("sv").alias("t"), F.count(F.lit(1)).alias("nd")
    )
    j = daily.join(F.broadcast(m), F.col("g") == F.col("_g"))
    w = Window.partitionBy("g").orderBy("d")
    # nd·(cumulative cents) can exceed int64 at the 100 TB scale this
    # targets — carry the combine in decimal(38,0) (HUGEINT on the
    # oracle side); still exact integers, just wider.
    run = (
        F.sum(F.col("sv").cast("decimal(38,0)"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("decimal(38,0)")
    )
    k = F.row_number().over(w)
    c = j.select(
        "g",
        "d",
        "nd",
        (F.col("nd") * run - k * F.col("t").cast("decimal(38,0)")).alias("s2"),
    )
    pick = Window.partitionBy("g").orderBy(F.abs(F.col("s2")).desc(), F.col("d"))
    return (
        c.withColumn("_rn", F.row_number().over(pick))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("g").alias("event_type"),
            F.col("nd").alias("n_days"),
            F.col("d").alias("cp_day"),
            F.round(F.col("s2").cast("double") / F.col("nd") / 100, 6).alias("cusum_peak"),
        )
    )


# ---------------------------------------------------------------------------
# PSI drift monitor — Population Stability Index between the reference
# window (Jan 1-15) and the current window (Jan 16+) of the event
# value distribution: PSI = Σ_b (p_cur − p_ref)·ln(p_cur/p_ref) over
# fixed-width value buckets. The training-pipeline use: alert when a
# feed's feature distribution drifts from the one the model was fit
# on (PSI > 0.2 is the conventional re-train trigger). Fixed bucket
# edges (width 25, cents-exact) rather than fitted quantiles keep the
# comparison engine-exact; Laplace +1 smoothing keeps empty buckets
# finite; each bucket's log ratio is micro-snapped (the catalog's
# 1e-6 ln discipline) and the PSI numerator stays in exact integers
# (p_cur−p_ref = (ncur·tr−nref·tc)/(tc·tr)) so the bucket sum is
# order-independent; one scan, bounded bucket axis.
# ---------------------------------------------------------------------------
@query(
    "psi_drift",
    oracle="""
    WITH b AS (
      SELECT CAST(floor(CAST(floor(value * 100 + 0.5) AS BIGINT) / 2500) AS BIGINT) AS bucket,
             CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END AS is_ref
      FROM events WHERE value IS NOT NULL
    ), cnt AS (
      SELECT bucket,
             CAST(SUM(is_ref) AS BIGINT) + 1 AS nref,
             CAST(SUM(1 - is_ref) AS BIGINT) + 1 AS ncur
      FROM b GROUP BY bucket
    ), tot AS (
      SELECT CAST(SUM(nref) AS BIGINT) AS tr, CAST(SUM(ncur) AS BIGINT) AS tc FROM cnt
    ), terms AS (
      SELECT (ncur * tr - nref * tc)
             * CAST(floor(ln((CAST(ncur AS DOUBLE) / tc) / (CAST(nref AS DOUBLE) / tr))
                          * 1000000 + 0.5) AS BIGINT) AS term_num,
             tr, tc
      FROM cnt, tot
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
           ROUND(CAST(SUM(term_num) AS DOUBLE) / MAX(tc) / MAX(tr) / 1000000, 6) AS psi
    FROM terms
    """,
)
def psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    bucket = F.floor(sl2("value") / 2500).cast("long")
    is_ref = F.when(
        F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp"), 1
    ).otherwise(0)
    cnt = ev.select(bucket.alias("bucket"), is_ref.alias("is_ref")).groupBy("bucket").agg(
        (F.sum("is_ref") + 1).cast("long").alias("nref"),
        (F.sum(1 - F.col("is_ref")) + 1).cast("long").alias("ncur"),
    )
    tot = cnt.agg(F.sum("nref").alias("tr"), F.sum("ncur").alias("tc"))
    pcur = F.col("ncur").cast("double") / F.col("tc")
    pref = F.col("nref").cast("double") / F.col("tr")
    # exact-integer PSI numerator: p_cur - p_ref = (ncur*tr - nref*tc)
    # / (tc*tr), so the per-bucket terms sum ORDER-INDEPENDENTLY as
    # integers (decimal(38,0)); one double division at the end
    lpm = F.floor(F.log(pcur / pref) * 1000000 + 0.5).cast("long")
    term_num = (
        (F.col("ncur") * F.col("tr") - F.col("nref") * F.col("tc")).cast("decimal(38,0)") * lpm
    )
    return (
        cnt.crossJoin(F.broadcast(tot))
        .select(term_num.alias("term_num"), "tr", "tc")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.round(
                F.sum("term_num").cast("double") / F.max("tc") / F.max("tr") / 1000000, 6
            ).alias("psi"),
        )
    )


# ---------------------------------------------------------------------------
# Audience overlap — exact Jaccard between the user sets of two event
# types ("how many clickers also purchase"): the set-algebra
# counterpart of funnel_conversion (which demands temporal order).
# One distinct-(user, side) agg, then per-user both/either flags —
# intersection and union as exact counts, no join of the two sets.
# ---------------------------------------------------------------------------
@query(
    "audience_overlap",
    oracle="""
    WITH u AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS a,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS b
      FROM events WHERE event_type IN ('click', 'purchase')
      GROUP BY user_id
    )
    SELECT CAST(SUM(a) AS BIGINT) AS n_click,
           CAST(SUM(b) AS BIGINT) AS n_purchase,
           CAST(SUM(a * b) AS BIGINT) AS n_both,
           CAST(COUNT(*) AS BIGINT) AS n_either,
           ROUND(CAST(SUM(a * b) AS DOUBLE) / COUNT(*), 6) AS jaccard
    FROM u
    """,
)
def audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    u = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("a"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("b"),
    )
    return u.agg(
        F.sum("a").cast("long").alias("n_click"),
        F.sum("b").cast("long").alias("n_purchase"),
        F.sum(F.col("a") * F.col("b")).cast("long").alias("n_both"),
        F.count(F.lit(1)).alias("n_either"),
        F.round(F.sum(F.col("a") * F.col("b")).cast("double") / F.count(F.lit(1)), 6).alias(
            "jaccard"
        ),
    )


# ---------------------------------------------------------------------------
# Last-touch attribution — credit each purchase to the user's most
# recent click within a 7-day lookback, then roll revenue up to the
# CLICK day (the marketing-attribution question funnel_conversion's
# ordered-step count doesn't answer: which day's clicks drove the
# money). The match is the catalog's as-of-with-tolerance kernel
# (one user-partitioned carry window, no range-join blowup); revenue
# stays in exact cents until the final division.
# ---------------------------------------------------------------------------
@query(
    "attribution_last_touch",
    oracle="""
    WITH p AS (
      SELECT event_id AS pid, user_id, ts,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ), c AS (
      SELECT user_id, ts FROM events WHERE event_type = 'click'
    ), m AS (
      -- grouped by the purchase EVENT id: two identical purchases are
      -- two attributions (the Spark side keeps every row)
      SELECT p.pid, p.cents, MAX(c.ts) AS click_ts
      FROM p LEFT JOIN c
        ON c.user_id = p.user_id AND c.ts <= p.ts
       AND c.ts >= p.ts - INTERVAL 7 DAY
      GROUP BY 1, 2
    )
    SELECT date_trunc('day', click_ts) AS click_day,
           CAST(COUNT(*) AS BIGINT) AS n_attributed,
           CAST(SUM(cents) AS DOUBLE) / 100 AS attributed_revenue
    FROM m WHERE click_ts IS NOT NULL
    GROUP BY 1
    """,
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from elective_waiting_times_pipeline_spark.operators.asof import (
        asof_join_backward_tolerance,
    )

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", sl2("value").alias("cents")
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    att = asof_join_backward_tolerance(
        purchases,
        clicks,
        by="user_id",
        ts="ts",
        value_cols=[],
        tolerance_s=7 * 86400,
        keep_match_ts="click_ts",
    )
    return (
        att.filter(F.col("click_ts").isNotNull())
        .groupBy(F.date_trunc("DAY", "click_ts").alias("click_day"))
        .agg(
            F.count(F.lit(1)).alias("n_attributed"),
            (F.sum("cents").cast("double") / 100).alias("attributed_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Linear (multi-touch) attribution — split each purchase's revenue
# EQUALLY across every click in its 7-day lookback, rolled up to the
# click day: last_touch's sibling, but the match is one-to-MANY, so
# the kernel is the binned range join (day-wide bins, user equality —
# never the quadratic non-equi join). Per-click credit snaps to
# micro-cents (floor(cents·1e6/n + 0.5)) so the day sums stay exact
# integers; the interval end adds 1 µs because range_join is
# half-open (start <= point < end) and the lookback is inclusive.
# ---------------------------------------------------------------------------
@query(
    "attribution_linear",
    oracle="""
    WITH p AS (
      SELECT event_id AS pid, user_id, ts AS pts,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ), c AS (
      SELECT user_id, ts AS cts FROM events WHERE event_type = 'click'
    ), j AS (
      SELECT pid, cts, cents
      FROM p JOIN c ON c.user_id = p.user_id
       AND c.cts <= p.pts AND c.cts >= p.pts - INTERVAL 7 DAY
    ), n AS (
      SELECT pid, CAST(COUNT(*) AS BIGINT) AS n_clicks FROM j GROUP BY pid
    )
    SELECT date_trunc('day', cts) AS click_day,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           ROUND(SUM(CAST(floor(cents * 1000000.0 / n_clicks + 0.5) AS BIGINT))
                 / 100000000, 6) AS attributed_revenue
    FROM j JOIN n USING (pid)
    GROUP BY 1
    """,
)
def attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    from elective_waiting_times_pipeline_spark.operators.rangejoin import range_join

    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        "user_id",
        (F.col("ts") - F.expr("INTERVAL 7 DAYS")).alias("win_start"),
        (F.col("ts") + F.expr("INTERVAL 1 MICROSECOND")).alias("win_end"),
        sl2("value").alias("cents"),
    )
    c = ev.filter(F.col("event_type") == "click").select("user_id", F.col("ts").alias("cts"))
    j = range_join(
        c, p, "cts", "win_start", "win_end", extra_eq=["user_id"], bin_width=86400
    ).select("pid", "cts", "cents")
    # per-purchase click count as a pid-partitioned window (bounded by
    # the 7-day lookback) — a groupBy+rejoin would execute the range
    # join TWICE, doubling the dominant cost
    n_clicks = F.count(F.lit(1)).over(Window.partitionBy("pid"))
    credit = F.floor(F.col("cents") * 1000000.0 / n_clicks + 0.5).cast("long")
    return (
        j.withColumn("_credit", credit)  # window first, aggregate after
        .groupBy(F.date_trunc("DAY", "cts").alias("click_day"))
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.round(F.sum("_credit") / 100000000, 6).alias("attributed_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Time-decay attribution — the third member of the attribution family
# (last-touch, linear, decay): each click inside the 7-day lookback
# earns credit proportional to 2^(-age_days/7), so yesterday's click
# outweighs last week's. Engine-exact: the eight possible ages (0..7
# whole days, integer µs division) map to PRECOMPUTED integer micro
# weights (floor(1e6·2^(-a/7)+0.5) — no pow() in either plan); the
# per-purchase weight total is a pid-partitioned window (bounded by
# the lookback) over the single range-join pass, and each credit
# micro-snaps before the day rollup, identical op order both engines.
# Scale shape: same binned range join as attribution_linear — one
# equi-join on (user, day-bin), never a cross of clicks x purchases.
# ---------------------------------------------------------------------------
_TD_W = [1000000, 905724, 820335, 742997, 672950, 609507, 552045, 500000]
_TD_CASE = "CASE {age} " + " ".join(f"WHEN {a} THEN {w}" for a, w in enumerate(_TD_W)) + " END"


@query(
    "attribution_time_decay",
    oracle=f"""
    WITH p AS (
      SELECT event_id AS pid, user_id, ts AS pts,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ), c AS (
      SELECT user_id, ts AS cts FROM events WHERE event_type = 'click'
    ), j AS (
      SELECT pid, cts, cents,
             {_TD_CASE.format(age="((epoch_us(pts) - epoch_us(cts)) // 86400000000)")} AS wm
      FROM p JOIN c ON c.user_id = p.user_id
       AND c.cts <= p.pts AND c.cts >= p.pts - INTERVAL 7 DAY
    ), t AS (
      SELECT pid, cts, cents, wm, SUM(wm) OVER (PARTITION BY pid) AS wt
      FROM j
    )
    SELECT date_trunc('day', cts) AS click_day,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           ROUND(SUM(CAST(floor(cents * 1000000.0 * wm / wt + 0.5) AS BIGINT))
                 / 100000000, 6) AS attributed_revenue
    FROM t GROUP BY 1
    """,
)
def attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from elective_waiting_times_pipeline_spark.operators.rangejoin import range_join

    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        "user_id",
        F.col("ts").alias("pts"),
        (F.col("ts") - F.expr("INTERVAL 7 DAYS")).alias("win_start"),
        (F.col("ts") + F.expr("INTERVAL 1 MICROSECOND")).alias("win_end"),
        sl2("value").alias("cents"),
    )
    c = ev.filter(F.col("event_type") == "click").select("user_id", F.col("ts").alias("cts"))
    j = range_join(
        c, p, "cts", "win_start", "win_end", extra_eq=["user_id"], bin_width=86400
    ).select(
        "pid",
        "cts",
        "cents",
        F.expr(
            _TD_CASE.format(age="((unix_micros(pts) - unix_micros(cts)) div 86400000000)")
        ).alias("wm"),
    )
    wt = F.sum("wm").over(Window.partitionBy("pid"))
    credit = F.floor(F.col("cents") * 1000000.0 * F.col("wm") / wt + 0.5).cast("long")
    return (
        j.withColumn("_credit", credit)
        .groupBy(F.date_trunc("DAY", "cts").alias("click_day"))
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.round(F.sum("_credit") / 100000000, 6).alias("attributed_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Time-decayed engagement score — the standard recency-weighted user
# feature: Σ cents · 2^(-age_days / 7) per user (7-day half-life),
# top 20. Engine-exact WITHOUT trusting pow(): integer age decomposes
# as 7q + r, so the weight is lit[r] / 2^q — seven Python-precomputed
# double literals (embedded identically in both plans) divided by a
# power of two built from an integer BIT SHIFT (exact in IEEE; no
# libm pow() in either plan). Each event's contribution micro-snaps
# before the per-user sum, so the aggregate is an exact integer; the
# top-20 is a TakeOrdered, never a global sort.
# ---------------------------------------------------------------------------
_DECAY_R = [
    1.0, 0.9057236642639067, 0.820335356007638, 0.7429971445684742,
    0.6729500963161781, 0.6095068271022377, 0.5520447568369062,
]
_DECAY_ANCHOR = "2024-01-31 00:00:00"


@query(
    "decayed_engagement_topk",
    oracle=f"""
    WITH e AS (
      SELECT user_id,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
             date_diff('day', date_trunc('day', ts), TIMESTAMP '{_DECAY_ANCHOR}') AS age
      FROM events WHERE value IS NOT NULL
    ), w AS (
      SELECT user_id,
             CAST(floor(cents * (CASE age % 7 {' '.join(f'WHEN {r} THEN {v!r}' for r, v in enumerate(_DECAY_R))} END)
                        / CAST(1::BIGINT << LEAST(age // 7, 62) AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS micro
      FROM e WHERE age >= 0
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(micro) AS DOUBLE) / 100000000, 6) AS engagement
    FROM w GROUP BY user_id
    ORDER BY engagement DESC, user_id LIMIT 20
    """,
)
def decayed_engagement_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    age = F.datediff(F.lit(_DECAY_ANCHOR).cast("timestamp"), F.date_trunc("DAY", "ts"))
    aged = ev.select("user_id", sl2("value").alias("cents"), age.alias("_age")).filter(
        F.col("_age") >= 0
    )
    lit_r = F.lit(None).cast("double")
    for r, v in reversed(list(enumerate(_DECAY_R))):
        lit_r = F.when(F.col("_age") % 7 == r, F.lit(v)).otherwise(lit_r)
    # 2^q via an integer BIT SHIFT cast to double — division by a
    # power of two is IEEE-exact and no libm pow() enters either
    # engine; q clamps at 62 (beyond ~8.5 years of half-lives the
    # weight underflows the micro-snap to 0 anyway, and 1<<63 would
    # overflow the long)
    pow2q = F.expr(
        "CAST(shiftleft(1L, least(CAST(floor(_age / 7) AS INT), 62)) AS DOUBLE)"
    )
    micro = F.floor(
        F.col("cents") * lit_r / pow2q * 1000000 + 0.5
    ).cast("long")
    w = aged.select("user_id", micro.alias("micro"))
    return (
        w.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("micro").cast("double") / 100000000, 6).alias("engagement"),
        )
        .orderBy(F.desc("engagement"), "user_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Weekend effect — does the value distribution differ on weekends?
# The same tie-corrected Mann-Whitney machinery as
# mann_whitney_value, driven by a DERIVED group axis: the weekend
# flag comes from epoch-day arithmetic off 2024-01-01 (a Monday) —
# day_index % 7 in {5, 6} — pure integers both engines repeat, no
# locale-dependent dayofweek() numbering to reconcile.
# ---------------------------------------------------------------------------
@query(
    "weekend_effect_mwu",
    oracle="""
    WITH t AS (
      SELECT CASE WHEN ((date_diff('day', TIMESTAMP '2024-01-01 00:00:00',
                                    date_trunc('day', ts)) % 7) + 7) % 7 IN (5, 6)
                  THEN 'weekend' ELSE 'weekday' END AS g,
             value AS v
      FROM events WHERE value IS NOT NULL
    ), r AS (
      SELECT g, 2 * RANK() OVER (ORDER BY v) + COUNT(*) OVER (PARTITION BY v) - 1 AS r2
      FROM t
    ), s AS (
      SELECT CAST(SUM(CASE WHEN g = 'weekday' THEN 1 ELSE 0 END) AS BIGINT) AS na,
             CAST(SUM(CASE WHEN g = 'weekend' THEN 1 ELSE 0 END) AS BIGINT) AS nb,
             SUM(CASE WHEN g = 'weekday' THEN r2 ELSE 0 END) AS r2a
      FROM r
    ), ties AS (
      SELECT SUM(c * c * c - c) AS tsum
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY v)
    )
    SELECT na AS n_a, nb AS n_b,
           (CAST(r2a AS DOUBLE) - CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) + 1.0)) / 2.0
             AS u_stat,
           ROUND(((CAST(r2a AS DOUBLE) - CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) + 1.0)) / 2.0
                  - CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 2.0)
                 / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0
                        * ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) + 1.0)
                           - CAST(tsum AS DOUBLE)
                             / ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
                                * (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 1.0)))), 6)
             AS z_score
    FROM s, ties
    """,
)
def weekend_effect_mwu(spark: SparkSession, sf_dir: str) -> DataFrame:
    from elective_waiting_times_pipeline_spark.operators.rankstats import mann_whitney_u

    ev = load_table(spark, sf_dir, "events")
    day_idx = F.datediff(
        F.date_trunc("DAY", "ts"), F.lit("2024-01-01 00:00:00").cast("timestamp")
    )
    # pmod, not %: sign-of-dividend remainder would misclassify every
    # PRE-anchor weekend (negative day index never tests >= 5)
    g = F.when(F.pmod(day_idx, 7) >= 5, "weekend").otherwise("weekday")
    return mann_whitney_u(
        ev.withColumn("_g", g), "value", "_g", "weekday", "weekend"
    )


# ---------------------------------------------------------------------------
# Cohort LTV matrix — cumulative purchase revenue per user by signup
# cohort (week of first event) × weeks-since: retention_curve's
# revenue sibling and the standard payback-period table. Week indexes
# are pure integer arithmetic off the 2024-01-01 Monday anchor (pmod
# epoch-day division — no date_trunc('week') start-of-week semantics
# to reconcile). The cumulative ride is a window over the bounded
# per-cohort week axis; revenue stays in exact cents until one final
# division by the cohort size.
# ---------------------------------------------------------------------------
@query(
    "cohort_ltv_matrix",
    oracle="""
    WITH wk AS (
      -- floor(d/7) IS floor division for negative d too — identical
      -- to the Spark side's (d - pmod(d,7))/7 for every sign
      SELECT user_id, event_type, value,
             CAST(floor(date_diff('day', TIMESTAMP '2024-01-01 00:00:00',
                                  date_trunc('day', ts)) / 7.0) AS BIGINT) AS w
      FROM events
    ), first AS (
      SELECT user_id, MIN(w) AS cohort_week FROM wk GROUP BY 1
    ), sizes AS (
      SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS n_users FROM first GROUP BY 1
    ), rev AS (
      SELECT f.cohort_week, e.w - f.cohort_week AS age_weeks,
             SUM(CAST(floor(e.value * 100 + 0.5) AS BIGINT)) AS cents
      FROM wk e JOIN first f ON e.user_id = f.user_id
      WHERE e.event_type = 'purchase'
      GROUP BY 1, 2
    ), cum AS (
      SELECT cohort_week, age_weeks, n_users,
             SUM(cents) OVER (PARTITION BY cohort_week ORDER BY age_weeks) AS cum_cents
      FROM rev JOIN sizes USING (cohort_week)
    )
    SELECT CAST(cohort_week AS INT) AS cohort_week,
           CAST(age_weeks AS INT) AS age_weeks, n_users,
           ROUND(CAST(cum_cents AS DOUBLE) / 100 / n_users, 6) AS ltv_per_user
    FROM cum
    """,
)
def cohort_ltv_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    day_idx = F.datediff(
        F.date_trunc("DAY", "ts"), F.lit("2024-01-01 00:00:00").cast("timestamp")
    )
    # floor-division week index that holds for PRE-anchor days too
    week = ((day_idx - F.pmod(day_idx, 7)) / 7).cast("long")
    wk = ev.select("user_id", "event_type", "value", week.alias("w"))
    first = wk.groupBy("user_id").agg(F.min("w").alias("cohort_week"))
    sizes = first.groupBy(F.col("cohort_week").alias("_c")).agg(
        F.count(F.lit(1)).alias("n_users")
    )
    rev = (
        wk.filter(F.col("event_type") == "purchase")
        .join(first, "user_id")
        .groupBy("cohort_week", (F.col("w") - F.col("cohort_week")).alias("age_weeks"))
        .agg(F.sum(sl2("value")).alias("cents"))
    )
    w = Window.partitionBy("cohort_week").orderBy("age_weeks")
    return (
        rev.join(F.broadcast(sizes), F.col("cohort_week") == F.col("_c"))
        .withColumn("cum_cents", F.sum("cents").over(w))
        .select(
            F.col("cohort_week").cast("int"),
            F.col("age_weeks").cast("int"),
            "n_users",
            F.round(F.col("cum_cents").cast("double") / 100 / F.col("n_users"), 6).alias(
                "ltv_per_user"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Distribution position (cume_dist) of each day's revenue WITHIN its
# event type — "was Tuesday a top-decile day for purchases?" — the
# remaining member of the window-rank family (ntile / rank /
# percent_rank siblings are already covered). Window is partitioned by
# event_type over the bounded day axis; cume_dist is a rank ratio of
# exact integers, so the rounded double hash-matches.
# ---------------------------------------------------------------------------
@query(
    "cume_dist_daily_revenue",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS yc
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT event_type, day, CAST(yc AS DOUBLE) / 100 AS revenue,
           ROUND(cume_dist() OVER (PARTITION BY event_type ORDER BY yc), 6)
             AS revenue_cume_dist
    FROM daily
    """,
)
def cume_dist_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = ev.groupBy("event_type", F.date_trunc("DAY", "ts").alias("day")).agg(
        F.sum(sl2("value")).alias("yc")
    )
    w = Window.partitionBy("event_type").orderBy("yc")
    return daily.select(
        "event_type",
        "day",
        (F.col("yc").cast("double") / 100).alias("revenue"),
        F.round(F.cume_dist().over(w), 6).alias("revenue_cume_dist"),
    )


# ---------------------------------------------------------------------------
# Session economics: duration percentiles + events-per-session over
# the 30-minute-gap sessionization (the same session definition as
# `sessionize`) — the engagement summary next to the session COUNTS
# that query reports. Durations are exact epoch-microsecond integers
# per session (one groupBy after the per-user gap window); the
# percentile is Spark F.percentile == DuckDB quantile_cont (linear
# interpolation both sides, the corpus_profile-proven pairing).
# ---------------------------------------------------------------------------
@query(
    "session_duration_stats",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER
                       (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
                  THEN 1 ELSE 0 END AS ns
      FROM events
    ), s AS (
      SELECT user_id, ts,
             SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
      FROM gaps
    ), per AS (
      SELECT user_id, sid, CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS BIGINT) AS dur_us
      FROM s GROUP BY 1, 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
           ROUND(quantile_cont(CAST(dur_us AS DOUBLE), 0.5) / 1000000, 4)
             AS p50_duration_s,
           ROUND(quantile_cont(CAST(dur_us AS DOUBLE), 0.9) / 1000000, 4)
             AS p90_duration_s,
           ROUND(CAST(SUM(n_events) AS DOUBLE) / COUNT(*), 4) AS events_per_session
    FROM per
    """,
)
def session_duration_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    gaps = ev.select(
        "user_id",
        "ts",
        F.when(us - F.lag(us).over(w) > 1_800_000_000, 1).otherwise(0).alias("ns"),
        "event_id",
    )
    s = gaps.select(
        "user_id",
        "ts",
        F.sum("ns").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("sid"),
    )
    per = s.groupBy("user_id", "sid").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("dur_us"),
    )
    return per.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.round(F.percentile(F.col("dur_us").cast("double"), F.lit(0.5)) / 1000000, 4).alias(
            "p50_duration_s"
        ),
        F.round(F.percentile(F.col("dur_us").cast("double"), F.lit(0.9)) / 1000000, 4).alias(
            "p90_duration_s"
        ),
        F.round(F.sum("n_events").cast("double") / F.count(F.lit(1)), 4).alias(
            "events_per_session"
        ),
    )


# ---------------------------------------------------------------------------
# Per-group OLS trend: daily revenue regressed on the day index,
# per event_type — the parametric slope/intercept/R² next to the
# nonparametric trend_mann_kendall and theil_sen_trend. One daily agg
# then one group agg of exact integer moments (x = epoch-day index,
# y = cents; cross-products in decimal(38,0)/HUGEINT — day·cents sums
# pass int64 at 100 TB); every output is the textbook combine of
# those sums in doubles, same op order both engines.
# ---------------------------------------------------------------------------
@query(
    "ols_trend_by_type",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             CAST(date_diff('day', TIMESTAMP '2024-01-01 00:00:00',
                            date_trunc('day', ts)) AS BIGINT) AS x,
             CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2
    ), m AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             SUM(CAST(x AS HUGEINT) * y) AS sxy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx,
             SUM(CAST(y AS HUGEINT) * y) AS syy
      FROM daily GROUP BY 1
    )
    SELECT event_type, n,
           ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 / 100, 6) AS slope_per_day,
           ROUND((CAST(sy AS DOUBLE)
                  - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * CAST(sx AS DOUBLE))
                 / CAST(n AS DOUBLE) / 100, 6) AS intercept,
           ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
             AS r2
    FROM m WHERE n >= 3
    """,
)
def ols_trend_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    day_idx = F.datediff(
        F.date_trunc("DAY", "ts"), F.lit("2024-01-01 00:00:00").cast("timestamp")
    ).cast("long")
    daily = ev.groupBy("event_type", day_idx.alias("x")).agg(F.sum(sl2("value")).alias("y"))
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(d38("x") * d38("y")).alias("sxy"),
        F.sum(d38("x") * d38("x")).alias("sxx"),
        F.sum(d38("y") * d38("y")).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx, syy = (
        F.col("sxy").cast("double"),
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
    )
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return m.filter(F.col("n") >= 3).select(
        "event_type",
        "n",
        F.round(slope / 100, 6).alias("slope_per_day"),
        F.round((sy - slope * sx) / n / 100, 6).alias("intercept"),
        F.round(
            (n * sxy - sx * sy) * (n * sxy - sx * sy)
            / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("r2"),
    )


# ---------------------------------------------------------------------------
# Hourly OHLC bars (open/high/low/close) per event type — the
# financial-series rollup form of the tumbling window: open/close are
# the values at the window's FIRST/LAST event, pinned by the
# lexicographic (ts, event_id) order (event_id is unique). The ORACLE
# encodes that order as ONE integer key epoch_us(ts)·10^10 + event_id
# (< 10^10 keeps it order-isomorphic) carried as HUGEINT — arg-min/max
# over a plain integer, no engine-specific struct comparison. The
# Spark side reaches the same pin as two LONG-keyed mergeable hash
# aggs (see the in-function note). Values snap to exact cents.
# ---------------------------------------------------------------------------
@query(
    "tumbling_ohlc",
    headline=True,
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(arg_min(CAST(floor(value * 100 + 0.5) AS BIGINT),
                        CAST(epoch_us(ts) AS HUGEINT) * 10000000000 + event_id)
                AS DOUBLE) / 100 AS open,
           CAST(MAX(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS high,
           CAST(MIN(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS low,
           CAST(arg_max(CAST(floor(value * 100 + 0.5) AS BIGINT),
                        CAST(epoch_us(ts) AS HUGEINT) * 10000000000 + event_id)
                AS DOUBLE) / 100 AS close
    FROM events GROUP BY 1, 2
    """,
)
def tumbling_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Ordering-key cost decides this plan. Three measured variants on
    # 100M unique-ts rows (local[32]): min_by over the decimal(38,0)
    # composite key 19.5 s (per-row decimal128 multiply+add and
    # decimal agg-buffer compares), a two-stage all-long reduction
    # 33.2 s (unique timestamps defeat stage 1's map-side combine, so
    # the whole corpus shuffles), min_by over STRUCT(ts_us, event_id)
    # 1.9 s — two packed longs, codegen'd lexicographic compare, and
    # the shuffle still carries only |windows|·|types| buffer rows.
    # Struct ordering is Spark-side only; the oracle pins the same
    # order with the HUGEINT-encoded key (semantically identical).
    ev = load_table(spark, sf_dir, "events")
    vc = sl2("value")
    okey = F.struct(F.unix_micros("ts").alias("ts_us"), F.col("event_id"))
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
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


# ---------------------------------------------------------------------------
# Interval-union coverage per user: each event opens a 5-minute
# activity interval [ts, ts+300s); overlapping intervals merge, and
# the metric is the total UNION length — "how long was the user
# actually active", the dual of peak_concurrency's "how many were
# active at once". Classic sweep-line gaps-and-islands: within each
# user (per-key partitioned windows — never corpus-sized), a new
# island starts where the interval's start exceeds the running max of
# previous ends; island id is the cumulative count of starts; island
# length is max(end) − min(start). All math in integer epoch-micros.
# ---------------------------------------------------------------------------
@query(
    "interval_union_length",
    oracle="""
    WITH iv AS (
      SELECT user_id, event_id, epoch_us(ts) AS s, epoch_us(ts) + 300000000 AS e
      FROM events
    ), flagged AS (
      SELECT user_id, event_id, s, e,
             CASE WHEN s > COALESCE(MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                                    -1) THEN 1 ELSE 0 END AS new_island
      FROM iv
    ), islands AS (
      SELECT user_id, s, e,
             SUM(new_island) OVER (PARTITION BY user_id ORDER BY s, event_id
                                   ROWS UNBOUNDED PRECEDING) AS island_id
      FROM flagged
    ), spans AS (
      SELECT user_id, island_id, MAX(e) - MIN(s) AS len_us
      FROM islands GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(SUM(len_us) AS BIGINT) AS covered_us
    FROM spans GROUP BY user_id
    """,
)
def interval_union_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = F.unix_micros("ts")
    iv = ev.select("user_id", "event_id", s.alias("s"), (s + 300_000_000).alias("e"))
    wprev = Window.partitionBy("user_id").orderBy("s", "event_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    flagged = iv.select(
        "user_id",
        "event_id",
        "s",
        "e",
        F.when(F.col("s") > F.coalesce(F.max("e").over(wprev), F.lit(-1)), 1)
        .otherwise(0)
        .alias("new_island"),
    )
    # cumsum under the SAME total order (s, event_id) as the flag
    # window — a tie-permuted cumsum could split equal-(s,e) rows
    # across adjacent island ids and bridge a genuine gap
    wcum = Window.partitionBy("user_id").orderBy("s", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    islands = flagged.withColumn("island_id", F.sum("new_island").over(wcum))
    spans = islands.groupBy("user_id", "island_id").agg(
        (F.max("e") - F.min("s")).alias("len_us")
    )
    return spans.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.sum("len_us").cast("long").alias("covered_us"),
    )


# ---------------------------------------------------------------------------
# Step-timeout funnel: like funnel_conversion, but each step must
# happen WITHIN ONE HOUR of the previous one (the product-analytics
# "conversion window" — a purchase three days after the click doesn't
# count). Same single-exchange chained-window shape (no event-log
# self-joins); the bound just adds an upper edge to each step's
# condition. Timestamp compares in integer epoch-micros.
# ---------------------------------------------------------------------------
@query(
    "funnel_within_1h",
    oracle="""
    WITH u AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view
      FROM events GROUP BY 1
    ), c AS (
      SELECT e.user_id, MIN(e.ts) AS t_click
      FROM events e JOIN u USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > u.t_view
        AND epoch_us(e.ts) - epoch_us(u.t_view) <= 3600000000
      GROUP BY 1
    ), p AS (
      SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM events e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        AND epoch_us(e.ts) - epoch_us(c.t_click) <= 3600000000
      GROUP BY 1
    )
    SELECT u.user_id, u.t_view, c.t_click, p.t_purchase,
           CAST(CASE WHEN p.t_purchase IS NOT NULL THEN 3
                     WHEN c.t_click IS NOT NULL THEN 2
                     WHEN u.t_view IS NOT NULL THEN 1
                     ELSE 0 END AS INT) AS stage
    FROM u LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
    """,
)
def funnel_within_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = Window.partitionBy("user_id")
    t = F.col("ts")
    tu = F.unix_micros("ts")
    typ = F.col("event_type")
    hour = 3_600_000_000
    step1 = ev.withColumn("t_view", F.min(F.when(typ == "view", t)).over(w))
    step2 = step1.withColumn(
        "t_click",
        F.min(
            F.when(
                (typ == "click")
                & (t > F.col("t_view"))
                & (tu - F.unix_micros("t_view") <= hour),
                t,
            )
        ).over(w),
    )
    step3 = step2.withColumn(
        "t_purchase",
        F.min(
            F.when(
                (typ == "purchase")
                & (t > F.col("t_click"))
                & (tu - F.unix_micros("t_click") <= hour),
                t,
            )
        ).over(w),
    )
    return step3.groupBy("user_id").agg(
        F.first("t_view").alias("t_view"),
        F.first("t_click").alias("t_click"),
        F.first("t_purchase").alias("t_purchase"),
        F.when(F.first("t_purchase").isNotNull(), 3)
        .when(F.first("t_click").isNotNull(), 2)
        .when(F.first("t_view").isNotNull(), 1)
        .otherwise(0)
        .cast("int")
        .alias("stage"),
    )


# ---------------------------------------------------------------------------
# DAU/MAU stickiness per calendar month — the engagement ratio every
# growth dashboard tracks ("of the users active this month, what
# share shows up on an average day"). Exact integer formulation:
# sum of per-day distinct users, day count, and month-distinct users
# are all exact; the ratio snaps ONCE to ppm via
# floor(1e6·Σdau/(n_days·mau) + 0.5). One distinct over (day, user)
# — the event log is scanned once and never self-joined; monthly
# distincts reuse the same deduplicated relation.
# ---------------------------------------------------------------------------
@query(
    "stickiness_dau_mau",
    oracle="""
    WITH du AS (
      SELECT DISTINCT date_trunc('month', ts) AS month,
             date_trunc('day', ts) AS day, user_id
      FROM events
    ), dau AS (
      SELECT month, day, CAST(COUNT(*) AS BIGINT) AS dau FROM du GROUP BY 1, 2
    ), m AS (
      SELECT month, CAST(SUM(dau) AS BIGINT) AS sum_dau,
             CAST(COUNT(*) AS BIGINT) AS n_days
      FROM dau GROUP BY month
    ), mau AS (
      SELECT month, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
      FROM du GROUP BY month
    )
    SELECT m.month, m.n_days, mau.mau,
           CAST(floor(1000000.0 * m.sum_dau / (m.n_days * mau.mau) + 0.5) AS BIGINT)
             AS stickiness_ppm
    FROM m JOIN mau USING (month)
    """,
)
def stickiness_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(
        F.date_trunc("month", "ts").alias("month"),
        F.date_trunc("day", "ts").alias("day"),
        "user_id",
    ).distinct()
    dau = du.groupBy("month", "day").agg(F.count(F.lit(1)).alias("dau"))
    m = dau.groupBy("month").agg(
        F.sum("dau").alias("sum_dau"), F.count(F.lit(1)).alias("n_days")
    )
    mau = du.groupBy("month").agg(F.countDistinct("user_id").alias("mau"))
    return m.join(mau, "month").select(
        "month",
        "n_days",
        "mau",
        F.floor(1000000.0 * F.col("sum_dau") / (F.col("n_days") * F.col("mau")) + 0.5)
        .cast("long")
        .alias("stickiness_ppm"),
    )


# ---------------------------------------------------------------------------
# Longest daily-activity streak per user — the engagement metric
# behind "N-day streak" badges, and the day-granular cousin of
# sessionize. Classic gaps-and-islands WITHOUT a lag pass: over the
# per-user DISTINCT day axis, day_index − row_number is constant
# exactly within a run of consecutive days, so one window + one
# groupBy finds every streak. Windows partition per user; day math in
# exact integer day indexes.
# ---------------------------------------------------------------------------
@query(
    "active_streaks",
    oracle="""
    WITH d AS (
      SELECT DISTINCT user_id,
             date_diff('day', DATE '1990-01-01', CAST(ts AS DATE)) AS day_idx
      FROM events
    ), runs AS (
      SELECT user_id, day_idx,
             day_idx - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day_idx)
               AS run_key
      FROM d
    ), streaks AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS len
      FROM runs GROUP BY user_id, run_key
    )
    SELECT user_id,
           CAST(MAX(len) AS BIGINT) AS longest_streak_days,
           CAST(COUNT(*) AS BIGINT) AS n_streaks,
           CAST(SUM(len) AS BIGINT) AS active_days
    FROM streaks GROUP BY user_id
    """,
)
def active_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("1990-01-01")).alias("day_idx"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day_idx")
    runs = d.withColumn("run_key", F.col("day_idx") - F.row_number().over(w))
    streaks = runs.groupBy("user_id", "run_key").agg(F.count(F.lit(1)).alias("len"))
    return streaks.groupBy("user_id").agg(
        F.max("len").cast("long").alias("longest_streak_days"),
        F.count(F.lit(1)).alias("n_streaks"),
        F.sum("len").cast("long").alias("active_days"),
    )


# ---------------------------------------------------------------------------
# Session bounce rate per day — share of sessions that contain exactly
# one event, keyed by the session's start day (the canonical web-
# analytics quality metric, and the aggregate consumer of the same
# 30-minute-gap sessionization sessionize/session_duration_stats use).
# One per-user window pass builds session ids; two hash aggs finish.
# Rate snaps once to ppm from exact counts.
# ---------------------------------------------------------------------------
@query(
    "session_bounce_rate",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                  OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), ids AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM gaps
    ), sessions AS (
      SELECT user_id, sid, date_trunc('day', MIN(ts)) AS day,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM ids GROUP BY 1, 2
    )
    SELECT day,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
           CAST(floor(1000000.0 * SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                      / COUNT(*) + 0.5) AS BIGINT) AS bounce_ppm
    FROM sessions GROUP BY day
    """,
)
def session_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    flagged = ev.select(
        "user_id",
        "ts",
        F.when(
            (us - F.lag(us).over(w) > 1_800_000_000) | F.lag("ts").over(w).isNull(), 1
        )
        .otherwise(0)
        .alias("new_session"),
        "event_id",
    )
    ids = flagged.withColumn(
        "sid", F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    sessions = ids.groupBy("user_id", "sid").agg(
        F.date_trunc("day", F.min("ts")).alias("day"),
        F.count(F.lit(1)).alias("n_events"),
    )
    bounce = (F.col("n_events") == 1).cast("int")
    return sessions.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(bounce).cast("long").alias("n_bounces"),
        F.floor(1000000.0 * F.sum(bounce) / F.count(F.lit(1)) + 0.5)
        .cast("long")
        .alias("bounce_ppm"),
    )


# ---------------------------------------------------------------------------
# Lead-lag cross-correlation between daily view counts and daily
# purchase counts at lags -3..+3 days: does view volume LEAD purchase
# volume (positive lag peaks) — the product-analytics question behind
# "how long is the consideration window". Pearson r per lag over the
# aligned day pairs. Determinism: counts are integers, so every
# regression sum (Σv, Σp, Σvp, Σv², Σp²) accumulates exactly in
# decimal(38,0)/HUGEINT; each r spends exactly one sqrt and one divide
# on both engines. Scale shape: the corpus collapses to ONE ROW PER
# DAY first (hash agg with map-side partials); the 7-lag alignment is
# a broadcast join over that bounded calendar axis.
# ---------------------------------------------------------------------------
@query(
    "view_purchase_lead_lag",
    oracle="""
    WITH d AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS v,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS p
      FROM events GROUP BY 1
    ), lags AS (
      SELECT unnest([-3, -2, -1, 0, 1, 2, 3]) AS lag
    ), j AS (
      SELECT l.lag, a.v, b.p
      FROM lags l
      JOIN d a ON true
      JOIN d b ON b.day = a.day + CAST(l.lag || ' days' AS INTERVAL)
    ), s AS (
      SELECT lag, CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(v) AS HUGEINT) AS sv, CAST(SUM(p) AS HUGEINT) AS sp,
             CAST(SUM(v * p) AS HUGEINT) AS svp,
             CAST(SUM(v * v) AS HUGEINT) AS svv,
             CAST(SUM(p * p) AS HUGEINT) AS spp
      FROM j GROUP BY lag
    )
    SELECT CAST(lag AS BIGINT) AS lag_days, CAST(n AS BIGINT) AS n_days,
           CASE WHEN (n * svv - sv * sv) * (n * spp - sp * sp) > 0
                THEN ROUND(CAST(n * svp - sv * sp AS DOUBLE)
                           / sqrt(CAST((n * svv - sv * sv) * (n * spp - sp * sp) AS DOUBLE)), 6)
           END AS pearson_r
    FROM s
    ORDER BY lag_days
    """,
)
def view_purchase_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(F.to_date(F.date_trunc("day", "ts")).alias("day")).agg(
        F.sum((F.col("event_type") == "view").cast("int")).cast("long").alias("v"),
        F.sum((F.col("event_type") == "purchase").cast("int")).cast("long").alias("p"),
    )
    lags = F.broadcast(
        ev.sparkSession.createDataFrame([(l,) for l in range(-3, 4)], "lag int")
    )
    a, b = d.alias("a"), d.alias("b")
    j = (
        a.crossJoin(lags)
        .join(b, F.col("b.day") == F.expr("date_add(a.day, lag)"))
        .select("lag", F.col("a.v").alias("v"), F.col("b.p").alias("p"))
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    s = j.groupBy("lag").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(dec("v")).alias("sv"),
        F.sum(dec("p")).alias("sp"),
        F.sum(dec("v") * dec("p")).alias("svp"),
        F.sum(dec("v") * dec("v")).alias("svv"),
        F.sum(dec("p") * dec("p")).alias("spp"),
    )
    num = F.col("n") * F.col("svp") - F.col("sv") * F.col("sp")
    d1 = F.col("n") * F.col("svv") - F.col("sv") * F.col("sv")
    d2 = F.col("n") * F.col("spp") - F.col("sp") * F.col("sp")
    return s.select(
        F.col("lag").cast("long").alias("lag_days"),
        F.col("n").cast("long").alias("n_days"),
        F.when(
            d1 * d2 > 0,
            F.round(num.cast("double") / F.sqrt((d1 * d2).cast("double")), 6),
        ).alias("pearson_r"),
    ).orderBy("lag_days")
