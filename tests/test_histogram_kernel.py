"""Golden tests for the signature histogram-quantile kernel,
reproducing the reference's semantics (`2. Produce descriptive
statistics.R:237-261`): quantile = first band whose cumulative count
crosses q*total, minus 1; threshold counts/rates; suppression below 20.
"""

from __future__ import annotations

from pyspark.sql import Row

from elective_waiting_times_pipeline_spark.operators.histogram import (
    band_histogram,
    histogram_stats,
)


def _stats_for(spark, counts: dict[int, int], **kw):
    rows = [Row(grp="g", band=b, cnt=c) for b, c in counts.items()]
    hist = spark.createDataFrame(rows)
    out = histogram_stats(hist, ["grp"], **kw).collect()
    assert len(out) == 1
    return out[0]


def test_median_simple(spark):
    # bands 1..4 with counts 10,10,10,10 → total 40, cum: 10,20,30,40
    # q=0.5 target 20 → first band with cum>=20 is band 2 → weeks=1
    r = _stats_for(spark, {1: 10, 2: 10, 3: 10, 4: 10}, quantiles=(0.5,))
    assert r.total_patients == 40
    assert r.weeks_50 == 1


def test_quantile_crossing_exact_boundary(spark):
    # total=100, q=0.92 → target 92; cum hits 92 exactly at band 3 → weeks=2
    r = _stats_for(spark, {1: 50, 2: 40, 3: 2, 4: 8}, quantiles=(0.92,))
    assert r.weeks_92 == 2


def test_sparse_bands_skip_missing(spark):
    # bands 1 and 50 only; median crosses at band 1 (cum 30 >= 20)
    r = _stats_for(spark, {1: 30, 50: 10}, quantiles=(0.5, 0.95))
    assert r.weeks_50 == 0
    assert r.weeks_95 == 49


def test_low_band_range_with_gap(spark):
    # bands 0, 1 and 4 (2, 3 absent): band 0 is weeks −1. total 40;
    # cum 12, 20, 20, 20, 40 over bands 0..4 → q=0.25 (target 10) at
    # band 0 → weeks −1; q=0.5 (20) at band 1 → 0; q=0.95 (38) at
    # band 4 → 3. ≤1 → 20, ≥2 → 40 − 20 = 20 (all in band 4).
    r = _stats_for(spark, {0: 12, 1: 8, 4: 20}, quantiles=(0.25, 0.5, 0.95),
                   le_thresholds=(1,), ge_thresholds=(2,))
    assert r.total_patients == 40
    assert (r.weeks_25, r.weeks_50, r.weeks_95) == (-1, 0, 3)
    assert r.number_1_or_less == 20 and r.rate_1wks_or_less == 50.0
    assert r.number_2_or_more == 20 and r.rate_2wks_or_more == 50.0
    # a ≤-threshold below the lowest band counts nothing
    r = _stats_for(spark, {3: 15, 5: 15}, quantiles=(0.5,), le_thresholds=(1,), ge_thresholds=(4,))
    assert r.weeks_50 == 2 and r.number_1_or_less == 0 and r.number_4_or_more == 15


def test_thresholds(spark):
    # 30 in band 10, 10 in band 60: ≤18 → 30 (75.0%), ≥52 → 10 (25.0%)
    r = _stats_for(spark, {10: 30, 60: 10}, le_thresholds=(18,), ge_thresholds=(52,))
    assert r.number_18_or_less == 30
    assert r.rate_18wks_or_less == 75.0
    assert r.number_52_or_more == 10
    assert r.rate_52wks_or_more == 25.0


def test_suppression_boundary(spark):
    # totals 19 / 20 / 21 — suppressed, kept, kept (2.R:233 rule: < 20)
    r19 = _stats_for(spark, {1: 19}, quantiles=(0.5,))
    r20 = _stats_for(spark, {1: 20}, quantiles=(0.5,))
    r21 = _stats_for(spark, {1: 21}, quantiles=(0.5,))
    assert r19.weeks_50 is None and r19.rate_18wks_or_less is None
    assert r19.total_patients == 19  # total itself is not suppressed
    assert r20.weeks_50 == 0
    assert r21.weeks_50 == 0


def test_band_histogram_counts_rows(spark):
    df = spark.createDataFrame([Row(g="x", band=2)] * 3 + [Row(g="x", band=5)])
    hist = {r.band: r.cnt for r in band_histogram(df, ["g"], "band").collect()}
    assert hist == {2: 3, 5: 1}


def test_rate_rounding_half_even_vs_half_up(spark):
    # 21 of 80 ≤ threshold → 26.25 exactly: R/Python half-even gives
    # 26.2, SQL-engine HALF_UP gives 26.3 (ADVICE r1).
    counts = {10: 21, 60: 59}
    up = _stats_for(spark, counts, le_thresholds=(18,), ge_thresholds=())
    ev = _stats_for(spark, counts, le_thresholds=(18,), ge_thresholds=(), half_even=True)
    assert up.rate_18wks_or_less == 26.3
    assert ev.rate_18wks_or_less == 26.2
