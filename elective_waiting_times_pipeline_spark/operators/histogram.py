"""Binned-histogram quantile kernel — the engine's signature aggregate.

Reference semantics (`2. Produce descriptive statistics.R:237-261`):
given per-group weekly wait-band counts (band b covers (b-1, b] weeks),
  * quantile q  = (first band where running-total ≥ q × total) − 1,
    i.e. integer weeks waited at the q-th percentile of a PRE-BINNED
    distribution — NOT percentile_approx (different semantics);
  * number ≤ T weeks   = sum of counts over bands 1..T;
  * number ≥ T weeks   = total − that prefix sum;
  * rates = round(100 × count / total, 1);
  * small-sample suppression: all stats NULL when total < 20
    (`2.R:233`, `2.R:277-298`).

Spark-first design: one hash aggregation collapses the fact rows to
(group × band) — partial map-side combine makes this the only shuffle —
then a window cumulative sum over the (tiny) per-group band axis, then
one more hash agg extracts every quantile and threshold with
conditional aggregates. No UDAF, no Python in the hot path; the whole
kernel is whole-stage-codegen'd expressions, so it survives a 100 TB
fact table as long as the group count does (band axis is ≤ ~110 rows
per group after the first agg).

Wide inputs (one column per band, like the RTT extract) need no melt:
`plans/rtt.py` sums the band columns and folds running totals over an
array. `wide_to_band_long` serves callers that want the long form.
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def wide_to_band_long(
    df: DataFrame,
    gt_cols: Sequence[str],
    keep_cols: Sequence[str],
    band_col: str = "band",
    cnt_col: str = "cnt",
) -> DataFrame:
    """Melt wide `Gt.*` histogram columns into (band, cnt) rows.

    Band index is 1-based in column order (Gt.00.To.01 → band 1).
    NULL counts are dropped (R's `na.rm=TRUE` everywhere); the set of
    populated bands varies by month (`2.R:141-145`) and the long form
    absorbs that drift — absent band = absent row, not a schema change.
    """
    pairs = F.array(
        *[
            # backticks: the advertised 'Gt.00.To.01...' names would
            # otherwise parse as nested struct-field access
            F.struct(F.lit(i + 1).alias(band_col), F.col(f"`{c}`").cast("long").alias(cnt_col))
            for i, c in enumerate(gt_cols)
        ]
    )
    exploded = df.select(*keep_cols, F.explode(pairs).alias("_bc"))
    return exploded.select(
        *keep_cols, F.col(f"_bc.{band_col}").alias(band_col), F.col(f"_bc.{cnt_col}").alias(cnt_col)
    ).filter(F.col(cnt_col).isNotNull())


def wide_to_band_array(
    df: DataFrame,
    gt_cols: Sequence[str],
    out_col: str = "wait_band_counts",
) -> DataFrame:
    """Canonical ArrayType form (SURVEY §7.1): the wide Gt* columns as
    one ARRAY<LONG> (index b-1 = band b; NULL cells preserved so the
    month's populated-band set is recoverable)."""
    arr = F.array(*[F.col(f"`{c}`").cast("long") for c in gt_cols])
    return df.withColumn(out_col, arr)


def band_array_to_wide(
    df: DataFrame,
    n_bands: int,
    arr_col: str = "wait_band_counts",
    name_fn=lambda b: f"Gt.{b - 1:02d}.To.{b:02d}.Weeks.SUM.1",
) -> DataFrame:
    """Export adapter: ARRAY<LONG> back to the reference's wide Gt*
    columns (golden CSV compatibility)."""
    cols = [F.element_at(F.col(arr_col), b).alias(name_fn(b)) for b in range(1, n_bands + 1)]
    return df.select("*", *cols).drop(arr_col)


def band_histogram(
    df: DataFrame,
    group_cols: Sequence[str],
    band_col: str,
    cnt_col: str | None = None,
) -> DataFrame:
    """Collapse fact rows to one row per (group × band).

    If ``cnt_col`` is None each input row counts once (building the
    histogram from raw per-item values); otherwise pre-binned counts
    are summed. Either way this is a single shuffle with map-side
    partial aggregation.
    """
    agg = F.count(F.lit(1)) if cnt_col is None else F.sum(cnt_col)
    return df.groupBy(*group_cols, band_col).agg(agg.cast("long").alias("cnt"))


def _suppress(total: Column, min_total: int, stat: Column) -> Column:
    return F.when(total >= min_total, stat)


def histogram_stats(
    hist: DataFrame,
    group_cols: Sequence[str],
    band_col: str = "band",
    cnt_col: str = "cnt",
    quantiles: Iterable[float] = (0.50, 0.92, 0.95),
    le_thresholds: Iterable[int] = (18,),
    ge_thresholds: Iterable[int] = (52,),
    min_total: int = 20,
    half_even: bool = False,
) -> DataFrame:
    """Quantiles + threshold counts/rates + suppression from a
    (group × band × cnt) histogram.

    Output columns:
      total_patients,
      weeks_{q*100} per quantile (INT, NULL-suppressed),
      number_{T}_or_less / rate_{T}wks_or_less per ≤-threshold,
      number_{T}_or_more / rate_{T}wks_or_more per ≥-threshold.

    ``half_even=True`` rounds the rate columns half-to-even (R/Python
    ``round`` semantics — needed for golden parity with the reference,
    e.g. 26.25 → 26.2); the default HALF_UP matches SQL-engine ROUND.
    """
    _round = F.bround if half_even else F.round
    grp = list(group_cols)
    w_cum = (
        Window.partitionBy(*grp)
        .orderBy(band_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy(*grp)
    cum = F.sum(cnt_col).over(w_cum)
    total = F.sum(cnt_col).over(w_all)
    enriched = hist.select(
        *grp,
        F.col(band_col).alias("_band"),
        F.col(cnt_col).alias("_cnt"),
        cum.alias("_cum"),
        total.alias("_total"),
    )

    aggs: list[Column] = [F.max("_total").alias("total_patients")]
    t = F.max("_total")
    for q in quantiles:
        name = f"weeks_{int(round(q * 100))}"
        crossing = F.min(F.when(F.col("_cum") >= q * F.col("_total"), F.col("_band")))
        aggs.append(_suppress(t, min_total, (crossing - 1).cast("int")).alias(name))
    for thr in le_thresholds:
        n_le = F.coalesce(F.sum(F.when(F.col("_band") <= thr, F.col("_cnt"))), F.lit(0))
        aggs.append(_suppress(t, min_total, n_le.cast("long")).alias(f"number_{thr}_or_less"))
        aggs.append(
            _suppress(t, min_total, _round(100.0 * n_le / t, 1)).alias(f"rate_{thr}wks_or_less")
        )
    for thr in ge_thresholds:
        n_ge = t - F.coalesce(F.sum(F.when(F.col("_band") <= thr, F.col("_cnt"))), F.lit(0))
        aggs.append(_suppress(t, min_total, n_ge.cast("long")).alias(f"number_{thr}_or_more"))
        aggs.append(
            _suppress(t, min_total, _round(100.0 * n_ge / t, 1)).alias(f"rate_{thr}wks_or_more")
        )
    return enriched.groupBy(*grp).agg(*aggs)
