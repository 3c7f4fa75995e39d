"""Binned-histogram quantile kernel — the engine's signature aggregate.

Reference semantics (`2. Produce descriptive statistics.R:237-261`):
given per-group weekly wait-band counts (band b covers (b-1, b] weeks),
  * quantile q  = (first band where running-total ≥ q × total) − 1,
    i.e. integer weeks waited at the q-th percentile of a PRE-BINNED
    distribution — NOT percentile_approx (different semantics);
  * number ≤ T weeks   = sum of counts over bands up to T;
  * number ≥ T weeks   = total − that prefix sum;
  * rates = round(100 × count / total, 1);
  * small-sample suppression: all stats NULL when total < 20
    (`2.R:233`, `2.R:277-298`); the total itself is never suppressed.

One kernel, two entry points. `band_stats` works on rows that each
hold a dense ARRAY<LONG> of band counts: it binds the total once, then
one linear fold over the array carries the running total, the band
index and one slot per quantile (the index where the running total
first reaches q × total); threshold counts are folds over a prefix
slice. No window, no UDAF, no Python in the hot path.

  * `plans/rtt.py` builds the array straight from the wide RTT extract
    (one grouping-sets aggregate sums each band column) and calls
    `band_stats` with first band 1.
  * `histogram_stats` takes the long (group × band × cnt) form, e.g.
    from `band_histogram`, and densifies each group in one aggregate
    before calling `band_stats`.
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 2.R:233 — statistics of a group with fewer patients are suppressed.
MIN_TOTAL = 20


def _sum(arr: Column) -> Column:
    return F.aggregate(arr, F.lit(0).cast("long"), lambda a, c: a + c)


def band_stats(
    cells: DataFrame,
    counts: str,
    first_band: int | Column,
    quantiles: Sequence[float],
    le_thresholds: Iterable[int],
    ge_thresholds: Iterable[int],
    half_even: bool,
) -> DataFrame:
    """Quantiles + threshold counts/rates + suppression per row of
    ``cells``, whose ``counts`` column is a dense ARRAY<LONG> of band
    counts: element i is band ``first_band + i`` (an int, or a Column
    when the band range differs per row).

    Returns ``cells`` plus the columns
      total_patients,
      weeks_{q*100} per quantile (INT, NULL-suppressed),
      number_{T}_or_less / rate_{T}wks_or_less per ≤-threshold,
      number_{T}_or_more / rate_{T}wks_or_more per ≥-threshold.

    ``half_even=True`` rounds the rate columns half-to-even (R/Python
    ``round`` semantics — needed for golden parity with the reference,
    e.g. 26.25 → 26.2); False rounds HALF_UP like SQL-engine ROUND.
    """
    first = first_band if isinstance(first_band, Column) else F.lit(first_band)
    arr, total = F.col(counts), F.col("_total")
    quantiles = list(quantiles)
    le_thresholds, ge_thresholds = list(le_thresholds), list(ge_thresholds)

    def prefix(thr: int) -> Column:
        """Sum of the bands up to and including band ``thr``."""
        return _sum(F.slice(arr, 1, F.greatest(F.lit(thr) - first + 1, F.lit(0))))

    thresholds = sorted(set(le_thresholds) | set(ge_thresholds))
    # The total and the prefix sums are bound as columns first: codegen
    # does not CSE inside lambda bodies, so a total written inline in the
    # fold would be recomputed at every step.
    out = cells.select("*", _sum(arr).alias("_total"), *[prefix(t).alias(f"_le{t}") for t in thresholds])
    # Each quantile's first crossing in ONE linear fold over the bands:
    # the accumulator carries the running total, the 0-based band index
    # and one slot per quantile that takes the index where the running
    # total first reaches q·total (-1 until then).
    slots = [f"w{k}" for k in range(len(quantiles))]
    zero = F.struct(
        F.lit(0).cast("long").alias("run"), F.lit(0).alias("i"), *[F.lit(-1).alias(w) for w in slots]
    )

    def step(acc: Column, n: Column) -> Column:
        run = acc["run"] + n
        return F.struct(
            run.alias("run"),
            (acc["i"] + 1).alias("i"),
            *[
                F.when((acc[w] < 0) & (run >= q * total), acc["i"]).otherwise(acc[w]).alias(w)
                for w, q in zip(slots, quantiles)
            ],
        )

    out = out.withColumn("_crossing", F.aggregate(arr, zero, step))
    _round = F.bround if half_even else F.round

    def keep(c: Column) -> Column:
        return F.when(total >= MIN_TOTAL, c)

    stats = [total.alias("total_patients")]
    for w, q in zip(slots, quantiles):
        stats.append(keep(first - 1 + F.col("_crossing")[w]).alias(f"weeks_{int(round(q * 100))}"))
    for thr in le_thresholds:
        n_le = F.col(f"_le{thr}")
        stats.append(keep(n_le).alias(f"number_{thr}_or_less"))
        stats.append(keep(_round(100.0 * n_le / total, 1)).alias(f"rate_{thr}wks_or_less"))
    for thr in ge_thresholds:
        n_ge = total - F.col(f"_le{thr}")
        stats.append(keep(n_ge).alias(f"number_{thr}_or_more"))
        stats.append(keep(_round(100.0 * n_ge / total, 1)).alias(f"rate_{thr}wks_or_more"))
    return out.select(*[F.col(f"`{c}`") for c in cells.columns], *stats)


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


def band_histogram(df: DataFrame, group_cols: Sequence[str], band_col: str) -> DataFrame:
    """Collapse fact rows to one (group × band × cnt) row per band, each
    input row counting once: a single shuffle with map-side partial
    aggregation."""
    return df.groupBy(*group_cols, band_col).agg(F.count(F.lit(1)).alias("cnt"))


def histogram_stats(
    hist: DataFrame,
    group_cols: Sequence[str],
    band_col: str = "band",
    cnt_col: str = "cnt",
    quantiles: Iterable[float] = (0.50, 0.92, 0.95),
    le_thresholds: Iterable[int] = (18,),
    ge_thresholds: Iterable[int] = (52,),
    half_even: bool = False,
) -> DataFrame:
    """`band_stats` per group of a long (group × band × cnt) histogram
    with one row per (group, band), e.g. from `band_histogram`.

    One aggregate densifies each group: its lowest and highest band and
    a band → cnt map, expanded over `sequence(lo, hi)` with absent bands
    counted 0, so band ``lo + i`` is element i. The array length — and
    the per-group fold — is O(max band − min band), not O(populated
    bands): a group whose bands span a huge range pays for every band in
    between. Rows with a NULL band are dropped (R's na.rm).

    Output: the group columns plus `band_stats`' columns.
    """
    grp = list(group_cols)
    dense = (
        hist.filter(F.col(band_col).isNotNull())
        .groupBy(*grp)
        .agg(
            F.min(band_col).alias("_lo"),
            F.max(band_col).alias("_hi"),
            F.map_from_entries(F.collect_list(F.struct(band_col, F.col(cnt_col).cast("long")))).alias("_m"),
        )
        .select(
            *grp,
            "_lo",
            F.transform(
                F.sequence("_lo", "_hi"), lambda b: F.coalesce(F.element_at("_m", b), F.lit(0).cast("long"))
            ).alias("_counts"),
        )
    )
    stats = band_stats(dense, "_counts", F.col("_lo"), quantiles, le_thresholds, ge_thresholds, half_even)
    return stats.drop("_lo", "_counts")
