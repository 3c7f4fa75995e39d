"""Rank-based statistics without global windows.

Spearman correlation and the Mann-Whitney U test both need GLOBAL
ranks of a value column — the textbook formulation is one
`Window.orderBy(value)` over the whole relation, which funnels every
row through a single task (the exact anti-pattern the catalog's
plan-shape lint forbids). This module derives the ranks from the
DISTINCT-VALUE axis instead:

    average rank of value v  =  C(v) + (cnt(v) + 1) / 2

where C(v) is the count of rows strictly below v and cnt(v) the tie
count. C(v) is a prefix sum over the distinct values in value order —
exactly what `operators.sampling.ordered_prefix` computes scale-free
(range-bucketed per-bucket windows + broadcast cumulative offsets, two
bounded shuffles). To stay in integers the module works with DOUBLED
ranks, r2(v) = 2·C(v) + cnt(v) + 1, which are exact longs; Spearman's
rho is affine-invariant so rho(r2x, r2y) == rho(rx, ry), and the U
statistic carries the factor 2 through explicitly.

Determinism contract (matches plans/catalog.py): every sum the
statistics consume is an exact integer aggregate (decimal(38,0) sums —
order-independent, no float accumulation); the final formula combines
the EXACT sums in double with one fixed operation order that the
DuckDB oracles repeat verbatim, so the rounded outputs are
bit-identical across engines.

Reference analog: the correlation/fit layer of the reference's chart
scripts (`Charts.R`, SURVEY.md §2.10) — extended here to the
rank-based (outlier-robust) variants a data-quality pipeline wants.

Scale notes (100 TB): the row table is touched twice (one hash agg to
the distinct-value axis, one equi-join back for Spearman's
cross-moment); the per-value relation is |distinct| rows, range-
bucketed so no task ever sees more than ~1/64th of it; nothing is
collected to the driver except the ≤ 63 sampled cut points.
The decimal(38,0) sums hold while the largest moment fits 38 digits:
Σ r2² ≈ 4n³, so n ≲ 3·10¹² rows (the final rho/z combine happens in
double AFTER the exact sums, so no larger product is ever stored).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from elective_waiting_times_pipeline_spark.operators.sampling import value_prefix

_DEC = "decimal(38,0)"


def doubled_avg_rank(df: DataFrame, value_col: str, out_col: str = "r2") -> DataFrame:
    """Distinct-value → doubled tie-averaged rank map.

    Returns one row per distinct `value_col` with `out_col` =
    2·C(v) + cnt(v) + 1 (twice the average rank of the tie group —
    an exact long) and `_cnt` (the tie count). NULL values are
    excluded: SQL rank semantics for NULL differ between engines
    (Spark sorts NULL first, DuckDB last), so callers filter them —
    the statistics here are over observed pairs anyway.
    """
    rows = df.filter(F.col(value_col).isNotNull())
    # pin the AXIS (O(distinct) rows — the bounded checkpoint class),
    # not the row stream: the cut-points sample, the offsets agg and
    # the ranked branch all read the pinned axis, so the corpus-sized
    # groupBy runs exactly once and the offsets branch can come from a
    # plain HashAggregate (offsets_from_source) instead of a second
    # sort+window over the bucket exchange.
    g = (
        rows.groupBy(value_col)
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .localCheckpoint(eager=False)
    )
    pre = value_prefix(
        g,
        value_col,
        weight="_cnt",
        out_prefix="_cum",
        offsets_from_source=True,
    )
    return pre.select(
        value_col,
        (2 * F.col("_cum") - F.col("_cnt") + 1).cast("long").alias(out_col),
        "_cnt",
    )


def _dec(c: Column) -> Column:
    return c.cast(_DEC)


def spearman_rho(df: DataFrame, x: str, y: str) -> DataFrame:
    """Spearman rank correlation of two columns, tie-averaged ranks.

    One row: `n` (pair count) and `spearman_rho` (round 6). Pearson
    on the doubled-rank columns — affine invariance makes the factor
    2 vanish. The five moment sums are exact decimal(38,0) integers;
    the final rho combines them in double as

        (n·Sxy − Sx·Sy) / (sqrt(n·Sxx − Sx²) · sqrt(n·Syy − Sy²))

    — the one operation order the oracles repeat. Rows where either
    column is NULL are dropped (pairwise-complete, the R default).
    """
    # checkpoint the NARROW (x, y) projection: three consumers
    # reference it (the two union branches of the fused rank pass and
    # the final join probe) and upstream may be an expensive
    # derivation (spearman_corr feeds a regex token count) — without
    # the pin every consumer re-runs it (the curriculum_order /
    # weighted_median pattern). The pin is O(n) rows but only the two
    # value columns — 16 bytes/row against the corpus text it spares.
    rows = (
        df.filter(F.col(x).isNotNull() & F.col(y).isNotNull())
        .select(x, y)
        .localCheckpoint(eager=False)
    )
    # ONE fused rank pass for BOTH variables: tag-union the two value
    # streams and run the doubled-avg-rank machinery grouped by the
    # tag. Ranks within a tag are computed over exactly that tag's
    # rows (the window partitions by (_tag, bucket), the offsets
    # prefix by _tag), so the per-variable ranks are identical to two
    # separate passes — but the corpus-side aggregation, the
    # cut-points action and the offsets machinery run ONCE instead of
    # twice. A shared cut list is sound: cut points only steer
    # parallelism (any monotone bucketing yields the same exact
    # ranks), and equal-mass cuts over the UNION axis are taken from
    # the collapsed axis itself (the 4096-row sample over ≤|ax|+|ay| rows).
    # Requires x and y to be union-compatible; both callers cast to
    # long. The axis is localCheckpoint'd (O(distinct) rows — the
    # bounded class), so the two filter branches and the offsets agg
    # (offsets_from_source: HashAggregate, no second sort+window)
    # read pinned blocks instead of re-running the corpus agg.
    if dict(df.dtypes)[x] != dict(df.dtypes)[y]:
        raise ValueError(
            f"spearman_rho needs union-compatible columns, got "
            f"{dict(df.dtypes)[x]} vs {dict(df.dtypes)[y]}"
        )
    u = rows.select(F.lit(0).alias("_tag"), F.col(x).alias("_v")).unionByName(
        rows.select(F.lit(1).alias("_tag"), F.col(y).alias("_v"))
    )
    g = (
        u.groupBy("_tag", "_v")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .localCheckpoint(eager=False)
    )
    pre = value_prefix(
        g,
        "_v",
        group_cols=["_tag"],
        weight="_cnt",
        out_prefix="_cum",
        offsets_from_source=True,
    )
    # pin the finished rank map too (axis-sized): rx and ry are two
    # consumers, and without the pin each broadcast build would re-run
    # the window pass (tag-filter pushes below the window, so it would
    # be one bucket exchange + sort PER TAG — with the pin the single
    # two-tag window pass runs once)
    r2 = pre.select(
        "_tag",
        "_v",
        (2 * F.col("_cum") - F.col("_cnt") + 1).cast("long").alias("_r2"),
    ).localCheckpoint(eager=False)
    rx = r2.filter(F.col("_tag") == 0).select(
        F.col("_v").alias(x), F.col("_r2").alias("_rx")
    )
    ry = r2.filter(F.col("_tag") == 1).select(
        F.col("_v").alias(y), F.col("_r2").alias("_ry")
    )
    # the rank maps are axis-sized (bounded by |distinct values|, not
    # n) — broadcast them explicitly rather than trusting size
    # estimates through the checkpoint barrier (guide §3.1: a
    # LogicalRDD carries no stats, so the planner would assume huge)
    j = rows.join(F.broadcast(rx), x).join(F.broadcast(ry), y)
    agg = j.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(_dec(F.col("_rx"))).alias("_sx"),
        F.sum(_dec(F.col("_ry"))).alias("_sy"),
        F.sum(_dec(F.col("_rx")) * F.col("_ry")).alias("_sxy"),
        F.sum(_dec(F.col("_rx")) * F.col("_rx")).alias("_sxx"),
        F.sum(_dec(F.col("_ry")) * F.col("_ry")).alias("_syy"),
    )
    nd = F.col("_n").cast("double")
    sx, sy = F.col("_sx").cast("double"), F.col("_sy").cast("double")
    sxy = F.col("_sxy").cast("double")
    sxx, syy = F.col("_sxx").cast("double"), F.col("_syy").cast("double")
    num = nd * sxy - sx * sy
    den = F.sqrt(nd * sxx - sx * sx) * F.sqrt(nd * syy - sy * sy)
    return agg.select(
        F.col("_n").cast("long").alias("n"),
        # den == 0 (constant column): NULL, matching what the oracle's
        # unguarded x/0 yields in DuckDB (double/0 is NULL there); the
        # CASE also keeps ANSI Spark from aborting on the division
        F.round(
            F.when(den == 0, F.lit(None).cast("double")).otherwise(num / den), 6
        ).alias("spearman_rho"),
    )


def mann_whitney_u(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Mann-Whitney U test (two-sided normal approximation with tie
    correction) comparing `value_col` between two groups.

    One row: n_a, n_b, u_stat (U of group A — half-integers exact in
    double), z_score (round 6). Needs NO join back to the rows: the
    rank sum of group A is Σ_v cnt_a(v)·avgrank(v), a pure aggregate
    of the distinct-value relation — one hash agg + the bounded
    prefix machinery + one final agg, the cheapest possible shape.

        U_A = R_A − n_a(n_a+1)/2        (R_A from doubled ranks / 2)
        μ   = n_a·n_b / 2
        σ²  = n_a·n_b/12 · ((n+1) − Σ(t³−t)/(n(n−1)))   (tie-corrected)
        z   = (U_A − μ) / σ
    """
    # the row stream has ONE consumer (the axis agg) now that cut
    # points sample the collapsed axis, so the former corpus-sized
    # localCheckpoint of t is gone; the pin moved to the AXIS
    # (O(distinct) rows), whose three consumers (cut points, ranked
    # branch, source-offsets agg) read pinned blocks.
    t = df.filter(
        F.col(group_col).isin(group_a, group_b) & F.col(value_col).isNotNull()
    ).select(group_col, value_col)
    g = (
        t.groupBy(value_col)
        .agg(
            F.sum(F.when(F.col(group_col) == group_a, 1).otherwise(0)).alias("_ca"),
            F.count(F.lit(1)).alias("_cnt"),
        )
        .localCheckpoint(eager=False)
    )
    pre = value_prefix(
        g,
        value_col,
        weight="_cnt",
        out_prefix="_cum",
        offsets_from_source=True,
    )
    r2 = 2 * F.col("_cum") - F.col("_cnt") + 1
    agg = pre.agg(
        F.sum("_ca").cast("long").alias("_na"),
        F.sum(F.col("_cnt") - F.col("_ca")).cast("long").alias("_nb"),
        F.sum(_dec(F.col("_ca")) * r2).alias("_r2a"),
        F.sum(_dec(F.col("_cnt")) * F.col("_cnt") * F.col("_cnt") - F.col("_cnt")).alias("_tsum"),
    )
    na, nb = F.col("_na").cast("double"), F.col("_nb").cast("double")
    n = na + nb
    u = (F.col("_r2a").cast("double") - na * (na + F.lit(1.0))) / F.lit(2.0)
    mu = na * nb / F.lit(2.0)
    # n <= 1 would divide by n*(n-1) == 0 (ANSI abort); gate the tie
    # term so the degenerate single-row input falls through to the
    # var <= 0 branch below instead
    var = F.when(n <= 1, F.lit(0.0)).otherwise(
        na * nb / F.lit(12.0)
        * ((n + F.lit(1.0)) - F.col("_tsum").cast("double") / (n * (n - F.lit(1.0))))
    )
    return agg.select(
        F.col("_na").alias("n_a"),
        F.col("_nb").alias("n_b"),
        u.alias("u_stat"),
        # var <= 0 (one group empty / all values tied): NULL, matching
        # the oracle's unguarded x/sqrt(0) -> NULL under DuckDB's
        # double/0 semantics; the CASE also prevents the ANSI abort
        F.round(
            F.when(var <= 0, F.lit(None).cast("double")).otherwise((u - mu) / F.sqrt(var)), 6
        ).alias("z_score"),
    )
