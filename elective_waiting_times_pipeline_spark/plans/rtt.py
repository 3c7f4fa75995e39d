"""RTT dashboard-statistics engine — the reference's core analytics
(`2. Produce descriptive statistics.R`) re-expressed as ONE Spark pass.

Reference shape (2.R:127-301 provider, 2.R:314-478 ccg, 2.R:492-645
region, 2.R:659-812 imd): a scalar function per (month, geo, specialty,
pathway, IS-bucket) combination, swept over an expand.grid — O(grid)
full-table rescans. Here the whole grid is computed at once, and the
histogram is aggregated while still wide, before any reshaping:

    wide fact rows (keys, unknown_start, total_all, _gt_1.._gt_n)
        GROUP BY GROUPING SETS ((geo,is),(geo),(is),()) × fixed keys
        SUM(_gt_b) per band b, SUM(unknown_start), SUM(total_all)
    ──▶ one row per grid cell: counts = [coalesce(SUM(_gt_b), 0)]
        operators.histogram.band_stats: one linear fold over counts
        (no window) — running total and, per quantile, weeks.q = first
        band index with total ≥ q·nonmiss; threshold counts and rates

The ENGLAND pseudo-group (2.R:148-150: overwrite geo with a constant)
and the independent∈{0,1,2=All} branch (2.R:344-353) are exactly the
four grouping sets. Spark's Expand operator replicates each wide row 4×
into one shuffle — versus the reference's |grid| rescans.

A band that is NULL in every row of a group sums to NULL and is counted
as 0 here, where R drops it (na.rm). That never moves a quantile: with
nonmiss > 0 the first band whose running total reaches q·nonmiss has a
positive count, so it is a populated band either way.

Semantics replicated exactly:
  * pathway mapping 2.R:69-76 (5 RTT.Part.Description values);
  * specialty renames 2.R:81-90;
  * NONC (private patients) excluded 2.R:318;
  * totals by pathway 2.R:189-228: complete* = band total + unknown
    clock start; incomplete* = band total; newRTT = Total.All only;
  * quantile = (first band with cumsum ≥ q × total.nonmiss) − 1, where
    total.nonmiss is the known-start band total (2.R:237-249);
  * number.18.or.less = cumsum[18]; number.52.or.more = total.nonmiss −
    sum(bands 1..52); rates = round(x/total.nonmiss·100, 1) (2.R:256-261);
  * suppression: stats NULL when total.nonmiss < 20 or type = newRTT
    (2.R:233, 277-298); total.patients itself is never suppressed.

Output columns use the reference's golden names (monthyear, geo, ...,
`total.patients`, `number.18.or.less`, `weeks.50`, ...).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from elective_waiting_times_pipeline_spark.operators.histogram import band_stats

PATHWAY_MAP = {
    "Incomplete Pathways": "incomplete",
    "Completed Pathways For Admitted Patients": "completeadmitted",
    "Completed Pathways For Non-Admitted Patients": "completenonadmitted",
    "Incomplete Pathways with DTA": "incompleteDTA",
    "New RTT Periods - All Patients": "newRTT",
}

SPECIALTY_RENAMES = {
    "Ear, Nose & Throat (ENT)": "Ear Nose and Throat",
    "Geriatric Medicine": "Elderly Medicine",
    "Neurosurgical": "Neurosurgery",
    "Trauma & Orthopaedics": "Trauma and Orthopaedic",
    "Other - Medicals": "Other",
    "Other - Mental Healths": "Other",
    "Other - Others": "Other",
    "Other - Paediatrics": "Other",
    "Other - Surgicals": "Other",
}


def pathway_col(rtt_part: str = "RTT.Part.Description") -> F.Column:
    """case_when ladder of 2.R:69-76."""
    c = F.col(f"`{rtt_part}`")
    chain = None
    for raw, mapped in PATHWAY_MAP.items():
        chain = F.when(c == raw, mapped) if chain is None else chain.when(c == raw, mapped)
    return chain.otherwise(F.lit("NA")).alias("pathway")


def clean_specialty(col: str = "Treatment.Function.Name") -> F.Column:
    """` Service` strip + rename ladder of 2.R:81-90."""
    c = F.regexp_replace(F.col(f"`{col}`"), " Service", "")
    chain = None
    for raw, mapped in SPECIALTY_RENAMES.items():
        chain = F.when(c == raw, mapped) if chain is None else chain.when(c == raw, mapped)
    return chain.otherwise(c).alias("specialty")


def prepare_fact(fact: DataFrame, gt_cols: Sequence[str] | None = None) -> tuple[DataFrame, DataFrame]:
    """From the wide RTT extract (FIXTURES.md §1 schema) derive one row
    per fact row with the group keys, the scalar measures and the band
    counts `_gt_1.._gt_n` (band b = b-th Gt column, NULL cells kept),
    NONC-excluded (2.R:318) and pathway != 'NA'.

    Returns the frame twice: the dashboard reads the wide rows only, and
    the pair keeps the `rows, long = prepare_fact(...)` call shape.
    """
    if gt_cols is None:
        gt_cols = [c for c in fact.columns if c.startswith("Gt")]
    rows = (
        fact.filter(F.col("`Commissioner.Org.Code`") != "NONC")
        .select(
            F.col("monthyr").alias("monthyear"),
            F.col("`Provider.Org.Name`").alias("provider"),
            F.col("`Commissioner.Org.Code`").alias("ccg"),
            F.col("`Commissioner.Org.Name`").alias("ccg_name"),
            pathway_col(),
            clean_specialty(),
            F.col("IS_provider").cast("int").alias("is_provider"),
            F.coalesce(F.col("`Patients.with.unknown.clock.start.date`").cast("long"), F.lit(0)).alias(
                "unknown_start"
            ),
            F.coalesce(F.col("`Total.All`").cast("long"), F.lit(0)).alias("total_all"),
            *[F.col(f"`{c}`").cast("long").alias(f"_gt_{i + 1}") for i, c in enumerate(gt_cols)],
        )
        .filter(F.col("pathway") != "NA")
    )
    return rows, rows


def dashboard_stats(
    rows: DataFrame,
    long: DataFrame | None = None,
    geo_col: str = "ccg",
    quantiles: Sequence[float] = (0.50, 0.92, 0.95),
    all_label: str = "ENGLAND",
) -> DataFrame:
    """All (month × geo ∪ ENGLAND × specialty × pathway × IS ∪ All)
    dashboard statistics in one grouping-sets pass over the wide rows.

    geo_col selects the variant: 'provider' (2.R:127), 'ccg' (2.R:314),
    or any dimension joined onto the fact (region 2.R:492, IMD quintile
    2.R:659). `long` (the second frame of `prepare_fact`) is accepted
    for call compatibility and not read. Output: FIXTURES.md §4 summary
    schema.
    """
    return _grid(rows, geo_col, quantiles, all_label, by_is=True)


def _grid(
    rows: DataFrame, geo_col: str, quantiles: Sequence[float], all_label: str, by_is: bool
) -> DataFrame:
    """The dashboard grid; by_is=False keeps only the (…, geo) and ()
    grouping sets, i.e. the 'All' IS bucket."""
    fixed = ["monthyear", "specialty", "pathway"]
    bands = sorted((c for c in rows.columns if c.startswith("_gt_")), key=lambda c: int(c[4:]))
    split = [geo_col, "is_provider"] if by_is else [geo_col]
    extra = [split, [geo_col], ["is_provider"], []] if by_is else [split, []]
    independent = (
        F.when(F.grouping("is_provider") == 1, "All")
        .when(F.col("is_provider") == 1, "IS")
        .otherwise("Non-IS")
        if by_is
        else F.lit("All")
    )
    cells = rows.groupingSets([fixed + e for e in extra], *fixed, *split).agg(
        F.when(F.grouping(geo_col) == 1, all_label).otherwise(F.col(geo_col)).alias("geo"),
        independent.alias("independent"),
        F.sum("unknown_start").alias("unknown_start"),
        F.sum("total_all").alias("total_all"),
        F.array(*[F.coalesce(F.sum(b), F.lit(0)) for b in bands]).alias("counts"),
    )
    # half_even: R round() is half-to-even (26.25 → 26.2, not 26.3)
    stats = band_stats(cells, "counts", 1, quantiles, (18,), (52,), half_even=True)
    n = F.col("total_patients")
    total = (
        F.when(F.col("pathway").isin("completeadmitted", "completenonadmitted"), n + F.col("unknown_start"))
        .when(F.col("pathway") == "newRTT", F.col("total_all"))
        .otherwise(n)
    )

    def _supp(name: str) -> F.Column:
        return F.when(F.col("pathway") != "newRTT", F.col(name))

    return stats.select(
        "monthyear",
        F.col("geo").alias(geo_col),
        "specialty",
        F.col("pathway").alias("type"),
        "independent",
        total.cast("long").alias("total.patients"),
        _supp("number_18_or_less").alias("number.18.or.less"),
        _supp("rate_18wks_or_less").alias("rate.18wks.or.less"),
        _supp("number_52_or_more").alias("number.52.or.more"),
        _supp("rate_52wks_or_more").alias("rate.52wks.or.more"),
        *[_supp(f"weeks_{int(round(q * 100))}").alias(f"weeks.{int(round(q * 100))}") for q in quantiles],
    )


def provider_stats_exact(
    rows: DataFrame,
    long: DataFrame | None = None,
    quantiles: Sequence[float] = (0.50, 0.92, 0.95),
) -> DataFrame:
    """Exact output parity with `dashboard_stats_provider` (2.R:127-301):
    the provider variant does NOT take an IS bucket — it emits a
    single `IS` column = max(IS_provider) over the subset (0 for the
    ENGLAND pseudo-provider, 2.R:183-185). Implemented as the kernel's
    (…, provider) and () grouping sets plus a broadcast-joined
    per-(month, provider) max-flag. `long` is accepted for call
    compatibility and not read."""
    stats = _grid(rows, "provider", quantiles, "ENGLAND", by_is=False).drop("independent")
    flags = rows.groupBy("monthyear", "provider").agg(
        F.max("is_provider").cast("string").alias("IS")
    )
    out = stats.join(F.broadcast(flags), on=["monthyear", "provider"], how="left")
    return out.withColumn(
        "IS", F.when(F.col("provider") == "ENGLAND", F.lit("0")).otherwise(F.col("IS"))
    )
