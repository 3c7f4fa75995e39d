"""Ratio analysis (3d) and Strategy-Unit re-bucketing (Charts.R)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from elective_waiting_times_pipeline_spark.plans import reporting, rtt
from tests.rtt_fixture import make_fixture, oracle_stats


def test_ratio_started_vs_completed(spark):
    pdf = make_fixture()
    fact = spark.createDataFrame(pdf)
    rows, long = rtt.prepare_fact(fact)
    stats = rtt.dashboard_stats(rows, long, geo_col="ccg")
    ratios = reporting.ratio_started_vs_completed(stats)
    got = {
        (r.monthyear, r.ccg, r.specialty, r.independent): r
        for r in ratios.collect()
    }
    # Verify one cell against the pure-Python oracle
    key = ("Apr20", "ENGLAND", "Total", "All")
    w_new = oracle_stats(pdf, "Apr20", "ENGLAND", "Total", "newRTT", "All")
    w_adm = oracle_stats(pdf, "Apr20", "ENGLAND", "Total", "completeadmitted", "All")
    w_non = oracle_stats(pdf, "Apr20", "ENGLAND", "Total", "completenonadmitted", "All")
    r = got[key]
    assert r.started == w_new["total.patients"]
    assert r.completed == w_adm["total.patients"] + w_non["total.patients"]
    assert r.prop_all == pytest.approx(w_new["total.patients"] / (w_adm["total.patients"] + w_non["total.patients"]))
    assert r.prop_adm == pytest.approx(w_new["total.patients"] / w_adm["total.patients"])
    assert r.Provider == "Total"
    assert got[("Apr20", "ENGLAND", "Total", "Non-IS")].Provider == "NHS"


def test_rebucket_day_waits(spark):
    rows = []
    for b, p in [("0-50", 0.1), ("50-100", 0.2), ("100-150", 0.3), ("350-400", 0.4)]:
        rows.append(("2022", b, "Inpatient admissions", "NHS", 100, p))
        rows.append(("2022", b, "Inpatient admissions", "Independent Sector", 50, p / 2))
    df = spark.createDataFrame(rows, "year string, var_1 string, name string, sector string, value long, prop double")
    out = reporting.rebucket_day_waits(df)
    got = {r.time_bucket: r for r in out.collect()}
    assert got["Under 3m"]["prop.NHS"] == pytest.approx(0.3)
    assert got["Over 3m"]["prop.NHS"] == pytest.approx(0.7)
    assert got["Under 3m"]["prop.Independent Sector"] == pytest.approx(0.15)
    # year-horizon ladder (Charts.R time_year)
    yr = {r.time_bucket: r for r in reporting.rebucket_day_waits(df, horizon="year").collect()}
    assert yr["Under a year"]["prop.NHS"] == pytest.approx(0.6)
    assert yr["Over a year"]["prop.NHS"] == pytest.approx(0.4)


def test_percentile_approx_within_rank_error(spark, sf_dir):
    """percentile_approx(accuracy=1000) must land within 1/1000 rank
    error of the exact percentile — checked by rank, not value."""
    from elective_waiting_times_pipeline_spark.plans import catalog

    approx = {
        r.o_orderpriority: r.median_price_approx
        for r in catalog.SPARK_QUERIES["percentile_approx_sketch"](spark, sf_dir).collect()
    }
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    for prio, est in approx.items():
        vals = sorted(
            r.o_totalprice for r in orders.filter(orders.o_orderpriority == prio).collect()
        )
        import bisect

        rank = bisect.bisect_left(vals, est) / len(vals)
        assert abs(rank - 0.5) <= 0.01 + 1.0 / 1000, (prio, rank)


# --- custom categorical ordering (3c.R:628-642) -------------------------------

def test_category_rank_listed_unlisted_null(spark):
    from elective_waiting_times_pipeline_spark.functions.ordering import (
        REGION_ORDER,
        with_category_order,
    )

    df = spark.createDataFrame(
        [("London",), ("England",), ("Narnia",), (None,), ("North East",)],
        "region string",
    )
    got = {r.region: r.region_rank for r in with_category_order(df, "region", REGION_ORDER).collect()}
    assert got["England"] == 1
    assert got["North East"] == 2
    assert got["London"] == 8
    assert got["Narnia"] == len(REGION_ORDER) + 1  # unlisted after listed
    assert got[None] == len(REGION_ORDER) + 2  # NULL last


def test_casemix_presentation_order(spark):
    from elective_waiting_times_pipeline_spark.plans import reporting

    rows = [
        # (region, Pathway, Specialty, avg_IS)
        ("London", "Admitted", "Urology", 5.0),
        ("London", "Admitted", "Total", 2.0),       # pinned to top via 1000
        ("England", "Admitted", "Ophthalmology", 9.0),
        ("North East", "Admitted", "Urology", 7.0),
        ("England", "Non-admitted", "Urology", 1.0),
    ]
    df = spark.createDataFrame(rows, "region string, Pathway string, Specialty string, avg_IS double")
    out = [(r.region, r.Pathway, r.Specialty) for r in reporting.casemix_presentation(df).collect()]
    assert out == [
        ("England", "Admitted", "Ophthalmology"),
        ("North East", "Admitted", "Urology"),
        ("London", "Admitted", "Total"),
        ("London", "Admitted", "Urology"),
        ("England", "Non-admitted", "Urology"),
    ]
    # avg_IS column untouched (sort used a scratch column)
    cols = reporting.casemix_presentation(df).columns
    assert cols == ["region", "Pathway", "Specialty", "avg_IS"]


# ---------------------------------------------------------------------------
# NULL / edge semantics pinned after the ANSI-mode review: Spark 4
# runs with spark.sql.ansi.enabled=true, so divides and date parses
# that silently degraded pre-ANSI now abort jobs unless handled; and
# NULL ordering defaults differ from R's NA propagation.
# ---------------------------------------------------------------------------


def test_covid_period_null_date_stays_null(spark):
    from elective_waiting_times_pipeline_spark.functions.labels import covid_period

    rows = spark.createDataFrame(
        [("2019-01-01",), ("2021-01-01",), (None,)], "d string"
    ).select(covid_period(F.col("d").cast("date")).alias("p")).collect()
    assert [r.p for r in rows] == ["pre", "during", None]


def test_monthyr_to_date_malformed_label_is_null_not_abort(spark):
    from elective_waiting_times_pipeline_spark.functions.labels import monthyr_to_date

    rows = spark.createDataFrame([("Apr20",), ("NotAMonth",)], "m string").select(
        monthyr_to_date("m").alias("d")
    ).collect()
    assert str(rows[0].d) == "2020-04-01" and rows[1].d is None


def test_add_share_within_zero_total_group_is_null_not_abort(spark):
    from elective_waiting_times_pipeline_spark.plans.reporting import add_share_within

    df = spark.createDataFrame(
        [("a", 3), ("a", 1), ("z", 0), ("z", 0)], "g string, total long"
    )
    out = {(r.g, r.total): r.share_pct for r in add_share_within(df, ["g"]).collect()}
    assert out[("a", 3)] == 75.0
    assert out[("z", 0)] is None


def test_imd_deciles_null_scores_get_null_buckets_without_shifting(spark):
    from elective_waiting_times_pipeline_spark.plans.lookups import imd_deciles

    rows = [("y1", f"c{i:02d}", float(i)) for i in range(10)] + [("y1", "cXX", None)]
    w = spark.createDataFrame(rows, "ccg_year string, ccg string, weighted_imd_score double")
    out = {r.ccg: (r.imd_decile, r.imd_quintile) for r in imd_deciles(w).collect()}
    assert out["cXX"] == (None, None)
    # 10 real scores -> one per decile, unshifted by the NULL row
    assert sorted(d for c, (d, _) in out.items() if c != "cXX") == list(range(1, 11))


def test_weighted_imd_null_population_poisons_group_both_semantics(spark):
    from elective_waiting_times_pipeline_spark.plans.lookups import weighted_imd_by_ccg

    ccg = spark.createDataFrame(
        [("l1", "y1", "A"), ("l2", "y1", "A"), ("l3", "y1", "B")],
        "lsoa string, ccg_year string, ccg string",
    )
    imd = spark.createDataFrame(
        [("l1", 10.0), ("l2", 20.0), ("l3", 30.0)], "lsoa string, imd_score double"
    )
    pop = spark.createDataFrame([("l1", 100), ("l3", 50)], "lsoa string, pop long")  # l2 missing
    for na_rm in (False, True):
        out = {
            r.ccg: r.weighted_imd_score
            for r in weighted_imd_by_ccg(ccg, imd, pop, na_rm=na_rm).collect()
        }
        assert out["A"] is None, f"na_rm={na_rm}"  # NULL weight -> NA, like R
        assert abs(out["B"] - 30.0) < 1e-9


def test_rebucket_routes_unknown_long_wait_buckets_to_over(spark):
    from elective_waiting_times_pipeline_spark.plans.reporting import rebucket_day_waits

    df = spark.createDataFrame(
        [(2023, "Independent Sector", "0-50", 0.5), (2023, "Independent Sector", "500-550", 0.5)],
        "year int, sector string, var_1 string, prop double",
    )
    out = {r.time_bucket: r for r in rebucket_day_waits(df).collect()}
    assert set(out) == {"Under 3m", "Over 3m"}  # no spurious NA bucket
    assert abs(out["Over 3m"]["prop.Independent Sector"] - 0.5) < 1e-9


def test_zorder_key_rejects_sign_bit_widths(spark):
    import pytest as _pytest

    from elective_waiting_times_pipeline_spark.functions.zorder import zorder_key_n

    with _pytest.raises(ValueError):
        zorder_key_n(["a", "b"], bits=32)


def test_read_csv_tolerant_accepts_caller_header_option(spark, tmp_path):
    from elective_waiting_times_pipeline_spark.sources.edges import read_csv_tolerant

    p = tmp_path / "raw.csv"
    p.write_text("1,foo\n2,bar\n")
    out = read_csv_tolerant(spark, str(p), "id int, name string", header=False).collect()
    assert [(r.id, r.name) for r in out] == [(1, "foo"), (2, "bar")]
