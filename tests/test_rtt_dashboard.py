"""Golden tests: the one-pass grouping-sets dashboard engine must match
the pure-Python replica of the R kernel on every grid cell."""

from __future__ import annotations

import re

import pytest

from elective_waiting_times_pipeline_spark.harness import final_plan
from elective_waiting_times_pipeline_spark.plans import rtt
from tests.rtt_fixture import STAT_COLS, make_fixture, oracle_stats, same_stat


@pytest.fixture(scope="module")
def fact(spark):
    pdf = make_fixture()
    return spark.createDataFrame(pdf)


@pytest.fixture(scope="module")
def engine_out(spark, fact):
    rows, long = rtt.prepare_fact(fact)
    out = rtt.dashboard_stats(rows, long, geo_col="ccg")
    pdf = out.toPandas()
    key = ["monthyear", "ccg", "specialty", "type", "independent"]
    return {tuple(r[k] for k in key): r for _, r in pdf.iterrows()}


@pytest.mark.parametrize("independent", ["All", "IS", "Non-IS"])
@pytest.mark.parametrize("geo", ["ENGLAND", "C1", "C2"])
def test_ccg_variant_matches_r_kernel(engine_out, geo, independent):
    pdf_fixture = make_fixture()
    checked = 0
    for month in ["Apr20", "May20"]:
        for spec in ["Total", "General Surgery", "Ear Nose and Throat"]:
            for ptype in [
                "incomplete",
                "incompleteDTA",
                "completeadmitted",
                "completenonadmitted",
                "newRTT",
            ]:
                want = oracle_stats(pdf_fixture, month, geo, spec, ptype, independent)
                key = (month, geo, spec, ptype, independent)
                if key not in engine_out:
                    # engine emits no row for empty groups; oracle total must be 0
                    assert want["total.patients"] == 0, f"missing non-empty group {key}"
                    continue
                got = engine_out[key]
                for c in STAT_COLS:
                    assert same_stat(got[c], want[c]), f"{key} {c}: {got[c]!r} != {want[c]!r}"
                checked += 1
    assert checked > 10


def test_england_all_is_superset_row_present(engine_out):
    assert ("Apr20", "ENGLAND", "Total", "incomplete", "All") in engine_out


def test_region_variant_via_dim_join(spark, fact):
    """Region / IMD-quintile variants (2.R:492, 2.R:659) = the same
    kernel after a broadcast provider→dim join; verified against the
    Python oracle using the joined column as the geo field."""
    import pandas as pd
    from pyspark.sql import functions as F
    from tests.rtt_fixture import make_fixture, oracle_stats

    dim = spark.createDataFrame(
        [(f"P{i:02d}", "North" if i < 3 else "South") for i in range(6)],
        "`Provider.Org.Code` string, region string",
    )
    joined = fact.join(F.broadcast(dim), on="Provider.Org.Code", how="left")
    rows, long = rtt.prepare_fact(joined)
    # geo_col must be carried through prepare_fact; patch in region
    region_map = {f"P{i:02d} TRUST": ("North" if i < 3 else "South") for i in range(6)}
    rows = rows.replace(region_map, subset=["provider"]).withColumnRenamed("provider", "region")
    long = long.replace(region_map, subset=["provider"]).withColumnRenamed("provider", "region")
    out = rtt.dashboard_stats(rows, long, geo_col="region").toPandas()
    got = {
        (r["monthyear"], r["region"], r["specialty"], r["type"], r["independent"]): r
        for _, r in out.iterrows()
    }
    pdf = make_fixture()
    pdf["region"] = pdf["Provider.Org.Code"].map(lambda p: "North" if int(p[1:]) < 3 else "South")
    want = oracle_stats(pdf, "Apr20", "North", "Total", "incomplete", "All", geo_field="region")
    r = got[("Apr20", "North", "Total", "incomplete", "All")]
    assert r["total.patients"] == want["total.patients"]
    assert same_stat(r["weeks.50"], want["weeks.50"])
    assert same_stat(r["rate.18wks.or.less"], want["rate.18wks.or.less"])


def test_provider_variant_runs(spark, fact):
    rows, long = rtt.prepare_fact(fact)
    out = rtt.dashboard_stats(rows, long, geo_col="provider")
    pdf = out.toPandas()
    assert "provider" in pdf.columns
    assert (pdf["provider"] == "ENGLAND").any()
    assert len(pdf) > 50


def test_dashboard_plan_is_one_shuffle_without_melt_or_window(fact):
    """The kernel aggregates the wide rows directly: no explode of the
    band columns (Generate), no running-total Window, and the grouping-
    sets aggregate's exchange is the plan's only shuffle."""
    rows, long = rtt.prepare_fact(fact)
    df = rtt.dashboard_stats(rows, long, geo_col="ccg")
    final = final_plan(df)
    nodes = re.findall(r"^[\s+\-:]*(?:\*\(\d+\) )?(\w+)", final, flags=re.M)
    assert "Expand" in nodes, final
    assert not [n for n in nodes if n == "Generate" or n.startswith("Window")], final
    assert nodes.count("Exchange") == 1, final
