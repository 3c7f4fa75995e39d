"""Property test: `rtt.dashboard_stats` on random wide RTT fixtures must
match the pure-Python replica of the R kernel (`tests/rtt_fixture.
oracle_stats`) on every cell of all four grouping sets, in both IS
buckets and the All bucket.

Each fixture also carries pinned rows that the random ones may miss:
a cell whose known-start total is exactly 19 (suppressed) and one at
exactly 20 (reported), both completed pathways with unknown clock
starts, and a row whose bands are all NULL.

Counts stay small (band cells ≤ 4, ≤ 7 random rows, ≤ 60 bands), so
every total is below 2000. The 18/52-week rates are then never an
exact .x5 tie that a binary double cannot represent, where the R/Python
`round` and Spark's `bround` may legitimately round differently.
"""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import types as T

from elective_waiting_times_pipeline_spark.plans import rtt
from tests.rtt_fixture import PATHWAY_MAP, STAT_COLS, clean_spec, gt_col, oracle_stats, same_stat

SPECIALTIES = ["Total", "Ear, Nose & Throat (ENT) Service"]
COMPLETED = "Completed Pathways For Admitted Patients"
TEXT = ["monthyr", "Provider.Org.Name", "Commissioner.Org.Code", "Commissioner.Org.Name",
        "RTT.Part.Description", "Treatment.Function.Name"]
# Band counts: below 18 (neither threshold band exists), 18 to 52, above 52.
BAND_RANGES = {"lt18": (1, 17), "18to52": (18, 52), "gt52": (53, 60)}

cell = st.one_of(st.none(), st.integers(0, 4))
unknown = st.sampled_from([None, 0, 1, 3])


def _row(month, prov, ccg, pathway, spec, is_flag, counts, unknown_start):
    known = sum(c for c in counts if c is not None)
    return {
        "monthyr": month, "Provider.Org.Name": prov, "Commissioner.Org.Code": ccg,
        "Commissioner.Org.Name": f"{ccg} NAME", "RTT.Part.Description": pathway,
        "Treatment.Function.Name": spec, "IS_provider": is_flag,
        "Patients.with.unknown.clock.start.date": unknown_start,
        "Total.All": known + (unknown_start or 0),
        **{gt_col(b + 1): c for b, c in enumerate(counts)},
    }


@st.composite
def _exact_total(draw, n_bands, total):
    """Band counts that sum to `total`; empty bands are 0 or NULL."""
    waits = draw(st.lists(st.integers(0, n_bands - 1), min_size=total, max_size=total))
    counts = [waits.count(b) for b in range(n_bands)]
    return [c if c or not draw(st.booleans()) else None for c in counts]


@st.composite
def fixtures(draw, band_range):
    n_bands = draw(st.integers(*band_range))
    month = draw(st.sampled_from(["Apr20", "May20"]))
    random_rows = draw(st.lists(st.tuples(
        st.sampled_from(["P1", "P2", "P3"]), st.sampled_from(["C1", "C2", "NONC"]),
        st.sampled_from(list(PATHWAY_MAP)), st.sampled_from(SPECIALTIES), st.integers(0, 1),
        st.lists(cell, min_size=n_bands, max_size=n_bands), unknown,
    ), min_size=1, max_size=7))
    rows = [_row(month, *r) for r in random_rows]
    rows += [
        _row(month, "P4", "C19", COMPLETED, "Total", 1, draw(_exact_total(n_bands, 19)), 2),
        _row(month, "P5", "C20", COMPLETED, "Total", 0, draw(_exact_total(n_bands, 20)), 3),
        _row(month, "P5", "C20", "Incomplete Pathways", "Total", 0, [None] * n_bands, 5),
    ]
    return n_bands, rows


def _frame(spark, n_bands, rows):
    schema = T.StructType(
        [T.StructField(c, T.StringType()) for c in TEXT]
        + [T.StructField(c, T.LongType()) for c in
           ["IS_provider", "Patients.with.unknown.clock.start.date", "Total.All"]]
        + [T.StructField(gt_col(b), T.LongType()) for b in range(1, n_bands + 1)]
    )
    return spark.createDataFrame([tuple(r[f.name] for f in schema.fields) for r in rows], schema)


def _expected_keys(rows):
    """Every (month, geo, specialty, type, IS bucket) cell that has at
    least one non-NONC row, over the four grouping sets."""
    keys = set()
    for r in rows:
        if r["Commissioner.Org.Code"] == "NONC":
            continue
        fixed = (clean_spec(r["Treatment.Function.Name"]), PATHWAY_MAP[r["RTT.Part.Description"]])
        for geo in (r["Commissioner.Org.Code"], "ENGLAND"):
            for ind in ("IS" if r["IS_provider"] else "Non-IS", "All"):
                keys.add((r["monthyr"], geo, *fixed, ind))
    return keys


@pytest.mark.parametrize("band_range", list(BAND_RANGES.values()), ids=list(BAND_RANGES))
@settings(max_examples=10, deadline=None)
@given(data=st.data())
def test_dashboard_stats_matches_r_kernel(spark, band_range, data):
    n_bands, rows = data.draw(fixtures(band_range))
    rows_df, long_df = rtt.prepare_fact(_frame(spark, n_bands, rows))
    got = rtt.dashboard_stats(rows_df, long_df, geo_col="ccg").toPandas()
    pdf = pd.DataFrame(rows)
    key = ["monthyear", "ccg", "specialty", "type", "independent"]
    cells = {tuple(r[key]): r for _, r in got.iterrows()}
    assert len(cells) == len(got)
    assert set(cells) == _expected_keys(rows)
    for k, r in cells.items():
        want = oracle_stats(pdf, k[0], k[1], k[2], k[3], k[4])
        for c in STAT_COLS:
            assert same_stat(r[c], want[c]), f"{k} {c}: {r[c]!r} != {want[c]!r}"
    pinned = {g: cells[(rows[0]["monthyr"], g, "Total", "completeadmitted", "All")] for g in ("C19", "C20")}
    assert pinned["C19"]["total.patients"] == 21 and pd.isna(pinned["C19"]["weeks.50"])
    assert pinned["C20"]["total.patients"] == 23 and not pd.isna(pinned["C20"]["weeks.50"])
