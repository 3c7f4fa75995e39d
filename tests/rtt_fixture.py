"""Deterministic RTT-shaped synthetic fixture (FIXTURES.md §1) and a
pure-Python oracle replicating the R kernel (`2. Produce descriptive
statistics.R:314-478` ccg variant semantics) row by row — the golden
reference for plans/rtt.py.
"""

from __future__ import annotations

import math
import random

import pandas as pd

MONTHS = ["Apr20", "May20"]
PROVIDERS = [f"P{i:02d}" for i in range(6)]
IS_PROVIDERS = {"P04", "P05"}  # flagged only in May20 for P05 (varies by month)
CCGS = ["C1", "C2", "NONC"]
SPECIALTIES = ["Total", "General Surgery", "Ear, Nose & Throat (ENT) Service"]
PATHWAYS = [
    "Incomplete Pathways",
    "Incomplete Pathways with DTA",
    "Completed Pathways For Admitted Patients",
    "Completed Pathways For Non-Admitted Patients",
    "New RTT Periods - All Patients",
]
# Apr20 has 52 bands; May20 has 60 (dynamic band drift, 2.R:141-145).
BANDS_BY_MONTH = {"Apr20": 52, "May20": 60}


def gt_col(i: int) -> str:
    return f"Gt.{i - 1:02d}.To.{i:02d}.Weeks.SUM.1"


ALL_GT_COLS = [gt_col(i) for i in range(1, 61)]


def make_fixture() -> pd.DataFrame:
    rng = random.Random(42)
    rows = []
    for m in MONTHS:
        n_bands = BANDS_BY_MONTH[m]
        for prov in PROVIDERS:
            is_flag = 1 if (prov == "P04" or (prov == "P05" and m == "May20")) else 0
            for ccg in CCGS:
                for spec in SPECIALTIES:
                    for pw in PATHWAYS:
                        if rng.random() < 0.15:
                            continue  # sparse combos
                        counts = {}
                        for b in range(1, 61):
                            if b > n_bands:
                                counts[gt_col(b)] = None  # band absent this month
                            elif rng.random() < 0.2:
                                counts[gt_col(b)] = None  # NA cell
                            else:
                                counts[gt_col(b)] = rng.randint(0, 6)
                        unknown = rng.choice([None, 0, 1, 3])
                        known = sum(v for v in counts.values() if v is not None)
                        rows.append(
                            {
                                "Period": f"RTT-{m}",
                                "monthyr": m,
                                "Provider.Org.Code": prov,
                                "Provider.Org.Name": f"{prov} TRUST",
                                "Commissioner.Org.Code": ccg,
                                "Commissioner.Org.Name": f"{ccg} NAME",
                                "RTT.Part.Description": pw,
                                "Treatment.Function.Name": spec,
                                **counts,
                                "Patients.with.unknown.clock.start.date": unknown,
                                "Total": known,
                                "Total.All": known + (unknown or 0),
                                "IS_provider": is_flag,
                            }
                        )
    return pd.DataFrame(rows)


# --- pure-Python oracle (mirrors R semantics exactly) -----------------------

STAT_COLS = [
    "total.patients",
    "number.18.or.less",
    "rate.18wks.or.less",
    "number.52.or.more",
    "rate.52wks.or.more",
    "weeks.50",
    "weeks.92",
    "weeks.95",
]


def same_stat(a, b) -> bool:
    """Engine value vs oracle value: equal numbers, or both missing."""
    a_nan = a is None or (isinstance(a, float) and math.isnan(a))
    b_nan = b is None or (isinstance(b, float) and math.isnan(b))
    if a_nan or b_nan:
        return a_nan and b_nan
    return float(a) == float(b)


PATHWAY_MAP = {
    "Incomplete Pathways": "incomplete",
    "Completed Pathways For Admitted Patients": "completeadmitted",
    "Completed Pathways For Non-Admitted Patients": "completenonadmitted",
    "Incomplete Pathways with DTA": "incompleteDTA",
    "New RTT Periods - All Patients": "newRTT",
}


def clean_spec(s: str) -> str:
    s = s.replace(" Service", "")
    renames = {
        "Ear, Nose & Throat (ENT)": "Ear Nose and Throat",
        "Geriatric Medicine": "Elderly Medicine",
        "Neurosurgical": "Neurosurgery",
        "Trauma & Orthopaedics": "Trauma and Orthopaedic",
    }
    if s in renames:
        return renames[s]
    if s.startswith("Other - "):
        return "Other"
    return s


def oracle_stats(
    df: pd.DataFrame,
    monthyear: str,
    geo_value: str,
    specialty: str,
    pathway_type: str,
    independent: str,  # 'IS' | 'Non-IS' | 'All'
    geo_field: str = "Commissioner.Org.Code",
    quantiles=(0.50, 0.92, 0.95),
) -> dict:
    """Replicates dashboard_stats_ccg for one grid cell (R semantics:
    sums with na.rm, cumsum crossing − 1, <20 suppression)."""
    d = df[(df["monthyr"] == monthyear) & (df["Commissioner.Org.Code"] != "NONC")].copy()
    if geo_value != "ENGLAND":
        d = d[d[geo_field] == geo_value]
    if independent == "IS":
        d = d[d["IS_provider"] == 1]
    elif independent == "Non-IS":
        d = d[d["IS_provider"] == 0]
    d = d[d["Treatment.Function.Name"].map(clean_spec) == specialty]
    rev = {v: k for k, v in PATHWAY_MAP.items()}
    d = d[d["RTT.Part.Description"] == rev[pathway_type]]

    band_sums = [
        int(d[gt_col(b)].dropna().sum()) if gt_col(b) in d.columns else 0 for b in range(1, 61)
    ]
    nonmiss = sum(band_sums)
    unknown = int(d["Patients.with.unknown.clock.start.date"].dropna().sum())
    total_all = int(d["Total.All"].dropna().sum())
    if pathway_type in ("completeadmitted", "completenonadmitted"):
        total = nonmiss + unknown
    elif pathway_type == "newRTT":
        total = total_all
    else:
        total = nonmiss

    out = {"total.patients": total}
    if nonmiss >= 20 and pathway_type != "newRTT":
        cum = 0
        cums = []
        for c in band_sums:
            cum += c
            cums.append(cum)
        for q in quantiles:
            target = q * nonmiss
            w = next(i + 1 for i, c in enumerate(cums) if c >= target) - 1
            out[f"weeks.{int(round(q * 100))}"] = w
        n18 = cums[17]
        n52 = nonmiss - cums[51]
        out["number.18.or.less"] = n18
        out["rate.18wks.or.less"] = round(n18 / nonmiss * 100, 1)
        out["number.52.or.more"] = n52
        out["rate.52wks.or.more"] = round(n52 / nonmiss * 100, 1)
    else:
        for q in quantiles:
            out[f"weeks.{int(round(q * 100))}"] = None
        out["number.18.or.less"] = None
        out["rate.18wks.or.less"] = None
        out["number.52.or.more"] = None
        out["rate.52wks.or.more"] = None
    return out
