"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Queries live in ``elective_waiting_times_pipeline_spark.plans.catalog`` — one
entry per implemented operator from SURVEY.md §2 (plus the
beyond-reference dedup/similarity/text/streaming surface).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from elective_waiting_times_pipeline_spark.plans import catalog


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the signature
    histogram-quantile kernel (`operators.histogram.band_stats`, the
    same fold the RTT dashboard runs) over the lineitem fact analog."""
    return catalog.SPARK_QUERIES["histogram_quantile"](spark, "/root/testdata/sf0.001")


# The driver's harness value-checks exactly the FIRST 50 queries() keys
# (dict order) each round. Rotation is DERIVED, not hand-maintained:
# every query that has never appeared green in a past round's
# CORRECTNESS_r*.json (shipped in this repo by the driver) sorts
# first, in registration order, so each round's 50-query window
# spends itself on never-verified or previously-failing queries.
# Every query keeps its local DuckDB-oracle test regardless of
# rotation (tests/test_catalog_oracle.py, same comparator).

import glob as _glob
import json as _json
import os as _os


def _green_rounds() -> dict[str, int]:
    """round-of-latest-record for every query whose LATEST driver check
    succeeded at full strength: hash-verified for oracle-backed
    queries, rows-only completion for no-oracle queries (rows-only IS
    their maximum achievable check, so they must not squat window
    slots forever). A later round's status replaces an earlier one — a
    green-then-regressed query (e.g. text_lang_id, green r1 / err r2)
    re-enters the window, and a green query's STALENESS (how long ago
    its record was refreshed) drives the window ordering below."""
    import re as _re

    status: dict[str, bool] = {}
    last: dict[str, int] = {}
    here = _os.path.dirname(_os.path.abspath(__file__))
    # sort by PARSED round number, not path: lexicographic order would
    # put a future CORRECTNESS_r100.json before r11 and let a stale
    # record overwrite a newer one in the latest-wins fold below
    found: list[tuple[int, str]] = []
    for path in _glob.glob(_os.path.join(here, "CORRECTNESS_r*.json")):
        m = _re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        found.append((int(m.group(1)) if m else 0, path))
    for rnd, path in sorted(found):
        try:
            with open(path) as f:
                data = _json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            err = row.get("err")
            if err is None:
                ok = bool(row.get("hash_match"))
            elif err == "no_oracle":
                ok = row.get("spark_rows") is not None
            else:
                ok = False
            status[name] = ok  # ascending-round fold: latest wins
            last[name] = rnd
    return {n: last[n] for n, ok in status.items() if ok}


def _previously_green() -> set[str]:
    return set(_green_rounds())


def _rotated(d: dict) -> dict:
    # never-green first (registration order),
    # then greens LEAST-RECENTLY-VERIFIED first: with the whole catalog
    # green, each round's 50-slot window refreshes the stalest third of
    # the records instead of re-checking the same registration prefix
    # forever. Ties (same round) keep registration order.
    rounds = _green_rounds()
    head = {k: v for k, v in d.items() if k not in rounds}
    reg = {k: i for i, k in enumerate(d)}
    stale_first = sorted(
        (k for k in d if k not in head), key=lambda k: (rounds.get(k, 0), reg[k])
    )
    return head | {k: d[k] for k in stale_first}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return _rotated(dict(catalog.SPARK_QUERIES))


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (omitted for
    non-SQL-expressible ops → driver records a rows-only check)."""
    return _rotated(dict(catalog.ORACLE_SQL))
