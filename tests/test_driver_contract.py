"""The driver imports __spark_entry__ and runs queries in ITS OWN
SparkSession (default confs — no nanosAsLong, possibly non-UTC). The
engine must self-configure at the source edge; these tests run the
contract through a fresh default-conf session to prove it."""

from __future__ import annotations

import importlib
import sys

import pytest

sys.path.insert(0, "/root/repo")


@pytest.fixture(scope="module")
def entry_mod():
    return importlib.import_module("__spark_entry__")


@pytest.fixture(scope="module")
def fresh(spark):
    # newSession(): same JVM, fresh default SQLConf — the driver-sim.
    return spark.newSession()


def test_entry_runs_under_default_session(entry_mod, fresh):
    rows = entry_mod.entry(fresh).collect()
    assert len(rows) >= 1


def test_every_oracle_key_has_query(entry_mod):
    qs, os_ = entry_mod.queries(), entry_mod.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 50


@pytest.mark.parametrize("name", ["events_tumbling_window", "sessionize", "date_funcs", "asof_join_backward"])
def test_timezone_sensitive_queries_match_oracle_under_default_session(entry_mod, fresh, sf_dir, name):
    from tests.oracle import assert_matches_oracle

    df = entry_mod.queries()[name](fresh, sf_dir)
    assert_matches_oracle(df, entry_mod.oracle_sql()[name], sf_dir)


def test_rotation_fits_driver_window(entry_mod):
    # The driver value-checks the FIRST 50 queries() entries. Rotation
    # is derived from past CORRECTNESS files: every never-green query
    # sorts ahead of every previously-green one, nothing is dropped or
    # duplicated, and queries()/oracle_sql() stay key-consistent.
    import __spark_entry__ as m

    qs = list(entry_mod.queries())
    assert len(qs) == len(set(qs))
    assert set(qs) == set(m.catalog.SPARK_QUERIES)
    green = m._previously_green()
    assert green, "driver CORRECTNESS files should yield green keys"
    never = [q for q in qs if q not in green]
    # every window slot goes to a never-green query while any remain
    window = qs[:50]
    if len(never) >= 50:
        assert all(q not in green for q in window)
    else:
        assert window[: len(never)] == never
    # oracle_sql is a key-subset in compatible order
    osql = list(entry_mod.oracle_sql())
    assert set(osql) <= set(qs)
    assert [q for q in qs if q in set(osql)] == osql
    # greens are ordered least-recently-verified first (staleness =
    # round of the latest CORRECTNESS record), so the window refreshes
    # the stalest records instead of the registration prefix
    rounds = m._green_rounds()
    green_tail = [q for q in qs if q in green]
    tail_rounds = [rounds[q] for q in green_tail]
    assert tail_rounds == sorted(tail_rounds)
