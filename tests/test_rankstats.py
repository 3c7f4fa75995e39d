"""Rank-based statistics (operators/rankstats.py): naive-window
equivalence, pandas cross-checks, tie handling, NULL exclusion, and
layout independence of the distributed-rank formulation."""

from __future__ import annotations

import contextlib
import math
from unittest import mock

import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from elective_waiting_times_pipeline_spark.operators import sampling
from elective_waiting_times_pipeline_spark.operators.rankstats import (
    doubled_avg_rank,
    mann_whitney_u,
    spearman_rho,
)

# value sets with heavy ties, negatives, and a lonely extreme
_XS = [3.0, 1.0, 3.0, -2.0, 3.0, 7.5, 1.0, 0.0, -2.0, 99.0, 3.0, 7.5]
_YS = [1.0, 2.0, 1.5, 9.0, 1.5, 0.5, 2.0, 4.0, 8.0, 0.1, 1.5, 0.5]


@pytest.fixture(scope="module")
def pairs(spark):
    rows = [(float(x), float(y)) for x, y in zip(_XS, _YS)]
    return spark.createDataFrame(rows, "x double, y double")


def cut_points(cuts):
    """Context in which the rank kernel buckets by the explicit `cuts`
    (None: the sampled cut points). On these small fixtures the sampled
    cuts give every distinct value its own bucket; a coarse list puts
    several values, and their ties, in one bucket."""
    if cuts is None:
        return contextlib.nullcontext()
    return mock.patch.object(sampling, "range_cut_points", lambda _df, _value: list(cuts))


def test_doubled_rank_matches_naive_window(spark, pairs):
    naive = (
        pairs.select("x")
        .withColumn("_r", F.rank().over(Window.orderBy("x")))
        .withColumn("_c", F.count(F.lit(1)).over(Window.partitionBy("x")))
        .select("x", (2 * F.col("_r") + F.col("_c") - 1).alias("r2"))
        .distinct()
        .collect()
    )
    for cuts in (None, [0.5, 5.0]):
        with cut_points(cuts):
            got = {r.x: r.r2 for r in doubled_avg_rank(pairs, "x", "r2").collect()}
        assert got == {r.x: r.r2 for r in naive}, cuts
        # doubled average ranks over n rows always sum (weighted) to n(n+1)
        n = len(_XS)
        cnt = {v: _XS.count(v) for v in set(_XS)}
        assert sum(got[v] * cnt[v] for v in cnt) == n * (n + 1)


def test_spearman_matches_pandas(spark, pairs):
    # pandas' method="spearman" needs scipy (absent here): Pearson on
    # tie-averaged ranks IS Spearman, so rank with pandas, corr with
    # pandas
    row = spearman_rho(pairs, "x", "y").collect()[0]
    rx = pd.Series(_XS).rank(method="average")
    ry = pd.Series(_YS).rank(method="average")
    expected = rx.corr(ry, method="pearson")
    assert row.n == len(_XS)
    # the operator rounds to 6 dp — tolerance is the rounding quantum
    assert row.spearman_rho == pytest.approx(expected, abs=5e-7)


def test_spearman_layout_independent(spark, pairs):
    a = spearman_rho(pairs.repartition(1), "x", "y").collect()[0]
    with cut_points([2.0]):
        b = spearman_rho(pairs.repartition(7), "x", "y").collect()[0]
    assert (a.n, a.spearman_rho) == (b.n, b.spearman_rho)


def test_spearman_drops_null_pairs(spark):
    df = spark.createDataFrame(
        [(1.0, 2.0), (2.0, 3.0), (3.0, 1.0), (None, 9.0), (4.0, None)],
        "x double, y double",
    )
    assert spearman_rho(df, "x", "y").collect()[0].n == 3


def test_mann_whitney_matches_hand_formula(spark):
    a_vals = [1.0, 2.0, 2.0, 5.0, 7.0, 7.0, 9.0]
    b_vals = [2.0, 3.0, 3.0, 7.0, 8.0]
    rows = [("a", v) for v in a_vals] + [("b", v) for v in b_vals]
    df = spark.createDataFrame(rows, "g string, v double")

    s = pd.Series(a_vals + b_vals)
    ranks = s.rank(method="average")
    na, nb = len(a_vals), len(b_vals)
    n = na + nb
    ra = float(ranks[: na].sum())
    u = ra - na * (na + 1) / 2.0
    tsum = sum(c**3 - c for c in s.value_counts())
    var = na * nb / 12.0 * ((n + 1) - tsum / (n * (n - 1)))
    z = (u - na * nb / 2.0) / math.sqrt(var)
    for cuts in (None, [4.0]):
        with cut_points(cuts):
            got = mann_whitney_u(df, "v", "g", "a", "b").collect()[0]
        assert (got.n_a, got.n_b) == (na, nb), cuts
        assert got.u_stat == pytest.approx(u, abs=1e-9), cuts
        assert got.z_score == pytest.approx(z, abs=1e-6), cuts


def test_mann_whitney_ignores_other_groups_and_nulls(spark):
    rows = [("a", 1.0), ("a", None), ("b", 2.0), ("c", 99.0), ("a", 3.0), ("b", 4.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    got = mann_whitney_u(df, "v", "g", "a", "b").collect()[0]
    assert (got.n_a, got.n_b) == (2, 2)


# ---------------------------------------------------------------------------
# property: the distributed doubled-rank map equals the naive global
# window on arbitrary multisets (ties, negatives, huge gaps), under an
# arbitrary explicit cut list (0 cuts = one bucket, up to 7 cuts) in
# place of the sampled one — exactness must not depend on bucket balance
# ---------------------------------------------------------------------------
from hypothesis import given, settings, strategies as st


@settings(max_examples=10, deadline=None)
@given(
    vals=st.lists(
        st.sampled_from([-5.0, -1.0, 0.0, 0.5, 2.0, 2.0, 3.0, 1e9]), min_size=1, max_size=40
    ),
    cuts=st.lists(
        st.sampled_from([-5.0, -1.0, 0.0, 1.0, 2.0, 3.0, 1e9]), max_size=7
    ).map(lambda c: sorted(set(c))),
)
def test_doubled_rank_property(spark, vals, cuts):
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    with cut_points(cuts):
        got = {r.x: r.r2 for r in doubled_avg_rank(df, "x", "r2").collect()}
    # doubled tie-averaged rank from first principles
    import collections

    cnt = collections.Counter(vals)
    below = 0
    for v in sorted(cnt):
        assert got[v] == 2 * below + cnt[v] + 1, (v, got, cnt)
        below += cnt[v]


def test_degenerate_inputs_yield_null_not_abort(spark):
    """ANSI-mode hardening: constant columns / single rows / one empty
    group produce NULL statistics (the oracle's unguarded /0 in DuckDB
    is NULL too) instead of DIVIDE_BY_ZERO job aborts."""
    const = spark.createDataFrame([(1.0, float(i)) for i in range(5)], "x double, y double")
    row = spearman_rho(const, "x", "y").collect()[0]
    assert row.n == 5 and row.spearman_rho is None

    single = spark.createDataFrame([("a", 1.0)], "g string, v double")
    r = mann_whitney_u(single, "v", "g", "a", "b").collect()[0]
    assert (r.n_a, r.n_b) == (1, 0) and r.z_score is None

    one_group = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0)], "g string, v double"
    )
    r = mann_whitney_u(one_group, "v", "g", "a", "b").collect()[0]
    assert (r.n_a, r.n_b) == (3, 0) and r.z_score is None
