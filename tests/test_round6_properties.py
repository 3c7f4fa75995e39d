"""Property-based checks for the round-6 operators: the oracle tests
prove Spark==DuckDB on fixed corpora; these prove both match an
INDEPENDENT Python reference on randomized inputs (the
test_histogram_properties / test_cluster_properties pattern)."""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _py_interval_union(starts, length):
    """Reference: merge [s, s+length) intervals, return (n_islands, covered)."""
    islands = []
    for s in sorted(starts):
        if islands and s <= islands[-1][1]:
            islands[-1][1] = max(islands[-1][1], s + length)
        else:
            islands.append([s, s + length])
    return len(islands), sum(e - s for s, e in islands)


@given(st.lists(st.integers(min_value=0, max_value=3000), min_size=1, max_size=40))
@settings(**_SETTINGS)
def test_interval_union_matches_python_reference(spark, tmp_path_factory, offsets):
    from elective_waiting_times_pipeline_spark.plans.catalog_events import (
        interval_union_length,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(seconds=off), 1, "click", 0.0, "{}")
        for i, off in enumerate(offsets)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    sf = str(tmp_path_factory.mktemp("iv"))
    df.repartition(3).write.parquet(f"{sf}/events.parquet")
    got = interval_union_length(spark, sf).collect()[0]
    n_ref, cov_ref = _py_interval_union(offsets, 300)
    assert got.n_islands == n_ref
    assert got.covered_us == cov_ref * 1_000_000


def _py_weighted_median(pairs):
    """Reference: smallest value v with 2*cumweight(v) >= total."""
    total = sum(w for _, w in pairs)
    cum = 0
    for v, w in sorted(pairs):
        cum += w
        if 2 * cum >= total:
            return v
    raise AssertionError("unreachable")


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=500),   # price cents
            st.integers(min_value=1, max_value=50),    # quantity
        ),
        min_size=1,
        max_size=60,
    )
)
@settings(**_SETTINGS)
def test_weighted_median_matches_python_reference(spark, tmp_path_factory, pairs):
    from elective_waiting_times_pipeline_spark.plans.catalog_relational import (
        weighted_median_value,
    )

    d0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, 1, 1, 1, float(q), c / 100.0, 0.0, 0.0, "A", "O", d0, d0, d0)
        for i, (c, q) in enumerate(pairs)
    ]
    df = spark.createDataFrame(
        rows,
        "l_orderkey long, l_linenumber long, l_partkey long, l_suppkey long, "
        "l_quantity double, l_extendedprice double, l_discount double, l_tax double, "
        "l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp, l_commitdate timestamp, l_receiptdate timestamp",
    )
    sf = str(tmp_path_factory.mktemp("wm"))
    df.repartition(2).write.parquet(f"{sf}/lineitem.parquet")
    got = weighted_median_value(spark, sf).collect()[0]
    # collapse duplicate prices the way the query's distinct-value axis does
    agg: dict[int, int] = {}
    for c, q in pairs:
        agg[c] = agg.get(c, 0) + q
    want = _py_weighted_median(list(agg.items()))
    assert got.weighted_median == want / 100.0
    assert got.total_weight == sum(q for _, q in pairs)


def _py_pareto(points):
    """Reference skyline: keep p unless some q has q.price <= p.price,
    q.size >= p.size, strictly better on one axis."""
    keep = []
    for i, (pp, ps) in enumerate(points):
        dominated = any(
            (qp <= pp and qs >= ps and (qp < pp or qs > ps))
            for j, (qp, qs) in enumerate(points)
            if j != i
        )
        if not dominated:
            keep.append(i)
    return sorted(keep)


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=40),  # price
            st.integers(min_value=1, max_value=40),  # size
        ),
        min_size=1,
        max_size=50,
    )
)
@settings(**_SETTINGS)
def test_pareto_front_matches_python_reference(spark, tmp_path_factory, points):
    from elective_waiting_times_pipeline_spark.plans.catalog_relational import (
        pareto_front_2d,
    )

    rows = [
        (i, f"p{i}", "B", "T", s, float(p)) for i, (p, s) in enumerate(points)
    ]
    df = spark.createDataFrame(
        rows,
        "p_partkey long, p_name string, p_brand string, p_type string, p_size int, p_retailprice double",
    )
    sf = str(tmp_path_factory.mktemp("pf"))
    df.repartition(2).write.parquet(f"{sf}/part.parquet")
    keep = sorted(r.p_partkey for r in pareto_front_2d(spark, sf).collect())
    assert keep == _py_pareto(points)


def _py_ngrams(toks, n):
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


@given(
    st.lists(st.sampled_from(["a", "b", "cd", "efg"]), max_size=12),
    st.integers(min_value=1, max_value=6),
)
@settings(**_SETTINGS)
def test_ngrams_matches_python_reference(spark, toks, n):
    from elective_waiting_times_pipeline_spark.operators.text import ngrams

    df = spark.createDataFrame([(toks,)], "toks: array<string>")
    got = df.select(ngrams(F.col("toks"), n).alias("g")).collect()[0].g
    assert got == _py_ngrams(toks, n)


def _py_sessions(events, gap_s=1800):
    """events: list[(ts_off_s, event_id)] for ONE user → list of
    session event-counts in start order."""
    sessions = []
    last = None
    for off, _eid in sorted(events):
        if last is None or off - last > gap_s:
            sessions.append(0)
        sessions[-1] += 1
        last = off
    return sessions


@given(
    st.lists(
        st.integers(min_value=0, max_value=8000),
        min_size=1,
        max_size=40,
    )
)
@settings(**_SETTINGS)
def test_session_bounce_rate_matches_python_reference(spark, tmp_path_factory, offsets):
    from elective_waiting_times_pipeline_spark.plans.catalog_events import (
        session_bounce_rate,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(seconds=off), 1, "click", 0.0, "{}")
        for i, off in enumerate(offsets)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    sf = str(tmp_path_factory.mktemp("sb"))
    df.repartition(3).write.parquet(f"{sf}/events.parquet")
    out = session_bounce_rate(spark, sf).collect()
    # all offsets land on one calendar day (<= 8000 s), so one row
    assert len(out) == 1
    sess = _py_sessions([(o, i) for i, o in enumerate(offsets)])
    n_bounce = sum(1 for n in sess if n == 1)
    assert out[0].n_sessions == len(sess)
    assert out[0].n_bounces == n_bounce
    assert out[0].bounce_ppm == int(1e6 * n_bounce / len(sess) + 0.5)


def _py_funnel_1h(events):
    """events: list[(off_s, type)] for ONE user → stage reached under
    the 1-hour step-timeout rule."""
    views = sorted(off for off, t in events if t == "view")
    if not views:
        return 0
    tv = views[0]
    clicks = sorted(off for off, t in events if t == "click" and tv < off <= tv + 3600)
    if not clicks:
        return 1
    tc = clicks[0]
    buys = sorted(off for off, t in events if t == "purchase" and tc < off <= tc + 3600)
    return 3 if buys else 2


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=12000),
            st.sampled_from(["view", "click", "purchase"]),
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(**_SETTINGS)
def test_funnel_within_1h_matches_python_reference(spark, tmp_path_factory, events):
    from elective_waiting_times_pipeline_spark.plans.catalog_events import (
        funnel_within_1h,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(seconds=off), 1, typ, 0.0, "{}")
        for i, (off, typ) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    sf = str(tmp_path_factory.mktemp("fn"))
    df.repartition(3).write.parquet(f"{sf}/events.parquet")
    got = funnel_within_1h(spark, sf).collect()[0]
    assert got.stage == _py_funnel_1h(events)
