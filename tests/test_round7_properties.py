"""Property-based checks for the round-7 operators: randomized inputs
against an independent pure-Python reference (the
test_round6_properties pattern)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["A", "B"]),
            st.integers(min_value=0, max_value=50),
            st.integers(min_value=1, max_value=9),
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(**_SETTINGS)
def test_ordered_prefix_total_weight_matches_group_sums(spark, rows):
    """out_total_weight attaches each group's FULL weight sum to every
    row, and the running prefix reaches exactly that total on the last
    row of the (val, uid) order — checked against plain Python sums."""
    from elective_waiting_times_pipeline_spark.operators.sampling import (
        ordered_prefix,
        range_bucket,
    )

    data = [(g, v, w, i) for i, (g, v, w) in enumerate(rows)]
    df = spark.createDataFrame(data, "g string, v long, w long, uid long")
    # four coarse buckets over 0..50, so a bucket holds several values
    out = ordered_prefix(
        df,
        [F.col("v"), F.col("uid")],
        range_bucket("v", [12.5, 25.0, 37.5]),
        group_cols=["g"],
        weight="w",
        out_prefix="cw",
        out_total_weight="tw",
    ).collect()
    want_tot = {}
    for g, v, w, i in data:
        want_tot[g] = want_tot.get(g, 0) + w
    assert all(r.tw == want_tot[r.g] for r in out)
    # prefix is a monotone permutation reaching the total
    by_g = {}
    for r in sorted(out, key=lambda r: (r.g, r.v, r.uid)):
        prev = by_g.get(r.g, 0)
        assert r.cw == prev + r.w
        by_g[r.g] = r.cw
    assert by_g == want_tot


def _py_clamped_balance(deltas: list[int]) -> tuple[int, int]:
    """Reference: the literal sequential recurrence b_t = max(0, b + d)."""
    b, peak = 0, 0
    for d in deltas:
        b = max(0, b + d)
        peak = max(peak, b)
    return b, peak


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["s1", "s2", "s3"]),
            st.integers(min_value=-50, max_value=50),
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(**_SETTINGS)
def test_clamped_balance_identity_matches_sequential_loop(spark, moves):
    """The closed form b_t = S_t - min(0, min_{k<=t} S_k) used by
    capped_running_balance must equal the naive per-key loop for any
    delta sequence (the identity the oracle and the Spark plan share,
    pinned here against an independent reference)."""
    from pyspark.sql import Window

    data = [(k, i, d) for i, (k, d) in enumerate(moves)]
    df = spark.createDataFrame(data, "k string, seq long, delta long")
    w = (
        Window.partitionBy("k")
        .orderBy("seq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rows = df.withColumn("rs", F.sum("delta").over(w)).withColumn(
        "b", F.col("rs") - F.least(F.lit(0).cast("long"), F.min("rs").over(w))
    )
    got = {
        r.k: (r.final_balance, r.peak_balance)
        for r in rows.groupBy("k")
        .agg(
            (F.sum("delta") - F.least(F.lit(0).cast("long"), F.min("rs")))
            .cast("long")
            .alias("final_balance"),
            F.max("b").cast("long").alias("peak_balance"),
        )
        .collect()
    }
    by_key: dict[str, list[int]] = {}
    for k, _, d in data:
        by_key.setdefault(k, []).append(d)
    want = {k: _py_clamped_balance(ds) for k, ds in by_key.items()}
    assert got == want


def _py_winsorized(vals_cents: list[int]) -> tuple[int, float]:
    """Reference: clamp to the rank-(k+1)/(n-k) order statistics."""
    n = len(vals_cents)
    k = n // 10
    s = sorted(vals_cents)
    lo, hi = s[k], s[n - k - 1]
    return n, sum(min(max(v, lo), hi) for v in s) / n / 100


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["A", "N", "R"]),
            st.integers(min_value=1, max_value=99999),
        ),
        min_size=1,
        max_size=60,
    )
)
@settings(**_SETTINGS)
def test_winsorized_mean_matches_python_reference(spark, tmp_path_factory, rows):
    from elective_waiting_times_pipeline_spark.plans.catalog_relational import (
        winsorized_mean_price,
    )

    sf = str(tmp_path_factory.mktemp("wins"))
    spark.createDataFrame(
        [(f, c / 100.0) for f, c in rows],
        "l_returnflag string, l_extendedprice double",
    ).repartition(3).write.parquet(f"{sf}/lineitem.parquet")
    got = {
        r.flag: (r.n_rows, r.winsorized_mean)
        for r in winsorized_mean_price(spark, sf).collect()
    }
    by_flag: dict[str, list[int]] = {}
    for f, c in rows:
        by_flag.setdefault(f, []).append(c)
    want = {f: _py_winsorized(cs) for f, cs in by_flag.items()}
    assert set(got) == set(want)
    for f in want:
        assert got[f][0] == want[f][0]
        assert abs(got[f][1] - want[f][1]) < 1e-9


@given(
    st.lists(st.integers(min_value=1, max_value=10**7), min_size=1, max_size=12)
)
@settings(**_SETTINGS)
def test_seat_apportionment_invariants(spark, tmp_path_factory, revs):
    """Hamilton invariants: seats sum to exactly 1000, every nation is
    within 1 of its exact quota, and allocation is monotone in
    revenue."""
    from elective_waiting_times_pipeline_spark.plans.catalog_relational import (
        seat_apportionment,
    )

    sf = str(tmp_path_factory.mktemp("seats"))
    spark.createDataFrame(
        [(i, r / 100.0) for i, r in enumerate(revs)],
        "o_custkey long, o_totalprice double",
    ).write.parquet(f"{sf}/orders.parquet")
    spark.createDataFrame(
        [(i, i) for i in range(len(revs))], "c_custkey long, c_nationkey long"
    ).write.parquet(f"{sf}/customer.parquet")
    spark.createDataFrame(
        [(i, f"N{i:02d}") for i in range(len(revs))],
        "n_nationkey long, n_name string",
    ).write.parquet(f"{sf}/nation.parquet")
    got = {r.nation: r.seats for r in seat_apportionment(spark, sf).collect()}
    assert sum(got.values()) == 1000
    tot = sum(revs)
    for i, r in enumerate(revs):
        quota = 1000 * r / tot
        assert quota - 1 < got[f"N{i:02d}"] < quota + 1
    for i, ri in enumerate(revs):
        for j, rj in enumerate(revs):
            if ri > rj:
                assert got[f"N{i:02d}"] >= got[f"N{j:02d}"]
