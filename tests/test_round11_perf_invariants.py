"""Round-11 optimization invariants: the fused sweep-line peak
reduction (`grouped_prefix_peak`), multi-measure `ordered_prefix`
(`weights=`), and the fused union-tagged spearman rank pass — each
rewrite's value parity is pinned against the naive window forms it
replaced."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from elective_waiting_times_pipeline_spark.harness import final_plan, plan_string
from elective_waiting_times_pipeline_spark.operators import sampling as S


@pytest.fixture(scope="module")
def boundary_rows(spark):
    # sweep-line style rows: groups, tie-heavy order keys, ±1 deltas
    rows = []
    for g in ("a", "b"):
        for i, (t, d) in enumerate(
            [(1, 1), (1, 1), (2, -1), (2, 1), (2, 1), (3, -1), (3, -1),
             (5, 1), (5, -1), (8, 1), (9, -1), (9, 1), (9, 1), (11, -1)]
        ):
            # group b gets shifted times so the shared cuts bucket
            # the two groups differently
            rows.append((g, t + (3 if g == "b" else 0), d if g == "a" else -d))
    return spark.createDataFrame(rows, "g string, t int, delta int")


def _naive_peak(df):
    w = (
        Window.partitionBy("g")
        .orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        df.withColumn("_cw", F.sum("delta").over(w))
        .groupBy("g")
        .agg(F.max("_cw").cast("long").alias("peak"))
    )


@pytest.mark.parametrize("cuts", [[], [2.0, 5.0, 9.0], [0.5]])
def test_grouped_prefix_peak_matches_naive_window(spark, boundary_rows, cuts):
    got = S.grouped_prefix_peak(
        boundary_rows,
        [F.col("t"), F.col("delta")],
        S.range_bucket("t", cuts),
        group_cols=["g"],
        weight="delta",
        out="peak",
    )
    expect = {r.g: r.peak for r in _naive_peak(boundary_rows).collect()}
    assert {r.g: r.peak for r in got.collect()} == expect
    # group b is all-negative-prefix at some points: the peak must be
    # allowed to be negative/zero, not clamped by the offsets coalesce
    assert min(expect.values()) <= 0 or max(expect.values()) > 0


def test_grouped_prefix_peak_layout_independent(spark, boundary_rows):
    a = S.grouped_prefix_peak(
        boundary_rows.repartition(1), [F.col("t"), F.col("delta")],
        S.range_bucket("t", [4.0]), group_cols=["g"], weight="delta",
    )
    b = S.grouped_prefix_peak(
        boundary_rows.repartition(7), [F.col("t"), F.col("delta")],
        S.range_bucket("t", [2.0, 9.0]), group_cols=["g"], weight="delta",
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_ordered_prefix_multi_weights_match_chained_calls(spark):
    df = spark.createDataFrame(
        [(v, a, c) for v, a, c in [(5, 1, 3), (5, 0, 2), (1, 2, 2), (9, 1, 1),
                                   (3, 0, 4), (3, 3, 3), (7, 1, 1), (1, 1, 5)]],
        "v int, wa int, wb int",
    )
    cuts = [2.0, 6.0]
    fused = S.ordered_prefix(
        df,
        [F.col("v").asc(), F.col("wa").asc(), F.col("wb").asc()],
        S.range_bucket("v", cuts),
        weight="wa",
        out_prefix="ca",
        weights=[("wb", "cb")],
        offsets_from_source=True,
    )
    chained = S.ordered_prefix(
        S.ordered_prefix(
            df,
            [F.col("v").asc(), F.col("wa").asc(), F.col("wb").asc()],
            S.range_bucket("v", cuts),
            weight="wa",
            out_prefix="ca",
        ),
        [F.col("v").asc(), F.col("wa").asc(), F.col("wb").asc()],
        S.range_bucket("v", cuts),
        weight="wb",
        out_prefix="cb",
    )
    key = lambda r: (r.v, r.wa, r.wb, r.ca, r.cb)  # noqa: E731
    assert sorted(map(key, fused.collect())) == sorted(map(key, chained.collect()))
    # and the running totals close over the full sums
    tot = df.agg(F.sum("wa"), F.sum("wb")).collect()[0]
    mx = fused.agg(F.max("ca"), F.max("cb")).collect()[0]
    assert (mx[0], mx[1]) == (tot[0], tot[1])


def test_spearman_rejects_union_incompatible_columns(spark):
    from elective_waiting_times_pipeline_spark.operators.rankstats import spearman_rho

    df = spark.createDataFrame([(1, "a")], "x int, y string")
    with pytest.raises(ValueError, match="union-compatible"):
        spearman_rho(df, "x", "y")


def test_repetition_features_row_local_parity_and_shape(spark):
    """The row-local repetition_features must (a) match a naive
    explode+groupBy computation value-for-value on a tie/edge-heavy
    corpus and (b) contain NO Exchange — the rewrite's whole point is
    that every statistic is a per-document property."""
    import random

    from elective_waiting_times_pipeline_spark.operators.text import (
        ngrams,
        repetition_features,
        tokens,
    )

    rng = random.Random(11)
    vocab = ["a", "b", "c", "dd", "eee"]
    rows = [(0, ""), (1, None), (2, "one"), (3, "a a a a")]
    rows += [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 40))))
        for i in range(4, 120)
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")

    got = repetition_features(df)
    # naive reference: the pre-round-11 two-explode shape
    uni = (
        df.select(F.col("doc_id"), F.explode_outer(tokens("text")).alias("_tok"))
        .groupBy("doc_id")
        .agg(
            F.count("_tok").cast("int").alias("n_tokens"),
            F.count_distinct("_tok").cast("int").alias("n_distinct_tokens"),
        )
    )
    bg = (
        df.select(F.col("doc_id"), tokens("text").alias("_toks"))
        .select(
            F.col("doc_id"),
            F.explode(ngrams(F.col("_toks"), 2)).alias("_bg"),
        )
        .groupBy("doc_id", "_bg")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy("doc_id")
        .agg(
            F.sum("_c").cast("int").alias("n_bigrams"),
            F.max("_c").cast("int").alias("top_bigram_count"),
        )
    )
    n_bg = F.coalesce(F.col("n_bigrams"), F.lit(0))
    ref = uni.join(bg, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        "n_distinct_tokens",
        n_bg.alias("n_bigrams"),
        F.round(
            F.when(
                F.col("n_tokens") > 0,
                1.0 - F.col("n_distinct_tokens") / F.col("n_tokens"),
            ).otherwise(0.0),
            6,
        ).alias("dup_unigram_frac"),
        F.round(
            F.when(n_bg > 0, F.col("top_bigram_count") / n_bg).otherwise(0.0), 6
        ).alias("top_bigram_frac"),
    )
    key = lambda r: tuple(r)  # noqa: E731
    assert sorted(map(key, got.collect())) == sorted(map(key, ref.collect()))
    assert [f.dataType.simpleString() for f in got.schema.fields] == [
        f.dataType.simpleString() for f in ref.schema.fields
    ]
    plan = plan_string(got)
    assert "Exchange" not in plan


def test_symmetrize_single_subtree_and_parity(spark):
    """connected_components' edge symmetrization must (a) produce
    exactly the rows of the old union(sym, swap(sym)) form — both
    orientations, self-loops dropped, duplicates collapsed — and
    (b) reference the upstream edge subtree ONCE: the union form
    planted the (expensive, e.g. Σdf² pair-join) subtree twice and
    exchange reuse never fired across the legs."""
    from elective_waiting_times_pipeline_spark.operators.cluster import _symmetrize

    raw = spark.createDataFrame(
        [(1, 2), (2, 1), (3, 3), (4, 5), (4, 5), (6, 2), (7, 8), (8, 9)],
        "x long, y long",
    )
    # an aggregate upstream, so "evaluated once" is visible in the
    # plan: 1 aggregation == 2 HashAggregate nodes (partial + final)
    edges = raw.groupBy("x", "y").agg(F.count(F.lit(1)).alias("_m")).select(
        F.col("x").alias("id_a"), F.col("y").alias("id_b")
    )
    got = _symmetrize(edges, "id_a", "id_b")
    sym0 = edges.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    ref = (
        sym0.union(sym0.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ref.collect()))
    assert got.schema == ref.schema
    plan = final_plan(got)
    # upstream agg (2 nodes) + the distinct (2 nodes) = 4; the union
    # form carries the upstream agg twice (6 total)
    assert plan.count("HashAggregate") == 4, plan


def test_cosine_with_norms_bit_identical(spark):
    """cosine_with_norms(a, b, norm(a), norm(b)) must equal cosine(a, b)
    BIT-FOR-BIT (same folds, same product of the same doubles) — the
    pair-join call sites bind the norms per row, so any ulp drift here
    would silently change rounded similarities. Includes zero vectors
    (NULL via try_divide) and NULL arrays."""
    import random

    from elective_waiting_times_pipeline_spark.operators.similarity import (
        cosine,
        cosine_with_norms,
        norm,
    )

    rng = random.Random(11)
    rows = [
        ([rng.uniform(-1, 1) for _ in range(16)],
         [rng.uniform(-1, 1) for _ in range(16)])
        for _ in range(200)
    ]
    rows += [([0.0] * 16, [1.0] * 16), ([0.0] * 16, [0.0] * 16), (None, [1.0] * 16)]
    df = spark.createDataFrame(rows, "a array<double>, b array<double>")
    bound = df.select(
        "a", "b", norm(F.col("a")).alias("_na"), norm(F.col("b")).alias("_nb")
    )
    out = bound.select(
        cosine(F.col("a"), F.col("b")).alias("ref"),
        cosine_with_norms(F.col("a"), F.col("b"), F.col("_na"), F.col("_nb")).alias("got"),
    ).collect()
    import struct

    for r in out:
        if r.ref is None:
            assert r.got is None
        else:
            assert struct.pack("d", r.ref) == struct.pack("d", r.got)

