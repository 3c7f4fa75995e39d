"""Range join (binned vs broadcast vs naive equivalence, boundary
semantics) and connected-components clustering (vs exact union-find)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from elective_waiting_times_pipeline_spark.harness import plan_string
from elective_waiting_times_pipeline_spark.operators import cluster as C
from elective_waiting_times_pipeline_spark.operators.rangejoin import range_join


def _pairs(df, pcol="p", icol="iv"):
    return sorted((r[pcol], r[icol]) for r in df.collect())


@pytest.fixture(scope="module")
def random_case(spark):
    rng = random.Random(42)
    points = [Row(p_id=i, p=rng.uniform(-50.0, 150.0)) for i in range(300)]
    ivs = []
    for j in range(60):
        s = rng.uniform(-60.0, 140.0)
        ivs.append(Row(iv_id=j, lo=s, hi=s + rng.uniform(0.0, 25.0)))
    return spark.createDataFrame(points), spark.createDataFrame(ivs)


def test_binned_matches_broadcast_and_naive(spark, random_case):
    points, ivs = random_case
    want = sorted(
        (r.p_id, r.iv_id)
        for r in points.crossJoin(ivs)
        .filter((F.col("p") >= F.col("lo")) & (F.col("p") < F.col("hi")))
        .collect()
    )
    for strategy, bw in [("broadcast", None), ("binned", 7.0), ("binned", 0.5), ("binned", 400.0)]:
        got = sorted(
            (r.p_id, r.iv_id)
            for r in range_join(points, ivs, "p", "lo", "hi", strategy=strategy, bin_width=bw).collect()
        )
        assert got == want, f"{strategy} bw={bw}"


def test_range_join_boundaries(spark):
    # start inclusive, end exclusive — including points/ends exactly on
    # bin boundaries (bin_width=10 with interval [10, 30))
    points = spark.createDataFrame([Row(p_id=i, p=float(v)) for i, v in enumerate([9.99, 10.0, 20.0, 29.99, 30.0])])
    ivs = spark.createDataFrame([Row(iv_id=0, lo=10.0, hi=30.0)])
    got = range_join(points, ivs, "p", "lo", "hi", strategy="binned", bin_width=10.0)
    assert sorted(r.p_id for r in got.collect()) == [1, 2, 3]
    # empty interval matches nothing
    empty = spark.createDataFrame([Row(iv_id=1, lo=5.0, hi=5.0)])
    assert range_join(points, empty, "p", "lo", "hi", strategy="binned", bin_width=10.0).count() == 0


def test_range_join_negative_domain(spark):
    points = spark.createDataFrame([Row(p_id=0, p=-15.0), Row(p_id=1, p=-5.0), Row(p_id=2, p=0.0)])
    ivs = spark.createDataFrame([Row(iv_id=0, lo=-20.0, hi=-10.0), Row(iv_id=1, lo=-10.0, hi=5.0)])
    got = sorted((r.p_id, r.iv_id) for r in range_join(points, ivs, "p", "lo", "hi", strategy="binned", bin_width=8.0).collect())
    assert got == [(0, 0), (1, 1), (2, 1)]


def test_range_join_extra_eq_keys(spark):
    points = spark.createDataFrame(
        [Row(k="x", p=5.0), Row(k="y", p=5.0), Row(k="x", p=50.0)]
    )
    ivs = spark.createDataFrame([Row(k="x", lo=0.0, hi=10.0), Row(k="y", lo=4.0, hi=6.0)])
    got = range_join(points, ivs, "p", "lo", "hi", extra_eq=["k"], strategy="binned", bin_width=5.0)
    rows = sorted((r.k, r.p) for r in got.collect())
    assert rows == [("x", 5.0), ("y", 5.0)]
    assert "k" in got.columns and "_r_k" not in got.columns


def test_range_join_timestamps_no_nested_loop(spark):
    points = spark.createDataFrame(
        [Row(p_id=i, ts=f"2024-01-01 00:{m:02d}:30") for i, m in enumerate([0, 14, 15, 44, 59])]
    ).select("p_id", F.col("ts").cast("timestamp").alias("ts"))
    ivs = spark.createDataFrame(
        [Row(iv_id=0, s="2024-01-01 00:15:00", e="2024-01-01 00:45:00")]
    ).select("iv_id", F.col("s").cast("timestamp").alias("s"), F.col("e").cast("timestamp").alias("e"))
    out = range_join(points, ivs, "ts", "s", "e", strategy="binned", bin_width=600)
    assert sorted(r.p_id for r in out.collect()) == [2, 3]
    plan = plan_string(out)
    assert "BroadcastNestedLoopJoin" not in plan


def test_connected_components_vs_union_find(spark):
    rng = random.Random(7)
    edges = set()
    # a long chain (multi-hop), a clique, random noise pairs
    for i in range(30, 45):
        edges.add((i, i + 1))
    for a in (100, 101, 102, 103):
        for b in (100, 101, 102, 103):
            if a < b:
                edges.add((a, b))
    while len(edges) < 60:
        a, b = rng.randrange(0, 200), rng.randrange(0, 200)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {v: find(v) for v in parent}
    df = spark.createDataFrame([Row(id_a=a, id_b=b) for a, b in edges])
    got = {r.v: r.label for r in C.connected_components(df).collect()}
    assert got == want


def test_assign_clusters_and_keep_canonical(spark):
    docs = spark.createDataFrame([Row(doc_id=i, text=f"d{i}") for i in range(6)])
    pairs = spark.createDataFrame([Row(id_a=1, id_b=3), Row(id_a=3, id_b=5)])
    assigned = {r.doc_id: r.cluster_id for r in C.assign_clusters(docs, pairs).collect()}
    assert assigned == {0: 0, 1: 1, 2: 2, 3: 1, 4: 4, 5: 1}
    kept = sorted(r.doc_id for r in C.dedup_keep_canonical(docs, pairs).collect())
    assert kept == [0, 1, 2, 4]
    assert "cluster_id" not in C.dedup_keep_canonical(docs, pairs).columns


def test_connected_components_converges_on_two_chains(spark):
    # two disjoint chains; also verifies determinism of min labels
    rows = [Row(id_a=i, id_b=i + 1) for i in range(0, 9)] + [
        Row(id_a=i, id_b=i + 1) for i in range(20, 24)
    ]
    got = {r.v: r.label for r in C.connected_components(spark.createDataFrame(rows)).collect()}
    assert all(v == 0 for k, v in got.items() if k <= 9)
    assert all(v == 20 for k, v in got.items() if k >= 20)


def test_range_join_auto_bin_width_matches_explicit(spark):
    """bin_width='auto' (median interval length) must produce the same
    pairs as any explicit width — width only affects the plan."""
    from pyspark.sql import Row

    from elective_waiting_times_pipeline_spark.operators.rangejoin import range_join

    points = spark.createDataFrame([Row(p=float(i)) for i in range(0, 100, 3)])
    ivs = spark.createDataFrame(
        [Row(iv_id=i, s=float(i * 7 % 60), e=float(i * 7 % 60 + 1 + i % 13)) for i in range(40)]
    )
    auto = {(r.p, r.iv_id) for r in range_join(points, ivs, "p", "s", "e", bin_width="auto").collect()}
    explicit = {(r.p, r.iv_id) for r in range_join(points, ivs, "p", "s", "e", bin_width=5.0).collect()}
    truth = {
        (r.p, r.iv_id)
        for r in points.crossJoin(ivs).filter("s <= p AND p < e").collect()
    }
    assert auto == explicit == truth and len(truth) > 0


def test_near_dup_clusters_matches_uncollapsed(spark):
    """The exact-duplicate collapse (pair-gen over representatives
    only) must give the identical clustering as the all-docs pair
    join — including: copies merging with their rep, near-dup chains
    across copy groups, and sub-shingle-length docs (identical or
    not) staying singletons."""
    from elective_waiting_times_pipeline_spark.operators.cluster import (
        assign_clusters,
        near_dup_clusters,
    )
    from elective_waiting_times_pipeline_spark.operators.dedup import ngram_jaccard_pairs

    base = "the quick brown fox jumps over the lazy dog tonight"
    near = "the quick brown fox jumps over the lazy cat tonight"
    rows = [
        (1, base), (2, base), (7, base),          # exact copies
        (3, near),                                 # near-dup of base
        (4, "completely different words entirely here now ok"),
        (5, "tiny doc"), (6, "tiny doc"),          # <3 tokens: singletons
        (8, ""),                                   # empty: singleton
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    got = {
        r.doc_id: r.cluster_id
        for r in near_dup_clusters(docs, shingle_n=3, min_jaccard=0.1).collect()
    }
    pairs = ngram_jaccard_pairs(docs, shingle_n=3, min_jaccard=0.1)
    want = {
        r.doc_id: r.cluster_id
        for r in assign_clusters(docs.select("doc_id"), pairs).collect()
    }
    assert got == want
    assert got[1] == got[2] == got[3] == got[7] == 1
    assert got[5] == 5 and got[6] == 6 and got[8] == 8


def test_radius_join_stencil_equals_bruteforce(spark):
    import random

    from elective_waiting_times_pipeline_spark.operators.geo import radius_join

    rng = random.Random(7)
    pts = [(i, rng.uniform(0, 20), rng.uniform(0, 20)) for i in range(200)]
    df = spark.createDataFrame(pts, "pid long, x double, y double")
    got = {(r.id_a, r.id_b) for r in radius_join(df, radius=1.5).collect()}
    brute = {
        (a[0], b[0])
        for i, a in enumerate(pts)
        for b in pts[i + 1 :]
        if (a[1] - b[1]) ** 2 + (a[2] - b[2]) ** 2 <= 1.5**2
    }
    # the 3x3 stencil is complete: within-radius pairs always share a
    # (cell, neighbor) match — no false negatives, verify kills the rest
    assert got == brute and len(brute) > 0

    plan = plan_string(radius_join(df, radius=1.5))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
