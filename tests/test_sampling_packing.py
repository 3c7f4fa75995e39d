"""Sampling (hash split/sample) and sequence-packing invariants."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from elective_waiting_times_pipeline_spark.operators import packing as P
from elective_waiting_times_pipeline_spark.operators import sampling as S


@pytest.fixture(scope="module")
def keyed(spark):
    return spark.range(0, 2000).withColumnRenamed("id", "k")


def test_hash_split_partitions_every_row_once(spark, keyed):
    out = S.hash_split(keyed, "k", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 2000
    # uniform md5 ⇒ fractions within a loose tolerance at n=2000
    assert abs(counts["train"] / 2000 - 0.8) < 0.05
    assert abs(counts["val"] / 2000 - 0.1) < 0.04
    assert abs(counts["test"] / 2000 - 0.1) < 0.04


def test_hash_split_deterministic_and_salt_sensitive(spark, keyed):
    a = dict(S.hash_split(keyed, "k", {"a": 0.5, "b": 0.5}).collect())
    b = dict(S.hash_split(keyed, "k", {"a": 0.5, "b": 0.5}).collect())
    assert a == b
    salted = dict(S.hash_split(keyed, "k", {"a": 0.5, "b": 0.5}, salt="epoch1").collect())
    assert salted != a  # re-roll moves some keys


def test_hash_sample_is_subset_and_stable(spark, keyed):
    s1 = {r.k for r in S.hash_sample(keyed, "k", 0.25).collect()}
    s2 = {r.k for r in S.hash_sample(keyed, "k", 0.25).collect()}
    assert s1 == s2
    assert abs(len(s1) / 2000 - 0.25) < 0.05
    # nested property: a smaller threshold keeps a subset
    s_small = {r.k for r in S.hash_sample(keyed, "k", 0.10).collect()}
    assert s_small <= s1


def test_hex_threshold_validation():
    assert S.hex_threshold(0.5) == "8000"
    with pytest.raises(ValueError):
        S.hex_threshold(1.0)
    with pytest.raises(ValueError):
        S.split_column("k", {"a": 0.6, "b": 0.6})


@pytest.fixture(scope="module")
def docs(spark):
    rows = [Row(doc_id=i, n_tokens=(i * 37) % 700 + 1) for i in range(200)]
    return spark.createDataFrame(rows)


def test_chunk_offsets_contiguous_per_shard(spark, docs):
    out = P.chunk_offsets(docs, budget=512, shards=4).collect()
    by_shard: dict[int, list] = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r)
    ntok = {r.doc_id: r.n_tokens for r in docs.collect()}
    assert sum(len(v) for v in by_shard.values()) == 200
    for shard, rows in by_shard.items():
        rows.sort(key=lambda r: r.doc_id)
        offset = 0
        for r in rows:
            assert r.doc_id % 4 == shard
            assert r.start_offset == offset  # head-to-tail layout
            assert r.chunk_id == offset // 512
            offset += ntok[r.doc_id]


def test_greedy_pack_respects_budget(spark, docs):
    out = P.greedy_pack(docs, budget=512, shards=4).collect()
    assert len(out) == 200  # every doc exactly once
    assert len({r.doc_id for r in out}) == 200
    fills: dict[tuple, int] = {}
    for r in out:
        assert (r.n_tokens > 512) == r.oversize
        fills[(r.shard, r.bin_id)] = fills.get((r.shard, r.bin_id), 0) + r.n_tokens
    for (shard, bin_id), fill in fills.items():
        members = [r for r in out if r.shard == shard and r.bin_id == bin_id]
        if any(r.oversize for r in members):
            assert len(members) == 1  # oversize docs ride alone
        else:
            assert fill <= 512


def test_greedy_pack_deterministic(spark, docs):
    a = sorted(map(tuple, P.greedy_pack(docs, budget=512, shards=4).collect()))
    b = sorted(map(tuple, P.greedy_pack(docs, budget=512, shards=4).collect()))
    assert a == b


def test_stratified_hash_sample_rates(spark):
    rows = [Row(k=i, src="a" if i % 2 == 0 else "b") for i in range(2000)]
    df = spark.createDataFrame(rows)
    out = S.stratified_hash_sample(df, "k", "src", {"a": 1.0, "b": 0.2}).collect()
    a = [r for r in out if r.src == "a"]
    b = [r for r in out if r.src == "b"]
    assert len(a) == 1000  # fraction 1.0 keeps everything
    assert abs(len(b) / 1000 - 0.2) < 0.05
    # default=0 drops unlisted strata
    none_c = S.stratified_hash_sample(df, "k", "src", {"a": 0.5}).collect()
    assert all(r.src == "a" for r in none_c)


def test_sampling_properties_hypothesis():
    """Pure-python threshold properties: monotone, bounded, 4-hex."""
    from hypothesis import given, strategies as st

    @given(st.floats(min_value=0, max_value=0.999999), st.floats(min_value=0, max_value=0.999999))
    def check(f1, f2):
        t1, t2 = S.hex_threshold(f1), S.hex_threshold(f2)
        assert len(t1) == 4 and int(t1, 16) <= S.HEX_SPACE
        if f1 <= f2:
            assert t1 <= t2  # monotone ⇒ nested samples

    check()


# ---------------------------------------------------------------------------
# Global training-order shuffle (hash_order_position).
# ---------------------------------------------------------------------------
def test_hash_order_position_is_contiguous_permutation(spark, keyed):
    out = S.hash_order_position(keyed, "k")
    rows = out.collect()
    positions = sorted(r["position"] for r in rows)
    assert positions == list(range(1, 2001))
    # deterministic across reruns and input partitioning
    again = {r.k: r["position"] for r in S.hash_order_position(keyed.repartition(7), "k").collect()}
    assert {r.k: r["position"] for r in rows} == again


def test_hash_order_position_matches_global_sort_and_salt_rerolls(spark, keyed):
    out = {r.k: r["position"] for r in S.hash_order_position(keyed, "k").collect()}
    truth = [
        r.k
        for r in keyed.withColumn("_h", F.md5(F.col("k").cast("string")))
        .orderBy("_h", "k")
        .collect()
    ]
    assert [k for k, _ in sorted(out.items(), key=lambda kv: kv[1])] == truth
    salted = {r.k: r["position"] for r in S.hash_order_position(keyed, "k", salt="e1").collect()}
    assert salted != out


def test_hash_order_position_window_is_bucket_partitioned(spark, keyed):
    # The scalable shape: the big window must be hash-bucket
    # partitioned, never a global (empty partition-spec) sort of the
    # full table through one task. The only unpartitioned window
    # allowed is the ≤256-row bucket-offset cumulative sum.
    plan = S.hash_order_position(keyed, "k")._jdf.queryExecution().optimizedPlan().toString()
    import re

    windows = [ln for ln in plan.split("\n") if "Window [" in ln or ln.strip().startswith("Window")]
    big = [w for w in windows if "row_number" in w]
    assert big, plan
    assert all("_bk" in w for w in big), plan


# ---------------------------------------------------------------------------
# Grouped distributed rank / prefix-sum (cap_per_group, budget_per_group).
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def grouped(spark):
    # 3 groups with very different sizes (g0 hot) and varying weights.
    return spark.range(0, 900).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 600, "g0").when(F.col("id") < 850, "g1").otherwise("g2").alias("g"),
        (F.col("id") % 7 + 1).cast("int").alias("w"),
    )


def _naive_rank(df):
    from pyspark.sql import Window

    w = Window.partitionBy("g").orderBy(F.md5(F.col("k").cast("string")), "k")
    return df.withColumn("position", F.row_number().over(w).cast("long"))


def test_cap_per_group_matches_naive_window(spark, grouped):
    out = {(r.g, r.k): r["position"]
           for r in S.cap_per_group(grouped, "k", ["g"], max_rows=50).collect()}
    naive = {(r.g, r.k): r["position"]
             for r in _naive_rank(grouped).filter(F.col("position") <= 50).collect()}
    assert out == naive
    # every group capped at exactly min(50, group size)
    sizes = {r.g: r.n for r in S.cap_per_group(grouped, "k", ["g"], max_rows=50)
             .groupBy("g").agg(F.count("*").alias("n")).collect()}
    assert sizes == {"g0": 50, "g1": 50, "g2": 50}


def test_cap_per_group_layout_independent(spark, grouped):
    a = sorted((r.g, r.k) for r in S.cap_per_group(grouped, "k", ["g"], 30).collect())
    b = sorted((r.g, r.k) for r in S.cap_per_group(grouped.repartition(13), "k", ["g"], 30).collect())
    assert a == b


def test_budget_per_group_matches_naive_cumsum(spark, grouped):
    from pyspark.sql import Window

    w = (
        Window.partitionBy("g")
        .orderBy(F.md5(F.col("k").cast("string")), "k")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    naive = (
        grouped.withColumn("cum_weight", F.sum("w").over(w).cast("long"))
        .filter(F.col("cum_weight") <= 120)
    )
    out = S.budget_per_group(grouped, "k", ["g"], weight="w", budget=120)
    assert sorted((r.g, r.k, r["cum_weight"]) for r in out.collect()) == sorted(
        (r.g, r.k, r["cum_weight"]) for r in naive.collect()
    )
    # inclusive semantics: adding the next-in-order row would cross 120
    per_group_max = {r.g: r.m for r in out.groupBy("g").agg(F.max("cum_weight").alias("m")).collect()}
    assert all(m <= 120 for m in per_group_max.values())


def test_grouped_rank_window_is_bucket_partitioned(spark, grouped):
    # Skew-safety: the data-sized windows must partition on
    # (group, _bk), never on the group alone (a hot group would funnel
    # into one task). Only the per-group ≤256-row offset window may
    # omit _bk.
    plan = (
        S.budget_per_group(grouped, "k", ["g"], weight="w", budget=120)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    windows = [ln for ln in plan.split("\n") if "row_number" in ln and "Window" in ln]
    assert windows, plan
    assert all("_bk" in w for w in windows), plan


# ---------------------------------------------------------------------------
# Sliding-window chunking (packing.sliding_chunks).
# ---------------------------------------------------------------------------
def test_sliding_chunks_edges_and_coverage(spark):
    docs = spark.createDataFrame(
        [
            (1, ""),                               # empty → no chunks
            (2, "a b c"),                          # < window → 1 chunk
            (3, " ".join(f"t{i}" for i in range(10))),   # == window
            (4, " ".join(f"t{i}" for i in range(11))),   # window+1 → 2 chunks
            (5, " ".join(f"t{i}" for i in range(25))),   # several
        ],
        "doc_id long, text string",
    )
    out = P.sliding_chunks(docs, window=10, stride=7).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert 1 not in by_doc
    assert len(by_doc[2]) == 1 and by_doc[2][0].chunk_text == "a b c"
    assert len(by_doc[3]) == 1 and by_doc[3][0].n_chunk_tokens == 10
    assert len(by_doc[4]) == 2
    assert by_doc[4][1].start_tok == 7 and by_doc[4][1].n_chunk_tokens == 4
    # ceil((25-10)/7)+1 = 4 chunks; every token covered; text slices agree
    chunks5 = sorted(by_doc[5], key=lambda r: r.chunk_idx)
    assert len(chunks5) == 4
    toks = [f"t{i}" for i in range(25)]
    covered = set()
    for c in chunks5:
        assert c.start_tok == c.chunk_idx * 7
        assert c.chunk_text.split(" ") == toks[c.start_tok : c.start_tok + 10]
        assert c.n_chunk_tokens == len(c.chunk_text.split(" "))
        covered.update(range(c.start_tok, c.start_tok + c.n_chunk_tokens))
    assert covered == set(range(25))


def test_sliding_chunks_validates_params(spark):
    docs = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError):
        P.sliding_chunks(docs, window=0)
    with pytest.raises(ValueError):
        P.sliding_chunks(docs, stride=0)


@pytest.mark.parametrize("window,stride", [(1, 1), (5, 5), (5, 3), (8, 2), (3, 7)])
def test_sliding_chunks_invariants_across_shapes(spark, window, stride):
    # docs with every token count 0..40: chunk set must tile each doc
    # (full coverage, no index beyond n, stride-spaced starts) for any
    # window/stride relation incl. stride > window (gaps allowed only
    # in OVERLAP, never in coverage ... stride>window legitimately
    # subsamples, so coverage is only asserted when stride <= window).
    docs = spark.createDataFrame(
        [(n, " ".join(f"w{i}" for i in range(n))) for n in range(0, 41)],
        "doc_id long, text string",
    )
    rows = P.sliding_chunks(docs, window=window, stride=stride).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert 0 not in by_doc  # empty doc -> no chunks
    for n in range(1, 41):
        chunks = sorted(by_doc[n], key=lambda r: r.chunk_idx)
        assert [c.chunk_idx for c in chunks] == list(range(len(chunks)))
        for c in chunks:
            assert c.start_tok == c.chunk_idx * stride < n
            assert 1 <= c.n_chunk_tokens == min(window, n - c.start_tok)
        # last chunk reaches the end; next start would be >= n
        last = chunks[-1]
        assert last.start_tok + last.n_chunk_tokens <= n
        assert last.start_tok + stride >= n or last.start_tok + window >= n
        if stride <= window:
            covered = set()
            for c in chunks:
                covered.update(range(c.start_tok, c.start_tok + c.n_chunk_tokens))
            assert covered == set(range(n))


def test_epoch_salt_reshuffles_but_preserves_set(spark):
    from elective_waiting_times_pipeline_spark.operators.sampling import hash_order_position
    from elective_waiting_times_pipeline_spark.sources.readers import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select("doc_id")
    e0 = {r.doc_id: r.position for r in hash_order_position(docs, F.col("doc_id").cast("string"), salt="epoch0").collect()}
    e1 = {r.doc_id: r.position for r in hash_order_position(docs, F.col("doc_id").cast("string"), salt="epoch1").collect()}
    assert set(e0) == set(e1)  # same corpus either epoch
    assert sorted(e0.values()) == list(range(1, len(e0) + 1))
    # different salts give a genuinely different order
    moved = sum(1 for k in e0 if e0[k] != e1[k])
    assert moved > len(e0) * 0.9


def test_hll_sketches_merge_and_persist(spark, tmp_path):
    from pyspark.sql import functions as F

    from elective_waiting_times_pipeline_spark.operators.sketches import (
        daily_user_sketches,
        merged_distinct_estimate,
    )
    from elective_waiting_times_pipeline_spark.sources.readers import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    sketches = daily_user_sketches(ev)
    est = merged_distinct_estimate(sketches).collect()[0]
    exact = ev.select("user_id").distinct().count()
    assert abs(est.distinct_estimate - exact) / exact < 0.05  # HLL error bound

    # persistence roundtrip: reload binary sketches, merge a day range
    path = str(tmp_path / "sketches")
    sketches.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    days = sorted(r.day for r in back.select("day").distinct().collect())[:2]
    got = merged_distinct_estimate(back, days).collect()[0]
    exact_range = (
        ev.filter(F.date_format(F.date_trunc("DAY", "ts"), "yyyy-MM-dd").isin(days))
        .select("user_id")
        .distinct()
        .count()
    )
    assert got.n_sketches == 2
    assert abs(got.distinct_estimate - exact_range) / max(exact_range, 1) < 0.05


# ---------------------------------------------------------------------------
# Value-order distributed rank / prefix (range_bucket + ordered_prefix)
# — the generic machinery behind curriculum_order / zipf_fit /
# peak_concurrency's scale-safe rewrites.
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def valued(spark):
    # values with heavy ties (v = id % 37) and a weight
    return spark.range(0, 1500).select(
        F.col("id").alias("k"),
        (F.col("id") % 37).cast("double").alias("v"),
        (F.col("id") % 5 + 1).cast("int").alias("w"),
    )


def test_ordered_prefix_rank_matches_global_window(spark, valued):
    from pyspark.sql import Window

    # cut points sampled from v
    out = S.value_prefix(valued, "v", ["k"], out_pos="r", out_total="N")
    naive = valued.withColumn("r", F.row_number().over(Window.orderBy("v", "k")))
    assert {(x.k, x.r) for x in out.collect()} == {(x.k, x.r) for x in naive.collect()}
    assert out.select("N").distinct().collect()[0].N == 1500


def test_ordered_prefix_descending_and_weight(spark, valued):
    from pyspark.sql import Window

    kw = dict(out_pos="r", weight="w", out_prefix="cw")
    w = Window.orderBy(F.col("v").desc(), "k")
    naive = valued.withColumn("r", F.row_number().over(w)).withColumn(
        "cw", F.sum("w").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    want = {(x.k, x.r, x.cw) for x in naive.collect()}
    # sampled cuts (one value per bucket here) and coarse explicit cuts
    # (about nine values per bucket)
    sampled = S.value_prefix(valued, "v", ["k"], descending=True, **kw)
    coarse = S.ordered_prefix(
        valued, [F.col("v").desc(), F.col("k")], S.range_bucket("v", [9.5, 18.5, 27.5], True), **kw
    )
    for out in (sampled, coarse):
        assert {(x.k, x.r, x.cw) for x in out.collect()} == want


def test_ordered_prefix_grouped_matches_per_group_window(spark, valued):
    from pyspark.sql import Window

    g = valued.withColumn("g", (F.col("k") % 3).cast("int"))
    out = S.ordered_prefix(
        g,
        [F.col("v"), F.col("k")],
        S.range_bucket("v", [4.0, 11.0, 19.0, 30.0]),
        group_cols=["g"],
        out_pos="r",
    )
    w = Window.partitionBy("g").orderBy("v", "k")
    naive = g.withColumn("r", F.row_number().over(w))
    assert {(x.g, x.k, x.r) for x in out.collect()} == {
        (x.g, x.k, x.r) for x in naive.collect()
    }


def test_range_bucket_degenerate_cuts_still_exact(spark, valued):
    # constant column -> empty cut list -> one bucket, ranks still exact
    from pyspark.sql import Window

    const = valued.withColumn("v", F.lit(7.0))
    out = S.ordered_prefix(
        const, [F.col("v"), F.col("k")], S.range_bucket("v", []), out_pos="r"
    )
    naive = const.withColumn("r", F.row_number().over(Window.orderBy("v", "k")))
    assert {(x.k, x.r) for x in out.collect()} == {(x.k, x.r) for x in naive.collect()}


def test_ordered_prefix_layout_independent(spark, valued):
    a = sorted(
        (x.k, x.r)
        for x in S.value_prefix(valued, "v", ["k"], out_pos="r").collect()
    )
    b = sorted(
        (x.k, x.r)
        for x in S.value_prefix(valued.repartition(11), "v", ["k"], out_pos="r").collect()
    )
    assert a == b


# Property: ordered_prefix's rank and running weight equal the naive
# global window for ARBITRARY tie-heavy value distributions, cut
# lists (including duplicated/degenerate cuts), and group layouts.
from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=8, deadline=None)
@given(
    vals=st.lists(st.integers(min_value=-5, max_value=5), min_size=1, max_size=60),
    cuts=st.lists(st.integers(min_value=-6, max_value=6), max_size=7),
)
def test_ordered_prefix_property_matches_naive(spark, vals, cuts):
    from pyspark.sql import Window

    df = spark.createDataFrame(
        [(i, float(v), (v % 3 + 3) % 3 + 1) for i, v in enumerate(vals)], "k long, v double, w int"
    )
    out = S.ordered_prefix(
        df,
        [F.col("v"), F.col("k")],
        S.range_bucket("v", sorted({float(c) for c in cuts})),
        out_pos="r",
        weight="w",
        out_prefix="cw",
        out_total="N",
    )
    w = Window.orderBy("v", "k")
    naive = df.withColumn("r", F.row_number().over(w)).withColumn(
        "cw", F.sum("w").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    got = {(x.k, x.r, x.cw, x.N) for x in out.collect()}
    want = {(x.k, x.r, x.cw, len(vals)) for x in naive.collect()}
    assert got == want


def test_range_bucket_nan_keeps_monotone_rank(spark):
    # NaN sorts as the LARGEST value in Spark: ascending it must land
    # in the last bucket (not bucket 0), or the distributed rank would
    # disagree with the naive global window.
    from pyspark.sql import Window

    df = spark.createDataFrame(
        [(0, 1.0), (1, float("nan")), (2, 2.0), (3, 5.0), (4, float("nan"))],
        "k long, v double",
    )
    cuts = [1.5, 3.0]
    for desc in (False, True):
        order = [F.col("v").desc() if desc else F.col("v").asc(), F.col("k")]
        out = S.ordered_prefix(
            df, order, S.range_bucket("v", cuts, descending=desc), out_pos="r"
        )
        naive = df.withColumn("r", F.row_number().over(Window.orderBy(*order)))
        assert {(x.k, x.r) for x in out.collect()} == {
            (x.k, x.r) for x in naive.collect()
        }, f"descending={desc}"


def test_range_bucket_null_keys_match_spark_sort_position(spark):
    # Spark sorts NULL first ascending and last descending; the bucket
    # must agree or ordered_prefix disagrees with the naive window.
    from pyspark.sql import Window

    df = spark.createDataFrame(
        [(0, 1.0), (1, None), (2, 2.0), (3, 5.0)], "k long, v double"
    )
    cuts = [1.5, 3.0]
    for desc in (False, True):
        order = [F.col("v").desc() if desc else F.col("v").asc(), F.col("k")]
        out = S.ordered_prefix(
            df, order, S.range_bucket("v", cuts, descending=desc), out_pos="r"
        )
        naive = df.withColumn("r", F.row_number().over(Window.orderBy(*order)))
        assert {(x.k, x.r) for x in out.collect()} == {
            (x.k, x.r) for x in naive.collect()
        }, f"descending={desc}"


def test_null_group_is_ranked_as_its_own_group(spark):
    # a NULL group key is a real group: every input row comes back and
    # the NULL rows are ranked (and summed) among themselves — under a
    # value order (explicit and sampled cut points) and a hash order,
    # whose NULL hash keys (md5(NULL) is NULL) sort first in any group
    from pyspark.sql import Window

    df = spark.createDataFrame(
        [(0, "a", 3.0, 1, None), (1, None, 1.0, 2, None), (2, "a", 2.0, 3, "x2"),
         (3, None, 5.0, 4, "x3"), (4, "b", 4.0, 5, "x4")],
        "k long, g string, v double, w int, h string",
    )
    value = [F.col("v"), F.col("k")]
    hashed = [F.md5("h"), F.col("h")]
    kw = dict(out_pos="r", weight="w", out_prefix="cw")
    cases = [
        ("value order, explicit cuts", value,
         lambda: S.ordered_prefix(df, value, S.range_bucket("v", [2.5]), ["g"], **kw)),
        ("value order, sampled cuts", value,
         lambda: S.value_prefix(df, "v", ["k"], group_cols=["g"], **kw)),
        ("hash order", hashed, lambda: S.hash_order_prefix(df, "h", ["g"], **kw)),
    ]
    for label, order, build in cases:
        w = Window.partitionBy("g").orderBy(*order)
        naive = df.withColumn("r", F.row_number().over(w)).withColumn(
            "cw", F.sum("w").over(w.rowsBetween(Window.unboundedPreceding, 0))
        )
        out = build()
        got = sorted((x.k, x.g, x.r, x.cw) for x in out.collect())
        assert len(got) == 5, f"{label}: {got}"
        assert out.columns == [*df.columns, "r", "cw"], label
        assert got == sorted((x.k, x.g, x.r, x.cw) for x in naive.collect()), label
    # ungrouped, the NULL-key row keeps its row and sorts first too
    one_null = df.where("k != 1")
    naive = one_null.withColumn("position", F.row_number().over(Window.orderBy(*hashed)))
    got = sorted((x.k, x.position) for x in S.hash_order_position(one_null, "h").collect())
    assert got == sorted((x.k, x.position) for x in naive.collect())
    assert (0, 1) in got


def test_ungrouped_prefix_windows_are_all_partitioned(spark, valued):
    # the bucket-axis offsets/total windows of an ungrouped prefix carry
    # a constant partition key, so no Window has an empty partition
    # spec (WindowExec's "No Partition Defined" warning stays for
    # genuinely unbounded windows) — under a non-nullable bucket too
    out = S.value_prefix(valued, "v", ["k"], out_pos="r", weight="w", out_total="N")
    hashed = S.hash_order_position(valued, "k")
    for df in (out, hashed):
        plan = df._jdf.queryExecution().optimizedPlan()
        stack, windows = [plan], 0
        while stack:
            n = stack.pop()
            stack.extend(n.children().apply(i) for i in range(n.children().size()))
            if n.nodeName() == "Window":
                windows += 1
                assert n.partitionSpec().size() > 0, n.toString()
        assert windows >= 2


def test_stratified_exact_split_proportions(spark, sf_dir):
    import pytest as _pytest

    from elective_waiting_times_pipeline_spark.operators.sampling import (
        stratified_exact_split,
    )
    from elective_waiting_times_pipeline_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    out = stratified_exact_split(
        docs, "doc_id", ["lang"], {"train": 800, "val": 100, "test": 100}, salt="strat"
    )
    rows = out.groupBy("lang", "split").count().collect()
    per = {}
    for r in rows:
        per.setdefault(r.lang, {})[r.split] = r["count"]
    for lang, d in per.items():
        n = sum(d.values())
        # exact permille floors hold PER STRATUM, not just in aggregate
        assert d.get("train", 0) == (800 * n) // 1000, (lang, d)
        assert d.get("train", 0) + d.get("val", 0) == (900 * n) // 1000, (lang, d)
    with _pytest.raises(ValueError):
        stratified_exact_split(docs, "doc_id", ["lang"], {"a": 500, "b": 400})


def test_stratified_exact_split_null_stratum_kept(spark):
    from elective_waiting_times_pipeline_spark.operators.sampling import (
        stratified_exact_split,
    )

    rows = [(i, "en" if i % 2 else None) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = stratified_exact_split(
        df, "doc_id", ["lang"], {"train": 800, "val": 100, "test": 100}
    )
    assert out.count() == 20  # NULL-stratum rows must not be dropped
    null_rows = out.filter(out.lang.isNull())
    assert null_rows.count() == 10
    assert null_rows.filter(null_rows.split == "train").count() == 8


def test_greedy_pack_zero_token_doc_skips_full_bins(spark):
    from elective_waiting_times_pipeline_spark.operators.packing import greedy_pack

    df = spark.createDataFrame(
        [(1, 600), (2, 0)], "doc_id long, n_tokens long"
    )
    out = {r.doc_id: r for r in greedy_pack(df, budget=512, shards=1).collect()}
    # the oversize singleton keeps its bin to itself; the zero-token
    # doc opens a fresh bin instead of slipping into a full one
    assert out[1].oversize and not out[2].oversize
    assert out[1].bin_id != out[2].bin_id


def test_chunk_offsets_chunk_id_is_long(spark):
    from elective_waiting_times_pipeline_spark.operators.packing import chunk_offsets

    df = spark.createDataFrame([(1, 10)], "doc_id long, n_tokens long")
    schema = dict(chunk_offsets(df).dtypes)
    assert schema["chunk_id"] == "bigint"
