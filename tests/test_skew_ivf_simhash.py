"""Skew-salting equivalence, IVF recall, SimHash pair bucketing."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from elective_waiting_times_pipeline_spark.harness import plan_string
from elective_waiting_times_pipeline_spark.operators import dedup as D
from elective_waiting_times_pipeline_spark.operators import similarity as S
from elective_waiting_times_pipeline_spark.operators.skew import salted_join_left, salted_sum
from elective_waiting_times_pipeline_spark.sources.readers import load_table

SF = "/root/testdata/sf0.001"


def test_salted_sum_equals_plain(spark):
    li = load_table(spark, SF, "lineitem")
    plain = {
        r.l_returnflag: r.t
        for r in li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("t")).collect()
    }
    salted = {
        r.l_returnflag: r.total
        for r in salted_sum(li, ["l_returnflag"], "l_quantity").collect()
    }
    assert set(plain) == set(salted)
    for k in plain:
        assert salted[k] == pytest.approx(plain[k])


def test_salted_join_equals_plain(spark):
    o = load_table(spark, SF, "orders")
    c = load_table(spark, SF, "customer").withColumnRenamed("c_custkey", "o_custkey")
    plain = o.join(c, on="o_custkey", how="left").count()
    salted = salted_join_left(o, c, on="o_custkey").count()
    assert salted == plain
    # row-level equivalence on a sample column
    a = o.join(c, "o_custkey", "left").groupBy("c_mktsegment").count().collect()
    b = salted_join_left(o, c, "o_custkey").groupBy("c_mktsegment").count().collect()
    assert {(r.c_mktsegment, r["count"]) for r in a} == {(r.c_mktsegment, r["count"]) for r in b}


def test_ivf_topk_recall_vs_bruteforce(spark):
    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") == 0)
    brute = [r.vec_id for r in S.cosine_topk(emb, q, k=10).collect()]
    ivf = [r.vec_id for r in S.ivf_topk(emb, q, k=10, n_cells=8, n_probe=4).collect()]
    # probing half the cells must recover most of the true top-10
    overlap = len(set(brute) & set(ivf))
    assert overlap >= 6, f"IVF recall too low: {overlap}/10 ({ivf} vs {brute})"
    assert ivf[0] == 0  # the query vector itself is its own nearest


def test_simhash_near_dup_pairs_finds_close_docs(spark):
    texts = [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu",
        "alpha beta gamma delta epsilon zeta eta theta iota kappa lam nu",
        "unrelated completely different vocabulary nothing in common here at all",
    ]
    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in enumerate(texts)])
    sims = D.simhash(df)
    pairs = {(r.id_a, r.id_b): r.hamming for r in D.simhash_near_dup_pairs(sims, max_hamming=16).collect()}
    assert (0, 1) in pairs
    assert pairs[(0, 1)] <= 16
    assert (0, 2) not in pairs


def test_simhash_pigeonhole_guarantee(spark):
    # Adversarial spread: hamming == max_hamming bits, each placed in a
    # DIFFERENT chunk — exactly the case a too-coarse banding misses.
    # With bands = max_hamming+1 (default) the pair MUST be found.
    for h in (2, 4, 8):
        bits = 0
        for i in range(h):
            bits |= 1 << (i * (64 // h))
        rows = [Row(doc_id=1, simhash=0), Row(doc_id=2, simhash=bits)]
        sims = spark.createDataFrame(rows)
        pairs = D.simhash_near_dup_pairs(sims, max_hamming=h).collect()
        assert len(pairs) == 1 and pairs[0].hamming == h, f"missed spread pair at hamming {h}"


def test_simhash_negative_hash_chunks(spark):
    # simhash values can be negative (bit 63 set) — chunking must use
    # unsigned shifts
    rows = [Row(doc_id=1, simhash=-(1 << 63)), Row(doc_id=2, simhash=-(1 << 63) | 1)]
    pairs = D.simhash_near_dup_pairs(spark.createDataFrame(rows), max_hamming=2).collect()
    assert len(pairs) == 1 and pairs[0].hamming == 1


def test_minhash_sub_n_token_docs_have_no_signature(spark):
    df = spark.createDataFrame(
        [Row(doc_id=0, text="foo bar"), Row(doc_id=1, text="zzz bar"), Row(doc_id=2, text="a b c d")]
    )
    sigs = D.minhash_signatures(df, num_hashes=4, shingle_n=3)
    ids = {r.doc_id for r in sigs.collect()}
    assert ids == {2}  # 2-token docs have zero 3-shingles → dropped


def test_ivf_sample_unbiased_under_clustered_layout(spark, tmp_path):
    # Adversarial layout: corpus written SORTED by cluster, one cluster
    # per partition-ish — a bare limit() sample would draw centroids
    # from the first cluster only and recall collapses on the rest.
    import numpy as np

    rng = np.random.RandomState(7)
    rows = []
    for cluster in range(8):
        center = rng.randn(16) * 5
        for i in range(250):
            v = center + rng.randn(16) * 0.1
            rows.append((cluster * 250 + i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    path = str(tmp_path / "clustered.parquet")
    # 8 sorted range partitions ⇒ each file holds ~one cluster
    df.repartitionByRange(8, "vec_id").sortWithinPartitions("vec_id").write.parquet(path)
    corpus = spark.read.parquet(path)

    # query from the LAST cluster — the one limit() would never sample
    q = corpus.filter(F.col("vec_id") == 1999)
    brute = [r.vec_id for r in S.cosine_topk(corpus, q, k=10).collect()]
    ivf = [r.vec_id for r in S.ivf_topk(corpus, q, k=10, n_cells=8, n_probe=2).collect()]
    overlap = len(set(brute) & set(ivf))
    assert overlap >= 8, f"IVF recall collapsed on clustered layout: {overlap}/10"


def test_ivf_empty_inputs_raise(spark):
    empty = spark.createDataFrame([], "vec_id int, embedding array<float>")
    one = spark.createDataFrame([(0, [1.0, 0.0])], "vec_id int, embedding array<float>")
    with pytest.raises(ValueError, match="empty corpus"):
        S.ivf_topk(empty, one)
    with pytest.raises(ValueError, match="empty query"):
        S.ivf_topk(one, empty)


def test_near_dup_pairs_quadratic_guard(spark):
    big = spark.range(0, 50).select(
        F.col("id").cast("int").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"),
    )
    with pytest.raises(ValueError, match="quadratic"):
        S.cosine_near_dup_pairs(big, max_rows=10)
    # explicit opt-out still works
    assert S.cosine_near_dup_pairs(big, max_rows=None).count() > 0


def test_ivf_lifecycle_persisted_index_matches_one_shot(spark, tmp_path):
    """fit -> assign -> persist (cell-partitioned) -> reload -> probe
    must equal the one-shot ivf_topk, and the reloaded probe scan must
    PRUNE partitions (the 100 TB layout claim, checked in the plan)."""
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") == 0)

    direct = S.ivf_topk(emb, q, k=10, n_cells=8, n_probe=3).collect()

    cents = S.ivf_fit(emb, n_cells=8)
    cpath, ipath = str(tmp_path / "centroids"), str(tmp_path / "index")
    cents.write.parquet(cpath)
    S.ivf_assign(emb, cents).write.partitionBy("cell").parquet(ipath)

    cents2 = spark.read.parquet(cpath)
    indexed2 = spark.read.parquet(ipath)
    via_index = S.ivf_probe(indexed2, cents2, q, k=10, n_probe=3).collect()
    assert [(r.vec_id, r.cosine_sim) for r in via_index] == [
        (r.vec_id, r.cosine_sim) for r in direct
    ]

    plan = plan_string(S.ivf_probe(indexed2, cents2, q, k=10, n_probe=3))
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell" in m.group(1), plan  # probe filter reached the scan


def test_ivf_fit_centroid_table_shape(spark):
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = S.ivf_fit(emb, n_cells=8).collect()
    assert sorted(r.cell for r in cents) == list(range(8))
    dims = {len(r.centroid) for r in cents}
    assert dims == {64}


def test_adaptive_salted_sum_exact_and_detects_hot(spark):
    """Partial salting: equals plain groupBy-sum exactly, and the
    detector actually routes a mega-hot key through the salt path."""
    from elective_waiting_times_pipeline_spark.operators.skew import adaptive_salted_sum

    rows = [("hot", float(i % 7)) for i in range(5000)] + [
        (f"cold{i}", float(i)) for i in range(200)
    ]
    df = spark.createDataFrame(rows, "k string, v double")
    got = {
        r.k: r.total
        for r in adaptive_salted_sum(
            df, ["k"], "v", salt=8, sample_fraction=0.1, hot_min_sampled=100
        ).collect()
    }
    want = {r.k: r.s for r in df.groupBy("k").agg(F.sum("v").alias("s")).collect()}
    assert got == want
    # the detector sees ~500 sampled rows for "hot" (>> floor 100) and
    # ~0-1 per cold key: exactly one key fans out over the salt
    sampled = df.filter(
        F.pmod(F.xxhash64("k", "v", F.lit("adsalt")), F.lit(1000000)) < 100000
    )
    hot = (
        sampled.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 100)
        .collect()
    )
    assert [r.k for r in hot] == ["hot"]
