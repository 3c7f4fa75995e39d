"""Round-9 invariants: the persisted cluster-store lifecycle returns
exactly what the one-shot closure returns (plus singleton semantics
for docs the store has never seen), the simhash hot-bucket guard's
truncation is observable via simhash_overcap_buckets, and
range_bucket stays total over non-finite cuts and extreme values
(the two ADVICE edge cases: inf cuts reaching the expr-string SQL
renderer, and floor/ceil long-overflow under ANSI mode).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from elective_waiting_times_pipeline_spark.operators import cluster as C
from elective_waiting_times_pipeline_spark.operators import dedup as D
from elective_waiting_times_pipeline_spark.operators import sampling as S
from elective_waiting_times_pipeline_spark.sources.readers import load_table


# ---------------------------------------------------------------------------
# Cluster store lifecycle
# ---------------------------------------------------------------------------


def test_cluster_store_roundtrip_equals_one_shot(spark, sf_dir, tmp_path):
    """write_cluster_store → read → keep_canonical/keep_longest must
    equal the one-shot (recompute-the-closure) forms on the same
    corpus — the store is a cache of the closure, never a semantic
    change."""
    docs = load_table(spark, sf_dir, "documents")
    clusters = C.near_dup_clusters(docs, shingle_n=3, min_jaccard=0.1)
    path = str(tmp_path / "clusters")
    C.write_cluster_store(clusters, path)
    store = spark.read.parquet(path)

    # keep-canonical: one-shot form is filter(id == cluster_id)
    one_shot = set(
        r.doc_id
        for r in clusters.filter(F.col("doc_id") == F.col("cluster_id"))
        .select("doc_id")
        .collect()
    )
    from_store = set(
        r.doc_id
        for r in C.keep_canonical_from_store(docs.select("doc_id"), store).collect()
    )
    assert from_store == one_shot

    # keep-longest: winner per cluster by (n_chars desc, doc_id asc)
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id").orderBy(F.col("n_chars").desc(), "doc_id")
    one_shot_l = set(
        (r.doc_id, r.cluster_id)
        for r in clusters.join(docs.select("doc_id", "n_chars"), "doc_id")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id", "cluster_id")
        .collect()
    )
    from_store_l = set(
        (r.doc_id, r.cluster_id)
        for r in C.keep_longest_from_store(docs, store)
        .select("doc_id", "cluster_id")
        .collect()
    )
    assert from_store_l == one_shot_l


def test_cluster_store_unseen_docs_are_singletons(spark):
    """Docs absent from the store (arrived after the store was built)
    are KEPT by keep-canonical and win their own singleton cluster in
    keep-longest — the same new-data semantics as incremental LSH."""
    store = spark.createDataFrame(
        [(1, 1), (2, 1), (10, 10)], "doc_id long, cluster_id long"
    )
    docs = spark.createDataFrame(
        [(1, 100), (2, 999), (10, 5), (42, 7)], "doc_id long, n_chars long"
    )
    kept = sorted(
        r.doc_id for r in C.keep_canonical_from_store(docs.select("doc_id"), store).collect()
    )
    assert kept == [1, 10, 42]  # 2 loses to 1; 42 unseen → kept

    longest = {
        r.doc_id: r.cluster_id for r in C.keep_longest_from_store(docs, store).collect()
    }
    # cluster 1: doc 2 is longer; 10 singleton; 42 unseen → own cluster
    assert longest == {2: 1, 10: 10, 42: 42}


def test_incremental_store_update_equals_full_rebuild(spark, sf_dir):
    """Splitting the corpus old/new, clustering old, and merging the
    delta via update_cluster_store must reproduce the full one-shot
    clustering label-for-label — jaccard is pairwise, so old↔old
    edges cannot change and the old components' star edges stand in
    for them exactly. Two different split fractions exercise both a
    small and a large delta."""
    docs = load_table(spark, sf_dir, "documents")
    full = {
        (r.doc_id, r.cluster_id)
        for r in C.near_dup_clusters(docs, shingle_n=3, min_jaccard=0.1).collect()
    }
    for mod in (5, 2):
        is_new = F.col("doc_id") % mod == 0
        old_store = C.near_dup_clusters(
            docs.filter(~is_new), shingle_n=3, min_jaccard=0.1
        )
        delta = D.ngram_jaccard_pairs_delta(
            docs, docs.filter(is_new).select("doc_id"), shingle_n=3, min_jaccard=0.1
        )
        merged = {
            (r.doc_id, r.cluster_id)
            for r in C.update_cluster_store(
                old_store, delta, docs.filter(is_new).select("doc_id")
            ).collect()
        }
        assert merged == full, f"mod={mod}"


def test_ngram_jaccard_pairs_delta_equals_filtered_full(spark, sf_dir):
    """The delta generator must emit EXACTLY the full generator's
    pairs that touch a new id — same jaccard values, same 6-dp
    rounding, same orientation."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    new_ids = docs.filter(F.col("doc_id") % 3 == 0).select("doc_id")
    new_set = {r.doc_id for r in new_ids.collect()}
    full = {
        (r.id_a, r.id_b, r.jaccard)
        for r in D.ngram_jaccard_pairs(docs, shingle_n=2).collect()
        if r.id_a in new_set or r.id_b in new_set
    }
    delta = {
        (r.id_a, r.id_b, r.jaccard)
        for r in D.ngram_jaccard_pairs_delta(docs, new_ids, shingle_n=2).collect()
    }
    assert delta == full


def _window_nodes(df) -> int:
    plan = df._jdf.queryExecution().optimizedPlan()
    stack, n_windows = [plan], 0
    while stack:
        n = stack.pop()
        for i in range(n.children().size()):
            stack.append(n.children().apply(i))
        if n.nodeName() == "Window":
            n_windows += 1
    return n_windows


@pytest.mark.parametrize(
    "name",
    [
        "curation_pipeline",
        "leakage_safe_split",
        "dedup_exact_groups",
        "dedup_keep_canonical",
        "dedup_keep_longest",
        "chunk_dedup_exact",
    ],
)
def test_dedup_surfaces_have_no_window_nodes(spark, sf_dir, name):
    """The dedup/keep-min surfaces must stay window-free: their
    natural partition axes (fingerprint, cluster_id) are exactly the
    keys a duplicate-heavy corpus makes degenerate, and a hot window
    partition sorts+buffers every copy in one task AQE cannot split.
    All were rewritten round 9 to map-side-combinable agg + narrow
    rejoin; this guards the reverts."""
    from elective_waiting_times_pipeline_spark.plans import catalog

    assert _window_nodes(catalog.SPARK_QUERIES[name](spark, sf_dir)) == 0


def test_dedup_exact_operator_is_window_free(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    assert _window_nodes(D.dedup_exact(docs)) == 0


# ---------------------------------------------------------------------------
# SimHash truncation observability
# ---------------------------------------------------------------------------


def test_simhash_overcap_buckets_accounts_for_dropped_pairs(spark):
    """For every pair present WITHOUT the cap but absent WITH it, the
    report must name at least one over-cap bucket; with no cap binding,
    the report is empty. Uses a synthetic signature set with one hot
    chunk value shared by many ids."""
    # 8 ids sharing low-16 chunk (bucket collision) + 2 unrelated
    rows = [(i, (i << 16) | 0xBEEF) for i in range(8)]
    rows += [(100, 0x7FFF_0000_0000_0001), (101, 0x7FFF_0000_0000_0001)]
    sims = spark.createDataFrame(rows, "doc_id long, simhash long")

    uncapped = D.simhash_near_dup_pairs(sims, max_hamming=3, max_bucket_size=None)
    capped = D.simhash_near_dup_pairs(sims, max_hamming=3, max_bucket_size=4)
    report = D.simhash_overcap_buckets(sims, max_hamming=3, max_bucket_size=4).collect()

    n_un, n_cap = uncapped.count(), capped.count()
    assert n_un >= n_cap
    assert report, "cap binds (8-id bucket > 4) so the report must be non-empty"
    assert all(r.bucket_size > 4 for r in report)
    assert all(r.dropped_candidates == r.bucket_size * (r.bucket_size - 1) // 2 for r in report)

    # no-op cap → empty report and identical pairs
    report_loose = D.simhash_overcap_buckets(
        sims, max_hamming=3, max_bucket_size=1000
    ).count()
    assert report_loose == 0
    loose = D.simhash_near_dup_pairs(sims, max_hamming=3, max_bucket_size=1000)
    assert loose.count() == n_un


# ---------------------------------------------------------------------------
# range_bucket totality over non-finite cuts / extreme values
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("descending", [False, True])
def test_range_bucket_nonfinite_cuts_are_total(spark, descending):
    """A cut list containing inf (possible from footer stats on a
    double column containing inf) must neither render invalid SQL in
    the CASE-chain string (`inf` is not a SQL literal, so it renders as
    a string cast) nor misdetect as uniform (closed form). Each value
    lands in the bucket its sort position asks for: the count of cuts
    strictly before it in sort direction, NULL first asc / last desc,
    NaN (Spark's largest double) last asc / first desc."""
    cuts = [0.0, float("inf")]
    assert S._uniform_step(cuts) is None
    df = spark.createDataFrame(
        [(0, -1.0), (1, 0.5), (2, float("inf")), (3, None), (4, float("nan"))],
        "i long, v double",
    )
    out = df.select("i", S.range_bucket("v", cuts, descending=descending).alias("b"))
    got = {r.i: r.b for r in out.collect()}
    if descending:
        assert got == {0: 2, 1: 1, 2: 0, 3: 2, 4: 0}
    else:
        assert got == {0: 0, 1: 1, 2: 1, 3: 0, 4: 2}


@pytest.mark.parametrize("descending", [False, True])
def test_range_bucket_uniform_extreme_values_no_overflow(spark, descending):
    """Values astronomically far from the cut span must land in the
    end buckets, not overflow the double→long floor/ceil conversion
    (an error under ANSI mode)."""
    cuts = [0.0, 1.0, 2.0]  # uniform → closed-form path
    df = spark.createDataFrame(
        [(0, -1.0e300), (1, 1.0e300), (2, 0.5), (3, None), (4, float("nan"))],
        "i long, v double",
    )
    out = df.select("i", S.range_bucket("v", cuts, descending=descending).alias("b"))
    got = {r.i: r.b for r in out.collect()}
    n = len(cuts)
    if descending:
        assert got[0] == n and got[1] == 0  # -1e300 sorts last desc
        assert got[3] == n and got[4] == 0  # NULL last, NaN first desc
    else:
        assert got[0] == 0 and got[1] == n
        assert got[3] == 0 and got[4] == n  # NULL first, NaN last asc
    assert 0 <= got[2] <= n
