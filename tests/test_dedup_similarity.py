"""Validation for the non-SQL-expressible operators (rows-only in the
driver's check): MinHash-LSH candidate recall vs exact Jaccard, SimHash
properties, hyperplane-LSH recall vs brute-force cosine, and every
exact-Jaccard generator against one pure-Python reference."""

from __future__ import annotations

import itertools
import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from elective_waiting_times_pipeline_spark.harness import plan_string
from elective_waiting_times_pipeline_spark.operators import dedup as D
from elective_waiting_times_pipeline_spark.operators import similarity as S
from elective_waiting_times_pipeline_spark.sources.readers import load_table

SF = "/root/testdata/sf0.001"


def _doc_df(spark, texts):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )


def test_dedup_exact_keeps_min_id(spark):
    df = _doc_df(spark, ["a b c", "a  B c", "x y z", "a b c "])
    out = D.dedup_exact(df)
    ids = sorted(r.doc_id for r in out.collect())
    # 0,1,3 normalize to 'a b c' → keep 0; 2 unique
    assert ids == [0, 2]


def test_minhash_lsh_finds_near_duplicates(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely different words entirely unrelated content here now forever"
    df = _doc_df(spark, [base, near, far])
    sigs = D.minhash_signatures(df, num_hashes=16, shingle_n=2)
    # 8 bands × 2 rows: detection prob ≈ 1-(1-j²)⁸ ≈ 0.999 at j≈0.77
    cands = {(r.id_a, r.id_b) for r in D.minhash_lsh_candidates(sigs, bands=8, rows_per_band=2).collect()}
    assert (0, 1) in cands
    assert (0, 2) not in cands and (1, 2) not in cands


def test_minhash_lsh_recall_against_exact_jaccard(spark):
    """Every pair with high exact Jaccard should be an LSH candidate
    (banding theory: 4 bands × 4 rows → ~s^4 per band; j≥0.9 pairs are
    caught with prob ≈ 1-(1-0.9^4)^4 ≈ 0.97; our fixture pairs are >0.9)."""
    texts = []
    for i in range(20):
        texts.append(f"unique document number {i} with distinct vocabulary token{i} extra words")
    # two true near-dup clusters
    texts.append("shared long document body with many common tokens one two three four five six")
    texts.append("shared long document body with many common tokens one two three four five seven")
    df = _doc_df(spark, texts)
    exact = {
        (r.id_a, r.id_b)
        for r in D.ngram_jaccard_pairs(df, shingle_n=2, min_jaccard=0.8).collect()
    }
    sigs = D.minhash_signatures(df, num_hashes=16, shingle_n=2)
    cands = {(r.id_a, r.id_b) for r in D.minhash_lsh_candidates(sigs).collect()}
    assert exact, "fixture should contain at least one true near-dup pair"
    assert exact <= cands, f"missed: {exact - cands}"


def test_simhash_near_texts_have_small_hamming(spark):
    df = _doc_df(
        spark,
        [
            "alpha beta gamma delta epsilon zeta eta theta iota kappa",
            "alpha beta gamma delta epsilon zeta eta theta iota lambda",
            "totally other content words nothing shared at all whatsoever",
        ],
    )
    sims = {r.doc_id: r.simhash for r in D.simhash(df).collect()}
    joined = spark.createDataFrame(
        [Row(a=sims[0], b=sims[1]), Row(a=sims[0], b=sims[2])]
    ).select(F.bit_count(F.col("a").bitwiseXOR(F.col("b"))).alias("d")).collect()
    d_near, d_far = joined[0].d, joined[1].d
    assert d_near < d_far
    assert d_near <= 16


def test_simhash_deterministic(spark):
    df = _doc_df(spark, ["one two three four five"])
    a = D.simhash(df).collect()[0].simhash
    b = D.simhash(df).collect()[0].simhash
    assert a == b


def test_lsh_cosine_recall_vs_bruteforce(spark):
    emb = load_table(spark, SF, "embeddings").filter(F.col("vec_id") < 200)
    brute = {
        (r.id_a, r.id_b)
        for r in S.cosine_near_dup_pairs(emb, threshold=0.9).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in S.lsh_bucketed_pairs(emb, dim=64, n_planes=8, threshold=0.9).collect()
    }
    assert lsh <= brute or not brute  # no false positives (verified pairs)
    if brute:
        recall = len(lsh & brute) / len(brute)
        assert recall >= 0.5, f"recall {recall} too low: {brute - lsh}"


def test_approx_count_distinct_within_bound(spark):
    from elective_waiting_times_pipeline_spark.plans import catalog

    rows = catalog.SPARK_QUERIES["count_distinct_approx"](spark, SF).collect()
    for r in rows:
        assert abs(r.approx_parts - r.exact_parts) <= max(3, 0.1 * r.exact_parts)


def test_rolling_fingerprint_order_sensitive(spark):
    df = _doc_df(spark, ["a b c", "c b a"])
    from elective_waiting_times_pipeline_spark.operators.text import fingerprint_rolling

    out = df.select(fingerprint_rolling("text").alias("fp")).collect()
    assert out[0].fp != out[1].fp


def test_ngram_jaccard_max_doc_freq_drops_hot_shingles(spark):
    from pyspark.sql import Row

    # 'common words here' appears in EVERY doc (hot); only docs 0/1
    # share a rare tail
    rows = [
        Row(doc_id=0, text="common words here alpha beta"),
        Row(doc_id=1, text="common words here alpha beta"),
        Row(doc_id=2, text="common words here gamma delta"),
        Row(doc_id=3, text="common words here epsilon zeta"),
    ]
    df = spark.createDataFrame(rows)
    exact = {(r.id_a, r.id_b): r.jaccard for r in D.ngram_jaccard_pairs(df, shingle_n=2).collect()}
    capped = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.ngram_jaccard_pairs(df, shingle_n=2, max_doc_freq=2).collect()
    }
    # hot shingles gone: only the rare-tail pair survives, and its
    # jaccard is a lower bound of (here <=) the exact value
    assert set(capped) == {(0, 1)}
    assert capped[(0, 1)] <= exact[(0, 1)]
    assert exact[(0, 1)] == 1.0


def test_minhash_lsh_hot_bucket_cap(spark):
    """max_bucket_size drops degenerate buckets (exact-copy groups
    whose C(n,2) expansion is the per-row memory bomb at scale) while
    small near-dup buckets keep emitting candidates."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    texts = ["boiler plate text repeated verbatim many times over here"] * 10 + [base, near]
    df = _doc_df(spark, texts)
    sigs = D.minhash_signatures(df, num_hashes=16, shingle_n=2)
    capped = {
        (r.id_a, r.id_b)
        for r in D.minhash_lsh_candidates(sigs, bands=8, rows_per_band=2, max_bucket_size=5).collect()
    }
    assert (10, 11) in capped  # small bucket survives
    assert not any(a < 10 and b < 10 for a, b in capped)  # copy-group dropped
    uncapped = {
        (r.id_a, r.id_b)
        for r in D.minhash_lsh_candidates(sigs, bands=8, rows_per_band=2).collect()
    }
    assert (0, 9) in uncapped and (10, 11) in uncapped  # default emits all


# ---------------------------------------------------------------------------
# PII redaction (operators/text.py::redact_pii / pii_counts) — the
# synthetic corpus has no PII, so pin behavior on a PII-laden fixture.
# ---------------------------------------------------------------------------
def test_pii_redaction_fixture(spark):
    from pyspark.sql import Row

    from elective_waiting_times_pipeline_spark.operators.text import pii_counts, redact_pii

    rows = [
        Row(i=0, t="mail me at jane.doe+spam@sub.example.co.uk today"),
        Row(i=1, t="server 192.168.0.1 and 10.0.255.7 are up"),
        Row(i=2, t="call +44 (0)20 7946-0958 now"),
        Row(i=3, t="no pii here, just words and 42"),
        Row(i=4, t="a@b.io or 1.2.3.4 tel 0123456789"),
    ]
    df = spark.createDataFrame(rows)
    out = {
        r["i"]: r
        for r in df.select("i", *pii_counts("t"), redact_pii("t").alias("red")).collect()
    }
    assert out[0]["n_email"] == 1 and out[0]["red"] == "mail me at [EMAIL] today"
    assert out[1]["n_ip"] == 2 and out[1]["red"] == "server [IP] and [IP] are up"
    assert out[2]["n_phone"] == 1 and out[2]["red"] == "call [PHONE] now"
    assert out[3]["n_email"] == out[3]["n_ip"] == out[3]["n_phone"] == 0
    assert out[3]["red"] == "no pii here, just words and 42"
    assert out[4]["n_email"] == 1 and out[4]["n_ip"] == 1 and out[4]["n_phone"] == 1
    assert out[4]["red"] == "[EMAIL] or [IP] tel [PHONE]"


def test_repetition_features_edges(spark):
    from pyspark.sql import Row

    from elective_waiting_times_pipeline_spark.operators.text import repetition_features

    rows = [
        Row(doc_id=0, text=""),                       # no tokens
        Row(doc_id=1, text="one"),                    # 1 token, no bigrams
        Row(doc_id=2, text="a a a a"),                # maximal repetition
        Row(doc_id=3, text="w x y z"),                # all distinct
    ]
    out = {r["doc_id"]: r for r in repetition_features(spark.createDataFrame(rows)).collect()}
    assert out[0]["n_tokens"] == 0 and out[0]["dup_unigram_frac"] == 0.0
    assert out[1]["n_bigrams"] == 0 and out[1]["top_bigram_frac"] == 0.0
    assert out[2]["n_tokens"] == 4 and out[2]["n_distinct_tokens"] == 1
    assert out[2]["dup_unigram_frac"] == 0.75 and out[2]["top_bigram_frac"] == 1.0
    assert out[3]["dup_unigram_frac"] == 0.0 and abs(out[3]["top_bigram_frac"] - 1 / 3) < 1e-6


def test_ngram_builders_clamp_short_arrays(spark):
    """n-grams must yield [] (not a runtime abort from a negative
    slice length) on empty and sub-n token arrays — these are public
    operators and not every caller pre-filters on token_count."""
    from elective_waiting_times_pipeline_spark.operators.text import ngrams

    df = spark.createDataFrame(
        [([],), (["a"],), (["a", "b"],), (["a", "b", "c"],)], "toks: array<string>"
    )
    got = df.select(
        ngrams(F.col("toks"), 2).alias("bi"), ngrams(F.col("toks"), 3).alias("tri")
    ).collect()
    assert [r.bi for r in got] == [[], [], ["a b"], ["a b", "b c"]]
    assert [r.tri for r in got] == [[], [], [], ["a b c"]]


def test_ngrams_general_n_matches_fixed_n(spark):
    """ngrams(n) must agree with the fixed-n windows, clamp short
    arrays to [], and produce len-(n-1) windows for longer arrays;
    n = 1 returns the tokens and n = 0 raises."""
    import pytest

    from elective_waiting_times_pipeline_spark.operators.text import bigram_pairs, ngrams

    df = spark.createDataFrame(
        [([],), (["a"],), (["a", "b", "c", "d"],), (["a", "b", "c", "d", "e", "f"],)],
        "toks: array<string>",
    )
    got = df.select(
        F.col("toks"),
        F.transform(bigram_pairs(F.col("toks")), lambda p: F.concat_ws(" ", p.x, p.y)).alias("bi"),
        ngrams(F.col("toks"), 1).alias("g1"),
        ngrams(F.col("toks"), 2).alias("g2"),
        ngrams(F.col("toks"), 3).alias("g3"),
        ngrams(F.col("toks"), 5).alias("g5"),
    ).collect()
    for r in got:
        assert r.g1 == r.toks and r.g2 == r.bi
        assert r.g3 == [" ".join(r.toks[i : i + 3]) for i in range(len(r.toks) - 2)]
    assert [r.g5 for r in got] == [[], [], [], ["a b c d e", "b c d e f"]]
    with pytest.raises(ValueError):
        ngrams(F.col("toks"), 0)


def test_minhash_estimate_jaccard_tracks_exact(spark):
    """The signature-agreement estimator should (a) be exactly 1.0 for
    identical docs, (b) correlate with exact Jaccard on near-dups —
    with only 32 hashes the per-pair tolerance is loose (stderr
    ~ sqrt(J(1-J)/32) ≈ 0.09), so assert a band, not equality."""
    docs = load_table(spark, SF, "documents").filter(F.col("doc_id") < 60)
    sigs = D.minhash_signatures(docs, num_hashes=32, shingle_n=2)
    cand = D.minhash_lsh_candidates(sigs, bands=8, rows_per_band=4)
    est = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in D.minhash_estimate_jaccard(cand, sigs).collect()
    }
    assert est, "no candidate pairs at this slice"
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs, shingle_n=2, min_jaccard=0.0).collect()
    }
    # identical-text pairs estimate exactly 1.0
    fp = docs.select("doc_id", F.md5(F.col("text")).alias("h"))
    same = {
        tuple(sorted((r["a"], r["b"])))
        for r in fp.alias("x")
        .join(fp.alias("y"), (F.col("x.h") == F.col("y.h")) & (F.col("x.doc_id") < F.col("y.doc_id")))
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .collect()
    }
    for p in same & set(est):
        assert est[p] == 1.0
    errs = [abs(est[p] - exact.get(p, 0.0)) for p in est]
    assert sum(errs) / len(errs) < 0.15, max(errs)


# ---------------------------------------------------------------------------
# Incremental LSH: new batch vs persisted signature store.
# ---------------------------------------------------------------------------
def test_incremental_lsh_equals_full_run_restricted_to_new(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents")
    sigs = D.minhash_signatures(docs)
    # persist the "store" signatures (the narrow table an ingest
    # pipeline keeps), split new/store by doc_id
    store_sigs = sigs.filter(F.col("doc_id") % 5 != 0)
    new_sigs = sigs.filter(F.col("doc_id") % 5 == 0)
    spath = str(tmp_path / "sig_store")
    store_sigs.write.parquet(spath)

    inc = D.incremental_lsh_candidates(new_sigs, spark.read.parquet(spath))
    got = {(r.id_a, r.id_b) for r in inc.collect()}

    full = D.minhash_lsh_candidates(sigs)
    new_ids = {r.doc_id for r in new_sigs.select("doc_id").collect()}
    want = {
        (r.id_a, r.id_b)
        for r in full.collect()
        if r.id_a in new_ids or r.id_b in new_ids
    }
    assert got == want and len(want) > 0


def test_incremental_lsh_bucket_guard_matches_batch(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    sigs = D.minhash_signatures(docs)
    store_sigs = sigs.filter(F.col("doc_id") % 5 != 0)
    new_sigs = sigs.filter(F.col("doc_id") % 5 == 0)
    cap = 3
    inc = D.incremental_lsh_candidates(new_sigs, store_sigs, max_bucket_size=cap)
    got = {(r.id_a, r.id_b) for r in inc.collect()}
    full = D.minhash_lsh_candidates(sigs, max_bucket_size=cap)
    new_ids = {r.doc_id for r in new_sigs.select("doc_id").collect()}
    want = {
        (r.id_a, r.id_b)
        for r in full.collect()
        if r.id_a in new_ids or r.id_b in new_ids
    }
    assert got == want


def test_quantized_ip_topk_recall_and_bounds(spark):
    from elective_waiting_times_pipeline_spark.operators import similarity as S
    from elective_waiting_times_pipeline_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    qdf = emb.filter(F.col("vec_id") == 0)

    # exact float-dot top-10 (ground truth for MIPS)
    q = F.broadcast(qdf.select(F.col("embedding").alias("_qv")))
    exact = (
        emb.crossJoin(q)
        .select("vec_id", F.round(S.dot(F.col("embedding"), F.col("_qv")), 6).alias("ip"))
        .orderBy(F.col("ip").desc(), F.col("vec_id").asc())
        .limit(10)
        .collect()
    )
    quant = S.quantized_ip_topk(emb, qdf, k=10).collect()
    recall = len({r.vec_id for r in quant} & {r.vec_id for r in exact}) / 10
    assert recall >= 0.8  # int8 quantization loses <1% of the dot's mass

    # quantized values stay inside int8 and the scale reconstructs magnitude
    s, qv = S.quantize_int8(F.col("embedding"))
    row = emb.select(s.alias("s"), qv.alias("q")).first()
    assert all(-127 <= v <= 127 for v in row.q)
    assert max(abs(v) for v in row.q) == 127  # max-abs element maps to +/-127


def test_source_overlap_jaccard_math(spark):
    from elective_waiting_times_pipeline_spark.plans.catalog_text import source_overlap
    import elective_waiting_times_pipeline_spark.sources.readers as R

    docs = spark.createDataFrame(
        [
            # srcA: x, y, z (y duplicated inside srcA — must count once)
            (0, "x", "en", "srcA", 1), (1, "y", "en", "srcA", 1),
            (2, "y", "en", "srcA", 1), (3, "z", "en", "srcA", 1),
            # srcB: x, y, w  -> shared {x, y}, union {x, y, z, w}
            (4, "x", "en", "srcB", 1), (5, "y", "en", "srcB", 1),
            (6, "w", "en", "srcB", 1),
            # srcC: nothing shared
            (7, "q", "en", "srcC", 1),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    orig = R.load_table
    try:
        R.__dict__["load_table"]  # sanity: monkeypatch target exists
        import elective_waiting_times_pipeline_spark.plans.catalog_text as CT

        CT.load_table = lambda spark, sf_dir, name: docs
        out = {(r.src_a, r.src_b): r for r in source_overlap(spark, "ignored").collect()}
    finally:
        import elective_waiting_times_pipeline_spark.plans.catalog_text as CT

        CT.load_table = orig
    assert set(out) == {("srcA", "srcB")}
    r = out[("srcA", "srcB")]
    assert r.shared == 2 and abs(r.jaccard - 2 / 4) < 1e-9


def test_quantized_store_roundtrip_and_compression(spark, tmp_path):
    import os

    from elective_waiting_times_pipeline_spark.operators import similarity as S
    from elective_waiting_times_pipeline_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    path = str(tmp_path / "int8_store")
    S.write_quantized_store(emb, path)
    store = spark.read.parquet(path)
    # the persisted-store search ranks identically to the on-the-fly form
    got = S.quantized_store_topk(store, store.filter(F.col("vec_id") == 0), k=10).collect()
    want = S.quantized_ip_topk(emb, emb.filter(F.col("vec_id") == 0), k=10).collect()
    assert [(r.vec_id, r.ip_score) for r in got] == [(r.vec_id, r.ip_score) for r in want]
    # and the store is materially smaller than the float32 source
    store_bytes = sum(
        os.path.getsize(os.path.join(path, f)) for f in os.listdir(path) if f.endswith(".parquet")
    )
    src_bytes = os.path.getsize("/root/testdata/sf0.001/embeddings.parquet")
    assert store_bytes < 0.6 * src_bytes, (store_bytes, src_bytes)


def test_ivf_quantized_store_probe_recall_and_pruning(spark, tmp_path):
    from elective_waiting_times_pipeline_spark.operators import similarity as S
    from elective_waiting_times_pipeline_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = S.ivf_fit(emb, n_cells=8)
    path = str(tmp_path / "ivf_int8")
    S.write_ivf_quantized_store(emb, path, cents)
    store = spark.read.parquet(path)
    qdf = emb.filter(F.col("vec_id") == 0)

    got = S.ivf_quantized_topk(store, cents, qdf, k=10, n_probe=4)
    # partition pruning reaches the scan
    plan = plan_string(got)
    assert "cell" in plan
    got_ids = {r.vec_id for r in got.collect()}
    # recall vs the full quantized MIPS ranking (probing 4/8 cells)
    full_ids = {r.vec_id for r in S.quantized_ip_topk(emb, qdf, k=10).collect()}
    assert len(got_ids & full_ids) / 10 >= 0.6
    assert 0 in got_ids  # the query vector itself lives in a probed cell


def test_streaming_vector_store_ingest_matches_batch(spark, tmp_path):
    """Multi-batch streaming ingest into the IVF+int8 store must rank
    identically to the batch-built store, and a full checkpoint replay
    must be a no-op (exactly-once via (cell, batch) partition swaps)."""
    from elective_waiting_times_pipeline_spark.operators import similarity as S
    from elective_waiting_times_pipeline_spark.sources.readers import load_table
    from elective_waiting_times_pipeline_spark.streaming.sinks import (
        stream_append_quantized_store,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = S.ivf_fit(emb, n_cells=8)
    src = str(tmp_path / "src")
    emb.repartition(3).write.mode("overwrite").parquet(src)  # 3 files -> 3 batches
    store_path = str(tmp_path / "vstore")

    def run(ckpt):
        stream = (
            spark.readStream.schema("vec_id long, embedding array<float>, label int")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = stream_append_quantized_store(
            stream, cents, store_path, str(tmp_path / ckpt)
        )
        q.awaitTermination(120)

    run("ck1")
    store = spark.read.parquet(store_path)
    assert store.count() == emb.count()
    qdf = emb.filter(F.col("vec_id") == 0)
    got = S.ivf_quantized_topk(store, cents, qdf, k=10).collect()

    batch_path = str(tmp_path / "batch_store")
    S.write_ivf_quantized_store(emb, batch_path, cents)
    want = S.ivf_quantized_topk(spark.read.parquet(batch_path), cents, qdf, k=10).collect()
    assert [(r.vec_id, r.ip_score) for r in got] == [(r.vec_id, r.ip_score) for r in want]

    run("ck2")  # full replay: rewrites its own (cell, batch) leaves only
    store2 = spark.read.parquet(store_path)
    assert store2.count() == emb.count()


def test_leakage_safe_split_never_straddles_groups(spark, tmp_path):
    # On a corpus WITH real duplicate groups (the sf tables have none
    # exact): the group-aware split must keep every copy on one side,
    # and the naive-split audit must detect the straddling groups.
    from pyspark.sql import functions as F

    from elective_waiting_times_pipeline_spark.plans import catalog
    from tests.conftest import make_lake
    from tests.oracle import assert_matches_oracle

    base = ["quick brown fox", "lorem ipsum dolor", "pack my box", "sphinx of quartz"]
    rows = []
    for i in range(400):
        rows.append((i, base[i % 4] + f" variant {i % 40}", "en", "web", 20))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    )  # 40 distinct texts x 10 copies each
    sf = make_lake(spark, tmp_path, documents=docs)
    out = catalog.SPARK_QUERIES["leakage_safe_split"](spark, sf)
    assert_matches_oracle(out, catalog.ORACLE_SQL["leakage_safe_split"], sf)
    per_group = out.groupBy("canonical_id").agg(F.count_distinct("split").alias("n_splits"))
    assert per_group.filter(F.col("n_splits") > 1).count() == 0
    assert out.groupBy("canonical_id").count().filter(F.col("count") > 1).count() == 40
    # naive per-row split on 10-copy groups straddles with overwhelming
    # probability (P[all 10 same side] is tiny per group)
    audit = catalog.SPARK_QUERIES["split_leakage_audit"](spark, sf).collect()[0]
    assert_matches_oracle(
        catalog.SPARK_QUERIES["split_leakage_audit"](spark, sf),
        catalog.ORACLE_SQL["split_leakage_audit"],
        sf,
    )
    assert audit.n_groups == 40 and audit.leaking_groups > 0


def test_banded_raises_on_short_signatures(spark):
    # bands*rows_per_band beyond the signature length must fail LOUDLY
    # — slicing past the end would hash every doc into one bucket and
    # silently expand C(n,2) pairs
    import pytest as _pytest

    from elective_waiting_times_pipeline_spark.operators import dedup as D

    sigs = spark.createDataFrame(
        [(1, [11, 22, 33, 44, 55, 66, 77, 88])], "doc_id long, signature array<bigint>"
    )
    ok = D.minhash_lsh_candidates(sigs, bands=2, rows_per_band=4)
    assert ok.count() == 0  # single doc, no pairs — but plan executes
    with _pytest.raises(Exception, match="signature"):
        D.minhash_lsh_candidates(sigs, bands=4, rows_per_band=4).count()


def test_cosine_zero_vector_is_null_not_abort(spark):
    from elective_waiting_times_pipeline_spark.operators import similarity as S

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 0.0]), (2, [0.5, 0.5])],
        "vec_id long, embedding array<double>",
    )
    out = S.cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=3).collect()
    got = {r.vec_id: r.cosine_sim for r in out}
    assert got[1] is None  # zero vector: NULL similarity, job survives
    assert got[0] == 1.0


def test_cosine_topk_multi_row_query_uses_one_vector(spark):
    from elective_waiting_times_pipeline_spark.operators import similarity as S

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(5)], "vec_id long, embedding array<double>"
    )
    out = S.cosine_topk(emb, emb, k=5).collect()  # whole table as "query"
    assert len(out) == 5  # one score per corpus row, not 25 interleaved


def test_assign_clusters_tolerates_docs_label_column(spark):
    from elective_waiting_times_pipeline_spark.operators import cluster as C

    docs = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "z")], "doc_id long, label string"
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    out = {r.doc_id: (r.cluster_id, r.label) for r in C.assign_clusters(docs, pairs).collect()}
    assert out == {1: (1, "x"), 2: (1, "y"), 3: (3, "z")}  # user 'label' intact


def test_banded_null_signature_raises(spark):
    from elective_waiting_times_pipeline_spark.operators.dedup import (
        minhash_lsh_candidates,
    )

    sigs = spark.createDataFrame(
        [(1, [1, 2, 3, 4]), (2, None)], "doc_id long, signature array<bigint>"
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="LSH banding"):
        minhash_lsh_candidates(sigs, bands=2, rows_per_band=2).collect()


def test_simhash_pairs_full_width_band_and_bits_guard(spark):
    from elective_waiting_times_pipeline_spark.operators.dedup import (
        simhash_near_dup_pairs,
    )

    sims = spark.createDataFrame(
        [(1, 7), (2, 7), (3, 1 << 40)], "doc_id long, simhash long"
    )
    # max_hamming=0 -> one 64-bit chunk: the (1<<64)-1 mask literal
    # used to crash; exact matches must pair, the distinct value not
    out = simhash_near_dup_pairs(sims, max_hamming=0)
    assert {(r.id_a, r.id_b) for r in out.collect()} == {(1, 2)}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="bands <= bits"):
        simhash_near_dup_pairs(sims, max_hamming=40, bits=32)


def test_incremental_cap_counts_distinct_ids(spark):
    """An id present in BOTH the store and the new batch must count
    once toward max_bucket_size (rows would double-count and drop the
    bucket the batch guard keeps)."""
    from elective_waiting_times_pipeline_spark.operators.dedup import (
        incremental_lsh_candidates,
    )

    sig = [1, 2, 3, 4]
    store = spark.createDataFrame(
        [(1, sig), (2, sig)], "doc_id long, signature array<bigint>"
    )
    new = spark.createDataFrame(
        [(2, sig), (3, sig)], "doc_id long, signature array<bigint>"
    )
    # 3 distinct ids share every bucket; cap=3 keeps them (5 rows would not)
    out = incremental_lsh_candidates(
        new, store, bands=2, rows_per_band=2, max_bucket_size=3
    )
    got = {(r.id_a, r.id_b) for r in out.collect()}
    assert (1, 3) in got and (2, 3) in got and (1, 2) in got


# ---------------------------------------------------------------------------
# Exact Jaccard: every generator against one pure-Python reference.
# ---------------------------------------------------------------------------
_WORDS = [f"w{i}" for i in range(14)]  # tiny vocabulary → real overlap

# NULL, "", space-only, tab/newline-only (Spark's trim strips spaces
# only, so these split into empty tokens), shorter-than-n and word texts
_TEXTS = st.one_of(
    st.just(None),
    st.sampled_from(["", "  ", "\t", " \n ", "\tw1 w2", "w3\n"]),
    st.lists(st.sampled_from(_WORDS), min_size=0, max_size=10).map(" ".join),
)


def _py_shingle_sets(texts: dict[int, str | None], n: int) -> dict[int, set[str]]:
    """`text.tokens` (lower, trim spaces, split on whitespace runs) and
    distinct word n-grams, in Python."""
    sets = {}
    for i, txt in texts.items():
        t = (txt or "").lower().strip(" ")
        toks = re.split(r"\s+", t) if t else []
        sets[i] = {" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)}
    return sets


def _py_jaccard_pairs(texts: dict[int, str | None], n: int, t: float):
    """Reference: exact word-n-gram Jaccard over all co-shingled pairs."""
    sets = _py_shingle_sets(texts, n)
    out = set()
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        if inter and (jac := round(inter / len(sets[a] | sets[b]), 6)) >= t:
            out.add((a, b, jac))
    return out


def _triples(df) -> set[tuple]:
    return {(r.id_a, r.id_b, r.jaccard) for r in df.collect()}


@given(
    st.lists(_TEXTS, min_size=2, max_size=12),
    st.sampled_from([1, 2, 3]),
    st.sampled_from([0.1, 0.3, 0.4, 0.5, 0.7, 0.9]),
    st.lists(st.booleans(), min_size=12, max_size=12),
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_jaccard_generators_match_python_reference(spark, docs, n, t, is_new):
    """On random small-vocabulary corpora, each exact-Jaccard generator
    equals a brute-force Python Jaccard: the full generator; its delta
    (the reference restricted to pairs touching the drawn new ids);
    verification of the reference pairs plus a zero-overlap pair; the
    prefix filter (complete on arbitrary tie/df structure)."""
    texts = dict(enumerate(docs))
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    want = _py_jaccard_pairs(texts, n, t)

    assert _triples(D.ngram_jaccard_pairs(df, shingle_n=n, min_jaccard=t)) == want

    new = {i for i in texts if is_new[i]}
    new_ids = spark.createDataFrame([(i,) for i in sorted(new)], "doc_id long")
    delta = D.ngram_jaccard_pairs_delta(df, new_ids, shingle_n=n, min_jaccard=t)
    assert _triples(delta) == {p for p in want if p[0] in new or p[1] in new}

    sets = _py_shingle_sets(texts, n)
    disjoint = [(a, b) for a, b in itertools.combinations(texts, 2) if not sets[a] & sets[b]]
    cands = spark.createDataFrame(
        sorted({(a, b) for a, b, _ in want} | set(disjoint[:1])), "id_a long, id_b long"
    )
    verified = D.verify_candidate_pairs(cands, df, shingle_n=n, min_jaccard=t)
    assert _triples(verified) == want

    assert _triples(D.prefix_filter_jaccard_pairs(df, threshold=t, shingle_n=n)) == want


def test_prefix_jaccard_tie_at_threshold_included(spark):
    """A pair whose exact Jaccard EQUALS the threshold must be emitted:
    the prefix length n − ceil(t·n) + 1 and the final >= filter both
    sit on closed boundaries. Doc 0 has bigrams {a b, b c, c d, d e}
    (4), doc 1 {a b, b c, c q} (3): J = 2/(4+3−2) = 0.4 exactly. Doc 2
    shares only its two leading bigrams with doc 0 at J = 1/3 < 0.4
    and must be excluded vs doc 0 — but ties doc 1 at J = 0.4 via
    {a b, b c} of its own 4 shingles... checked against the brute
    reference rather than hand enumeration."""
    texts = {
        0: "a b c d e",
        1: "a b c q",
        2: "a b c x y",
        3: "p q r s",
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    for t in (0.4, 0.4000001):
        got = _triples(D.prefix_filter_jaccard_pairs(df, threshold=t, shingle_n=2))
        want = _py_jaccard_pairs(texts, 2, t)
        assert got == want, f"t={t}"
        if t == 0.4:
            assert (0, 1, 0.4) in got  # the exact-threshold tie is kept
        else:
            assert (0, 1, 0.4) not in got  # and excluded just above it
