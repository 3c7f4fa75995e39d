"""Streaming-vs-persisted-store dedup: the availableNow streaming run
must agree with the batch semantics it mirrors — exact-dup flags with
the stored canonical id, and LSH candidates equal (after the
documented per-band dedup) to incremental_lsh_candidates restricted
to new×store pairs. Also pins the row-local signature expression to
the batch aggregate operator value-for-value.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from elective_waiting_times_pipeline_spark.operators import dedup as D
from elective_waiting_times_pipeline_spark.operators.text import ngrams, tokens
from elective_waiting_times_pipeline_spark.sources.readers import load_table
from elective_waiting_times_pipeline_spark.streaming.store_dedup import (
    run_store_dedup_available_now,
)

def test_rowwise_signature_equals_batch_operator(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    batch = {
        r.doc_id: tuple(r.signature)
        for r in D.minhash_signatures(docs, num_hashes=16, shingle_n=3).collect()
    }
    th = F.transform(tokens("text"), lambda t: F.xxhash64(t))
    sh = F.array_distinct(ngrams(th, 3, F.xxhash64))
    rowwise = {
        r.doc_id: tuple(r.signature)
        for r in docs.filter(F.size(sh) > 0)
        .select("doc_id", D.minhash_signature_from_hashes(sh, 16).alias("signature"))
        .collect()
    }
    assert rowwise == batch


def test_streaming_store_dedup_equals_batch(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % 5 == 0
    old, new = docs.filter(~is_new), docs.filter(is_new)

    # persisted batch artifacts of the accumulated corpus
    fp_store = D.exact_dup_groups(old)
    sig_store = D.minhash_signatures(old, num_hashes=16, shingle_n=3)

    stream_dir = str(tmp_path / "arriving")
    new.write.parquet(stream_dir)

    flagged, cand = run_store_dedup_available_now(
        spark, stream_dir, fp_store, sig_store, query_prefix="t_store_dedup"
    )

    # exact flags == batch fingerprint membership, canonical ids match
    from elective_waiting_times_pipeline_spark.operators.text import fingerprint_md5

    want_canon = {
        r.doc_id: r.canonical_id
        for r in new.withColumn("_fp", fingerprint_md5("text"))
        .join(
            fp_store.select(F.col("fingerprint").alias("_fp"), "canonical_id"),
            "_fp",
            "left",
        )
        .select("doc_id", "canonical_id")
        .collect()
    }
    got = {r.doc_id: (r.is_known_dup, r.canonical_id) for r in flagged.collect()}
    assert set(got) == {r.doc_id for r in new.collect()}
    for doc_id, (dup, canon) in got.items():
        assert dup == (want_canon[doc_id] is not None), doc_id
        assert canon == want_canon[doc_id], doc_id

    # candidates (distinct over the per-band emissions) == incremental
    # LSH restricted to new x store pairs
    new_sigs = D.minhash_signatures(new, num_hashes=16, shingle_n=3)
    inc = D.incremental_lsh_candidates(new_sigs, sig_store, bands=4, rows_per_band=4)
    new_ids = {r.doc_id for r in new.collect()}
    want_pairs = {
        frozenset((r.id_a, r.id_b))
        for r in inc.collect()
        if not (r.id_a in new_ids and r.id_b in new_ids)  # new x new excluded
    }
    got_pairs = {frozenset((r.new_id, r.store_id)) for r in cand.collect()}
    assert got_pairs == want_pairs
    assert want_pairs, "fixture must actually produce near-dup candidates"
