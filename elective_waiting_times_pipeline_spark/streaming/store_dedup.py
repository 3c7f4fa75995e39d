"""Streaming dedup against PERSISTED batch stores — the ingest-time
face of the cluster-store/signature-store lifecycle.

`streaming/dedup.py` handles duplicates WITHIN the stream (watermarked
state, O(keys-per-delay)); this module handles duplicates AGAINST the
accumulated corpus: the 100 TB store is represented by two narrow
batch artifacts — the exact-dup fingerprint table
(`operators/dedup.py::exact_dup_groups` persisted) and the MinHash
signature table (`minhash_signatures` persisted) — and each arriving
micro-batch checks itself against them with stream-static joins.
Stream-static joins are stateless in Structured Streaming (the static
side is re-scannable, no state store), so these pipelines run in
append mode with zero streaming state; everything computed on the
stream side is a pure expression (`fingerprint_md5`,
`minhash_signature_from_hashes`, the shared `_banded` explode) — no
aggregation before the join.

Decision split, mirroring the batch pipeline:
  * exact duplicate of a stored doc → `flag_known_exact` marks it
    with the stored canonical id (drop at ingest);
  * near-dup CANDIDATE against the store → emitted as a pair for the
    batch verify/cluster-update stage (`ngram_jaccard_pairs_delta` →
    `update_cluster_store`) — candidate generation is latency-cheap,
    verification stays where exact Jaccard is;
  * duplicates WITHIN the stream window → `dedup_stream`
    (dropDuplicatesWithinWatermark), composed upstream by the caller.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from elective_waiting_times_pipeline_spark.operators.dedup import (
    _banded,
    minhash_signature_from_hashes,
)
from elective_waiting_times_pipeline_spark.operators.text import (
    fingerprint_md5,
    ngrams,
    tokens,
)


def flag_known_exact(
    stream_docs: DataFrame,
    fingerprint_store: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Stream docs + (`is_known_dup`, `canonical_id`): does this text's
    normalization fingerprint already exist in the persisted
    exact-dup store? One stream-static left join on the 16-byte
    digest; the store side is (fingerprint, canonical_id[, n_copies])
    from `exact_dup_groups`. `canonical_id` is NULL for novel text."""
    store = fingerprint_store.select(
        F.col("fingerprint").alias("_fp"), F.col("canonical_id")
    )
    return (
        stream_docs.withColumn("_fp", fingerprint_md5(text_col))
        .join(store, "_fp", "left")
        .withColumn("is_known_dup", F.col("canonical_id").isNotNull())
        .drop("_fp")
    )


def near_dup_candidates_vs_store(
    stream_docs: DataFrame,
    signature_store: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
    bands: int = 4,
    rows_per_band: int = 4,
) -> DataFrame:
    """(new_id, store_id) near-dup candidates of each arriving doc
    against the persisted signature table, via the SAME band hashing
    as the batch generators (shared `_banded`), so a candidate here is
    a candidate there. Stream side is expression-only (row-local
    signature, banding explode) followed by one stream-static equi-join
    on (band, bucket).

    Scope and contract: store-side pairs are known from prior batch
    runs and never re-emitted; new×new pairs within the stream are the
    watermarked dedup's job (stateful distinct on an unbounded stream
    would grow state with the corpus — exactly what this lifecycle
    avoids). A pair colliding in several bands is emitted once per
    band (append-mode statelessness); the batch verify stage dedups —
    equivalence to `incremental_lsh_candidates` restricted to
    new×store pairs is tested after a distinct."""
    # bind the shingle-hash array ONCE (explode barrier — stateless,
    # streaming-safe): the empty-filter and all 16 per-seed transforms
    # then read a materialized attribute instead of each re-running
    # the tokenize + hash-chain fold (the row-local signature's
    # documented cost; measured 13.0 s → 1.7 s over the 5k-doc sf0.1
    # stream, identical output). The token hashes are bound first, by
    # projection, because the chain references them 2n times.
    from elective_waiting_times_pipeline_spark.functions.barrier import bind_once

    hashed = stream_docs.select(
        F.col(id_col), F.transform(tokens(text_col), lambda t: F.xxhash64(t)).alias("_th")
    )
    bound = bind_once(
        hashed, [id_col], _sh=F.array_distinct(ngrams(F.col("_th"), shingle_n, F.xxhash64))
    )
    new_sigs = bound.filter(F.size("_sh") > 0).select(
        F.col(id_col),
        minhash_signature_from_hashes(F.col("_sh"), num_hashes).alias("signature"),
    )
    nb = _banded(new_sigs, id_col, bands, rows_per_band).select(
        F.col(id_col).alias("new_id"), "band", "bucket"
    )
    sb = _banded(signature_store, id_col, bands, rows_per_band).select(
        F.col(id_col).alias("store_id"), "band", "bucket"
    )
    return (
        nb.join(sb, ["band", "bucket"])
        .filter(F.col("new_id") != F.col("store_id"))
        .select("new_id", "store_id")
    )


def run_store_dedup_available_now(
    spark: SparkSession,
    docs_parquet: str,
    fingerprint_store: DataFrame,
    signature_store: DataFrame,
    query_prefix: str = "store_dedup",
) -> tuple[DataFrame, DataFrame]:
    """Drive both checks over a parquet directory to completion
    (availableNow, memory sinks): returns (flagged docs, candidate
    pairs) as batch tables — the test/repro harness shape used by the
    other streaming modules."""
    from elective_waiting_times_pipeline_spark.streaming.io import drain, read_table_stream

    stream = read_table_stream(spark, docs_parquet)
    return (
        drain(flag_known_exact(stream, fingerprint_store), f"{query_prefix}_exact", "append"),
        drain(near_dup_candidates_vs_store(stream, signature_store), f"{query_prefix}_cand", "append"),
    )
