"""Catalog: text-analysis / dedup surface over the `documents` table
(the beyond-reference training-data-pipeline operators)."""

from __future__ import annotations

import pandas as pd  # noqa: F401 — resolves stringified pandas_udf type hints
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from elective_waiting_times_pipeline_spark.operators import dedup as D
from elective_waiting_times_pipeline_spark.operators import text as X
from elective_waiting_times_pipeline_spark.plans.registry import built_once, query
from elective_waiting_times_pipeline_spark.sources.readers import load_table

# DuckDB expression fragments mirroring operators/text.py exactly.
_TOKS = r"regexp_split_to_array(trim(lower(text)), '\s+')"
_NTOKS = rf"CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len({_TOKS}) END"


def _stop_filter(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in X.STOPWORDS[lang])
    return rf"len(list_filter({_TOKS}, t -> list_contains([{words}], t)))"


# ---------------------------------------------------------------------------
# Exact dedup: hash-groupBy on the normalization fingerprint; keep =
# min(id) (deterministic, unlike R's first-encountered `!duplicated`,
# `1b.R:283`).
# ---------------------------------------------------------------------------
@query(
    "dedup_exact_groups",
    headline=True,
    oracle=r"""
    SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fingerprint,
           CAST(MIN(doc_id) AS BIGINT) AS canonical_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.exact_dup_groups(docs)


# ---------------------------------------------------------------------------
# Token counting (whitespace tokenizer).
# ---------------------------------------------------------------------------
@query(
    "text_token_count",
    oracle=rf"SELECT doc_id, CAST({_NTOKS} AS INT) AS n_tokens FROM documents",
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", X.token_count("text").alias("n_tokens"))


# ---------------------------------------------------------------------------
# Token counting (BPE-ish pre-tokenizer regex, raw text) — the LLM
# token-budget proxy next to the whitespace count above. The pattern
# (operators/text.py::BPE_SPLIT_RE) is lookahead-free so Java regex
# (Spark) and RE2 (DuckDB) agree match-for-match.
# ---------------------------------------------------------------------------
@query(
    "text_token_count_bpe",
    oracle=(
        "SELECT doc_id, CAST(len(regexp_extract_all(text, '"
        + X.BPE_SPLIT_RE.replace("'", "''")
        + "', 0)) AS INT) AS n_bpe_tokens FROM documents"
    ),
)
def text_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", X.token_count_bpe("text").alias("n_bpe_tokens"))


# ---------------------------------------------------------------------------
# Quality scoring: one-pass char/token/punct/stopword features +
# composite score (all codegen'd expressions).
# ---------------------------------------------------------------------------
@query(
    "text_quality",
    headline=True,
    oracle=rf"""
    WITH feat AS (
      SELECT doc_id,
             CAST(length(text) AS INT) AS q_n_chars,
             CAST({_NTOKS} AS INT) AS q_n_tokens,
             CASE WHEN {_NTOKS} > 0
                  THEN length(regexp_replace(trim(lower(text)), '\s+', '', 'g')) / {_NTOKS}
                  ELSE 0.0 END AS mean_tok_len,
             CASE WHEN length(text) > 0
                  THEN (length(text) - length(regexp_replace(text, '[.,;:!?''"()\[\]{{}}-]', '', 'g'))) / length(text)
                  ELSE 0.0 END AS punct_ratio,
             CASE WHEN {_NTOKS} > 0 THEN {_stop_filter('en')} / {_NTOKS} ELSE 0.0 END AS stop_ratio
      FROM documents
    )
    SELECT doc_id, q_n_chars, q_n_tokens,
           ROUND(mean_tok_len, 6) AS q_mean_token_len,
           ROUND(punct_ratio, 6) AS q_punct_ratio,
           ROUND(stop_ratio, 6) AS q_stopword_ratio,
           ROUND(least(q_n_tokens / 100.0, 1.0) * 0.4
                 + (1 - least(punct_ratio * 5, 1.0)) * 0.3
                 + least(stop_ratio * 5, 1.0) * 0.3, 6) AS q_score
    FROM feat
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return X.quality_features(docs)


# ---------------------------------------------------------------------------
# Language-ID heuristic: argmax of per-language stopword-hit ratios;
# ties break by X.STOPWORDS insertion order (en, de, fr, es, it, pt,
# nl, sv); 'und' on zero hits.
# ---------------------------------------------------------------------------
def _langid_oracle() -> str:
    ratios = {
        lang: f"CASE WHEN {_NTOKS} > 0 THEN {_stop_filter(lang)} / {_NTOKS} ELSE 0.0 END"
        for lang in X.STOPWORDS
    }
    best = "greatest(" + ", ".join(f"r_{lang}" for lang in X.STOPWORDS) + ")"
    whens = "\n".join(f"WHEN r_{lang} = best THEN '{lang}'" for lang in X.STOPWORDS)
    ratio_cols = ",\n".join(f"{expr} AS r_{lang}" for lang, expr in ratios.items())
    return f"""
    WITH r AS (SELECT doc_id, {ratio_cols} FROM documents),
    b AS (SELECT r.*, {best} AS best FROM r)
    SELECT doc_id,
           CASE WHEN best <= 0.0 THEN 'und'
           {whens}
           ELSE 'und' END AS lang_pred
    FROM b
    """


@query("text_lang_id", oracle=_langid_oracle())
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return X.lang_id_profile(docs)


# ---------------------------------------------------------------------------
# Document fingerprint (md5 of normalized text) — the exact-dedup key.
# ---------------------------------------------------------------------------
@query(
    "text_fingerprint",
    oracle=r"""
    SELECT doc_id,
           md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", X.fingerprint_md5("text").alias("fingerprint"))


# ---------------------------------------------------------------------------
# Rolling polynomial fingerprint (order-sensitive). Token value is the
# first 15 hex digits of md5 (shared by both engines), so DuckDB can
# replay the exact fold: list_reduce has no init accumulator in 1.0, so
# the 0 seed is prepended onto the hashed-token list.
# ---------------------------------------------------------------------------
@query(
    "text_fingerprint_rolling",
    oracle=rf"""
    SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE list_reduce(
                       list_prepend(0::BIGINT,
                         list_transform({_TOKS},
                           t -> ('0x' || substr(md5(t), 1, 15))::BIGINT)),
                       (acc, x) -> (acc * 31 + x) % 1000000007)
           END AS rolling_fp
    FROM documents
    """,
)
def text_fingerprint_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", X.fingerprint_rolling("text").alias("rolling_fp"))


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup pairs via shingle inverted-index equi-join
# (exact; the verification stage of MinHash-LSH, standalone here on a
# doc_id<100 slice so the oracle's pair join stays small).
# ---------------------------------------------------------------------------
@query(
    "ngram_jaccard_pairs",
    oracle=r"""
    WITH docs AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
      FROM documents WHERE doc_id < 100 AND length(trim(text)) > 0
    ), sh AS (
      SELECT DISTINCT doc_id, unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS shingle
      FROM docs WHERE len(w) >= 2
    ), sizes AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    """,
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return D.ngram_jaccard_pairs(docs, shingle_n=2)


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup candidates (signature → band → bucket join).
# Hash functions are engine-specific (xxhash64) → rows-only check;
# tests validate candidate recall against exact Jaccard.
# ---------------------------------------------------------------------------
@query("minhash_lsh_candidates", headline=True)
def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sigs = D.minhash_signatures(docs, num_hashes=16, shingle_n=2)
    return D.minhash_lsh_candidates(sigs, bands=4, rows_per_band=4)


# ---------------------------------------------------------------------------
# MinHash Jaccard ESTIMATE over the LSH candidates (Broder '97
# component-agreement estimator) — the cheap middle stage between
# candidate generation and exact verification. Promoted from
# rows-only to a FULL hash oracle (round 10) by swapping the hash
# family to the replayable one (`minhash_signatures_replayable`:
# component i = min 60-bit md5(i|'|'|shingle) prefix; md5 bucket
# keys), so DuckDB recomputes signatures → banding → candidate join →
# agreement fraction value-for-value. est_jaccard = k/16 rounds
# exactly at 6dp in both engines (0.0625 steps have 4 decimals).
# The xxhash64 production path keeps its recall/tolerance unit tests.
# ---------------------------------------------------------------------------
def _mh_sig_ctes(num_hashes: int = 16, bands: int = 4, rows: int = 4) -> str:
    """Shared oracle CTEs `toks → sh → sig → banded` replaying the
    replayable MinHash family (`minhash_signatures_replayable` + md5
    band buckets) over the whole documents table — component i is the
    min 60-bit md5('i|'||shingle) prefix, bucket b is md5 of the
    comma-joined components of band b."""
    mins = ",\n             ".join(
        f"MIN(('0x' || substr(md5('{i}|' || s), 1, 15))::BIGINT) AS h{i}"
        for i in range(num_hashes)
    )
    band_selects = "\n      UNION ALL\n      ".join(
        "SELECT doc_id, {b} AS band, md5({cat}) AS bucket FROM sig".format(
            b=b,
            cat=" || ',' || ".join(
                f"CAST(h{b * rows + j} AS VARCHAR)" for j in range(rows)
            ),
        )
        for b in range(bands)
    )
    return rf"""toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
      FROM documents WHERE length(trim(text)) > 0
    ), sh AS (
      SELECT doc_id, unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS s
      FROM toks WHERE len(w) >= 2
    ), sig AS (
      SELECT doc_id,
             {mins}
      FROM sh GROUP BY doc_id
    ), banded AS (
      {band_selects}
    )"""


def _minhash_est_oracle(num_hashes: int = 16, bands: int = 4, rows: int = 4) -> str:
    agree = " + ".join(f"(sa.h{i} = sb.h{i})::INT" for i in range(num_hashes))
    return rf"""
    WITH {_mh_sig_ctes(num_hashes, bands, rows)}, cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a
      JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           ROUND(({agree}) / {num_hashes}.0, 6) AS est_jaccard
    FROM cand
    JOIN sig sa ON sa.doc_id = cand.id_a
    JOIN sig sb ON sb.doc_id = cand.id_b
    """


@query("minhash_estimate_pairs", oracle=_minhash_est_oracle())
def minhash_estimate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # THREE consumers of the signature relation (the banding pass and
    # both sides of the estimator join) — un-shared, each re-runs the
    # corpus tokenize + shingle-hash + 16-way min aggregation. Same
    # reuse barrier as bm25_topk's tf relation: materialize signatures
    # once, everything derives from the narrow (id, 16 longs) RDD.
    # ×100 same-session A/B: 176.3 → 50.6 s, identical output.
    sigs = D.minhash_signatures_replayable(
        docs, num_hashes=16, shingle_n=2
    ).localCheckpoint(eager=False)
    cand = D.minhash_lsh_candidates(sigs, bands=4, rows_per_band=4, bucket_hash="md5")
    return D.minhash_estimate_jaccard(cand, sigs).select("id_a", "id_b", "est_jaccard")


# ---------------------------------------------------------------------------
# Batch face of the persisted-store ingest lifecycle
# (streaming/store_dedup.py): split the corpus into an accumulated
# "store" (doc_id % 5 < 4) and an "arriving" batch, persistable-shape
# artifacts only — the exact-dup fingerprint table
# (`exact_dup_groups`) and the MinHash signature table — and flag each
# arriving doc with (a) is_known_dup + stored canonical id via the
# fingerprint join (`flag_known_exact`, the exact same function the
# stream runs: stream-static joins are just joins) and (b) its count
# of near-dup CANDIDATE partners in the store via the incremental
# banding join. The replayable hash family makes the whole lifecycle
# DuckDB-checkable, putting a driver hash on the ingest face whose
# streaming equality is suite-tested (tests/test_streaming_store_dedup).
# ---------------------------------------------------------------------------
def _store_ingest_oracle() -> str:
    return rf"""
    WITH {_mh_sig_ctes()}, pairs AS (
      SELECT DISTINCT a.doc_id AS nid, b.doc_id AS pid
      FROM banded a
      JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id <> b.doc_id
      WHERE a.doc_id % 5 = 4 AND b.doc_id % 5 < 4
    ), counts AS (
      SELECT nid, CAST(COUNT(*) AS BIGINT) AS n_near_candidates FROM pairs GROUP BY nid
    ), store AS (
      SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS f,
             CAST(MIN(doc_id) AS BIGINT) AS canonical_id
      FROM documents WHERE doc_id % 5 < 4 GROUP BY 1
    )
    SELECT d.doc_id, s.canonical_id,
           (s.canonical_id IS NOT NULL) AS is_known_dup,
           COALESCE(c.n_near_candidates, 0) AS n_near_candidates
    FROM documents d
    LEFT JOIN store s
      ON md5(regexp_replace(trim(lower(d.text)), '\s+', ' ', 'g')) = s.f
    LEFT JOIN counts c ON c.nid = d.doc_id
    WHERE d.doc_id % 5 = 4
    """


@query("store_ingest_dedup_report", oracle=_store_ingest_oracle())
def store_ingest_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from elective_waiting_times_pipeline_spark.streaming.store_dedup import flag_known_exact

    docs = load_table(spark, sf_dir, "documents")
    store_docs = docs.filter(F.col("doc_id") % 5 < 4)
    arriving = docs.filter(F.col("doc_id") % 5 == 4)
    flagged = flag_known_exact(arriving, D.exact_dup_groups(store_docs)).select(
        "doc_id", "canonical_id", "is_known_dup"
    )
    store_sigs = D.minhash_signatures_replayable(store_docs, num_hashes=16, shingle_n=2)
    new_sigs = D.minhash_signatures_replayable(arriving, num_hashes=16, shingle_n=2)
    cand = D.incremental_lsh_candidates(
        new_sigs, store_sigs, bands=4, rows_per_band=4, bucket_hash="md5"
    )
    # candidates come back as unordered (id_a, id_b) with >=1 new
    # endpoint; keep only new->store edges (new x new collisions are
    # the in-batch dedup's job) and count partners per arriving doc.
    # Both orientations come from ONE row-local explode — the
    # union(select, swapped select) form evaluated the whole LSH
    # candidate subtree twice (cluster._symmetrize pathology).
    edges = (
        cand.select(
            F.explode(
                F.array(
                    F.struct(F.col("id_a").alias("nid"), F.col("id_b").alias("pid")),
                    F.struct(F.col("id_b").alias("nid"), F.col("id_a").alias("pid")),
                )
            ).alias("_e")
        )
        .select("_e.nid", "_e.pid")
        .filter((F.col("nid") % 5 == 4) & (F.col("pid") % 5 < 4))
    )
    counts = edges.groupBy("nid").agg(F.count(F.lit(1)).alias("n_near_candidates"))
    return (
        flagged.join(counts, flagged["doc_id"] == counts["nid"], "left")
        .select(
            "doc_id",
            "canonical_id",
            "is_known_dup",
            F.coalesce("n_near_candidates", F.lit(0)).cast("long").alias(
                "n_near_candidates"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Gopher/C4-style quality-rule filter: token-count window, mean
# token length window, punctuation cap, stopword floor — the
# "curation decision" layer on top of text_quality's features.
# Predicates compare raw (unrounded) doubles; both engines derive
# them from identical integer numerators/denominators, so the same
# IEEE division yields the same comparison result.
# ---------------------------------------------------------------------------
@query(
    "text_quality_filter",
    oracle=rf"""
    WITH feat AS (
      SELECT doc_id,
             CAST({_NTOKS} AS INT) AS n_tokens,
             CASE WHEN {_NTOKS} > 0
                  THEN length(regexp_replace(trim(lower(text)), '\s+', '', 'g')) / {_NTOKS}
                  ELSE 0.0 END AS mean_tok_len,
             CASE WHEN length(text) > 0
                  THEN (length(text) - length(regexp_replace(text, '[.,;:!?''"()\[\]{{}}-]', '', 'g'))) / length(text)
                  ELSE 0.0 END AS punct_ratio,
             CASE WHEN {_NTOKS} > 0 THEN {_stop_filter('en')} / {_NTOKS} ELSE 0.0 END AS stop_ratio
      FROM documents
    )
    SELECT doc_id, n_tokens FROM feat
    WHERE n_tokens >= 5 AND n_tokens <= 5000
      AND mean_tok_len >= 2.0 AND mean_tok_len <= 12.0
      AND punct_ratio <= 0.2 AND stop_ratio >= 0.02
    """,
)
def text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return X.quality_filter(docs)


# ---------------------------------------------------------------------------
# Near-dup CLUSTERS: transitive closure over the exact-Jaccard pair
# graph (operators/cluster.py connected components — Hash-Min with
# label-of-label shortcutting). cluster_id = min doc_id reachable;
# singletons (incl. empty-text docs) map to themselves. Oracle:
# DuckDB recursive CTE computing min reachable label — an
# oracle-checked ITERATIVE operator.
# ---------------------------------------------------------------------------
# Shared recursive CTE: trigram-Jaccard pair graph → min reachable
# label per doc. Used by the dedup_clusters oracle and the
# keep-canonical oracle below (same closure, different final select).
_CLUSTERS_CTE = r"""
    WITH RECURSIVE docs AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
      FROM documents WHERE length(trim(text)) > 0
    ), sh AS (
      SELECT DISTINCT doc_id, unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]) AS shingle
      FROM docs WHERE len(w) >= 3
    ), sizes AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT id_a, id_b
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE ROUND(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) >= 0.1
    ), edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b AS a, id_a AS b FROM pairs
    ), reach(v, l) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.a, r.l FROM edges e JOIN reach r ON e.b = r.v
    )
"""


@query(
    "dedup_clusters",
    headline=True,
    oracle=_CLUSTERS_CTE
    + "SELECT v AS doc_id, MIN(l) AS cluster_id FROM reach GROUP BY v",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Trigram shingles (the operator default): on a vocab-limited
    # corpus every BIGRAM is hot (sf0.1: 931 distinct bigrams, median
    # df 285 → 73M-row pair fan-out for 11k pairs), while trigrams
    # keep df low (27k distinct, max df 25 → 26× less fan-out) —
    # the standard reason near-dup shingling uses n ≥ 3.
    # near_dup_clusters collapses exact copies before pair-gen (cost
    # O(distinct texts), result provably identical — see cluster.py).
    from elective_waiting_times_pipeline_spark.operators.cluster import near_dup_clusters

    docs = load_table(spark, sf_dir, "documents")
    return near_dup_clusters(docs, shingle_n=3, min_jaccard=0.1).select(
        "doc_id", "cluster_id"
    )


# ---------------------------------------------------------------------------
# The dedup DECISIONS on top of the clusters read a PERSISTED
# (doc_id, cluster_id) store — the production lifecycle the IVF index
# and int8 vector store already follow. The transitive closure
# (pair-gen + CC rounds over the corpus) is the expensive part; each
# decision on top is one hash join. Recomputing the closure per
# decision measured ~294 s at ×100 vs ~190 s for the shared
# clustering alone — the store caps every decision at O(read of a
# 16-byte/doc map). Built once per session by `registry.built_once`,
# like catalog_vector's _ivf_index.
# ---------------------------------------------------------------------------
def _cluster_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-scoped (id, cluster_id) store for the catalog's decision
    queries, built once per (sf_dir, source fingerprint).

    PRODUCTION NOTE: this tempdir cache exists so the bench/driver —
    a fresh process per run — pays the closure build once per
    session. A production pipeline should NOT mirror it: call
    `write_cluster_store(near_dup_clusters(...), durable_path)` once
    on a real (object-store) path, read that path from every
    decision job (`keep_canonical_from_store` /
    `keep_longest_from_store` are one O(read) join each), and refresh
    it with `update_cluster_store` at delta cost — the lifecycle
    SCALE.md measures (~16 B/doc store; decisions 294 s recompute →
    1.1 s read-join at ×100)."""
    from elective_waiting_times_pipeline_spark.operators.cluster import (
        near_dup_clusters,
        write_cluster_store,
    )

    def build(root: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        write_cluster_store(
            near_dup_clusters(docs, shingle_n=3, min_jaccard=0.1), f"{root}/clusters"
        )

    root = built_once(("cluster_store", sf_dir), f"{sf_dir}/documents.parquet", build)
    return spark.read.parquet(f"{root}/clusters")


# Keep the min-id doc per near-dup cluster (SURVEY §7.5 —
# deterministic canonical, never "first encountered"). The oracle is
# the ONE-SHOT closure — proving store-then-read returns exactly what
# recomputing from the corpus would.
@query(
    "dedup_keep_canonical",
    oracle=_CLUSTERS_CTE
    + "SELECT v AS doc_id FROM reach GROUP BY v HAVING v = MIN(l)",
)
def dedup_keep_canonical_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from elective_waiting_times_pipeline_spark.operators.cluster import (
        keep_canonical_from_store,
    )

    docs = load_table(spark, sf_dir, "documents")
    store = _cluster_store(spark, sf_dir)
    return keep_canonical_from_store(docs.select("doc_id"), store)


# ---------------------------------------------------------------------------
# INCREMENTAL cluster-store maintenance: 20% of the corpus "arrives
# later" (doc_id % 5 == 0), the store is built from the other 80%,
# and update_cluster_store merges the delta using only the pairs that
# touch a new doc (ngram_jaccard_pairs_delta — old↔old jaccard cannot
# change, so those pairs never regenerate). The ORACLE is the full
# one-shot closure over the combined corpus: hash-equality proves the
# incremental path reproduces a ground-up rebuild exactly. At corpus
# scale the delta pairs come from incremental_lsh_candidates +
# verify; the posting-join fan-out is Σ df·df_new, not Σ df².
# ---------------------------------------------------------------------------
@query(
    "dedup_clusters_incremental",
    oracle=_CLUSTERS_CTE
    + "SELECT v AS doc_id, MIN(l) AS cluster_id FROM reach GROUP BY v",
)
def dedup_clusters_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from elective_waiting_times_pipeline_spark.operators.cluster import (
        near_dup_clusters,
        update_cluster_store,
    )

    docs = load_table(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % 5 == 0
    old_store = near_dup_clusters(docs.filter(~is_new), shingle_n=3, min_jaccard=0.1)
    delta = D.ngram_jaccard_pairs_delta(
        docs, docs.filter(is_new).select("doc_id"), shingle_n=3, min_jaccard=0.1
    )
    return update_cluster_store(
        old_store, delta, docs.filter(is_new).select("doc_id")
    )


# ---------------------------------------------------------------------------
# SimHash (bitwise fold over token hashes). Promoted from rows-only
# to a FULL hash oracle (round 10): the catalog configuration uses
# the 60-bit replayable family (token hash = md5_prefix60, bits=60 —
# SimHash is hash-family-parametric, the vote/sign semantics are
# unchanged), so DuckDB recomputes every signature bit-for-bit via
# per-bit vote sums. The xxhash64/64-bit production default keeps its
# golden-value unit tests.
# ---------------------------------------------------------------------------
_SIMHASH_BITS = 60


def _simhash60_ctes() -> str:
    """toks → h → votes → sh: per-doc 60-bit SimHash replay (votes
    are ±1 per token instance per bit; sign > 0 → bit set)."""
    votes = ",\n             ".join(
        f"SUM(CASE WHEN ((th >> {i}) & 1) = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(_SIMHASH_BITS)
    )
    bitsum = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(_SIMHASH_BITS)
    )
    return rf"""toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
      FROM documents WHERE length(trim(text)) > 0
    ), h AS (
      SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS th FROM toks
    ), votes AS (
      SELECT doc_id,
             {votes}
      FROM h GROUP BY doc_id
    ), sh AS (
      SELECT doc_id, CAST({bitsum} AS BIGINT) AS simhash FROM votes
    )"""


@query(
    "simhash64",
    oracle=f"WITH {_simhash60_ctes()} SELECT doc_id, simhash FROM sh",
)
def simhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash(docs, bits=_SIMHASH_BITS, token_hash=X.md5_prefix60)


# ---------------------------------------------------------------------------
# SimHash near-dup pairs via wide-chunk bucketing. max_hamming=3 is
# the published web-dedup operating point (Manku, Jain, Das Sarma,
# WWW 2007: k=3): 4 bands × 15 bits (on the 60-bit replayable
# family below) = 32,768 bucket values per band, so buckets stay tiny
# at any corpus size. The previous max_hamming=16 forced 17 bands of 3-4
# bits — ≤16 bucket values per band — which collapsed a ×100 corpus
# into a handful of buckets whose C(n,2) pair expansion never
# finished (found by the round-8 ×100 sweep). max_bucket_size guards
# the residual hot buckets (exact-dup hash groups belong to exact
# dedup, not the near-dup pass).
#
# Promoted to a FULL hash oracle (round 10) on the 60-bit replayable
# simhash family: 4 bands × 15 bits; the oracle replays banding,
# the ≤1000 bucket-size guard, the pigeonhole candidate join, AND the
# exact xor/popcount Hamming verify — so the driver hash covers the
# complete candidate-generation + verification pipeline including
# the cap's drop decisions.
# ---------------------------------------------------------------------------
def _simhash_pairs_oracle(max_hamming: int = 3, max_bucket: int = 1000) -> str:
    bands = max_hamming + 1
    width = _SIMHASH_BITS // bands
    mask = (1 << width) - 1
    vals = ", ".join(f"({b})" for b in range(bands))
    return rf"""
    WITH {_simhash60_ctes()}, banded AS (
      SELECT doc_id, simhash, b.band,
             (simhash >> ({width} * b.band)) & {mask} AS bucket
      FROM sh, (VALUES {vals}) AS b(band)
    ), ok AS (
      SELECT band, bucket FROM banded GROUP BY band, bucket
      HAVING COUNT(*) BETWEEN 2 AND {max_bucket}
    )
    SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b2.simhash)) AS INTEGER) AS hamming
    FROM banded a
    JOIN ok USING (band, bucket)
    JOIN banded b2
      ON b2.band = a.band AND b2.bucket = a.bucket AND a.doc_id < b2.doc_id
    WHERE bit_count(xor(a.simhash, b2.simhash)) <= {max_hamming}
    """


@query("simhash_near_dup_pairs", oracle=_simhash_pairs_oracle())
def simhash_near_dup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash_near_dup_pairs(
        D.simhash(docs, bits=_SIMHASH_BITS, token_hash=X.md5_prefix60),
        max_hamming=3,
        max_bucket_size=1000,
        bits=_SIMHASH_BITS,
    )


# ---------------------------------------------------------------------------
# Corpus n-gram statistics: top-20 bigrams by frequency. Spark side
# builds bigrams with `ngrams` on the bound token array (no shuffle until
# the count); ties broken lexicographically for determinism.
# ---------------------------------------------------------------------------
@query(
    "ngram_top_bigrams",
    oracle=rf"""
    WITH toks AS (
      SELECT {_TOKS} AS a FROM documents WHERE {_NTOKS} >= 2
    ), bg AS (
      SELECT unnest(list_transform(a[1:len(a)-1], (t, i) -> t || ' ' || a[i+1])) AS bigram
      FROM toks
    )
    SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
    FROM bg GROUP BY bigram
    ORDER BY n DESC, bigram LIMIT 20
    """,
)
def ngram_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # tokens bound to an attribute (see `ngrams`)
    return (
        docs.select(X.tokens("text").alias("_toks"))
        .select(F.explode(X.ngrams(F.col("_toks"), 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Collocation mining: top-20 bigrams by pointwise mutual information
# (min pair count 5) — frequency alone (ngram_top_bigrams) surfaces
# "of the"; PMI surfaces the pairs that co-occur far above chance,
# the standard phrase/term detector for tokenizer vocab building.
# PMI = ln(c_xy·T_u² / (T_b·c_x·c_y)): every count is an exact
# integer, the products ride in decimal(38,0)/HUGEINT (c·T² can pass
# int64), ONE correctly-rounded division feeds ONE micro-snapped ln
# (the mutual_information discipline — a single snap absorbs libm
# drift). Plan shape: two corpus explodes → hash aggs; bigram counts
# join unigram counts ON THE TOKEN KEY (vocab-sized, never
# broadcast); scalar totals broadcast. Deterministic top-20 on the
# snapped integer.
# ---------------------------------------------------------------------------
@query(
    "collocation_pmi",
    headline=True,
    oracle=rf"""
    WITH toks AS (
      SELECT {_TOKS} AS a FROM documents WHERE {_NTOKS} >= 1
    ), uc AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS cu
      FROM (SELECT unnest(a) AS tok FROM toks) GROUP BY tok
    ), tu AS (SELECT CAST(SUM(cu) AS BIGINT) AS t_uni FROM uc
    ), bc AS (
      SELECT p['x'] AS x, p['y'] AS y, CAST(COUNT(*) AS BIGINT) AS cb
      FROM (SELECT unnest(list_transform(a[1:len(a)-1],
                                         (t, i) -> {{'x': t, 'y': a[i+1]}})) AS p
            FROM toks WHERE len(a) >= 2)
      GROUP BY 1, 2
    ), tb AS (SELECT CAST(SUM(cb) AS BIGINT) AS t_bg FROM bc
    ), terms AS (
      SELECT x, y, cb,
             CAST(floor(ln(CAST(CAST(cb AS HUGEINT) * t_uni * t_uni AS DOUBLE)
                           / CAST(CAST(t_bg AS HUGEINT) * ux.cu * uy.cu AS DOUBLE))
                        * 1000000 + 0.5) AS BIGINT) AS pmi_micro
      FROM bc JOIN uc ux ON bc.x = ux.tok JOIN uc uy ON bc.y = uy.tok, tu, tb
      WHERE cb >= 5
    )
    SELECT x || ' ' || y AS bigram, cb AS n_pairs,
           ROUND(CAST(pmi_micro AS DOUBLE) / 1000000, 6) AS pmi_nats
    FROM terms
    ORDER BY pmi_micro DESC, bigram LIMIT 20
    """,
)
def collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = X.tokens("text")
    # vocab-sized; checkpointed because THREE consumers reference it
    # (the two per-token joins + the total) — without it each consumer
    # re-runs the corpus explode (plan audit read 4 parquet scans)
    uc = (
        docs.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cu"))
        .localCheckpoint(eager=False)
    )
    tu = uc.agg(F.sum("cu").alias("t_uni"))
    bc_all = (
        docs.select(X.tokens("text").alias("_toks"))
        .select(F.explode(X.bigram_pairs(F.col("_toks"))).alias("p"))
        .groupBy(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
        .agg(F.count(F.lit(1)).alias("cb"))
        .localCheckpoint(eager=False)  # two consumers: total + min-count cut
    )
    # t_bg totals ALL bigrams (the PMI denominator's probability
    # space); the min-count cut applies only to which pairs are scored
    tb = bc_all.agg(F.sum("cb").alias("t_bg"))
    bc = bc_all.filter(F.col("cb") >= 5)
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    num = (d38("cb") * d38("t_uni") * d38("t_uni")).cast("double")
    den = (d38("t_bg") * d38("cu_x") * d38("cu_y")).cast("double")
    pmi_micro = F.floor(F.log(num / den) * 1000000 + 0.5).cast("long")
    return (
        bc.join(uc.select(F.col("tok").alias("x"), F.col("cu").alias("cu_x")), "x")
        .join(uc.select(F.col("tok").alias("y"), F.col("cu").alias("cu_y")), "y")
        .crossJoin(F.broadcast(tu))
        .crossJoin(F.broadcast(tb))
        .select(
            F.concat_ws(" ", "x", "y").alias("bigram"),
            F.col("cb").alias("n_pairs"),
            pmi_micro.alias("_pm"),
        )
        .orderBy(F.col("_pm").desc(), "bigram")
        .limit(20)
        .select("bigram", "n_pairs", F.round(F.col("_pm").cast("double") / 1000000, 6).alias("pmi_nats"))
    )


# ---------------------------------------------------------------------------
# Deterministic train/val/test split (md5 hex-prefix threshold; see
# operators/sampling.py). Exactly replayed by the DuckDB oracle —
# row-order/partitioning independent by construction.
# ---------------------------------------------------------------------------
from elective_waiting_times_pipeline_spark.operators import sampling as S  # noqa: E402

_SPLITS = {"train": 0.8, "val": 0.1, "test": 0.1}
_T_TRAIN = S.hex_threshold(0.8)
_T_VAL = S.hex_threshold(0.9)


@query(
    "sample_split_hash",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '{_T_TRAIN}' THEN 'train'
                WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '{_T_VAL}' THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def sample_split_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return S.hash_split(docs, "doc_id", _SPLITS).select("doc_id", "split")


# ---------------------------------------------------------------------------
# Sequence packing, concat-and-chunk discipline (GPT-style): start
# offsets + chunk ids under head-to-tail layout per shard
# (operators/packing.py). Window cum-sum — SQL-expressible, oracled.
# ---------------------------------------------------------------------------
from elective_waiting_times_pipeline_spark.operators import packing as P  # noqa: E402


@query(
    "pack_chunks",
    headline=True,
    oracle=rf"""
    WITH tok AS (
      SELECT doc_id, CAST({_NTOKS} AS BIGINT) AS n_tokens FROM documents
    ), sh AS (
      SELECT doc_id, n_tokens, CAST(doc_id % 8 AS INT) AS shard FROM tok
    ), off AS (
      SELECT doc_id, shard,
             CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
      FROM sh
    )
    SELECT doc_id, shard, start_offset,
           CAST(floor(start_offset / 512) AS BIGINT) AS chunk_id
    FROM off
    """,
)
def pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from elective_waiting_times_pipeline_spark.operators import sampling as S

    docs = load_table(spark, sf_dir, "documents")
    # One tokenize scan total, zero side actions: the id cut points
    # come from the parquet row-group footers (driver metadata read,
    # no Spark job — exact equal-mass for the lake's dense doc_id), and
    # since r8 `ordered_prefix` derives its offsets side from the
    # windowed stream itself, so the single tokenize scan feeds the
    # whole plan. Pre-r8 this paid a separate raw-table sample action
    # plus a second tokenize pass in the offsets branch. The running
    # sum still rides the bucketed distributed prefix, so per-task
    # depth stays ~corpus/64 however few shards there are; a corpus
    # whose footers can't vouch for doc_id falls back to the 4096-row
    # hash sample over a checkpointed projection.
    with_tokens = docs.select("doc_id", X.token_count("text").cast("long").alias("n_tokens"))
    cuts = S.parquet_footer_cuts(f"{sf_dir}/documents.parquet", "doc_id")
    if cuts is None:
        with_tokens = with_tokens.localCheckpoint(eager=False)
        cuts = S.range_cut_points(with_tokens, "doc_id")
    return P.chunk_offsets(with_tokens, budget=512, shards=8, id_cuts=cuts)


# ---------------------------------------------------------------------------
# Sequence packing, no-split first-fit-decreasing (SFT-style) — bin
# packing is sequential per shard (applyInPandas), so rows-only here;
# budget/partition invariants are unit-tested.
# ---------------------------------------------------------------------------
@query("pack_greedy")
def pack_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    with_tokens = docs.select("doc_id", X.token_count("text").cast("long").alias("n_tokens"))
    return P.greedy_pack(with_tokens, budget=512, shards=8)


# ---------------------------------------------------------------------------
# Top-3 TF-IDF terms per document (operators/text.py::tfidf_top_terms).
# Ranking on the ROUNDED score with token tie-break keeps the top-k
# selection identical across engine libm implementations.
# ---------------------------------------------------------------------------
@query(
    "tfidf_top_terms",
    headline=True,
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS}) AS tok FROM documents WHERE {_NTOKS} >= 1
    ), tf AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY doc_id, tok
    ), dfq AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok
    ), n AS (
      SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM tf
    ), scored AS (
      SELECT t.doc_id, t.tok, t.tf, d.df,
             ROUND(t.tf * ln(n.n_docs / d.df), 6) AS tfidf
      FROM tf t JOIN dfq d USING (tok), n
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok) AS rn
      FROM scored
    )
    SELECT doc_id, tok, tf, df, tfidf FROM ranked WHERE rn <= 3
    """,
)
def tfidf_top_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return X.tfidf_top_terms(docs, k=3)


# ---------------------------------------------------------------------------
# Corpus mixture weighting: per-source deterministic sampling rates
# (operators/sampling.py::stratified_hash_sample) — keep all of src0,
# half of src1, 10% of everything else. Pure per-row codegen, replayed
# exactly by the oracle's CASE thresholds.
# ---------------------------------------------------------------------------
_MIX = {"src0": 1.0, "src1": 0.5}
_T_HALF = S.hex_threshold(0.5)
_T_TENTH = S.hex_threshold(0.1)


@query(
    "mixture_sample",
    oracle=f"""
    SELECT doc_id, source
    FROM documents
    WHERE (source = 'src0')
       OR (source = 'src1' AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '{_T_HALF}')
       OR (source NOT IN ('src0', 'src1')
           AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '{_T_TENTH}')
    """,
)
def mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return S.stratified_hash_sample(docs, "doc_id", "source", _MIX, default=0.1).select(
        "doc_id", "source"
    )


# ---------------------------------------------------------------------------
# Robust outlier filtering (median ± k·MAD per stratum) — the standard
# corpus-cleaning rule for length/score distributions (resistant to the
# very outliers it hunts, unlike mean/stddev). Two grouped percentile
# aggregates + a broadcast-size join back; Spark F.percentile ==
# DuckDB quantile_cont exactly (linear interpolation both sides).
# ---------------------------------------------------------------------------
@query(
    "mad_outlier_filter",
    oracle="""
    WITH med AS (
      SELECT source, quantile_cont(n_chars, 0.5) AS med FROM documents GROUP BY source
    ), dev AS (
      SELECT d.doc_id, d.source, d.n_chars, m.med,
             abs(d.n_chars - m.med) AS adev
      FROM documents d JOIN med m USING (source)
    ), mad AS (
      SELECT source, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY source
    )
    SELECT v.doc_id, v.source, CAST(v.n_chars AS BIGINT) AS n_chars,
           ROUND(v.med, 4) AS med_chars, ROUND(d.mad, 4) AS mad_chars,
           v.adev > 3 * d.mad AS is_outlier
    FROM dev v JOIN mad d USING (source)
    """,
)
def mad_outlier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    med = docs.groupBy("source").agg(F.percentile("n_chars", F.lit(0.5)).alias("med"))
    dev = docs.join(F.broadcast(med), "source").select(
        "doc_id",
        "source",
        "n_chars",
        "med",
        F.abs(F.col("n_chars") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("source").agg(F.percentile("adev", F.lit(0.5)).alias("mad"))
    return dev.join(F.broadcast(mad), "source").select(
        "doc_id",
        "source",
        F.col("n_chars").cast("long"),
        F.round("med", 4).alias("med_chars"),
        F.round("mad", 4).alias("mad_chars"),
        (F.col("adev") > 3 * F.col("mad")).alias("is_outlier"),
    )


_PII_RAW = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com at 10.0.' "
    "|| CAST(doc_id % 256 AS VARCHAR) || '.7 or +44 20 7946 0' "
    "|| CAST(doc_id % 1000 AS VARCHAR)"
)


def _pii_oracle() -> str:
    # Mirror operators/text.py::PII_PATTERNS cascade: count on the
    # text masked by all EARLIER kinds, then replace. The `[KIND]`
    # replacement is a plain literal to DuckDB's regexp_replace (no
    # backrefs used), so it needs no escaping.
    counts, masked = [], _PII_RAW
    for kind, pat, token in X.PII_PATTERNS:
        esc = pat.replace("'", "''")
        counts.append(f"CAST(len(regexp_extract_all({masked}, '{esc}')) AS INT) AS n_{kind}")
        masked = f"regexp_replace({masked}, '{esc}', '{token}', 'g')"
    cols = ",\n           ".join(counts)
    return f"""
    SELECT doc_id,
           {cols},
           {masked} AS redacted
    FROM documents
    """


# ---------------------------------------------------------------------------
# PII redaction (emails / IPv4s / phone-like runs) — the standard
# pre-training scrub. The synthetic corpus has no PII, so the query
# derives a deterministic PII-laden column (same expression in both
# engines) and the oracle hash-checks the FULL redacted text plus
# per-kind match counts — proving both engines found and replaced
# exactly the same spans.
# ---------------------------------------------------------------------------
@query("text_pii_redact", oracle=_pii_oracle())
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com at 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 or +44 20 7946 0"),
        (F.col("doc_id") % 1000).cast("string"),
    )
    return docs.select(
        "doc_id",
        *X.pii_counts(raw),
        X.redact_pii(raw).alias("redacted"),
    )


# ---------------------------------------------------------------------------
# Gopher-style repetition metrics: duplicate-unigram fraction and
# top-bigram fraction per document — the classic boilerplate/spam
# signal. One token explode + one bigram explode, both collapsing
# map-side before the shuffle.
# ---------------------------------------------------------------------------
@query(
    "text_repetition",
    headline=True,
    oracle=rf"""
    WITH uni AS (
      SELECT doc_id,
             CAST({_NTOKS} AS INT) AS n_tokens,
             CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(list_distinct({_TOKS})) END AS INT) AS n_distinct_tokens
      FROM documents
    ), bgl AS (
      SELECT doc_id, unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS bg
      FROM (SELECT doc_id, {_TOKS} AS w FROM documents WHERE {_NTOKS} >= 2)
    ), bgc AS (
      SELECT doc_id, bg, COUNT(*) AS c FROM bgl GROUP BY 1, 2
    ), bga AS (
      SELECT doc_id, CAST(SUM(c) AS INT) AS n_bigrams,
             CAST(MAX(c) AS INT) AS top_bigram_count
      FROM bgc GROUP BY 1
    )
    SELECT u.doc_id, u.n_tokens, u.n_distinct_tokens,
           COALESCE(b.n_bigrams, 0) AS n_bigrams,
           ROUND(CASE WHEN u.n_tokens > 0
                 THEN 1.0 - u.n_distinct_tokens / CAST(u.n_tokens AS DOUBLE)
                 ELSE 0.0 END, 6) AS dup_unigram_frac,
           ROUND(CASE WHEN COALESCE(b.n_bigrams, 0) > 0
                 THEN b.top_bigram_count / CAST(b.n_bigrams AS DOUBLE)
                 ELSE 0.0 END, 6) AS top_bigram_frac
    FROM uni u LEFT JOIN bga b USING (doc_id)
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return X.repetition_features(docs)


# ---------------------------------------------------------------------------
# Benchmark-contamination check: corpus documents sharing any word
# trigram with the "benchmark" slice (source = 'src0' stands in for an
# eval suite). Inverted-index equi-join on the shingle; the benchmark
# shingle set is broadcast — eval benchmarks are tiny next to a 100 TB
# corpus, so the corpus never shuffles.
# ---------------------------------------------------------------------------
_SH3 = "unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)])"


@query(
    "contamination_check",
    headline=True,
    oracle=rf"""
    WITH bsh AS (
      SELECT DISTINCT {_SH3} AS shingle
      FROM (SELECT {_TOKS} AS w FROM documents
            WHERE source = 'src0' AND length(trim(text)) > 0)
      WHERE len(w) >= 3
    ), csh AS (
      SELECT DISTINCT doc_id, {_SH3} AS shingle
      FROM (SELECT doc_id, {_TOKS} AS w FROM documents
            WHERE source <> 'src0' AND length(trim(text)) > 0)
      WHERE len(w) >= 3
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matched
    FROM csh JOIN bsh USING (shingle)
    GROUP BY doc_id
    """,
)
def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # tokens bound per branch before the shingle build (see `ngrams`)
    sh = X.ngrams(F.col("_toks"), 3)
    bench_sh = (
        docs.filter(F.col("source") == "src0")
        .select(X.tokens("text").alias("_toks"))
        .select(F.explode(sh).alias("shingle"))
        .distinct()
    )
    corp_sh = (
        docs.filter(F.col("source") != "src0")
        .select("doc_id", X.tokens("text").alias("_toks"))
        .select("doc_id", F.explode(sh).alias("shingle"))
        .distinct()
    )
    return (
        corp_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )


# ---------------------------------------------------------------------------
# Deterministic global training order (epoch shuffle): contiguous
# 1-based position under (md5(id || salt), id). Scalable distributed
# rank — 256 hash-prefix range buckets, per-bucket window, tiny offset
# table broadcast back (operators/sampling.py::hash_order_position);
# never a single-partition ROW_NUMBER.
# ---------------------------------------------------------------------------
@query(
    "training_order",
    headline=True,
    oracle="""
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (
             ORDER BY md5(CAST(doc_id AS VARCHAR) || 'epoch0'), doc_id
           ) AS BIGINT) AS position
    FROM documents
    """,
)
def training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return S.hash_order_position(docs, "doc_id", salt="epoch0").select("doc_id", "position")



# ---------------------------------------------------------------------------
# Per-source document cap: keep the 10 hash-smallest docs of every
# source — the per-domain cap every crawl curation applies so no
# single domain dominates the corpus. Skew-safe distributed rank
# (operators/sampling.py::cap_per_group): even ONE hot domain fans
# across 256 bucket windows, never a single task.
# ---------------------------------------------------------------------------
@query(
    "source_cap_sample",
    oracle="""
    SELECT doc_id, source, CAST(rn AS BIGINT) AS position
    FROM (SELECT doc_id, source,
                 ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR) || 'cap'), doc_id
                 ) AS rn
          FROM documents)
    WHERE rn <= 10
    """,
)
def source_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return S.cap_per_group(docs, "doc_id", ["source"], max_rows=10, salt="cap").select(
        "doc_id", "source", "position"
    )


# ---------------------------------------------------------------------------
# Per-source token budget: walk each source in deterministic hash
# order and keep docs while the inclusive running token count stays
# ≤ 600 — "take ~N tokens per source" corpus composition. Same
# skew-safe distributed prefix-sum as the cap above.
# ---------------------------------------------------------------------------
@query(
    "token_budget_select",
    oracle=rf"""
    WITH tok AS (
      SELECT doc_id, source, CAST({_NTOKS} AS INT) AS n_tokens FROM documents
    ), pre AS (
      SELECT doc_id, source, n_tokens,
             CAST(SUM(n_tokens) OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR) || 'budget'), doc_id
               ROWS UNBOUNDED PRECEDING
             ) AS BIGINT) AS cum_tokens
      FROM tok
    )
    SELECT doc_id, source, n_tokens, cum_tokens FROM pre WHERE cum_tokens <= 600
    """,
)
def token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", "source", X.token_count("text").alias("n_tokens"))
    return S.budget_per_group(
        toks, "doc_id", ["source"], weight="n_tokens", budget=600,
        salt="budget", out="cum_tokens",
    ).select("doc_id", "source", "n_tokens", "cum_tokens")


# ---------------------------------------------------------------------------
# End-to-end batch curation: ONE declarative plan running the full
# ingest chain — quality-rule filter → PII redaction → exact-dedup
# keep-min-id → deterministic split label (streaming/curation.py's
# `curate`, the same function the ingest stream runs — batch/stream
# parity is asserted in tests/test_streaming_curation.py). The whole
# pipeline is per-row codegen'd expressions plus ONE fingerprint
# window — a single scan of a 100 TB corpus, no per-stage rescans.
# The oracle replays every stage in SQL, so the hash check proves the
# composed decisions (kept set, canonical ids, split labels) match,
# not just each stage alone.
# ---------------------------------------------------------------------------
def _curation_oracle() -> str:
    return rf"""
    WITH feat AS (
      SELECT doc_id, text,
             CAST({_NTOKS} AS INT) AS n_tokens,
             CASE WHEN {_NTOKS} > 0
                  THEN length(regexp_replace(trim(lower(text)), '\s+', '', 'g')) / {_NTOKS}
                  ELSE 0.0 END AS mean_tok_len,
             CASE WHEN length(text) > 0
                  THEN (length(text) - length(regexp_replace(text, '[.,;:!?''"()\[\]{{}}-]', '', 'g'))) / length(text)
                  ELSE 0.0 END AS punct_ratio,
             CASE WHEN {_NTOKS} > 0 THEN {_stop_filter('en')} / {_NTOKS} ELSE 0.0 END AS stop_ratio
      FROM documents
    ), kept AS (
      -- emitted n_tokens/fingerprint describe the REDACTED text
      -- (streaming/curation.py contract); the filter judged raw text
      SELECT doc_id,
             CAST(CASE WHEN length(trim(regexp_replace(regexp_replace(regexp_replace(text, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '[IP]', 'g'), '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'), '\+?[0-9][0-9 ().-]{6,}[0-9]', '[PHONE]', 'g'))) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(lower(regexp_replace(regexp_replace(regexp_replace(text, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '[IP]', 'g'), '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'), '\+?[0-9][0-9 ().-]{6,}[0-9]', '[PHONE]', 'g'))), '\s+')) END AS INT)
               AS n_tokens,
             md5(regexp_replace(trim(lower(regexp_replace(regexp_replace(regexp_replace(text, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '[IP]', 'g'), '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'), '\+?[0-9][0-9 ().-]{6,}[0-9]', '[PHONE]', 'g'))), '\s+', ' ', 'g')) AS fingerprint
      FROM feat
      WHERE n_tokens BETWEEN 5 AND 5000
        AND mean_tok_len BETWEEN 2.0 AND 12.0
        AND punct_ratio <= 0.2
        AND stop_ratio >= 0.02
    ), dedup AS (
      SELECT *, MIN(doc_id) OVER (PARTITION BY fingerprint) AS min_id FROM kept
    )
    SELECT doc_id, n_tokens, fingerprint,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '{_T_TRAIN}' THEN 'train'
                WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '{_T_VAL}' THEN 'val'
                ELSE 'test' END AS split
    FROM dedup WHERE doc_id = min_id
    """


@query("curation_pipeline", headline=True, oracle=_curation_oracle())
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from elective_waiting_times_pipeline_spark.streaming.curation import curate

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # skew-safe keep-min: MIN per fingerprint is a map-side-combinable
    # agg + narrow rejoin, not a window — a mega-dup fingerprint would
    # buffer every copy in one unsplittable window task. The curated
    # relation is digest-narrow and feeds both consumers, so it gets
    # the standard reuse barrier.
    cur = curate(docs).select(
        "doc_id", "n_tokens", "fingerprint", "split"
    ).localCheckpoint(eager=False)
    winners = cur.groupBy("fingerprint").agg(F.min("doc_id").alias("_min"))
    return (
        cur.join(winners, "fingerprint")
        .filter(F.col("doc_id") == F.col("_min"))
        .select("doc_id", "n_tokens", "fingerprint", "split")
    )


# ---------------------------------------------------------------------------
# Unigram log-probability scoring (CCNet-style perplexity proxy): mean
# smoothed corpus-MLE unigram logprob per doc — the LM-based quality
# filter's first rung. Token-count table joins on the token key (vocab
# scales with language, not corpus — never broadcast); per-token ln()
# snapped to integer micros in BOTH engines so the mean is an exact
# integer sum, immune to float summation order.
# ---------------------------------------------------------------------------
@query(
    "unigram_logprob",
    headline=True,
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS}) AS tok FROM documents WHERE {_NTOKS} >= 1
    ), tf AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2
    ), cnt AS (
      SELECT tok, CAST(SUM(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1
    ), tot AS (
      SELECT CAST(SUM(cnt) AS DOUBLE) AS n_total, CAST(COUNT(*) AS DOUBLE) AS vocab
      FROM cnt
    ), lp AS (
      SELECT t.doc_id, t.tf,
             CAST(floor(ln((c.cnt + 0.5) / (tot.n_total + 0.5 * tot.vocab)) * 1000000 + 0.5) AS BIGINT) AS lpm
      FROM tf t JOIN cnt c USING (tok), tot
    )
    SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
           ROUND(SUM(tf * lpm) / CAST(SUM(tf) AS DOUBLE) / 1000000, 6) AS mean_logprob
    FROM lp GROUP BY doc_id
    """,
)
def unigram_logprob_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return X.unigram_logprob(docs)


# ---------------------------------------------------------------------------
# Bigram LM scoring with stupid backoff (alpha = 0.4) — the n-gram
# step up from unigram_logprob and the classic perplexity-style
# quality filter: train the LM on half the corpus (even doc_id),
# score the held-out half (odd doc_id), so unseen bigrams genuinely
# exercise the backoff branch. Per adjacent pair (w1, w2):
# ln(bcnt/cnt(w1)) if the train corpus saw the bigram, else
# ln(0.4 * (cnt(w2)+0.5) / (N+0.5V)) (add-half smoothing covers OOV
# w2). Each pair's ln() micro-snaps in BOTH engines before the
# per-doc mean, so the aggregate is an exact integer sum. Scale
# shape: bigram/unigram score tables are vocab-bounded and joined ON
# KEY (never broadcast — vocabulary scales with language); the
# corpus-sized pair stream is touched once per join; the N/V totals
# ride a broadcast 1-row cross join.
# ---------------------------------------------------------------------------
@query(
    "bigram_backoff_logprob",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS w FROM documents WHERE {_NTOKS} >= 1
    ), tr AS (
      SELECT unnest(w) AS tok FROM toks WHERE doc_id % 2 = 0
    ), uni AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM tr GROUP BY 1
    ), tot AS (
      SELECT CAST(SUM(cnt) AS DOUBLE) AS n_total, CAST(COUNT(*) AS DOUBLE) AS vocab
      FROM uni
    ), pr AS (
      SELECT doc_id, unnest(w[1:len(w)-1]) AS w1, unnest(w[2:len(w)]) AS w2
      FROM toks WHERE len(w) >= 2
    ), bis AS (
      SELECT b.w1, b.w2,
             CAST(floor(ln(CAST(b.bcnt AS DOUBLE) / u.cnt) * 1000000 + 0.5) AS BIGINT) AS lbm
      FROM (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS bcnt
            FROM pr WHERE doc_id % 2 = 0 GROUP BY 1, 2) b
      JOIN uni u ON u.tok = b.w1
    ), uns AS (
      SELECT tok,
             CAST(floor(ln(0.4 * (cnt + 0.5) / (tot.n_total + 0.5 * tot.vocab)) * 1000000 + 0.5) AS BIGINT) AS lum
      FROM uni, tot
    ), sc AS (
      SELECT p.doc_id,
             COALESCE(bs.lbm, us.lum,
                      CAST(floor(ln(0.4 * 0.5 / (t.n_total + 0.5 * t.vocab)) * 1000000 + 0.5) AS BIGINT)) AS lpm
      FROM pr p
      LEFT JOIN bis bs ON bs.w1 = p.w1 AND bs.w2 = p.w2
      LEFT JOIN uns us ON us.tok = p.w2, tot t
      WHERE p.doc_id % 2 = 1
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(SUM(lpm) / CAST(COUNT(*) AS DOUBLE) / 1000000, 6) AS mean_logprob
    FROM sc GROUP BY doc_id
    """,
)
def bigram_backoff_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", X.tokens("text").alias("w")).filter(F.size("w") >= 1)

    def pairs(df: DataFrame) -> DataFrame:
        return (
            df.filter(F.size("w") >= 2)
            .select("doc_id", F.explode(X.bigram_pairs(F.col("w"))).alias("p"))
            .select("doc_id", F.col("p.x").alias("w1"), F.col("p.y").alias("w2"))
        )

    train = toks.filter(F.col("doc_id") % 2 == 0)
    # three consumers (tot, the bis join, uns) — pin the vocab-bounded
    # unigram count table (class A) or each re-runs the train-half
    # corpus tokenize+explode (audited: 4 parquet scans, only 2 reused)
    uni = (
        train.select(F.explode("w").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    tot = uni.agg(
        F.sum("cnt").cast("double").alias("n_total"),
        F.count(F.lit(1)).cast("double").alias("vocab"),
    )
    bis = (
        pairs(train)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("bcnt"))
        .join(uni.withColumnRenamed("tok", "w1"), "w1")
        .select(
            "w1",
            "w2",
            F.floor(
                F.log(F.col("bcnt").cast("double") / F.col("cnt")) * 1000000 + 0.5
            )
            .cast("long")
            .alias("lbm"),
        )
    )
    uns = uni.crossJoin(F.broadcast(tot)).select(
        "tok",
        F.floor(
            F.log(
                0.4 * (F.col("cnt") + 0.5) / (F.col("n_total") + 0.5 * F.col("vocab"))
            )
            * 1000000
            + 0.5
        )
        .cast("long")
        .alias("lum"),
    )
    oov = (
        F.floor(
            F.log(0.4 * 0.5 / (F.col("n_total") + 0.5 * F.col("vocab"))) * 1000000 + 0.5
        )
    ).cast("long")
    sc = (
        pairs(toks.filter(F.col("doc_id") % 2 == 1))
        .join(bis, ["w1", "w2"], "left")
        .join(uns.withColumnRenamed("tok", "w2"), "w2", "left")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", F.coalesce("lbm", "lum", oov).alias("lpm"))
    )
    return sc.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(
            F.sum("lpm") / F.count(F.lit(1)).cast("double") / 1000000, 6
        ).alias("mean_logprob"),
    )


# ---------------------------------------------------------------------------
# Within-document sliding-window chunking (RAG / long-context prep):
# 64-token windows, stride 48. Shuffle-free — tokenize once, explode a
# chunk-index sequence, slice the token array; streams the corpus at
# scan speed with output amplification window/stride.
# ---------------------------------------------------------------------------
@query(
    "chunk_sliding_window",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, {_TOKS} AS w, CAST({_NTOKS} AS INT) AS n
      FROM documents WHERE {_NTOKS} >= 1
    ), c AS (
      SELECT doc_id, w, n,
             CASE WHEN n <= 64 THEN 1 ELSE ((n - 64 + 47) // 48) + 1 END AS n_chunks
      FROM t
    ), e AS (
      SELECT doc_id, w, n, unnest(range(n_chunks)) AS chunk_idx FROM c
    )
    SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
           CAST(chunk_idx * 48 AS INT) AS start_tok,
           CAST(least(64, n - chunk_idx * 48) AS INT) AS n_chunk_tokens,
           array_to_string(list_slice(w, chunk_idx * 48 + 1, chunk_idx * 48 + 64), ' ') AS chunk_text
    FROM e
    """,
)
def chunk_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return P.sliding_chunks(docs, window=64, stride=48)


# ---------------------------------------------------------------------------
# BM25 top-k retrieval (Okapi, k1=1.2 b=0.75) for a fixed query bag —
# the lexical-search baseline beside tfidf_top_terms. One corpus
# tokenize feeds tf / doclen / df; only query-term rows reach the
# score join; top-k is TakeOrderedAndProject. Per-term scores snap to
# integer micros in both engines, so ranking is float-order-immune.
# ---------------------------------------------------------------------------
_BM25_TERMS = "'hash', 'join', 'filter', 'scan'"


@query(
    "bm25_topk",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS}) AS tok FROM documents WHERE {_NTOKS} >= 1
    ), tf AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2
    ), dl AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY 1
    ), st AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
      FROM dl
    ), dfq AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
    ), sc AS (
      SELECT t.doc_id,
             CAST(floor((ln((st.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
                   * (t.tf * 2.2)
                   / (t.tf + 1.2 * (0.25 + 0.75 * (l.dl / st.avgdl)))) * 1000000 + 0.5) AS BIGINT) AS spm
      FROM tf t JOIN dfq d USING (tok) JOIN dl l USING (doc_id), st
      WHERE t.tok IN ({_BM25_TERMS})
    )
    SELECT doc_id, ROUND(SUM(spm) / 1000000.0, 6) AS bm25
    FROM sc GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id
    LIMIT 10
    """,
)
def bm25_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return X.bm25_topk(docs, ["hash", "join", "filter", "scan"], k=10)


# ---------------------------------------------------------------------------
# Lang-ID confusion matrix vs the corpus's ground-truth `lang` column:
# (truth, prediction, count) — quantifies the stopword heuristic
# (e.g. zh has no stopword list → predicted 'und'). Profile and truth
# co-key on doc_id; the oracle nests the generated lang-ID SQL as a
# subquery so both stages replay end-to-end.
# ---------------------------------------------------------------------------
@query(
    "lang_id_confusion",
    oracle=f"""
    SELECT d.lang, p.lang_pred, CAST(COUNT(*) AS BIGINT) AS n
    FROM documents d JOIN ({_langid_oracle()}) p USING (doc_id)
    GROUP BY 1, 2
    """,
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pred = X.lang_id_profile(docs)
    return (
        docs.select("doc_id", "lang")
        .join(pred, "doc_id")
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Temperature-balanced mixture (alpha=0.5, ~200 docs): per-source keep
# probability ∝ n_s^alpha, the multilingual balancing rule. The whole
# derivation (sizes → normalizer → quantized thresholds → hash
# compare) runs inside the plan; the oracle replays it verbatim.
# ---------------------------------------------------------------------------
@query(
    "mixture_temperature",
    oracle="""
    WITH sz AS (
      SELECT source, CAST(COUNT(*) AS DOUBLE) AS n FROM documents GROUP BY 1
    ), z AS (
      SELECT SUM(pow(n, 0.5)) AS z FROM sz
    ), th AS (
      SELECT source, p,
             printf('%04x', CAST(least(floor(p * 65536 + 0.5), 65535) AS INT)) AS t
      FROM (SELECT source, least(1.0, 200.0 * pow(n, 0.5) / z.z / n) AS p FROM sz, z)
    )
    SELECT d.doc_id, d.source
    FROM documents d JOIN th USING (source)
    WHERE th.p >= 1.0
       OR substr(md5(CAST(d.doc_id AS VARCHAR) || 'temp'), 1, 4) < th.t
    """,
)
def mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return S.temperature_mixture(
        docs, "doc_id", "source", alpha=0.5, target_rows=200, salt="temp"
    ).select("doc_id", "source")


# ---------------------------------------------------------------------------
# Dedup keep-LONGEST: per near-dup cluster keep the doc with the most
# characters (tie → min doc_id) — the common alternative to min-id
# canonical when near-dups are truncations/excerpts of a fuller
# original. Same transitive closure; one window over (cluster_id).
# ---------------------------------------------------------------------------
@query(
    "dedup_keep_longest",
    oracle=_CLUSTERS_CTE
    + """
    , clus AS (
      SELECT v AS doc_id, MIN(l) AS cluster_id FROM reach GROUP BY v
    ), scored AS (
      SELECT c.doc_id, c.cluster_id, d.n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY c.cluster_id ORDER BY d.n_chars DESC, c.doc_id
             ) AS rn
      FROM clus c JOIN documents d USING (doc_id)
    )
    SELECT doc_id, cluster_id, CAST(n_chars AS BIGINT) AS n_chars
    FROM scored WHERE rn = 1
    """,
)
def dedup_keep_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Reads the persisted cluster store (see dedup_keep_canonical):
    # the second decision over the same closure pays one join + one
    # per-cluster window, not a recomputed clustering.
    from elective_waiting_times_pipeline_spark.operators.cluster import (
        keep_longest_from_store,
    )

    docs = load_table(spark, sf_dir, "documents")
    store = _cluster_store(spark, sf_dir)
    return keep_longest_from_store(docs, store).select(
        "doc_id", "cluster_id", F.col("n_chars").cast("long").alias("n_chars")
    )


# ---------------------------------------------------------------------------
# Heavy hitters: terms holding >= `support` of a source's token mass.
# The exact counterpart of a Misra-Gries/Space-Saving sketch — and at
# any scale it is just two map-side-combinable hash aggregations
# ((source, term) counts, then per-source totals) plus a broadcast of
# the |sources|-row totals; the raw corpus is tokenized once and never
# re-shuffled at document granularity.
# ---------------------------------------------------------------------------
@query(
    "heavy_hitter_terms",
    oracle=r"""
    WITH tok AS (
      SELECT source, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
      FROM documents WHERE length(trim(text)) > 0
    ), counts AS (
      SELECT source, term, COUNT(*) AS n FROM tok WHERE term <> '' GROUP BY 1, 2
    ), totals AS (
      SELECT source, SUM(n) AS total FROM counts GROUP BY 1
    )
    SELECT c.source, c.term, CAST(c.n AS BIGINT) AS n,
           ROUND(CAST(c.n AS DOUBLE) / total, 6) AS share
    FROM counts c JOIN totals USING (source)
    WHERE ROUND(CAST(c.n AS DOUBLE) / total, 6) >= 0.03
    """,
)
def heavy_hitter_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.filter(F.length(F.trim("text")) > 0)
        .select("source", F.explode(X.tokens("text")).alias("term"))
        .filter(F.col("term") != "")
    )
    counts = tok.groupBy("source", "term").agg(F.count(F.lit(1)).alias("n"))
    totals = counts.groupBy("source").agg(F.sum("n").alias("total"))
    return (
        counts.join(F.broadcast(totals), "source")
        .withColumn("share", F.round(F.col("n") / F.col("total"), 6))
        .filter(F.col("share") >= 0.03)
        .select("source", "term", F.col("n").cast("long").alias("n"), "share")
    )


# ---------------------------------------------------------------------------
# Corpus profile (the dataset "datasheet" report): per (source, lang)
# doc counts, token mass, length stats + exact length quantiles, and
# each stratum's share of total corpus tokens. Two hash aggs (the
# second is |strata| rows) + a broadcast of the 1-row total — the
# shape of every corpus-report job at 100 TB.
# ---------------------------------------------------------------------------
@query(
    "corpus_profile",
    oracle=rf"""
    WITH d AS (
      SELECT source, lang, n_chars, {_NTOKS} AS n_tokens FROM documents
    ), g AS (
      SELECT source, lang,
             COUNT(*) AS n_docs,
             SUM(n_tokens) AS total_tokens,
             SUM(n_chars) AS sc,
             ROUND(quantile_cont(n_chars, 0.5), 4) AS p50_chars,
             ROUND(quantile_cont(n_chars, 0.9), 4) AS p90_chars
      FROM d GROUP BY 1, 2
    ), t AS (SELECT SUM(total_tokens) AS tot FROM g)
    SELECT source, lang,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(total_tokens AS BIGINT) AS total_tokens,
           ROUND(CAST(sc AS DOUBLE) / n_docs, 6) AS avg_chars,
           p50_chars, p90_chars,
           ROUND(CAST(total_tokens AS DOUBLE) / tot, 6) AS token_share
    FROM g, t
    """,
)
def corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    g = (
        docs.withColumn("n_tokens", X.token_count("text"))
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.sum("n_chars").alias("sc"),
            F.round(F.percentile("n_chars", F.lit(0.5)), 4).alias("p50_chars"),
            F.round(F.percentile("n_chars", F.lit(0.9)), 4).alias("p90_chars"),
        )
    )
    tot = g.agg(F.sum("total_tokens").alias("tot"))
    return g.crossJoin(F.broadcast(tot)).select(
        "source",
        "lang",
        "n_docs",
        "total_tokens",
        F.round(F.col("sc") / F.col("n_docs"), 6).alias("avg_chars"),
        "p50_chars",
        "p90_chars",
        F.round(F.col("total_tokens") / F.col("tot"), 6).alias("token_share"),
    )


# ---------------------------------------------------------------------------
# Feature-hashing TF vectors (the hashing trick / MLlib HashingTF
# shape): no vocabulary pass, bounded width, one explode + one hash
# agg + a conditional-sum collapse to a dense array.
# ---------------------------------------------------------------------------
_TF_NIB = "(instr('0123456789abcdef', substr(md5(tok), {p}, 1)) - 1)"
_TF_SLOT = f"(({_TF_NIB.format(p=1)} * 16 + {_TF_NIB.format(p=2)}) % 16)"


@query(
    "hashing_tf",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
      FROM documents WHERE length(trim(text)) > 0
    ), slots AS (
      SELECT doc_id, {_TF_SLOT} AS slot, COUNT(*) AS cnt
      FROM toks WHERE tok <> '' GROUP BY 1, 2
    ), dense AS (
      -- token-less docs keep a row: all-zeros vector (left join)
      SELECT d.doc_id,
             [{", ".join(f"CAST(COALESCE(SUM(CASE WHEN s.slot = {i} THEN s.cnt END), 0) AS INT)" for i in range(16))}] AS tf
      FROM documents d LEFT JOIN slots s ON d.doc_id = s.doc_id
      GROUP BY d.doc_id
    )
    SELECT doc_id,
           CAST(generate_subscripts(tf, 1) - 1 AS INT) AS slot,
           CAST(unnest(tf) AS INT) AS tf_cnt
    FROM dense
    """,
)
def hashing_tf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # posexplode the dense vector: the driver comparator needs scalar
    # columns; the array-valued API is X.hashing_tf itself
    docs = load_table(spark, sf_dir, "documents")
    tf = X.hashing_tf(docs, n_features=16)
    return tf.select("doc_id", F.posexplode("tf").alias("slot", "tf_cnt"))


# ---------------------------------------------------------------------------
# Cross-source duplication report: exact-fingerprint Jaccard between
# every pair of sources — "which feeds are shipping the same
# documents". DISTINCT (source, fingerprint) first, so a document
# duplicated a million times inside one source still contributes ONE
# row per source and the fingerprint self-join fan-out is bounded by
# C(|sources|, 2) per fingerprint, never by copy counts.
# ---------------------------------------------------------------------------
@query(
    "source_overlap",
    oracle=r"""
    WITH fp AS (
      SELECT DISTINCT source,
             md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS f
      FROM documents
    ), sizes AS (
      SELECT source, COUNT(*) AS n FROM fp GROUP BY 1
    ), inter AS (
      SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS shared
      FROM fp a JOIN fp b ON a.f = b.f AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT src_a, src_b, CAST(shared AS BIGINT) AS shared,
           ROUND(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.source = src_a
    JOIN sizes sb ON sb.source = src_b
    """,
)
def source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select("source", X.fingerprint_md5("text").alias("f")).distinct()
    sizes = fp.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a, b = fp.alias("a"), fp.alias("b")
    inter = (
        a.join(b, (F.col("a.f") == F.col("b.f")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = F.broadcast(sizes.select(F.col("source").alias("src_a"), F.col("n").alias("na")))
    sb = F.broadcast(sizes.select(F.col("source").alias("src_b"), F.col("n").alias("nb")))
    return (
        inter.join(sa, "src_a")
        .join(sb, "src_b")
        .select(
            "src_a",
            "src_b",
            F.col("shared").cast("long").alias("shared"),
            F.round(F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared")), 6).alias(
                "jaccard"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Per-source KL divergence vs the corpus unigram distribution — the
# drift detector for "which feed stopped looking like the rest of the
# training mix". Smoothed (add-1/2) over the shared vocabulary; the
# sources x vocab grid is two tiny aggregates cross-joined, so cost is
# vocabulary-bounded after ONE corpus tokenize. Determinism: with
# alpha = 1/2, sum_t (cnt_s+1/2)*lr_t rewrites to an exact integer sum
# of (2*cnt_s+1)*lr_micros (each term's single ln snapped to integer
# micros, the unigram_logprob trick), accumulated as DECIMAL(38,0)/
# HUGEINT so petascale token counts can't overflow, divided once at
# the end.
# ---------------------------------------------------------------------------
@query(
    "source_divergence",
    oracle=rf"""
    WITH toks AS (
      SELECT source, unnest({_TOKS}) AS tok FROM documents WHERE {_NTOKS} >= 1
    ), sc AS (
      SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS cnt_s FROM toks GROUP BY 1, 2
    ), cc AS (
      SELECT tok, CAST(SUM(cnt_s) AS BIGINT) AS cnt FROM sc GROUP BY 1
    ), stot AS (
      SELECT source, CAST(SUM(cnt_s) AS BIGINT) AS n_s FROM sc GROUP BY 1
    ), tot AS (
      SELECT CAST(SUM(cnt) AS DOUBLE) AS n_total, CAST(COUNT(*) AS DOUBLE) AS vocab
      FROM cc
    ), grid AS (
      SELECT st.source, st.n_s, c.tok, c.cnt, COALESCE(s.cnt_s, 0) AS cnt_s,
             tot.n_total, tot.vocab
      FROM stot st CROSS JOIN cc c
      LEFT JOIN sc s ON s.source = st.source AND s.tok = c.tok, tot
    ), terms AS (
      SELECT source, n_s, n_total, vocab,
             CAST(2 * cnt_s + 1 AS HUGEINT)
               * CAST(floor(ln(((cnt_s + 0.5) * (n_total + 0.5 * vocab))
                              / ((cnt + 0.5) * (n_s + 0.5 * vocab))) * 1000000 + 0.5)
                      AS BIGINT) AS term
      FROM grid
    )
    SELECT source, CAST(n_s AS BIGINT) AS n_tokens,
           ROUND(CAST(SUM(term) AS DOUBLE) / 2 / (n_s + 0.5 * vocab) / 1000000, 6)
             AS kl_divergence
    FROM terms GROUP BY source, n_s, vocab
    """,
)
def source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(X.tokens("text")).alias("tok"))
    sc = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("cnt_s"))
    cc = sc.groupBy("tok").agg(F.sum("cnt_s").alias("cnt"))
    stot = sc.groupBy("source").agg(F.sum("cnt_s").alias("n_s"))
    tot = cc.agg(
        F.sum("cnt").cast("double").alias("n_total"),
        F.count(F.lit(1)).cast("double").alias("vocab"),
    )
    grid = (
        stot.crossJoin(cc)
        .join(sc, ["source", "tok"], "left")
        .withColumn("cnt_s", F.coalesce("cnt_s", F.lit(0)))
        .crossJoin(F.broadcast(tot))
    )
    lr = F.log(
        ((F.col("cnt_s") + 0.5) * (F.col("n_total") + 0.5 * F.col("vocab")))
        / ((F.col("cnt") + 0.5) * (F.col("n_s") + 0.5 * F.col("vocab")))
    )
    lrm = F.floor(lr * F.lit(1e6) + F.lit(0.5)).cast("long")
    term = (2 * F.col("cnt_s") + 1).cast("decimal(38,0)") * lrm
    return (
        grid.withColumn("term", term)
        .groupBy("source", "n_s", "vocab")
        .agg(
            F.round(
                F.sum("term").cast("double") / 2 / (F.col("n_s") + 0.5 * F.col("vocab")) / 1e6,
                6,
            ).alias("kl_divergence")
        )
        .select(F.col("source"), F.col("n_s").cast("long").alias("n_tokens"), "kl_divergence")
    )


# ---------------------------------------------------------------------------
# Zipf fit: slope of ln(freq) ~ ln(rank) over the corpus term
# distribution — the one-number sanity check that a text corpus is
# natural-language-shaped (slope near -1) rather than templated or
# vocab-collapsed. Ranks from the tie-permutable distributed rank
# (see the builder — no vocabulary-sized window); both axes
# snapped to integer MILLIS; sums accumulate as DECIMAL(38,0) /
# HUGEINT so the closed-form regression stays exact at ANY vocabulary
# (k*sxx ~ V^2 ln^2 V * 1e6 leaves int64 around V ~ 250k).
# ---------------------------------------------------------------------------
@query(
    "zipf_fit",
    headline=True,
    oracle=rf"""
    WITH toks AS (
      SELECT unnest({_TOKS}) AS tok FROM documents WHERE length(trim(text)) > 0
    ), cnt AS (
      SELECT tok, COUNT(*) AS n FROM toks WHERE tok <> '' GROUP BY 1
    ), ranked AS (
      SELECT CAST(floor(ln(ROW_NUMBER() OVER (ORDER BY n DESC, tok)) * 1000 + 0.5) AS BIGINT) AS lx,
             CAST(floor(ln(n) * 1000 + 0.5) AS BIGINT) AS ly
      FROM cnt
    ), s AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS k,
             CAST(SUM(lx) AS HUGEINT) AS sx, CAST(SUM(ly) AS HUGEINT) AS sy,
             CAST(SUM(lx * ly) AS HUGEINT) AS sxy, CAST(SUM(lx * lx) AS HUGEINT) AS sxx
      FROM ranked
    )
    SELECT CAST(k AS BIGINT) AS n_terms,
           ROUND(CAST(k * sxy - sx * sy AS DOUBLE)
                 / CAST(k * sxx - sx * sx AS DOUBLE), 6) AS zipf_slope
    FROM s
    """,
)
def zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Distributed vocabulary rank — no vocab-sized window. The output
    # consumes only SUMS of f(rank) per count group (ly = ln n is
    # constant within a group), so ranks may be permuted WITHIN a tie
    # group of equal n without changing the answer. That licenses the
    # fully parallel construction:
    #   1. per-count relation (n, #tokens with that count) — its
    #      exclusive prefix sum in (n DESC) order is each group's rank
    #      offset, computed with the range-bucket distributed prefix
    #      (ordered_prefix) so even the count-distribution relation
    #      never needs a global window;
    #   2. within a count group, the 256-way hash-bucketed row_number
    #      (partition (n, hash byte) — breaks the n=1 mega-tie that
    #      value-range cuts alone cannot split);
    #   3. the per-(n, hash-bucket) offsets and the per-n group offsets
    #      merge on the SMALL side first, so the single vocab-sized
    #      join keys on (n, bucket) — skew-free by the bucket component
    #      and AQE-broadcastable when small.
    from elective_waiting_times_pipeline_spark.operators import sampling as S

    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.filter(F.length(F.trim("text")) > 0)
        .select(F.explode(X.tokens("text")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    # checkpoint the narrow (tok, n) relation: the cut-points action
    # and the ranked plan would otherwise EACH replay the token
    # explode + count (same fix as curriculum_order's scored relation)
    cnt = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n")).localCheckpoint(eager=False)
    b = cnt.withColumn("_hh", F.md5("tok")).withColumn(
        "_bk", F.conv(F.substring("_hh", 1, 2), 16, 10).cast("long")
    )
    wiw = Window.partitionBy("n", "_bk").orderBy("_hh", "tok")
    within = b.withColumn("_rn", F.row_number().over(wiw))
    cell = b.groupBy("n", "_bk").agg(F.count(F.lit(1)).alias("_cn"))
    cw = Window.partitionBy("n").orderBy("_bk").rowsBetween(Window.unboundedPreceding, -1)
    cell = cell.withColumn("_boff", F.coalesce(F.sum("_cn").over(cw), F.lit(0)))
    per_n = cell.groupBy("n").agg(F.sum("_cn").alias("_gn"))
    goff = S.value_prefix(
        per_n,
        "n",
        descending=True,
        weight="_gn",
        out_prefix="_cum",
    ).select("n", (F.col("_cum") - F.col("_gn")).alias("_goff"))
    side = cell.join(goff, "n").select("n", "_bk", (F.col("_goff") + F.col("_boff")).alias("_off"))
    ranked = (
        within.join(side, ["n", "_bk"])
        .withColumn("_rank", F.col("_off") + F.col("_rn"))
        .select(
            F.floor(F.log(F.col("_rank").cast("double")) * 1000 + 0.5).cast("long").alias("lx"),
            F.floor(F.log(F.col("n").cast("double")) * 1000 + 0.5).cast("long").alias("ly"),
        )
    )
    dec = "decimal(38,0)"
    s = ranked.agg(
        F.count(F.lit(1)).cast(dec).alias("k"),
        F.sum("lx").cast(dec).alias("sx"),
        F.sum("ly").cast(dec).alias("sy"),
        F.sum((F.col("lx") * F.col("ly")).cast(dec)).alias("sxy"),
        F.sum((F.col("lx") * F.col("lx")).cast(dec)).alias("sxx"),
    )
    return s.select(
        F.col("k").cast("long").alias("n_terms"),
        F.round(
            (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / (F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"),
            6,
        ).alias("zipf_slope"),
    )


# ---------------------------------------------------------------------------
# Curriculum ordering: train easy-to-hard by quality bucket, shuffled
# WITHIN each bucket. Decile of the unigram-LM quality score (higher
# logprob = more typical = earlier) is the major key; the
# deterministic hash rank is the minor key — so curricula stay
# reproducible and a bucket's internal order is still an unbiased
# shuffle. Composes two existing kernels (unigram_logprob +
# hash-order) in one plan. Both global windows of the naive form are
# replaced by the range-bucket distributed rank
# (sampling.ordered_prefix): exact NTILE from (global rank, N), exact
# position from the (bucket, hash-byte) bucketing — no corpus-sized
# single-partition window anywhere in the plan.
# ---------------------------------------------------------------------------
@query(
    "curriculum_order",
    headline=True,
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS}) AS tok FROM documents WHERE {_NTOKS} >= 1
    ), tf AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2
    ), cnt AS (
      SELECT tok, CAST(SUM(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1
    ), tot AS (
      SELECT CAST(SUM(cnt) AS DOUBLE) AS n_total, CAST(COUNT(*) AS DOUBLE) AS vocab
      FROM cnt
    ), lp AS (
      SELECT t.doc_id, t.tf,
             CAST(floor(ln((c.cnt + 0.5) / (tot.n_total + 0.5 * tot.vocab)) * 1000000 + 0.5) AS BIGINT) AS lpm
      FROM tf t JOIN cnt c USING (tok), tot
    ), scored AS (
      SELECT doc_id,
             ROUND(SUM(tf * lpm) / CAST(SUM(tf) AS DOUBLE) / 1000000, 6) AS mean_logprob
      FROM lp GROUP BY doc_id
    ), bucketed AS (
      SELECT doc_id, mean_logprob,
             CAST(NTILE(10) OVER (ORDER BY mean_logprob DESC, doc_id) AS INT) AS bucket
      FROM scored
    )
    SELECT doc_id, mean_logprob, bucket,
           CAST(ROW_NUMBER() OVER (
                  ORDER BY bucket,
                           substr(md5(CAST(doc_id AS VARCHAR) || 'curriculum'), 1, 4),
                           doc_id) AS BIGINT) AS position
    FROM bucketed
    """,
)
def curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale-safe form of NTILE(10) + global ROW_NUMBER: neither window
    # is ever corpus-sized. Stage A computes the EXACT global rank
    # under (mean_logprob DESC, doc_id) with the range-bucket
    # distributed rank (sampled cut points steer parallelism
    # only), then derives the exact NTILE bucket from (rank, N) with
    # the SQL-standard formula — first N%10 buckets get one extra row.
    # Stage B computes the final position with the same machinery
    # under (bucket, hash, doc_id), bucketed by (bucket, first hash
    # byte) — a monotone prefix of that order.
    from elective_waiting_times_pipeline_spark.operators import sampling as S

    docs = load_table(spark, sf_dir, "documents")
    # checkpoint the scored relation: the cut-points action and the
    # rank plan would otherwise EACH recompute the unigram-LM pass
    # (explode + model join) — the narrow (doc_id, score) projection
    # is the cheap thing to keep, the token pipeline is not
    scored = (
        X.unigram_logprob(docs).select("doc_id", "mean_logprob").localCheckpoint(eager=False)
    )
    ranked = S.value_prefix(
        scored,
        "mean_logprob",
        ["doc_id"],
        descending=True,
        out_pos="_r",
        out_total="_N",
        # scored is checkpointed: a second scan of it is cheaper than
        # the second sort+window the offsets branch otherwise pays
        offsets_from_source=True,
    )
    q = F.floor(F.col("_N") / 10)
    rem = F.col("_N") % 10
    big = rem * (q + 1)
    ntile10 = F.when(
        F.col("_r") <= big, F.floor((F.col("_r") - 1) / (q + 1)) + 1
    ).otherwise(rem + F.floor((F.col("_r") - big - 1) / q) + 1)
    bucketed = ranked.withColumn("bucket", ntile10.cast("int")).drop("_r", "_N")
    h = F.substring(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("curriculum"))), 1, 4)
    staged = bucketed.withColumn("_h4", h)
    cb = F.col("bucket").cast("long") * 256 + F.conv(F.substring("_h4", 1, 2), 16, 10).cast("long")
    out = S.ordered_prefix(
        staged,
        [F.col("bucket"), F.col("_h4"), F.col("doc_id")],
        cb,
        out_pos="position",
    )
    return out.select("doc_id", "mean_logprob", "bucket", "position")


# ---------------------------------------------------------------------------
# Per-source duplication report (dedup observability): how much of
# each feed is exact-duplicate bulk — distinct fingerprints vs docs,
# and the share of rows a min-id dedup would drop. Two aggs over the
# fingerprint projection.
# ---------------------------------------------------------------------------
@query(
    "dedup_rate_by_source",
    oracle=r"""
    WITH fp AS (
      SELECT source, md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS f
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT f) AS BIGINT) AS n_distinct,
           ROUND(CAST(COUNT(*) - COUNT(DISTINCT f) AS DOUBLE) / COUNT(*), 6)
             AS dup_rate
    FROM fp GROUP BY source
    """,
)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select("source", X.fingerprint_md5("text").alias("f"))
    return fp.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("f").alias("n_distinct"),
        F.round(
            (F.count(F.lit(1)) - F.count_distinct("f")) / F.count(F.lit(1)), 6
        ).alias("dup_rate"),
    )


# ---------------------------------------------------------------------------
# Chi-square test of independence (lang x source contingency): are
# languages distributed independently of feeds? Observed counts are
# exact; each cell's (O-E)^2/E contribution is snapped to integer
# micros (the ln-snap trick applied to chi-square terms), so the
# statistic is an exact integer sum over the |lang| x |source| cell
# relation — order-free and engine-identical.
# ---------------------------------------------------------------------------
@query(
    "chi_square_independence",
    oracle="""
    WITH obs AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o FROM documents GROUP BY 1, 2
    ), rows_ AS (SELECT lang, SUM(o) AS rn FROM obs GROUP BY 1),
    cols_ AS (SELECT source, SUM(o) AS cn FROM obs GROUP BY 1),
    tot AS (SELECT SUM(o) AS n FROM obs),
    cells AS (
      SELECT o.lang, o.source,
             CAST(floor(
               (o.o - CAST(r.rn AS DOUBLE) * c.cn / t.n)
               * (o.o - CAST(r.rn AS DOUBLE) * c.cn / t.n)
               / (CAST(r.rn AS DOUBLE) * c.cn / t.n) * 1000000 + 0.5) AS BIGINT) AS chi_u
      FROM obs o JOIN rows_ r USING (lang) JOIN cols_ c USING (source), tot t
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           ROUND(CAST(SUM(chi_u) AS DOUBLE) / 1000000, 4) AS chi_square
    FROM cells
    """,
)
def chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # four consumers (row/col margins, total, cells) — pin the
    # |lang|x|source| cell table (class A) or each re-runs the corpus
    # scan+agg (audited: 4 parquet scans in the final plan)
    obs = (
        docs.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("o"))
        .localCheckpoint(eager=False)
    )
    rows_ = obs.groupBy("lang").agg(F.sum("o").alias("rn"))
    cols_ = obs.groupBy("source").agg(F.sum("o").alias("cn"))
    tot = obs.agg(F.sum("o").alias("n"))
    e = F.col("rn").cast("double") * F.col("cn") / F.col("n")
    chi_u = F.floor((F.col("o") - e) * (F.col("o") - e) / e * 1000000 + 0.5).cast("long")
    cells = (
        obs.join(F.broadcast(rows_), "lang")
        .join(F.broadcast(cols_), "source")
        .crossJoin(F.broadcast(tot))
        .select(chi_u.alias("chi_u"))
    )
    return cells.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.round(F.sum("chi_u").cast("double") / 1000000, 4).alias("chi_square"),
    )


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis-Spirakis A-ES):
# keep the k docs with the largest ln(u)/w, u a deterministic md5
# hex-grid uniform in (0,1] and w = n_chars — one scan + TakeOrdered,
# reproducible under reruns and repartitioning like every sampler in
# this engine. ln(u) is micro-snapped so the ranking key is the same
# exact double in both engines.
# ---------------------------------------------------------------------------
@query(
    "weighted_sample",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, n_chars,
             CAST(floor(ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'wsamp'), 1, 4))::INTEGER + 1)
                           / 65536.0) * 1000000 + 0.5) AS BIGINT) AS lnu
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
           ROUND(CAST(lnu AS DOUBLE) / n_chars / 1000000, 6) AS es_key
    FROM keyed
    ORDER BY es_key DESC, doc_id
    LIMIT 100
    """,
)
def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (
        F.conv(F.substring(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("wsamp"))), 1, 4), 16, 10).cast("long")
        + 1
    ) / 65536.0
    lnu = F.floor(F.log(u) * 1000000 + 0.5).cast("long")
    return (
        docs.select(
            "doc_id",
            F.col("n_chars").cast("long").alias("n_chars"),
            F.round(lnu.cast("double") / F.col("n_chars") / 1000000, 6).alias("es_key"),
        )
        .orderBy(F.col("es_key").desc(), "doc_id")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Gini concentration of token mass per source: does one document
# dominate the feed? Exact rank form G = 2*sum(i*x_i)/(n*sum(x)) -
# (n+1)/n over length-sorted docs (ties pinned by doc_id). The rank
# window partitions per source; at extreme per-source cardinality the
# same ranks come from the 256-bucket distributed-rank machinery.
# ---------------------------------------------------------------------------
@query(
    "source_gini",
    oracle="""
    WITH ranked AS (
      SELECT source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS i
      FROM documents
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(2.0 * SUM(i * n_chars) / (COUNT(*) * SUM(n_chars))
                 - (COUNT(*) + 1.0) / COUNT(*), 6) AS gini
    FROM ranked GROUP BY source
    """,
)
def source_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    from elective_waiting_times_pipeline_spark.operators import sampling as S

    docs = load_table(spark, sf_dir, "documents").select("source", "n_chars", "doc_id")
    # per-source rank via the range-bucketed distributed prefix — a
    # plain Window.partitionBy("source") sorts a corpus-sized
    # partition per source (sources are few); the sampled cut points
    # keep partition depth ~corpus/64 at any density. Σ i·x rides
    # decimal(38,0): rank·n_chars sums pass int64 at petascale.
    ranked = S.value_prefix(
        docs,
        "n_chars",
        ["doc_id"],
        group_cols=["source"],
        out_pos="i",
        # 3-column raw scan: rescanning it for the offsets agg beats
        # a second sort+window over the corpus-sized bucket exchange
        offsets_from_source=True,
    )
    sum_ix = F.sum((F.col("i") * F.col("n_chars")).cast("decimal(38,0)")).cast("double")
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(
            2.0 * sum_ix / (F.count(F.lit(1)) * F.sum("n_chars"))
            - (F.count(F.lit(1)) + 1.0) / F.count(F.lit(1)),
            6,
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Lexical diversity per source: hapax ratio (share of the source's
# vocabulary seen exactly once) and type-token ratio — low values
# flag templated/boilerplate feeds; complements zipf_fit globally.
# ---------------------------------------------------------------------------
@query(
    "lexical_diversity",
    oracle=rf"""
    WITH toks AS (
      SELECT source, unnest({_TOKS}) AS tok
      FROM documents WHERE length(trim(text)) > 0
    ), cnt AS (
      SELECT source, tok, COUNT(*) AS n FROM toks WHERE tok <> '' GROUP BY 1, 2
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS vocab,
           CAST(SUM(n) AS BIGINT) AS n_tokens,
           ROUND(CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
             AS hapax_ratio,
           ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(n), 6) AS type_token_ratio
    FROM cnt GROUP BY source
    """,
)
def lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.filter(F.length(F.trim("text")) > 0)
        .select("source", F.explode(X.tokens("text")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    cnt = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("n"))
    return cnt.groupBy("source").agg(
        F.count(F.lit(1)).alias("vocab"),
        F.sum("n").cast("long").alias("n_tokens"),
        F.round(
            F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).cast("double") / F.count(F.lit(1)), 6
        ).alias("hapax_ratio"),
        F.round(F.count(F.lit(1)).cast("double") / F.sum("n"), 6).alias("type_token_ratio"),
    )


# ---------------------------------------------------------------------------
# Character-level Shannon entropy per document — the classic
# gibberish / templated-text / encoding-damage signal (natural text
# sits ~4-4.5 bits; base64 blobs and repeated boilerplate land far
# off). One char explode + two hash aggs, both map-side combinable.
# Engine parity: H = ln(L) - (sum k*ln k)/L with every ln
# micro-snapped to integer MILLIONTHS before the (exact, long)
# weighted sum — float summation order can never change the hash.
# ---------------------------------------------------------------------------
@query(
    "char_entropy",
    oracle=r"""
    WITH chars AS (
      SELECT doc_id, unnest(string_split(trim(text), '')) AS ch
      FROM documents WHERE length(trim(text)) > 0
    ), cnt AS (
      SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS k
      FROM chars WHERE ch <> '' GROUP BY 1, 2
    ), agg AS (
      SELECT doc_id, CAST(SUM(k) AS BIGINT) AS L,
             CAST(SUM(k * CAST(floor(ln(k) * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS s
      FROM cnt GROUP BY 1
    )
    SELECT doc_id, L AS n_chars,
           ROUND((CAST(floor(ln(L) * 1000000 + 0.5) AS BIGINT) - s / CAST(L AS DOUBLE))
                 / 1000000, 6) AS char_entropy
    FROM agg
    """,
)
def char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    chars = (
        docs.filter(F.length(F.trim("text")) > 0)
        .select("doc_id", F.explode(F.split(F.trim("text"), "")).alias("ch"))
        .filter(F.col("ch") != "")
    )
    lnm = lambda c: F.floor(F.log(c.cast("double")) * 1000000 + 0.5).cast("long")  # noqa: E731
    cnt = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("k"))
    agg = cnt.groupBy("doc_id").agg(
        F.sum("k").cast("long").alias("L"),
        F.sum(F.col("k") * lnm(F.col("k"))).cast("long").alias("s"),
    )
    return agg.select(
        "doc_id",
        F.col("L").alias("n_chars"),
        F.round((lnm(F.col("L")) - F.col("s") / F.col("L").cast("double")) / 1000000, 6).alias(
            "char_entropy"
        ),
    )


# ---------------------------------------------------------------------------
# k-anonymity report over quasi-identifiers — the privacy/compliance
# gate a training-data release runs before shipping: for each
# quasi-identifier combination (here source x lang x a coarse length
# band), the equivalence-class size; classes below k are the re-
# identification risk surface. One hash agg over the corpus plus a
# k-threshold rollup — map-side combinable, no skew (class count is
# bounded by the QI domain, not the corpus).
# ---------------------------------------------------------------------------
@query(
    "k_anonymity_report",
    oracle="""
    WITH classes AS (
      SELECT source, lang,
             CAST(FLOOR(n_chars / 500) AS BIGINT) AS len_band,
             CAST(COUNT(*) AS BIGINT) AS class_size
      FROM documents GROUP BY 1, 2, 3
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(MIN(class_size) AS BIGINT) AS min_class_size,
           CAST(SUM(CASE WHEN class_size < 5 THEN class_size ELSE 0 END) AS BIGINT)
             AS rows_below_k5,
           ROUND(CAST(SUM(CASE WHEN class_size < 5 THEN class_size ELSE 0 END) AS DOUBLE)
                 / SUM(class_size), 6) AS at_risk_share
    FROM classes GROUP BY source
    """,
)
def k_anonymity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    classes = docs.groupBy(
        "source", "lang", F.floor(F.col("n_chars") / 500).cast("long").alias("len_band")
    ).agg(F.count(F.lit(1)).alias("class_size"))
    below = F.sum(F.when(F.col("class_size") < 5, F.col("class_size")).otherwise(0))
    return classes.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.min("class_size").alias("min_class_size"),
        below.cast("long").alias("rows_below_k5"),
        F.round(below.cast("double") / F.sum("class_size"), 6).alias("at_risk_share"),
    )


# ---------------------------------------------------------------------------
# Leakage-safe train/val/test split: the split key is the exact-dup
# GROUP (canonical min doc_id per normalized fingerprint), not the
# row — every copy of a duplicated document lands on the SAME side,
# so the eval set can never contain a training document's twin (the
# classic silent eval contamination). One fingerprint agg + a window
# carry of the canonical id + the same hash-threshold assignment as
# sample_split_hash — deterministic under layout and reruns.
# ---------------------------------------------------------------------------
@query(
    "leakage_safe_split",
    oracle=rf"""
    WITH fp AS (
      SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS f
      FROM documents
    ), canon AS (
      SELECT doc_id, MIN(doc_id) OVER (PARTITION BY f) AS canonical_id FROM fp
    )
    SELECT doc_id, CAST(canonical_id AS BIGINT) AS canonical_id,
           CASE WHEN substr(md5(CAST(canonical_id AS VARCHAR) || 'grp'), 1, 4) < '{_T_TRAIN}' THEN 'train'
                WHEN substr(md5(CAST(canonical_id AS VARCHAR) || 'grp'), 1, 4) < '{_T_VAL}' THEN 'val'
                ELSE 'test' END AS split
    FROM canon
    """,
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # skew-safe canonical-id: agg + narrow rejoin instead of a
    # per-fingerprint window (hot fingerprint = one unsplittable
    # window task); the (id, digest) relation is 24 bytes/doc, so the
    # two-consumer reuse barrier costs nothing vs re-hashing the text.
    # NULL text → NULL digest would vanish through the equi-join; the
    # non-hex sentinel groups NULL-text docs into one dedup group (the
    # oracle's PARTITION BY f does the same — SQL windows treat NULLs
    # as one partition), so every doc receives a split label.
    fp = docs.select(
        "doc_id",
        F.coalesce(X.fingerprint_md5("text"), F.lit("_null_")).alias("f"),
    ).localCheckpoint(eager=False)
    winners = fp.groupBy("f").agg(F.min("doc_id").cast("long").alias("canonical_id"))
    return fp.join(winners, "f").select(
        "doc_id",
        "canonical_id",
        S.split_column(F.col("canonical_id"), _SPLITS, salt="grp").alias("split"),
    )


# ---------------------------------------------------------------------------
# Split-leakage audit: for the NAIVE per-row split, how many
# fingerprint groups straddle train and test — the quantified case
# for the group-aware split above (which by construction audits to
# zero, asserted in the suite). Two aggs over the fingerprint
# projection.
# ---------------------------------------------------------------------------
@query(
    "split_leakage_audit",
    oracle=rf"""
    WITH fp AS (
      SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS f,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '{_T_TRAIN}' THEN 'train'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '{_T_VAL}' THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    ), g AS (
      SELECT f,
             MAX(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS in_train,
             MAX(CASE WHEN split <> 'train' THEN 1 ELSE 0 END) AS in_eval,
             CAST(COUNT(*) AS BIGINT) AS n_copies
      FROM fp GROUP BY f
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN in_train = 1 AND in_eval = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS leaking_groups,
           CAST(SUM(CASE WHEN in_train = 1 AND in_eval = 1 THEN n_copies ELSE 0 END) AS BIGINT)
             AS leaking_docs
    FROM g
    """,
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        X.fingerprint_md5("text").alias("f"),
        S.split_column(F.col("doc_id"), _SPLITS).alias("split"),
    )
    g = fp.groupBy("f").agg(
        F.max(F.when(F.col("split") == "train", 1).otherwise(0)).alias("in_train"),
        F.max(F.when(F.col("split") != "train", 1).otherwise(0)).alias("in_eval"),
        F.count(F.lit(1)).alias("n_copies"),
    )
    leak = F.col("in_train") * F.col("in_eval")
    return g.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(leak).cast("long").alias("leaking_groups"),
        F.sum(F.col("n_copies") * leak).cast("long").alias("leaking_docs"),
    )


# ---------------------------------------------------------------------------
# CCNet/Dolma-style boilerplate detection at the n-gram level: a
# trigram that recurs across >= 3 DISTINCT documents is "boilerplate"
# (headers, nav text, licence blurbs); each doc is scored by the
# fraction of its trigram stream that is boilerplate. At 100 TB the
# gram->doc-frequency table is vocabulary-sized, so it is JOINED on
# the gram key (never broadcast, same convention as tfidf_top_terms);
# the per-doc re-aggregation shuffles on doc_id. The corpus-size
# scalar (denominator for a production df-fraction threshold) stays a
# 1-row broadcast. boiler_ratio divides two exact longs -> the double
# is engine-identical without rounding. In production the absolute
# df>=3 floor becomes a corpus fraction; the floor keeps the statistic
# meaningful at every test sf.
# ---------------------------------------------------------------------------
@query(
    "boilerplate_gram_score",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS a FROM documents WHERE {_NTOKS} >= 3
    ), g AS (
      SELECT doc_id,
             unnest(list_transform(a[1:len(a)-2],
                    (t, i) -> t || ' ' || a[i+1] || ' ' || a[i+2])) AS gram
      FROM toks
    ), dfreq AS (
      SELECT gram, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS dfc
      FROM g GROUP BY gram
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(COUNT(*) FILTER (WHERE dfc >= 3) AS BIGINT) AS n_boiler,
           CAST(COUNT(*) FILTER (WHERE dfc >= 3) AS DOUBLE) / COUNT(*) AS boiler_ratio
    FROM g JOIN dfreq USING (gram)
    GROUP BY doc_id
    """,
)
def boilerplate_gram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select("doc_id", X.tokens("text").alias("_toks")).select(
        "doc_id", F.explode(X.ngrams(F.col("_toks"), 3)).alias("gram")
    )
    dfreq = grams.groupBy("gram").agg(F.countDistinct("doc_id").alias("dfc"))
    boiler = F.when(F.col("dfc") >= 3, F.lit(1)).otherwise(F.lit(0))
    return (
        grams.join(dfreq, "gram")  # vocab-sized side joined on key, not broadcast
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(boiler).cast("long").alias("n_boiler"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_boiler",
            (F.col("n_boiler").cast("double") / F.col("n_grams")).alias("boiler_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# Exact-proportion stratified split: within every language stratum the
# first 80% of the deterministic hash order is train, the next 10%
# val, the rest test — the class-balanced sibling of sample_split_hash
# (hash-RANGE assignment holds proportions only in expectation; this
# holds them exactly, the eval-set contract when strata are small).
# Integer permille cuts (1000*rank <= cum*n) make the boundary
# engine-exact; the rank is the 256-bucket distributed form, so one
# dominant language never funnels through a single task.
# ---------------------------------------------------------------------------
@query(
    "stratified_exact_split",
    oracle="""
    WITH ordered AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR) || 'strat'), doc_id
             ) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM documents)
    SELECT doc_id, lang,
           CASE WHEN 1000 * rn <= 800 * n THEN 'train'
                WHEN 1000 * rn <= 900 * n THEN 'val'
                ELSE 'test' END AS split
    FROM ordered
    """,
)
def stratified_exact_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return S.stratified_exact_split(
        docs.select("doc_id", "lang"),
        "doc_id",
        ["lang"],
        {"train": 800, "val": 100, "test": 100},
        salt="strat",
    ).select("doc_id", "lang", "split")


# ---------------------------------------------------------------------------
# Chunk-granularity exact dedup — the fixed-width analog of paragraph
# dedup (MassiveText's "remove repeated passages") for corpora whose
# documents carry no structural newlines: disjoint 32-token chunks,
# md5 fingerprints, keep only the globally first (doc_id, chunk_idx)
# occurrence of each fingerprint. One min_by aggregation on the digest
# (map-side partials, digest-only shuffle) + an equi-rejoin — no
# per-fingerprint window, so a boilerplate chunk repeated 10^6 times
# costs one reduced row, not one task-local sort.
# ---------------------------------------------------------------------------
@query(
    "chunk_dedup_exact",
    headline=True,
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, {_TOKS} AS w, CAST({_NTOKS} AS INT) AS n
      FROM documents WHERE {_NTOKS} >= 1
    ), e AS (
      SELECT doc_id, w, n, unnest(range((n + 31) // 32)) AS chunk_idx FROM t
    ), c AS (
      SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
             CAST(least(32, n - chunk_idx * 32) AS INT) AS n_chunk_tokens,
             md5(array_to_string(list_slice(w, chunk_idx * 32 + 1, chunk_idx * 32 + 32), ' ')) AS fp
      FROM e
    ), k AS (
      SELECT doc_id, n_chunk_tokens,
             ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id, chunk_idx) AS rn
      FROM c
    )
    SELECT doc_id,
           CAST(COUNT(*) AS INT) AS n_chunks,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS INT) AS n_dup_chunks,
           CAST(SUM(CASE WHEN rn = 1 THEN n_chunk_tokens ELSE 0 END) AS BIGINT) AS kept_tokens
    FROM k GROUP BY doc_id
    """,
)
def chunk_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.chunk_dedup_stats(docs, window=32)


# ---------------------------------------------------------------------------
# Flagged-word (blocklist) filtering profile — the C4 "bad words"
# discipline: per-document blocklist token fraction, drop documents
# over the threshold, report the damage per source. The fraction snaps
# to integer ppm (floor(1e6*flagged/n + 0.5)) so the keep/drop
# boundary is engine-exact; empty docs carry 0 ppm and are kept.
# Single corpus scan, codegen'd filter on the token array, per-source
# hash agg with map-side partials.
# ---------------------------------------------------------------------------
_FLAGGED_WORDS = ("slow", "big")
_FLAGGED_PPM_MAX = 60000


@query(
    "flagged_word_profile",
    oracle=rf"""
    WITH d AS (
      SELECT source,
             CASE WHEN {_NTOKS} = 0 THEN 0
                  ELSE CAST(floor(1000000.0 * len(list_filter({_TOKS},
                         t -> list_contains(['slow', 'big'], t))) / {_NTOKS} + 0.5) AS BIGINT)
             END AS ppm
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN ppm > {_FLAGGED_PPM_MAX} THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           ROUND(CAST(SUM(ppm) AS DOUBLE) / COUNT(*) / 1000000, 6) AS mean_flagged_frac
    FROM d GROUP BY source
    """,
)
def flagged_word_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = X.tokens("text")
    flagged = F.size(
        F.filter(toks, lambda t: t.isin(*_FLAGGED_WORDS))
    )
    n = F.size(toks)
    ppm = (
        F.when(n == 0, F.lit(0))
        .otherwise(F.floor(1000000.0 * flagged / n + 0.5))
        .cast("long")
    )
    d = docs.select("source", ppm.alias("ppm"))
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("ppm") > _FLAGGED_PPM_MAX).cast("int")).cast("long").alias("n_dropped"),
        F.round(F.sum("ppm").cast("double") / F.count(F.lit(1)) / 1000000.0, 6).alias(
            "mean_flagged_frac"
        ),
    )


# ---------------------------------------------------------------------------
# Spearman rank correlation (n_chars vs token count) — the
# outlier-robust companion to `corr_stats`' Pearson (SURVEY.md §2.10,
# reference analog: the chart layer's correlation/fit calls in
# Charts.R). The textbook single `Window.orderBy(value)` global rank
# is banned by the plan-shape lint; `operators/rankstats.py` derives
# tie-averaged ranks from the distinct-value axis through the
# range-bucketed prefix machinery instead — no task ever holds more
# than ~1/64th of the value axis. Doubled ranks keep everything in
# exact integers (decimal(38,0) moment sums); the final rho combines
# the exact sums in double with the one operation order the oracle
# repeats, so the rounded output hash-matches.
# ---------------------------------------------------------------------------
@query(
    "spearman_corr",
    headline=True,
    oracle=rf"""
    WITH t AS (
      SELECT n_chars AS x, CAST({_NTOKS} AS BIGINT) AS y FROM documents
    ), r AS (
      SELECT 2 * RANK() OVER (ORDER BY x) + COUNT(*) OVER (PARTITION BY x) - 1 AS rx,
             2 * RANK() OVER (ORDER BY y) + COUNT(*) OVER (PARTITION BY y) - 1 AS ry
      FROM t
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           ROUND((CAST(COUNT(*) AS DOUBLE) * CAST(SUM(rx * ry) AS DOUBLE)
                  - CAST(SUM(rx) AS DOUBLE) * CAST(SUM(ry) AS DOUBLE))
                 / (sqrt(CAST(COUNT(*) AS DOUBLE) * CAST(SUM(rx * rx) AS DOUBLE)
                         - CAST(SUM(rx) AS DOUBLE) * CAST(SUM(rx) AS DOUBLE))
                    * sqrt(CAST(COUNT(*) AS DOUBLE) * CAST(SUM(ry * ry) AS DOUBLE)
                           - CAST(SUM(ry) AS DOUBLE) * CAST(SUM(ry) AS DOUBLE))), 6)
             AS spearman_rho
    FROM r
    """,
)
def spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from elective_waiting_times_pipeline_spark.operators.rankstats import spearman_rho

    docs = load_table(spark, sf_dir, "documents")
    rows = docs.select(
        F.col("n_chars").cast("long").alias("x"),
        X.token_count("text").cast("long").alias("y"),
    )
    return spearman_rho(rows, "x", "y")


# ---------------------------------------------------------------------------
# Mutual information between two categorical corpus facets (lang x
# source) — "does the feed predict the language?" is the
# mixture-design question a pretraining curator asks before weighting
# sources. MI = Σ_ij (n_ij/N)·ln(n_ij·N/(n_i·n_j)) over the
# contingency table: every count is an exact integer, each cell's log
# ratio is micro-snapped (floor(ln·1e6+0.5) — the same 1e-6 snap
# discipline as unigram_logprob, absorbing libm-vs-JVM ulp drift),
# and the final division happens once. The contingency table is
# |langs|·|sources| rows — marginals broadcast back onto it.
# ---------------------------------------------------------------------------
@query(
    "mutual_information",
    oracle="""
    WITH cell AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS nij
      FROM documents GROUP BY 1, 2
    ), rowm AS (SELECT lang, CAST(SUM(nij) AS BIGINT) AS ni FROM cell GROUP BY 1),
    colm AS (SELECT source, CAST(SUM(nij) AS BIGINT) AS nj FROM cell GROUP BY 1),
    tot AS (SELECT CAST(SUM(nij) AS BIGINT) AS n FROM cell),
    terms AS (
      SELECT nij,
             CAST(floor(ln(CAST(nij * n AS DOUBLE) / CAST(ni * nj AS DOUBLE)) * 1000000
                        + 0.5) AS BIGINT) AS lpm,
             n
      FROM cell JOIN rowm USING (lang) JOIN colm USING (source), tot
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           ROUND(CAST(SUM(nij * lpm) AS DOUBLE) / MAX(n) / 1000000, 6) AS mi_nats
    FROM terms
    """,
)
def mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # same four-consumer shape as chi_square_independence: pin the
    # bounded cell table once (class A)
    cell = (
        docs.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("nij"))
        .localCheckpoint(eager=False)
    )
    rowm = cell.groupBy("lang").agg(F.sum("nij").alias("ni"))
    colm = cell.groupBy("source").agg(F.sum("nij").alias("nj"))
    tot = cell.agg(F.sum("nij").alias("n"))
    lpm = F.floor(
        F.log((F.col("nij") * F.col("n")).cast("double") / (F.col("ni") * F.col("nj")).cast("double"))
        * 1000000
        + 0.5
    ).cast("long")
    terms = (
        cell.join(F.broadcast(rowm), "lang")
        .join(F.broadcast(colm), "source")
        .crossJoin(F.broadcast(tot))
        .select("nij", lpm.alias("lpm"), "n")
    )
    return terms.agg(
        F.max("n").cast("long").alias("n_docs"),
        F.count(F.lit(1)).alias("n_cells"),
        F.round(F.sum(F.col("nij") * F.col("lpm")).cast("double") / F.max("n") / 1000000, 6).alias(
            "mi_nats"
        ),
    )


# ---------------------------------------------------------------------------
# Heavy hitters via a count-min sketch prefilter + exact verify.
# The direct plan for "every bigram above 0.1% of corpus mass" is a
# vocab-sized hash agg — at web scale that shuffle carries 10^9+
# distinct n-grams, almost all of which are nowhere near the bar.
# The CMS plan (operators/sketches.py) bounds the first pass at d·w
# cells (a few KB, mergeable/persistable like the HLL family): pass 1
# builds the sketch, pass 2 re-scans with the BROADCAST sketch as a
# pure per-row expression and aggregates ONLY keys whose estimate
# clears the threshold. CMS never under-counts, so the candidate set
# provably contains every true heavy hitter; the exact agg over the
# (tiny) surviving slice makes the result EXACT — which is why a
# plain SQL HAVING oracle can check it. 916 distinct bigrams hash
# into w=1024 columns here, so collisions genuinely occur (birthday
# bound) and the verify step genuinely prunes.
# ---------------------------------------------------------------------------
@query(
    "heavy_hitters_cms",
    headline=True,
    oracle=rf"""
    WITH toks AS (
      SELECT {_TOKS} AS a FROM documents WHERE {_NTOKS} >= 2
    ), bg AS (
      SELECT unnest(list_transform(a[1:len(a)-1], (t, i) -> t || ' ' || a[i+1])) AS bigram
      FROM toks
    ), c AS (
      SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n FROM bg GROUP BY bigram
    )
    SELECT bigram, n FROM c
    WHERE 1000 * n >= (SELECT SUM(n) FROM c)
    """,
)
def heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from elective_waiting_times_pipeline_spark.operators.sketches import (
        cms_estimate,
        count_min_cells,
    )

    docs = load_table(spark, sf_dir, "documents")
    # Tokens bound to an attribute (see `ngrams`).
    bg = docs.select(X.tokens("text").alias("_toks")).select(
        F.explode(X.ngrams(F.col("_toks"), 2)).alias("bigram")
    )
    # ONE corpus pass. Every occurrence of a bigram shares its
    # cms_est and the corpus total, so the whole query — sketch
    # cells, estimate, candidate filter, exact verify — is a function
    # of the per-distinct-bigram counts alone: the sketch cells are
    # plain sums (weighted build ≡ unweighted over the expanded
    # multiset), the old per-occurrence verify count collapses to n
    # (all of a bigram's occurrences pass or fail together). The
    # previous form re-ran the tokenize+explode corpus pass for the
    # estimate side (2 scans); pinning the vocabulary-bounded (bigram,
    # n) relation instead pins O(distinct) rows, not O(corpus) —
    # the trade the duplicate_ngram_coverage ×100 probe showed is
    # WRONG for occurrence-sized relations and right for this one.
    bgc = (
        bg.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    cells = count_min_cells(bgc, "bigram", d=4, w=1024, weight_col="n")
    total = cells.filter(F.col("row") == 0).agg(F.sum("cnt").alias("_tot"))
    candidates = (
        cms_estimate(bgc, cells, "bigram", d=4, w=1024)
        .crossJoin(F.broadcast(total))
        # sketch estimates only over-count: no true heavy hitter is lost
        .filter(1000 * F.col("cms_est") >= F.col("_tot"))
    )
    # exact verify trims collisions
    return candidates.filter(1000 * F.col("n") >= F.col("_tot")).select("bigram", "n")


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov test (src0 vs src1 on document
# length): D = max_v |ECDF_a(v) − ECDF_b(v)| — did two feeds draw
# from the same length distribution? EXACT integer formulation: with
# cumulative counts c_a(v), c_b(v) and group sizes n_a, n_b, the
# ECDF gap at v is |c_a·n_b − c_b·n_a| / (n_a·n_b), whose numerator
# is an exact long — the argmax never compares floats. The cumulative
# counts come from the same range-bucketed prefix machinery as
# spearman_corr (operators/rankstats.py's pattern: distinct-value
# axis only, no corpus-sized window); the final max is a top-1
# TakeOrdered, not a global sort.
# ---------------------------------------------------------------------------
@query(
    "ks_test_sources",
    oracle="""
    WITH t AS (
      SELECT n_chars AS v, CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS a
      FROM documents WHERE source IN ('src0', 'src1')
    ), g AS (
      SELECT v, CAST(SUM(a) AS BIGINT) AS ca, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM t GROUP BY v
    ), tot AS (
      SELECT CAST(SUM(ca) AS BIGINT) AS n1, CAST(SUM(cnt - ca) AS BIGINT) AS n2 FROM g
    ), c AS (
      SELECT v,
             SUM(ca) OVER (ORDER BY v) AS c1,
             SUM(cnt) OVER (ORDER BY v) AS ct,
             n1, n2
      FROM g, tot
    )
    SELECT n1 AS n_a, n2 AS n_b, v AS ks_at,
           CASE WHEN n1 * n2 = 0 THEN NULL
                ELSE ROUND(CAST(abs(c1 * n2 - (ct - c1) * n1) AS DOUBLE) / n1 / n2, 6)
           END AS ks_stat
    FROM c
    QUALIFY ROW_NUMBER() OVER (ORDER BY abs(c1 * n2 - (ct - c1) * n1) DESC, v) = 1
    """,
)
def ks_test_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("source").isin("src0", "src1"))
    t = docs.select(
        F.col("n_chars").alias("v"),
        F.when(F.col("source") == "src0", 1).otherwise(0).alias("a"),
    )
    # the axis is pinned (O(distinct n_chars) rows) so its three
    # consumers (cut-points sample, the fused prefix pass, the totals
    # agg) read checkpointed blocks — the corpus-sized groupBy runs
    # once; BOTH cumulative measures (group-A count and total count)
    # ride ONE ordered_prefix pass via `weights` (one bucket exchange
    # + one sort instead of two full prefix machineries), and the
    # offsets side is a plain HashAggregate on the pinned axis
    # (offsets_from_source) instead of a second sort+window.
    g = (
        t.groupBy("v")
        .agg(F.sum("a").alias("_ca"), F.count(F.lit(1)).alias("_cnt"))
        .localCheckpoint(eager=False)
    )
    pre = S.value_prefix(
        g,
        "v",
        weight="_ca",
        out_prefix="_c1",
        weights=[("_cnt", "_ct")],
        offsets_from_source=True,
    )
    tot = g.agg(
        F.sum("_ca").cast("long").alias("n1"),
        F.sum(F.col("_cnt") - F.col("_ca")).cast("long").alias("n2"),
    )
    num = F.abs(F.col("_c1") * F.col("n2") - (F.col("_ct") - F.col("_c1")) * F.col("n1"))
    return (
        pre.crossJoin(F.broadcast(tot))
        .select("v", "n1", "n2", num.alias("_num"))
        .orderBy(F.col("_num").desc(), F.col("v"))
        .limit(1)
        .select(
            F.col("n1").alias("n_a"),
            F.col("n2").alias("n_b"),
            F.col("v").alias("ks_at"),
            # one group empty: KS is undefined -> NULL (and the CASE
            # keeps ANSI Spark from aborting on the /0)
            F.when(F.col("n1") * F.col("n2") == 0, F.lit(None).cast("double"))
            .otherwise(
                F.round(F.col("_num").cast("double") / F.col("n1") / F.col("n2"), 6)
            )
            .alias("ks_stat"),
        )
    )


# ---------------------------------------------------------------------------
# Per-group feature scaling (min-max + z-score of document length
# within each language) — the standard ML-preprocessing pair, written
# so both engines agree bit-for-bit: the z-score is algebraically
# rearranged to (n·x − S) / sqrt(n·Q − S²) (population σ), giving an
# exact INTEGER numerator and radicand — no mean/variance doubles
# ever enter the comparison; min-max is likewise one division of two
# integer differences. Group moments are one hash agg broadcast back
# onto the scan (per-lang cardinality, bounded).
# ---------------------------------------------------------------------------
@query(
    "feature_scale_profile",
    oracle="""
    WITH m AS (
      SELECT lang,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(n_chars) AS BIGINT) AS s,
             CAST(SUM(n_chars * n_chars) AS BIGINT) AS q,
             CAST(MIN(n_chars) AS BIGINT) AS mn,
             CAST(MAX(n_chars) AS BIGINT) AS mx
      FROM documents GROUP BY 1
    )
    SELECT doc_id, documents.lang,
           ROUND(CASE WHEN mx = mn THEN 0.0
                      ELSE CAST(n_chars - mn AS DOUBLE) / (mx - mn) END, 6) AS minmax_scaled,
           ROUND(CASE WHEN n * q - s * s = 0 THEN 0.0
                      ELSE CAST(n * n_chars - s AS DOUBLE)
                           / sqrt(CAST(n * q - s * s AS DOUBLE)) END, 6) AS zscore
    FROM documents JOIN m USING (lang)
    """,
)
def feature_scale_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    m = docs.groupBy(F.col("lang").alias("_lang")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("s"),
        F.sum(F.col("n_chars") * F.col("n_chars")).alias("q"),
        F.min("n_chars").alias("mn"),
        F.max("n_chars").alias("mx"),
    )
    minmax = F.when(F.col("mx") == F.col("mn"), F.lit(0.0)).otherwise(
        (F.col("n_chars") - F.col("mn")).cast("double") / (F.col("mx") - F.col("mn"))
    )
    rad = F.col("n") * F.col("q") - F.col("s") * F.col("s")
    z = F.when(rad == 0, F.lit(0.0)).otherwise(
        (F.col("n") * F.col("n_chars") - F.col("s")).cast("double") / F.sqrt(rad.cast("double"))
    )
    return (
        docs.join(F.broadcast(m), F.col("lang") == F.col("_lang"))
        .select(
            "doc_id",
            "lang",
            F.round(minmax, 6).alias("minmax_scaled"),
            F.round(z, 6).alias("zscore"),
        )
    )


# ---------------------------------------------------------------------------
# Duplicate-cluster size histogram — the standard dedup diagnostic:
# how many fingerprints occur once, twice, ... (a heavy tail here
# means boilerplate mills, and sizes the win from collapse-first
# clustering). Two cascaded hash aggs; the second runs on the
# fingerprint axis, the third on the tiny size axis.
# ---------------------------------------------------------------------------
@query(
    "dedup_size_histogram",
    oracle=r"""
    WITH fp AS (
      SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS f
      FROM documents
    ), sizes AS (
      SELECT f, CAST(COUNT(*) AS BIGINT) AS sz FROM fp GROUP BY f
    )
    SELECT sz AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(sz) AS BIGINT) AS n_docs
    FROM sizes GROUP BY sz
    """,
)
def dedup_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sizes = docs.select(X.fingerprint_md5("text").alias("f")).groupBy("f").agg(
        F.count(F.lit(1)).alias("sz")
    )
    return sizes.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("sz").cast("long").alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# Per-source language purity — the mixture-QA diagnostic behind
# "should this feed be routed through one tokenizer?": each source's
# dominant language and its exact ppm share. The dominant pick rides
# a window over the per-(source, lang) cell table (bounded by
# |sources|·|langs|, never the corpus), tie-broken on the lang name.
# ---------------------------------------------------------------------------
@query(
    "source_language_purity",
    oracle="""
    WITH c AS (
      SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n
      FROM documents GROUP BY 1, 2
    ), t AS (
      SELECT source, CAST(SUM(n) AS BIGINT) AS tot FROM c GROUP BY 1
    ), r AS (
      SELECT c.source, lang, n, tot,
             ROW_NUMBER() OVER (PARTITION BY c.source ORDER BY n DESC, lang) AS rk
      FROM c JOIN t ON c.source = t.source
    )
    SELECT source, lang AS top_lang, tot AS n_docs,
           CAST(floor(1000000.0 * n / tot + 0.5) AS BIGINT) AS purity_ppm
    FROM r WHERE rk = 1
    """,
)
def source_language_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    # asc_nulls_last pins the tie-break to DuckDB's default NULL order
    # (Spark's plain asc sorts NULL langs FIRST and would flip a tied
    # top_lang across engines); the per-source total rides a window
    # over the same partition axis — no second aggregate, no join
    w = Window.partitionBy("source").orderBy(F.desc("n"), F.asc_nulls_last("lang"))
    tot = F.sum("n").over(Window.partitionBy("source"))
    return (
        c.withColumn("_rk", F.row_number().over(w))
        .withColumn("tot", tot)
        .filter(F.col("_rk") == 1)
        .select(
            "source",
            F.col("lang").alias("top_lang"),
            F.col("tot").alias("n_docs"),
            F.floor(1000000.0 * F.col("n") / F.col("tot") + 0.5).cast("long").alias(
                "purity_ppm"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing, driver-visible: treat each document's UTF-8
# bytes as an opaque BINARY payload (the image/audio column shape),
# run the Arrow-batched mapInPandas decode (operators/multimodal.py —
# deterministic stub codec; swap in PIL/ffmpeg without touching the
# plan), and profile the decoded metadata per format. Rows-only check
# by design: the stub hashes with sha1, which DuckDB lacks — the
# decode path itself is pinned by golden unit tests
# (tests/test_multimodal_enrichment.py). Scale: decode is a
# shuffle-free batch map; only the tiny (format)-keyed profile
# aggregates.
# ---------------------------------------------------------------------------
@query("multimodal_image_profile")
def multimodal_image_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from elective_waiting_times_pipeline_spark.operators import multimodal as MM

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"), F.encode("text", "UTF-8").alias("payload")
    )
    meta = MM.decode_image_metadata(docs, id_col="id", bin_col="payload")
    return meta.groupBy("format").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.round(F.sum("width").cast("double") / F.count(F.lit(1)), 4).alias("avg_width"),
        F.round(F.sum("height").cast("double") / F.count(F.lit(1)), 4).alias("avg_height"),
        F.max("byte_len").alias("max_bytes"),
    )


# ---------------------------------------------------------------------------
# Tokenizer training: learn the first 8 BPE merges from the corpus
# (operators/bpe.py — classic Sennrich BPE as an iterative DataFrame
# program: weighted pair counts over the DISTINCT-word table, a 1-row
# deterministic argmax per round, and a codegen'd leftmost-greedy
# fold applying the merge; localCheckpoint keeps the round chain
# flat). Rows-only check BY DESIGN: each round's tokenization depends
# on the previous round's merge, so there is no tractable SQL
# unrolling — golden unit tests pin the classic low/lower/newest/
# widest merge sequence and the per-round symbol-shrink invariant
# (tests/test_bpe.py).
# ---------------------------------------------------------------------------
@query("bpe_learn_merges")
def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from elective_waiting_times_pipeline_spark.operators.bpe import learn_bpe_merges

    docs = load_table(spark, sf_dir, "documents")
    return learn_bpe_merges(docs, n_merges=8)


# ---------------------------------------------------------------------------
# One-pass correlation MATRIX: pairwise Pearson over four integer
# document metrics (chars, tokens, vowels, spaces) from a SINGLE
# aggregation — the moment-matrix pattern (all first/second moments in
# one map-side-combined pass) that a feature-engineering pipeline uses
# instead of k² separate corr() scans. Counts are exact; second
# moments ride in decimal(38,0)/HUGEINT (metric² × corpus rows passes
# int64 at 100 TB); each r is the textbook combine of exact sums in
# doubles, same op order both engines (the spearman_corr discipline).
# ---------------------------------------------------------------------------
# the ONE ordered metric list: corr_matrix's x1..x4 select, the q_{ij}
# alias loop, and _corr_pair's index lookup all derive from it
_CORR_METRICS = ["chars", "tokens", "vowels", "spaces"]


def _corr_pair(a: str, b: str):
    n = F.col("n").cast("double")
    s = lambda c: F.col(f"s_{c}").cast("double")  # noqa: E731
    q = lambda i, j: F.col(f"q_{min(i,j)}{max(i,j)}").cast("double")  # noqa: E731
    i, j = _CORR_METRICS.index(a) + 1, _CORR_METRICS.index(b) + 1
    num = n * q(i, j) - s(a) * s(b)
    den = F.sqrt(n * q(i, i) - s(a) * s(a)) * F.sqrt(n * q(j, j) - s(b) * s(b))
    # try_divide: a zero-variance metric yields NULL, which the oracle's
    # 0/0 NaN normalizes to under the comparator
    return F.round(F.try_divide(num, den), 6).alias(f"r_{a}_{b}")


@query(
    "corr_matrix",
    oracle=rf"""
    WITH m AS (
      SELECT CAST(length(text) AS BIGINT) AS x1,
             CAST({_NTOKS} AS BIGINT) AS x2,
             CAST(length(text) - length(regexp_replace(text, '[aeiou]', '', 'g')) AS BIGINT) AS x3,
             CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS x4
      FROM documents
    ), agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x1) AS BIGINT) AS s_chars, CAST(SUM(x2) AS BIGINT) AS s_tokens,
             CAST(SUM(x3) AS BIGINT) AS s_vowels, CAST(SUM(x4) AS BIGINT) AS s_spaces,
             SUM(CAST(x1 AS HUGEINT) * x1) AS q_11, SUM(CAST(x1 AS HUGEINT) * x2) AS q_12,
             SUM(CAST(x1 AS HUGEINT) * x3) AS q_13, SUM(CAST(x1 AS HUGEINT) * x4) AS q_14,
             SUM(CAST(x2 AS HUGEINT) * x2) AS q_22, SUM(CAST(x2 AS HUGEINT) * x3) AS q_23,
             SUM(CAST(x2 AS HUGEINT) * x4) AS q_24, SUM(CAST(x3 AS HUGEINT) * x3) AS q_33,
             SUM(CAST(x3 AS HUGEINT) * x4) AS q_34, SUM(CAST(x4 AS HUGEINT) * x4) AS q_44
      FROM m
    )
    SELECT n,
      ROUND((CAST(n AS DOUBLE) * CAST(q_12 AS DOUBLE) - CAST(s_chars AS DOUBLE) * CAST(s_tokens AS DOUBLE))
        / (sqrt(CAST(n AS DOUBLE) * CAST(q_11 AS DOUBLE) - CAST(s_chars AS DOUBLE) * CAST(s_chars AS DOUBLE))
           * sqrt(CAST(n AS DOUBLE) * CAST(q_22 AS DOUBLE) - CAST(s_tokens AS DOUBLE) * CAST(s_tokens AS DOUBLE))), 6) AS r_chars_tokens,
      ROUND((CAST(n AS DOUBLE) * CAST(q_13 AS DOUBLE) - CAST(s_chars AS DOUBLE) * CAST(s_vowels AS DOUBLE))
        / (sqrt(CAST(n AS DOUBLE) * CAST(q_11 AS DOUBLE) - CAST(s_chars AS DOUBLE) * CAST(s_chars AS DOUBLE))
           * sqrt(CAST(n AS DOUBLE) * CAST(q_33 AS DOUBLE) - CAST(s_vowels AS DOUBLE) * CAST(s_vowels AS DOUBLE))), 6) AS r_chars_vowels,
      ROUND((CAST(n AS DOUBLE) * CAST(q_14 AS DOUBLE) - CAST(s_chars AS DOUBLE) * CAST(s_spaces AS DOUBLE))
        / (sqrt(CAST(n AS DOUBLE) * CAST(q_11 AS DOUBLE) - CAST(s_chars AS DOUBLE) * CAST(s_chars AS DOUBLE))
           * sqrt(CAST(n AS DOUBLE) * CAST(q_44 AS DOUBLE) - CAST(s_spaces AS DOUBLE) * CAST(s_spaces AS DOUBLE))), 6) AS r_chars_spaces,
      ROUND((CAST(n AS DOUBLE) * CAST(q_23 AS DOUBLE) - CAST(s_tokens AS DOUBLE) * CAST(s_vowels AS DOUBLE))
        / (sqrt(CAST(n AS DOUBLE) * CAST(q_22 AS DOUBLE) - CAST(s_tokens AS DOUBLE) * CAST(s_tokens AS DOUBLE))
           * sqrt(CAST(n AS DOUBLE) * CAST(q_33 AS DOUBLE) - CAST(s_vowels AS DOUBLE) * CAST(s_vowels AS DOUBLE))), 6) AS r_tokens_vowels,
      ROUND((CAST(n AS DOUBLE) * CAST(q_24 AS DOUBLE) - CAST(s_tokens AS DOUBLE) * CAST(s_spaces AS DOUBLE))
        / (sqrt(CAST(n AS DOUBLE) * CAST(q_22 AS DOUBLE) - CAST(s_tokens AS DOUBLE) * CAST(s_tokens AS DOUBLE))
           * sqrt(CAST(n AS DOUBLE) * CAST(q_44 AS DOUBLE) - CAST(s_spaces AS DOUBLE) * CAST(s_spaces AS DOUBLE))), 6) AS r_tokens_spaces,
      ROUND((CAST(n AS DOUBLE) * CAST(q_34 AS DOUBLE) - CAST(s_vowels AS DOUBLE) * CAST(s_spaces AS DOUBLE))
        / (sqrt(CAST(n AS DOUBLE) * CAST(q_33 AS DOUBLE) - CAST(s_vowels AS DOUBLE) * CAST(s_vowels AS DOUBLE))
           * sqrt(CAST(n AS DOUBLE) * CAST(q_44 AS DOUBLE) - CAST(s_spaces AS DOUBLE) * CAST(s_spaces AS DOUBLE))), 6) AS r_vowels_spaces
    FROM agg
    """,
)
def corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    x1 = F.length("text").cast("long")
    x2 = X.token_count("text").cast("long")
    x3 = (F.length("text") - F.length(F.regexp_replace("text", "[aeiou]", ""))).cast("long")
    x4 = (F.length("text") - F.length(F.replace(F.col("text"), F.lit(" ")))).cast("long")
    m = docs.select(x1.alias("x1"), x2.alias("x2"), x3.alias("x3"), x4.alias("x4"))
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    agg = m.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(f"x{i+1}").alias(f"s_{name}") for i, name in enumerate(_CORR_METRICS)],
        *[
            F.sum(d38(f"x{i}") * d38(f"x{j}")).alias(f"q_{i}{j}")
            for i in range(1, 5)
            for j in range(i, 5)
        ],
    )
    return agg.select(
        "n",
        _corr_pair("chars", "tokens"),
        _corr_pair("chars", "vowels"),
        _corr_pair("chars", "spaces"),
        _corr_pair("tokens", "vowels"),
        _corr_pair("tokens", "spaces"),
        _corr_pair("vowels", "spaces"),
    )


# ---------------------------------------------------------------------------
# Tokenizer ENCODE at corpus scale: learn 8 BPE merges, apply them to
# every document (codegen'd fold chain — operators/bpe.py::apply_bpe,
# no shuffle), and report per-source token economics: mean BPE tokens
# per doc vs whitespace tokens, and the fertility ratio (BPE tokens
# per word — the number tokenizer evaluations quote). Rows-only (the
# learned-merge chain has no SQL unrolling); the learn step's merges
# arrive as a bounded driver list, exactly like a production encode
# ships a vocab file. Ratios are single divisions of exact counts.
# ---------------------------------------------------------------------------
@query("bpe_token_stats")
def bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from elective_waiting_times_pipeline_spark.operators.bpe import apply_bpe, learn_bpe_merges

    docs = load_table(spark, sf_dir, "documents")
    merges = [
        (r.left, r.right) for r in learn_bpe_merges(docs, n_merges=8).collect()
    ]  # bounded: n_merges rows — the "vocab file"
    enc = apply_bpe(docs, merges).select(
        "source",
        F.size("bpe_tokens").cast("long").alias("n_bpe"),
        X.token_count("text").cast("long").alias("n_ws"),
    )
    return enc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.sum("n_bpe").cast("double") / F.count(F.lit(1)), 4).alias("bpe_per_doc"),
        F.round(F.sum("n_ws").cast("double") / F.count(F.lit(1)), 4).alias("words_per_doc"),
        F.round(F.sum("n_bpe").cast("double") / F.sum("n_ws"), 4).alias("fertility"),
    )


# ---------------------------------------------------------------------------
# Duplicate n-gram coverage per source — the document-level
# "how much of this text also exists elsewhere" metric behind
# near-dedup quality studies (a 5-gram OCCURRENCE is duplicated when
# its gram string appears >= 2 times corpus-wide, counting every
# occurrence in every doc). Per doc: duplicated occurrences / total
# grams, micro-snapped to ppm (exact rational -> integer before any
# mean, so the per-source average is a sum of exact ints); per
# source: doc count + mean coverage. Shape: one explode to
# (gram, doc) pairs, gram-keyed counts joined back on the gram key
# (never broadcast — the gram vocabulary is corpus-sized), then two
# hash aggs. Docs under 5 tokens have no grams and are excluded on
# both engines.
# ---------------------------------------------------------------------------
@query(
    "duplicate_ngram_coverage",
    headline=True,
    oracle=rf"""
    WITH g AS (
      SELECT doc_id, source,
             unnest(list_transform(({_TOKS})[1:{_NTOKS} - 4],
                    (t, i) -> t || ' ' || ({_TOKS})[i + 1] || ' ' || ({_TOKS})[i + 2]
                                || ' ' || ({_TOKS})[i + 3] || ' ' || ({_TOKS})[i + 4])) AS gram
      FROM documents WHERE {_NTOKS} >= 5
    ), cnt AS (
      SELECT gram, CAST(COUNT(*) AS BIGINT) AS n FROM g GROUP BY gram
    ), per_doc AS (
      SELECT g.doc_id, MIN(g.source) AS source,
             CAST(floor(1000000.0 * SUM(CASE WHEN c.n >= 2 THEN 1 ELSE 0 END)
                        / COUNT(*) + 0.5) AS BIGINT) AS dup_ppm
      FROM g JOIN cnt c USING (gram)
      GROUP BY g.doc_id
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(CAST(SUM(dup_ppm) AS DOUBLE) / COUNT(*) / 1000000, 6)
             AS mean_dup_coverage
    FROM per_doc GROUP BY source
    """,
)
def duplicate_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # NO checkpoint on the exploded grams: both consumers (the count
    # agg and the per-doc join) re-derive them from the scan — two
    # corpus scans beat materializing a >1×-corpus-sized gram relation
    # to local disk (SCALE.md carries the ×100 measurement).
    # Tokens are BOUND to an attribute first: `ngrams` references
    # its token array 10 times (a size and a slice per position), and an
    # inline tokens() expression is re-evaluated per reference —
    # neither Generate eval nor codegen CSE collapses it (measured
    # 1.35 s → 0.61 s for this scan at sf0.1). SPARK-36718 keeps the
    # two projections uncollapsed precisely because the alias is
    # multiply referenced and expensive.
    # The explode carries doc_id ONLY: a doc's gram count is
    # size(tokens) − 4, read straight off the (narrow) scan, and its
    # source comes from the same scan — so the per-occurrence stream
    # never drags the source string through the join, the duplicate
    # filter (n >= 2) moves INTO the join build side (only duplicated
    # grams are joined/aggregated, not every occurrence), and the
    # per-doc aggregate is a hash agg over matching occurrences
    # instead of a corpus-wide SortAggregate forced by min(source).
    g = docs.select("doc_id", X.tokens("text").alias("_toks")).select(
        "doc_id", F.explode(X.ngrams(F.col("_toks"), 5)).alias("gram")
    )
    dup_grams = (
        g.groupBy("gram").agg(F.count(F.lit(1)).alias("n")).filter(F.col("n") >= 2)
    )
    dup = (
        g.join(dup_grams.select("gram"), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("_dup"))
    )
    meta = docs.select(
        "doc_id", "source", (F.size(X.tokens("text")) - 4).alias("_tot")
    ).filter(F.col("_tot") >= 1)
    per_doc = meta.join(dup, "doc_id", "left").select(
        "source",
        F.floor(
            1000000.0 * F.coalesce(F.col("_dup"), F.lit(0)) / F.col("_tot") + 0.5
        )
        .cast("long")
        .alias("dup_ppm"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.sum("dup_ppm").cast("double") / F.count(F.lit(1)) / 1000000, 6).alias(
            "mean_dup_coverage"
        ),
    )


# ---------------------------------------------------------------------------
# Readability profile per source — a Flesch-reading-ease proxy from
# three pure-regex counts (words, sentence marks, vowel groups as the
# syllable stand-in; no dictionary). All three are exact integers
# summed per source; the classic 206.835 − 1.015·(W/S) − 84.6·(Y/W)
# formula then runs ONCE per source as a fixed sequence of double ops
# both engines replay. Docs contribute max(1, sentence-marks)
# sentences so mark-free fragments count as one sentence rather than
# poisoning the ratio.
# ---------------------------------------------------------------------------
@query(
    "readability_score",
    oracle=rf"""
    WITH d AS (
      SELECT source,
             CAST({_NTOKS} AS BIGINT) AS words,
             GREATEST(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT), 1)
               AS sentences,
             CAST(len(regexp_extract_all(lower(text), '[aeiou]+')) AS BIGINT) AS vgroups
      FROM documents
    ), s AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(words) AS BIGINT) AS w,
             CAST(SUM(sentences) AS BIGINT) AS s,
             CAST(SUM(vgroups) AS BIGINT) AS y
      FROM d GROUP BY source
    )
    SELECT source, n_docs, w AS n_words,
           CASE WHEN w = 0 THEN NULL
                ELSE ROUND(206.835 - 1.015 * (CAST(w AS DOUBLE) / s)
                           - 84.6 * (CAST(y AS DOUBLE) / w), 6)
           END AS flesch_proxy
    FROM s
    """,
)
def readability_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        X.token_count("text").cast("long").alias("words"),
        F.greatest(
            F.size(F.expr("regexp_extract_all(text, '[.!?]+', 0)")).cast("long"), F.lit(1)
        ).alias("sentences"),
        F.size(F.expr("regexp_extract_all(lower(text), '[aeiou]+', 0)"))
        .cast("long")
        .alias("vgroups"),
    )
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("words").alias("w"),
        F.sum("sentences").alias("s"),
        F.sum("vgroups").alias("y"),
    )
    return s.select(
        "source",
        "n_docs",
        F.col("w").alias("n_words"),
        F.when(
            F.col("w") == 0, F.lit(None).cast("double")
        ).otherwise(
            F.round(
                206.835
                - 1.015 * (F.col("w").cast("double") / F.col("s"))
                - 84.6 * (F.col("y").cast("double") / F.col("w")),
                6,
            )
        ).alias("flesch_proxy"),
    )


# ---------------------------------------------------------------------------
# Compression-ratio quality signal (rows-only: no zlib in SQL) — the
# curation heuristic behind "too compressible = boilerplate/repetition,
# too incompressible = binary junk/encrypted": DEFLATE level 6 over
# UTF-8 text, ratio = compressed/raw bytes. zlib is deterministic for
# a fixed level and input, so the per-source aggregate is stable
# across runs and partitionings. Arrow-batched pandas UDF (one C call
# per row, no JVM<->Python row ping-pong); output is |sources| rows
# with the flag counts a curation gate consumes.
# ---------------------------------------------------------------------------
@query("text_compression_ratio")
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _ratio(texts: pd.Series) -> pd.Series:
        import zlib

        def one(t):
            if t is None:
                return None
            raw = t.encode("utf-8")
            if not raw:
                return None
            return round(len(zlib.compress(raw, 6)) / len(raw), 6)

        return texts.map(one)

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select("source", _ratio(F.col("text")).alias("ratio"))
    # per-doc ratio snaps to integer ppm before the mean — long sums
    # are partition-order-immune, so the aggregate is deterministic
    # under any layout (the repo's standard float-sum discipline)
    ppm = F.floor(F.col("ratio") * 1_000_000 + 0.5).cast("long")
    return (
        scored.filter(F.col("ratio").isNotNull())
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.sum(ppm) / F.count(F.lit(1)) / 1_000_000.0, 4).alias("mean_ratio"),
            F.sum((F.col("ratio") < 0.35).cast("int")).cast("long").alias("n_too_compressible"),
            F.sum((F.col("ratio") > 0.95).cast("int")).cast("long").alias("n_incompressible"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Heaps' law fit: vocabulary growth V(n) ≈ k·n^β along the corpus —
# the companion diagnostic to zipf_fit (β far from ~0.5 flags
# templated or synthetic text whose vocabulary saturates). The curve
# is sampled at 32 checkpoints, never per-doc: each token reduces to
# its FIRST doc (min doc_id — one hash agg), docs and first
# occurrences bucket into 32 doc-id ranges, and the cumulative
# (docs-so-far, vocab-so-far) runs over the 32-row `_bk` axis (the
# bounded bucket-window shape the plan lint recognizes). Logs snap to
# integer millis and the closed-form OLS accumulates in
# decimal(38,0)/HUGEINT (the zipf_fit determinism recipe) so the
# single display division is the only float op.
# ---------------------------------------------------------------------------
@query(
    "heaps_law_fit",
    headline=True,
    oracle=rf"""
    WITH nd AS (
      SELECT CAST(MAX(doc_id) + 1 AS BIGINT) AS n_total FROM documents
    ), db AS (
      SELECT least((doc_id * 32) // n_total, 31) AS _bk,
             CAST(COUNT(*) AS BIGINT) AS dn
      FROM documents, nd GROUP BY 1
    ), fo AS (
      SELECT tok, MIN(doc_id) AS fd FROM (
        SELECT doc_id, unnest({_TOKS}) AS tok
        FROM documents WHERE length(trim(text)) > 0
      ) WHERE tok <> '' GROUP BY tok
    ), vb AS (
      SELECT least((fd * 32) // n_total, 31) AS _bk,
             CAST(COUNT(*) AS BIGINT) AS vn
      FROM fo, nd GROUP BY 1
    ), axis AS (
      SELECT db._bk,
             SUM(db.dn) OVER (ORDER BY db._bk ROWS UNBOUNDED PRECEDING) AS cum_docs,
             SUM(COALESCE(vb.vn, 0)) OVER (ORDER BY db._bk ROWS UNBOUNDED PRECEDING) AS cum_vocab
      FROM db LEFT JOIN vb USING (_bk)
    ), pts AS (
      SELECT CAST(floor(ln(cum_docs) * 1000 + 0.5) AS BIGINT) AS lx,
             CAST(floor(ln(cum_vocab) * 1000 + 0.5) AS BIGINT) AS ly
      FROM axis WHERE cum_docs > 0 AND cum_vocab > 0
    ), s AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS k,
             CAST(SUM(lx) AS HUGEINT) AS sx, CAST(SUM(ly) AS HUGEINT) AS sy,
             CAST(SUM(lx * ly) AS HUGEINT) AS sxy, CAST(SUM(lx * lx) AS HUGEINT) AS sxx
      FROM pts
    )
    SELECT CAST(k AS BIGINT) AS n_points,
           ROUND(CAST(k * sxy - sx * sy AS DOUBLE)
                 / CAST(k * sxx - sx * sx AS DOUBLE), 6) AS heaps_beta
    FROM s
    """,
)
def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    nd = F.broadcast(docs.agg((F.max("doc_id") + 1).cast("long").alias("n_total")))
    db = (
        docs.crossJoin(nd)
        .groupBy(F.expr("least((doc_id * 32) div n_total, 31)").alias("_bk"))
        .agg(F.count(F.lit(1)).cast("long").alias("dn"))
    )
    fo = (
        docs.filter(F.length(F.trim("text")) > 0)
        .select("doc_id", F.explode(X.tokens("text")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.min("doc_id").alias("fd"))
    )
    vb = (
        fo.crossJoin(nd)
        .groupBy(F.expr("least((fd * 32) div n_total, 31)").alias("_bk"))
        .agg(F.count(F.lit(1)).cast("long").alias("vn"))
    )
    w = S._bucket_axis([]).rowsBetween(Window.unboundedPreceding, 0)
    axis = (
        db.join(vb, "_bk", "left")
        .select(
            "_bk",
            F.sum("dn").over(w).alias("cum_docs"),
            F.sum(F.coalesce(F.col("vn"), F.lit(0))).over(w).alias("cum_vocab"),
        )
    )
    pts = axis.filter((F.col("cum_docs") > 0) & (F.col("cum_vocab") > 0)).select(
        F.floor(F.log(F.col("cum_docs").cast("double")) * 1000 + 0.5).cast("long").alias("lx"),
        F.floor(F.log(F.col("cum_vocab").cast("double")) * 1000 + 0.5).cast("long").alias("ly"),
    )
    dec = "decimal(38,0)"
    s = pts.agg(
        F.count(F.lit(1)).cast(dec).alias("k"),
        F.sum("lx").cast(dec).alias("sx"),
        F.sum("ly").cast(dec).alias("sy"),
        F.sum(F.col("lx") * F.col("ly")).cast(dec).alias("sxy"),
        F.sum(F.col("lx") * F.col("lx")).cast(dec).alias("sxx"),
    )
    return s.select(
        F.col("k").cast("long").alias("n_points"),
        F.round(
            (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / (F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"),
            6,
        ).alias("heaps_beta"),
    )


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion of two retrieval rankings (BM25 and
# tf·idf-sum) for the same query — the standard hybrid-search merge
# (RRF, k=60): score(d) = Σ_r 1/(60 + rank_r(d)) over the rankings
# whose top-50 pool contains d. Each pool is a corpus-scan +
# TakeOrdered top-50; ranks are row_numbers over the LIMIT-bounded
# 50-row pools (whitelisted bounded axis in the plan lint), the fusion
# is a full-outer join of two 50-row relations, and the fused score is
# the same two-term float expression on both engines, snapped to ppm.
# ---------------------------------------------------------------------------
_RRF_K = 60


@query(
    "rrf_fusion_topk",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS}) AS tok FROM documents WHERE {_NTOKS} >= 1
    ), tf AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2
    ), dl AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY 1
    ), st AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
      FROM dl
    ), dfq AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
    ), bm AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS ra FROM (
        SELECT t.doc_id,
               ROUND(SUM(CAST(floor((ln((st.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
                     * (t.tf * 2.2)
                     / (t.tf + 1.2 * (0.25 + 0.75 * (l.dl / st.avgdl)))) * 1000000 + 0.5) AS BIGINT))
                     / 1000000.0, 6) AS bm25
        FROM tf t JOIN dfq d USING (tok) JOIN dl l USING (doc_id), st
        WHERE t.tok IN ({_BM25_TERMS})
        GROUP BY t.doc_id ORDER BY bm25 DESC, t.doc_id LIMIT 50
      )
    ), ti AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY spm_sum DESC, doc_id) AS rb FROM (
        SELECT t.doc_id,
               CAST(SUM(CAST(floor(t.tf * ln(st.n_docs / d.df) * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS spm_sum
        FROM tf t JOIN dfq d USING (tok), st
        WHERE t.tok IN ({_BM25_TERMS})
        GROUP BY t.doc_id ORDER BY spm_sum DESC, t.doc_id LIMIT 50
      )
    )
    SELECT COALESCE(bm.doc_id, ti.doc_id) AS doc_id,
           CAST(ra AS BIGINT) AS bm25_rank, CAST(rb AS BIGINT) AS tfidf_rank,
           CAST(floor((COALESCE(1.0 / ({_RRF_K} + ra), 0.0)
                       + COALESCE(1.0 / ({_RRF_K} + rb), 0.0)) * 1000000 + 0.5) AS BIGINT) AS rrf_ppm
    FROM bm FULL JOIN ti ON bm.doc_id = ti.doc_id
    ORDER BY rrf_ppm DESC, doc_id
    LIMIT 10
    """,
)
def rrf_fusion_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    terms = ["hash", "join", "filter", "scan"]
    k1, b = 1.2, 0.75
    # ONE corpus tokenize feeds both rankings: the (doc, tok, tf)
    # relation is checkpointed and dl/df/n_docs all derive from it
    # (dl = Σ tf per doc == the token count), so the plan scans the
    # corpus once instead of once per ranking
    toks = docs.select("doc_id", F.explode(X.tokens("text")).alias("tok"))
    tf = (
        toks.groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    st = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    hits = (
        tf.filter(F.col("tok").isin(terms))
        .join(dfreq, "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(st))
    )
    # BM25 per-term micros — the exact expression X.bm25_topk codegens
    # (cited there; oracle replays it literally)
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    denom = F.col("tf") + k1 * (1.0 - b + b * (F.col("dl") / F.col("avgdl")))
    bm_spm = F.floor(
        (idf * (F.col("tf") * (k1 + 1.0)) / denom) * F.lit(1e6) + F.lit(0.5)
    ).cast("long")
    bm_pool = (
        hits.groupBy("doc_id")
        .agg(F.round(F.sum(bm_spm) / F.lit(1e6), 6).alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(50)
    )
    ra_w = Window.orderBy(F.desc("bm25"), "doc_id")
    bm = bm_pool.select("doc_id", F.row_number().over(ra_w).alias("ra"))
    ti_spm = F.floor(
        F.col("tf") * F.log(F.col("n_docs") / F.col("df")) * 1e6 + 0.5
    ).cast("long")
    ti_pool = (
        hits.groupBy("doc_id")
        .agg(F.sum(ti_spm).cast("long").alias("spm_sum"))
        .orderBy(F.desc("spm_sum"), "doc_id")
        .limit(50)
    )
    rb_w = Window.orderBy(F.desc("spm_sum"), "doc_id")
    ti = ti_pool.select("doc_id", F.row_number().over(rb_w).alias("rb"))
    fused = bm.join(ti, "doc_id", "full_outer").select(
        "doc_id",
        F.col("ra").cast("long").alias("bm25_rank"),
        F.col("rb").cast("long").alias("tfidf_rank"),
        F.floor(
            (
                F.coalesce(1.0 / (_RRF_K + F.col("ra")), F.lit(0.0))
                + F.coalesce(1.0 / (_RRF_K + F.col("rb")), F.lit(0.0))
            )
            * 1e6
            + 0.5
        )
        .cast("long")
        .alias("rrf_ppm"),
    )
    return fused.orderBy(F.desc("rrf_ppm"), "doc_id").limit(10)


# ---------------------------------------------------------------------------
# Exact-threshold Jaccard near-dup pairs via AllPairs/PPJoin prefix
# filtering (operators/dedup.py::prefix_filter_jaccard_pairs) — the
# deterministic exact companion to the probabilistic MinHash-LSH path:
# only each doc's rarest n − ceil(t·n) + 1 shingles are indexed, so
# the candidate join never touches hot boilerplate shingles, and the
# threshold-bounded candidates are verified with exact intersection
# counts. The oracle is the brute inverted-index join with a HAVING
# threshold — identical output by the prefix-completeness theorem.
# ---------------------------------------------------------------------------
@query(
    "prefix_jaccard_pairs",
    oracle=r"""
    WITH docs AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
      FROM documents WHERE doc_id < 300 AND length(trim(text)) > 0
    ), sh AS (
      SELECT DISTINCT doc_id, unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS shingle
      FROM docs WHERE len(w) >= 2
    ), sizes AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE ROUND(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) >= 0.4
    """,
)
def prefix_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return D.prefix_filter_jaccard_pairs(docs, threshold=0.4, shingle_n=2)
