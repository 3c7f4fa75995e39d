"""Deduplication operators for training-data pipelines: exact,
MinHash+LSH near-dup, SimHash, and n-gram Jaccard verification.

Scale design:
  * exact dedup = one hash-groupBy on a fingerprint (map-side combine;
    the only shuffle is on the 16-byte digest, not the document text);
  * MinHash LSH = signature → band → bucket equi-join; candidate pairs
    are generated per-bucket so the cross product is bounded by bucket
    size, never |corpus|²;
  * Jaccard verification joins an exploded shingle inverted index —
    also an equi-join, usable standalone for small candidate sets.
All deterministic: hashes are xxhash64/crc32 with fixed seeds; "keep"
row is min(id), never first-encountered (SURVEY §7.5 caveat).

Each near-dup stage has one private implementation: `_min_signature`
(num_hashes MINs per doc → array) for both MinHash signature builders;
`_pair_expansion` (in-bucket C(n,2) pairs) for MinHash buckets and
SimHash records; `_postings` (id, set_size, shingle) and `_jaccard`
(intersection counts → 6-dp Jaccard) for `ngram_jaccard_pairs`, its
delta and `prefix_filter_jaccard_pairs`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from elective_waiting_times_pipeline_spark.operators.text import (
    fingerprint_md5,
    md5_prefix60,
    ngrams,
    tokens,
)


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one row (min id) per normalized-text fingerprint.

    Skew shape: winner selection is a map-side-combinable MIN per
    digest plus an equi-join back — NOT a ROW_NUMBER window. A
    boilerplate text repeated 10^6 times reduces to one (digest, min)
    row before the agg exchange, and while the rejoin still routes the
    hot digest's copies to one partition, a join task streams and AQE
    skew-join can split it; a window partition must sort and buffer
    every copy in a single task and AQE cannot split it (the same
    argument as chunk_dedup_stats).

    NULL text hashes to a NULL fingerprint, which an equi-join would
    silently drop; coalescing the digest to a non-hex sentinel (md5
    output is 32 hex chars, so no collision) keeps NULL-text rows in
    ONE group with min-id-wins — the semantics the former
    ROW_NUMBER-window form had, where the window partitioned all
    NULLs together."""
    keyed = df.withColumn(
        "_fp", F.coalesce(fingerprint_md5(text_col), F.lit("_null_"))
    )
    winners = keyed.groupBy("_fp").agg(F.min(id_col).alias("_win"))
    return (
        keyed.join(winners, "_fp")
        .filter(F.col(id_col) == F.col("_win"))
        .drop("_fp", "_win")
    )


def exact_dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Fingerprint → (canonical_id, n_copies) summary (hash-groupBy)."""
    return (
        df.select(F.col(id_col), fingerprint_md5(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, signature ARRAY<BIGINT>[num_hashes]) via min over shingle
    hashes; hash_i(s) = xxhash64(i, shingle_hash) (fixed seeds →
    deterministic). Documents with no shingles are dropped.

    A shingle's hash is the xxhash64 chain over its tokens' hashes,
    xxhash64(xxhash64(h1, h2), h3) for n = 3: `ngrams` over the
    per-token hash array with `F.xxhash64` as the join. Longs through
    zip_with are ~an order of magnitude cheaper than building shingle
    strings, and hash-equivalent for signature purposes.

    Physical shape: hash-chain shingles (no per-shingle string
    allocation) → explode longs → `_min_signature`."""
    exploded = (
        df.select(F.col(id_col), tokens(text_col).alias("_toks"))
        .select(
            F.col(id_col),
            F.transform("_toks", lambda t: F.xxhash64(t)).alias("_th"),
        )
        .select(
            F.col(id_col),
            F.explode(
                F.array_distinct(ngrams(F.col("_th"), shingle_n, F.xxhash64))
            ).alias("_sh"),
        )
    )
    return _min_signature(
        exploded, id_col, num_hashes, lambda i: F.xxhash64(F.lit(i), F.col("_sh"))
    )


def _min_signature(exploded: DataFrame, id_col: str, num_hashes: int, seed_hash) -> DataFrame:
    """(id, signature) from one row per (doc, shingle): component i is
    MIN(seed_hash(i)) per doc — num_hashes flat columns in one
    map-side-combinable hash-agg, so the shuffle carries num_hashes
    longs per doc, then one array."""
    mins = exploded.groupBy(id_col).agg(
        *[F.min(seed_hash(i)).alias(f"_h{i}") for i in range(num_hashes)]
    )
    return mins.select(
        F.col(id_col), F.array(*[f"_h{i}" for i in range(num_hashes)]).alias("signature")
    )


def minhash_signature_from_hashes(sh: F.Column, num_hashes: int = 16) -> F.Column:
    """ROW-LOCAL MinHash signature of one shingle-hash array: array_min
    over per-seed transforms — the identical values `minhash_signatures`
    computes (min over the same multiset with the same
    xxhash64(seed, shingle_hash) functions), as ONE expression with no
    explode, no aggregation, no shuffle. That is what makes it usable
    on a STREAMING DataFrame (stateless append), and only there: in
    batch it measured 6.7× slower at ×100 (127 s vs 19 s) than the
    explode form. A doc with no shingles gets all-NULL components;
    filter on `size(sh) > 0` first, as the batch operator drops it.

    Pass a BOUND ATTRIBUTE (e.g. via `functions/barrier.py::bind_once`):
    each of the `num_hashes` transforms references the array once, so
    an inline expression argument re-runs the whole tokenize+hash-chain
    fold per seed — codegen does not CSE across lambda bodies (measured
    on the streaming store check: 13.0 s → 1.7 s for 5k docs once the
    array is bound)."""

    # factory, NOT a default-arg lambda: `lambda s, i=i: ...` has TWO
    # parameters, which pyspark treats as the (element, index) binary
    # lambda form and silently rebinds i to the array index — every
    # seed then hashes identically (caught by the batch-parity test)
    def seed_min(i: int) -> F.Column:
        return F.array_min(F.transform(sh, lambda s: F.xxhash64(F.lit(i), s)))

    return F.array(*[seed_min(i) for i in range(num_hashes)])


def minhash_signatures_replayable(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 2,
) -> DataFrame:
    """MinHash signatures with a CROSS-ENGINE-REPLAYABLE hash family:
    component i = min over word shingles s of the 60-bit prefix of
    md5(i || '|' || s) — every primitive (lower/trim/split, string
    concat, md5, hex→int) exists identically in any ANSI engine, so an
    independent SQL oracle can recompute the signatures value-for-value
    (the `text_fingerprint_rolling` recipe). Same estimator semantics
    as `minhash_signatures`; that xxhash64 form stays the production
    path (one 64-bit hash per shingle-seed vs an md5 here — md5 costs
    ~an order of magnitude more per call, which a correctness surface
    absorbs and a 100 TB pass should not).

    Same physical shape: shingle explode → `_min_signature`.
    Documents with no shingles (fewer than shingle_n tokens) are
    dropped, as in the xxhash64 form. Duplicate shingles need no dedup
    — MIN over a multiset equals MIN over its set."""
    exploded = df.select(
        F.col(id_col), tokens(text_col).alias("_toks")
    ).select(
        F.col(id_col),
        F.explode(ngrams(F.col("_toks"), shingle_n)).alias("_s"),
    )
    h60 = lambda i: md5_prefix60(F.concat_ws("|", F.lit(str(i)), F.col("_s")))
    return _min_signature(exploded, id_col, num_hashes, h60)


def _banded(
    sigs: DataFrame,
    id_col: str,
    bands: int,
    rows_per_band: int,
    bucket_hash: str = "xxhash64",
) -> DataFrame:
    """(id, band, bucket) rows: one bucket hash per signature band.
    Shared by the batch and incremental candidate generators so both
    hash identically. bucket_hash="md5" swaps the xxhash64 bucket key
    for md5 of the same joined-component string — replayable by an
    independent SQL engine (bucket equality is all that matters, so
    any deterministic shared hash gives identical candidate sets)."""
    band_idx = F.sequence(F.lit(0), F.lit(bands - 1))
    needed = bands * rows_per_band
    # loud guard: a signature shorter than bands*rows_per_band would
    # slice the high bands to [] -> array_join '' -> ONE shared bucket
    # hash for every doc -> silent C(n,2) blowup of the whole corpus
    checked = F.when(
        F.col("signature").isNull() | (F.size("signature") < needed),
        F.raise_error(
            F.concat(
                F.lit(
                    f"LSH banding needs bands*rows_per_band={needed} signature "
                    "components, got "
                ),
                F.coalesce(F.size("signature").cast("string"), F.lit("NULL")),
            )
        ),
    ).otherwise(F.col("signature"))
    hash_fn = F.md5 if bucket_hash == "md5" else F.xxhash64
    return sigs.select(
        F.col(id_col),
        F.explode(
            F.transform(
                band_idx,
                lambda b: F.struct(
                    b.alias("band"),
                    hash_fn(
                        F.array_join(F.slice(checked, b * rows_per_band + 1, rows_per_band), ",")
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")


def incremental_lsh_candidates(
    new_sigs: DataFrame,
    store_sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    rows_per_band: int = 4,
    max_bucket_size: int | None = None,
    bucket_hash: str = "xxhash64",
) -> DataFrame:
    """Candidate pairs INVOLVING AT LEAST ONE NEW DOCUMENT —
    new × (store ∪ new) — for ingest-time dedup against an existing
    corpus: the daily increment never re-tokenizes or re-hashes the
    100 TB store, only its persisted SIGNATURE table (id + num_hashes
    longs — narrow, banding it is a cheap transform) and the new
    batch's texts. Store-internal pairs are already known from prior
    runs and are not re-emitted.

    Same bucket hashing as `minhash_lsh_candidates` (shared `_banded`),
    so incremental results equal the full run restricted to new-doc
    pairs (equivalence-tested). The equi-join on (band, bucket)
    shuffles |new bands| + |store bands| narrow rows; `max_bucket_size`
    drops over-full buckets by their size in the UNION (matching the
    batch guard's semantics: a hot bucket is an exact-dup/boilerplate
    group, exact dedup's job). ``bucket_hash="md5"`` gives the
    SQL-replayable bucket keys (pair signatures built with
    `minhash_signatures_replayable`)."""
    nb = _banded(new_sigs, id_col, bands, rows_per_band, bucket_hash)
    ub = _banded(store_sigs, id_col, bands, rows_per_band, bucket_hash).unionByName(nb)
    if max_bucket_size is not None:
        ok = (
            ub.groupBy("band", "bucket")
            .agg(F.countDistinct(id_col).alias("_n"))
            .filter(F.col("_n") <= max_bucket_size)
            .select("band", "bucket")
        )
        nb = nb.join(ok, ["band", "bucket"], "left_semi")
        ub = ub.join(ok, ["band", "bucket"], "left_semi")
    n = nb.select("band", "bucket", F.col(id_col).alias("_nid"))
    u = ub.select("band", "bucket", F.col(id_col).alias("_uid"))
    return (
        n.join(u, ["band", "bucket"])
        .filter(F.col("_nid") != F.col("_uid"))
        .select(
            F.least("_nid", "_uid").alias("id_a"),
            F.greatest("_nid", "_uid").alias("id_b"),
        )
        .distinct()
    )


def minhash_lsh_candidates(
    sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    rows_per_band: int = 4,
    max_bucket_size: int | None = None,
    bucket_hash: str = "xxhash64",
) -> DataFrame:
    """Band the signatures, bucket by band hash, and expand candidate
    pairs WITHIN each bucket. Returns distinct (id_a, id_b), id_a <
    id_b.

    Physical shape: one pass computes signatures and explodes `bands`
    (band, bucket_hash) rows per doc; one shuffle groups ids per
    bucket (collect_set — buckets are small by LSH design); pair
    expansion is an in-array fold, so the signature pipeline is never
    recomputed (a self-join formulation scans the corpus twice and, as
    observed, defeats Spark's exchange reuse).

    ``max_bucket_size`` is the hot-bucket guard for corpus scale: a
    bucket of n ids expands to a C(n,2)-struct array in ONE row before
    exploding, so a degenerate bucket (exact copies all share every
    band hash; boilerplate docs collide too) is a per-row memory bomb
    — 10k copies → 50M structs in a single row. Buckets above the cap
    are dropped entirely (standard LSH practice: an over-full bucket
    identifies an exact-dup/boilerplate group, which exact dedup
    handles at O(group) cost, not a NEAR-dup neighborhood worth
    C(n,2) verification). Default None = emit everything
    (rows-only-checkable, used by the recall tests).

    ``bucket_hash="md5"`` keys buckets by md5 instead of xxhash64 —
    combined with `minhash_signatures_replayable` this makes the
    whole candidate pipeline recomputable by an independent SQL
    engine (the oracle-backed catalog configuration)."""
    banded = _banded(sigs, id_col, bands, rows_per_band, bucket_hash)
    buckets = (
        banded.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_set(id_col)).alias("_ids"))
        .filter(F.size("_ids") >= 2)
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("_ids") <= max_bucket_size)
    pairs = buckets.select(
        F.explode(
            F.expr(_pair_expansion("_ids", lambda lo, hi: f"{lo} AS id_a, {hi} AS id_b"))
        ).alias("p")
    )
    return pairs.select("p.id_a", "p.id_b").distinct()


def _pair_expansion(arr: str, fields) -> str:
    """SQL for the in-bucket C(n,2) pair expansion of the sorted array
    column `arr`: one struct per j < i, built by `fields(lo, hi)` from
    the SQL of the lower element arr[j] and the higher element arr[i].
    An in-array fold in ONE row, so a bucket never self-joins."""
    return (
        f"flatten(transform(sequence(1, size({arr}) - 1), i -> "
        f"transform(sequence(0, i - 1), j -> struct({fields(f'{arr}[j]', f'{arr}[i]')}))))"
    )


def minhash_estimate_jaccard(
    pairs: DataFrame,
    sigs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Candidate pairs + `est_jaccard`: the fraction of agreeing
    MinHash components (the unbiased Jaccard estimator, Broder '97).

    The standard middle stage of the MinHash pipeline —
    candidates → ESTIMATE → exact verification: a component compare
    costs O(num_hashes) per pair vs re-tokenizing both documents, so
    thresholding on the estimate first keeps the expensive exact
    `ngram_jaccard_pairs` verification off the (much larger)
    false-candidate set. Two equi-joins against the signature table
    (hash-partitioned on id, signatures are num_hashes longs — a
    narrow shuffle); the agreement count is a codegen'd zip_with
    fold, no UDF."""
    sa = sigs.select(F.col(id_col).alias(src), F.col("signature").alias("_sig_a"))
    sb = sigs.select(F.col(id_col).alias(dst), F.col("signature").alias("_sig_b"))
    agree = F.aggregate(
        F.zip_with("_sig_a", "_sig_b", lambda a, b: (a == b).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        pairs.join(sa, src)
        .join(sb, dst)
        .withColumn(
            "est_jaccard", F.round(agree / F.size("_sig_a"), 6)
        )
        .drop("_sig_a", "_sig_b")
    )


def _postings(df: DataFrame, text_col: str, id_col: str, shingle_n: int) -> DataFrame:
    """(id, set_size, shingle): one posting row per distinct word
    shingle of each doc — the inverted index every exact-Jaccard
    generator joins. Docs with no shingle (NULL, empty or shorter than
    shingle_n tokens) emit no rows."""
    # set_size is a ROW-LOCAL property (count of the doc's distinct
    # shingles = size of the deduped array), so it rides along on the
    # posting rows for free: no size aggregation, no postings-sized
    # co-partition join to attach it back. The array expression is
    # evaluated ONCE in the projection below Generate (explode reads
    # the bound `_arr` attribute, not the expression).
    # explode_OUTER + an isnotnull filter on the OUTPUT attribute: a
    # plain explode makes InferFiltersFromGenerate add a
    # `size(e) > 0 AND isnotnull(e)` filter below the Generate, and
    # predicate pushdown inlines `_arr`'s defining expression into it —
    # the whole tokenize+shingle pipeline would run TWICE per row
    # (verified in the optimized plan). With outer=true no filter is
    # inferred; empty-array docs emit one NULL shingle row that the
    # attribute-level filter drops for the same final rows.
    return df.select(
        F.col(id_col), tokens(text_col).alias("_toks")
    ).select(
        F.col(id_col),
        F.array_distinct(ngrams(F.col("_toks"), shingle_n)).alias("_arr"),
    ).select(
        F.col(id_col),
        F.size("_arr").alias("set_size"),
        F.explode_outer("_arr").alias("shingle"),
    ).filter(F.col("shingle").isNotNull())


def _jaccard(inter: DataFrame, min_jaccard: float) -> DataFrame:
    """(id_a, id_b, size_a, size_b, inter) → (id_a, id_b, jaccard):
    inter / (size_a + size_b − inter) rounded to 6 dp, kept when
    >= min_jaccard (no filter when min_jaccard <= 0)."""
    out = inter.select(
        "id_a",
        "id_b",
        F.round(
            F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter")), 6
        ).alias("jaccard"),
    )
    return out.filter(F.col("jaccard") >= min_jaccard) if min_jaccard > 0 else out


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    min_jaccard: float = 0.0,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact Jaccard over word-shingle sets for all co-shingled pairs,
    via an inverted-index equi-join (shingle → docs). Output:
    (id_a, id_b, jaccard) with id_a < id_b, rounded to 6 dp.

    Scale note: the self-join fans out as sum(df_s²) over shingle
    document frequencies — one boilerplate shingle shared by 1M docs
    is a 10¹² blow-up. `max_doc_freq` drops shingles appearing in
    more than that many docs BEFORE the pair join (set sizes still
    count them, so jaccard is then a lower bound for the surviving
    pairs — the standard hot-token guard); at corpus scale, also feed
    this only LSH candidates. Default None = exact, oracle-checkable.
    """
    shingled = _postings(df, text_col, id_col, shingle_n)
    if max_doc_freq is not None:
        # window-free df cap: aggregate doc-frequency, semi-join back
        rare = (
            shingled.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_doc_freq)
            .select("shingle")
        )
        shingled = shingled.join(rare, "shingle")
    a = shingled.select(
        F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a"), "shingle"
    )
    b = shingled.select(
        F.col(id_col).alias("id_b"), F.col("set_size").alias("size_b"), "shingle"
    )
    # shuffle_hash: both sides are the postings table — sorting them
    # for a sort-merge join buys nothing (the agg downstream is hash,
    # not sort-based) and measured 2× the stage time. Build side per
    # partition is postings/num_partitions (bounded by shuffle sizing;
    # `max_doc_freq` caps hot keys) — and a hint Catalyst can't honor
    # is simply ignored, so this never forces an invalid plan.
    inter = (
        a.join(
            b.hint("shuffle_hash"),
            (a["shingle"] == b["shingle"]) & (a["id_a"] < b["id_b"]),
        )
        .groupBy("id_a", "id_b", "size_a", "size_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return _jaccard(inter, min_jaccard)


def ngram_jaccard_pairs_delta(
    df: DataFrame,
    new_ids: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    min_jaccard: float = 0.0,
) -> DataFrame:
    """Exactly the subset of `ngram_jaccard_pairs(df)` whose pairs
    touch at least one id in `new_ids` — the pair feed for
    INCREMENTAL cluster-store maintenance (`update_cluster_store`).
    Jaccard depends only on the two documents, so a pair between two
    OLD docs cannot change when new docs arrive; on a corpus refresh
    only (old,new) and (new,new) pairs need generating. The posting
    join's fan-out drops from Σ df² to Σ df·df_new — proportional to
    the delta fraction, which is the whole point at 100 TB.

    Output and rounding are bit-identical to the full generator
    (same postings, same `_jaccard` scoring, same id_a < id_b
    orientation); equivalence to
    `ngram_jaccard_pairs(df).filter(touching new)` is property-tested
    in tests/test_dedup_similarity.py."""
    # carry an is-new flag through the postings (broadcast semi-shape:
    # new_ids is the small delta), then split ONCE — the old side never
    # self-joins, which is where the full generator's cost lives
    flagged = _postings(df, text_col, id_col, shingle_n).join(
        F.broadcast(new_ids.select(F.col(id_col)).distinct().withColumn("_new", F.lit(True))),
        id_col,
        "left",
    )
    new_side = flagged.filter(F.col("_new").isNotNull())
    old_side = flagged.filter(F.col("_new").isNull())

    def _legs(side, suffix):
        return side.select(
            F.col(id_col).alias(f"id_{suffix}"),
            F.col("set_size").alias(f"size_{suffix}"),
            "shingle",
        )
    # (old, new): each unordered pair appears exactly once (sides are
    # disjoint); orient afterwards. (new, new): same id_a < id_b
    # predicate as the full generator.
    on = _legs(old_side, "x").join(
        _legs(new_side, "y").hint("shuffle_hash"), "shingle"
    )
    nn = _legs(new_side, "x").join(
        _legs(new_side, "y").hint("shuffle_hash"),
        "shingle",
    ).filter(F.col("id_x") < F.col("id_y"))
    both = on.unionByName(nn).select(
        F.least("id_x", "id_y").alias("id_a"),
        F.greatest("id_x", "id_y").alias("id_b"),
        F.when(F.col("id_x") < F.col("id_y"), F.col("size_x")).otherwise(F.col("size_y")).alias("size_a"),
        F.when(F.col("id_x") < F.col("id_y"), F.col("size_y")).otherwise(F.col("size_x")).alias("size_b"),
    )
    inter = both.groupBy("id_a", "id_b", "size_a", "size_b").agg(
        F.count(F.lit(1)).alias("inter")
    )
    return _jaccard(inter, min_jaccard)


def verify_candidate_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    min_jaccard: float = 0.0,
) -> DataFrame:
    """Exact Jaccard verification RESTRICTED to a candidate pair list
    (the LSH ingest path's second stage): tokenizes only documents
    that appear in a pair — one semi-join against the endpoint ids —
    never the corpus. This is what lets small-delta ingest beat the
    exact delta generator's cost floor: `ngram_jaccard_pairs_delta`
    must re-tokenize the WHOLE corpus to build its posting lists (the
    measured ~O(scan) floor at 1% deltas, SCALE.md round 10), while
    candidates from the persisted signature store touch only
    |new ∪ partners| documents' text.

    Returns (id_a, id_b, jaccard) for the candidate pairs whose exact
    Jaccard ≥ min_jaccard. Candidates that share no shingle (possible
    under banding false-positives) are never emitted, whatever
    min_jaccard is. Implemented as the standard inverted-index join
    over the touched-document subset, then an equi-join back onto the
    candidate list — co-shingled NON-candidate pairs among the touched
    docs are computed and discarded; bounding that waste is the
    candidate list's job (banding keeps partners per new doc small)."""
    # endpoint set built row-locally (explode of both ids) rather than
    # union(select(a), select(b)): the union form references the
    # candidate-pair subtree twice and exchange reuse does not bridge
    # union legs (same pathology fixed in cluster._symmetrize)
    ids = (
        pairs.select(F.explode(F.array("id_a", "id_b")).alias(id_col))
        .distinct()
    )
    touched = docs.join(ids, id_col, "left_semi")
    scored = ngram_jaccard_pairs(
        touched, text_col, id_col, shingle_n, min_jaccard=0.0
    )
    out = pairs.select("id_a", "id_b").join(scored, ["id_a", "id_b"])
    return out.filter(F.col("jaccard") >= min_jaccard) if min_jaccard > 0 else out


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    token_hash=None,
) -> DataFrame:
    """SimHash over token bit patterns, computed entirely with fold
    expressions (no UDF): for each bit position, +1/-1 votes across
    tokens; sign → bit.

    Token hash = xxhash64(token) by default (deterministic).
    ``token_hash`` swaps the hash family — pass
    `text.md5_prefix60` with bits=60 for the cross-engine-replayable
    configuration an SQL oracle can recompute. The per-bit vote is
    one aggregate over the exploded token column — a single shuffle.
    """
    toked = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
    h = token_hash(F.col("tok")) if token_hash is not None else F.xxhash64("tok")
    # per-instance ±1 when-votes, NOT a (doc, tok, tf) pre-aggregate:
    # the 64 sums partial-aggregate map-side down to one 64-long row
    # per doc before the only exchange, so the heavy stage never
    # shuffles token strings — an A/B on a ×100 lake measured the
    # tf-weighted two-exchange form 2.5-4× SLOWER (8.8-16.5 s vs
    # 3.5 s) despite reading 4× fewer rows in its vote stage.
    votes = [
        F.sum(
            F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"_v{i}")
        for i in range(bits)
    ]
    voted = toked.groupBy(id_col).agg(*votes)
    sim = None
    for i in range(bits):
        bit = F.when(F.col(f"_v{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = bit * F.lit(1 << i).cast("long") if i < 63 else bit * F.lit(-(1 << 63)).cast("long")
        sim = term if sim is None else sim + term
    return voted.select(F.col(id_col), sim.alias("simhash"))


def _simhash_buckets(
    sims: DataFrame,
    id_col: str,
    sim_col: str,
    max_hamming: int,
    bands: int | None,
    bits: int,
) -> DataFrame:
    """Shared banding kernel for `simhash_near_dup_pairs` and its
    truncation report `simhash_overcap_buckets`: (band, bucket, _recs)
    for every band-chunk bucket holding ≥ 2 signatures, where _recs is
    the id-sorted array of (id, simhash) structs in the bucket."""
    if bands is None:
        bands = max_hamming + 1
    # `bits` must match the signature's real width: chunking a 32-bit
    # simhash on a 64-bit layout would leave the high chunks all-zero
    # and collapse the whole corpus into one bucket per high band.
    if not 1 <= bands <= bits <= 64:
        raise ValueError(f"need 1 <= bands <= bits <= 64: bands={bands}, bits={bits}")
    # chunk b covers bits [offsets[b], offsets[b+1]) — widths as even
    # as bits/bands allows, remainder spread over the first chunks.
    base, rem = divmod(bits, bands)
    widths = [base + (1 if b < rem else 0) for b in range(bands)]
    offsets = [sum(widths[:b]) for b in range(bands)]

    def chunk(b: int) -> F.Column:
        shifted = F.shiftrightunsigned(F.col(sim_col), offsets[b])
        if widths[b] >= 64:  # full-width chunk: (1<<64)-1 overflows a
            return shifted   # long literal, and no mask is needed
        mask = (1 << widths[b]) - 1
        return shifted.bitwiseAND(F.lit(mask))

    banded = sims.select(
        F.explode(
            F.array(*[F.struct(F.lit(b).alias("band"), chunk(b).alias("bucket")) for b in range(bands)])
        ).alias("bb"),
        F.struct(F.col(id_col).alias("id"), F.col(sim_col).alias("sh")).alias("rec"),
    ).select("bb.band", "bb.bucket", "rec")
    return (
        banded.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_set("rec")).alias("_recs"))
        .filter(F.size("_recs") >= 2)
    )


def simhash_overcap_buckets(
    sims: DataFrame,
    id_col: str = "doc_id",
    sim_col: str = "simhash",
    max_hamming: int = 8,
    bands: int | None = None,
    *,
    max_bucket_size: int,
    bits: int = 64,
) -> DataFrame:
    """The buckets `simhash_near_dup_pairs` DROPS under the same
    parameters: (band, bucket, bucket_size, dropped_candidates) per
    over-cap bucket. ``max_bucket_size`` is keyword-REQUIRED with no
    default: the report only means anything for the cap the generator
    actually ran with (`simhash_near_dup_pairs` defaults to NO cap),
    so a defaulted value here could claim pairs were dropped that
    never were. Makes the hot-bucket guard's recall trade
    OBSERVABLE — a run that reports zero rows here lost nothing; a
    run with large `dropped_candidates` should route those ids
    through exact dedup (which covers the dominant all-bits-equal
    case) or re-run with a larger cap. Same single shuffle as the
    pair generator, minus the pair expansion — cheap enough to run
    alongside every production near-dup pass."""
    buckets = _simhash_buckets(sims, id_col, sim_col, max_hamming, bands, bits)
    sz = F.size("_recs")
    return buckets.filter(sz > max_bucket_size).select(
        "band",
        "bucket",
        sz.alias("bucket_size"),
        (sz.cast("long") * (sz - 1) / 2).cast("long").alias("dropped_candidates"),
    )


def simhash_near_dup_pairs(
    sims: DataFrame,
    id_col: str = "doc_id",
    sim_col: str = "simhash",
    max_hamming: int = 8,
    bands: int | None = None,
    max_bucket_size: int | None = None,
    bits: int = 64,
) -> DataFrame:
    """Near-dup pairs by SimHash: band the `bits`-wide hash into chunks —
    by pigeonhole, a pair with Hamming distance ≤ max_hamming MUST
    agree on at least one of max_hamming+1 chunks (the differing bits
    can ruin at most max_hamming chunks), so bucket-join on chunks and
    verify exact Hamming inside buckets. Same bucket-local pair
    expansion as MinHash LSH (one shuffle, no self-join).

    `bands` defaults to max_hamming+1 — the smallest complete-recall
    choice. Fewer bands = bigger chunks = smaller buckets but NO
    completeness guarantee beyond hamming < bands.

    ``max_bucket_size`` is the same hot-bucket guard as in
    minhash_lsh_candidates (exact copies share the full simhash →
    every chunk collides → C(n,2) per-row expansion); over-cap
    buckets are dropped, trading the exact-dup group (covered by
    exact dedup) for bounded memory. The drop is a RECALL trade —
    legitimate near-dup pairs inside a large non-exact-dup cluster
    are lost silently; run `simhash_overcap_buckets` with the same
    parameters to see exactly which buckets (and how many candidate
    rows) the cap discarded."""
    buckets = _simhash_buckets(sims, id_col, sim_col, max_hamming, bands, bits)
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("_recs") <= max_bucket_size)
    # The exact-Hamming verify runs INSIDE the array pipeline (filter
    # before explode): a losing candidate costs two ALU ops in the
    # lambda and is never materialized as a row, where the previous
    # explode-then-filter form generated a full (ids, two 64-bit
    # signatures) row per candidate first — on the ×100 shifted-text
    # lake (42 M candidates, ~0.6 M survivors) the verify dominates
    # the query, and skipping loser-row materialization through
    # Generate is the only lever that doesn't change recall (a second
    # banding pass was considered and rejected: any chunk-agreement
    # prefilter is the SAME xor/popcount work the verify already does,
    # just on a subset of the bits).
    recs = _pair_expansion(
        "_recs",
        lambda lo, hi: f"{lo}.id AS id_a, {hi}.id AS id_b, bit_count({lo}.sh ^ {hi}.sh) AS hamming",
    )
    pairs = buckets.select(
        F.explode(F.expr(f"filter({recs}, p -> p.hamming <= {int(max_hamming)})")).alias("p")
    ).select("p.id_a", "p.id_b", "p.hamming")
    return pairs.distinct()


def chunk_dedup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 32,
) -> DataFrame:
    """Chunk-granularity exact dedup (the fixed-width analog of
    paragraph dedup for corpora without structural newlines — the
    MassiveText/C4 "remove repeated passages" discipline): cut every
    document into disjoint `window`-token chunks, fingerprint each
    chunk, and keep only the globally FIRST occurrence of each
    fingerprint under the total order (doc_id, chunk_idx); every later
    occurrence — in the same doc or any other — is a duplicate.

    Returns one row per document: `n_chunks`, `n_dup_chunks`, and
    `kept_tokens` (tokens surviving after dropping duplicate chunks).

    Scale: the winner per fingerprint is ONE min_by aggregation on the
    md5 digest (map-side partial combine, digest-only shuffle — chunk
    text never leaves the scan stage), re-joined on the digest. No
    windows, no skew: a boilerplate chunk repeated 10^6 times still
    reduces to one (digest, winner) row; the rejoin key is the digest
    whose fan-out Spark handles as an ordinary equi-join. Contrast
    with ROW_NUMBER() OVER (PARTITION BY digest): same semantics, but
    the window sorts every copy of a hot chunk in one task and has no
    partial aggregation.
    """
    from elective_waiting_times_pipeline_spark.operators.packing import sliding_chunks

    # TWO consumers of the chunk relation (winners agg + rejoin) — an
    # un-shared subtree re-runs the tokenize/explode/chunk-text
    # materialization for each. The projection below is already
    # digest-narrow (no chunk text), so the reuse barrier is cheap:
    # ×100 warmup+min-of-2 A/B 5.3 → 3.5 s.
    chunks = (
        sliding_chunks(df, text_col, id_col, window=window, stride=window)
        .select(
            id_col,
            "chunk_idx",
            "n_chunk_tokens",
            F.md5("chunk_text").alias("_fp"),
        )
        .localCheckpoint(eager=False)
    )
    winners = chunks.groupBy("_fp").agg(
        F.min(F.struct(F.col(id_col).alias("d"), F.col("chunk_idx").alias("i"))).alias("_w")
    )
    flagged = chunks.join(winners, "_fp").withColumn(
        "_dup",
        (F.col(id_col) != F.col("_w.d")) | (F.col("chunk_idx") != F.col("_w.i")),
    )
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("int").alias("n_chunks"),
        F.sum(F.col("_dup").cast("int")).cast("int").alias("n_dup_chunks"),
        F.sum(F.when(F.col("_dup"), 0).otherwise(F.col("n_chunk_tokens"))).cast("long").alias(
            "kept_tokens"
        ),
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 2,
) -> DataFrame:
    """Exact Jaccard >= threshold pairs via AllPairs/PPJoin prefix
    filtering — the EXACT-threshold scale path next to the
    probabilistic MinHash-LSH candidates. Output (id_a, id_b, jaccard),
    id_a < id_b, 6 dp.

    Why it's complete (no false negatives): under a global element
    order, index only each set's first n − ceil(t·n) + 1 elements. Any
    pair with J >= t has overlap o >= ceil(t·n) for EACH set, so if a
    set's prefix held no common element, all o common elements would
    fit in its ceil(t·n) − 1 suffix — a contradiction; applying the
    argument to the smallest common element puts IT in both prefixes,
    so the prefix equi-join finds every qualifying pair. Candidates
    are then verified with exact intersection counts — results match
    the brute inverted-index join exactly (unit-tested).

    Scale shape: the global order is by ascending document frequency
    (rarest first), so prefixes hold the rarest shingles and the
    candidate join fans out on sum(df²) over PREFIX postings only —
    the hot boilerplate shingles that blow up the brute join live in
    suffixes and never generate pairs. Per-doc ranking windows
    partition on the doc id (bounded by document length); the verify
    join expands |candidates| x set size, already threshold-bounded.
    """
    # FOUR consumers read the postings relation (dfreq, the ranked
    # prefix join, and both verify legs) — un-pinned, each one re-runs
    # the corpus tokenize+shingle+explode (one parquet scan of the
    # corpus each). Same class-C recipe as bm25/tfidf: materialize the
    # narrow (id, n, shingle) relation once. n is the postings'
    # row-local set size, so no size aggregate or join is needed.
    sh = _postings(df, text_col, id_col, shingle_n).select(
        F.col(id_col).alias("id"), F.col("set_size").alias("n"), "shingle"
    ).localCheckpoint(eager=False)
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    w = Window.partitionBy("id").orderBy("_df", "shingle")
    ranked = sh.join(dfreq, "shingle").withColumn("_p", F.row_number().over(w))
    prefix = ranked.filter(
        F.col("_p") <= F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1
    ).select("id", "shingle", "n")
    a = prefix.select(F.col("id").alias("id_a"), F.col("n").alias("size_a"), "shingle")
    b = prefix.select(F.col("id").alias("id_b"), F.col("n").alias("size_b"), "shingle")
    cand = (
        a.join(b.hint("shuffle_hash"), (a["shingle"] == b["shingle"]) & (a["id_a"] < b["id_b"]))
        .select("id_a", "id_b", "size_a", "size_b")
        .distinct()
    )
    # exact verify: expand each candidate pair by doc A's full set,
    # keep the shingles doc B also has, count
    pa = sh.select(F.col("id").alias("id_a"), "shingle")
    pb = sh.select(F.col("id").alias("id_b"), "shingle")
    inter = (
        cand.join(pa, "id_a")
        .join(pb.hint("shuffle_hash"), ["id_b", "shingle"])
        .groupBy("id_a", "id_b", "size_a", "size_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return _jaccard(inter, threshold)
