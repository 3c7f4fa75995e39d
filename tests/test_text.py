"""Text operators: the `ngrams` window kernel against the constructions
it replaced, and `token_profile`'s two physical branches."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from elective_waiting_times_pipeline_spark.operators import text as X


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, None),
            (2, ""),
            (3, "   "),
            (4, "the quick brown fox jumps over the lazy dog"),
            (5, "a.b,c! d e f g h i j"),
            (6, "uno due tre uno due tre uno due tre"),
        ],
        "doc_id long, text string",
    )


@pytest.fixture(scope="module")
def gram_docs(spark):
    """NULL, empty, whitespace-only, short, repeated-token and
    leading-tab (an empty first token) texts."""
    return spark.createDataFrame(
        [
            (1, None),
            (2, ""),
            (3, "   "),
            (4, "one"),
            (5, "one two"),
            (6, "the quick brown fox jumps over the lazy dog"),
            (7, "a.b,c! d e f g h i j"),
            (8, "uno due tre uno due tre uno due tre"),
            (9, "x x x x x x"),
            (10, "\tlead tab"),
        ],
        "doc_id long, text string",
    )


# Reference constructions, kept inline exactly as the engine built its
# windows before `ngrams` replaced them.
def _zip_with_fold(toks, n):
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    acc = F.slice(toks, 1, m)
    for i in range(2, n + 1):
        acc = F.zip_with(acc, F.slice(toks, i, m), lambda a, b: F.concat(a, F.lit(" "), b))
    return acc


def _arrays_zip_concat_ws(toks, n):
    count = F.size(toks) - (n - 1)
    zipped = F.arrays_zip(*[F.slice(toks, i + 1, count) for i in range(n)])
    return F.when(count <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(zipped, lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(n)]))
    )


def _xxhash64_chain(h, n):
    out = cur = h
    for _ in range(n - 1):
        nxt = F.slice(cur, 2, F.greatest(F.size(cur) - 1, F.lit(0)))
        out = F.zip_with(out, nxt, lambda a, b: F.xxhash64(a, b))
        cur = nxt
    count = F.size(h) - (n - 1)
    return F.array_distinct(
        F.when(count <= 0, F.array().cast("array<bigint>")).otherwise(F.slice(out, 1, count))
    )


def _pair_zip(toks):
    m = F.greatest(F.size(toks) - 1, F.lit(0))
    return F.zip_with(
        F.slice(toks, 1, m),
        F.slice(toks, 2, m),
        lambda a, b: F.struct(a.alias("x"), b.alias("y")),
    )


def _bound(gram_docs):
    return gram_docs.select(
        "doc_id", X.tokens("text").alias("toks")
    ).select(
        "doc_id", "toks", F.transform("toks", lambda t: F.xxhash64(t)).alias("th")
    )


def test_ngrams_matches_replaced_string_constructions(spark, gram_docs):
    """Strings and pairs come out exactly as the replaced zip_with and
    arrays_zip+concat_ws constructions built them, for n = 1..5 on NULL,
    empty, whitespace-only, short and repeated-token texts."""
    toks = F.col("toks")
    cols = [X.bigram_pairs(toks).alias("pairs"), _pair_zip(toks).alias("ref_pairs")]
    for n in range(1, 6):
        cols += [
            X.ngrams(toks, n).alias(f"g{n}"),
            _zip_with_fold(toks, n).alias(f"fold{n}"),
            _arrays_zip_concat_ws(toks, n).alias(f"zipws{n}"),
        ]
    rows = _bound(gram_docs).select("doc_id", "toks", *cols).collect()
    assert len(rows) == 10
    for r in rows:
        assert r.pairs == r.ref_pairs, r.doc_id
        for n in range(1, 6):
            assert r[f"g{n}"] == r[f"fold{n}"] == r[f"zipws{n}"], (r.doc_id, n)
            if r.toks is None:
                assert r[f"g{n}"] is None
            else:
                assert len(r[f"g{n}"]) == max(len(r.toks) - n + 1, 0)
    # the corpus is not degenerate: real windows were compared
    by_id = {r.doc_id: r for r in rows}
    assert by_id[6].g3[0] == "the quick brown"
    assert by_id[9].g2 == ["x x"] * 5


def test_ngrams_hash_matches_replaced_hash_chain(spark, gram_docs):
    """Every MinHash shingle hash comes out exactly as the replaced
    progressive-slice xxhash64 chain built it, for n = 1..5 on the same
    edge-case texts."""
    th = F.col("th")
    cols = []
    for n in range(1, 6):
        cols += [
            F.array_distinct(X.ngrams(th, n, F.xxhash64)).alias(f"h{n}"),
            _xxhash64_chain(th, n).alias(f"chain{n}"),
        ]
    rows = _bound(gram_docs).select("doc_id", *cols).collect()
    assert len(rows) == 10
    for r in rows:
        for n in range(1, 6):
            assert r[f"h{n}"] == r[f"chain{n}"], (r.doc_id, n)
    # the corpus is not degenerate: real hashes were compared
    by_id = {r.doc_id: r for r in rows}
    assert len(by_id[6].h3) == 7
    assert len(by_id[9].h2) == 1


def test_ngrams_default_join_propagates_null(spark):
    """A NULL element makes every window holding it NULL, as the SQL
    oracles' `||` chains do; a NULL array stays NULL."""
    df = spark.createDataFrame([(["a", None, "b", "c"],), (None,)], "toks: array<string>")
    got = df.select(X.ngrams(F.col("toks"), 2).alias("g")).collect()
    assert [r.g for r in got] == [[None, None, "b c"], None]


def test_token_profile_branches_value_identical(spark, docs):
    """rowlocal (<=2 langs) vs explode (>2 langs) branch parity on the
    shared columns, including the NULL/empty-text edge rows."""
    a = (
        X.token_profile(docs, langs=("en",))
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    b = (
        X.token_profile(docs, langs=("en", "de", "fr"))
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert b[a.columns].equals(a)
