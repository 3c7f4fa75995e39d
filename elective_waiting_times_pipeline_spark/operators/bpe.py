"""Distributed byte-pair-encoding merge learning — the tokenizer-
training step of an LLM data pipeline, as an iterative DataFrame
program.

Classic BPE (Sennrich et al. 2016, "Neural Machine Translation of
Rare Words with Subword Units" — public algorithm): start from
characters (with an end-of-word marker), repeatedly (1) count adjacent
symbol pairs across the corpus, (2) merge the most frequent pair
everywhere, leftmost-first within a word. Each round here is:

    count:  explode adjacent pairs (operators/text.py::bigram_pairs,
            the `ngrams` shifted-slice kernel) → one hash agg with map-side partials
            — the corpus-sized stage, one scan per round
    argmax: deterministic top pair by (count DESC, left, right) —
            a 1-row TakeOrdered collect (bounded)
    apply:  a codegen'd left FOLD over each word's symbol array
            (F.aggregate) replacing adjacent (x, y) with x||y,
            leftmost-first — the exact greedy classic BPE uses; no
            shuffle, no Python in the hot path

`localCheckpoint` per round keeps the lineage flat (the iterative-plan
rule — see operators/cluster.py). Rounds are a small constant
(vocab-size budget), so total cost is n_merges corpus scans; at
100 TB you run this on a sample or a count-table, which this operator
also supports via the pre-weighted `vocab` parameter.

No DuckDB oracle: the per-round argmax + fold chain has no tractable
SQL unrolling (each round's tokenization depends on the previous
round's merge). Correctness is pinned by golden unit tests on the
classic "low/lower/newest/widest" corpus whose merge sequence is
known, plus invariants. NOTE on counts: pair counting is positional and
therefore OVERLAPPING for same-symbol runs ("aaa" counts (a,a) twice)
— exactly the published algorithm's get_stats behavior — while the
greedy application merges leftmost-first, so the applied-merge count
can be LOWER than pair_count on runs (the shrink invariant is
shrink <= pair_count, with equality on run-free corpora).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EOW = "</w>"  # end-of-word marker, per the classic formulation


def _char_syms(word: Column) -> Column:
    """The ONE symbolization rule (characters + end-of-word marker) —
    shared by the learn side (words_to_symbols) and the encode side
    (apply_bpe) so a vocabulary is always applied under the symbol
    rules it was learned with."""
    return F.concat(F.split(word, ""), F.array(F.lit(EOW)))


def words_to_symbols(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus → one row per distinct word: (word, weight, syms) where
    syms = characters + end-of-word marker. Learning on the DISTINCT
    word table with counts is the standard trick — the merge loop then
    scans |vocab| rows, not the corpus."""
    from elective_waiting_times_pipeline_spark.operators.text import tokens

    words = df.select(F.explode(tokens(text_col)).alias("word")).filter(
        F.length("word") > 0
    )
    wc = words.groupBy("word").agg(F.count(F.lit(1)).alias("weight"))
    return wc.select("word", "weight", _char_syms(F.col("word")).alias("syms"))


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """Weighted adjacent-pair counts over the symbol arrays — one
    explode + one hash agg (map-side partials)."""
    from elective_waiting_times_pipeline_spark.operators.text import bigram_pairs

    return (
        vocab.select("weight", F.explode(bigram_pairs(F.col("syms"))).alias("p"))
        .groupBy(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
        .agg(F.sum("weight").alias("n"))
    )


def _apply_merge(syms: Column, x: str, y: str) -> Column:
    """Leftmost-first greedy merge of adjacent (x, y) → x||y inside a
    symbol array, as a codegen'd left fold: the accumulator carries
    (out, pending); each step either completes a merge, flushes the
    pending symbol, or holds the new one."""
    merged = F.lit(x + y)
    step = lambda acc, t: F.when(  # noqa: E731
        acc["pending"].isNull(),
        F.struct(acc["out"].alias("out"), t.alias("pending")),
    ).otherwise(
        F.when(
            (acc["pending"] == F.lit(x)) & (t == F.lit(y)),
            F.struct(
                F.concat(acc["out"], F.array(merged)).alias("out"),
                F.lit(None).cast("string").alias("pending"),
            ),
        ).otherwise(
            F.struct(
                F.concat(acc["out"], F.array(acc["pending"])).alias("out"),
                t.alias("pending"),
            )
        )
    )
    zero = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(None).cast("string").alias("pending"),
    )
    fin = lambda acc: F.when(  # noqa: E731
        acc["pending"].isNull(), acc["out"]
    ).otherwise(F.concat(acc["out"], F.array(acc["pending"])))
    return F.aggregate(syms, zero, step, fin)


def learn_bpe_merges(
    df: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
    vocab: DataFrame | None = None,
) -> DataFrame:
    """Learn `n_merges` BPE merges from a corpus (or a pre-built
    (word, weight, syms) `vocab` table). Returns one row per merge:
    (merge_rank, left, right, pair_count) in learned order —
    deterministic by the (count DESC, left, right) argmax tie-break.
    pair_count is the POSITIONAL (overlapping) count the argmax ranks
    by, matching the classic get_stats; see the module note."""
    if vocab is None:
        vocab = words_to_symbols(df, text_col)
    vocab = vocab.localCheckpoint(eager=False)
    spark = vocab.sparkSession
    out = []
    for rank in range(1, n_merges + 1):
        top = (
            _pair_counts(vocab)
            .orderBy(F.col("n").desc(), "x", "y")
            .limit(1)
            .collect()
        )
        if not top:  # corpus exhausted (every word a single symbol)
            break
        x, y, n = top[0].x, top[0].y, top[0].n
        out.append((rank, x, y, int(n)))
        vocab = vocab.withColumn("syms", _apply_merge(F.col("syms"), x, y)).localCheckpoint(
            eager=False
        )
    return spark.createDataFrame(
        out, "merge_rank int, left string, right string, pair_count long"
    )


def apply_bpe(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Encode: segment each document's words with a learned merge list
    (applied in learned order — the classic encoder). One codegen'd
    fold per merge per word, no shuffle; the merge list is a small
    driver-side constant (the vocabulary budget)."""
    from elective_waiting_times_pipeline_spark.operators.text import tokens

    word_syms = F.transform(tokens(text_col), _char_syms)
    def encode_word(syms: Column) -> Column:
        for x, y in merges:
            syms = _apply_merge(syms, x, y)
        return syms

    return df.withColumn(
        out_col, F.flatten(F.transform(word_syms, encode_word))
    )
