"""Ingest-time document curation as a stream.

At 100 TB the curation decisions (quality rules, PII scrub, split
assignment, fingerprinting) are cheapest at INGEST, before anything is
persisted — re-scanning the landed corpus to curate it later is an
extra full pass. Every operator in this chain is a stateless per-row
column expression, which makes it streaming-safe by construction: the
exact same `curate` function runs on a batch DataFrame or a
`readStream` source with identical semantics (tested), no watermarks
or state stores involved.

Relation to the batch operators: `operators/text.py::quality_filter`
computes its features with an explode + aggregate (the right CORPUS
shape — one shuffle, map-side partial aggregation); this module uses
the per-row expression forms of the same features, which are
algebraically identical (mean token length = len(concat(tokens)) /
n_tokens, etc. — the equivalence is asserted in the streaming test).
Per-row higher-order functions are interpreted rather than codegen'd,
the documented slow path for batch corpus scans; at the ingest edge
the stream is micro-batched and the per-row form is what keeps the
pipeline stateless.

Exact dedup at ingest (`streaming/dedup.py`,
dropDuplicatesWithinWatermark) composes downstream of this on sources
with event time; the documents test table carries none, so dedup here
stays a batch concern keyed on the emitted `fingerprint`.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from elective_waiting_times_pipeline_spark.operators.sampling import split_column
from elective_waiting_times_pipeline_spark.operators.text import (
    fingerprint_md5,
    redact_pii,
    stopword_hits,
    token_count,
    tokens,
)
from elective_waiting_times_pipeline_spark.streaming.io import drain, read_table_stream

DEFAULT_SPLITS = {"train": 0.8, "val": 0.1, "test": 0.1}


def curate(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 5,
    max_tokens: int = 5000,
    min_mean_tok_len: float = 2.0,
    max_mean_tok_len: float = 12.0,
    max_punct_ratio: float = 0.2,
    min_stop_ratio: float = 0.02,
    splits: Mapping[str, float] = DEFAULT_SPLITS,
) -> DataFrame:
    """Stateless curation chain: quality-rule filter (same thresholds
    and semantics as operators/text.py::quality_filter), PII-redacted
    text, exact-dedup fingerprint, deterministic split label. Works
    identically on batch and streaming inputs."""
    from elective_waiting_times_pipeline_spark.functions.barrier import bind_once
    from elective_waiting_times_pipeline_spark.operators.text import PUNCT_CLASS

    t = F.col(text_col)
    toks = tokens(text_col)
    n_toks = token_count(text_col)
    n_chars = F.length(t)
    n_punct = n_chars - F.length(F.regexp_replace(t, PUNCT_CLASS, ""))
    # len(concat(tokens)) == sum(len(token)): strip ALL whitespace
    # from the normalized text rather than re-walking the token array.
    sum_tok_len = F.length(F.regexp_replace(F.trim(F.lower(t)), r"\s+", ""))
    # every derived quantity is evaluated ONCE per row behind the
    # explode(array(struct)) barrier (functions/barrier.py) — the
    # inline form re-ran the tokenize/regexp chains per keep-predicate
    # reference (plan-verified). Wall-clock parity at sf0.1×16 (1.00 s
    # both forms — the PII regexp cascade dominates there); the
    # single-eval shape pays off as document length grows.
    b = bind_once(
        docs,
        _nt=n_toks,
        _stl=sum_tok_len,
        _nc=n_chars,
        _np=n_punct,
        _hits=stopword_hits(toks, "en"),
    )
    bnt = F.col("_nt")
    mean_tok_len = F.when(bnt > 0, F.col("_stl") / bnt).otherwise(0.0)
    punct_ratio = F.when(F.col("_nc") > 0, F.col("_np") / F.col("_nc")).otherwise(0.0)
    stop_ratio = F.when(bnt > 0, F.col("_hits") / bnt).otherwise(0.0)
    keep = (
        (bnt >= min_tokens)
        & (bnt <= max_tokens)
        & (mean_tok_len >= min_mean_tok_len)
        & (mean_tok_len <= max_mean_tok_len)
        & (punct_ratio <= max_punct_ratio)
        & (stop_ratio >= min_stop_ratio)
    )
    # the emitted columns describe the EMITTED (redacted) text: the
    # token count budgets what a loader will actually see, and the
    # fingerprint collapses docs identical after redaction (two pages
    # differing only in a phone number ARE duplicates). The quality
    # FILTER above still judges the raw text — redaction must not
    # rescue a junk page. The redacted text is itself bound once: the
    # PII regexp cascade fed three consumers (token count, emitted
    # text, fingerprint).
    red = bind_once(b.filter(keep), [id_col], _red=redact_pii(t))
    return red.select(
        F.col(id_col),
        token_count(F.col("_red")).cast("int").alias("n_tokens"),
        F.col("_red").alias(text_col),
        fingerprint_md5(F.col("_red")).alias("fingerprint"),
        split_column(id_col, splits).alias("split"),
    )


def run_curation_available_now(
    spark: SparkSession,
    parquet_dir: str,
    query_name: str = "curated_docs_out",
    **kwargs,
) -> DataFrame:
    """Drive the curation chain over a parquet documents directory to
    completion (availableNow) into a memory sink; returns the curated
    table. Stateless chain → plain append mode, no watermark."""
    raw = read_table_stream(spark, parquet_dir)
    return drain(curate(raw, **kwargs), query_name, "append")
