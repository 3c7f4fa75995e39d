"""`bind_once` is a single-evaluation barrier: the bound expression
appears exactly once in the optimized plan even with a downstream
filter, which plain projection binding does not survive."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from elective_waiting_times_pipeline_spark.functions.barrier import bind_once
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


def test_bind_once_single_evaluation(spark, docs):
    """The tokenize chain appears exactly once in the optimized plan
    even when a filter consumes the bound column — the contract the
    curate() rewrite relies on. A plain select-binding is pushed
    through and re-evaluated (asserted too, as the motivating foil)."""
    b = bind_once(docs, _nt=F.size(X.tokens("text")))
    out = b.filter(F.col("_nt") >= 2).select("doc_id", F.col("_nt").alias("n"))
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(") == 1, plan

    naive = docs.select(
        "doc_id", F.size(X.tokens("text")).alias("_nt")
    ).filter(F.col("_nt") >= 2).select("doc_id", F.col("_nt").alias("n"))
    naive_plan = naive._jdf.queryExecution().optimizedPlan().toString()
    assert naive_plan.count("split(") >= 2, naive_plan


def test_bind_once_values_and_row_preservation(spark, docs):
    b = bind_once(docs, _nt=F.size(X.tokens("text")), _len=F.length("text"))
    rows = {r.doc_id: (r._nt, r._len) for r in b.collect()}
    # one output row per input row, NULL text included
    assert set(rows) == {1, 2, 3, 4, 5, 6}
    assert rows[1] == (0, None) or rows[1][1] is None
    assert rows[4][0] == 9
