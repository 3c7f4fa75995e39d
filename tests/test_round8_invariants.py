"""Round-8 invariants: the two range_bucket implementations agree on
NULL/NaN sort-position placement and monotonicity, and
parquet_footer_cuts behaves across file layouts / stats availability.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from elective_waiting_times_pipeline_spark.operators import sampling as S

UNIFORM = [10.0, 20.0, 30.0]  # closed-form path
SKEWED = [10.0, 11.0, 30.0]  # expr-string CASE-chain path


@pytest.mark.parametrize("cuts", [UNIFORM, SKEWED])
@pytest.mark.parametrize("descending", [False, True])
def test_range_bucket_paths_agree_and_rank_exactly(spark, cuts, descending):
    """Both implementation paths (closed-form uniform, expr-string
    CASE chain) must yield EXACT ranks vs a naive global window —
    including NaN (sorts largest) and NULL (first asc / last desc)
    rows. The uniform cuts hit the closed form; the skewed cuts hit
    the chain form."""
    rows = [
        (0, 5.0),
        (1, 10.0),  # exactly on a cut
        (2, 15.0),
        (3, float("nan")),
        (4, None),
        (5, 30.0),  # on the last cut
        (6, 45.0),
        (7, 15.0),  # duplicate value: ties must share a bucket
    ]
    df = spark.createDataFrame(rows, "k long, v double")
    order = [F.col("v").desc() if descending else F.col("v").asc(), F.col("k")]
    naive = {
        (r.k, r.r)
        for r in df.withColumn("r", F.row_number().over(Window.orderBy(*order))).collect()
    }
    out = S.ordered_prefix(df, order, S.range_bucket("v", cuts, descending), out_pos="r")
    got = {(r.k, r.r) for r in out.collect()}
    assert got == naive, f"desc={descending} cuts={cuts}"


def test_range_bucket_uniform_closed_form_is_small(spark):
    """The uniform path must NOT expand into a per-cut CASE chain —
    the whole point is a bounded expression tree (driver latency)."""
    cuts = [float(c) for c in range(1, 64)]  # 63 uniform cuts
    col = S.range_bucket("v", cuts)
    s = col._jc.toString()
    assert len(s) < 2200, len(s)  # the chain form is ~15k chars
    # a FIXED number of CASEs (the NaN guard + the round-9
    # NULL-preserving overflow clamp), never one per cut
    assert s.upper().count("CASE WHEN") <= 2, s


def test_parquet_footer_cuts_single_file(spark, tmp_path):
    p = f"{tmp_path}/t.parquet"
    spark.range(0, 1000).withColumnRenamed("id", "x").coalesce(1).write.parquet(p)
    cuts = S.parquet_footer_cuts(p, "x", n_buckets=8)
    assert cuts is not None and len(cuts) == 7
    assert cuts == sorted(cuts)
    assert cuts[0] > 0 and cuts[-1] < 999
    # uniform interpolation inside [min, max] (single row group)
    step = S._uniform_step(cuts)
    assert step is not None


def test_parquet_footer_cuts_directory_and_fallbacks(spark, tmp_path):
    d = f"{tmp_path}/dir.parquet"
    spark.range(0, 10_000).withColumnRenamed("id", "x").repartition(8).write.parquet(d)
    cuts = S.parquet_footer_cuts(d, "x", n_buckets=4)
    assert cuts is not None and 1 <= len(cuts) <= 3 and cuts == sorted(cuts)
    # column absent -> None (caller falls back to the sampled path)
    assert S.parquet_footer_cuts(d, "nope", n_buckets=4) is None
    # string column: min/max stats are not numeric -> None, not a crash
    ds = f"{tmp_path}/s.parquet"
    spark.createDataFrame([("a",), ("b",)], "s string").write.parquet(ds)
    assert S.parquet_footer_cuts(ds, "s", n_buckets=4) is None
    # missing path -> None
    assert S.parquet_footer_cuts(f"{tmp_path}/missing", "x") is None


def test_parquet_footer_cuts_steer_exact_ranks(spark, tmp_path):
    """Footer cuts are a PARALLELISM device: whatever they are, ranks
    from ordered_prefix must equal the naive window."""
    p = f"{tmp_path}/t.parquet"
    spark.createDataFrame(
        [(i, float((i * 37) % 101)) for i in range(200)], "k long, v double"
    ).coalesce(2).write.parquet(p)
    cuts = S.parquet_footer_cuts(p, "v", n_buckets=8)
    assert cuts is not None
    df = spark.read.parquet(p)
    out = S.ordered_prefix(
        df, [F.col("v"), F.col("k")], S.range_bucket("v", cuts), out_pos="r"
    )
    naive = {
        (r.k, r.r)
        for r in df.withColumn(
            "r", F.row_number().over(Window.orderBy("v", "k"))
        ).collect()
    }
    assert {(r.k, r.r) for r in out.collect()} == naive


def test_uniform_step_detection():
    assert S._uniform_step([1.0, 2.0, 3.0]) == 1.0
    assert S._uniform_step([1.0, 2.0, 3.5]) is None
    assert S._uniform_step([5.0]) is None
    assert S._uniform_step([3.0, 1.0]) is None  # descending spacing
    # float-rounded interpolation still detects as uniform
    lo, hi, nb = 0.0, 4999.0, 64
    cuts = [lo + (hi - lo) * i / nb for i in range(1, nb)]
    assert S._uniform_step(cuts) is not None
    # one outlier cut must NOT read as uniform, however huge the span:
    # a span-relative tolerance would misdetect these equal-mass cuts
    # and collapse the depth bound (all real mass into bucket 0)
    assert S._uniform_step([float(i) for i in range(63)] + [1e18]) is None
