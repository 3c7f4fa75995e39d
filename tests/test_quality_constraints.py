"""Deequ-style constraint suite: violation counts on constructed data,
the referential orphan check, and the one-scan plan guarantee."""

from __future__ import annotations

from pyspark.sql import functions as F

from elective_waiting_times_pipeline_spark.harness import explain
from elective_waiting_times_pipeline_spark.operators import quality as Q


def _df(spark):
    rows = [
        (1, 10.0, "a@b.co"),
        (2, -5.0, "bad"),      # range violation
        (None, 20.0, "c@d.eu"),  # null violation
        (4, 999.0, None),      # range + matches violations
        (4, 30.0, "e@f.io"),   # duplicate key
    ]
    return spark.createDataFrame(rows, "k int, v double, email string")


def test_dq_report_counts(spark):
    out = Q.dq_report(
        _df(spark),
        [
            Q.not_null("k"),
            Q.in_range("v", 0, 100),
            Q.matches("email", r"^[^@]+@[^@]+$"),
        ],
        unique_key=("k",),
    ).collect()[0]
    assert out.n_rows == 5
    assert out.not_null_k == 1
    assert out.range_v == 2      # -5 and 999
    assert out.matches_email == 2  # "bad" and NULL
    assert out.dup_k == 1        # two k=4 rows (NULL key counts as distinct)


def test_dq_report_is_single_aggregation(spark):
    df = Q.dq_report(
        _df(spark), [Q.not_null("k"), Q.in_range("v", 0, 100)], unique_key=("k",)
    )
    plan = explain(df)
    # one scan; partial+final aggregation pairs, no per-rule jobs
    assert plan.count("Scan ExistingRDD") + plan.count("Scan parquet") <= 2
    assert "HashAggregate" in plan or "SortAggregate" in plan or "ObjectHashAggregate" in plan


def test_referential_violations(spark):
    child = spark.createDataFrame([(1,), (2,), (7,), (None,)], "fk int")
    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk int")
    out = Q.referential_violations(child, parent, "fk", "pk").collect()[0]
    assert out.orphans == 1  # only 7; NULL keys are not orphans


def test_clean_table_reports_zero(spark):
    clean = spark.createDataFrame([(1, 1.0), (2, 2.0)], "k int, v double")
    out = Q.dq_report(clean, [Q.not_null("k"), Q.in_range("v", 0, 10)], unique_key=("k",))
    r = out.collect()[0]
    assert (r.not_null_k, r.range_v, r.dup_k) == (0, 0, 0)


def test_dq_gated_streaming_ingest(spark, tmp_path):
    """A violating micro-batch diverts whole to quarantine; clean
    batches land in the lake; totals reconcile."""
    from pyspark.sql import functions as F

    from elective_waiting_times_pipeline_spark.streaming.sinks import stream_to_lake_with_dq

    src = str(tmp_path / "src")
    good = spark.createDataFrame([("m1", 1, 5.0), ("m1", 2, 7.0)], "monthyr string, k int, v double")
    bad = spark.createDataFrame([("m2", 3, -1.0), ("m2", None, 2.0)], "monthyr string, k int, v double")
    good.coalesce(1).write.mode("overwrite").parquet(src)
    bad.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("monthyr string, k int, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    lake, quar = str(tmp_path / "lake"), str(tmp_path / "quarantine")
    q = stream_to_lake_with_dq(
        stream,
        lake,
        quar,
        str(tmp_path / "ckpt"),
        [Q.not_null("k"), Q.in_range("v", 0, 100)],
    )
    q.awaitTermination(120)

    landed = spark.read.parquet(lake)
    held = spark.read.parquet(quar)
    assert sorted(r.k for r in landed.collect()) == [1, 2]
    assert held.count() == 2 and held.filter(F.col("v") < 0).count() == 1


def test_observe_dq_free_pass_metrics(spark, tmp_path):
    """observe_dq must report the same counts as dq_report while the
    caller's own job (here: a parquet write) does the scanning."""
    constraints = [
        Q.not_null("k"),
        Q.in_range("v", 0, 100),
        Q.matches("email", r"^[^@]+@[^@]+$"),
    ]
    observed, obs = Q.observe_dq(_df(spark), constraints)
    observed.write.mode("overwrite").parquet(str(tmp_path / "out"))
    got = obs.get
    assert got["n_rows"] == 5
    assert got["not_null_k"] == 1
    assert got["range_v"] == 2
    assert got["matches_email"] == 2
    # and the written data is untouched by the observation
    assert spark.read.parquet(str(tmp_path / "out")).count() == 5


def test_order_independent_checksum_nulls_and_layout(spark):
    """The checksum primitive: NULL fields serialize via the sentinel
    (never silently skipped), the value matches an independent engine
    on the same rows, and layout can't change it."""
    import duckdb

    from elective_waiting_times_pipeline_spark.operators.quality import (
        order_independent_checksum,
    )

    rows = [(1, None), (2, "x"), (None, "x"), (3, "y")]
    df = spark.createDataFrame(rows, "k int, v string")
    got = order_independent_checksum(df, ["k", "v"]).collect()[0]
    want = duckdb.sql(
        """
        WITH r AS (
          SELECT md5(COALESCE(CAST(k AS VARCHAR), chr(1)) || '|' || COALESCE(v, chr(1))) AS h
          FROM (VALUES (1, NULL), (2, 'x'), (NULL, 'x'), (3, 'y')) t(k, v)
        )
        SELECT COUNT(*), CAST(SUM(CAST(('0x' || substr(h, 1, 8)) AS BIGINT))
                              % 1000000000000000000 AS BIGINT)
        FROM r
        """
    ).fetchall()[0]
    assert (got.n_rows, got.checksum) == want
    relaid = order_independent_checksum(df.repartition(5), ["k", "v"]).collect()[0]
    assert (relaid.n_rows, relaid.checksum) == want
    # NULL position matters: (NULL, 'x') and ('x', NULL)-shaped rows
    # must NOT collapse onto one serialization
    a = order_independent_checksum(
        spark.createDataFrame([(None, "x")], "k string, v string"), ["k", "v"]
    ).collect()[0]
    b = order_independent_checksum(
        spark.createDataFrame([("x", None)], "k string, v string"), ["k", "v"]
    ).collect()[0]
    assert a.checksum != b.checksum
