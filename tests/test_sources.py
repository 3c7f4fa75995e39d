"""Sources: check.names mangling, CSV read with schema, link scraping,
CSV sink, partitioned parquet sink."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from elective_waiting_times_pipeline_spark.functions.names import check_names
from elective_waiting_times_pipeline_spark.harness import explain, plan_string
from elective_waiting_times_pipeline_spark.sources.edges import extract_links, write_csv
from elective_waiting_times_pipeline_spark.sources.readers import read_csv_checked


def test_check_names_matches_r_semantics():
    assert check_names(["Gt 00 To 01 Weeks SUM 1"]) == ["Gt.00.To.01.Weeks.SUM.1"]
    assert check_names(["Total", "Total All"]) == ["Total", "Total.All"]
    assert check_names(["2col", "a-b", ""]) == ["X2col", "a.b", "X"]
    # duplicates get .1, .2 (make.unique)
    assert check_names(["x", "x", "x"]) == ["x", "x.1", "x.2"]


def test_read_csv_checked(spark, tmp_path):
    p = tmp_path / "in.csv"
    p.write_text("Provider Org Code,Total All\nP1,10\n")
    df = read_csv_checked(spark, str(p), schema="`Provider Org Code` string, `Total All` int")
    assert df.columns == ["Provider.Org.Code", "Total.All"]
    assert df.collect()[0]["Total.All"] == 10


def test_extract_links_pattern():
    html = """
    <html><body>
      <a href="/f/Apr20.zip">Full extract Apr20</a>
      <a href="/f/May20.zip">Full extract May20</a>
      <a href="/other">About us</a>
    </body></html>"""
    out = extract_links(html, text_pattern="Apr20")
    assert len(out) == 1 and out.loc[0, "href"] == "/f/Apr20.zip"
    assert len(extract_links(html)) == 3


def test_write_csv_single_file(spark, tmp_path):
    df = spark.range(5).select(F.col("id"), (F.col("id") * 2).alias("dbl"))
    out = str(tmp_path / "out")
    write_csv(df, out, single_file=True)
    files = [f for f in __import__("os").listdir(out) if f.endswith(".csv")]
    assert len(files) == 1
    back = pd.read_csv(f"{out}/{files[0]}")
    assert back["dbl"].sum() == 20


def test_nanos_to_micros_exact_truncation(spark, tmp_path):
    """Nanos past 2^53 must truncate exactly — double division rounds
    ~12% of epoch-nanos values 1 us off (ADVICE r1)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from elective_waiting_times_pipeline_spark.sources import readers

    ns_values = [
        1_700_000_000_123_456_789,  # float(ns)/1000 rounds this up 1 us
        1_725_000_000_999_999_999,
        1_600_000_000_000_000_001,
    ]
    tbl = pa.table(
        {
            "ev_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(ns_values, pa.timestamp("ns")),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))

    got = {r.ev_id: r.ts for r in readers.load_table(spark, str(tmp_path), "events").collect()}
    for ev_id, ns in zip([1, 2, 3], ns_values):
        assert got[ev_id].microsecond == (ns // 1000) % 1_000_000, (ev_id, ns, got[ev_id])


# ---------------------------------------------------------------------------
# JSONL lake edge + training-shard writer.
# ---------------------------------------------------------------------------
def test_read_jsonl_explicit_schema(spark, tmp_path):
    import gzip

    from elective_waiting_times_pipeline_spark.sources.edges import read_jsonl

    lines = [
        '{"doc_id": 1, "text": "hello world", "meta": {"lang": "en"}}',
        '{"doc_id": 2, "text": "zwei", "meta": {"lang": "de"}}',
        '{"doc_id": 3, "text": null, "meta": null}',
    ]
    plain = tmp_path / "docs.jsonl"
    plain.write_text("\n".join(lines) + "\n")
    gz = tmp_path / "docs2.jsonl.gz"
    with gzip.open(gz, "wt") as f:
        f.write("\n".join(lines) + "\n")
    schema = "doc_id long, text string, meta struct<lang: string>"
    for p in (plain, gz):
        out = read_jsonl(spark, str(p), schema).orderBy("doc_id").collect()
        assert [r.doc_id for r in out] == [1, 2, 3]
        assert out[0].text == "hello world" and out[1].meta.lang == "de"
        assert out[2].text is None and out[2].meta is None


def test_register_views_sql_face(spark, sf_dir):
    from elective_waiting_times_pipeline_spark.sources.readers import register_views

    register_views(spark, sf_dir)
    row = spark.sql(
        """
        SELECT n_name, COUNT(*) AS n
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name ORDER BY n DESC, n_name LIMIT 1
        """
    ).collect()[0]
    assert row.n > 0 and row.n_name.startswith("NATION_")
    # pushdown survives the view: a filtered scan still prunes
    plan = plan_string(spark.sql("SELECT l_orderkey FROM lineitem WHERE l_quantity < 2"))
    assert "LessThan(l_quantity,2" in plan


def test_write_jsonl_roundtrip_and_shard_cap(spark, tmp_path):
    from elective_waiting_times_pipeline_spark.sources.edges import read_jsonl, write_jsonl

    df = spark.range(100).selectExpr("id AS doc_id", "concat('t', id) AS text").coalesce(1)
    out = tmp_path / "corpus"
    write_jsonl(df, str(out), max_records_per_file=10)
    parts = [p for p in out.iterdir() if p.name.startswith("part-")]
    # one 100-row task split into 10-row files by maxRecordsPerFile
    assert len(parts) == 10
    back = read_jsonl(spark, str(out), "doc_id long, text string")
    rows = {r.doc_id: r.text for r in back.collect()}
    assert len(rows) == 100 and rows[7] == "t7"

    gz_out = tmp_path / "corpus_gz"
    write_jsonl(df, str(gz_out), compression="gzip")
    assert any(p.name.endswith(".gz") for p in gz_out.iterdir())
    assert read_jsonl(spark, str(gz_out), "doc_id long, text string").count() == 100


def test_read_parquet_evolving_schema_generations(spark, tmp_path):
    from pyspark.sql import functions as F

    from elective_waiting_times_pipeline_spark.sources.edges import read_parquet_evolving

    lake = tmp_path / "lake"
    # generation 1: (k, v); generation 2 adds quality
    spark.range(5).selectExpr("id AS k", "id * 2 AS v").write.parquet(str(lake / "g=1"))
    spark.range(5, 10).selectExpr(
        "id AS k", "id * 2 AS v", "cast(id as double) / 10 AS quality"
    ).write.parquet(str(lake / "g=2"))

    # footer-merge form: union schema, old generation NULL-backfilled
    merged = read_parquet_evolving(spark, str(lake))
    assert {f.name for f in merged.schema} >= {"k", "v", "quality"}
    assert merged.count() == 10
    assert merged.filter(F.col("quality").isNull()).count() == 5

    # explicit-schema form (the production path): same result, no
    # footer sweep
    explicit = read_parquet_evolving(
        spark, str(lake), schema="k long, v long, quality double, g int"
    )
    assert explicit.count() == 10
    assert explicit.filter(F.col("quality").isNotNull()).count() == 5
    assert {r.k for r in explicit.filter(F.col("quality").isNull()).collect()} == set(range(5))


def test_orc_roundtrip_partition_pruning_and_pushdown(spark, tmp_path):
    from pyspark.sql import functions as F

    from elective_waiting_times_pipeline_spark.sources.edges import read_orc, write_orc

    df = spark.range(200).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).cast("int").alias("part"),
        F.concat(F.lit("v"), F.col("id")).alias("val"),
    )
    out = tmp_path / "lake_orc"
    write_orc(df, str(out), partition_by=["part"])
    # directory partitions exist
    assert sorted(p.name for p in out.iterdir() if p.name.startswith("part=")) == [
        "part=0", "part=1", "part=2", "part=3",
    ]
    back = read_orc(spark, str(out))
    assert back.count() == 200
    assert {r.val for r in back.filter(F.col("k") == 7).collect()} == {"v7"}
    # pruning + pushdown are visible in the plan, as for parquet
    q = back.filter((F.col("part") == 2) & (F.col("k") > 100)).select("k")
    plan = explain(q, "simple")
    assert "PartitionFilters" in plan and "part" in plan
    assert "PushedFilters" in plan and "GreaterThan(k,100)" in plan


def test_write_training_shards_contiguous_runs(spark, tmp_path):
    from pyspark.sql import functions as F

    from elective_waiting_times_pipeline_spark.operators.sampling import hash_order_position
    from elective_waiting_times_pipeline_spark.sources.readers import write_training_shards

    df = hash_order_position(spark.range(0, 1000).withColumnRenamed("id", "k"), "k")
    out_dir = str(tmp_path / "shards")
    write_training_shards(df, out_dir, n_shards=4)
    back = (
        spark.read.parquet(out_dir)
        .select("position", F.input_file_name().alias("f"))
        .collect()
    )
    by_file = {}
    for r in back:
        by_file.setdefault(r.f, []).append(r.position)
    assert len(by_file) == 4
    ranges = sorted((min(v), max(v), len(v)) for v in by_file.values())
    # each file holds a contiguous run; runs tile 1..1000 without overlap
    nxt = 1
    for lo, hi, n in ranges:
        assert lo == nxt and hi - lo + 1 == n
        nxt = hi + 1
    assert nxt == 1001


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    from elective_waiting_times_pipeline_spark.sources.edges import read_orc, write_orc
    from elective_waiting_times_pipeline_spark.sources.readers import load_table

    nation = load_table(spark, "/root/testdata/sf0.001", "nation")
    path = str(tmp_path / "nation_orc")
    write_orc(nation, path)
    back = read_orc(spark, path)
    assert back.count() == nation.count()
    assert set(back.columns) == set(nation.columns)
    # predicate pushdown reaches the ORC scan
    assert "PushedFilters: [" in explain(back.filter(F.col("n_regionkey") == 1))


def test_csv_tolerant_captures_malformed_rows(spark, tmp_path):
    from elective_waiting_times_pipeline_spark.sources.edges import read_csv_tolerant

    p = tmp_path / "rows.csv"
    p.write_text("k,v\n1,2.5\nnot_an_int,oops_extra,3\n2,4.0\n")
    df = read_csv_tolerant(spark, str(p), "k int, v double").cache()
    good = df.filter(F.col("_corrupt_record").isNull())
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    assert sorted((r.k, r.v) for r in good.collect()) == [(1, 2.5), (2, 4.0)]
    assert bad.count() == 1 and "oops_extra" in bad.collect()[0]._corrupt_record


def test_read_xml_table_basic_and_tolerant(spark, tmp_path):
    """Spark 4 native XML edge: row extraction, explicit-schema
    PERMISSIVE mode with corrupt capture, attribute columns."""
    from elective_waiting_times_pipeline_spark.sources.edges import read_xml_table

    p = str(tmp_path / "feed.xml")
    with open(p, "w") as f:
        f.write(
            "<feed>"
            "<rec id=\"a\"><qty>3</qty><who>amy</who></rec>"
            "<rec id=\"b\"><qty>notanumber</qty><who>bob</who></rec>"
            "<rec id=\"c\"><qty>7</qty><who>cal</who></rec>"
            "</feed>"
        )
    # inferred schema: all rows arrive, qty falls back to string
    inferred = read_xml_table(spark, p, row_tag="rec")
    assert inferred.count() == 3
    assert "_id" in inferred.columns  # attribute surfaced
    # explicit schema: the bad qty row lands in the corrupt column
    df = read_xml_table(spark, p, row_tag="rec", schema="_id string, qty int, who string")
    rows = {r["_id"]: r for r in df.collect()}
    assert rows["a"]["qty"] == 3 and rows["c"]["qty"] == 7
    assert rows["b"]["qty"] is None
    # Spark disallows plans that reference ONLY the corrupt column on a
    # raw scan — judge corruption from the collected rows instead
    good = [i for i, r in rows.items() if r["_corrupt_record"] is None]
    assert sorted(good) == ["a", "c"]
    assert rows["b"]["_corrupt_record"] is not None
