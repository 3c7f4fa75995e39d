"""Ingest-edge utilities for non-Spark-native formats — driver-side by
design (SURVEY §2.1 S3/S5/S7: Excel sheets, scraped HTML link tables,
shapefiles are dimension-sized inputs read once at the lake edge; the
lake itself is parquet).

Each helper degrades gracefully when its optional dependency is
missing (this container ships pandas but not necessarily openpyxl /
geopandas), raising a clear error only when actually invoked.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

import pandas as pd
from pyspark.sql import DataFrame, SparkSession


def read_excel_table(
    spark: SparkSession,
    path: str,
    sheet_name: str | int = 0,
    skiprows: int = 0,
    columns: list[str] | None = None,
) -> DataFrame:
    """Excel sheet → DataFrame (reference S3: `read_excel(sheet=...,
    skip=13)`, `1b.R:242-260`). pandas does the parse on the driver —
    correct for dimension-sized workbooks; never for fact data."""
    try:
        pdf = pd.read_excel(path, sheet_name=sheet_name, skiprows=skiprows)
    except ImportError as e:  # openpyxl/xlrd missing
        raise ImportError(
            "Excel ingestion needs openpyxl (xlsx) or xlrd (xls); install one "
            "or convert the workbook to CSV at the landing zone"
        ) from e
    if columns:
        pdf = pdf[columns]
    pdf = pdf.where(pd.notna(pdf), None)
    return spark.createDataFrame(pdf)


def read_excel_sheets(
    spark: SparkSession,
    path: str,
    sheets: list[str | int],
    skiprows: int = 0,
    sheet_col: str | None = "sheet",
) -> DataFrame:
    """Stack several sheets of one workbook into a single DataFrame
    (reference S3: the per-month loop reading 5 admitted/non-admitted/
    incomplete sheets and row-binding them, `1b. Scrape links....R:
    242-270`). Sheets may drift in schema — the union is by name with
    NULL fill, same semantics as the reference's rbind.fill. When
    `sheet_col` is set, each row carries its source sheet name."""
    from elective_waiting_times_pipeline_spark.sources.readers import union_by_name

    dfs = []
    for s in sheets:
        df = read_excel_table(spark, path, sheet_name=s, skiprows=skiprows)
        if sheet_col:
            from pyspark.sql import functions as F

            df = df.withColumn(sheet_col, F.lit(str(s)))
        dfs.append(df)
    return union_by_name(dfs)


class _LinkExtractor(HTMLParser):
    def __init__(self):
        super().__init__()
        self.links: list[tuple[str, str]] = []
        self._href: str | None = None
        self._text: list[str] = []

    def handle_starttag(self, tag, attrs):
        if tag == "a":
            self._href = dict(attrs).get("href")
            self._text = []

    def handle_data(self, data):
        if self._href is not None:
            self._text.append(data)

    def handle_endtag(self, tag):
        if tag == "a" and self._href is not None:
            self.links.append(("".join(self._text).strip(), self._href))
            self._href = None


def extract_links(html: str, text_pattern: str | None = None) -> pd.DataFrame:
    """Anchor (text, href) pairs from an HTML page, optionally filtered
    by a text regex — the reference's XPath link scrape
    (`//a[contains(text(), month)]/@href`, 1b.R:87-114) without the
    lxml dependency. Network fetch stays outside (pass the fetched
    string in); idempotent download bookkeeping is the landing zone's
    file-exists check (1b.R:169-178)."""
    p = _LinkExtractor()
    p.feed(html)
    pdf = pd.DataFrame(p.links, columns=["text", "href"])
    if text_pattern:
        pdf = pdf[pdf["text"].str.contains(text_pattern, regex=True, na=False)]
    return pdf.reset_index(drop=True)


def write_csv(df: DataFrame, path: str, single_file: bool = False, mode: str = "overwrite") -> None:
    """CSV sink (S9: fwrite/write.csv, 30 uses). single_file=True
    coalesces to one part for golden-output compatibility — only for
    summary-sized results (a 100 TB result stays multi-part)."""
    out = df.coalesce(1) if single_file else df
    out.write.mode(mode).option("header", True).csv(path)


def write_jsonl(
    df: DataFrame,
    path: str,
    max_records_per_file: int | None = None,
    compression: str | None = None,
    mode: str = "overwrite",
) -> None:
    """JSON-Lines sink — the export side of `read_jsonl`'s
    pretraining-corpus contract (one JSON object per line, shardable,
    streamable). `max_records_per_file` caps rows per part file
    (Spark's maxRecordsPerFile splits oversized tasks at write time)
    so shard size tracks the data loader's appetite instead of the
    shuffle partitioning; `compression` takes the built-in codecs
    ('gzip', 'snappy', ...). Each executor writes its own parts — no
    driver funnel, no coalesce — so the sink scales with the cluster."""
    w = df.write.mode(mode)
    if max_records_per_file is not None:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    if compression is not None:
        w = w.option("compression", compression)
    w.json(path)


def read_parquet_evolving(spark, path: str, schema=None, **options):
    """Parquet scan across SCHEMA GENERATIONS — a lake whose later
    partitions added columns. With an explicit `schema` (the current,
    widest one) Spark projects every file onto it, NULL-backfilling
    columns a generation lacks — the O(1)-planning form, right at
    100 TB. Without one, `mergeSchema=true` unions the schemas from
    file footers — convenient for exploration, but the footer merge
    touches every file at planning time, so prefer the explicit form
    in production (mirrors `read_jsonl`'s never-infer rule)."""
    r = spark.read
    if schema is not None:
        return r.schema(schema).parquet(path, **options)
    return r.option("mergeSchema", True).parquet(path, **options)


def write_orc(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    compression: str = "zstd",
    mode: str = "overwrite",
) -> None:
    """ORC sink — the columnar interchange format of the Hive/Trino
    side of a lake (Spark ships the reader/writer built in). Same
    scale contract as the parquet sink: executors write their own
    parts, `partition_by` lays out directory partitions so downstream
    scans prune, and zstd keeps the stripe size honest."""
    w = df.write.mode(mode).option("compression", compression)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def read_orc(spark, path: str, schema=None, **options):
    """ORC scan. ORC carries its schema, so unlike `read_jsonl` an
    explicit schema is optional — pass one to pin column types across
    writer versions. Predicate pushdown and partition pruning work as
    for parquet (the test asserts PushedFilters reaches the scan)."""
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.orc(path, **options)


def read_jsonl(
    spark,
    path: str,
    schema,
    **options,
):
    """JSON-Lines scan with an explicit schema (never infer in prod —
    a schema inference pass reads the whole lake twice and silently
    widens types). The standard pretraining-corpus interchange format;
    `.gz`/`.zst` droppings are decompressed by the underlying reader
    where Hadoop codecs exist. One DataFrame row per line; corrupt
    lines are captured in `_corrupt_record` when the schema declares
    it (Spark PERMISSIVE default) instead of failing the scan."""
    return spark.read.schema(schema).json(path, **options)


def read_csv_tolerant(
    spark,
    path: str,
    schema: str,
    corrupt_col: str = "_corrupt_record",
    **options,
):
    """CSV scan that never fails on malformed rows: PERMISSIVE mode
    with the raw offending line captured in `corrupt_col` for triage
    (the CSV sibling of read_jsonl's corrupt-record contract — at
    100 TB a single mangled row must not kill the job). Explicit
    schema required; the corrupt column is appended to it."""
    full = schema.rstrip() + f", {corrupt_col} string"
    opts = {"header": True, **options}  # caller's header option wins
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .csv(path, **opts)
    )


def read_xml_table(
    spark: SparkSession,
    path: str,
    row_tag: str,
    schema: str | None = None,
    corrupt_col: str = "_corrupt_record",
    **options,
) -> DataFrame:
    """XML document(s) → DataFrame via Spark 4's NATIVE xml source
    (distributed scan — unlike the Excel edge, this handles fact-sized
    inputs): one output row per `row_tag` element, attributes as
    `_attr` columns, nested elements as structs. With an explicit
    `schema` the scan runs PERMISSIVE like read_csv_tolerant — a
    malformed element lands its raw text in `corrupt_col` instead of
    killing the job; schema inference (schema=None) keeps the source's
    default FAILFAST-on-garbage behavior for exploration.

    The reference's ingestion family (SURVEY §2.1) covers CSV / Excel
    / HTML link-scrape / zip; XML completes the landing-zone formats a
    public-data pipeline meets (NHS publishes several extracts as XML
    feeds)."""
    reader = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        full = schema.rstrip() + f", {corrupt_col} string"
        reader = (
            reader.schema(full)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", corrupt_col)
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path)
