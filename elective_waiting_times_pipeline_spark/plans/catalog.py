"""Query catalog: every declared operator from SURVEY.md §2 as a
(spark_fn, duckdb_oracle_sql) pair over the driver's testdata tables.

Each Spark callable takes (spark, sf_dir) and returns a lazy DataFrame;
the oracle is ANSI SQL DuckDB runs on the same parquet files. Column
names and types are aligned on both sides (the driver hash-compares
values after sorting columns by name).

Determinism rules applied throughout (so order-insensitive value hashes
match):
  * double SUMs go through scaled-long integer math
    (floor(x*100+0.5) — exact for ≤2-dp sources, order-independent,
    and ~10× faster than DECIMAL's boxed arithmetic in hot
    aggregates; see registry.sl2);
  * every DuckDB integer aggregate is CAST to BIGINT (DuckDB's SUM
    returns HUGEINT, Spark's returns LONG);
  * ties in top-k / row_number / ntile orderings are broken by a
    unique key (SURVEY §7.5: order-dependence is nondeterministic in a
    distributed engine — pin explicit orderings);
  * moment aggregates (corr/stddev) are rounded to 6 dp, far above
    float merge-order noise.

This module defines the core relational queries (scan/filter/join/
agg/window surface); sibling modules register further domains:
  catalog_relational — reshape, scalar functions, window variants
  catalog_text       — documents: dedup, fingerprints, quality, lang-id
  catalog_vector     — embeddings: ANN / near-dup cosine
  catalog_events     — events: time windows, sessionization
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from elective_waiting_times_pipeline_spark.operators.histogram import band_histogram, histogram_stats
from elective_waiting_times_pipeline_spark.plans.registry import (
    HEADLINE,
    ORACLE_SQL,
    SPARK_QUERIES,
    query,
    sl2,
    sum2,
)
from elective_waiting_times_pipeline_spark.sources.readers import load_table

__all__ = ["SPARK_QUERIES", "ORACLE_SQL", "HEADLINE"]


# ---------------------------------------------------------------------------
# A1/A2/A3/F4 — grouped multi-aggregate sweep (TPC-H Q1 shape).
# Reference: grouped sums `3c. Maps and provider stats.R:157-159`, the
# across(starts_with('Gt'), sumnarm) sweep `2.R:196-197`, round `2.R:258`.
# ---------------------------------------------------------------------------
@query(
    "pricing_summary",
    headline=True,
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS sum_qty,
           CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS sum_base_price,
           CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))) AS DOUBLE) / 10000 AS sum_disc_price,
           CAST(SUM(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 / COUNT(*) AS avg_disc,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            sum2("l_quantity", "sum_qty"),
            sum2("l_extendedprice", "sum_base_price"),
            (F.sum(sl2("l_extendedprice") * (100 - sl2("l_discount"))) / 10000.0).alias("sum_disc_price"),
            ((F.sum(sl2("l_quantity")) / 100.0) / F.count(F.lit(1))).alias("avg_qty"),
            ((F.sum(sl2("l_discount")) / 100.0) / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# A12/A13/A14/W2 — the signature histogram-quantile dashboard kernel.
# Reference: `2. Produce descriptive statistics.R:237-261` (cumsum →
# first-crossing quantile − 1; 18/52-week thresholds; <20 suppression).
# lineitem quantity (1..50) stands in for the weekly wait band.
# ---------------------------------------------------------------------------
@query(
    "histogram_quantile",
    headline=True,
    oracle="""
    WITH binned AS (
      SELECT l_returnflag AS grp, CAST(floor(l_quantity) AS INT) AS band
      FROM lineitem
    ), hist AS (
      SELECT grp, band, CAST(COUNT(*) AS BIGINT) AS cnt FROM binned GROUP BY grp, band
    ), cum AS (
      SELECT grp, band, cnt,
             CAST(SUM(cnt) OVER (PARTITION BY grp ORDER BY band) AS BIGINT) AS c,
             CAST(SUM(cnt) OVER (PARTITION BY grp) AS BIGINT) AS total
      FROM hist
    )
    SELECT grp,
      CAST(MAX(total) AS BIGINT) AS total_patients,
      CASE WHEN MAX(total) >= 20 THEN CAST(MIN(CASE WHEN c >= 0.50 * total THEN band END) - 1 AS INT) END AS weeks_50,
      CASE WHEN MAX(total) >= 20 THEN CAST(MIN(CASE WHEN c >= 0.92 * total THEN band END) - 1 AS INT) END AS weeks_92,
      CASE WHEN MAX(total) >= 20 THEN CAST(MIN(CASE WHEN c >= 0.95 * total THEN band END) - 1 AS INT) END AS weeks_95,
      CASE WHEN MAX(total) >= 20 THEN CAST(COALESCE(SUM(CASE WHEN band <= 18 THEN cnt END), 0) AS BIGINT) END AS number_18_or_less,
      CASE WHEN MAX(total) >= 20 THEN ROUND(100.0 * CAST(COALESCE(SUM(CASE WHEN band <= 18 THEN cnt END), 0) AS BIGINT) / MAX(total), 1) END AS rate_18wks_or_less,
      CASE WHEN MAX(total) >= 20 THEN CAST(MAX(total) - COALESCE(SUM(CASE WHEN band <= 36 THEN cnt END), 0) AS BIGINT) END AS number_36_or_more,
      CASE WHEN MAX(total) >= 20 THEN ROUND(100.0 * (MAX(total) - CAST(COALESCE(SUM(CASE WHEN band <= 36 THEN cnt END), 0) AS BIGINT)) / MAX(total), 1) END AS rate_36wks_or_more
    FROM cum
    GROUP BY grp
    """,
)
def histogram_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    binned = li.select(
        F.col("l_returnflag").alias("grp"),
        F.floor("l_quantity").cast("int").alias("band"),
    )
    hist = band_histogram(binned, ["grp"], "band")
    return histogram_stats(
        hist,
        ["grp"],
        quantiles=(0.50, 0.92, 0.95),
        le_thresholds=(18,),
        ge_thresholds=(36,),
    )


# ---------------------------------------------------------------------------
# P1/P4 — projection + conjunctive predicates (equality, isin, negated
# isin, range). Reference: `2.R:155-158`, `1b.R:149`, `3c.R:105`.
# ---------------------------------------------------------------------------
@query(
    "filter_project",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
           CAST(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 10000 AS net_price
    FROM lineitem
    WHERE l_returnflag = 'R'
      AND l_linestatus IN ('F')
      AND l_quantity NOT IN (1, 2)
      AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
    """,
)
def filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_returnflag") == "R")
        & F.col("l_linestatus").isin("F")
        & ~F.col("l_quantity").isin(1, 2)
        & (F.col("l_shipdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
    ).select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        (sl2("l_extendedprice") * (100 - sl2("l_discount")) / 10000.0).alias("net_price"),
    )


# ---------------------------------------------------------------------------
# P5 — whole-row dedup. Reference: `1b.R:283`, `1c.R:127`.
# ---------------------------------------------------------------------------
@query(
    "distinct_rows",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus, o_orderpriority "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey",
)
def distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select("l_returnflag", "l_linestatus", "o_orderpriority")
        .distinct()
    )


# ---------------------------------------------------------------------------
# O1/O3 — multi-key sort + top-k. Reference: `IS_election_blog.R:109-115`
# (arrange(-Total) %>% head(11)); ties broken by unique key for
# distributed determinism (SURVEY §7.5 order-dependence caveat).
# ---------------------------------------------------------------------------
@query(
    "top_k",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 11
    """,
)
def top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(11)
    )


# ---------------------------------------------------------------------------
# J1 — broadcast left join of fact to small dimension + grouped agg.
# Reference: `2.R:63-64` (provider lookup joined to fact),
# `1a.R:50-52`. The dimension side is explicitly broadcast.
# ---------------------------------------------------------------------------
@query(
    "join_left_broadcast",
    headline=True,
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS total_price
    FROM orders LEFT JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def join_left_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            sum2("o_totalprice", "total_price"),
        )
    )


# ---------------------------------------------------------------------------
# J2 — composite-key equi-join (reference: data.table merge on a 5-col
# key, `3d. Ratio.R:104-105`). Aggregate per (order, supplier), join
# back on BOTH keys.
# ---------------------------------------------------------------------------
@query(
    "join_multikey",
    oracle="""
    WITH per AS (
      SELECT l_orderkey, l_suppkey,
             CAST(SUM(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS supp_order_qty
      FROM lineitem GROUP BY l_orderkey, l_suppkey
    )
    SELECT l.l_orderkey, l.l_suppkey, l.l_linenumber, p.supp_order_qty
    FROM lineitem l
    JOIN per p ON l.l_orderkey = p.l_orderkey AND l.l_suppkey = p.l_suppkey
    WHERE l.l_linenumber = 1
    """,
)
def join_multikey(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    per = li.groupBy("l_orderkey", "l_suppkey").agg(sum2("l_quantity", "supp_order_qty"))
    return (
        li.join(per, on=["l_orderkey", "l_suppkey"], how="inner")
        .filter(F.col("l_linenumber") == 1)
        .select("l_orderkey", "l_suppkey", "l_linenumber", "supp_order_qty")
    )


# ---------------------------------------------------------------------------
# J3 — semi-join membership ("keep customers that have a big order").
# Reference: `%in%` membership flag `1b.R:380`, `1c.R:236`.
# ---------------------------------------------------------------------------
@query(
    "semi_join",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 200000)
    """,
)
def semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


# ---------------------------------------------------------------------------
# J4 — anti-join ("customers with no orders"). Reference: `!(x %in% y)`
# drops `1c.R:398-399`, `IS_election_blog.R:71`.
# ---------------------------------------------------------------------------
@query(
    "anti_join",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


# ---------------------------------------------------------------------------
# J5 — cross join (parameter grids, `3b. Descriptive stats.R:44-48`
# expand.grid). Small × small only; at scale the grid is replaced by
# grouping sets (see grouping_sets_cube).
# ---------------------------------------------------------------------------
@query(
    "cross_join_grid",
    oracle="""
    SELECT r.r_name, s.o_orderstatus
    FROM region r CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
    """,
)
def cross_join_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region").select("r_name")
    s = load_table(spark, sf_dir, "orders").select("o_orderstatus").distinct()
    return r.crossJoin(s)


# ---------------------------------------------------------------------------
# J7 — union-by-name with NULL fill (R rbind.fill, `1b.R:278,386`).
# customer has mktsegment; supplier doesn't → NULL-filled.
# ---------------------------------------------------------------------------
@query(
    "union_by_name_fill",
    oracle="""
    SELECT c_custkey AS entity_key, c_name AS entity_name, c_acctbal AS acctbal,
           c_mktsegment AS mktsegment, 'customer' AS src
    FROM customer
    UNION ALL
    SELECT s_suppkey AS entity_key, s_name AS entity_name, s_acctbal AS acctbal,
           CAST(NULL AS VARCHAR) AS mktsegment, 'supplier' AS src
    FROM supplier
    """,
)
def union_by_name_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from elective_waiting_times_pipeline_spark.sources.readers import union_by_name

    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("entity_key"),
        F.col("c_name").alias("entity_name"),
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_mktsegment").alias("mktsegment"),
        F.lit("customer").alias("src"),
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("entity_key"),
        F.col("s_name").alias("entity_name"),
        F.col("s_acctbal").alias("acctbal"),
        F.lit("supplier").alias("src"),
    )
    return union_by_name([c, s])


# ---------------------------------------------------------------------------
# J8 — positional union of same-schema slices (`3d.R:83`, `3a.R:44`).
# ---------------------------------------------------------------------------
@query(
    "union_positional",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_quantity <= 2
    UNION ALL
    SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_quantity >= 49
    """,
)
def union_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
    return li.filter(F.col("l_quantity") <= 2).union(li.filter(F.col("l_quantity") >= 49))


# ---------------------------------------------------------------------------
# Grouping sets — the reference's ENGLAND-override + IS∈{0,1,2=All}
# trick (`2.R:148-150`, `2.R:344-353`) is GROUPING SETS; in Spark a
# single cube pass replaces the reference's per-combo rescans
# (SURVEY §2.4, §3.2 — the highest-leverage translation in the build).
# NULL grouping keys are COALESCEd to 'ALL' on both sides.
# ---------------------------------------------------------------------------
@query(
    "grouping_sets_cube",
    headline=True,
    oracle="""
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           CAST(SUM(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS sum_qty,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def grouping_sets_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(sum2("l_quantity", "sum_qty"), F.count(F.lit(1)).alias("n_rows"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n_rows",
        )
    )


# ---------------------------------------------------------------------------
# A10 — grouped-mutate: group total windowed back onto rows for shares.
# Reference: `3c.R:455-457` (group_by + mutate(total=sum(x)) → share).
# ---------------------------------------------------------------------------
@query(
    "window_share",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           ROUND(100.0 * o_totalprice
                 / (CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) OVER (PARTITION BY o_orderstatus) AS DOUBLE) / 100),
                 6) AS pct_of_status
    FROM orders
    """,
)
def window_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus")
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.round(
            100.0 * F.col("o_totalprice") / (F.sum(sl2("o_totalprice")).over(w) / 100.0),
            6,
        ).alias("pct_of_status"),
    )


# ---------------------------------------------------------------------------
# Composite 3-table query (TPC-H Q3 shape): selective dim filter →
# broadcast join → big-big equi-join on the order key → grouped revenue
# → top-k. Exercises join reordering + partial aggregation in one plan;
# the reference's closest analog is the fact×lookup×filter reporting
# joins (`3c.R:105-165`). Ties pinned by (o_orderdate, l_orderkey).
# ---------------------------------------------------------------------------
@query(
    "shipping_priority",
    headline=True,
    oracle="""
    SELECT l_orderkey,
           CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))) AS DOUBLE) / 10000 AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1995-03-15 00:00:00").cast("timestamp")
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        # customer is a scaling table (not a true small dim) — no
        # broadcast hint; AQE auto-broadcasts when the filtered side
        # fits, shuffle-joins otherwise
        o.join(c, o.o_custkey == c.c_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            (F.sum(sl2("l_extendedprice") * (100 - sl2("l_discount"))) / 10000.0).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# HAVING over a grouped aggregate feeding a semi-join (TPC-H Q18
# shape): orders whose total quantity exceeds a threshold, with
# customer context. The HAVING filter runs on the aggregate BEFORE the
# join, so only qualifying keys shuffle onward.
# ---------------------------------------------------------------------------
@query(
    "big_volume_orders",
    oracle="""
    WITH big AS (
      SELECT l_orderkey,
             CAST(SUM(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) > 25000
    )
    SELECT c_custkey, c_name, o_orderkey, o_totalprice, total_qty
    FROM big
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    """,
)
def big_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(sl2("l_quantity")).alias("_sq"))
        .filter(F.col("_sq") > 25000)
        .select("l_orderkey", (F.col("_sq") / 100.0).alias("total_qty"))
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice", "total_qty")
    )



# --- register sibling domains (import side effects populate the dicts) ---
from elective_waiting_times_pipeline_spark.plans import catalog_relational  # noqa: E402,F401
from elective_waiting_times_pipeline_spark.plans import catalog_text  # noqa: E402,F401
from elective_waiting_times_pipeline_spark.plans import catalog_vector  # noqa: E402,F401
from elective_waiting_times_pipeline_spark.plans import catalog_events  # noqa: E402,F401
from elective_waiting_times_pipeline_spark.plans import catalog_tpch  # noqa: E402,F401


# ---------------------------------------------------------------------------
# Six-table join (TPC-H Q5 shape): revenue by nation for one region
# and one order-date year, where the supplier and customer must sit in
# the SAME nation. The optimizer's join-ordering workout: two tiny
# dims (region, nation) broadcast, the customer/orders/lineitem/
# supplier chain shuffles on its keys, and the region + date filters
# push into the scans.
# ---------------------------------------------------------------------------
@query(
    "local_supplier_volume",
    headline=True,
    oracle="""
    SELECT n_name,
           CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                    * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))) AS DOUBLE) / 10000
             AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"))
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            (F.sum(sl2("l_extendedprice") * (100 - sl2("l_discount"))) / 10000.0).alias("revenue")
        )
    )


# ---------------------------------------------------------------------------
# Correlated EXISTS / NOT EXISTS (TPC-H Q21 shape): suppliers who were
# the ONLY slow supplier on a multi-supplier order ("slow" = shipped
# >90 days after the order date). The subquery pair rewrites to one
# semi-join (another supplier took part) and one anti-join (no OTHER
# supplier was slow) against the same slow-lines relation — the
# distinct relational shape the catalog's plain semi/anti queries
# don't exercise: both filters correlate on the order AND exclude the
# probe row's own supplier.
# ---------------------------------------------------------------------------
@query(
    "sole_slow_supplier",
    oracle="""
    WITH slow AS (
      SELECT l_orderkey, l_suppkey
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
    )
    SELECT s.l_suppkey AS suppkey, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM slow) s
    WHERE EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = s.l_orderkey AND l2.l_suppkey <> s.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM slow s2
        WHERE s2.l_orderkey = s.l_orderkey AND s2.l_suppkey <> s.l_suppkey
      )
    GROUP BY 1
    """,
)
def sole_slow_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    slow = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .select("l_orderkey", "l_suppkey")
        .distinct()
        .localCheckpoint(eager=False)  # feeds the probe AND the anti side
    )
    others = li.select("l_orderkey", "l_suppkey").distinct()
    # EXISTS: some other supplier participated in the order
    probe = slow.alias("s").join(
        others.alias("x"),
        (F.col("s.l_orderkey") == F.col("x.l_orderkey"))
        & (F.col("s.l_suppkey") != F.col("x.l_suppkey")),
        "left_semi",
    )
    # NOT EXISTS: no other supplier was slow on that order
    sole = probe.alias("p").join(
        slow.alias("t"),
        (F.col("p.l_orderkey") == F.col("t.l_orderkey"))
        & (F.col("p.l_suppkey") != F.col("t.l_suppkey")),
        "left_anti",
    )
    return sole.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        F.count(F.lit(1)).alias("numwait")
    )


# ---------------------------------------------------------------------------
# Forecasting revenue change (TPC-H Q6 shape): the canonical
# filter-everything-then-one-sum scan — all three selective predicates
# push to the parquet scan and the whole query is one codegen'd
# partial+final aggregation with no shuffle wider than one row.
# ---------------------------------------------------------------------------
@query(
    "forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                    * CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 10000
             AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            (F.sum(sl2("l_extendedprice") * sl2("l_discount")) / 10000.0).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


# ---------------------------------------------------------------------------
# Correlated EXISTS with date arithmetic on both sides (TPC-H Q4
# shape): orders placed in one quarter counted per priority when at
# least one of their lines shipped late (> 60 days after the order
# date). The EXISTS rewrites to ONE semi-join whose condition is the
# orderkey equality plus the cross-table date predicate — the order
# scan prunes on the quarter, and no lineitem column survives the
# join.
# ---------------------------------------------------------------------------
@query(
    "order_priority_count",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority
    """,
)
def order_priority_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


# ---------------------------------------------------------------------------
# Promotion revenue share (TPC-H Q14 shape): one month of lineitem
# joined to part, conditional snapped-cents sums → the promo share of
# revenue. The date filter pushes to the lineitem scan; part arrives
# via its key (a data-scale dim — no broadcast assumption; AQE may
# still choose one when small).
# ---------------------------------------------------------------------------
@query(
    "promo_revenue_share",
    oracle="""
    WITH m AS (
      SELECT p_type,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
               * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS rev
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
    )
    SELECT CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END) AS DOUBLE) / 10000
             AS promo_revenue,
           CAST(SUM(rev) AS DOUBLE) / 10000 AS total_revenue,
           ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END)
                 / SUM(rev), 6) AS promo_share_pct
    FROM m
    """,
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = sl2("l_extendedprice") * (100 - sl2("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0))
    m = li.join(p, F.col("l_partkey") == F.col("p_partkey")).select(
        promo.alias("promo_rev"), rev.alias("rev")
    )
    return m.agg(
        (F.sum("promo_rev").cast("double") / 10000).alias("promo_revenue"),
        (F.sum("rev").cast("double") / 10000).alias("total_revenue"),
        F.round(100.0 * F.sum("promo_rev") / F.sum("rev"), 6).alias("promo_share_pct"),
    )


# ---------------------------------------------------------------------------
# Returned-item revenue ranking (TPC-H Q10 shape): customers ranked by
# the revenue they returned in one quarter, with their nation — the
# classic 4-table join + top-k. The returnflag and quarter predicates
# push to the scans; nation broadcasts; the top-20 is a
# TakeOrderedAndProject (never a global sort), ties pinned by custkey.
# ---------------------------------------------------------------------------
@query(
    "returned_item_revenue",
    oracle="""
    SELECT c_custkey, c_name, n_name,
           CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                    * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))) AS DOUBLE) / 10000
             AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
)
def returned_item_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            (F.sum(sl2("l_extendedprice") * (100 - sl2("l_discount"))) / 10000.0).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )
