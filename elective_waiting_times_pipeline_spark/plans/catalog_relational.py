"""Catalog: aggregation variants, window functions, reshape, scalar
function families (SURVEY.md §2.4-§2.9)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from elective_waiting_times_pipeline_spark.plans.registry import query, sl2, sum2
from elective_waiting_times_pipeline_spark.sources.readers import load_table


# ---------------------------------------------------------------------------
# A4 — distinct counts (providers/months: `3c.R:99`, `3c.R:368-370`).
# Exact here; approx_count_distinct is the 100TB-scale variant (see
# count_distinct_approx, rows-only check).
# ---------------------------------------------------------------------------
@query(
    "count_distinct",
    oracle="""
    SELECT n_name,
           CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_customers,
           CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS n_segments
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.countDistinct("c_custkey").alias("n_customers"),
            F.countDistinct("c_mktsegment").alias("n_segments"),
        )
    )


# ---------------------------------------------------------------------------
# A7 — weighted mean (population-weighted IMD `1a.R:114`, volume-
# weighted IS share `3c.R:184,576`) = sum(x*w)/sum(w) with null-guard.
# ---------------------------------------------------------------------------
@query(
    "weighted_mean",
    oracle="""
    SELECT l_returnflag,
           ROUND(CAST(SUM(CAST(floor(l_discount * 100 + 0.5) AS BIGINT)
                          * CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS DOUBLE)
                 / (100.0 * CAST(SUM(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT)), 6) AS wavg_discount
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def weighted_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # sum(disc*qty)/sum(qty): scaled numerator 100×100, denominator
    # 100 → divide by an extra 100 to land on the true ratio.
    return li.groupBy("l_returnflag").agg(
        F.round(
            F.sum(sl2("l_discount") * sl2("l_quantity"))
            / (100.0 * F.sum(sl2("l_quantity"))),
            6,
        ).alias("wavg_discount")
    )


# ---------------------------------------------------------------------------
# A8 — conditional aggregate: sum(ifelse(cond, x, NA), na.rm=T)
# (`3c.R:122-129`) → SUM(CASE WHEN ...).
# ---------------------------------------------------------------------------
@query(
    "conditional_agg",
    oracle="""
    SELECT l_returnflag,
           CAST(COALESCE(SUM(CASE WHEN l_discount > 0.05 THEN CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) END), 0) AS DOUBLE) / 100 AS discounted_revenue,
           CAST(COUNT(CASE WHEN l_discount > 0.05 THEN 1 END) AS BIGINT) AS n_discounted
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cond = F.col("l_discount") > 0.05
    return li.groupBy("l_returnflag").agg(
        (F.coalesce(F.sum(F.when(cond, sl2("l_extendedprice"))), F.lit(0)) / 100.0)
        .alias("discounted_revenue"),
        F.count(F.when(cond, F.lit(1))).alias("n_discounted"),
    )


# ---------------------------------------------------------------------------
# A9 — string aggregation: paste(unique(x), collapse=', ') per group
# (`3c.R:127`). collect_set is unordered → array_sort for determinism.
# ---------------------------------------------------------------------------
@query(
    "string_agg",
    oracle="""
    SELECT r_name, STRING_AGG(DISTINCT n_name, ', ' ORDER BY n_name) AS nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.array_join(F.array_sort(F.collect_set("n_name")), ", ").alias("nations"))
    )


# ---------------------------------------------------------------------------
# A11 — frequency table (`table`/`tabyl`, `1a.R:134`, `1c.R:470`).
# ---------------------------------------------------------------------------
@query(
    "freq_table",
    oracle="SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n FROM orders GROUP BY o_orderpriority",
)
def freq_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# W1 — ntile deciles/quintiles inside groups, inverted (IMD deciles:
# `1a.R:117-118` `11 - ntile(x, 10)`). Tie-broken by unique key.
# ---------------------------------------------------------------------------
@query(
    "ntile_decile",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           11 - NTILE(10) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey) AS decile_inv
    FROM customer
    """,
)
def ntile_decile(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        (F.lit(11) - F.ntile(10).over(w)).alias("decile_inv"),
    )


# ---------------------------------------------------------------------------
# W2 — cumulative sum over an ordered axis (quantile machinery,
# `2.R:244`). Decimal running sum → exact regardless of plan.
# ---------------------------------------------------------------------------
@query(
    "cumsum_window",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 100 AS running_spend
    FROM orders
    """,
)
def cumsum_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        (F.sum(sl2("o_totalprice")).over(w) / 100.0).alias("running_spend"),
    )


# ---------------------------------------------------------------------------
# W3 — top-1 per group (best geocode result per provider,
# `1c.R:412-416` top_n(1, abs(number_results))): row_number over an
# explicit DESC order with unique tie-break.
# ---------------------------------------------------------------------------
@query(
    "top1_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn = 1
    """,
)
def top1_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# A5 — first-wins dedup with pinned order (R `first`/!duplicated keeps
# arrival order, `1c.R:70`, `1b.R:283`; nondeterministic distributed →
# pin explicit (date, key) order, SURVEY §4).
# ---------------------------------------------------------------------------
@query(
    "dedup_first_wins",
    oracle="""
    SELECT o_custkey, o_orderkey AS first_orderkey, o_orderdate AS first_orderdate FROM (
      SELECT o_custkey, o_orderkey, o_orderdate,
             ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
    ) WHERE rn = 1
    """,
)
def dedup_first_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("first_orderkey"),
            F.col("o_orderdate").alias("first_orderdate"),
        )
    )


# ---------------------------------------------------------------------------
# W4 — lag deltas over a period axis (pre/post COVID deltas,
# `3b.R:119-120`; here explicit lag() instead of pivot-subtract).
# ---------------------------------------------------------------------------
@query(
    "lag_delta",
    oracle="""
    WITH monthly AS (
      SELECT date_trunc('month', o_orderdate) AS month,
             CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS total
      FROM orders GROUP BY 1
    )
    SELECT month, total,
           total - LAG(total) OVER (ORDER BY month) AS delta
    FROM monthly
    """,
)
def lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(F.date_trunc("month", "o_orderdate").alias("month")).agg(
        sum2("o_totalprice", "total")
    )
    w = Window.orderBy("month")
    return monthly.select(
        "month", "total", (F.col("total") - F.lag("total").over(w)).alias("delta")
    )


# ---------------------------------------------------------------------------
# R1 — pivot_wider (34 uses in the reference, e.g. `3b.R:105-118` IS
# sector pivot). Explicit value list keeps the plan static at scale.
# ---------------------------------------------------------------------------
@query(
    "pivot_wide",
    oracle="""
    SELECT l_returnflag,
           CAST(COALESCE(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) END), 0) AS DOUBLE) / 100 AS qty_F,
           CAST(COALESCE(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) END), 0) AS DOUBLE) / 100 AS qty_O
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.sum(sl2("l_quantity")))
        .select(
            "l_returnflag",
            (F.coalesce(F.col("F"), F.lit(0)) / 100.0).alias("qty_F"),
            (F.coalesce(F.col("O"), F.lit(0)) / 100.0).alias("qty_O"),
        )
    )


# ---------------------------------------------------------------------------
# R2 — pivot_longer / unpivot (`1a.R:58`, `3c.R:373-374`) via stack().
# ---------------------------------------------------------------------------
@query(
    "unpivot_long",
    oracle="""
    SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
    UNION ALL
    SELECT p_partkey, 'retailprice' AS metric, p_retailprice AS value FROM part
    """,
)
def unpivot_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.selectExpr(
        "p_partkey",
        "stack(2, 'size', CAST(p_size AS DOUBLE), 'retailprice', p_retailprice) AS (metric, value)",
    )


# ---------------------------------------------------------------------------
# F1 — string function family (`str_replace_all`, `word(x,n,sep)`,
# `toupper`, `substr`, regex capture — SURVEY §2.9 F1).
# ---------------------------------------------------------------------------
@query(
    "string_funcs",
    oracle="""
    SELECT p_partkey,
           UPPER(p_brand) AS brand_upper,
           LOWER(p_name) AS name_lower,
           SUBSTR(p_type, 1, 5) AS type_prefix,
           split_part(p_type, ' ', 1) AS type_word1,
           regexp_extract(p_name, '^([a-z]+)', 1) AS first_token,
           regexp_replace(p_name, ' ', '_', 'g') AS name_snake,
           p_brand || ':' || p_type AS brand_type,
           CAST(LENGTH(p_name) AS INT) AS name_len,
           CONTAINS(p_type, 'BRASS') AS is_brass
    FROM part
    """,
)
def string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.lower("p_name").alias("name_lower"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.split("p_type", " ").getItem(0).alias("type_word1"),
        F.regexp_extract("p_name", r"^([a-z]+)", 1).alias("first_token"),
        F.regexp_replace("p_name", " ", "_").alias("name_snake"),
        F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
        F.length("p_name").alias("name_len"),
        F.col("p_type").contains("BRASS").alias("is_brass"),
    )


# ---------------------------------------------------------------------------
# F2 — date function family (month-label parsing `3a.R:50-54`,
# year/month extraction `Charts.R:142-143`, date compare `3b.R:84-86`).
# ---------------------------------------------------------------------------
@query(
    "date_funcs",
    oracle="""
    SELECT o_orderkey,
           CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
           CAST(EXTRACT(month FROM o_orderdate) AS INT) AS mth,
           strftime(o_orderdate, '%b') AS month_label,
           date_trunc('month', o_orderdate) AS month_start,
           CAST(date_diff('day', TIMESTAMP '2024-01-01 00:00:00', o_orderdate) AS INT) AS days_since_2024,
           o_orderdate >= TIMESTAMP '2024-06-01 00:00:00' AS is_h2
    FROM orders
    """,
)
def date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mth"),
        F.date_format("o_orderdate", "MMM").alias("month_label"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.datediff(F.to_date("o_orderdate"), F.lit("2024-01-01").cast("date"))
        .cast("int")
        .alias("days_since_2024"),
        (F.col("o_orderdate") >= F.lit("2024-06-01 00:00:00").cast("timestamp")).alias("is_h2"),
    )


# ---------------------------------------------------------------------------
# F3 — case_when ladders (pathway mapping `2.R:69-76`, COVID periods
# `3b.R:84-87`, region order `3c.R:628-638`).
# ---------------------------------------------------------------------------
@query(
    "case_when_bucket",
    oracle="""
    SELECT CASE WHEN o_totalprice < 100000 THEN 'low'
                WHEN o_totalprice < 200000 THEN 'mid'
                ELSE 'high' END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(o_totalprice) AS DOUBLE) AS min_price,
           CAST(MAX(o_totalprice) AS DOUBLE) AS max_price
    FROM orders
    GROUP BY 1
    """,
)
def case_when_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 100000, "low")
        .when(F.col("o_totalprice") < 200000, "mid")
        .otherwise("high")
    )
    return o.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


# ---------------------------------------------------------------------------
# F6 — NULL handling: NA-coalesce fallback (`IS_election_blog.R:91-105`
# ifelse(is.na(x), fallback, x)) after a left join producing NULLs.
# ---------------------------------------------------------------------------
@query(
    "coalesce_nulls",
    oracle="""
    SELECT c_custkey,
           CAST(COALESCE(n_orders, 0) AS BIGINT) AS n_orders,
           COALESCE(total_spend, 0.0) AS total_spend,
           n_orders IS NULL AS never_ordered
    FROM customer
    LEFT JOIN (
      SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS total_spend
      FROM orders GROUP BY o_custkey
    ) agg ON c_custkey = o_custkey
    """,
)
def coalesce_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    agg = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"), sum2("o_totalprice", "total_spend")
    )
    return c.join(agg, c.c_custkey == agg.o_custkey, "left").select(
        "c_custkey",
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.coalesce("total_spend", F.lit(0.0)).alias("total_spend"),
        F.col("n_orders").isNull().alias("never_ordered"),
    )


# ---------------------------------------------------------------------------
# §2.10 — Pearson correlation / dispersion (geom_smooth(method=lm) +
# stat_cor, `3b.R:126-132`). Rounded to 6 dp (moment aggregates carry
# float merge-order noise well below that).
# ---------------------------------------------------------------------------
@query(
    "corr_stats",
    oracle="""
    SELECT l_returnflag,
           ROUND(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
           ROUND(stddev_samp(l_discount), 6) AS disc_stddev
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
        F.round(F.stddev_samp("l_discount"), 6).alias("disc_stddev"),
    )


# ---------------------------------------------------------------------------
# §2.10 — linear fit via closed-form regression aggregates
# (geom_smooth(method=lm), `3b.R:126`): slope/intercept of
# extendedprice ~ quantity per group.
# ---------------------------------------------------------------------------
@query(
    "linear_fit",
    oracle="""
    SELECT l_returnflag,
           ROUND(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
           ROUND(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def linear_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias("slope"),
        F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 4).alias("intercept"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# A4 at scale — approx_count_distinct (the 100TB variant of
# n_distinct; no oracle: HLL estimates are engine-specific → the
# driver records a rows-only check, and tests bound the error).
# ---------------------------------------------------------------------------
@query("count_distinct_approx")
def count_distinct_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
    )


# ---------------------------------------------------------------------------
# A12 counterpart — EXACT continuous percentiles via the built-in
# sort-based `percentile` aggregate (linear interpolation, identical
# formula to DuckDB's quantile_cont). The reference computes its
# quantiles through the banded-histogram kernel (histogram_quantile);
# this is the direct form an engine user reaches for when the raw
# values (not pre-binned counts) are at hand. Rounded to 4 dp: both
# engines interpolate the same two order statistics, so only
# float-formatting noise is being suppressed, not algorithm drift.
# ---------------------------------------------------------------------------
@query(
    "percentile_exact",
    oracle="""
    SELECT o_orderpriority,
           ROUND(quantile_cont(o_totalprice, 0.5), 4) AS median_price,
           ROUND(quantile_cont(o_totalprice, 0.95), 4) AS p95_price,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def percentile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("median_price"),
        F.round(F.percentile("o_totalprice", F.lit(0.95)), 4).alias("p95_price"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# Full outer join — absent from the reference (SURVEY §2.3) but part of
# a complete relational surface: reconcile two aggregates where either
# side may miss keys. Null-filled sides COALESCEd identically in both
# engines.
# ---------------------------------------------------------------------------
@query(
    "join_full_outer",
    oracle="""
    WITH big AS (
      SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_big
      FROM orders WHERE o_totalprice > 250000 GROUP BY o_custkey
    ), urgent AS (
      SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_urgent
      FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY o_custkey
    )
    SELECT COALESCE(b.o_custkey, u.o_custkey) AS custkey,
           COALESCE(n_big, 0) AS n_big,
           COALESCE(n_urgent, 0) AS n_urgent
    FROM big b FULL OUTER JOIN urgent u ON b.o_custkey = u.o_custkey
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    big = (
        o.filter(F.col("o_totalprice") > 250000)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_big"))
    )
    urgent = (
        o.filter(F.col("o_orderpriority") == "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_urgent"))
    )
    return (
        big.alias("b")
        .join(urgent.alias("u"), F.col("b.o_custkey") == F.col("u.o_custkey"), "full_outer")
        .select(
            F.coalesce("b.o_custkey", "u.o_custkey").alias("custkey"),
            F.coalesce("n_big", F.lit(0)).alias("n_big"),
            F.coalesce("n_urgent", F.lit(0)).alias("n_urgent"),
        )
    )


# ---------------------------------------------------------------------------
# INTERSECT / EXCEPT set ops (SURVEY §2.8: the reference covers these
# with %in% membership filters; the engine exposes the real operators).
# ---------------------------------------------------------------------------
@query(
    "set_intersect_except",
    oracle="""
    SELECT c_custkey, 'both' AS which FROM (
      SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 250000
      INTERSECT
      SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    UNION ALL
    SELECT c_custkey, 'big_only' AS which FROM (
      SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 250000
      EXCEPT
      SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    """,
)
def set_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    big = o.filter(F.col("o_totalprice") > 250000).select(F.col("o_custkey").alias("c_custkey"))
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("c_custkey")
    )
    # subtract == EXCEPT DISTINCT (exceptAll is the bag variant and
    # keeps leftover multiplicity — different semantics)
    return big.intersect(urgent).withColumn("which", F.lit("both")).unionByName(
        big.subtract(urgent).withColumn("which", F.lit("big_only"))
    )


# ---------------------------------------------------------------------------
# Approximate percentile (scale path for percentile_exact): Spark's
# built-in sketch aggregate with a bounded rank error — single pass,
# mergeable partials, no global sort. Rows-only (sketch internals are
# engine-specific); the error bound vs the exact percentile is
# unit-tested in test_reporting_extras.
# ---------------------------------------------------------------------------
@query("percentile_approx_sketch")
def percentile_approx_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.percentile_approx("o_totalprice", F.lit(0.5), F.lit(1000)).alias("median_price_approx"),
        F.percentile_approx("o_totalprice", F.lit(0.95), F.lit(1000)).alias("p95_price_approx"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# Skew mitigation surfaced in the checked set (operators/skew.py):
# both queries must produce byte-identical results to their plain
# (unsalted) SQL — salting is a physical rewrite, never a semantic
# one. l_returnflag has 3 values over the whole fact table: exactly
# the hot-key shape where one reducer would take ~half the corpus.
# ---------------------------------------------------------------------------
@query(
    "skew_salted_agg",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS sum_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from elective_waiting_times_pipeline_spark.operators.skew import salted_sum

    li = load_table(spark, sf_dir, "lineitem").withColumn("_q", sl2("l_quantity"))
    out = salted_sum(li, ["l_returnflag"], "_q", salt=16, out_col="_t")
    return out.select("l_returnflag", (F.col("_t") / 100.0).alias("sum_qty"))


@query(
    "skew_salted_join",
    oracle="""
    SELECT s_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS sum_qty
    FROM lineitem LEFT JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_nationkey
    """,
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from elective_waiting_times_pipeline_spark.operators.skew import salted_join_left

    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey", sl2("l_quantity").alias("_q"))
    sup = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    joined = salted_join_left(li, sup, on="l_suppkey", salt=8)
    return joined.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        (F.sum("_q") / 100.0).alias("sum_qty"),
    )


# ---------------------------------------------------------------------------
# Runtime-filter join prefilter (operators/runtimefilter.py): a
# broadcast hash-bucket set screens lineitem rows before the exact
# semi-join against high-value orders — the public-primitive version
# of a pushed-down bloom runtime filter. The oracle is the PLAIN
# semi-join: the prefilter must not change a single row.
# ---------------------------------------------------------------------------
@query(
    "runtime_filter_semi_join",
    headline=True,
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100
             AS sum_extended
    FROM lineitem
    WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000)
    GROUP BY l_returnflag
    """,
)
def runtime_filter_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from elective_waiting_times_pipeline_spark.operators.runtimefilter import (
        prefiltered_semi_join,
    )

    li = load_table(spark, sf_dir, "lineitem")
    big = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    kept = prefiltered_semi_join(li, big, "l_orderkey", "o_orderkey")
    return kept.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        sum2("l_extendedprice", "sum_extended"),
    )


from elective_waiting_times_pipeline_spark.functions.zorder import (
    zorder_key_sql as _zorder_sql,
)


# ---------------------------------------------------------------------------
# Z-order (Morton) clustering key (functions/zorder.py): the
# multi-dimensional lake-layout sort key — bit-interleave two key
# columns so parquet min/max stats prune on either. Pure integer bit
# math; the oracle replays the identical interleave.
# ---------------------------------------------------------------------------
@query(
    "zorder_locality",
    oracle=f"""
    SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
           CAST({_zorder_sql("l_partkey", "l_suppkey", bits=25)} AS BIGINT) AS zkey
    FROM lineitem
    ORDER BY zkey, l_orderkey, l_linenumber
    LIMIT 100
    """,
)
def zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from elective_waiting_times_pipeline_spark.functions.zorder import zorder_key_n

    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            "l_partkey",
            "l_suppkey",
            # 25 bits/dim: covers part/supp keys to 33M without the
            # 16-bit default's aliasing (wider domains must widen bits
            # or pre-bucket — zorder_key_n masks silently)
            zorder_key_n(["l_partkey", "l_suppkey"], bits=25).alias("zkey"),
        )
        .orderBy("zkey", "l_orderkey", "l_linenumber")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Key-skew diagnostic: the pre-join report you run before shuffling a
# 100 TB fact on a key — per-key counts reduced map-side, then one
# tiny summary row (distinct keys, count quantiles, the heaviest
# key's share). Reading top_share x total rows tells you whether the
# biggest shuffle partition fits an executor or needs salting/AQE
# (operators/skew.py is the fix; this is the detector).
# ---------------------------------------------------------------------------
@query(
    "key_skew_report",
    oracle="""
    WITH counts AS (
      SELECT l_partkey AS key, COUNT(*) AS cnt FROM lineitem GROUP BY 1
    )
    SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(MAX(cnt) AS BIGINT) AS max_cnt,
           ROUND(quantile_cont(cnt, 0.5), 4) AS p50_cnt,
           ROUND(quantile_cont(cnt, 0.99), 4) AS p99_cnt,
           ROUND(CAST(MAX(cnt) AS DOUBLE) / SUM(cnt), 6) AS top_share
    FROM counts
    """,
)
def key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy(F.col("l_partkey").alias("key")).agg(F.count(F.lit(1)).alias("cnt"))
    return counts.agg(
        F.sum("cnt").cast("long").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("cnt").cast("long").alias("max_cnt"),
        F.round(F.percentile("cnt", F.lit(0.5)), 4).alias("p50_cnt"),
        F.round(F.percentile("cnt", F.lit(0.99)), 4).alias("p99_cnt"),
        F.round(F.max("cnt") / F.sum("cnt"), 6).alias("top_share"),
    )


# ---------------------------------------------------------------------------
# Declarative data-quality report (operators/quality.py, the Deequ
# pattern): the whole constraint suite — null checks, ranges, a date
# ordering rule, PK uniqueness — prices as ONE scan + one aggregation
# regardless of how many rules run. The deliberately-tight quantity
# cap yields a non-zero violation count so the report is exercised,
# not vacuously green.
# ---------------------------------------------------------------------------
@query(
    "dq_report",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COALESCE(SUM(CASE WHEN l_orderkey IS NULL THEN 1 END), 0) AS BIGINT)
             AS not_null_l_orderkey,
           CAST(COALESCE(SUM(CASE WHEN l_quantity IS NULL OR l_quantity < 1
                                   OR l_quantity > 30 THEN 1 END), 0) AS BIGINT)
             AS range_l_quantity,
           CAST(COALESCE(SUM(CASE WHEN l_extendedprice IS NULL OR l_extendedprice <= 0
                                   OR l_discount IS NULL OR l_discount > 0.5 THEN 1 END), 0) AS BIGINT)
             AS price_discount_sane,
           CAST(COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT)
             AS dup_l_orderkey_l_linenumber
    FROM lineitem
    """,
)
def dq_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from elective_waiting_times_pipeline_spark.operators import quality as Q

    li = load_table(spark, sf_dir, "lineitem")
    return Q.dq_report(
        li,
        [
            Q.not_null("l_orderkey"),
            Q.in_range("l_quantity", 1, 30),
            Q.satisfies(
                "price_discount_sane",
                F.col("l_extendedprice").isNull()
                | (F.col("l_extendedprice") <= 0)
                | F.col("l_discount").isNull()
                | (F.col("l_discount") > 0.5),
            ),
        ],
        unique_key=("l_orderkey", "l_linenumber"),
    )


# ---------------------------------------------------------------------------
# SCD Type 2 history build (warehouse dimension versioning): treat
# each customer's orders as attribute observations (o_orderpriority
# effective from o_orderdate), collapse consecutive repeats, and emit
# validity intervals — valid_from / valid_to (next change) /
# is_current. One key-partitioned window pass; ties on a day pinned
# by o_orderkey.
# ---------------------------------------------------------------------------
@query(
    "scd2_history",
    oracle="""
    WITH obs AS (
      SELECT o_custkey AS custkey, o_orderpriority AS attr,
             o_orderdate AS eff, o_orderkey AS tie
      FROM orders
    ), runs AS (
      SELECT custkey, attr, eff, tie,
             CASE WHEN LAG(attr) OVER w IS DISTINCT FROM attr THEN 1 ELSE 0 END AS chg
      FROM obs WINDOW w AS (PARTITION BY custkey ORDER BY eff, tie)
    ), grp AS (
      SELECT custkey, attr, eff, tie,
             SUM(chg) OVER (PARTITION BY custkey ORDER BY eff, tie
                            ROWS UNBOUNDED PRECEDING) AS ver
      FROM runs
    ), spans AS (
      SELECT custkey, attr, ver, MIN(eff) AS valid_from
      FROM grp GROUP BY 1, 2, 3
    )
    SELECT custkey, attr, valid_from,
           LEAD(valid_from) OVER (PARTITION BY custkey ORDER BY ver) AS valid_to,
           LEAD(valid_from) OVER (PARTITION BY custkey ORDER BY ver) IS NULL
             AS is_current
    FROM spans
    """,
)
def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from elective_waiting_times_pipeline_spark.operators.scd2 import build_scd2

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("attr"),
        F.col("o_orderdate").alias("eff"),
        F.col("o_orderkey").alias("tie"),
    )
    return build_scd2(o, key="custkey", attr="attr", eff="eff", tie="tie")


# ---------------------------------------------------------------------------
# Point-in-time (feature-store) join: each order looks up the SCD2
# segment its customer was in 90 DAYS BEFORE the order — the
# leakage-safe "features as of t−Δ" join every training-data build
# needs (joining the current version leaks the future). Composition:
# scd2_history's validity intervals, minus zero-length same-day
# versions (invisible to any point-in-time query, and dropping them
# leaves exactly one version per (key, valid_from) so the as-of match
# is unambiguous on both engines), then the union-carry as-of kernel
# (operators/asof.py) with a STRING payload — one key-partitioned
# window, no interval cross join. Orders whose lookup date precedes
# the customer's first version keep NULL (left semantics).
# ---------------------------------------------------------------------------
@query(
    "pit_feature_join",
    headline=True,
    oracle="""
    WITH obs AS (
      SELECT o_custkey AS custkey, o_orderpriority AS attr,
             o_orderdate AS eff, o_orderkey AS tie
      FROM orders
    ), runs AS (
      SELECT custkey, attr, eff, tie,
             CASE WHEN LAG(attr) OVER w IS DISTINCT FROM attr THEN 1 ELSE 0 END AS chg
      FROM obs WINDOW w AS (PARTITION BY custkey ORDER BY eff, tie)
    ), grp AS (
      SELECT custkey, attr, eff, tie,
             SUM(chg) OVER (PARTITION BY custkey ORDER BY eff, tie
                            ROWS UNBOUNDED PRECEDING) AS ver
      FROM runs
    ), spans AS (
      SELECT custkey, attr, ver, MIN(eff) AS valid_from
      FROM grp GROUP BY 1, 2, 3
    ), dim AS (
      SELECT custkey, attr, valid_from, valid_to FROM (
        SELECT custkey, attr, valid_from,
               LEAD(valid_from) OVER (PARTITION BY custkey ORDER BY ver) AS valid_to
        FROM spans)
      WHERE valid_to IS NULL OR valid_to > valid_from
    ), facts AS (
      SELECT o_orderkey, o_custkey AS custkey,
             o_orderdate - INTERVAL 90 DAY AS pit_date
      FROM orders
    )
    SELECT f.o_orderkey, f.custkey, f.pit_date, d.attr AS segment_at_pit
    FROM facts f
    ASOF LEFT JOIN dim d
      ON f.custkey = d.custkey AND f.pit_date >= d.valid_from
    """,
)
def pit_feature_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from elective_waiting_times_pipeline_spark.operators.asof import asof_join_backward

    dim = (
        scd2_history(spark, sf_dir)
        .filter(F.col("valid_to").isNull() | (F.col("valid_to") > F.col("valid_from")))
        .select("custkey", F.col("valid_from").alias("pit_date"), "attr")
    )
    facts = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("custkey"),
        (F.col("o_orderdate") - F.expr("INTERVAL 90 DAYS")).alias("pit_date"),
    )
    return asof_join_backward(
        facts, dim, by="custkey", ts="pit_date", value_cols=["attr"],
        value_types={"attr": "string"},
    ).select("o_orderkey", "custkey", "pit_date", F.col("attr").alias("segment_at_pit"))


# ---------------------------------------------------------------------------
# Welch's t-test between two event populations (§2.10 stats family,
# the A/B-comparison form): group moments from exact scaled integer
# sums, accumulated as DECIMAL(38,0)/HUGEINT (the sum of squares
# leaves int64 around 1e9 rows; two conditional aggs in ONE pass),
# then the t statistic and
# Welch–Satterthwaite df as a fixed sequence of double ops both
# engines replay verbatim.
# ---------------------------------------------------------------------------
@query(
    "ab_test_welch",
    oracle="""
    WITH m AS (
      SELECT CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS na,
             CAST(COALESCE(SUM(CASE WHEN event_type = 'click'
                    THEN CAST(floor(value * 100 + 0.5) AS BIGINT) END), 0) AS BIGINT) AS sa,
             COALESCE(SUM(CAST(CASE WHEN event_type = 'click'
                    THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                         * CAST(floor(value * 100 + 0.5) AS BIGINT) END AS HUGEINT)), 0) AS ssa,
             CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS nb,
             CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                    THEN CAST(floor(value * 100 + 0.5) AS BIGINT) END), 0) AS BIGINT) AS sb,
             COALESCE(SUM(CAST(CASE WHEN event_type = 'purchase'
                    THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                         * CAST(floor(value * 100 + 0.5) AS BIGINT) END AS HUGEINT)), 0) AS ssb
      FROM events
    ), stats AS (
      SELECT na, nb,
             CAST(sa AS DOUBLE) / 100 / na AS ma,
             CAST(sb AS DOUBLE) / 100 / nb AS mb,
             (CAST(ssa AS DOUBLE) / 10000 - (CAST(sa AS DOUBLE) / 100) * (CAST(sa AS DOUBLE) / 100) / na) / (na - 1) AS va,
             (CAST(ssb AS DOUBLE) / 10000 - (CAST(sb AS DOUBLE) / 100) * (CAST(sb AS DOUBLE) / 100) / nb) / (nb - 1) AS vb
      FROM m
    )
    SELECT na, nb, ROUND(ma, 6) AS mean_a, ROUND(mb, 6) AS mean_b,
           ROUND((ma - mb) / sqrt(va / na + vb / nb), 6) AS t_stat,
           ROUND((va / na + vb / nb) * (va / na + vb / nb)
                 / ((va / na) * (va / na) / (na - 1)
                    + (vb / nb) * (vb / nb) / (nb - 1)), 4) AS welch_df
    FROM stats
    """,
)
def ab_test_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    vc = sl2("value")
    is_a = F.col("event_type") == "click"
    is_b = F.col("event_type") == "purchase"
    m = ev.agg(
        F.count(F.when(is_a, 1)).alias("na"),
        F.coalesce(F.sum(F.when(is_a, vc)), F.lit(0)).cast("long").alias("sa"),
        F.coalesce(F.sum(F.when(is_a, (vc * vc).cast("decimal(38,0)"))), F.lit(0))
        .cast("decimal(38,0)")
        .alias("ssa"),
        F.count(F.when(is_b, 1)).alias("nb"),
        F.coalesce(F.sum(F.when(is_b, vc)), F.lit(0)).cast("long").alias("sb"),
        F.coalesce(F.sum(F.when(is_b, (vc * vc).cast("decimal(38,0)"))), F.lit(0))
        .cast("decimal(38,0)")
        .alias("ssb"),
    )
    ma = F.col("sa").cast("double") / 100 / F.col("na")
    mb = F.col("sb").cast("double") / 100 / F.col("nb")
    va = (
        F.col("ssa").cast("double") / 10000
        - (F.col("sa").cast("double") / 100) * (F.col("sa").cast("double") / 100) / F.col("na")
    ) / (F.col("na") - 1)
    vb = (
        F.col("ssb").cast("double") / 10000
        - (F.col("sb").cast("double") / 100) * (F.col("sb").cast("double") / 100) / F.col("nb")
    ) / (F.col("nb") - 1)
    se2a, se2b = va / F.col("na"), vb / F.col("nb")
    return m.select(
        "na",
        "nb",
        F.round(ma, 6).alias("mean_a"),
        F.round(mb, 6).alias("mean_b"),
        F.round((ma - mb) / F.sqrt(se2a + se2b), 6).alias("t_stat"),
        F.round(
            (se2a + se2b) * (se2a + se2b)
            / (se2a * se2a / (F.col("na") - 1) + se2b * se2b / (F.col("nb") - 1)),
            4,
        ).alias("welch_df"),
    )


# ---------------------------------------------------------------------------
# Equi-width histogram profile (the width_bucket pattern): 20 equal
# bins over [min, max] of o_totalprice — the profiling complement to
# the equi-depth percentile_exact. Bounds come from one tiny agg
# broadcast back; bin edges and assignment use the same arithmetic in
# both engines (top value clamped into the last bin).
# ---------------------------------------------------------------------------
@query(
    "histogram_equiwidth",
    oracle="""
    WITH b AS (
      SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders
    ), binned AS (
      SELECT LEAST(CAST(floor((o_totalprice - lo) / ((hi - lo) / 20) ) AS INT), 19) AS bin,
             lo, hi
      FROM orders, b
    )
    SELECT bin,
           ROUND(lo + bin * ((hi - lo) / 20), 4) AS bin_lo,
           ROUND(lo + (bin + 1) * ((hi - lo) / 20), 4) AS bin_hi,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM binned
    GROUP BY bin, lo, hi
    """,
)
def histogram_equiwidth(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    b = o.agg(F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi"))
    w = (F.col("hi") - F.col("lo")) / 20
    binned = o.crossJoin(F.broadcast(b)).select(
        F.least(F.floor((F.col("o_totalprice") - F.col("lo")) / w).cast("int"), F.lit(19)).alias(
            "bin"
        ),
        "lo",
        "hi",
    )
    return binned.groupBy("bin", "lo", "hi").agg(F.count(F.lit(1)).alias("n")).select(
        "bin",
        F.round(F.col("lo") + F.col("bin") * ((F.col("hi") - F.col("lo")) / 20), 4).alias("bin_lo"),
        F.round(F.col("lo") + (F.col("bin") + 1) * ((F.col("hi") - F.col("lo")) / 20), 4).alias(
            "bin_hi"
        ),
        "n",
    )


# ---------------------------------------------------------------------------
# Poisson bootstrap confidence interval (the distributed bootstrap:
# multinomial resampling is unshardable, but Poisson(1) weights are
# independent per row, so each replica is one weighted aggregation —
# the standard web-scale resampling trick). Weights derive from the
# md5 hex grid (deterministic, replayable) through the Poisson(1)
# inverse CDF; per-replica means are exact scaled-long ratios; the CI
# is an exact percentile over the B-row replica relation. One corpus
# scan fans out x B with map-side partial aggregation.
# ---------------------------------------------------------------------------
_POIS_HEX = ("5e2e", "bc5b", "eb72", "fb24", "ff11", "ffda", "fffb")  # ceil(F(k)*65536) as hex, Poisson(1) CDF k=0..6


def _pois_case(u: str) -> str:
    w = f"(CASE WHEN {u} < '{_POIS_HEX[0]}' THEN 0 "
    for k in range(1, len(_POIS_HEX)):
        w += f"WHEN {u} < '{_POIS_HEX[k]}' THEN {k} "
    return w + "ELSE 7 END)"


@query(
    "bootstrap_mean_ci",
    oracle=f"""
    WITH reps AS (
      SELECT o_orderkey,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS vc,
             unnest(range(1, 65)) AS rep
      FROM orders
    ), weighted AS (
      SELECT rep, vc,
             {_pois_case("substr(md5(CAST(o_orderkey AS VARCHAR) || '#' || CAST(rep AS VARCHAR)), 1, 4)")} AS w
      FROM reps
    ), means AS (
      SELECT rep, CAST(SUM(w * vc) AS DOUBLE) / SUM(w) / 100 AS m
      FROM weighted GROUP BY rep HAVING SUM(w) > 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_replicas,
           ROUND(quantile_cont(m, 0.025), 4) AS ci_lo,
           ROUND(quantile_cont(m, 0.5), 4) AS ci_mid,
           ROUND(quantile_cont(m, 0.975), 4) AS ci_hi
    FROM means
    """,
)
def bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    reps = o.select(
        "o_orderkey",
        sl2("o_totalprice").alias("vc"),
        F.explode(F.sequence(F.lit(1), F.lit(64))).alias("rep"),
    )
    u = F.substring(
        F.md5(
            F.concat(F.col("o_orderkey").cast("string"), F.lit("#"), F.col("rep").cast("string"))
        ),
        1,
        4,
    )
    cond = F.when(u < _POIS_HEX[0], 0)
    for k in range(1, len(_POIS_HEX)):
        cond = cond.when(u < _POIS_HEX[k], k)
    w = cond.otherwise(7)
    means = (
        reps.withColumn("w", w)
        .groupBy("rep")
        .agg((F.sum(F.col("w") * F.col("vc")).cast("double") / F.sum("w") / 100).alias("m"))
        .filter(F.col("m").isNotNull())
    )
    return means.agg(
        F.count(F.lit(1)).alias("n_replicas"),
        F.round(F.percentile("m", F.lit(0.025)), 4).alias("ci_lo"),
        F.round(F.percentile("m", F.lit(0.5)), 4).alias("ci_mid"),
        F.round(F.percentile("m", F.lit(0.975)), 4).alias("ci_hi"),
    )


# ---------------------------------------------------------------------------
# Record linkage: fuzzy self-join on entity names within edit
# distance <= 2. The scale shape is BLOCKING before distance: only
# pairs sharing (length, 12-char prefix) reach the Levenshtein
# verify, so the join is a hash equi-join on the block key — never an
# all-pairs distance matrix. Both engines ship the same classic
# Levenshtein.
# ---------------------------------------------------------------------------
@query(
    "fuzzy_name_pairs",
    oracle="""
    WITH s AS (
      SELECT s_suppkey, s_name, length(s_name) AS ln, substr(s_name, 1, 12) AS blk
      FROM supplier
    )
    SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b,
           CAST(levenshtein(a.s_name, b.s_name) AS INT) AS edit_dist
    FROM s a JOIN s b
      ON a.ln = b.ln AND a.blk = b.blk AND a.s_suppkey < b.s_suppkey
    WHERE levenshtein(a.s_name, b.s_name) <= 2
    """,
)
def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        "s_name",
        F.length("s_name").alias("ln"),
        F.substring("s_name", 1, 12).alias("blk"),
    )
    a, b = s.alias("a"), s.alias("b")
    return (
        a.join(
            b,
            (F.col("a.ln") == F.col("b.ln"))
            & (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.s_suppkey") < F.col("b.s_suppkey")),
        )
        .withColumn("edit_dist", F.levenshtein(F.col("a.s_name"), F.col("b.s_name")).cast("int"))
        .filter(F.col("edit_dist") <= 2)
        .select(
            F.col("a.s_suppkey").alias("id_a"),
            F.col("b.s_suppkey").alias("id_b"),
            "edit_dist",
        )
    )


# ---------------------------------------------------------------------------
# Entity resolution END-TO-END: fuzzy_name_pairs' blocked-Levenshtein
# match graph → transitive closure (operators/cluster.py Hash-Min
# connected components, the dedup_clusters machinery on a different
# edge generator) → one entity id (min member key) per supplier, with
# the resolved-entity size. The composition a master-data build runs:
# candidate pairs are blocked (hash equi-join, never all-pairs), the
# closure is iterative-but-bounded (O(log diameter) rounds), and the
# size ride-along is a window over the entity key — each cluster is a
# few records, so no partition holds more than one entity's rows per
# key. Oracle: the same graph closed by a recursive CTE.
# ---------------------------------------------------------------------------
@query(
    "entity_clusters",
    oracle="""
    WITH RECURSIVE s AS (
      SELECT s_suppkey, s_name, length(s_name) AS ln, substr(s_name, 1, 12) AS blk
      FROM supplier
    ), pairs AS (
      SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b
      FROM s a JOIN s b
        ON a.ln = b.ln AND a.blk = b.blk AND a.s_suppkey < b.s_suppkey
      WHERE levenshtein(a.s_name, b.s_name) <= 2
    ), edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b AS a, id_a AS b FROM pairs
    ), reach(v, l) AS (
      SELECT s_suppkey, s_suppkey FROM supplier
      UNION
      SELECT e.a, r.l FROM edges e JOIN reach r ON e.b = r.v
    ), lab AS (
      SELECT v, MIN(l) AS entity_id FROM reach GROUP BY v
    )
    SELECT CAST(v AS BIGINT) AS s_suppkey,
           CAST(entity_id AS BIGINT) AS entity_id,
           CAST(COUNT(*) OVER (PARTITION BY entity_id) AS BIGINT) AS n_members
    FROM lab
    """,
)
def entity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from elective_waiting_times_pipeline_spark.operators.cluster import connected_components

    sup = load_table(spark, sf_dir, "supplier")
    pairs = fuzzy_name_pairs(spark, sf_dir)
    comp = connected_components(pairs, src="id_a", dst="id_b")
    # singletons (no fuzzy match) resolve to themselves
    lab = (
        sup.select(F.col("s_suppkey").cast("long").alias("s_suppkey"))
        .join(comp.withColumnRenamed("v", "s_suppkey"), "s_suppkey", "left")
        .select(
            "s_suppkey",
            F.coalesce(F.col("label"), F.col("s_suppkey")).cast("long").alias("entity_id"),
        )
    )
    w = Window.partitionBy("entity_id")
    return lab.withColumn("n_members", F.count(F.lit(1)).over(w).cast("long"))


# ---------------------------------------------------------------------------
# SURVIVORSHIP on the resolved entities (the golden-record build MDM
# pipelines run after entity_clusters): one row per entity with
# field-level merge rules — canonical name from the ANCHOR (min
# member, the entity id itself), nation from the most-active member
# (max acctbal, ties to the smaller key — picked via one max(struct)
# aggregation, no window), lexicographic-min member name, and the exact
# cents-snapped balance total. All rules are deterministic
# aggregations over the member set, so the merge is one groupBy after
# the closure — no per-entity iteration.
# ---------------------------------------------------------------------------
@query(
    "golden_record_merge",
    oracle="""
    WITH RECURSIVE s AS (
      SELECT s_suppkey, s_name, length(s_name) AS ln, substr(s_name, 1, 12) AS blk
      FROM supplier
    ), pairs AS (
      SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b
      FROM s a JOIN s b
        ON a.ln = b.ln AND a.blk = b.blk AND a.s_suppkey < b.s_suppkey
      WHERE levenshtein(a.s_name, b.s_name) <= 2
    ), edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b AS a, id_a AS b FROM pairs
    ), reach(v, l) AS (
      SELECT s_suppkey, s_suppkey FROM supplier
      UNION
      SELECT e.a, r.l FROM edges e JOIN reach r ON e.b = r.v
    ), lab AS (
      SELECT v AS s_suppkey, CAST(MIN(l) AS BIGINT) AS entity_id FROM reach GROUP BY v
    ), merged AS (
      SELECT entity_id,
             CAST(COUNT(*) AS BIGINT) AS n_members,
             first(sp.s_nationkey ORDER BY sp.s_acctbal DESC, sp.s_suppkey)
               AS nation_best,
             MAX(sp.s_acctbal) AS best_acctbal,
             MIN(sp.s_name) AS name_min,
             CAST(SUM(CAST(floor(sp.s_acctbal * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100
               AS total_acctbal
      FROM lab JOIN supplier sp USING (s_suppkey)
      GROUP BY entity_id
    )
    SELECT m.entity_id, m.n_members, a.s_name AS canonical_name,
           CAST(m.nation_best AS BIGINT) AS nation_best,
           m.best_acctbal, m.name_min, m.total_acctbal
    FROM merged m JOIN supplier a ON a.s_suppkey = m.entity_id
    """,
)
def golden_record_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = load_table(spark, sf_dir, "supplier")
    lab = entity_clusters(spark, sf_dir).select("s_suppkey", "entity_id")
    j = lab.join(sup.withColumn("s_suppkey", F.col("s_suppkey").cast("long")), "s_suppkey")
    # max(struct(acctbal, -key, nation)) == "first nation ORDER BY
    # acctbal DESC, key ASC": ties on acctbal fall to the larger -key,
    # i.e. the smaller member key — deterministic on both engines
    best = F.max(
        F.struct(
            F.col("s_acctbal").alias("a"),
            (-F.col("s_suppkey")).alias("negk"),
            F.col("s_nationkey").alias("n"),
        )
    )
    merged = j.groupBy("entity_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        best.alias("_best"),
        F.min("s_name").alias("name_min"),
        sum2("s_acctbal", "total_acctbal"),
    )
    anchor = sup.select(
        F.col("s_suppkey").cast("long").alias("entity_id"),
        F.col("s_name").alias("canonical_name"),
    )
    return merged.join(anchor, "entity_id").select(
        "entity_id",
        "n_members",
        "canonical_name",
        F.col("_best.n").cast("long").alias("nation_best"),
        F.col("_best.a").alias("best_acctbal"),
        "name_min",
        "total_acctbal",
    )


# ---------------------------------------------------------------------------
# Geometric mean per group (the multiplicative average — price
# indices, growth rates): exp of the mean of micro-snapped logs, so
# the accumulation is an exact integer sum (the ln-snap trick).
# ---------------------------------------------------------------------------
@query(
    "geometric_mean",
    oracle="""
    WITH t AS (
      SELECT o_orderpriority,
             CAST(floor(ln(o_totalprice) * 1000000 + 0.5) AS BIGINT) AS lu
      FROM orders WHERE o_totalprice > 0
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(exp(CAST(SUM(lu) AS DOUBLE) / COUNT(*) / 1000000), 4) AS geo_mean
    FROM t GROUP BY o_orderpriority
    """,
)
def geometric_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    lu = F.floor(F.log("o_totalprice") * 1000000 + 0.5).cast("long")
    return o.select("o_orderpriority", lu.alias("lu")).groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.exp(F.sum("lu").cast("double") / F.count(F.lit(1)) / 1000000), 4).alias(
            "geo_mean"
        ),
    )


# ---------------------------------------------------------------------------
# Deterministic mode per group: most frequent value, ties broken by
# the smaller value (SQL's MODE() leaves tie-breaking to the engine —
# this pins it, SURVEY §7.5 determinism rule). Count agg + one
# max_by over a (group, value)-sized relation.
# ---------------------------------------------------------------------------
@query(
    "mode_per_group",
    oracle="""
    WITH counts AS (
      SELECT c_mktsegment, c_nationkey, COUNT(*) AS n
      FROM customer GROUP BY 1, 2
    ), ranked AS (
      SELECT c_mktsegment, c_nationkey, n,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY n DESC, c_nationkey ASC) AS rk
      FROM counts
    )
    SELECT c_mktsegment, CAST(c_nationkey AS BIGINT) AS mode_nation,
           CAST(n AS BIGINT) AS mode_count
    FROM ranked WHERE rk = 1
    """,
)
def mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    counts = c.groupBy("c_mktsegment", "c_nationkey").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("c_mktsegment").orderBy(F.col("n").desc(), F.col("c_nationkey").asc())
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "c_mktsegment",
            F.col("c_nationkey").cast("long").alias("mode_nation"),
            F.col("n").cast("long").alias("mode_count"),
        )
    )


# ---------------------------------------------------------------------------
# Rank-family completion: percent_rank and cume_dist of each order's
# price within its priority class (ties share ranks in both engines
# by definition — no pinning needed; row identity pinned by orderkey
# in the output). The remaining SQL window functions alongside
# ntile/row_number/rank/lag/lead elsewhere in the catalog.
# ---------------------------------------------------------------------------
@query(
    "price_rank_profile",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
           ROUND(CUME_DIST() OVER w, 6) AS cume_dist
    FROM orders
    WHERE o_orderkey < 2000
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice)
    """,
)
def price_rank_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume_dist"),
    )


# ---------------------------------------------------------------------------
# Benford first-digit profile — the classic fabricated-data /
# corruption screen over a money column (DQ family, alongside
# `dq_report`; SURVEY.md §2.9 F6). First significant digit taken from
# the CENTS integer's decimal string (scaling by 100 never changes
# the leading digit), so no float log10 is evaluated at runtime by
# either engine: the nine Benford expectations are Python-precomputed
# ppm literals embedded identically in both plans, and the observed
# fraction snaps to ppm (floor(1e6·n_d/n + 0.5)) like every other
# boundary in the catalog. One scan, 9-group hash agg, 1-row count
# broadcast.
# ---------------------------------------------------------------------------
_BENFORD_PPM = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}


@query(
    "benford_first_digit",
    oracle=f"""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR),
                         1, 1) AS INT) AS digit
      FROM orders WHERE o_totalprice > 0
    ), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d)
    SELECT digit,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(floor(1000000.0 * COUNT(*) / n + 0.5) AS BIGINT) AS observed_ppm,
           CASE digit {' '.join(f'WHEN {k} THEN {v}' for k, v in _BENFORD_PPM.items())}
           END AS expected_ppm,
           CAST(floor(1000000.0 * COUNT(*) / n + 0.5) AS BIGINT)
             - CASE digit {' '.join(f'WHEN {k} THEN {v}' for k, v in _BENFORD_PPM.items())} END
             AS deviation_ppm
    FROM d, tot
    GROUP BY digit, n
    """,
)
def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digit = F.substring(sl2("o_totalprice").cast("string"), 1, 1).cast("int")
    d = orders.select(digit.alias("digit"))
    tot = d.agg(F.count(F.lit(1)).alias("n"))
    expected = F.lit(None).cast("long")
    for k, v in sorted(_BENFORD_PPM.items(), reverse=True):
        expected = F.when(F.col("digit") == k, F.lit(v).cast("long")).otherwise(expected)
    obs_ppm = F.floor(1000000.0 * F.col("n_orders") / F.col("n") + 0.5).cast("long")
    return (
        d.groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n_orders",
            obs_ppm.alias("observed_ppm"),
            expected.alias("expected_ppm"),
            (obs_ppm - expected).alias("deviation_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# l-diversity report — the companion privacy gate to
# `k_anonymity_report` (catalog_text): k-anonymity bounds the
# equivalence-class SIZE, l-diversity bounds how many distinct values
# of the SENSITIVE attribute each class carries (a class of 50 rows
# that all share one account-balance band still leaks it). QI =
# (nation, market segment); sensitive = coarse acctbal band. Two
# cascaded hash aggs, both map-side combinable; the class count is
# bounded by the QI domain, never the table.
# ---------------------------------------------------------------------------
@query(
    "l_diversity_report",
    oracle="""
    WITH classes AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(COUNT(*) AS BIGINT) AS class_size,
             CAST(COUNT(DISTINCT CASE WHEN c_acctbal < 0 THEN 'neg'
                                      WHEN c_acctbal < 5000 THEN 'mid'
                                      ELSE 'high' END) AS BIGINT) AS l
      FROM customer GROUP BY 1, 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(MIN(l) AS BIGINT) AS min_l,
           CAST(SUM(CASE WHEN l = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_monolithic,
           CAST(SUM(CASE WHEN l = 1 THEN class_size ELSE 0 END) AS BIGINT) AS rows_at_risk,
           ROUND(CAST(SUM(CASE WHEN l = 1 THEN class_size ELSE 0 END) AS DOUBLE)
                 / SUM(class_size), 6) AS at_risk_share
    FROM classes
    """,
)
def l_diversity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    band = (
        F.when(F.col("c_acctbal") < 0, "neg")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("high")
    )
    classes = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("class_size"),
        F.countDistinct(band).alias("l"),
    )
    mono = F.sum(F.when(F.col("l") == 1, 1).otherwise(0))
    risk = F.sum(F.when(F.col("l") == 1, F.col("class_size")).otherwise(0))
    return classes.agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.min("l").alias("min_l"),
        mono.cast("long").alias("n_monolithic"),
        risk.cast("long").alias("rows_at_risk"),
        F.round(risk.cast("double") / F.sum("class_size"), 6).alias("at_risk_share"),
    )


# ---------------------------------------------------------------------------
# Adaptive (hot-key-only) salting — the production refinement of
# skew_salted_agg: a deterministic row-level hash sample detects
# which group keys are hot, ONLY those fan out over the salt, the
# cold tail aggregates directly, and the two partials merge. The
# l_returnflag axis (3 mega-hot values) routes everything through the
# hot path here; correctness never depends on the detector (sum is
# associative — missed hot key = slow, not wrong), which is why the
# plain-SQL oracle can hash-check it.
# ---------------------------------------------------------------------------
@query(
    "skew_adaptive_agg",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS sum_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def skew_adaptive_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from elective_waiting_times_pipeline_spark.operators.skew import adaptive_salted_sum

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", sl2("l_quantity").alias("_q")
    )
    out = adaptive_salted_sum(
        li, ["l_returnflag"], "_q", salt=16, sample_fraction=0.05, hot_min_sampled=20
    )
    return out.select("l_returnflag", (F.col("total") / 100.0).alias("sum_qty"))


# ---------------------------------------------------------------------------
# Null-safe equality join (<=> / IS NOT DISTINCT FROM) — the one join
# semantic the rest of the catalog's equi-joins never exercise: NULL
# keys MATCH each other instead of dropping out. The practical case
# is joining two aggregates whose group key is nullable (here:
# event_type with one value nulled out on each side) without
# coalescing to a sentinel. Spark plans <=> as an ordinary hash join
# on a null-wrapped key — same shuffle shape as plain equality.
# ---------------------------------------------------------------------------
@query(
    "join_null_safe",
    oracle="""
    WITH a AS (
      SELECT nullif(event_type, 'error') AS k, CAST(COUNT(*) AS BIGINT) AS na
      FROM events GROUP BY 1
    ), b AS (
      SELECT nullif(event_type, 'view') AS k, CAST(COUNT(*) AS BIGINT) AS nb
      FROM events GROUP BY 1
    )
    SELECT a.k AS key_a, b.k AS key_b, na, nb
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    a = ev.groupBy(F.nullif(F.col("event_type"), F.lit("error")).alias("ka")).agg(
        F.count(F.lit(1)).alias("na")
    )
    b = ev.groupBy(F.nullif(F.col("event_type"), F.lit("view")).alias("kb")).agg(
        F.count(F.lit(1)).alias("nb")
    )
    return a.join(b, F.col("ka").eqNullSafe(F.col("kb"))).select(
        F.col("ka").alias("key_a"), F.col("kb").alias("key_b"), "na", "nb"
    )


# ---------------------------------------------------------------------------
# Table diff (migration / CDC validation): given two snapshots of a
# keyed table, classify every key as added / removed / changed /
# unchanged — the check run after any backfill, engine swap, or
# replication hop. One full-outer join on the key; the value
# comparison is null-safe (<=>) so NULL-vs-NULL is 'unchanged' and
# NULL-vs-value is 'changed'. The snapshots here derive
# deterministically from orders (B drops keys %97==0, bumps prices on
# %101==0, and adds a shifted key block) so both engines build the
# same pair; the kernel is snapshot-agnostic.
# ---------------------------------------------------------------------------
@query(
    "table_diff_summary",
    oracle="""
    WITH a AS (
      SELECT o_orderkey AS k, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
      FROM orders
    ), b AS (
      SELECT o_orderkey AS k,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
               + CASE WHEN o_orderkey % 101 = 0 THEN 500 ELSE 0 END AS v
      FROM orders WHERE o_orderkey % 97 <> 0
      UNION ALL
      SELECT o_orderkey + 10000000 AS k, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
      FROM orders WHERE o_orderkey % 103 = 0
    )
    SELECT CASE WHEN a.k IS NULL THEN 'added'
                WHEN b.k IS NULL THEN 'removed'
                WHEN a.v IS NOT DISTINCT FROM b.v THEN 'unchanged'
                ELSE 'changed' END AS change_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM a FULL OUTER JOIN b ON a.k = b.k
    GROUP BY 1
    """,
)
def table_diff_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    a = orders.select(F.col("o_orderkey").alias("ka"), sl2("o_totalprice").alias("va"))
    b = orders.filter(F.col("o_orderkey") % 97 != 0).select(
        F.col("o_orderkey").alias("kb"),
        (
            sl2("o_totalprice")
            + F.when(F.col("o_orderkey") % 101 == 0, 500).otherwise(0)
        ).alias("vb"),
    ).unionByName(
        orders.filter(F.col("o_orderkey") % 103 == 0).select(
            (F.col("o_orderkey") + 10000000).alias("kb"),
            sl2("o_totalprice").alias("vb"),
        )
    )
    change = (
        F.when(F.col("ka").isNull(), "added")
        .when(F.col("kb").isNull(), "removed")
        .when(F.col("va").eqNullSafe(F.col("vb")), "unchanged")
        .otherwise("changed")
    )
    return (
        a.join(b, F.col("ka") == F.col("kb"), "full_outer")
        .groupBy(change.alias("change_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Row-level CDC extract — table_diff_summary's actionable complement:
# instead of counting change classes, EMIT the change rows (op I/U/D
# with before/after values) that a downstream merge/upsert applies —
# the derive-a-changefeed-from-snapshots primitive for lakes without
# a transaction log. Same deterministic snapshot pair as the summary;
# one full-outer sort-merge join on the key (bucket both snapshots on
# the key at 100 TB and the exchange disappears), unchanged rows
# filtered before anything leaves the join.
# ---------------------------------------------------------------------------
@query(
    "cdc_extract",
    oracle="""
    WITH a AS (
      SELECT o_orderkey AS k, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
      FROM orders
    ), b AS (
      SELECT o_orderkey AS k,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
               + CASE WHEN o_orderkey % 101 = 0 THEN 500 ELSE 0 END AS v
      FROM orders WHERE o_orderkey % 97 <> 0
      UNION ALL
      SELECT o_orderkey + 10000000 AS k, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
      FROM orders WHERE o_orderkey % 103 = 0
    )
    SELECT COALESCE(a.k, b.k) AS k,
           CASE WHEN a.k IS NULL THEN 'I'
                WHEN b.k IS NULL THEN 'D'
                ELSE 'U' END AS op,
           a.v AS old_cents, b.v AS new_cents
    FROM a FULL OUTER JOIN b ON a.k = b.k
    WHERE a.k IS NULL OR b.k IS NULL OR NOT (a.v IS NOT DISTINCT FROM b.v)
    """,
)
def cdc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    a = orders.select(F.col("o_orderkey").alias("ka"), sl2("o_totalprice").alias("va"))
    b = orders.filter(F.col("o_orderkey") % 97 != 0).select(
        F.col("o_orderkey").alias("kb"),
        (
            sl2("o_totalprice")
            + F.when(F.col("o_orderkey") % 101 == 0, 500).otherwise(0)
        ).alias("vb"),
    ).unionByName(
        orders.filter(F.col("o_orderkey") % 103 == 0).select(
            (F.col("o_orderkey") + 10000000).alias("kb"),
            sl2("o_totalprice").alias("vb"),
        )
    )
    op = (
        F.when(F.col("ka").isNull(), "I")
        .when(F.col("kb").isNull(), "D")
        .otherwise("U")
    )
    return (
        a.join(b, F.col("ka") == F.col("kb"), "full_outer")
        .filter(
            F.col("ka").isNull()
            | F.col("kb").isNull()
            | ~F.col("va").eqNullSafe(F.col("vb"))
        )
        .select(
            F.coalesce(F.col("ka"), F.col("kb")).alias("k"),
            op.alias("op"),
            F.col("va").alias("old_cents"),
            F.col("vb").alias("new_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Order-independent table checksum — the migration-validation op: one
# (row_count, checksum) pair per table snapshot that any engine can
# reproduce, so "did the copy arrive intact" is a 2-value comparison
# instead of a row-level diff. Each row serializes to ONE canonical
# string (exact integers only — cents for money, epoch seconds for
# time: float/locale formatting is where cross-engine checksums die),
# md5s it, and the checksum SUMs the first 8 hex digits as integers —
# addition commutes, so layout and sort order never matter.
# ---------------------------------------------------------------------------
@query(
    "table_checksum",
    oracle="""
    WITH rows_ AS (
      SELECT md5(COALESCE(CAST(o_orderkey AS VARCHAR), chr(1)) || '|'
                 || COALESCE(CAST(o_custkey AS VARCHAR), chr(1)) || '|'
                 || COALESCE(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR), chr(1)) || '|'
                 || COALESCE(CAST(CAST(epoch(o_orderdate) AS BIGINT) AS VARCHAR), chr(1)) || '|'
                 || COALESCE(o_orderstatus, chr(1)) || '|' || COALESCE(o_orderpriority, chr(1))) AS h
      FROM orders
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(('0x' || substr(h, 1, 8)) AS BIGINT)) % 1000000000000000000 AS BIGINT)
             AS checksum
    FROM rows_
    """,
)
def table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from elective_waiting_times_pipeline_spark.operators.quality import (
        order_independent_checksum,
    )

    orders = load_table(spark, sf_dir, "orders")
    return order_independent_checksum(
        orders,
        [
            F.col("o_orderkey"),
            F.col("o_custkey"),
            sl2("o_totalprice"),
            F.unix_timestamp("o_orderdate").cast("long"),
            F.col("o_orderstatus"),
            F.col("o_orderpriority"),
        ],
    )


# ---------------------------------------------------------------------------
# Referential-integrity audit across the whole star schema — the
# cross-TABLE data-quality gate (dq_report checks single-table
# constraints): for every FK edge, how many fact rows point at a
# missing dimension/parent key. Each edge is one LEFT OUTER join
# probing the parent's distinct keys (orphan = unmatched row; dim
# side broadcast when dim-sized, the fact-sized orders<-lineitem edge
# shuffles on the key). NULL FKs count as orphans here — an unset
# mandatory key is exactly what the audit exists to surface.
# ---------------------------------------------------------------------------
@query(
    "fk_integrity_audit",
    oracle="""
    SELECT 'orders.custkey->customer' AS fk_edge,
           CAST(COUNT(*) FILTER (WHERE c.c_custkey IS NULL) AS BIGINT) AS n_orphans,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    UNION ALL
    SELECT 'lineitem.orderkey->orders',
           CAST(COUNT(*) FILTER (WHERE ord.o_orderkey IS NULL) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem l LEFT JOIN orders ord ON l.l_orderkey = ord.o_orderkey
    UNION ALL
    SELECT 'lineitem.partkey->part',
           CAST(COUNT(*) FILTER (WHERE p.p_partkey IS NULL) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
    UNION ALL
    SELECT 'lineitem.suppkey->supplier',
           CAST(COUNT(*) FILTER (WHERE s.s_suppkey IS NULL) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
    UNION ALL
    SELECT 'customer.nationkey->nation',
           CAST(COUNT(*) FILTER (WHERE n.n_nationkey IS NULL) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    """,
)
def fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    def edge(
        name: str,
        fact: DataFrame,
        fk: str,
        dim: DataFrame,
        pk: str,
        broadcast_dim: bool = True,
    ) -> DataFrame:
        # broadcast is an explicit per-edge decision, never inferred
        # from the display label: a fact-sized parent (orders under
        # lineitem) must shuffle, and a silent broadcast of it would
        # OOM at scale
        hit = dim.select(F.col(pk).alias("_pk")).distinct()
        joined = fact.select(F.col(fk).alias("_fk")).join(
            F.broadcast(hit) if broadcast_dim else hit,
            F.col("_fk") == F.col("_pk"),
            "left",
        )
        return joined.agg(
            F.lit(name).alias("fk_edge"),
            # coalesce: an EMPTY fact table must report 0 orphans like
            # the oracle's COUNT(*) FILTER, not NULL
            F.coalesce(
                F.sum(F.when(F.col("_pk").isNull(), 1).otherwise(0)), F.lit(0)
            ).cast("long").alias("n_orphans"),
            F.count(F.lit(1)).alias("n_rows"),
        )

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    customer = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    edges = [
        edge("orders.custkey->customer", orders, "o_custkey", customer, "c_custkey"),
        edge(
            "lineitem.orderkey->orders",
            lineitem,
            "l_orderkey",
            orders,
            "o_orderkey",
            broadcast_dim=False,  # orders is fact-sized
        ),
        edge("lineitem.partkey->part", lineitem, "l_partkey", part, "p_partkey"),
        edge("lineitem.suppkey->supplier", lineitem, "l_suppkey", supplier, "s_suppkey"),
        edge("customer.nationkey->nation", customer, "c_nationkey", nation, "n_nationkey"),
    ]
    out = edges[0]
    for e in edges[1:]:
        out = out.unionByName(e)
    return out


# ---------------------------------------------------------------------------
# Log-scale (powers-of-two) value histogram — money and event values
# are log-normal-ish, so equal-WIDTH bins waste 90% of their buckets
# on the tail; the log2 bucket is the right default view. Float-free:
# the bucket is the BINARY DIGIT COUNT of the cents integer
# (floor(log2)+1), computed as length(base-2 string) in both engines —
# no log() call, no boundary ulp. One scan, ~40-bucket agg.
# ---------------------------------------------------------------------------
@query(
    "log2_value_histogram",
    oracle="""
    WITH b AS (
      SELECT length(bin(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))) AS bucket,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders WHERE o_totalprice > 0
    )
    SELECT CAST(bucket AS INT) AS log2_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(cents) AS DOUBLE) / 100 AS bucket_revenue
    FROM b GROUP BY bucket
    """,
)
def log2_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    cents = sl2("o_totalprice")
    bucket = F.length(F.conv(cents.cast("string"), 10, 2)).cast("int")
    return (
        orders.select(bucket.alias("log2_bucket"), cents.alias("cents"))
        .groupBy("log2_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum("cents").cast("double") / 100).alias("bucket_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Revenue BRIDGE (price/volume decomposition): month-over-month
# Δrevenue split into a volume effect (Δqty at last month's price)
# and a price effect (Δprice at this month's volume) — the standard
# finance walk, per return-flag segment. Monthly qty/revenue are
# exact integer sums; prices are single divisions of those integers;
# the lag rides a (segment)-partitioned window over the bounded month
# axis. Identity: volume_effect + price_effect == Δrevenue exactly in
# real arithmetic — the test checks it to rounding.
# ---------------------------------------------------------------------------
@query(
    "revenue_bridge",
    oracle="""
    WITH monthly AS (
      SELECT l_returnflag AS seg, date_trunc('month', l_shipdate) AS mon,
             CAST(SUM(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) AS qc,
             CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rc
      FROM lineitem GROUP BY 1, 2
    ), lagged AS (
      SELECT seg, mon, qc, rc,
             LAG(qc) OVER (PARTITION BY seg ORDER BY mon) AS pqc,
             LAG(rc) OVER (PARTITION BY seg ORDER BY mon) AS prc
      FROM monthly
    )
    SELECT seg AS segment, mon AS month,
           ROUND((CAST(rc AS DOUBLE) - CAST(prc AS DOUBLE)) / 100, 6) AS delta_revenue,
           ROUND((CAST(qc AS DOUBLE) - CAST(pqc AS DOUBLE))
                 * (CAST(prc AS DOUBLE) / CAST(pqc AS DOUBLE)) / 100, 6) AS volume_effect,
           ROUND((CAST(rc AS DOUBLE) / CAST(qc AS DOUBLE)
                  - CAST(prc AS DOUBLE) / CAST(pqc AS DOUBLE))
                 * CAST(qc AS DOUBLE) / 100, 6) AS price_effect
    FROM lagged WHERE pqc IS NOT NULL AND pqc > 0 AND qc > 0
    """,
)
def revenue_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    monthly = li.groupBy(
        F.col("l_returnflag").alias("seg"),
        F.date_trunc("MONTH", "l_shipdate").alias("mon"),
    ).agg(F.sum(sl2("l_quantity")).alias("qc"), F.sum(sl2("l_extendedprice")).alias("rc"))
    w = Window.partitionBy("seg").orderBy("mon")
    lagged = monthly.select(
        "seg",
        "mon",
        "qc",
        "rc",
        F.lag("qc").over(w).alias("pqc"),
        F.lag("rc").over(w).alias("prc"),
    ).filter(F.col("pqc").isNotNull() & (F.col("pqc") > 0) & (F.col("qc") > 0))
    qc, rc = F.col("qc").cast("double"), F.col("rc").cast("double")
    pqc, prc = F.col("pqc").cast("double"), F.col("prc").cast("double")
    return lagged.select(
        F.col("seg").alias("segment"),
        F.col("mon").alias("month"),
        F.round((rc - prc) / 100, 6).alias("delta_revenue"),
        F.round((qc - pqc) * (prc / pqc) / 100, 6).alias("volume_effect"),
        F.round((rc / qc - prc / pqc) * qc / 100, 6).alias("price_effect"),
    )


# ---------------------------------------------------------------------------
# Fulfillment-lag percentiles: order date → line-item ship date, p50/
# p90/max days per order priority — the SLA view of the order
# pipeline. One fact-fact join on the order key (both sides shuffle
# on it; bucket both at 100 TB and the exchange disappears), lags as
# exact integer day counts, percentiles via the proven
# F.percentile == quantile_cont pairing.
# ---------------------------------------------------------------------------
@query(
    "fulfillment_lag_percentiles",
    oracle="""
    WITH lag_days AS (
      SELECT o.o_orderpriority AS priority,
             CAST(date_diff('day', o.o_orderdate, l.l_shipdate) AS BIGINT) AS d
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    )
    SELECT priority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           ROUND(quantile_cont(CAST(d AS DOUBLE), 0.5), 4) AS p50_days,
           ROUND(quantile_cont(CAST(d AS DOUBLE), 0.9), 4) AS p90_days,
           CAST(MAX(d) AS BIGINT) AS max_days
    FROM lag_days GROUP BY priority
    """,
)
def fulfillment_lag_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    j = o.join(li, o.o_orderkey == li.l_orderkey).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff("l_shipdate", "o_orderdate").cast("long").alias("d"),
    )
    return j.groupBy("priority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.percentile(F.col("d").cast("double"), F.lit(0.5)), 4).alias("p50_days"),
        F.round(F.percentile(F.col("d").cast("double"), F.lit(0.9)), 4).alias("p90_days"),
        F.max("d").alias("max_days"),
    )


# ---------------------------------------------------------------------------
# Rolling 7-day median of daily revenue — the windowed-QUANTILE form
# of rolling_mean_1h (means compose map-side; medians don't, so the
# rolling frame materializes as a sorted array). The corpus collapses
# to ONE ROW PER DAY first, so the unpartitioned range window runs on
# the bounded calendar-day axis (whitelisted in the plan lint), never
# on raw orders. Day revenues are exact cent sums; the median of an
# even frame is (a+b)/2 — a+b is an exact long, /2.0 and /100 are two
# correctly-rounded double ops both engines replay. Oracle avoids
# window-list ordering (version-sensitive, see survival_conversion)
# by building each frame with a 7-day self-join + ORDER BY inside the
# list aggregate — ordering guaranteed by SQL semantics.
# ---------------------------------------------------------------------------
@query(
    "rolling_median_7d",
    oracle="""
    WITH d AS (
      SELECT date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) AS day_idx,
             MIN(CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP)) AS day,
             CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_c
      FROM orders GROUP BY 1
    ), frames AS (
      SELECT d1.day_idx, MIN(d1.day) AS day,
             list(d2.rev_c ORDER BY d2.rev_c) AS vs
      FROM d d1 JOIN d d2 ON d2.day_idx BETWEEN d1.day_idx - 6 AND d1.day_idx
      GROUP BY d1.day_idx
    )
    SELECT day, CAST(len(vs) AS BIGINT) AS n_days,
           CASE WHEN len(vs) % 2 = 1 THEN CAST(vs[(len(vs) + 1) // 2] AS DOUBLE) / 100
                ELSE (CAST(vs[len(vs) // 2] AS DOUBLE) + vs[len(vs) // 2 + 1]) / 2 / 100
           END AS median_rev
    FROM frames
    """,
)
def rolling_median_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    day = F.to_date("o_orderdate")
    # day emitted as TIMESTAMP, not DATE: Spark DateType surfaces as
    # python date objects through Arrow while DuckDB DATE surfaces as
    # datetime64 — a representation-sensitive value hash would fail on
    # dtype alone (the survival_conversion HUGEINT failure class;
    # caught by the catalog-wide strict sweep, scripts/preflight_window.py)
    d = o.groupBy(F.datediff(day, F.lit("1990-01-01")).alias("day_idx")).agg(
        F.min(day).cast("timestamp").alias("day"),
        F.sum(sl2("o_totalprice")).alias("rev_c"),
    )
    w = Window.orderBy("day_idx").rangeBetween(-6, 0)
    vs = F.array_sort(F.collect_list("rev_c").over(w))
    n = F.size(vs)
    med = F.when(
        n % 2 == 1, F.element_at(vs, ((n + 1) / 2).cast("int")).cast("double") / 100
    ).otherwise(
        (
            F.element_at(vs, (n / 2).cast("int")).cast("double")
            + F.element_at(vs, (n / 2).cast("int") + 1)
        )
        / 2
        / 100
    )
    return d.select("day", n.cast("long").alias("n_days"), med.alias("median_rev"))


# ---------------------------------------------------------------------------
# Exact weighted median (lower) of line price weighted by quantity,
# per return flag — the robust per-group location statistic
# weighted.mean can't give you. Scale-safe shape: collapse to the
# DISTINCT (flag, price) axis with summed weights (one hash agg),
# then the range-bucketed running weight (sampling.ordered_prefix —
# per-bucket windows + broadcast offsets, never a group-sized
# window); the median is the smallest value whose doubled cumulative
# weight reaches the group total. All comparisons on exact integers.
# ---------------------------------------------------------------------------
@query(
    "weighted_median_value",
    headline=True,
    oracle="""
    WITH v AS (
      SELECT l_returnflag AS flag,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS val,
             CAST(SUM(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS w
      FROM lineitem GROUP BY 1, 2
    ), c AS (
      SELECT flag, val, w,
             SUM(w) OVER (PARTITION BY flag ORDER BY val
                          ROWS UNBOUNDED PRECEDING) AS cw,
             SUM(w) OVER (PARTITION BY flag) AS tw
      FROM v
    )
    SELECT flag,
           CAST(MIN(CASE WHEN 2 * cw >= tw THEN val END) AS DOUBLE) / 100
             AS weighted_median,
           CAST(MAX(tw) AS BIGINT) AS total_weight
    FROM c GROUP BY flag
    """,
)
def weighted_median_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from elective_waiting_times_pipeline_spark.operators import sampling as S

    li = load_table(spark, sf_dir, "lineitem")
    # checkpoint the narrow distinct-value axis: the cut-points sample
    # and the rank plan would otherwise EACH recompute the fact-table
    # aggregation (the curriculum_order pattern)
    v = (
        li.groupBy(
            F.col("l_returnflag").alias("flag"),
            sl2("l_extendedprice").alias("val"),
        )
        .agg(F.sum(F.floor(F.col("l_quantity") + 0.5).cast("long")).alias("w"))
        .localCheckpoint(eager=False)
    )
    # ordered_prefix samples its cut points from a 4096-row hash sample
    # of the axis (bounded heap); the group total weight rides the offsets
    # side relation, so the checkpoint has exactly two consumers — the
    # sample action that materializes it and the rank plan
    c = S.value_prefix(
        v,
        "val",
        group_cols=["flag"],
        weight="w",
        out_prefix="cw",
        out_total_weight="tw",
        offsets_from_source=True,
    )
    return (
        c.groupBy("flag").agg(
            (
                F.min(F.when(2 * F.col("cw") >= F.col("tw"), F.col("val"))).cast("double")
                / 100
            ).alias("weighted_median"),
            F.max("tw").cast("long").alias("total_weight"),
        )
    )


# ---------------------------------------------------------------------------
# 2-D Pareto frontier (skyline): parts not dominated on (cheaper
# price, larger size) — dominance = other.price <= p AND other.size
# >= s AND strictly better on at least one. The naive skyline is a
# quadratic NOT EXISTS self-join; the scale form collapses to the
# DISTINCT price axis (max size per price), takes a running max of
# size over strictly-cheaper prices with the range-bucketed prefix
# machinery (per-bucket windows + a <=64-row broadcast cummax of
# bucket offsets — the `_bk` shape the plan lint recognizes), and
# keeps rows beaten by neither the strictly-cheaper running max nor a
# strictly-larger same-price max. Price compares are raw parquet
# doubles — no arithmetic, bit-identical on both engines.
# ---------------------------------------------------------------------------
@query(
    "pareto_front_2d",
    oracle="""
    SELECT p_partkey, p_retailprice, p_size
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
        AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
    )
    """,
)
def pareto_front_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    from elective_waiting_times_pipeline_spark.operators import sampling as S

    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_retailprice", "p_size")
    axis = p.groupBy("p_retailprice").agg(F.max("p_size").alias("msz"))
    cuts = S.range_cut_points(axis, "p_retailprice")
    b = axis.withColumn(
        "_bk", S.range_bucket("p_retailprice", cuts).cast("long")
    )
    # within-bucket running max over strictly-preceding prices (the
    # axis has one row per price, so ROWS ... -1 == "prices < mine")
    win = (
        Window.partitionBy("_bk")
        .orderBy("p_retailprice")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = b.withColumn("_inmax", F.max("msz").over(win))
    owin = S._bucket_axis([]).rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        b.groupBy("_bk")
        .agg(F.max("msz").alias("_bmax"))
        .withColumn("_omax", F.max("_bmax").over(owin))
        .select("_bk", "_omax")
    )
    # "no strictly-cheaper price exists" coalesces to the typed LONG
    # minimum, not a magic sentinel — the pattern stays correct for
    # zero/negative measure columns, not just p_size > 0
    lo = F.lit(-(2**63)).cast("long")
    runmax = ranked.join(F.broadcast(offsets), "_bk").select(
        "p_retailprice",
        "msz",
        F.greatest(
            F.coalesce(F.col("_inmax").cast("long"), lo),
            F.coalesce(F.col("_omax").cast("long"), lo),
        ).alias("runmax_lt"),
    )
    return (
        p.join(runmax, "p_retailprice")
        .filter(
            ~(
                (F.col("runmax_lt") >= F.col("p_size"))
                | (F.col("msz") > F.col("p_size"))
            )
        )
        .select("p_partkey", "p_retailprice", "p_size")
    )


# ---------------------------------------------------------------------------
# Smoothed target encoding (the ML-prep categorical encoder): each
# market segment mapped to (sum_target + m·prior)/(n + m) with m=20
# and prior = the global mean — the shrinkage form that keeps rare
# categories from memorizing their few labels. Everything up to the
# final division is exact cent integers (decimal(38,0) sums); the
# encoded value divides once, in the same op order on both engines.
# Two hash aggs + a broadcast 1-row prior; at 100 TB the encoder
# output is |categories| rows — the fact table is touched once.
# ---------------------------------------------------------------------------
@query(
    "target_encode_smoothed",
    oracle="""
    WITH j AS (
      SELECT c_mktsegment AS segment,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS t
      FROM orders JOIN customer ON o_custkey = c_custkey
    ), seg AS (
      SELECT segment, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(t) AS HUGEINT) AS s
      FROM j GROUP BY segment
    ), g AS (
      SELECT CAST(SUM(n) AS BIGINT) AS gn, CAST(SUM(s) AS HUGEINT) AS gs FROM seg
    )
    SELECT segment, n,
           ROUND((CAST(s AS DOUBLE) + 20 * (CAST(gs AS DOUBLE) / gn)) / (n + 20) / 100, 6)
             AS target_enc
    FROM seg, g
    """,
)
def target_encode_smoothed(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_custkey", sl2("o_totalprice").alias("t"))
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"), "t"
    )
    seg = j.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.col("t").cast("decimal(38,0)")).alias("s")
    )
    g = seg.agg(F.sum("n").alias("gn"), F.sum("s").alias("gs"))
    return seg.crossJoin(F.broadcast(g)).select(
        "segment",
        "n",
        F.round(
            (F.col("s").cast("double") + 20 * (F.col("gs").cast("double") / F.col("gn")))
            / (F.col("n") + 20)
            / 100,
            6,
        ).alias("target_enc"),
    )


# ---------------------------------------------------------------------------
# Bot-regularity flags — automated traffic fires on a clock, so the
# inter-arrival gaps of a bot have an unnaturally low coefficient of
# variation. Per user (>= 5 events): consecutive gaps in exact
# epoch-micros from a per-key lag window, then mean and variance from
# decimal(38,0) moment sums (a gap² at 10^12 µs² times 10^9 rows
# leaves int64 — same discipline as ab_test_welch). The flag compares
# VARIANCE AGAINST MEAN² IN EXACT INTEGER ARITHMETIC — cv < 0.1 ⇔
# var_samp < mean²/100 ⇔ (n·Σg² − (Σg)²)/(n·(n−1)) < (Σg)²/(100·n²)
# ⇔ 100·n·(n·Σg² − (Σg)²) < (Σg)²·(n−1), cross-multiplied so no float
# ever decides a row. The reported mean gap snaps to integer µs
# (floor(s/n + 0.5): one correctly-rounded divide + floor, identical
# on both engines) before the single display division.
# ---------------------------------------------------------------------------
@query(
    "bot_regularity_flags",
    oracle="""
    WITH g AS (
      SELECT user_id,
             epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS gap
      FROM events
    ), m AS (
      SELECT user_id, CAST(COUNT(gap) AS BIGINT) AS n,
             CAST(SUM(gap) AS HUGEINT) AS s,
             CAST(SUM(CAST(gap AS HUGEINT) * gap) AS HUGEINT) AS ss
      FROM g WHERE gap IS NOT NULL GROUP BY user_id
    )
    SELECT user_id, n + 1 AS n_events,
           floor(CAST(s AS DOUBLE) / n + 0.5) / 1000000 AS mean_gap_s,
           (100 * n * (n * ss - s * s)) < (s * s * (n - 1)) AS is_bot_like
    FROM m WHERE n >= 4
    """,
)
def bot_regularity_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.select("user_id", (us - F.lag(us).over(w)).alias("gap")).filter(
        F.col("gap").isNotNull()
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = g.groupBy("user_id").agg(
        F.count("gap").alias("n"),
        F.sum(dec("gap")).alias("s"),
        F.sum(dec("gap") * dec("gap")).alias("ss"),
    )
    return m.filter(F.col("n") >= 4).select(
        "user_id",
        (F.col("n") + 1).cast("long").alias("n_events"),
        (F.floor(F.col("s").cast("double") / F.col("n") + 0.5) / 1000000).alias(
            "mean_gap_s"
        ),
        (
            100 * dec("n") * (dec("n") * F.col("ss") - F.col("s") * F.col("s"))
            < F.col("s") * F.col("s") * (dec("n") - 1)
        ).alias("is_bot_like"),
    )


# ---------------------------------------------------------------------------
# 10% two-sided trimmed mean of line price per return flag — the
# robust location estimator between mean (outlier-fragile) and median
# (throws away 98% of the data). Exact row-count trimming: drop the
# n div 10 cheapest and priciest rows per group under a TOTAL order
# (val, orderkey, linenumber) so both engines cut identical rows.
# Scale shape: the per-group rank comes from sampling.ordered_prefix
# (range-bucketed windows + broadcast offsets — never a group-sized
# sort; the 3-flag groups are corpus-sized), positions and group
# totals ride the same side relation, and the kept rows reduce with
# one exact cent-sum hash agg. The single display division runs in the
# same op order on both engines.
# ---------------------------------------------------------------------------
@query(
    "trimmed_mean_price",
    headline=True,
    oracle="""
    WITH v AS (
      SELECT l_returnflag AS flag,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS val,
             l_orderkey, l_linenumber
      FROM lineitem
    ), r AS (
      SELECT flag, val,
             ROW_NUMBER() OVER (PARTITION BY flag
                                ORDER BY val, l_orderkey, l_linenumber) AS pos,
             COUNT(*) OVER (PARTITION BY flag) AS n
      FROM v
    )
    SELECT flag, CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(val) AS DOUBLE) / COUNT(*) / 100 AS trimmed_mean
    FROM r
    WHERE pos > n // 10 AND pos <= n - n // 10
    GROUP BY flag
    """,
)
def trimmed_mean_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    from elective_waiting_times_pipeline_spark.operators import sampling as S

    li = load_table(spark, sf_dir, "lineitem")
    # collapse to the DISTINCT (flag, val) axis with multiplicities:
    # rows inside a tie group are interchangeable (equal val), so
    # trimming k rows BY COUNT — taking min(cnt, k − prefix) from the
    # boundary group — removes exactly the same value mass as the
    # oracle's per-row rank trim under any tie order. One fact-table
    # hash agg; everything after runs on the axis (the
    # weighted_median_value shape — measured 14.6× at ×100 for the
    # row-ranked form vs the axis form's fact-agg-bound cost)
    v = (
        li.groupBy(F.col("l_returnflag").alias("flag"), sl2("l_extendedprice").alias("val"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)  # cut-points sample + prefix plan share one agg
    )
    c = S.value_prefix(
        v,
        "val",
        group_cols=["flag"],
        weight="cnt",
        out_prefix="cw",
        out_total_weight="n",
        offsets_from_source=True,
    )
    k = F.expr("n div 10")
    cwp = F.col("cw") - F.col("cnt")  # exclusive prefix count
    low_take = F.when(cwp < k, F.least(F.col("cnt"), k - cwp)).otherwise(F.lit(0))
    high_take = F.when(
        F.col("cw") > F.col("n") - k,
        F.least(F.col("cnt"), F.col("cw") - (F.col("n") - k)),
    ).otherwise(F.lit(0))
    kept = F.col("cnt") - low_take - high_take
    return (
        c.groupBy("flag")
        .agg(
            F.sum(kept).cast("long").alias("n_kept"),
            F.sum(F.col("val") * kept).cast("long").alias("_ksum"),
        )
        .select(
            "flag",
            "n_kept",
            (F.col("_ksum").cast("double") / F.col("n_kept") / 100).alias("trimmed_mean"),
        )
    )


# ---------------------------------------------------------------------------
# Largest-remainder apportionment: allocate a fixed budget of 1000
# units across customer nations proportionally to order revenue —
# floor each exact quota, then hand the leftover units to the largest
# remainders (Hamilton's method, the standard for seats / quota /
# budget splits). All-integer arithmetic: revenue in cents as
# decimal(38,0) / HUGEINT so 1000·rev never overflows at any SF, the
# quota floor via integral `div`, and the remainder derived as
# 1000·rev − base·total (no engine-specific mod semantics). Scale
# shape: one fact agg to the 25-nation axis; the grand total is a
# broadcast 1-row cross join; the remainder rank is an unpartitioned
# window over the bounded nation axis (lint-whitelisted).
# ---------------------------------------------------------------------------
@query(
    "seat_apportionment",
    oracle="""
    WITH t AS (
      SELECT n.n_nationkey AS nk, n.n_name AS nation,
             CAST(SUM(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS HUGEINT) AS rev
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2
    ), g AS (SELECT SUM(rev) AS tot FROM t),
    b AS (
      SELECT nk, nation, (1000 * rev) // tot AS base,
             1000 * rev - ((1000 * rev) // tot) * tot AS rem
      FROM t, g
    ), l AS (SELECT 1000 - SUM(base) AS leftover FROM b)
    SELECT nation,
           CAST(base + CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, nk) <= leftover
                            THEN 1 ELSE 0 END AS BIGINT) AS seats
    FROM b, l
    """,
)
def seat_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    ords = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    t = (
        ords.join(cust, ords["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nat), cust["c_nationkey"] == nat["n_nationkey"])
        .groupBy(F.col("n_nationkey").alias("nk"), F.col("n_name").alias("nation"))
        .agg(F.sum(sl2("o_totalprice")).cast("decimal(38,0)").alias("rev"))
    )
    g = t.agg(F.sum("rev").alias("tot"))
    b = t.crossJoin(F.broadcast(g)).select(
        "nk",
        "nation",
        F.expr("(CAST(1000 AS DECIMAL(38,0)) * rev) div tot").alias("base"),
        F.expr(
            "CAST(1000 AS DECIMAL(38,0)) * rev"
            " - ((CAST(1000 AS DECIMAL(38,0)) * rev) div tot) * tot"
        ).alias("rem"),
    )
    left = b.agg((F.lit(1000) - F.sum("base")).alias("leftover"))
    rk = F.row_number().over(Window.orderBy(F.col("rem").desc(), F.col("nk")))
    return (
        b.crossJoin(F.broadcast(left))
        .withColumn("_rk", rk)
        .select(
            "nation",
            (
                F.col("base")
                + F.when(F.col("_rk") <= F.col("leftover"), 1).otherwise(0)
            )
            .cast("long")
            .alias("seats"),
        )
    )


# ---------------------------------------------------------------------------
# Floor-clamped running inventory balance per supplier: returns add
# stock (+qty), shipments draw it down (−qty), and the balance can
# never go below zero — b_t = max(0, b_{t-1} + d_t), a NON-ASSOCIATIVE
# sequential recurrence. Rather than a per-key loop (applyInPandas),
# it uses the closed form b_t = S_t − min(0, min_{k≤t} S_k) over the
# plain prefix sums S, which IS window-expressible: one per-supplier
# window pass (running sum + running min share a single Window
# exchange), then a hash agg for the final/peak balances. The identity
# is pinned against a naive sequential loop by a hypothesis property
# test (a two-sided cap [0, C] has no such closed form — that variant
# would genuinely need per-key stateful code). Scale shape: windows
# are partitioned by supplier (TPC-H rows-per-supplier is constant in
# SF — bounded partitions), everything is exact integer arithmetic.
# ---------------------------------------------------------------------------
@query(
    "capped_running_balance",
    oracle="""
    WITH d AS (
      SELECT l_suppkey AS suppkey,
             CAST(CASE WHEN l_returnflag = 'R' THEN l_quantity
                       ELSE -l_quantity END AS BIGINT) AS delta,
             l_shipdate, l_orderkey, l_linenumber
      FROM lineitem
    ), p AS (
      SELECT suppkey, delta, l_shipdate, l_orderkey, l_linenumber,
             SUM(delta) OVER w AS rs
      FROM d
      WINDOW w AS (PARTITION BY suppkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber
                   ROWS UNBOUNDED PRECEDING)
    ), s AS (
      SELECT suppkey, delta, rs,
             LEAST(0, MIN(rs) OVER w) AS adj
      FROM p
      WINDOW w AS (PARTITION BY suppkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber
                   ROWS UNBOUNDED PRECEDING)
    )
    SELECT suppkey, CAST(COUNT(*) AS BIGINT) AS n_moves,
           CAST(SUM(delta) - LEAST(0, MIN(rs)) AS BIGINT) AS final_balance,
           CAST(MAX(rs - adj) AS BIGINT) AS peak_balance
    FROM s GROUP BY suppkey
    """,
)
def capped_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    delta = (
        F.when(F.col("l_returnflag") == "R", F.col("l_quantity"))
        .otherwise(-F.col("l_quantity"))
        .cast("long")
    )
    w = (
        Window.partitionBy("suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rows = (
        li.select(
            F.col("l_suppkey").alias("suppkey"),
            delta.alias("delta"),
            "l_shipdate",
            "l_orderkey",
            "l_linenumber",
        )
        .withColumn("rs", F.sum("delta").over(w))
        .withColumn(
            "b",
            F.col("rs") - F.least(F.lit(0).cast("long"), F.min("rs").over(w)),
        )
    )
    return rows.groupBy("suppkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_moves"),
        (F.sum("delta") - F.least(F.lit(0).cast("long"), F.min("rs")))
        .cast("long")
        .alias("final_balance"),
        F.max("b").cast("long").alias("peak_balance"),
    )


# ---------------------------------------------------------------------------
# 10% two-sided WINSORIZED mean of line price per return flag — the
# companion to trimmed_mean_price that clamps the tails to the fence
# order statistics instead of dropping them. Fences are exact order
# statistics (lo = value at rank k+1, hi = value at rank n-k, k =
# n div 10), so rank-winsorization equals value-clamping even when a
# tie group straddles a fence (rows at pos <= k with val == lo are
# assigned their own value either way). Scale shape: the same
# distinct-(flag,val) axis + ordered_prefix machinery as
# trimmed_mean_price; the fences reduce to a 3-row relation that
# broadcast-joins back onto the axis, and the clamped sum is one exact
# cent hash agg — the fact table is touched once.
# ---------------------------------------------------------------------------
@query(
    "winsorized_mean_price",
    oracle="""
    WITH v AS (
      SELECT l_returnflag AS flag,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS val
      FROM lineitem
    ), r AS (
      SELECT flag, val,
             ROW_NUMBER() OVER (PARTITION BY flag ORDER BY val) AS pos,
             COUNT(*) OVER (PARTITION BY flag) AS n
      FROM v
    ), f AS (
      SELECT flag, CAST(MAX(n) AS BIGINT) AS n,
             MIN(CASE WHEN pos >= n // 10 + 1 THEN val END) AS lo,
             MIN(CASE WHEN pos >= n - n // 10 THEN val END) AS hi
      FROM r GROUP BY flag
    )
    SELECT r.flag, f.n AS n_rows,
           CAST(SUM(GREATEST(LEAST(r.val, f.hi), f.lo)) AS DOUBLE) / f.n / 100
             AS winsorized_mean
    FROM r JOIN f ON r.flag = f.flag
    GROUP BY r.flag, f.n
    """,
)
def winsorized_mean_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    from elective_waiting_times_pipeline_spark.operators import sampling as S

    li = load_table(spark, sf_dir, "lineitem")
    v = (
        li.groupBy(F.col("l_returnflag").alias("flag"), sl2("l_extendedprice").alias("val"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    c = S.value_prefix(
        v,
        "val",
        group_cols=["flag"],
        weight="cnt",
        out_prefix="cw",
        out_total_weight="n",
        offsets_from_source=True,
    )
    k = F.expr("n div 10")
    fences = c.groupBy("flag").agg(
        F.max("n").cast("long").alias("n_rows"),
        F.min(F.when(F.col("cw") >= k + 1, F.col("val"))).alias("lo"),
        F.min(F.when(F.col("cw") >= F.col("n") - k, F.col("val"))).alias("hi"),
    )
    clamped = F.greatest(F.least(F.col("val"), F.col("hi")), F.col("lo"))
    return (
        c.join(F.broadcast(fences), "flag")
        .groupBy("flag", "n_rows")
        .agg(F.sum(clamped * F.col("cnt")).cast("long").alias("_wsum"))
        .select(
            "flag",
            "n_rows",
            (F.col("_wsum").cast("double") / F.col("n_rows") / 100).alias(
                "winsorized_mean"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Monetary-unit sampling (dollar-unit audit sampling): walk the
# cumulative cent total of lineitem in (orderkey, linenumber) order
# and keep every row a $10M lattice point lands on — selection
# probability proportional to line value, the estimator auditors and
# spend-weighted data-quality checks use. Fully deterministic (fixed
# lattice, no random start) so both engines pick identical rows.
# Scale shape: the global running total is the range-bucketed
# distributed prefix over the orderkey axis (per-bucket windows +
# broadcast offsets — no single-task global window); the lattice test
# is exact integer division on long cents.
# ---------------------------------------------------------------------------
_MUS_STEP_CENTS = 1_000_000_000  # $10M between lattice points


@query(
    "monetary_unit_sample",
    oracle=f"""
    WITH v AS (
      SELECT l_orderkey, l_linenumber,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
      FROM lineitem
    ), c AS (
      SELECT l_orderkey, l_linenumber, cents,
             CAST(SUM(cents) OVER (ORDER BY l_orderkey, l_linenumber
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw
      FROM v
    )
    SELECT l_orderkey, l_linenumber, cents,
           cw // {_MUS_STEP_CENTS} AS dollar_unit
    FROM c
    WHERE cw // {_MUS_STEP_CENTS} > (cw - cents) // {_MUS_STEP_CENTS}
    """,
)
def monetary_unit_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from elective_waiting_times_pipeline_spark.operators import sampling as S

    li = load_table(spark, sf_dir, "lineitem")
    v = li.select(
        "l_orderkey", "l_linenumber", sl2("l_extendedprice").alias("cents")
    ).localCheckpoint(eager=False)  # cut-points sample + prefix plan share one scan
    c = S.value_prefix(
        v,
        "l_orderkey",
        ["l_linenumber"],
        weight="cents",
        out_prefix="cw",
        offsets_from_source=True,
    )
    return (
        c.withColumn("dollar_unit", F.expr(f"cw div {_MUS_STEP_CENTS}").cast("long"))
        .filter(F.col("dollar_unit") > F.expr(f"(cw - cents) div {_MUS_STEP_CENTS}"))
        .select("l_orderkey", "l_linenumber", "cents", "dollar_unit")
    )


# ---------------------------------------------------------------------------
# Exact weighted 90th percentile (lower) of line price weighted by
# quantity per return flag — weighted_median_value generalized to an
# arbitrary quantile: the smallest value whose cumulative weight
# reaches 90% of the group total, decided as 10·cw >= 9·tw in exact
# longs. Same scale shape: distinct-(flag, val) axis, sampled cut
# points, range-bucketed running weight, totals riding the offsets
# side relation.
# ---------------------------------------------------------------------------
@query(
    "weighted_p90_value",
    oracle="""
    WITH v AS (
      SELECT l_returnflag AS flag,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS val,
             CAST(SUM(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS w
      FROM lineitem GROUP BY 1, 2
    ), c AS (
      SELECT flag, val, w,
             SUM(w) OVER (PARTITION BY flag ORDER BY val
                          ROWS UNBOUNDED PRECEDING) AS cw,
             SUM(w) OVER (PARTITION BY flag) AS tw
      FROM v
    )
    SELECT flag,
           CAST(MIN(CASE WHEN 10 * cw >= 9 * tw THEN val END) AS DOUBLE) / 100
             AS weighted_p90,
           CAST(MAX(tw) AS BIGINT) AS total_weight
    FROM c GROUP BY flag
    """,
)
def weighted_p90_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from elective_waiting_times_pipeline_spark.operators import sampling as S

    li = load_table(spark, sf_dir, "lineitem")
    v = (
        li.groupBy(
            F.col("l_returnflag").alias("flag"),
            sl2("l_extendedprice").alias("val"),
        )
        .agg(F.sum(F.floor(F.col("l_quantity") + 0.5).cast("long")).alias("w"))
        .localCheckpoint(eager=False)
    )
    c = S.value_prefix(
        v,
        "val",
        group_cols=["flag"],
        weight="w",
        out_prefix="cw",
        out_total_weight="tw",
        offsets_from_source=True,
    )
    return c.groupBy("flag").agg(
        (
            F.min(F.when(10 * F.col("cw") >= 9 * F.col("tw"), F.col("val"))).cast("double")
            / 100
        ).alias("weighted_p90"),
        F.max("tw").cast("long").alias("total_weight"),
    )


# ---------------------------------------------------------------------------
# Tukey IQR outlier fences per return flag: q1/q3 as exact lower
# quartiles over the distinct-(flag, price) axis (4·cw >= tw /
# 4·cw >= 3·tw in longs), then the 1.5·IQR fences decided WITHOUT any
# float: 2·val < 2·q1 − 3·iqr (below) or 2·val > 2·q3 + 3·iqr (above)
# — the halves clear exactly because everything is integer cents. Two
# passes over the AXIS (quartiles, then the outlier count re-joins the
# axis), the fact table is touched once by the collapsing agg.
# ---------------------------------------------------------------------------
@query(
    "iqr_outlier_fences",
    oracle="""
    WITH v AS (
      SELECT l_returnflag AS flag,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS val,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY 1, 2
    ), c AS (
      SELECT flag, val, cnt,
             SUM(cnt) OVER (PARTITION BY flag ORDER BY val
                            ROWS UNBOUNDED PRECEDING) AS cw,
             SUM(cnt) OVER (PARTITION BY flag) AS tw
      FROM v
    ), q AS (
      SELECT flag,
             MIN(CASE WHEN 4 * cw >= tw THEN val END) AS q1,
             MIN(CASE WHEN 4 * cw >= 3 * tw THEN val END) AS q3
      FROM c GROUP BY flag
    )
    SELECT v.flag,
           CAST(q.q1 AS DOUBLE) / 100 AS q1,
           CAST(q.q3 AS DOUBLE) / 100 AS q3,
           CAST(SUM(CASE WHEN 2 * v.val < 2 * q.q1 - 3 * (q.q3 - q.q1)
                           OR 2 * v.val > 2 * q.q3 + 3 * (q.q3 - q.q1)
                         THEN v.cnt ELSE 0 END) AS BIGINT) AS n_outliers
    FROM v JOIN q ON v.flag = q.flag
    GROUP BY v.flag, q.q1, q.q3
    """,
)
def iqr_outlier_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from elective_waiting_times_pipeline_spark.operators import sampling as S

    li = load_table(spark, sf_dir, "lineitem")
    v = (
        li.groupBy(
            F.col("l_returnflag").alias("flag"),
            sl2("l_extendedprice").alias("val"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)  # quartile pass + outlier re-join share it
    )
    c = S.value_prefix(
        v,
        "val",
        group_cols=["flag"],
        weight="cnt",
        out_prefix="cw",
        out_total_weight="tw",
        offsets_from_source=True,
    )
    q = c.groupBy("flag").agg(
        F.min(F.when(4 * F.col("cw") >= F.col("tw"), F.col("val"))).alias("q1c"),
        F.min(F.when(4 * F.col("cw") >= 3 * F.col("tw"), F.col("val"))).alias("q3c"),
    )
    iqr = F.col("q3c") - F.col("q1c")
    below = 2 * F.col("val") < 2 * F.col("q1c") - 3 * iqr
    above = 2 * F.col("val") > 2 * F.col("q3c") + 3 * iqr
    return (
        v.join(F.broadcast(q), "flag")
        .groupBy("flag", "q1c", "q3c")
        .agg(
            F.sum(F.when(below | above, F.col("cnt")).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_outliers")
        )
        .select(
            "flag",
            (F.col("q1c").cast("double") / 100).alias("q1"),
            (F.col("q3c").cast("double") / 100).alias("q3"),
            "n_outliers",
        )
    )


# ---------------------------------------------------------------------------
# Distributed gaps-and-islands over the order-key ID space: contiguous
# key runs share a constant (key − rank) anchor, so islands fall out
# of one hash agg over the anchored keys — the classic
# missing-ID-range audit, with the global rank supplied by the
# range-bucketed distributed prefix instead of a single-task window.
# Top-10 longest runs (ties broken by start) via TakeOrdered — no
# island-count-sized sort anywhere.
# ---------------------------------------------------------------------------
@query(
    "orderkey_gap_islands",
    oracle="""
    WITH k AS (
      SELECT o_orderkey AS key,
             ROW_NUMBER() OVER (ORDER BY o_orderkey) AS pos
      FROM orders
    ), runs AS (
      SELECT key - pos AS anchor,
             CAST(MIN(key) AS BIGINT) AS run_start,
             CAST(MAX(key) AS BIGINT) AS run_end,
             CAST(COUNT(*) AS BIGINT) AS run_len
      FROM k GROUP BY 1
    )
    SELECT run_start, run_end, run_len
    FROM runs
    ORDER BY run_len DESC, run_start
    LIMIT 10
    """,
)
def orderkey_gap_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from elective_waiting_times_pipeline_spark.operators import sampling as S

    o = load_table(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("key"))
    k = S.value_prefix(
        o,
        "key",
        out_pos="pos",
        offsets_from_source=True,
    )
    runs = (
        k.groupBy((F.col("key") - F.col("pos")).alias("anchor"))
        .agg(
            F.min("key").cast("long").alias("run_start"),
            F.max("key").cast("long").alias("run_end"),
            F.count(F.lit(1)).cast("long").alias("run_len"),
        )
    )
    return runs.select("run_start", "run_end", "run_len").orderBy(
        F.desc("run_len"), "run_start"
    ).limit(10)
