"""Catalog: TPC-H-shaped optimizer-stress queries completing the
relational family (SURVEY.md §2.3/§2.4 joins+aggregations; reference
analogs: the 2.R/3b.R join+summarise pipelines exercise the same
shapes one at a time — `2.R:61-104`, `3b.R:88-140`).

Each query here targets ONE classic optimizer shape the rest of the
catalog does not already exercise:

- nation_trade_volume  (Q7)  — disjunctive cross-dimension pair filter
- market_share         (Q8)  — conditional share-of-total per group
- product_type_profit  (Q9)  — LIKE-filtered dim driving a fact agg
- customer_order_distribution (Q13) — outer join with ON-clause filter,
  then an aggregate OF an aggregate
- small_qty_avg_revenue (Q17) — correlated scalar-avg subquery,
  decorrelated to agg+rejoin
- disjunctive_revenue  (Q19) — OR-of-AND predicate blocks across join
- idle_customers       (Q22) — global scalar subquery + NOT EXISTS
- revenue_concentration (Q11) — HAVING against a global-total scalar
- late_shipment_priority (Q12) — join-residual date arithmetic +
  conditional counts over a low-cardinality fact column
- top_revenue_supplier (Q15)  — agg feeding its own MAX scalar (view
  self-join decorrelated to a 1-row broadcast)

Determinism: money math uses the scaled-long convention from
plans/registry.py (`sl2`/`sum2`); shares/averages divide two exact
integers so the double result is IEEE-identical across engines.

Scale notes (100 TB): dims (`nation`, filtered `part` slices, scalar
aggregates) are broadcast; fact-fact joins shuffle on their keys; all
selective predicates sit on base relations where Catalyst pushes them
into the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from elective_waiting_times_pipeline_spark.plans.registry import o_sum2, query, sl2, sum2
from elective_waiting_times_pipeline_spark.sources.readers import load_table

# Revenue at 2-dp-exact scaled-long precision: price*(1-discount) as
# cents*percent integer, divided back once at the end.
_REV = "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))"


def _rev_col() -> F.Column:
    return sl2("l_extendedprice") * (100 - sl2("l_discount"))


# ---------------------------------------------------------------------------
# TPC-H Q7 shape: bilateral trade volume between two nations by ship
# year. The disjunction couples the two nation dims, so neither side
# alone can prune — but membership in the 2-nation set CAN push to
# each dim, and both dims broadcast. The residual pair disjunction
# runs post-join on broadcast-joined columns (no extra shuffle).
# ---------------------------------------------------------------------------
@query(
    "nation_trade_volume",
    oracle=f"""
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INT) AS l_year,
           CAST(SUM({_REV}) AS DOUBLE) / 10000 AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY 1, 2, 3
    """,
)
def nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    pair = ("NATION_1", "NATION_2")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation")
    # necessary-condition pushdown: each dim prunes to the 2-nation set
    n1 = F.broadcast(n.filter(F.col("n_name").isin(*pair))).select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = F.broadcast(n.filter(F.col("n_name").isin(*pair))).select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(n1, F.col("s_nationkey") == F.col("n1_key"))
        .join(n2, F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            ((F.col("supp_nation") == pair[0]) & (F.col("cust_nation") == pair[1]))
            | ((F.col("supp_nation") == pair[1]) & (F.col("cust_nation") == pair[0]))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg((F.sum(_rev_col()) / 10000.0).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q8 shape: one supplier nation's share of AMERICA-region
# revenue per order year. The share divides two exact scaled-long
# sums, so the double is engine-identical without rounding.
# ---------------------------------------------------------------------------
@query(
    "market_share",
    headline=True,
    oracle=f"""
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(SUM(CASE WHEN n1.n_name = 'NATION_3' THEN {_REV} ELSE 0 END) AS DOUBLE)
             / SUM({_REV}) AS mkt_share
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    JOIN region   ON n2.n_regionkey = r_regionkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    WHERE r_name = 'AMERICA'
      AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY 1
    """,
)
def market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation")
    r = F.broadcast(load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_region"))
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_name"))
    rev = _rev_col()
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .join(r, F.col("n2_region") == F.col("r_regionkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                F.sum(F.when(F.col("supp_name") == "NATION_3", rev).otherwise(F.lit(0))).cast(
                    "double"
                )
                / F.sum(rev)
            ).alias("mkt_share")
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q9 shape: profit by supplier nation and year for a LIKE-slice
# of parts. The `%widget%` filter prunes `part` BEFORE the fact join
# (pushed to the dim scan); the pruned part slice broadcasts.
# ---------------------------------------------------------------------------
@query(
    "product_type_profit",
    oracle=f"""
    SELECT n_name AS nation, CAST(year(l_shipdate) AS INT) AS o_year,
           CAST(SUM({_REV}) AS DOUBLE) / 10000 AS profit
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%widget%'
    GROUP BY 1, 2
    """,
)
def product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%")).select("p_partkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("l_shipdate").alias("o_year"))
        .agg((F.sum(_rev_col()) / 10000.0).alias("profit"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q13 shape: distribution of per-customer order counts, with the
# order filter living in the OUTER JOIN's ON clause (a filter in WHERE
# would silently turn the outer join inner — the classic trap). The
# aggregate-of-an-aggregate needs two shuffles by construction; both
# key sets (custkey, then count value) are high-cardinality/compact.
# ---------------------------------------------------------------------------
@query(
    "customer_order_distribution",
    oracle="""
    WITH per_cust AS (
      SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
      FROM customer
      LEFT JOIN orders ON c_custkey = o_custkey AND o_orderstatus <> 'F'
      GROUP BY c_custkey
    )
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM per_cust GROUP BY c_count
    """,
)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderstatus")
    per_cust = (
        c.join(
            o,
            (F.col("c_custkey") == F.col("o_custkey")) & (F.col("o_orderstatus") != "F"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# ---------------------------------------------------------------------------
# TPC-H Q17 shape: lines whose quantity is under half the part's own
# average quantity. The correlated AVG subquery decorrelates into a
# per-part aggregate re-joined to the fact; the threshold compares
# scaled-long integers cross-multiplied (2*qty*n < sum_qty) so no
# float boundary can disagree between engines.
# ---------------------------------------------------------------------------
@query(
    "small_qty_avg_revenue",
    oracle="""
    WITH pq AS (
      SELECT l_partkey AS pk,
             CAST(SUM(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) AS qty_sum,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 700
             AS avg_yearly,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN pq   ON l_partkey = pk
    WHERE p_brand = 'Brand#1' AND p_type = 'SMALL'
      AND 2 * CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) * n < qty_sum
    """,
)
def small_qty_avg_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = (
        load_table(spark, sf_dir, "part")
        .filter((F.col("p_brand") == "Brand#1") & (F.col("p_type") == "SMALL"))
        .select("p_partkey")
    )
    pq = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(sl2("l_quantity")).alias("qty_sum"), F.count(F.lit(1)).alias("n")
    )
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(pq, F.col("l_partkey") == F.col("pk"))
        .filter(2 * sl2("l_quantity") * F.col("n") < F.col("qty_sum"))
        .agg(
            (F.sum(sl2("l_extendedprice")) / 700.0).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q19 shape: three OR'd AND-blocks spanning both join sides.
# Catalyst extracts the common `l_partkey = p_partkey` equi-condition
# and pushes the per-relation necessary conditions (brand set, size
# range, quantity range) into each scan; the full disjunction stays as
# the join residual.
# ---------------------------------------------------------------------------
@query(
    "disjunctive_revenue",
    headline=True,
    oracle=f"""
    SELECT {o_sum2("l_extendedprice")} AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 40)
    """,
)
def disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    block = lambda brand, smax, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(1, smax)
        & F.col("l_quantity").between(qlo, qhi)
    )
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .filter(
            block("Brand#1", 15, 1, 20) | block("Brand#2", 25, 10, 30) | block("Brand#3", 35, 20, 40)
        )
        .agg(sum2("l_extendedprice", "revenue"), F.count(F.lit(1)).alias("n_lines"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q22 shape: above-average-balance customers with no RECENT
# orders (none since 1999), per market segment. The global average is
# ONE scalar — computed once and broadcast into the filter (never
# recomputed per row); the NOT EXISTS is a left-anti join against the
# date-filtered orders slice (the filter pushes to the orders scan).
# The threshold compares balance*count against the positive-balance
# sum in scaled-long space.
# ---------------------------------------------------------------------------
@query(
    "idle_customers",
    oracle="""
    WITH pos AS (
      SELECT CAST(SUM(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT) AS bal_sum,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(SUM(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100
             AS totacctbal
    FROM customer, pos
    WHERE CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) * n > bal_sum
      AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
      )
    GROUP BY c_mktsegment
    """,
)
def idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1999-01-01 00:00:00").cast("timestamp"))
        .select("o_custkey")
    )
    pos = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.sum(sl2("c_acctbal")).alias("bal_sum"), F.count(F.lit(1)).alias("n")
    )
    return (
        c.join(F.broadcast(pos))  # 1-row scalar side → broadcast nested loop
        .filter(sl2("c_acctbal") * F.col("n") > F.col("bal_sum"))
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("numcust"), sum2("c_acctbal", "totacctbal"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q11 shape: parts whose revenue exceeds 1.5x the MEAN
# per-part revenue (scale-invariant, so the query is non-vacuous at
# every sf — a fixed fraction-of-total threshold empties as the part
# count grows). The total is a 1-row broadcast; the HAVING compares
# 2 * n_parts * part_revenue > 3 * total_revenue in exact integers
# (i.e. revenue > 1.5x the mean). Two
# aggregations over one fact scan — the per-part aggregate is computed
# once and feeds both the total and the filter.
# ---------------------------------------------------------------------------
@query(
    "revenue_concentration",
    oracle=f"""
    WITH per_part AS (
      SELECT l_partkey, CAST(SUM({_REV}) AS BIGINT) AS rev
      FROM lineitem GROUP BY l_partkey
    ), total AS (
      SELECT SUM(rev) AS tot, CAST(COUNT(*) AS BIGINT) AS n_parts
      FROM per_part
    )
    SELECT l_partkey, CAST(rev AS DOUBLE) / 10000 AS value
    FROM per_part, total
    WHERE 2 * n_parts * rev > 3 * tot
    """,
)
def revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(F.sum(_rev_col()).alias("rev"))
    # the GLOBAL total (and its cross-multiplied comparison) outgrows
    # int64 at full 100 TB scale — per-part sums stay long, the 1-row
    # total and the products ride DECIMAL(38,0) (DuckDB's HUGEINT sum
    # matches), keeping the comparison exact at any scale
    d38 = "decimal(38,0)"
    total = per_part.agg(
        F.sum(F.col("rev").cast(d38)).alias("tot"), F.count(F.lit(1)).alias("n_parts")
    )
    lhs = (2 * F.col("n_parts")).cast(d38) * F.col("rev").cast(d38)
    return (
        per_part.join(F.broadcast(total))
        .filter(lhs > 3 * F.col("tot"))
        .select("l_partkey", (F.col("rev") / 10000.0).alias("value"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q12 shape (adapted: the synthetic lineitem carries no
# shipmode/commitdate, so "late" is shipdate >= orderdate + 60 days
# and the low-cardinality group axis is l_linestatus). What the shape
# exercises: a date-arithmetic predicate spanning BOTH join sides
# (stays as a join residual — only the equi-key hashes), plus
# priority-bucket conditional counts. Reference analog: the
# late/incomplete-pathway flagging in `2.R:200-236`.
# ---------------------------------------------------------------------------
@query(
    "late_shipment_priority",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= o_orderdate + INTERVAL 60 DAY
      AND l_shipdate < TIMESTAMP '2001-01-01 00:00:00'
    GROUP BY 1
    """,
)
def late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") < F.lit("2001-01-01 00:00:00").cast("timestamp")
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        # cross-side residual: shipped >= 60 days after order placement
        .filter(F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            # NOT-IN SQL semantics: a NULL priority is neither high nor
            # low (the oracle's NOT IN yields NULL -> ELSE 0), so count
            # only non-null non-high rows
            F.sum(
                F.when(F.col("o_orderpriority").isNotNull() & ~high, 1).otherwise(0)
            ).alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q15 shape: supplier(s) with the maximum quarterly revenue —
# the classic "aggregate compared against the MAX of itself". The
# per-supplier aggregate is computed once; its 1-row MAX broadcasts
# back as the filter; the surviving (usually 1-row) slice broadcasts
# into the supplier dim join. Ties all surface (= on exact integers).
# ---------------------------------------------------------------------------
@query(
    "top_revenue_supplier",
    oracle=f"""
    WITH rev AS (
      SELECT l_suppkey, CAST(SUM({_REV}) AS BIGINT) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-07-01 00:00:00'
      GROUP BY 1
    ), mx AS (SELECT MAX(total_rev) AS m FROM rev)
    SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) / 10000 AS total_revenue
    FROM supplier JOIN rev ON s_suppkey = l_suppkey, mx
    WHERE total_rev = m
    """,
)
def top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-07-01 00:00:00").cast("timestamp"))
    )
    rev = li.groupBy("l_suppkey").agg(F.sum(_rev_col()).alias("total_rev"))
    mx = rev.agg(F.max("total_rev").alias("m"))
    top = rev.join(F.broadcast(mx)).filter(F.col("total_rev") == F.col("m"))
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return s.join(F.broadcast(top), F.col("s_suppkey") == F.col("l_suppkey")).select(
        "s_suppkey", "s_name", (F.col("total_rev") / 10000.0).alias("total_revenue")
    )


# ---------------------------------------------------------------------------
# TPC-H Q2 shape (adapted: no partsupp table, so "supply cost" is the
# minimum observed line price per (part, supplier)): for every small
# part (p_size <= 5), the supplier(s) offering the minimum price —
# the classic correlated scalar-MIN subquery, decorrelated to
# agg + equality join-back (ties all surface). The part filter is
# applied BEFORE the fact aggregate (broadcast semi shape), so the
# (part, supplier) agg only sees qualifying parts — at 100 TB the
# dim slice prunes the fact scan via dynamic partition pruning /
# runtime filters rather than aggregating the whole fact table first
# (the oracle aggregates everything then filters; same rows, since
# the filter is on the join key's dim attributes only).
# ---------------------------------------------------------------------------
@query(
    "min_cost_supplier",
    oracle="""
    WITH cost AS (
      SELECT l_partkey, l_suppkey,
             MIN(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS minc
      FROM lineitem GROUP BY 1, 2
    ), best AS (
      SELECT l_partkey, MIN(minc) AS best FROM cost GROUP BY 1
    )
    SELECT p_partkey, p_brand, s_name, n_name,
           CAST(c.minc AS DOUBLE) / 100 AS best_price
    FROM cost c
    JOIN best b ON c.l_partkey = b.l_partkey AND c.minc = b.best
    JOIN part p ON p.p_partkey = c.l_partkey
    JOIN supplier s ON s.s_suppkey = c.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE p.p_size <= 5
    """,
)
def min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 5).select(
        "p_partkey", "p_brand"
    )
    li = load_table(spark, sf_dir, "lineitem").join(
        F.broadcast(p), F.col("l_partkey") == F.col("p_partkey")
    )
    cost = li.groupBy("l_partkey", "l_suppkey", "p_partkey", "p_brand").agg(
        F.min(sl2("l_extendedprice")).alias("minc")
    )
    best = cost.groupBy(F.col("l_partkey").alias("_pk")).agg(F.min("minc").alias("best"))
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        cost.join(
            F.broadcast(best),
            (F.col("l_partkey") == F.col("_pk")) & (F.col("minc") == F.col("best")),
        )
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("p_partkey", "p_brand", "s_name", "n_name", (F.col("minc") / 100.0).alias("best_price"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q16 shape (adapted: the supplier exclusion is s_acctbal < 2000
# in place of the comment-LIKE "complaints" list): how many distinct
# suppliers serve each (brand, size) slice of the selected parts,
# excluding blacklisted suppliers — NOT IN decorrelated to a
# broadcast ANTI join (s_suppkey is non-null, so NOT IN == anti),
# filtered dim broadcast into the fact, then a grouped distinct-count.
# ---------------------------------------------------------------------------
@query(
    "supplier_cnt_by_part",
    oracle="""
    SELECT p_brand, p_size, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#45'
      AND p_size IN (1, 4, 7, 10, 13, 16, 19, 23)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 2000)
    GROUP BY 1, 2
    """,
)
def supplier_cnt_by_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = (
        load_table(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#45")
            & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 23)
        )
        .select("p_partkey", "p_brand", "p_size")
    )
    bad = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 2000).select(
        "s_suppkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q20 shape (adapted to the available columns): suppliers who
# shipped MORE THAN HALF of some part's total 1996 volume — the
# nested correlated-aggregate-threshold subquery, decorrelated to
# (part, supplier) agg + per-part total + integer cross-multiplied
# comparison (2·q > tot, no division), then a SEMI join into the
# supplier dim. Quantities aggregate as exact scaled longs. Parts
# served by fewer than 3 suppliers in the window are excluded (a
# single-supplier part makes the >50% bar vacuous) — the HAVING rides
# the same per-part aggregate, no extra pass.
# ---------------------------------------------------------------------------
@query(
    "excess_share_suppliers",
    oracle="""
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             SUM(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS q
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY 1, 2
    ), pt AS (
      SELECT l_partkey, CAST(SUM(q) AS BIGINT) AS tot
      FROM ps GROUP BY 1 HAVING COUNT(*) >= 3
    )
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey FROM ps JOIN pt USING (l_partkey) WHERE 2 * q > tot
    )
    """,
)
def excess_share_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    ps = li.groupBy("l_partkey", "l_suppkey").agg(F.sum(sl2("l_quantity")).alias("q"))
    pt = (
        ps.groupBy(F.col("l_partkey").alias("_pk"))
        .agg(F.sum("q").alias("tot"), F.count(F.lit(1)).alias("_nsupp"))
        .filter(F.col("_nsupp") >= 3)
    )
    excess = (
        ps.join(pt, F.col("l_partkey") == F.col("_pk"))
        .filter(2 * F.col("q") > F.col("tot"))
        .select("l_suppkey")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return s.join(excess, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")


# ---------------------------------------------------------------------------
# Pareto revenue concentration — "what share of revenue do the top
# 10% / 20% / 50% of customers hold?" The classic 80/20 analysis, and
# the catalog's sixth consumer of the value-order distributed rank:
# ranking customers by spend is a GLOBAL order, so the per-customer
# relation goes through sampling.ordered_prefix (range-bucketed rank +
# running revenue, no single-partition window). All revenue stays in
# exact scaled-long cents; the three shares divide exact integers at
# the end. Customer count and rank thresholds use ceil(p·n) — exact
# integer arithmetic both engines repeat.
# ---------------------------------------------------------------------------
@query(
    "pareto_revenue_share",
    oracle="""
    WITH spend AS (
      SELECT o_custkey, CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ), ranked AS (
      SELECT cents,
             ROW_NUMBER() OVER (ORDER BY cents DESC, o_custkey) AS rnk,
             SUM(cents) OVER (ORDER BY cents DESC, o_custkey) AS run,
             COUNT(*) OVER () AS n,
             SUM(cents) OVER () AS tot
      FROM spend
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_customers,
           ROUND(CAST(MAX(CASE WHEN rnk = CAST(ceil(0.1 * n) AS BIGINT) THEN run END) AS DOUBLE)
                 / MAX(tot), 6) AS top10_share,
           ROUND(CAST(MAX(CASE WHEN rnk = CAST(ceil(0.2 * n) AS BIGINT) THEN run END) AS DOUBLE)
                 / MAX(tot), 6) AS top20_share,
           ROUND(CAST(MAX(CASE WHEN rnk = CAST(ceil(0.5 * n) AS BIGINT) THEN run END) AS DOUBLE)
                 / MAX(tot), 6) AS top50_share
    FROM ranked
    """,
)
def pareto_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    from elective_waiting_times_pipeline_spark.operators import sampling as SA

    orders = load_table(spark, sf_dir, "orders")
    # pin the per-customer axis (bounded by |customers|, a dimension):
    # the cut-points sample, the ranked branch and the offsets agg all
    # read pinned blocks, so the orders-wide aggregation runs once and
    # the offsets side is a HashAggregate (offsets_from_source), not a
    # second sort+window over the bucket exchange — the
    # mann_whitney/weighted_median round-11 shape.
    spend = (
        orders.groupBy("o_custkey")
        .agg(F.sum(sl2("o_totalprice")).alias("cents"))
        .localCheckpoint(eager=False)
    )
    ranked = SA.value_prefix(
        spend,
        "cents",
        ["o_custkey"],
        descending=True,
        out_pos="rnk",
        weight="cents",
        out_prefix="run",
        out_total="n",
        offsets_from_source=True,
    )
    at = lambda p: F.max(  # noqa: E731
        F.when(F.col("rnk") == F.ceil(p * F.col("n")).cast("long"), F.col("run"))
    )
    # the grand total IS the last rank's inclusive running sum — no
    # separate total aggregate (that would rescan the orders agg) and
    # no crossJoin
    return ranked.agg(
        F.max("n").cast("long").alias("n_customers"),
        F.round(at(0.1).cast("double") / F.max("run"), 6).alias("top10_share"),
        F.round(at(0.2).cast("double") / F.max("run"), 6).alias("top20_share"),
        F.round(at(0.5).cast("double") / F.max("run"), 6).alias("top50_share"),
    )


# ---------------------------------------------------------------------------
# RFM segmentation — the standard customer-value grid: Recency (days
# from last order to the 2001-09-01 anchor), Frequency (order count),
# Monetary (exact cents). Scores bucket on FIXED thresholds rather
# than per-run quantiles, the production form for a segmentation that
# must stay stable across refreshes (quantile cutoffs drift with the
# data and reshuffle customers between runs); every boundary compares
# exact integers, so the grid is engine-identical. One fact agg + a
# codegen CASE grid + a 27-cell rollup.
# ---------------------------------------------------------------------------
@query(
    "rfm_segments",
    oracle="""
    WITH c AS (
      SELECT o_custkey,
             date_diff('day', MAX(o_orderdate), TIMESTAMP '2001-09-01 00:00:00') AS rec_days,
             CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ), scored AS (
      SELECT CASE WHEN rec_days <= 365 THEN 3 WHEN rec_days <= 730 THEN 2 ELSE 1 END AS r,
             CASE WHEN freq >= 11 THEN 3 WHEN freq >= 8 THEN 2 ELSE 1 END AS f,
             CASE WHEN cents >= 280000000 THEN 3 WHEN cents >= 200000000 THEN 2 ELSE 1 END AS m,
             cents
      FROM c
    )
    SELECT r, f, m,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(cents) AS DOUBLE) / 100 AS segment_revenue
    FROM scored GROUP BY 1, 2, 3
    """,
)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    anchor = F.lit("2001-09-01 00:00:00").cast("timestamp")
    c = orders.groupBy("o_custkey").agg(
        F.datediff(anchor, F.max("o_orderdate")).alias("rec_days"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(sl2("o_totalprice")).alias("cents"),
    )
    r = F.when(F.col("rec_days") <= 365, 3).when(F.col("rec_days") <= 730, 2).otherwise(1)
    f = F.when(F.col("freq") >= 11, 3).when(F.col("freq") >= 8, 2).otherwise(1)
    m = (
        F.when(F.col("cents") >= 280000000, 3)
        .when(F.col("cents") >= 200000000, 2)
        .otherwise(1)
    )
    return (
        c.select(r.alias("r"), f.alias("f"), m.alias("m"), "cents")
        .groupBy("r", "f", "m")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            (F.sum("cents").cast("double") / 100).alias("segment_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Supplier concentration (Herfindahl–Hirschman index) per part type —
# "is this category single-sourced?": HHI = Σ share_i² over each
# supplier's revenue share of the type. Exact to the last step:
# HHI = Σ rev_i² / (Σ rev_i)² with cent-integer revenues, so both
# engines sum exact decimal(38,0) squares and divide once (the
# squared total stays a double product of two exact casts, same op
# order both sides). Two cascaded hash aggs on the bounded
# (type, supplier) axis.
# ---------------------------------------------------------------------------
@query(
    "supplier_hhi",
    oracle=f"""
    WITH ps AS (
      SELECT p_type, l_suppkey, CAST(SUM({_REV}) AS BIGINT) AS rev
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY 1, 2
    )
    SELECT p_type,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           ROUND(CAST(SUM(CAST(rev AS HUGEINT) * rev) AS DOUBLE)
                 / (CAST(SUM(rev) AS DOUBLE) * CAST(SUM(rev) AS DOUBLE)), 6) AS hhi
    FROM ps GROUP BY p_type
    """,
)
def supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    ps = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_type", "l_suppkey")
        .agg(F.sum(_rev_col()).alias("rev"))
    )
    rev_d = F.col("rev").cast("decimal(38,0)")
    return ps.groupBy("p_type").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.round(
            F.sum(rev_d * F.col("rev")).cast("double")
            / (F.sum("rev").cast("double") * F.sum("rev").cast("double")),
            6,
        ).alias("hhi"),
    )


# ---------------------------------------------------------------------------
# One-way ANOVA across part brands — does brand explain price
# variance? Between/within decomposition from EXACT integer moments
# only: per-brand (n_g, S_g, Q_g) as cent sums, then
#   SSB = Σ S_g²/n_g − S²/N      SSW = Q − Σ S_g²/n_g
#   η²  = SSB / (SSB + SSW)      F = (SSB/(k−1)) / (SSW/(N−k))
# — every double op consumes exact integers in one fixed order the
# oracle repeats, so the rounded statistics hash-match (the one float
# SUM, Σ S_g²/n_g, runs over the bounded 25-brand axis where a
# worst-case reordering perturbs the ratio at ~1e-16 relative — far
# inside the 1e-6 round). One fact agg to the brand axis, one 1-row
# combine.
# ---------------------------------------------------------------------------
@query(
    "price_anova_brand",
    oracle="""
    WITH g AS (
      SELECT p_brand,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS s,
             SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS HUGEINT)
                 * CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS q
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY 1
    ), c AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n) AS BIGINT) AS nn,
             CAST(SUM(s) AS BIGINT) AS ss,
             CAST(SUM(q) AS DOUBLE) AS qd,
             SUM(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) AS sb
      FROM g
    )
    SELECT k AS n_groups, nn AS n_rows,
           ROUND((sb - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE) / nn)
                 / (qd - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE) / nn), 6) AS eta_sq,
           ROUND(((sb - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE) / nn) / (k - 1))
                 / ((qd - sb) / (nn - k)), 6) AS f_stat
    FROM c
    """,
)
def price_anova_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    cents = sl2("l_extendedprice")
    g = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents).alias("s"),
            F.sum(cents.cast("decimal(38,0)") * cents).alias("q"),
        )
    )
    c = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("nn"),
        F.sum("s").alias("ss"),
        F.sum("q").cast("double").alias("qd"),
        F.sum(F.col("s").cast("double") * F.col("s").cast("double") / F.col("n")).alias("sb"),
    )
    ssd = F.col("ss").cast("double") * F.col("ss").cast("double") / F.col("nn")
    ssb = F.col("sb") - ssd
    sst = F.col("qd") - ssd
    return c.select(
        F.col("k").alias("n_groups"),
        F.col("nn").alias("n_rows"),
        F.round(ssb / sst, 6).alias("eta_sq"),
        F.round(
            (ssb / (F.col("k") - 1)) / ((F.col("qd") - F.col("sb")) / (F.col("nn") - F.col("k"))),
            6,
        ).alias("f_stat"),
    )


# ---------------------------------------------------------------------------
# Hierarchical ratio-to-parent report: supplier revenue by region →
# nation, with each nation's share of its region and each row's share
# of the grand total — the percent-of-parent drill-down every BI
# rollup renders. One fact scan (all dims broadcast) reduces to the
# ≤|nations| relation; both share denominators are window sums over
# that BOUNDED axis (25 rows — the benign global-window class the
# plan lint whitelists), so no second scan and no driver math. Exact
# cents accumulation; each share is ONE division of exact integers —
# IEEE-identical on both engines.
# ---------------------------------------------------------------------------
@query(
    "hier_share_of_parent",
    oracle=f"""
    WITH rev AS (
      SELECT r_name AS region, n_name AS nation,
             CAST(SUM({_REV}) AS BIGINT) AS rev
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      GROUP BY 1, 2
    )
    SELECT region, nation,
           CAST(rev AS DOUBLE) / 10000 AS revenue,
           ROUND(CAST(rev AS DOUBLE) / SUM(rev) OVER (PARTITION BY region), 6)
             AS share_of_region,
           ROUND(CAST(rev AS DOUBLE) / SUM(rev) OVER (), 6) AS share_of_total
    FROM rev
    """,
)
def hier_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    su = load_table(spark, sf_dir, "supplier")
    na = load_table(spark, sf_dir, "nation")
    re = load_table(spark, sf_dir, "region")
    rev = (
        li.join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
        .join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .join(F.broadcast(re), na.n_regionkey == re.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.sum(_rev_col()).alias("rev"))
    )
    wreg = Window.partitionBy("region")
    wall = Window.partitionBy()
    return rev.select(
        "region",
        "nation",
        (F.col("rev").cast("double") / 10000).alias("revenue"),
        F.round(F.col("rev").cast("double") / F.sum("rev").over(wreg), 6).alias(
            "share_of_region"
        ),
        F.round(F.col("rev").cast("double") / F.sum("rev").over(wall), 6).alias(
            "share_of_total"
        ),
    )
