"""Relational query surface over the TPC-H-ish star schema.

The reference delegates all relational work to Postgres (SURVEY.md section
2.3/2.4: seven SQL statements, zero joins); the engine exposes the full
surface natively through Catalyst. Queries here are the TPC-H-flavoured
coverage set the driver's DuckDB oracle checks (scan -> filter -> project ->
join -> agg -> sort -> limit, windows, rollup, semi/anti joins, set ops).

Scale notes (100 TB posture):
  * region/nation are broadcast explicitly (constant-size dims); other join
    sides are left to Catalyst + AQE, which picks broadcast vs sort-merge by
    runtime stats -- the right call when customer/part/supplier grow with SF.
  * Filters are expressed on base columns before joins so they push into the
    parquet scan (verify with plans.explain_checks.assert_pushed_filter).
  * Aggregates are declarative groupBy/agg -> map-side partial aggregation
    for free; no driver-side loops anywhere.
  * Double-typed aggregates are rounded in BOTH the Spark and oracle column
    expressions so value-hash comparison is stable across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..functions.money import exact_sum


# --------------------------------------------------------------------------
# Q1: pricing summary report (TPC-H Q1 adapted to available columns).
# Reference analog: the daily-metrics aggregation pattern
# (airflow/dags/compute-daily-metrics.py:19-37) -- scan, filter, grouped agg.
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.expr(exact_sum("l_extendedprice")).alias("sum_base_price"),
            F.expr(exact_sum("l_extendedprice * (1 - l_discount)")).alias("sum_disc_price"),
            F.expr(exact_sum("l_extendedprice * (1 - l_discount) * (1 + l_tax)")).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_SQL = """
SELECT l_returnflag,
       l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       CAST(floor((sum(CAST(round((l_extendedprice) * 10000, 0) AS BIGINT)) + 50) / 100) AS DOUBLE) / 100 AS sum_base_price,
       CAST(floor((sum(CAST(round((l_extendedprice * (1 - l_discount)) * 10000, 0) AS BIGINT)) + 50) / 100) AS DOUBLE) / 100 AS sum_disc_price,
       CAST(floor((sum(CAST(round((l_extendedprice * (1 - l_discount) * (1 + l_tax)) * 10000, 0) AS BIGINT)) + 50) / 100) AS DOUBLE) / 100 AS sum_charge,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_extendedprice), 6) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# --------------------------------------------------------------------------
# Q3: shipping priority -- 3-way join + grouped agg + top-k.
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-01-01").cast("timestamp")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.expr(exact_sum("l_extendedprice * (1 - l_discount)")).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
            "revenue",
        )
    )


Q3_SQL = """
SELECT l_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_orderpriority,
       CAST(floor((sum(CAST(round((l_extendedprice * (1 - l_discount)) * 10000, 0) AS BIGINT)) + 50) / 100) AS DOUBLE) / 100 AS revenue
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING'
  AND c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1996-01-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


# --------------------------------------------------------------------------
# Q5: local supplier volume -- 6-way join through region/nation dims.
# region/nation broadcast explicitly: constant-size at any SF.
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.expr(exact_sum("l_extendedprice * (1 - l_discount)")).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


Q5_SQL = """
SELECT n_name,
       CAST(floor((sum(CAST(round((l_extendedprice * (1 - l_discount)) * 10000, 0) AS BIGINT)) + 50) / 100) AS DOUBLE) / 100 AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey
  AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey
  AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


# --------------------------------------------------------------------------
# Q6: forecast revenue change -- pure scan+filter+scalar agg; the plan should
# be a single stage with every predicate pushed to parquet.
def q6_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.expr(exact_sum("l_extendedprice * l_discount")).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


Q6_SQL = """
SELECT CAST(floor((sum(CAST(round((l_extendedprice * l_discount) * 10000, 0) AS BIGINT)) + 50) / 100) AS DOUBLE) / 100 AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount >= 0.03 AND l_discount <= 0.07
  AND l_quantity < 24
"""


# --------------------------------------------------------------------------
# Q10: returned-item reporting -- join + agg + top-k by revenue.
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.expr(exact_sum("l_extendedprice * (1 - l_discount)")).alias("revenue"),
            F.round(F.max("c_acctbal"), 2).alias("c_acctbal"),
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


Q10_SQL = """
SELECT c_custkey, c_name, n_name,
       CAST(floor((sum(CAST(round((l_extendedprice * (1 - l_discount)) * 10000, 0) AS BIGINT)) + 50) / 100) AS DOUBLE) / 100 AS revenue,
       round(max(c_acctbal), 2) AS c_acctbal
FROM customer, orders, lineitem, nation
WHERE c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND c_nationkey = n_nationkey
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


# --------------------------------------------------------------------------
# Top-K per group: window function over a join (O1 generalized).
# Catalyst plans row_number + filter as a ranked window with partial
# pushdown; no global sort.
def top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rank_in_cust", F.row_number().over(w))
        .filter(F.col("rank_in_cust") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "rank_in_cust",
        )
        .orderBy("o_custkey", "rank_in_cust")
    )


TOP_ORDERS_SQL = """
SELECT o_custkey, o_orderkey,
       round(o_totalprice, 2) AS o_totalprice,
       rank_in_cust
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC)
           AS rank_in_cust
  FROM orders
) t
WHERE rank_in_cust <= 3
ORDER BY o_custkey, rank_in_cust
"""


# --------------------------------------------------------------------------
# Rollup: hierarchical totals region -> nation (grouping-sets surface).
def customer_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.expr(exact_sum("c_acctbal")).alias("total_acctbal"),
        )
        .orderBy(
            F.col("r_name").asc_nulls_first(), F.col("n_name").asc_nulls_first()
        )
    )


CUSTOMER_ROLLUP_SQL = """
SELECT r_name, n_name,
       count(*) AS n_customers,
       CAST(floor((sum(CAST(round((c_acctbal) * 10000, 0) AS BIGINT)) + 50) / 100) AS DOUBLE) / 100 AS total_acctbal
FROM customer, nation, region
WHERE c_nationkey = n_nationkey AND n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST
"""


# --------------------------------------------------------------------------
# Q4-style: semi-join (EXISTS) -- orders with at least one late lineitem.
def order_priority_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-06-01").cast("timestamp")
    )
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


ORDER_PRIORITY_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > TIMESTAMP '1997-06-01 00:00:00'
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# --------------------------------------------------------------------------
# Q22-style: anti-join (NOT EXISTS) + scalar subquery -- rich customers
# with no recent orders.
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    rich = cust.join(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    return (
        rich.join(orders, rich.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            F.expr(exact_sum("c_acctbal")).alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


CUSTOMERS_WITHOUT_ORDERS_SQL = """
SELECT c_nationkey, count(*) AS numcust,
       CAST(floor((sum(CAST(round((c_acctbal) * 10000, 0) AS BIGINT)) + 50) / 100) AS DOUBLE) / 100 AS totacctbal
FROM customer c
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c.c_custkey
                    AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


# --------------------------------------------------------------------------
# Set operations: nations present among BOTH customers and suppliers
# (INTERSECT), ordered.
def nations_with_both(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return cust.intersect(supp).orderBy("nationkey")


NATIONS_WITH_BOTH_SQL = """
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey AS nationkey FROM supplier
ORDER BY nationkey
"""


# --------------------------------------------------------------------------
# Distinct aggregation: per-segment exact distinct nation count + totals.
# avg_acctbal is exact: cents summed as BIGINT, then the mean rounded to
# 4 decimals (half away from zero) by integer division, so both engines
# land on the same side of a .xxxx5 boundary (a double avg does not).
def segment_distinct_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_mktsegment")
        .agg(
            F.countDistinct("c_nationkey").alias("n_nations"),
            F.count("*").alias("n_customers"),
            F.sum(F.round(F.col("c_acctbal") * 100).cast("bigint")).alias("cents"),
        )
        .select(
            "c_mktsegment",
            "n_nations",
            "n_customers",
            (
                F.signum("cents")
                * F.expr("(abs(cents) * 200 + n_customers) div (2 * n_customers)")
                / 10000
            ).alias("avg_acctbal"),
        )
        .orderBy("c_mktsegment")
    )


SEGMENT_DISTINCT_SQL = """
SELECT c_mktsegment, n_nations, n_customers,
       sign(cents) * ((abs(cents) * 200 + n_customers) // (2 * n_customers))
           / 10000 AS avg_acctbal
FROM (
    SELECT c_mktsegment,
           count(DISTINCT c_nationkey) AS n_nations,
           count(*) AS n_customers,
           sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS cents
    FROM customer
    GROUP BY c_mktsegment
)
ORDER BY c_mktsegment
"""


# --------------------------------------------------------------------------
# Part/supplier enrichment with CASE buckets (P6/P7-style conditional logic
# on the relational surface).
def part_price_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return (
        part.withColumn(
            "price_bucket",
            F.when(F.col("p_retailprice") < 500, F.lit("low"))
            .when(F.col("p_retailprice") < 1500, F.lit("mid"))
            .otherwise(F.lit("high")),
        )
        .groupBy("p_brand", "price_bucket")
        .agg(
            F.count("*").alias("n_parts"),
            F.round(F.avg("p_size"), 4).alias("avg_size"),
        )
        .orderBy("p_brand", "price_bucket")
    )


PART_PRICE_BUCKETS_SQL = """
SELECT p_brand,
       CASE WHEN p_retailprice < 500 THEN 'low'
            WHEN p_retailprice < 1500 THEN 'mid'
            ELSE 'high' END AS price_bucket,
       count(*) AS n_parts,
       round(avg(p_size), 4) AS avg_size
FROM part
GROUP BY p_brand, price_bucket
ORDER BY p_brand, price_bucket
"""


QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_local_supplier_volume": q5_local_supplier_volume,
    "q6_revenue_change": q6_revenue_change,
    "q10_returned_items": q10_returned_items,
    "top_orders_per_customer": top_orders_per_customer,
    "customer_rollup": customer_rollup,
    "order_priority_count": order_priority_count,
    "customers_without_orders": customers_without_orders,
    "nations_with_both": nations_with_both,
    "segment_distinct_nations": segment_distinct_nations,
    "part_price_buckets": part_price_buckets,
}

ORACLE = {
    "q1_pricing_summary": Q1_SQL,
    "q3_shipping_priority": Q3_SQL,
    "q5_local_supplier_volume": Q5_SQL,
    "q6_revenue_change": Q6_SQL,
    "q10_returned_items": Q10_SQL,
    "top_orders_per_customer": TOP_ORDERS_SQL,
    "customer_rollup": CUSTOMER_ROLLUP_SQL,
    "order_priority_count": ORDER_PRIORITY_SQL,
    "customers_without_orders": CUSTOMERS_WITHOUT_ORDERS_SQL,
    "nations_with_both": NATIONS_WITH_BOTH_SQL,
    "segment_distinct_nations": SEGMENT_DISTINCT_SQL,
    "part_price_buckets": PART_PRICE_BUCKETS_SQL,
}
