"""Additional TPC-H-style analytics (Q4/Q6/Q10/Q12 shapes, adapted to
the fixture schema — lineitem has no commitdate/receiptdate/shipmode, so
the late-shipment and shipping-mode predicates are re-expressed over
l_shipdate / o_orderpriority).

Scale notes: Q6 is the pushdown showcase (filters + 3-column pruning
reach the parquet scan; single partial+final agg, no join). Q4 is a
date-pruned semi-join on the orders→lineitem key. Q10 joins the big
fact to small dims (customer/nation broadcast under AQE) and takes a
top-20 via TakeOrderedAndProject — no global sort materialization. Q12
is one shuffle on the join key with map-side conditional partial aggs.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cascade_spark.plans.registry import register
from cascade_spark.operators._util import bigint, d2, dec, t


@register(
    "tpch_q4_order_priority",
    doc="TPC-H Q4 shape: count Q1-1997 orders per priority having at "
    "least one line item shipped >60 days after the order date "
    "(EXISTS → left-semi join with a non-equi conjunct).",
    oracle="""
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1997-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def tpch_q4_order_priority(spark, sf_dir):
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(bigint(F.count(F.lit(1))).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "tpch_q6_forecast_revenue",
    doc="TPC-H Q6: single-scan revenue forecast — all three predicates "
    "and the 3-column projection push into the parquet scan; decimal "
    "accumulation keeps the sum order-independent.",
    oracle="""
SELECT ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
               * CAST(l_discount AS DECIMAL(12,4))), 2)::DOUBLE AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.02 AND 0.06
  AND l_quantity < 24
""",
)
def tpch_q6_forecast_revenue(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.02, 0.06))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            d2(F.sum(dec("l_extendedprice") * dec("l_discount"))).alias("revenue"),
            bigint(F.count(F.lit(1))).alias("n_items"),
        )
    )


@register(
    "tpch_q10_returned_items",
    doc="TPC-H Q10 shape: top-20 customers by revenue lost to returns "
    "in H1-1997 — lineitem⨝orders shuffle join, customer/nation "
    "broadcast; deterministic order by rounded revenue then custkey.",
    oracle="""
SELECT c.c_custkey, c.c_name, n.n_name,
       ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,4))
               * (1 - CAST(l.l_discount AS DECIMAL(12,4)))), 2)::DOUBLE AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-07-01'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue DESC, c.c_custkey
LIMIT 20
""",
)
def tpch_q10_returned_items(spark, sf_dir):
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = t(spark, sf_dir, "nation")
    joined = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    return (
        joined.groupBy("c_custkey", "c_name", "n_name")
        .agg(d2(F.sum(dec("l_extendedprice") * (1 - dec("l_discount")))).alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "tpch_q12_priority_class",
    doc="TPC-H Q12 shape: per line-status counts of high- vs low-"
    "priority orders shipped in 1997 (conditional partial aggregation "
    "— the CASE folds map-side before the single join shuffle).",
    oracle="""
SELECT l.l_linestatus,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_priority_count,
       CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_priority_count
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
  AND l.l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l.l_linestatus
ORDER BY l.l_linestatus
""",
)
def tpch_q12_priority_class(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            bigint(F.sum(F.when(high, 1).otherwise(0))).alias("high_priority_count"),
            bigint(F.sum(F.when(~high, 1).otherwise(0))).alias("low_priority_count"),
        )
        .orderBy("l_linestatus")
    )
