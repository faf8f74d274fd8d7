"""Remaining TPC-H query shapes (Q2/Q7/Q8/Q9/Q11/Q13/Q14), adapted to
the fixture schema. The fixtures have no ``partsupp`` table, so the
supply-cost queries (Q2/Q11) derive a pseudo-partsupp from lineitem:
the exact decimal SUM(l_extendedprice) per (partkey, suppkey) plays the
supply-cost/stock-value role. No comment/phone/shipinstr columns, so
Q13's comment filter becomes an order-priority filter.

Scale notes: every query keeps the big fact (lineitem/orders) on the
probe side. Dimension join strategy is left to AQE: customer/part/
supplier scale linearly with SF (FIXTURES.md), so forcing F.broadcast()
on them would bypass AQE's size check and OOM at 100× — explicit hints
are reserved for genuinely fixed-size frames (nation = 25 rows, region
= 5 rows, single-row scalar aggregates). AQE still picks
BroadcastHashJoin for all of them at local scale, so plans and results
are unchanged; at cluster scale it degrades gracefully to shuffle or
bucketed joins. Min-per-group (Q2/Q15) uses a window
over the *aggregated* (part,supp) rows — cardinality parts×suppliers,
orders of magnitude below the fact — not over raw lineitem. Scalar
thresholds (Q11 grand total) are single-row broadcasts. All money math
accumulates in DECIMAL(12,4)-derived exact decimals so parallel
summation order never changes a bit (see _util.py).

Provenance: the reference repo ships no test queries of its own; the
TPC-H 22-query family here comes from the north-star analytics breadth
goal, completing the set alongside tpch_more.py (Q4/Q6/Q10/Q12) and
analytics.py (Q1/Q3/Q5).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from cascade_spark import store
from cascade_spark.operators._util import bigint, d2, dec, t
from cascade_spark.plans.registry import register


def _pseudo_partsupp(spark, sf_dir):
    """lineitem → (l_partkey, l_suppkey, cost): exact decimal sales
    total per part-supplier pair — the fixture's stand-in for partsupp.
    One shuffle on the composite key; output cardinality ≤ parts ×
    suppliers, tiny next to the fact."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(dec("l_extendedprice")).alias("cost")
    )


_SQL_PSEUDO_PARTSUPP = """
    SELECT l_partkey, l_suppkey,
           SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS cost
    FROM lineitem GROUP BY l_partkey, l_suppkey
"""


@register(
    "tpch_q2_min_cost_supplier",
    "analytics",
    doc="TPC-H Q2 shape: for each small STANDARD part, the supplier(s) "
    "with the minimum pseudo-supply-cost (exact decimal, so the min-"
    "equality join is bit-safe). Window-min over the aggregated "
    "(part,supp) pairs — never over raw lineitem.",
    oracle=f"""
WITH ps AS ({_SQL_PSEUDO_PARTSUPP}),
ranked AS (
    SELECT p.p_partkey, p.p_name, ps.l_suppkey, ps.cost,
           MIN(ps.cost) OVER (PARTITION BY p.p_partkey) AS min_cost
    FROM ps
    JOIN part p ON ps.l_partkey = p.p_partkey
    WHERE p.p_size <= 10 AND p.p_type = 'STANDARD'
)
SELECT r.p_partkey, r.p_name, s.s_name, n.n_name,
       ROUND(r.cost, 2)::DOUBLE AS supply_cost
FROM ranked r
JOIN supplier s ON r.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE r.cost = r.min_cost
ORDER BY r.p_partkey, s.s_name
""",
)
def tpch_q2_min_cost_supplier(spark, sf_dir):
    ps = _pseudo_partsupp(spark, sf_dir)
    part = t(spark, sf_dir, "part").filter(
        (F.col("p_size") <= 10) & (F.col("p_type") == "STANDARD")
    )
    w = Window.partitionBy("p_partkey")
    ranked = (
        ps.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .withColumn("min_cost", F.min("cost").over(w))
        .filter(F.col("cost") == F.col("min_cost"))
    )
    supp = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    return (
        ranked.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            "n_name",
            d2(F.col("cost")).alias("supply_cost"),
        )
        .orderBy("p_partkey", "s_name")
    )


@register(
    "tpch_q7_volume_shipping",
    "analytics",
    doc="TPC-H Q7 shape: shipping volume between two nations by year — "
    "the fact joins orders on its key (one shuffle pair); the 2-row "
    "nation sides carry explicit broadcast hints, while the SF-scaling "
    "customer/supplier joins are left to AQE; nation filters push "
    "below the join.",
    oracle="""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(YEAR(l.l_shipdate) AS BIGINT) AS l_year,
       ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,4))
               * (1 - CAST(l.l_discount AS DECIMAL(12,4)))), 2)::DOUBLE AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation sn ON s.s_nationkey = sn.n_nationkey
JOIN nation cn ON c.c_nationkey = cn.n_nationkey
WHERE sn.n_name IN ('NATION_1', 'NATION_2')
  AND cn.n_name IN ('NATION_1', 'NATION_2')
  AND sn.n_name <> cn.n_name
GROUP BY sn.n_name, cn.n_name, YEAR(l.l_shipdate)
ORDER BY supp_nation, cust_nation, l_year
""",
)
def tpch_q7_volume_shipping(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    supp = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return (
        joined.groupBy(
            "supp_nation",
            "cust_nation",
            bigint(F.year("l_shipdate")).alias("l_year"),
        )
        .agg(d2(F.sum(dec("l_extendedprice") * (1 - dec("l_discount")))).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "tpch_q8_market_share",
    "analytics",
    doc="TPC-H Q8 shape: NATION_3's share of PROMO-part revenue in "
    "region REGION_0's market per year. Numerator and denominator stay "
    "exact decimals; the share divides them only in the final "
    "projection (double ÷ double is IEEE-identical cross-engine).",
    oracle="""
WITH flat AS (
    SELECT YEAR(o.o_orderdate) AS o_year,
           CAST(l.l_extendedprice AS DECIMAL(12,4))
             * (1 - CAST(l.l_discount AS DECIMAL(12,4))) AS volume,
           sn.n_name AS supp_nation
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation cn ON c.c_nationkey = cn.n_nationkey
    JOIN region r ON cn.n_regionkey = r.r_regionkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation sn ON s.s_nationkey = sn.n_nationkey
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE r.r_name = 'REGION_0' AND p.p_type = 'PROMO'
)
SELECT CAST(o_year AS BIGINT) AS o_year,
       ROUND(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume
                      ELSE CAST(0 AS DECIMAL(12,4)) END), 2)::DOUBLE AS nation_volume,
       ROUND(SUM(volume), 2)::DOUBLE AS total_volume,
       ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume
                           ELSE CAST(0 AS DECIMAL(12,4)) END) AS DOUBLE)
             / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share
FROM flat
GROUP BY o_year
ORDER BY o_year
""",
)
def tpch_q8_market_share(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    supp = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region").filter(F.col("r_name") == "REGION_0")
    part = t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    cn = nation.select("n_nationkey", "n_regionkey")
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    flat = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            (dec("l_extendedprice") * (1 - dec("l_discount"))).alias("volume"),
            "supp_nation",
        )
    )
    zero = F.lit(0).cast("decimal(12,4)")
    nat_vol = F.sum(
        F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(zero)
    )
    tot_vol = F.sum("volume")
    return (
        flat.groupBy(bigint(F.col("o_year")).alias("o_year"))
        .agg(
            d2(nat_vol).alias("nation_volume"),
            d2(tot_vol).alias("total_volume"),
            F.round(nat_vol.cast("double") / tot_vol.cast("double"), 6).alias(
                "mkt_share"
            ),
        )
        .orderBy("o_year")
    )


@register(
    "tpch_q9_product_profit",
    "analytics",
    doc="TPC-H Q9 shape: profit per supplier-nation per year over "
    "STANDARD parts, with cost proxied as qty × retailprice / 10 "
    "(no partsupp in the fixtures). Per-row profit is one exact decimal "
    "expression — the 0.1 factor is a scale-1 decimal multiply, never a "
    "division (decimal division falls to the double path in DuckDB and "
    "diverges at ROUND boundaries).",
    oracle="""
SELECT sn.n_name AS nation, CAST(YEAR(o.o_orderdate) AS BIGINT) AS o_year,
       ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,4))
               * (1 - CAST(l.l_discount AS DECIMAL(12,4)))
             - CAST(l.l_quantity AS DECIMAL(12,4))
               * CAST(p.p_retailprice AS DECIMAL(12,4))
               * CAST(0.1 AS DECIMAL(2,1))),
             2)::DOUBLE AS profit
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation sn ON s.s_nationkey = sn.n_nationkey
JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_type = 'STANDARD'
GROUP BY sn.n_name, YEAR(o.o_orderdate)
ORDER BY nation, o_year
""",
)
def tpch_q9_product_profit(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    supp = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    part = t(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    joined = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
    )
    tenth = F.lit(0.1).cast("decimal(2,1)")
    profit_row = dec("l_extendedprice") * (1 - dec("l_discount")) - dec(
        "l_quantity"
    ) * dec("p_retailprice") * tenth
    return (
        joined.groupBy(
            F.col("n_name").alias("nation"),
            bigint(F.year("o_orderdate")).alias("o_year"),
        )
        .agg(d2(F.sum(profit_row)).alias("profit"))
        .orderBy("nation", "o_year")
    )


@register(
    "tpch_q11_important_stock",
    "analytics",
    doc="TPC-H Q11 shape: parts whose pseudo-stock value exceeds 0.1% "
    "of the grand total. The threshold compare is 1000·value > total — "
    "exact decimal on both sides, no float epsilon. The grand total is "
    "a single-row broadcast (scalar subquery), not a re-aggregation.",
    oracle=f"""
WITH ps AS ({_SQL_PSEUDO_PARTSUPP}),
val AS (
    SELECT l_partkey, SUM(cost) AS value FROM ps GROUP BY l_partkey
)
SELECT l_partkey AS p_partkey, ROUND(value, 2)::DOUBLE AS stock_value
FROM val
WHERE 1000 * value > (SELECT SUM(cost) FROM ps)
ORDER BY stock_value DESC, p_partkey
""",
)
def tpch_q11_important_stock(spark, sf_dir):
    # One pass over the fact: the grand total is the sum of the per-part
    # aggregate, so persist the (small) per-part frame and derive both
    # sides from it instead of scanning lineitem twice. A shared store
    # frame (cross-session eviction, like the dedup signature index) so
    # repeated invocations don't accumulate persisted frames.
    val = store.frame(
        "tpch.q11_values",
        spark,
        sf_dir,
        lambda: _pseudo_partsupp(spark, sf_dir)
        .groupBy("l_partkey")
        .agg(F.sum("cost").alias("value")),
    )
    total = val.agg(F.sum("value").alias("grand_total"))
    return (
        val.join(F.broadcast(total))
        .filter(F.lit(1000) * F.col("value") > F.col("grand_total"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            d2(F.col("value")).alias("stock_value"),
        )
        .orderBy(F.desc("stock_value"), "p_partkey")
    )


@register(
    "tpch_q13_customer_distribution",
    "analytics",
    doc="TPC-H Q13 shape: distribution of customers by order count "
    "(urgent orders excluded — the fixtures have no comment column), "
    "zero-order customers included via left outer join. Two-level "
    "aggregation: per-customer count, then count-of-counts (second "
    "level is at most |distinct counts| rows).",
    oracle="""
WITH per_cust AS (
    SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
    FROM customer c
    LEFT JOIN orders o
      ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
    GROUP BY c.c_custkey
)
SELECT CAST(c_count AS BIGINT) AS c_count,
       CAST(COUNT(*) AS BIGINT) AS custdist
FROM per_cust
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
)
def tpch_q13_customer_distribution(spark, sf_dir):
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy(bigint(F.col("c_count")).alias("c_count"))
        .agg(bigint(F.count(F.lit(1))).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@register(
    "tpch_q14_promo_revenue",
    "analytics",
    doc="TPC-H Q14: PROMO-part share of September-1997 revenue. "
    "Date filter prunes the fact scan before the part join (strategy "
    "left to AQE — part scales with SF, no forced broadcast); "
    "both sums stay exact decimals until the final double division.",
    oracle="""
SELECT ROUND(SUM(CASE WHEN p.p_type = 'PROMO'
                 THEN CAST(l.l_extendedprice AS DECIMAL(12,4))
                      * (1 - CAST(l.l_discount AS DECIMAL(12,4)))
                 ELSE CAST(0 AS DECIMAL(12,4)) END), 2)::DOUBLE AS promo_revenue,
       ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,4))
               * (1 - CAST(l.l_discount AS DECIMAL(12,4)))), 2)::DOUBLE AS total_revenue,
       ROUND(100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                 THEN CAST(l.l_extendedprice AS DECIMAL(12,4))
                      * (1 - CAST(l.l_discount AS DECIMAL(12,4)))
                 ELSE CAST(0 AS DECIMAL(12,4)) END) AS DOUBLE)
             / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,4))
                      * (1 - CAST(l.l_discount AS DECIMAL(12,4)))) AS DOUBLE),
             6) AS promo_pct
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-09-01'
  AND l.l_shipdate < TIMESTAMP '1997-10-01'
""",
)
def tpch_q14_promo_revenue(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    part = t(spark, sf_dir, "part")
    vol = dec("l_extendedprice") * (1 - dec("l_discount"))
    zero = F.lit(0).cast("decimal(12,4)")
    promo = F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(zero))
    total = F.sum(vol)
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            d2(promo).alias("promo_revenue"),
            d2(total).alias("total_revenue"),
            F.round(
                F.lit(100.0) * promo.cast("double") / total.cast("double"), 6
            ).alias("promo_pct"),
        )
    )


@register(
    "tpch_q15_top_supplier",
    "analytics",
    doc="TPC-H Q15 shape: supplier(s) with the maximum Q1-1998 revenue "
    "— the revenue 'view' is a per-supplier decimal aggregate (≤ "
    "|suppliers| rows); the scalar max broadcasts back onto it, and "
    "the equality holds bit-exactly because both sides are the same "
    "exact decimal sum.",
    oracle="""
WITH revenue AS (
    SELECT l_suppkey AS supplier_no,
           SUM(CAST(l_extendedprice AS DECIMAL(12,4))
             * (1 - CAST(l_discount AS DECIMAL(12,4)))) AS total_rev
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1998-01-01'
      AND l_shipdate < TIMESTAMP '1998-04-01'
    GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, ROUND(r.total_rev, 2)::DOUBLE AS total_revenue
FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_rev = (SELECT MAX(total_rev) FROM revenue)
ORDER BY s.s_suppkey
""",
)
def tpch_q15_top_supplier(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-04-01").cast("timestamp"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(dec("l_extendedprice") * (1 - dec("l_discount"))).alias("total_rev")
    )
    max_rev = revenue.agg(F.max("total_rev").alias("max_rev"))
    supp = t(spark, sf_dir, "supplier")
    return (
        revenue.join(F.broadcast(max_rev))
        .filter(F.col("total_rev") == F.col("max_rev"))
        .join(supp, F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", d2(F.col("total_rev")).alias("total_revenue"))
        .orderBy("s_suppkey")
    )


@register(
    "tpch_q16_part_supplier_cnt",
    "analytics",
    doc="TPC-H Q16 shape: distinct suppliers able to supply each "
    "(brand, type, size) combo for a size set, excluding one brand — "
    "supplier relationships come from the lineitem pseudo-partsupp. "
    "COUNT(DISTINCT) shuffles once on the grouping key (exact ints).",
    oracle="""
SELECT p.p_brand, p.p_type, CAST(p.p_size AS BIGINT) AS p_size,
       CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#1'
  AND p.p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
GROUP BY p.p_brand, p.p_type, p.p_size
ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p_size
""",
)
def tpch_q16_part_supplier_cnt(spark, sf_dir):
    part = t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
    )
    li = t(spark, sf_dir, "lineitem")
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", bigint(F.col("p_size")).alias("p_size"))
        .agg(bigint(F.countDistinct("l_suppkey")).alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@register(
    "tpch_q17_small_quantity",
    "analytics",
    doc="TPC-H Q17 shape: revenue from line items below 20% of their "
    "part's average quantity, for one brand. The avg threshold compare "
    "is cross-multiplied into exact decimals (5·qty·cnt < sum_qty) — "
    "no float quotient in the predicate. Per-part stats are computed "
    "ONLY for partkeys surviving the brand filter (semi-join before the "
    "aggregate), so the stats side is bounded by the predicate's "
    "selectivity (~1/brand_count of |part|), not |part| itself. Even "
    "so, that bound still scales linearly with SF, so join strategy is "
    "left to AQE rather than forced with a broadcast hint.",
    oracle="""
WITH stats AS (
    SELECT l_partkey, COUNT(*) AS cnt,
           SUM(CAST(l_quantity AS DECIMAL(12,4))) AS sum_qty
    FROM lineitem GROUP BY l_partkey
)
SELECT ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,4))) / 7, 2)::DOUBLE
         AS avg_yearly,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN stats st ON st.l_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#3'
  AND 5 * CAST(l.l_quantity AS DECIMAL(12,4)) * st.cnt < st.sum_qty
""",
)
def tpch_q17_small_quantity(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    # Semi-join the fact against the filtered dim BEFORE aggregating:
    # stats cardinality is then bounded by the brand predicate. AQE
    # picks the join strategy (broadcast at local SF, shuffle at 100×).
    stats = (
        li.join(
            part.select("p_partkey"),
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .groupBy(F.col("l_partkey").alias("st_partkey"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(dec("l_quantity")).alias("sum_qty"),
        )
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(stats, F.col("l_partkey") == F.col("st_partkey"))
        .filter(F.lit(5) * dec("l_quantity") * F.col("cnt") < F.col("sum_qty"))
        .agg(
            d2(F.sum(dec("l_extendedprice")) / 7).alias("avg_yearly"),
            bigint(F.count(F.lit(1))).alias("n_items"),
        )
    )


@register(
    "tpch_q18_large_volume",
    "analytics",
    doc="TPC-H Q18 shape: top-100 large-volume orders (total quantity "
    "> 150). The HAVING filter runs on the per-order aggregate before "
    "the customer join, so only qualifying orders (a tiny set) reach "
    "the join; top-100 via TakeOrderedAndProject.",
    oracle="""
WITH big AS (
    SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(12,4))) AS sum_qty
    FROM lineitem GROUP BY l_orderkey
    HAVING SUM(CAST(l_quantity AS DECIMAL(12,4))) > 150
)
SELECT c.c_name, c.c_custkey, o.o_orderkey,
       STRFTIME(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
       ROUND(CAST(o.o_totalprice AS DECIMAL(12,4)), 2)::DOUBLE AS o_totalprice,
       ROUND(b.sum_qty, 2)::DOUBLE AS total_qty
FROM big b
JOIN orders o ON b.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
ORDER BY o_totalprice DESC, o.o_orderkey
LIMIT 100
""",
)
def tpch_q18_large_volume(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dec("l_quantity")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            d2(dec("o_totalprice")).alias("o_totalprice"),
            d2(F.col("sum_qty")).alias("total_qty"),
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


@register(
    "tpch_q19_disjunctive",
    "analytics",
    doc="TPC-H Q19 shape: revenue under three OR'd brand/size/quantity "
    "predicate bundles — the disjunction sits above the part equi-join "
    "(strategy left to AQE), exercising non-pushable compound "
    "predicates; the conjunct equi-key still hash-joins.",
    oracle="""
SELECT ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,4))
               * (1 - CAST(l.l_discount AS DECIMAL(12,4)))), 2)::DOUBLE AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 20 AND 30)
""",
)
def tpch_q19_disjunctive(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .filter(cond)
        .agg(
            d2(F.sum(dec("l_extendedprice") * (1 - dec("l_discount")))).alias(
                "revenue"
            ),
            bigint(F.count(F.lit(1))).alias("n_items"),
        )
    )


@register(
    "tpch_q21_waiting_suppliers",
    "analytics",
    doc="TPC-H Q21 shape: suppliers whose line item shipped >90 days "
    "after the order date on a multi-supplier order where some other "
    "supplier shipped on time and no other supplier was late. The "
    "EXISTS/NOT-EXISTS pair is rewritten as per-order distinct-supplier "
    "sets over ONE window partitioned on l_orderkey: another supplier "
    "exists iff |suppliers(order)| >= 2, and no OTHER supplier is late "
    "iff |late_suppliers(order)| == 1 (it contains me — I'm late). One "
    "lineitem scan + one orderkey shuffle replace the naive triple "
    "self-reference (three fact scans + semi/anti joins); per-order "
    "set state is bounded by lineitems-per-order (~7), never corpus "
    "size. Late-ness derives from l_shipdate (the fixtures have no "
    "commit/receipt dates). The oracle keeps the declarative "
    "EXISTS/NOT-EXISTS form — the rewrite must be a pure optimization.",
    oracle="""
WITH li AS (
    SELECT l.l_orderkey, l.l_suppkey,
           l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY AS is_late
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = 'F'
)
SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM li l1
JOIN supplier s ON l1.l_suppkey = s.s_suppkey
WHERE l1.is_late
  AND EXISTS (SELECT 1 FROM li l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM li l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.is_late)
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name
""",
)
def tpch_q21_waiting_suppliers(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    base = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        ).alias("is_late"),
    )
    # One window over the orderkey partition computes both existence
    # tests from the distinct-supplier sets (collect_set drops the NULLs
    # the when() leaves for on-time rows); ≤ ~7 lineitems per order, so
    # per-key state is O(1) at any corpus scale.
    w = Window.partitionBy("l_orderkey")
    waiting = (
        base.withColumn("n_supp", F.size(F.collect_set("l_suppkey").over(w)))
        .withColumn(
            "n_late_supp",
            F.size(
                F.collect_set(
                    F.when(F.col("is_late"), F.col("l_suppkey"))
                ).over(w)
            ),
        )
        .filter(
            F.col("is_late") & (F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1)
        )
    )
    supp = t(spark, sf_dir, "supplier")
    return (
        waiting.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(bigint(F.count(F.lit(1))).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
    )


@register(
    "tpch_q22_global_sales",
    "analytics",
    doc="TPC-H Q22 shape: per-nation count and balance of rich "
    "customers (balance above the positive-balance average) who never "
    "ordered. The average compare cross-multiplies into exact decimals "
    "(bal·n_pos > sum_pos); no-orders is a left-anti join against the "
    "orders key.",
    oracle="""
WITH pos AS (
    SELECT COUNT(*) AS n_pos,
           SUM(CAST(c_acctbal AS DECIMAL(12,4))) AS sum_pos
    FROM customer WHERE c_acctbal > 0
)
SELECT CAST(c.c_nationkey AS BIGINT) AS nationkey,
       CAST(COUNT(*) AS BIGINT) AS numcust,
       ROUND(SUM(CAST(c.c_acctbal AS DECIMAL(12,4))), 2)::DOUBLE AS totacctbal
FROM customer c, pos
WHERE CAST(c.c_acctbal AS DECIMAL(12,4)) * pos.n_pos > pos.sum_pos
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY c.c_nationkey
ORDER BY nationkey
""",
)
def tpch_q22_global_sales(spark, sf_dir):
    cust = t(spark, sf_dir, "customer")
    pos = cust.filter(F.col("c_acctbal") > 0).agg(
        F.count(F.lit(1)).alias("n_pos"),
        F.sum(dec("c_acctbal")).alias("sum_pos"),
    )
    orders = t(spark, sf_dir, "orders").select("o_custkey")
    rich = (
        cust.join(F.broadcast(pos))
        .filter(dec("c_acctbal") * F.col("n_pos") > F.col("sum_pos"))
        .join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
    )
    return (
        rich.groupBy(bigint(F.col("c_nationkey")).alias("nationkey"))
        .agg(
            bigint(F.count(F.lit(1))).alias("numcust"),
            d2(F.sum(dec("c_acctbal"))).alias("totacctbal"),
        )
        .orderBy("nationkey")
    )


@register(
    "tpch_q20_potential_promotion",
    "analytics",
    doc="TPC-H Q20 shape (completes the Q1-Q22 set): suppliers whose "
    "1997 shipped quantity of 'small' parts exceeds half their all-time "
    "shipped quantity of those parts — the nested-aggregate + double "
    "semi-join chain. The part filter is semi-joined below the "
    "per-(part,supp) aggregate, so the agg only sees filtered partkeys "
    "(same boundedness discipline as Q17; join strategy left to AQE "
    "since the filtered part set scales with SF); the threshold "
    "compare is 2*qty_win > qty_total in exact decimals.",
    oracle="""
WITH target AS (SELECT p_partkey FROM part WHERE p_name LIKE 'small%'),
qty AS (
    SELECT l_partkey, l_suppkey,
           SUM(CASE WHEN l_shipdate >= DATE '1997-01-01'
                     AND l_shipdate < DATE '1998-01-01'
                    THEN CAST(l_quantity AS DECIMAL(12,4)) ELSE 0 END) AS qty_win,
           SUM(CAST(l_quantity AS DECIMAL(12,4))) AS qty_total
    FROM lineitem
    WHERE l_partkey IN (SELECT p_partkey FROM target)
    GROUP BY l_partkey, l_suppkey
)
SELECT s.s_suppkey, s.s_name
FROM supplier s
WHERE s.s_suppkey IN (SELECT l_suppkey FROM qty WHERE 2 * qty_win > qty_total)
ORDER BY s.s_suppkey
""",
)
def tpch_q20_potential_promotion(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    target = t(spark, sf_dir, "part").filter(F.col("p_name").like("small%")).select("p_partkey")
    qty = (
        li.join(target, F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(
                F.when(
                    (F.col("l_shipdate") >= "1997-01-01")
                    & (F.col("l_shipdate") < "1998-01-01"),
                    dec("l_quantity"),
                ).otherwise(F.lit(0).cast("decimal(12,4)"))
            ).alias("qty_win"),
            F.sum(dec("l_quantity")).alias("qty_total"),
        )
        .filter(F.lit(2) * F.col("qty_win") > F.col("qty_total"))
        .select("l_suppkey")
    )
    sup = t(spark, sf_dir, "supplier")
    return (
        sup.join(qty, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )
