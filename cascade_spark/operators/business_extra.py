"""Round-9 wave — market-structure and retention analytics over the
TPC-H tables (the business readouts next to analytics_abc_pareto and
events_retention_cohorts):

- ``analytics_supplier_hhi``: the Herfindahl-Hirschman concentration
  index of supplier revenue within each nation — scale-8-exact
  revenue FLOORED to whole currency units (shares are scale-invariant
  and every square stays inside 128 bits), HHI = sum(r_i^2) * 1e8 DIV
  R^2 as one integer rational; the antitrust-style "is this market
  one supplier?" screen.
- ``analytics_repeat_purchase_rate``: per market segment, the share of
  customers whose SECOND order lands within 30/90 days of their first
  — the classic retention readout, exact date arithmetic off one
  window pass partitioned by customer.

Reference scope: declared aggregates over ``lineitem`` / ``supplier``
/ ``nation`` / ``orders`` / ``customer`` per SURVEY §2B.

Scale (100 TB): revenue rolls up map-side-combinably to (nation,
supplier) with nation/supplier dims broadcast; the retention pass is
one window over orders partitioned by custkey then a segment rollup —
no self-joins, shuffle-once each.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from cascade_spark.operators._util import bigint, t
from cascade_spark.plans.registry import register

BP = 10_000
E8 = 100_000_000


@register(
    "analytics_supplier_hhi",
    doc="Herfindahl-Hirschman index of supplier revenue concentration "
    "per nation: per-supplier revenue sum(extendedprice*(1-discount)) "
    "is exact at scale 8 and FLOORS to whole currency units (shares "
    "are scale-invariant — declared truncation keeping every square "
    "inside 128 bits), and HHI = sum(r_i^2) * 1e8 DIV (sum r_i)^2 — "
    "1e8 = monopoly, 1e8/n = perfect split. Emits supplier count, the top supplier share in "
    "bp, and the HHI — the market-structure screen behind sourcing "
    "risk. Supplier->nation is a broadcast dim join; squares ride "
    "DECIMAL(38,0)/HUGEINT.",
    oracle=f"""
WITH rev AS (
    SELECT s.s_nationkey,
           l.l_suppkey,
           CAST(FLOOR(SUM(CAST(l.l_extendedprice AS DECIMAL(12,4))
                    * (1 - CAST(l.l_discount AS DECIMAL(12,4)))))
                AS HUGEINT) AS rm
    FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
    GROUP BY 1, 2
),
nat AS (
    SELECT r.s_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           CAST(SUM(r.rm) AS HUGEINT) AS total_rm,
           CAST(SUM(r.rm * r.rm) AS HUGEINT) AS sq_rm,
           CAST(MAX(r.rm) AS HUGEINT) AS max_rm
    FROM rev r GROUP BY 1
)
SELECT n.n_name,
       nat.n_suppliers,
       CAST(CASE WHEN nat.total_rm = 0 THEN 0
                 ELSE (nat.max_rm * {BP}) // nat.total_rm END AS BIGINT)
           AS top_share_bp,
       CAST(CASE WHEN nat.total_rm = 0 THEN 0
                 ELSE (nat.sq_rm * {E8}) // (nat.total_rm * nat.total_rm)
            END AS BIGINT) AS hhi_e8
FROM nat JOIN nation n ON n.n_nationkey = nat.s_nationkey
ORDER BY n.n_name
""",
)
def analytics_supplier_hhi(spark, sf_dir):
    dec = "decimal(38,0)"
    li = t(spark, sf_dir, "lineitem")
    sup = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    money = F.col("l_extendedprice").cast("decimal(12,4)") * (
        1 - F.col("l_discount").cast("decimal(12,4)")
    )
    rev = (
        li.join(F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"])
        .groupBy("s_nationkey", "l_suppkey")
        .agg(F.floor(F.sum(money)).cast(dec).alias("rm"))
    )
    nat = rev.groupBy("s_nationkey").agg(
        bigint(F.count(F.lit(1))).alias("n_suppliers"),
        F.sum("rm").cast(dec).alias("total_rm"),
        F.sum(F.col("rm") * F.col("rm")).cast(dec).alias("sq_rm"),
        F.max("rm").cast(dec).alias("max_rm"),
    )
    return (
        nat.join(
            F.broadcast(nation), nat["s_nationkey"] == nation["n_nationkey"]
        )
        .select(
            "n_name",
            "n_suppliers",
            F.expr(
                f"CAST(CASE WHEN total_rm = 0 THEN 0"
                f" ELSE (max_rm * {BP}) DIV total_rm END AS BIGINT)"
            ).alias("top_share_bp"),
            F.expr(
                f"CAST(CASE WHEN total_rm = 0 THEN 0"
                f" ELSE (sq_rm * {E8}) DIV (total_rm * total_rm)"
                f" END AS BIGINT)"
            ).alias("hhi_e8"),
        )
        .orderBy("n_name")
    )


@register(
    "analytics_repeat_purchase_rate",
    doc="Repeat-purchase retention per market segment: for each "
    "customer, the gap in days between the FIRST and SECOND order "
    "(ties broken by orderkey — declared), rolled up to the share of "
    "multi-order customers converting within 30 and 90 days, in "
    "truncated bp. One window pass partitioned by custkey, then a "
    "segment rollup with the customer dim broadcast — the classic "
    "retention curve anchor points.",
    oracle="""
WITH seq AS (
    SELECT o_custkey,
           CAST(o_orderdate AS DATE) AS d,
           ROW_NUMBER() OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate, o_orderkey) AS rn
    FROM orders
),
fs AS (
    SELECT o_custkey,
           MAX(CASE WHEN rn = 1 THEN d END) AS first_d,
           MAX(CASE WHEN rn = 2 THEN d END) AS second_d
    FROM seq WHERE rn <= 2 GROUP BY 1
),
lab AS (
    SELECT c.c_mktsegment,
           CASE WHEN f.second_d IS NOT NULL THEN 1 ELSE 0 END AS has_repeat,
           CASE WHEN f.second_d IS NOT NULL
                 AND f.second_d - f.first_d <= 30 THEN 1 ELSE 0 END AS r30,
           CASE WHEN f.second_d IS NOT NULL
                 AND f.second_d - f.first_d <= 90 THEN 1 ELSE 0 END AS r90
    FROM fs f JOIN customer c ON c.c_custkey = f.o_custkey
)
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(has_repeat) AS BIGINT) AS n_repeat,
       CAST((SUM(r30) * 10000) // COUNT(*) AS BIGINT) AS repeat_30d_bp,
       CAST((SUM(r90) * 10000) // COUNT(*) AS BIGINT) AS repeat_90d_bp
FROM lab
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)
def analytics_repeat_purchase_rate(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.select(
        "o_custkey",
        F.to_date("o_orderdate").alias("d"),
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("rn") <= 2)
    fs = seq.groupBy("o_custkey").agg(
        F.max(F.when(F.col("rn") == 1, F.col("d"))).alias("first_d"),
        F.max(F.when(F.col("rn") == 2, F.col("d"))).alias("second_d"),
    )
    lab = fs.join(
        F.broadcast(cust), fs["o_custkey"] == cust["c_custkey"]
    ).select(
        "c_mktsegment",
        F.when(F.col("second_d").isNotNull(), 1).otherwise(0).alias("has_repeat"),
        F.when(
            F.col("second_d").isNotNull()
            & (F.datediff("second_d", "first_d") <= 30),
            1,
        )
        .otherwise(0)
        .alias("r30"),
        F.when(
            F.col("second_d").isNotNull()
            & (F.datediff("second_d", "first_d") <= 90),
            1,
        )
        .otherwise(0)
        .alias("r90"),
    )
    return (
        lab.groupBy("c_mktsegment")
        .agg(
            bigint(F.count(F.lit(1))).alias("n_customers"),
            bigint(F.sum("has_repeat")).alias("n_repeat"),
            F.expr("CAST((SUM(r30) * 10000) DIV COUNT(*) AS BIGINT)").alias(
                "repeat_30d_bp"
            ),
            F.expr("CAST((SUM(r90) * 10000) DIV COUNT(*) AS BIGINT)").alias(
                "repeat_90d_bp"
            ),
        )
        .orderBy("c_mktsegment")
    )
