"""Join operators (SURVEY.md §2B Joins).

Scale strategy: dimension tables (region/nation/supplier/customer/part)
get explicit ``F.broadcast`` hints — at 100 TB the fact table never
shuffles for a dim join. Fact-to-fact joins (lineitem⨝orders) are left to
Catalyst's sort-merge with AQE skew splitting; both sides shuffle on the
join key once, and co-partitioned layouts (bucketing) would remove even
that on a real deployment.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cascade_spark.plans.registry import register
from cascade_spark.operators._util import d2, dec, t


@register(
    "join_inner",
    doc="Inner equi-join lineitem⨝orders (fact-fact sort-merge join; AQE "
    "may switch to broadcast at small SF).",
    oracle="""
SELECT o_orderstatus,
       COUNT(*) AS n_lines,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                      * (1 - CAST(l_discount AS DECIMAL(12,4)))), 2) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def join_inner(spark, sf_dir):
    li, o = t(spark, sf_dir, "lineitem"), t(spark, sf_dir, "orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey, "inner")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            d2(F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))).alias("revenue"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "join_left_outer",
    doc="Left outer join keeping customers with zero orders.",
    oracle="""
SELECT c.c_custkey, c.c_name,
       COUNT(o.o_orderkey) AS n_orders,
       CAST(ROUND(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(12,4))), 0), 2) AS DOUBLE) AS total_spent
FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY c.c_custkey, c.c_name
ORDER BY c.c_custkey
""",
)
def join_left_outer(spark, sf_dir):
    c, o = t(spark, sf_dir, "customer"), t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            d2(F.coalesce(F.sum(dec("o_totalprice")), F.lit(0).cast("decimal(22,4)"))).alias(
                "total_spent"
            ),
        )
        .orderBy("c_custkey")
    )


@register(
    "join_right_outer",
    doc="Right outer join keeping parts never shipped.",
    oracle="""
SELECT p.p_partkey, COUNT(l.l_orderkey) AS n_lines
FROM lineitem l RIGHT JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p.p_partkey
ORDER BY p.p_partkey
""",
)
def join_right_outer(spark, sf_dir):
    li, p = t(spark, sf_dir, "lineitem"), t(spark, sf_dir, "part")
    return (
        li.join(p, li.l_partkey == p.p_partkey, "right")
        .groupBy("p_partkey")
        .agg(F.count("l_orderkey").alias("n_lines"))
        .orderBy("p_partkey")
    )


@register(
    "join_full_outer",
    doc="Full outer join of event actors vs the customer dimension.",
    oracle="""
SELECT COALESCE(e.user_id, c.c_custkey) AS uid,
       COALESCE(e.n_events, 0) AS n_events,
       c.c_name
FROM (SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id) e
FULL OUTER JOIN customer c ON e.user_id = c.c_custkey
ORDER BY uid
""",
)
def join_full_outer(spark, sf_dir):
    ev, c = t(spark, sf_dir, "events"), t(spark, sf_dir, "customer")
    e = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    return (
        e.join(c, e.user_id == c.c_custkey, "full")
        .select(
            F.coalesce(F.col("user_id"), F.col("c_custkey")).alias("uid"),
            F.coalesce(F.col("n_events"), F.lit(0)).alias("n_events"),
            "c_name",
        )
        .orderBy("uid")
    )


@register(
    "join_left_semi",
    doc="Left semi join (EXISTS): customers who have placed orders. "
    "Semi joins never widen rows — at scale this is the cheap existence "
    "filter (only the key column of the right side shuffles).",
    oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
ORDER BY c_custkey
""",
)
def join_left_semi(spark, sf_dir):
    c, o = t(spark, sf_dir, "customer"), t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@register(
    "join_left_anti",
    doc="Left anti join (NOT EXISTS): event actors that are not customers.",
    oracle="""
SELECT DISTINCT user_id FROM events e
WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)
ORDER BY user_id
""",
)
def join_left_anti(spark, sf_dir):
    ev, c = t(spark, sf_dir, "events"), t(spark, sf_dir, "customer")
    return (
        ev.join(c, ev.user_id == c.c_custkey, "left_anti")
        .select("user_id")
        .distinct()
        .orderBy("user_id")
    )


@register(
    "join_cross",
    doc="Cross join over the two fixed-size catalogs (125 rows at any SF "
    "— cross joins are only ever sane between broadcast-size inputs).",
    oracle="""
SELECT r.r_name, n.n_name
FROM region r CROSS JOIN nation n
ORDER BY r.r_name, n.n_name
""",
)
def join_cross(spark, sf_dir):
    r, n = t(spark, sf_dir, "region"), t(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name").orderBy("r_name", "n_name")


@register(
    "join_theta",
    doc="Theta join: equi component (nation) + inequality (acctbal). "
    "Planned as a join on the equi key with the inequality as residual — "
    "the scalable shape for band/theta joins.",
    oracle="""
SELECT s.s_suppkey, COUNT(*) AS n_poorer_customers
FROM supplier s JOIN customer c
  ON s.s_nationkey = c.c_nationkey AND s.s_acctbal > c.c_acctbal
GROUP BY s.s_suppkey
ORDER BY s.s_suppkey
""",
)
def join_theta(spark, sf_dir):
    s, c = t(spark, sf_dir, "supplier"), t(spark, sf_dir, "customer")
    return (
        s.join(c, (s.s_nationkey == c.c_nationkey) & (s.s_acctbal > c.c_acctbal), "inner")
        .groupBy("s_suppkey")
        .agg(F.count(F.lit(1)).alias("n_poorer_customers"))
        .orderBy("s_suppkey")
    )


@register(
    "join_star",
    doc="Multi-way star join lineitem⨝orders⨝customer⨝nation⨝region. "
    "Fixed-size nation/region (25/5 rows) carry explicit broadcast "
    "hints; the SF-scaling customer join is left to AQE (broadcast at "
    "local SF, shuffle/bucketed at 100×) — the 100 TB plan is the fact "
    "shuffle pair plus one bounded customer exchange, never a forced "
    "multi-GB broadcast.",
    oracle="""
SELECT r_name, CAST(YEAR(o_orderdate) AS BIGINT) AS order_year,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                      * (1 - CAST(l_discount AS DECIMAL(12,4)))), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, YEAR(o_orderdate)
ORDER BY r_name, order_year
""",
)
def join_star(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", F.year("o_orderdate").cast("long").alias("order_year"))
        .agg(d2(F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))).alias("revenue"))
        .orderBy("r_name", "order_year")
    )


@register(
    "join_runtime_filtered_fact",
    doc="Selective dim filter on a fact join — the shape where Spark's "
    "runtime bloom filter (InjectRuntimeFilter) pays off at 100 TB: the "
    "filtered customer side builds a bloom filter that prunes orders "
    "rows *before* the shuffle, so the fact-side exchange carries only "
    "prospective matches. tests/test_plans.py asserts the might_contain "
    "injection under production thresholds; at local fixture scale AQE "
    "broadcasts instead (same rows either way).",
    oracle="""
SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
       COUNT(*) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,4))), 2) AS DOUBLE) AS total_price
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY c_nationkey
ORDER BY nationkey
""",
)
def join_runtime_filtered_fact(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_nationkey").cast("long").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            d2(F.sum(dec("o_totalprice"))).alias("total_price"),
        )
        .orderBy("nationkey")
    )


@register(
    "join_null_safe",
    doc="Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL "
    "matches NULL, unlike plain '=' which drops NULL keys from an inner "
    "join. Keys are nation ids with one value NULLed out on both sides "
    "to exercise the NULL-bucket; output is the per-key pair count so "
    "the NULL×NULL cross-bucket's cardinality is asserted exactly. "
    "Plans as a regular hash join (null-safe equality is still an "
    "equi-key: Spark wraps the key in a coalesce-struct), NOT a "
    "nested-loop.",
    oracle="""
WITH c AS (SELECT NULLIF(c_nationkey, 3) AS k FROM customer),
s AS (SELECT NULLIF(s_nationkey, 3) AS k FROM supplier)
SELECT c.k AS k, COUNT(*) AS n_pairs
FROM c JOIN s ON c.k IS NOT DISTINCT FROM s.k
GROUP BY c.k
ORDER BY k NULLS FIRST
""",
)
def join_null_safe(spark, sf_dir):
    c = t(spark, sf_dir, "customer").select(
        F.nullif(F.col("c_nationkey"), F.lit(3)).alias("k")
    )
    s = t(spark, sf_dir, "supplier").select(
        F.nullif(F.col("s_nationkey"), F.lit(3)).alias("ks")
    )
    return (
        c.join(s, F.col("k").eqNullSafe(F.col("ks")))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy(F.col("k").asc_nulls_first())
    )
