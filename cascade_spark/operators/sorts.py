"""Sort / limit / top-k operators (SURVEY.md §2B).

Global ``orderBy().limit(k)`` compiles to TakeOrderedAndProject — each
partition keeps only its local top-k and the driver merges k·p rows, so
a top-20 over 100 TB never materializes a global sort. Per-group top-k
is the row_number-window + filter composition (one shuffle on the group
key).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from cascade_spark.plans.registry import register
from cascade_spark.operators._util import bigint, t


@register(
    "sort_topk_global",
    doc="Global top-20 by price (TakeOrderedAndProject — no full sort). "
    "Tie-broken by orderkey for determinism.",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20
""",
)
def sort_topk_global(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(20)
    )


@register(
    "sort_global_nulls",
    doc="Global multi-key sort with explicit null ordering (nulls appear "
    "via a left join).",
    oracle="""
SELECT c.c_custkey, c.c_mktsegment, MAX(o.o_totalprice) AS max_price
FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY c.c_custkey, c.c_mktsegment
ORDER BY max_price DESC NULLS LAST, c.c_custkey
""",
)
def sort_global_nulls(spark, sf_dir):
    c, o = t(spark, sf_dir, "customer"), t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(F.max("o_totalprice").alias("max_price"))
        .orderBy(F.col("max_price").desc_nulls_last(), "c_custkey")
    )


@register(
    "sort_topk_per_group",
    doc="Top-3 orders per customer (row_number window + filter).",
    oracle="""
SELECT o_custkey, o_orderkey, o_totalprice, rn
FROM (
    SELECT o_custkey, o_orderkey, o_totalprice,
           ROW_NUMBER() OVER (PARTITION BY o_custkey
                              ORDER BY o_totalprice DESC, o_orderkey) AS rn
    FROM orders
)
WHERE rn <= 3
ORDER BY o_custkey, rn
""",
)
def sort_topk_per_group(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")
    )


@register(
    "sort_collated_order",
    doc="Collation-aware distinct counting under UTF8_LCASE "
    "(lowercase-then-binary comparison, Spark 4 collations): over a "
    "mixed-case name corpus (nation names union their lowercased "
    "forms), count per-trailing-character distinct names case-insensitively "
    "(COLLATE UTF8_LCASE) vs binary — the two columns DIVERGE on "
    "every group, so the collation semantics are hash-visible in the "
    "values, not just in row order. For ASCII data UTF8_LCASE equals "
    "DuckDB's COUNT(DISTINCT lower(x)) exactly. One combinable pass "
    "over a 25x2-row frame; at scale this is the dictionary-side "
    "normalization pass of a case-insensitive join.",
    oracle="""
WITH names AS (
    SELECT n_name AS nm FROM nation
    UNION ALL
    SELECT lower(n_name) FROM nation
)
SELECT lower(substr(nm, length(nm), 1)) AS last_char,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT lower(nm)) AS BIGINT) AS n_distinct_ci,
       CAST(COUNT(DISTINCT nm) AS BIGINT) AS n_distinct_binary,
       MIN(lower(nm)) AS min_name_ci
FROM names GROUP BY 1 ORDER BY last_char
""",
)
def sort_collated_order(spark, sf_dir):
    n = t(spark, sf_dir, "nation")
    names = n.select(F.col("n_name").alias("nm")).unionAll(
        n.select(F.lower("n_name").alias("nm"))
    )
    return (
        names.groupBy(
            F.lower(F.expr("substr(nm, length(nm), 1)")).alias("last_char")
        )
        .agg(
            bigint(F.count(F.lit(1))).alias("n_rows"),
            bigint(
                F.count_distinct(F.expr("nm COLLATE UTF8_LCASE"))
            ).alias("n_distinct_ci"),
            bigint(F.count_distinct("nm")).alias("n_distinct_binary"),
            F.min(F.lower("nm")).alias("min_name_ci"),
        )
        .orderBy("last_char")
    )
