"""Set operations (SURVEY.md §2B Set operations)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from cascade_spark.plans.registry import register
from cascade_spark.operators._util import t


def _actors(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    c = t(spark, sf_dir, "customer")
    return ev.select(F.col("user_id").alias("uid")), c.select(F.col("c_custkey").alias("uid"))


@register(
    "setop_union",
    doc="UNION ALL + UNION (distinct) counts over event actors vs customer "
    "keys.",
    oracle="""
SELECT
  (SELECT COUNT(*) FROM (SELECT user_id AS uid FROM events
                         UNION ALL SELECT c_custkey FROM customer)) AS n_union_all,
  (SELECT COUNT(*) FROM (SELECT user_id AS uid FROM events
                         UNION SELECT c_custkey FROM customer)) AS n_union_distinct
""",
)
def setop_union(spark, sf_dir):
    e, c = _actors(spark, sf_dir)
    n_all = e.unionAll(c).agg(F.count(F.lit(1)).alias("n_union_all"))
    n_dist = e.union(c).distinct().agg(F.count(F.lit(1)).alias("n_union_distinct"))
    return n_all.crossJoin(n_dist)


@register(
    "setop_intersect",
    doc="INTERSECT: actors that are also customers.",
    oracle="""
SELECT user_id AS uid FROM events
INTERSECT
SELECT c_custkey FROM customer
ORDER BY uid
""",
)
def setop_intersect(spark, sf_dir):
    e, c = _actors(spark, sf_dir)
    return e.intersect(c).orderBy("uid")


@register(
    "setop_except",
    doc="EXCEPT (distinct): customer keys with no events.",
    oracle="""
SELECT c_custkey AS uid FROM customer
EXCEPT
SELECT user_id FROM events
ORDER BY uid
""",
)
def setop_except(spark, sf_dir):
    e, c = _actors(spark, sf_dir)
    return c.exceptAll(e).distinct().orderBy("uid")


@register(
    "setop_dedup_keep_first",
    doc="Deterministic dropDuplicates: keep the lowest doc_id per "
    "(lang, source) — dropDuplicates itself keeps an arbitrary row, so "
    "the deterministic form is the row_number composition (SURVEY §2B "
    "dedup north-star, exact flavor).",
    oracle="""
SELECT lang, source, doc_id
FROM (
    SELECT lang, source, doc_id,
           ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn
    FROM documents
)
WHERE rn = 1
ORDER BY lang, source
""",
)
def setop_dedup_keep_first(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang", "source").orderBy("doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("lang", "source", "doc_id")
        .orderBy("lang", "source")
    )


@register(
    "setop_bag_all_variants",
    doc="Multiset (bag) semantics: EXCEPT ALL keeps duplicate "
    "multiplicity differences, INTERSECT ALL keeps min multiplicity — "
    "distinct from the plain EXCEPT/INTERSECT queries above. Spark "
    "plans both as hash aggregations over (value, count), no sort.",
    oracle="""
WITH a AS (SELECT o_orderpriority AS pri FROM orders WHERE o_totalprice > 50000.0),
b AS (SELECT o_orderpriority AS pri FROM orders WHERE o_orderstatus = 'F')
SELECT 'except_all' AS op, pri, COUNT(*) AS n
FROM (SELECT pri FROM a EXCEPT ALL SELECT pri FROM b)
GROUP BY pri
UNION ALL
SELECT 'intersect_all' AS op, pri, COUNT(*) AS n
FROM (SELECT pri FROM a INTERSECT ALL SELECT pri FROM b)
GROUP BY pri
ORDER BY op, pri
""",
)
def setop_bag_all_variants(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_totalprice") > 50000.0).select(F.col("o_orderpriority").alias("pri"))
    b = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_orderpriority").alias("pri"))
    ex = (
        a.exceptAll(b)
        .groupBy("pri")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("except_all").alias("op"), "pri", "n")
    )
    inter = (
        a.intersectAll(b)
        .groupBy("pri")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("intersect_all").alias("op"), "pri", "n")
    )
    return ex.unionAll(inter).orderBy("op", "pri")
