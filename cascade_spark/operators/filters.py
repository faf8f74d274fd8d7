"""Projection / filter / predicate operators (SURVEY.md §2B).

All predicates here are Catalyst-pushable: at 100 TB they reach the
parquet scan as PushedFilters (row-group stat skipping) and the SELECT
list prunes ReadSchema — verified in tests/test_plans.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cascade_spark.plans.registry import register
from cascade_spark.operators._util import t


@register(
    "filter_point_lookup",
    doc="Equality point lookup — the reference's consume-by-offset "
    "(src/broker/main.rs:124-164; consumer asks for event 4, "
    "src/consumer/main.rs:22).",
    oracle="""
SELECT event_id, user_id, event_type, value
FROM events WHERE event_id = 4
""",
)
def filter_point_lookup(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return ev.filter(F.col("event_id") == 4).select("event_id", "user_id", "event_type", "value")


@register(
    "filter_range",
    doc="Range predicate (reference index-range read analog, "
    "src/broker/main.rs:148-156).",
    oracle="""
SELECT event_id, event_type, value
FROM events
WHERE event_id BETWEEN 100 AND 199 AND value > 50.0
ORDER BY event_id
""",
)
def filter_range(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_id").between(100, 199) & (F.col("value") > 50.0))
        .select("event_id", "event_type", "value")
        .orderBy("event_id")
    )


@register(
    "filter_compound",
    doc="Compound predicates: AND/OR/NOT, IN, IS NULL.",
    oracle="""
SELECT o_orderkey, o_orderstatus, o_totalprice
FROM orders
WHERE (o_orderstatus IN ('F', 'O'))
  AND NOT (o_totalprice < 1000.0)
  AND o_orderpriority IS NOT NULL
  AND (o_totalprice > 50000.0 OR o_orderstatus = 'F')
ORDER BY o_orderkey
""",
)
def filter_compound(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    return (
        o.filter(
            F.col("o_orderstatus").isin("F", "O")
            & ~(F.col("o_totalprice") < 1000.0)
            & F.col("o_orderpriority").isNotNull()
            & ((F.col("o_totalprice") > 50000.0) | (F.col("o_orderstatus") == "F"))
        )
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
    )


@register(
    "filter_like_regex",
    doc="LIKE and regex predicates (dialect-common subset so the DuckDB "
    "oracle agrees — SURVEY §2B risk note).",
    oracle="""
SELECT p_partkey, p_name, p_brand
FROM part
WHERE p_name LIKE '%a%' AND REGEXP_MATCHES(p_brand, 'Brand#1[0-9]')
ORDER BY p_partkey
""",
)
def filter_like_regex(spark, sf_dir):
    p = t(spark, sf_dir, "part")
    return (
        p.filter(F.col("p_name").like("%a%") & F.col("p_brand").rlike("Brand#1[0-9]"))
        .select("p_partkey", "p_name", "p_brand")
        .orderBy("p_partkey")
    )


@register(
    "filter_case_when",
    doc="CASE WHEN projection (reference analog: ack-status branching, "
    "src/producer/main.rs:68-82).",
    oracle="""
SELECT event_id,
       CASE WHEN value > 150.0 THEN 'high'
            WHEN value > 50.0 THEN 'mid'
            ELSE 'low' END AS bucket,
       CAST(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS BIGINT) AS is_error
FROM events
ORDER BY event_id
""",
)
def filter_case_when(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.when(F.col("value") > 150.0, "high")
        .when(F.col("value") > 50.0, "mid")
        .otherwise("low")
        .alias("bucket"),
        F.when(F.col("event_type") == "error", 1).otherwise(0).cast("long").alias("is_error"),
    ).orderBy("event_id")


@register(
    "projection_rename_drop",
    doc="Column projection / aliasing / computed columns (consume returns "
    "a projected record, proto/consume.proto:17-20).",
    oracle="""
SELECT l_orderkey AS okey, l_linenumber AS line,
       CAST(ROUND(CAST(l_extendedprice AS DECIMAL(12,4))
                  * (1 - CAST(l_discount AS DECIMAL(12,4))), 2) AS DOUBLE) AS net_price
FROM lineitem
WHERE l_orderkey <= 100
ORDER BY okey, line
""",
)
def projection_rename_drop(spark, sf_dir):
    from cascade_spark.operators._util import d2, dec

    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_orderkey") <= 100)
        .select(
            F.col("l_orderkey").alias("okey"),
            F.col("l_linenumber").alias("line"),
            d2(dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))).alias("net_price"),
        )
        .orderBy("okey", "line")
    )
