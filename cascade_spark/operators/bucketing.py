"""Bucketed (co-located) joins + skew salting — the two shuffle-control
techniques that matter most at 100 TB (SURVEY.md §4 / pyspark guide).

- ``join_bucketed_colocated``: both fact tables written ``bucketBy`` the
  join key → a later equi-join needs NO exchange on either side (asserted
  in tests/test_plans.py). At scale this is how a fact-fact join becomes
  a map-side zip of pre-sorted buckets.
- ``salted_join``: utility for hot-key skew — explode the hot side's key
  into ``salt`` sub-keys, replicate the other side, join, results
  identical to the plain join (verified by test). AQE's skew-join
  splitting covers the automatic case; salting is the declarative fix
  when one key dominates a partition.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from cascade_spark import store
from cascade_spark.plans.registry import register
from cascade_spark.operators._util import d2, dec, t

_BUCKETS = 8


def bucketed_tables(spark, sf_dir: str) -> tuple[str, str]:
    """Materialize lineitem/orders bucketed by the join key (idempotent
    per sf_dir within a session)."""
    import re
    tag = re.sub(r"[^0-9a-zA-Z]", "_", sf_dir.strip("/").replace("root_", ""))[-30:].strip("_")
    li_name, o_name = f"li_bucketed_{tag}", f"o_bucketed_{tag}"
    # external tables in a per-process temp location: the in-memory
    # catalog is session-scoped, so a stable warehouse path would collide
    # with leftovers from previous processes
    base = store.tempdir("cascade_buckets")
    if not spark.catalog.tableExists(li_name):
        (
            t(spark, sf_dir, "lineitem")
            .write.bucketBy(_BUCKETS, "l_orderkey")
            .sortBy("l_orderkey")
            .option("path", f"{base}/{li_name}")
            .mode("overwrite")
            .saveAsTable(li_name)
        )
    if not spark.catalog.tableExists(o_name):
        (
            t(spark, sf_dir, "orders")
            .write.bucketBy(_BUCKETS, "o_orderkey")
            .sortBy("o_orderkey")
            .option("path", f"{base}/{o_name}")
            .mode("overwrite")
            .saveAsTable(o_name)
        )
    return li_name, o_name


@register(
    "join_bucketed_colocated",
    doc="Co-located fact-fact join: both sides bucketed+sorted by the "
    "join key, so the sort-merge join runs with zero exchanges "
    "(plan-asserted). The bucketed layout is what a 100 TB deployment "
    "maintains instead of re-shuffling per query.",
    oracle="""
SELECT o_orderpriority,
       COUNT(*) AS n_lines,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,4))), 2) AS DOUBLE) AS total_qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def join_bucketed_colocated(spark, sf_dir):
    li_name, o_name = bucketed_tables(spark, sf_dir)
    li, o = spark.table(li_name), spark.table(o_name)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            d2(F.sum(dec("l_quantity"))).alias("total_qty"),
        )
        .orderBy("o_orderpriority")
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    left_key: Column,
    right_key: Column,
    salt: int = 8,
) -> DataFrame:
    """Skew-resistant inner equi-join: salt the (skewed) left side's key
    with a deterministic hash-derived salt, replicate the right side
    ``salt`` times, join on (key, salt). Row-for-row identical to the
    plain join."""
    salted_left = left.withColumn("_salt", F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt)))
    replicas = F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    salted_right = right.withColumn("_salt", replicas)
    out = salted_left.join(
        salted_right,
        (left_key == right_key) & (salted_left["_salt"] == salted_right["_salt"]),
    )
    return out.drop("_salt")


@register(
    "join_salted_skew",
    doc="Skew-salted fact-dim join as a declared operator: the events "
    "fact (hot user keys — see profile_key_skew) joins the customer "
    "dimension through salted_join (8-way salt: fact rows take a "
    "deterministic hash salt, the dim side is exploded 8x), so one hot "
    "key spreads across 8 reducers instead of one straggler task. "
    "Salting is correctness-neutral — the oracle is the PLAIN join. At "
    "100 TB this is the declarative fix when AQE skew-splitting can't "
    "help (e.g. a skewed aggregate feeding the join).",
    oracle="""
SELECT c.c_mktsegment,
       COUNT(*) AS n_events,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users,
       CAST(ROUND(SUM(CAST(e.value AS DECIMAL(12,4))), 2) AS DOUBLE) AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment
ORDER BY c_mktsegment
""",
)
def join_salted_skew(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    dim = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = salted_join(ev, dim, ev["user_id"], dim["c_custkey"], salt=8)
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            d2(F.sum(dec("value"))).alias("total_value"),
        )
        .orderBy("c_mktsegment")
    )
