"""SCD2 change application — MERGE INTO emulated without Delta.

The lakehouse MERGE (upsert + history) decomposed into pure DataFrame
ops: incoming changes close the current version of a matched key and
append a new open version; unmatched keys pass through. This is the
anti-join + union form the pyspark guide prescribes when no transactional
table format is available; with Delta/Iceberg on the classpath the same
semantics become a single MERGE INTO (see sources/lakehouse.py).

The change batch here is synthesized deterministically from the customer
dimension (every 3rd key gets +100 balance) so the result is
oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cascade_spark.plans.registry import register
from cascade_spark.operators._util import dec, t


@register(
    "scd2_apply_changes",
    doc="SCD2 upsert: changed keys (custkey%3=0, +100 balance) close "
    "their v1 row and open a v2 row; unchanged keys keep one open v1 "
    "row. Anti-join + union + literal versioning — one broadcast-size "
    "change batch against the dimension.",
    oracle="""
WITH changes AS (
    SELECT c_custkey, c_name, c_acctbal + 100.0 AS new_bal
    FROM customer WHERE c_custkey % 3 = 0
),
closed AS (  -- old version of changed keys, now closed
    SELECT c.c_custkey, c.c_name, c.c_acctbal AS bal,
           CAST(1 AS BIGINT) AS version, FALSE AS is_current
    FROM customer c JOIN changes ch ON c.c_custkey = ch.c_custkey
),
opened AS (  -- new version of changed keys
    SELECT ch.c_custkey, ch.c_name, ch.new_bal AS bal,
           CAST(2 AS BIGINT) AS version, TRUE AS is_current
    FROM changes ch
),
untouched AS (  -- keys with no change keep their open v1
    SELECT c.c_custkey, c.c_name, c.c_acctbal AS bal,
           CAST(1 AS BIGINT) AS version, TRUE AS is_current
    FROM customer c WHERE c.c_custkey % 3 <> 0
)
SELECT * FROM closed
UNION ALL SELECT * FROM opened
UNION ALL SELECT * FROM untouched
ORDER BY c_custkey, version
""",
)
def scd2_apply_changes(spark, sf_dir):
    dim = t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    changes = dim.filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey", "c_name", (F.col("c_acctbal") + 100.0).alias("new_bal")
    )
    closed = (
        dim.join(F.broadcast(changes.select("c_custkey")), "c_custkey", "left_semi")
        .select(
            "c_custkey",
            "c_name",
            F.col("c_acctbal").alias("bal"),
            F.lit(1).cast("long").alias("version"),
            F.lit(False).alias("is_current"),
        )
    )
    opened = changes.select(
        "c_custkey",
        "c_name",
        F.col("new_bal").alias("bal"),
        F.lit(2).cast("long").alias("version"),
        F.lit(True).alias("is_current"),
    )
    untouched = (
        dim.join(F.broadcast(changes.select("c_custkey")), "c_custkey", "left_anti")
        .select(
            "c_custkey",
            "c_name",
            F.col("c_acctbal").alias("bal"),
            F.lit(1).cast("long").alias("version"),
            F.lit(True).alias("is_current"),
        )
    )
    return closed.unionByName(opened).unionByName(untouched).orderBy("c_custkey", "version")


@register(
    "agg_correlation",
    doc="Pearson correlation / sample covariance per group (co-moment "
    "aggregates; rounded — co-moment merge order wiggles last ulps).",
    oracle="""
SELECT l_returnflag,
       ROUND(CORR(l_quantity, l_extendedprice), 4) AS corr_qty_price,
       ROUND(COVAR_SAMP(l_quantity, l_discount), 4) AS covar_qty_disc
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def agg_correlation(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
            F.round(F.covar_samp("l_quantity", "l_discount"), 4).alias("covar_qty_disc"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "pipeline_snapshot_cdc_diff",
    doc="Snapshot CDC extraction: given yesterday's and today's keyed "
    "snapshots, derive the row-level changelog (insert / update / "
    "delete) with a single full-outer join on the key — the diff "
    "every downstream incremental consumer wants when the source "
    "can't emit its own change feed. Mutations here are "
    "deterministic (update %7 keys' balance, delete %13 keys, insert "
    "shifted %11 keys). One shuffle on the key; unchanged rows are "
    "filtered before the sink so the changelog is |changes|-sized.",
    oracle="""
WITH s1 AS (
    SELECT c_custkey AS k, CAST(CAST(c_acctbal AS DECIMAL(12,4)) * 100 AS BIGINT) AS bal
    FROM customer
), s2 AS (
    SELECT c_custkey AS k,
           CAST(CAST(c_acctbal AS DECIMAL(12,4)) * 100 AS BIGINT)
             + CASE WHEN c_custkey % 7 = 0 THEN 10000 ELSE 0 END AS bal
    FROM customer WHERE c_custkey % 13 <> 0
    UNION ALL
    SELECT c_custkey + 100000 AS k,
           CAST(CAST(c_acctbal AS DECIMAL(12,4)) * 100 AS BIGINT) AS bal
    FROM customer WHERE c_custkey % 11 = 0
)
SELECT COALESCE(s1.k, s2.k) AS k,
       CASE WHEN s1.k IS NULL THEN 'insert'
            WHEN s2.k IS NULL THEN 'delete'
            ELSE 'update' END AS change_type,
       s1.bal AS old_bal, s2.bal AS new_bal
FROM s1 FULL OUTER JOIN s2 ON s1.k = s2.k
WHERE s1.k IS NULL OR s2.k IS NULL OR s1.bal <> s2.bal
ORDER BY k
""",
)
def pipeline_snapshot_cdc_diff(spark, sf_dir):
    cust = t(spark, sf_dir, "customer")
    bal = (dec("c_acctbal") * 100).cast("long")
    s1 = cust.select(F.col("c_custkey").alias("k"), bal.alias("bal"))
    s2 = (
        cust.filter(F.col("c_custkey") % 13 != 0)
        .select(
            F.col("c_custkey").alias("k"),
            (bal + F.when(F.col("c_custkey") % 7 == 0, 10000).otherwise(0)).alias("bal"),
        )
        .unionByName(
            cust.filter(F.col("c_custkey") % 11 == 0).select(
                (F.col("c_custkey") + 100000).alias("k"), bal.alias("bal")
            )
        )
    )
    a, b = s1.alias("a"), s2.alias("b")
    joined = a.join(b, F.col("a.k") == F.col("b.k"), "full_outer")
    change = (
        F.when(F.col("a.k").isNull(), "insert")
        .when(F.col("b.k").isNull(), "delete")
        .otherwise("update")
    )
    return (
        joined.filter(
            F.col("a.k").isNull()
            | F.col("b.k").isNull()
            | (F.col("a.bal") != F.col("b.bal"))
        )
        .select(
            F.coalesce(F.col("a.k"), F.col("b.k")).alias("k"),
            change.alias("change_type"),
            F.col("a.bal").alias("old_bal"),
            F.col("b.bal").alias("new_bal"),
        )
        .orderBy("k")
    )
