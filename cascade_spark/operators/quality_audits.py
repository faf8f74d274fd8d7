"""Round-9 wave — operational data-quality audits (the Deequ-style
checks next to profile_events' one-pass column profile):

- ``profile_freshness_lag``: per event type, the newest record's lag
  behind the table's global high-water mark in exact whole hours, with
  a declared staleness flag — the "did a producer stall?" monitor.
- ``profile_pk_uniqueness_audit``: primary-key uniqueness across ALL
  nine tables in one result — rows, distinct keys, duplicate-key
  count per table; the referential pre-flight every ingest gate runs.

Reference scope: declared aggregates over every fixture table per
SURVEY §2B (observability family).

Scale (100 TB): freshness is one combinable groupBy + a broadcast
1-row global max; the uniqueness audit is nine independent
count/count-distinct scans unioned — each shuffles once on nothing
(pure aggregates), so the audit costs one pass per table.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cascade_spark.operators._util import bigint, t
from cascade_spark.plans.registry import register

STALE_HOURS = 24

_PK = [
    ("region", "r_regionkey"),
    ("nation", "n_nationkey"),
    ("customer", "c_custkey"),
    ("supplier", "s_suppkey"),
    ("part", "p_partkey"),
    ("orders", "o_orderkey"),
    ("documents", "doc_id"),
    ("embeddings", "vec_id"),
    ("events", "event_id"),
]


@register(
    "profile_freshness_lag",
    doc="Freshness monitor per event type: newest record vs the "
    "table-global high-water mark, lag in exact whole hours "
    "(epoch-microsecond difference DIV 3600e6 — no timezone "
    f"arithmetic), stale flag past {STALE_HOURS} h — the per-producer "
    "stall detector behind ingestion SLOs. One combinable groupBy + a "
    "broadcast global max.",
    oracle=f"""
WITH per_type AS (
    SELECT event_type, MAX(EPOCH_US(ts)) AS mx
    FROM events GROUP BY 1
),
g AS (SELECT MAX(mx) AS gmx FROM per_type)
SELECT p.event_type,
       STRFTIME(MAKE_TIMESTAMP(p.mx), '%Y-%m-%d %H:%M:%S') AS newest_ts,
       CAST((g.gmx - p.mx) // (3600 * 1000000::BIGINT) AS BIGINT)
           AS lag_hours,
       CAST(CASE WHEN (g.gmx - p.mx) // (3600 * 1000000::BIGINT)
                      > {STALE_HOURS} THEN 1 ELSE 0 END AS BIGINT) AS stale
FROM per_type p, g
ORDER BY p.event_type
""",
)
def profile_freshness_lag(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.max(F.unix_micros("ts")).alias("mx")
    )
    g = per_type.agg(F.max("mx").alias("gmx"))
    return (
        per_type.crossJoin(F.broadcast(g))
        .select(
            "event_type",
            F.date_format(
                F.timestamp_micros(F.col("mx")), "yyyy-MM-dd HH:mm:ss"
            ).alias("newest_ts"),
            F.expr(
                "CAST((gmx - mx) DIV (3600 * CAST(1000000 AS BIGINT))"
                " AS BIGINT)"
            ).alias("lag_hours"),
            F.expr(
                f"CAST(CASE WHEN (gmx - mx) DIV (3600 * CAST(1000000 AS"
                f" BIGINT)) > {STALE_HOURS} THEN 1 ELSE 0 END AS BIGINT)"
            ).alias("stale"),
        )
        .orderBy("event_type")
    )


@register(
    "profile_pk_uniqueness_audit",
    doc="Primary-key uniqueness across all nine fixture tables in one "
    "result frame: per table the row count, distinct key count, and "
    "duplicate-key count (rows - distinct) — the referential "
    "pre-flight before any join-heavy workload trusts its keys. Nine "
    "independent single-pass aggregates unioned; each is "
    "map-side-combinable.",
    oracle="UNION ALL".join(
        f"""
(SELECT '{tbl}' AS table_name,
        CAST(COUNT(*) AS BIGINT) AS n_rows,
        CAST(COUNT(DISTINCT {key}) AS BIGINT) AS n_distinct_keys,
        CAST(COUNT(*) - COUNT(DISTINCT {key}) AS BIGINT) AS n_dup_rows
 FROM {tbl})
"""
        for tbl, key in _PK
    )
    + " ORDER BY table_name",
)
def profile_pk_uniqueness_audit(spark, sf_dir):
    frames = []
    for tbl, key in _PK:
        df = t(spark, sf_dir, tbl)
        frames.append(
            df.agg(
                bigint(F.count(F.lit(1))).alias("n_rows"),
                bigint(F.count_distinct(F.col(key))).alias("n_distinct_keys"),
                bigint(
                    F.count(F.lit(1)) - F.count_distinct(F.col(key))
                ).alias("n_dup_rows"),
            ).select(
                F.lit(tbl).alias("table_name"),
                "n_rows",
                "n_distinct_keys",
                "n_dup_rows",
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.orderBy("table_name")
