"""Grouping sets + approximate aggregates (completes §2B Aggregations)."""

from __future__ import annotations

from pyspark.sql import functions as F

from cascade_spark.plans.registry import register
from cascade_spark.operators._util import t


@register(
    "agg_grouping_sets",
    doc="Explicit GROUPING SETS (beyond rollup/cube): three chosen "
    "aggregation levels in one pass.",
    oracle="""
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4))), 2) AS DOUBLE) AS total
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST, n
""",
)
def agg_grouping_sets(spark, sf_dir):
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n,
               CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4))), 2) AS DOUBLE) AS total
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
        ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST, n
        """
    )


@register(
    "agg_percentile_approx",
    oracle=None,  # sketch-based — tolerance-checked in tests, rows-only here
    doc="approx_percentile (KLL-style sketch) — the 100 TB path for "
    "quantiles (fixed-size sketch state vs exact percentile's full sort). "
    "Quartiles are projected as three scalar double columns (driver "
    "canonicalizer requires hashable top-level values, not arrays).",
)
def agg_percentile_approx(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    quartiles = F.percentile_approx("l_extendedprice", [0.25, 0.5, 0.75], 10000)
    return (
        li.groupBy("l_returnflag")
        .agg(quartiles.alias("_q"))
        .select(
            "l_returnflag",
            F.col("_q")[0].cast("double").alias("q25"),
            F.col("_q")[1].cast("double").alias("q50"),
            F.col("_q")[2].cast("double").alias("q75"),
        )
        .orderBy("l_returnflag")
    )
