"""Round-9 wave — the skyline operator and the lead/lag dependence
audit:

- ``analytics_pareto_frontier``: the 2-D skyline (maximize p_size,
  minimize retail price) computed as a STAIRCASE, not a pair join: a
  size survives iff its min price is strictly below the running min
  over all larger sizes — one per-size aggregate + one cumulative-min
  window over the dimension-bounded size spine. The classic
  non-dominated-set operator (price/performance shortlists).
- ``events_cross_correlation``: the cross-correlation function between
  the click and view daily series at lags -3..+3 — per lag the exact
  integer scaled covariance over the overlap (m*Sxy - Sx*Sy) plus the
  Pearson CCF as ONE mirrored IEEE expression rounded to 6 dp (the
  stats_welch_ttest precedent). Which series LEADS is the lag of the
  strongest cell — the causality-direction screen before any
  intervention analysis.

Reference scope: declared aggregates over ``part`` / ``events`` per
SURVEY §2B.

Scale (100 TB): the skyline never joins parts to parts — the staircase
runs on the |distinct sizes| spine (~50 rows); the CCF self-join is
7 bounded lag offsets over the day grid, each a broadcast-sized frame.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from cascade_spark.operators._util import bigint, d2, dec, t
from cascade_spark.operators.inference_extra import _XY_SQL, _xy_daily
from cascade_spark.plans.registry import register


@register(
    "analytics_pareto_frontier",
    doc="2-D skyline over parts (maximize size, minimize retail price): "
    "a (size, min-price) point is non-dominated iff its price is "
    "STRICTLY below the cumulative min price of all larger sizes — the "
    "staircase recovers the exact frontier with one per-size aggregate "
    "and one window over the ~50-row size spine, never the O(n^2) "
    "dominance join. Equal-(size, price) parts all survive (neither "
    "dominates); emits the point count and smallest part key per "
    "frontier step. Prices compared as exact decimals.",
    oracle="""
WITH per_size AS (
    SELECT p_size,
           MIN(CAST(p_retailprice AS DECIMAL(12,4))) AS minp
    FROM part GROUP BY p_size
),
stair AS (
    SELECT p_size, minp,
           MIN(minp) OVER (ORDER BY p_size
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS best_larger
    FROM per_size
),
frontier AS (
    SELECT p_size, minp FROM stair
    WHERE best_larger IS NULL OR minp < best_larger
)
SELECT f.p_size AS size,
       CAST(ROUND(f.minp, 2) AS DOUBLE) AS price,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(MIN(p.p_partkey) AS BIGINT) AS sample_partkey
FROM frontier f
JOIN part p ON p.p_size = f.p_size
           AND CAST(p.p_retailprice AS DECIMAL(12,4)) = f.minp
GROUP BY f.p_size, f.minp
ORDER BY size
""",
)
def analytics_pareto_frontier(spark, sf_dir):
    part = t(spark, sf_dir, "part")
    per_size = part.groupBy("p_size").agg(
        F.min(dec("p_retailprice")).alias("minp")
    )
    w = Window.orderBy("p_size").rowsBetween(1, Window.unboundedFollowing)
    stair = per_size.select(
        "p_size", "minp", F.min("minp").over(w).alias("best_larger")
    )
    frontier = stair.filter(
        F.col("best_larger").isNull() | (F.col("minp") < F.col("best_larger"))
    ).select("p_size", "minp")
    pts = part.select(
        "p_size", "p_partkey", dec("p_retailprice").alias("pr")
    )
    return (
        frontier.join(
            pts,
            (pts["p_size"] == frontier["p_size"]) & (pts["pr"] == frontier["minp"]),
        )
        .groupBy(frontier["p_size"].alias("size"), "minp")
        .agg(
            bigint(F.count(F.lit(1))).alias("n_parts"),
            bigint(F.min("p_partkey")).alias("sample_partkey"),
        )
        .select(
            "size",
            d2(F.col("minp")).alias("price"),
            "n_parts",
            "sample_partkey",
        )
        .orderBy("size")
    )


XCORR_MAX_LAG = 3


@register(
    "events_cross_correlation",
    doc=f"Cross-correlation between the click (x) and view (y) daily "
    f"series at lags -{XCORR_MAX_LAG}..+{XCORR_MAX_LAG} (positive lag "
    "= x leads y): per lag the exact integer scaled covariance "
    "m*Sxy - Sx*Sy over the m overlapping days, and the Pearson CCF "
    "as one mirrored IEEE expression (cov / sqrt(varx*vary), inner "
    "terms all exact integers) rounded to 6 dp, 0.0 on degenerate "
    "variance — the lead/lag screen before intervention analysis. "
    "Seven bounded offset joins over the day grid.",
    oracle=f"""
WITH {_XY_SQL},
idx AS (
    SELECT x, y, ROW_NUMBER() OVER (ORDER BY day) AS tt FROM daily
),
lags AS (SELECT UNNEST(GENERATE_SERIES(-{XCORR_MAX_LAG}, {XCORR_MAX_LAG}))
             AS lag),
j AS (
    SELECT l.lag, a.x AS xv, b.y AS yv
    FROM lags l
    JOIN idx a ON TRUE
    JOIN idx b ON b.tt = a.tt + l.lag
),
st AS (
    SELECT lag,
           CAST(COUNT(*) AS BIGINT) AS m,
           CAST(SUM(xv) AS HUGEINT) AS sx, CAST(SUM(yv) AS HUGEINT) AS sy,
           CAST(SUM(CAST(xv AS HUGEINT) * yv) AS HUGEINT) AS sxy,
           CAST(SUM(CAST(xv AS HUGEINT) * xv) AS HUGEINT) AS sxx,
           CAST(SUM(CAST(yv AS HUGEINT) * yv) AS HUGEINT) AS syy
    FROM j GROUP BY lag
)
SELECT CAST(lag AS BIGINT) AS lag, m,
       CAST(m * sxy - sx * sy AS BIGINT) AS cov_scaled,
       CASE WHEN m * sxx - sx * sx <= 0 OR m * syy - sy * sy <= 0 THEN 0.0
            ELSE ROUND(CAST(m * sxy - sx * sy AS DOUBLE)
                 / SQRT(CAST(m * sxx - sx * sx AS DOUBLE)
                        * CAST(m * syy - sy * sy AS DOUBLE)), 6)
       END AS ccf
FROM st
ORDER BY lag
""",
)
def events_cross_correlation(spark, sf_dir):
    dec38 = "decimal(38,0)"
    daily = _xy_daily(spark, sf_dir)
    idx = daily.select(
        "x", "y", F.row_number().over(Window.orderBy("day")).alias("tt")
    )
    lags = daily.sparkSession.range(
        -XCORR_MAX_LAG, XCORR_MAX_LAG + 1
    ).select(F.col("id").cast("long").alias("lag"))
    a = idx.select(F.col("x").alias("xv"), F.col("tt").alias("ta"))
    b = idx.select(F.col("y").alias("yv"), F.col("tt").alias("tb"))
    j = (
        lags.crossJoin(a)
        .join(b, F.col("tb") == F.col("ta") + F.col("lag"))
        .select("lag", "xv", "yv")
    )
    st = j.groupBy("lag").agg(
        bigint(F.count(F.lit(1))).alias("m"),
        F.sum("xv").cast(dec38).alias("sx"),
        F.sum("yv").cast(dec38).alias("sy"),
        F.sum(F.col("xv").cast(dec38) * F.col("yv")).cast(dec38).alias("sxy"),
        F.sum(F.col("xv").cast(dec38) * F.col("xv")).cast(dec38).alias("sxx"),
        F.sum(F.col("yv").cast(dec38) * F.col("yv")).cast(dec38).alias("syy"),
    )
    covs = F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("m") * F.col("syy") - F.col("sy") * F.col("sy")
    ccf = F.round(
        covs.cast("double") / F.sqrt(varx.cast("double") * vary.cast("double")),
        6,
    )
    return st.select(
        bigint(F.col("lag")).alias("lag"),
        "m",
        covs.cast("long").alias("cov_scaled"),
        F.when((varx <= 0) | (vary <= 0), F.lit(0.0)).otherwise(ccf).alias(
            "ccf"
        ),
    ).orderBy("lag")
