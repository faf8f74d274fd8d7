"""Round-9 wave — the classical Levene test and the Pythagorean-means
panel over the per-type daily volumes:

- ``stats_levene_mean``: Levene's variance-equality test with
  MEAN-centered deviations — the textbook companion of
  stats_brown_forsythe's median-centered (robust) variant; same
  equal-group zero-filled grid, so the one-way ANOVA F over
  |deviations| is ONE exact rational. The mean is cleared by
  n-scaling (z = |D*v - S_j|, a common factor that cancels in F) — no
  medians, no windows at all.
- ``agg_pythagorean_means``: arithmetic / geometric / harmonic means
  of each type's POSITIVE daily volumes — AM exact micro, GM via the
  floored-term ln sum with ONE mirrored final exp (6 dp), HM with
  declared floored reciprocal terms — the AM >= GM >= HM panel that
  summarizes skew at a glance.

Reference scope: declared aggregates over ``events`` per SURVEY §2B.

Scale (100 TB): both collapse to the (type x day) grid in one
combinable groupBy; Levene needs only per-group sums (no median
windows), the means one ln per grid cell — spans, not rows.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cascade_spark.operators._util import bigint, t
from cascade_spark.plans.registry import register

MICRO = 1_000_000

_GRID = """
days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
types AS (SELECT DISTINCT event_type FROM events),
daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS v
    FROM events GROUP BY 1, 2
),
cell AS (
    SELECT t.event_type, d.day, COALESCE(x.v, 0) AS v
    FROM types t CROSS JOIN days d
    LEFT JOIN daily x ON x.event_type = t.event_type AND x.day = d.day
),
dd AS (SELECT CAST(COUNT(*) AS BIGINT) AS d FROM days)
"""


@register(
    "stats_levene_mean",
    doc="Levene's test (mean-centered) for variance equality across the "
    "event types' zero-filled daily volumes: deviations cleared to "
    "exact integers by n-scaling (z = |D*v - S_j|; the common D factor "
    "cancels in the F ratio), then the equal-group one-way ANOVA F "
    "over z collapses to (N-k)*(k*ΣSj² - S²) / ((k-1)*(N*Σz² - "
    "k*ΣSj²)) — one exact rational in floor bp via DECIMAL/HUGEINT. "
    "The textbook companion of the median-centered "
    "stats_brown_forsythe; agreement between the two is itself an "
    "outlier screen.",
    oracle=f"""
WITH {_GRID},
gsum AS (SELECT event_type, CAST(SUM(v) AS BIGINT) AS sv
         FROM cell GROUP BY 1),
z AS (
    SELECT c.event_type, ABS(dd.d * c.v - g.sv) AS z
    FROM cell c JOIN gsum g USING (event_type), dd
),
gs AS (
    SELECT event_type, CAST(SUM(z) AS BIGINT) AS sj,
           CAST(SUM(CAST(z AS HUGEINT) * z) AS HUGEINT) AS zj2
    FROM z GROUP BY event_type
),
tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS k,
           CAST(SUM(sj) AS BIGINT) AS s,
           SUM(CAST(sj AS HUGEINT) * sj) AS ssj2,
           CAST(SUM(zj2) AS HUGEINT) AS z2
    FROM gs
)
SELECT tot.k AS n_groups, dd.d AS n_days,
       CAST(tot.k * dd.d AS BIGINT) AS n_total,
       tot.s AS total_abs_dev_scaled,
       CAST(COALESCE(
           (10000 * (tot.k * dd.d - tot.k)
                  * (tot.k * tot.ssj2 - CAST(tot.s AS HUGEINT) * tot.s))
           // NULLIF((tot.k - 1)
                  * (CAST(tot.k * dd.d AS HUGEINT) * tot.z2
                     - tot.k * tot.ssj2), 0),
           0) AS BIGINT) AS f_bp
FROM tot, dd
""",
)
def stats_levene_mean(spark, sf_dir):
    from cascade_spark.operators.estimation import _grid

    dec38 = "decimal(38,0)"
    g = _grid(spark, sf_dir)
    cell = g.select("event_type", "v")
    dd = g.select("day").distinct().agg(F.count(F.lit(1)).cast("long").alias("d"))
    gsum = cell.groupBy("event_type").agg(
        F.sum("v").cast("long").alias("sv")
    )
    z = (
        cell.join(gsum, "event_type")
        .crossJoin(F.broadcast(dd))
        .select(
            "event_type",
            F.abs(F.col("d") * F.col("v") - F.col("sv")).alias("z"),
        )
    )
    gs = z.groupBy("event_type").agg(
        F.sum("z").cast("long").alias("sj"),
        F.sum(F.col("z").cast(dec38) * F.col("z")).cast(dec38).alias("zj2"),
    )
    tot = gs.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("sj").cast("long").alias("s"),
        F.sum(F.col("sj").cast(dec38) * F.col("sj")).cast(dec38).alias("ssj2"),
        F.sum("zj2").cast(dec38).alias("z2"),
    )
    one = tot.crossJoin(F.broadcast(dd))
    n = F.col("k") * F.col("d")
    num = (
        F.lit(10000)
        * (n - F.col("k"))
        * (F.col("k") * F.col("ssj2") - F.col("s").cast(dec38) * F.col("s"))
    )
    den = (F.col("k") - 1) * (
        n.cast(dec38) * F.col("z2") - F.col("k") * F.col("ssj2")
    )
    return one.select(
        F.col("k").alias("n_groups"),
        F.col("d").alias("n_days"),
        bigint(n).alias("n_total"),
        F.col("s").alias("total_abs_dev_scaled"),
        F.coalesce(
            F.expr(
                "(10000 * (k * d - k)"
                " * (k * ssj2 - CAST(s AS DECIMAL(38,0)) * s))"
                " DIV NULLIF((k - 1)"
                " * (CAST(k * d AS DECIMAL(38,0)) * z2 - k * ssj2), 0)"
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("f_bp"),
    )


@register(
    "agg_pythagorean_means",
    doc="The AM >= GM >= HM panel per event type over POSITIVE daily "
    "volumes: arithmetic mean exact in micro (S*1e6 DIV n), geometric "
    "mean from the floored-term ln sum (one mirrored ln per day, "
    "integer sum, ONE final mirrored exp rounded to 6 dp), harmonic "
    "mean with declared floored reciprocal terms (n*1e12 DIV "
    "sum(1e6 DIV v)) — the skew-at-a-glance summary; the wider the "
    "spread between the three, the heavier the tail.",
    oracle=f"""
WITH {_GRID},
pos AS (SELECT event_type, v FROM cell WHERE v > 0),
st AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(v) AS BIGINT) AS s,
           CAST(SUM(CAST(FLOOR({MICRO} * LN(CAST(v AS DOUBLE))) AS BIGINT))
                AS BIGINT) AS lnsum,
           CAST(SUM({MICRO} // v) AS BIGINT) AS rsum
    FROM pos GROUP BY 1
)
SELECT event_type, n,
       CAST((s * {MICRO}) // n AS BIGINT) AS am_micro,
       ROUND(EXP(CAST(lnsum AS DOUBLE) / (n * {MICRO}.0)), 6) AS gm,
       CAST(CASE WHEN rsum = 0 THEN 0
                 ELSE (n * CAST({MICRO} AS HUGEINT) * {MICRO}) // rsum
            END AS BIGINT) AS hm_micro
FROM st
ORDER BY event_type
""",
)
def agg_pythagorean_means(spark, sf_dir):
    dec38 = "decimal(38,0)"
    ev = t(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day")
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("long").alias("v")
    )
    # zero-filled cells never contribute (v > 0 filter), so the daily
    # frame alone suffices — absent (type, day) cells are zeros.
    pos = daily.filter(F.col("v") > 0)
    st = pos.groupBy("event_type").agg(
        bigint(F.count(F.lit(1))).alias("n"),
        bigint(F.sum("v")).alias("s"),
        bigint(
            F.sum(
                F.floor(
                    F.lit(float(MICRO)) * F.log(F.col("v").cast("double"))
                ).cast("long")
            )
        ).alias("lnsum"),
        bigint(F.sum(F.expr(f"{MICRO} DIV v"))).alias("rsum"),
    )
    return st.select(
        "event_type",
        "n",
        F.expr(f"CAST((s * {MICRO}) DIV n AS BIGINT)").alias("am_micro"),
        F.round(
            F.exp(F.col("lnsum").cast("double") / (F.col("n") * float(MICRO))),
            6,
        ).alias("gm"),
        F.expr(
            f"CAST(CASE WHEN rsum = 0 THEN 0"
            f" ELSE (n * CAST({MICRO} AS {dec38}) * {MICRO}) DIV rsum"
            f" END AS BIGINT)"
        ).alias("hm_micro"),
    ).orderBy("event_type")
