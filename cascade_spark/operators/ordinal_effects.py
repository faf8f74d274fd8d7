"""Round-9 wave — ordinal effect sizes, scale reliability, and
sequencing tests: the "how big / how consistent" companions to the
hypothesis-test family in inference_extra.py (which answers "is there
an effect at all"):

- ``stats_cliffs_delta``: Cliff's delta between two event types' daily
  volumes — the ordinal dominance effect size behind
  stats_mannwhitney_u, computed from merged-support cumulative counts
  (never a pair join).
- ``stats_vargha_delaney_a``: the Vargha–Delaney A measure
  (P(X>Y) + P(X=Y)/2) on the same spine — the [0,1] rescale of delta
  reported by benchmarking harnesses.
- ``stats_rank_biserial``: matched-pairs rank-biserial correlation —
  the effect-size companion of the Wilcoxon signed-rank design, with
  tie-averaged ranks kept exact by doubling.
- ``stats_cronbach_alpha``: Cronbach's alpha over the k = 3
  click/view/purchase daily-volume "items" — internal-consistency
  reliability as ONE exact integer rational.
- ``stats_page_trend``: Page's L trend test over (complete ISO week x
  ISO weekday) rank blocks — the ordered-alternative refinement of
  stats_friedman.
- ``stats_grubbs_outlier``: Grubbs' max-studentized-deviate screen per
  event type with G^2 as an exact integer rational (no sqrt at all).
- ``stats_kuiper_two_sample``: the Kuiper V = D+ + D- variant of
  stats_ks_two_sample — equally sensitive in the distribution tails.
- ``stats_weighted_kappa``: linearly weighted Cohen's kappa between two
  3-category document-quality raters — the ordinal upgrade of
  stats_cohens_kappa (off-by-one disagreements cost half).

Reference scope: the reference engine's query surface is aggregation
over a consumed event log (src/broker/main.rs consume/aggregate loop);
each of these is a declared aggregate over the same ``events`` /
``documents`` tables per SURVEY §2B.

Determinism: every statistic is one exact integer rational reported by
truncating division (Spark DIV / DuckDB // parity on negatives —
several of these are negative-capable); wide products ride
DECIMAL(38,0)/HUGEINT. No IEEE op appears anywhere in this module.

Scale (100 TB): every query collapses the raw log to a bounded spine
in one map-side-combinable groupBy first — the merged daily-volume
support (n_days-bounded), the |d| spine, the (week x dow) grid (7
cells/week), the 3x3 rating table — so all rank/pair work runs on
spans, not rows, and every plan is shuffle-once at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from cascade_spark.operators._util import bigint, t
from cascade_spark.operators.inference_extra import _XY_SQL, _csum, _xy_daily
from cascade_spark.plans.registry import register

BP = 10_000

# Merged click (x) / view (y) daily-volume value support: one row per
# distinct value with each series' day count (0 where a value occurs in
# one series only). n_days-bounded by construction; the EDF and
# dominance statistics below all cumulate over it.
_SUP_SQL = """xv AS (SELECT x AS v, CAST(COUNT(*) AS BIGINT) AS cx FROM daily GROUP BY 1),
yv AS (SELECT y AS v, CAST(COUNT(*) AS BIGINT) AS cy FROM daily GROUP BY 1),
sup AS (
    SELECT COALESCE(xv.v, yv.v) AS v,
           COALESCE(cx, 0) AS cx, COALESCE(cy, 0) AS cy
    FROM xv FULL JOIN yv ON xv.v = yv.v
)"""


def _merged_support(daily):
    """sup(v, cx, cy) over an ``_xy_daily`` frame — the Spark side of
    ``_SUP_SQL``."""
    xv = daily.groupBy(F.col("x").alias("v")).agg(
        bigint(F.count(F.lit(1))).alias("cx")
    )
    yv = daily.groupBy(F.col("y").alias("v")).agg(
        bigint(F.count(F.lit(1))).alias("cy")
    )
    return xv.join(yv, "v", "full").select(
        "v",
        F.coalesce("cx", F.lit(0)).alias("cx"),
        F.coalesce("cy", F.lit(0)).alias("cy"),
    )


# Shared merged-support pair-count spine: distinct daily-volume values
# of the click (x) and view (y) series with cross-pair counts recovered
# from cumulative frequencies — gt = #{(i,j): x_i > y_j} etc. without
# ever materializing the O(n^2) pair space.
_PAIR_SQL = f"""
{_XY_SQL},
{_SUP_SQL},
cum AS (
    SELECT cx, cy,
           COALESCE(SUM(cy) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS y_lt,
           COALESCE(SUM(cy) OVER (ORDER BY v
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0) AS y_gt
    FROM sup
),
pc AS (
    SELECT CAST(COALESCE(SUM(cx * y_lt), 0) AS BIGINT) AS gt,
           CAST(COALESCE(SUM(cx * y_gt), 0) AS BIGINT) AS lt,
           CAST(COALESCE(SUM(cx * cy), 0) AS BIGINT) AS ties,
           CAST(COALESCE(SUM(cx), 0) AS BIGINT) AS n
    FROM cum
)
"""


def _pair_counts(spark, sf_dir):
    """One-row frame (gt, lt, ties, n): cross-pair dominance counts of
    the click-vs-view daily volumes via merged-support cumulatives.
    The two global windows run over the distinct daily-volume value
    spine (n_days-bounded by construction)."""
    sup = _merged_support(_xy_daily(spark, sf_dir))
    w_lt = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    w_gt = Window.orderBy("v").rowsBetween(1, Window.unboundedFollowing)
    cum = sup.select(
        "cx",
        "cy",
        F.coalesce(F.sum("cy").over(w_lt), F.lit(0)).alias("y_lt"),
        F.coalesce(F.sum("cy").over(w_gt), F.lit(0)).alias("y_gt"),
    )
    return cum.agg(
        bigint(F.coalesce(F.sum(F.col("cx") * F.col("y_lt")), F.lit(0))).alias("gt"),
        bigint(F.coalesce(F.sum(F.col("cx") * F.col("y_gt")), F.lit(0))).alias("lt"),
        bigint(F.coalesce(F.sum(F.col("cx") * F.col("cy")), F.lit(0))).alias("ties"),
        bigint(F.coalesce(F.sum("cx"), F.lit(0))).alias("n"),
    )


@register(
    "stats_cliffs_delta",
    doc="Cliff's delta between the click and view daily-volume samples: "
    "delta = (#{x>y} - #{x<y}) / (n*n) over all cross pairs, recovered "
    "from merged-support cumulative frequencies (O(|support|), never a "
    "pair join) and reported in truncated bp (negative-capable; Spark "
    "DIV / DuckDB // toward-zero parity). The ordinal dominance effect "
    "size behind stats_mannwhitney_u.",
    oracle=f"""
WITH {_PAIR_SQL}
SELECT gt AS n_gt, lt AS n_lt, ties AS n_ties, n AS n_days,
       CAST(CASE WHEN n = 0 THEN 0
                 ELSE ((gt - lt) * {BP}) // (n * n) END AS BIGINT)
           AS cliffs_delta_bp
FROM pc
""",
)
def stats_cliffs_delta(spark, sf_dir):
    pc = _pair_counts(spark, sf_dir)
    return pc.select(
        F.col("gt").alias("n_gt"),
        F.col("lt").alias("n_lt"),
        F.col("ties").alias("n_ties"),
        F.col("n").alias("n_days"),
        F.expr(
            f"CAST(CASE WHEN n = 0 THEN 0"
            f" ELSE ((gt - lt) * {BP}) DIV (n * n) END AS BIGINT)"
        ).alias("cliffs_delta_bp"),
    )


@register(
    "stats_vargha_delaney_a",
    doc="Vargha-Delaney A measure on the click-vs-view daily-volume "
    "samples: A = P(X>Y) + P(X=Y)/2 = (2*gt + ties) / (2*n*n), the "
    "[0,1] stochastic-superiority rescale of Cliff's delta reported by "
    "benchmarking harnesses (0.5 = no effect). Same merged-support "
    "cumulative spine; exact truncated bp.",
    oracle=f"""
WITH {_PAIR_SQL}
SELECT gt AS n_gt, ties AS n_ties, n AS n_days,
       CAST(CASE WHEN n = 0 THEN 5000
                 ELSE ((2 * gt + ties) * {BP}) // (2 * n * n) END AS BIGINT)
           AS vda_a_bp
FROM pc
""",
)
def stats_vargha_delaney_a(spark, sf_dir):
    pc = _pair_counts(spark, sf_dir)
    return pc.select(
        F.col("gt").alias("n_gt"),
        F.col("ties").alias("n_ties"),
        F.col("n").alias("n_days"),
        F.expr(
            f"CAST(CASE WHEN n = 0 THEN 5000"
            f" ELSE ((2 * gt + ties) * {BP}) DIV (2 * n * n) END AS BIGINT)"
        ).alias("vda_a_bp"),
    )


@register(
    "stats_rank_biserial",
    doc="Matched-pairs rank-biserial correlation between the paired "
    "click/view daily volumes (the Wilcoxon signed-rank effect size): "
    "zero differences drop, |d| ranks are tie-averaged and kept exact "
    "by DOUBLING (dr = 2*#{|d'|<|d|} + #{|d'|=|d|} + 1, so sum(dr) = "
    "n(n+1) exactly), r = (R+ - R-) / (n(n+1)/2) in truncated bp. The "
    "|d| spine is n_days-bounded; one global cumsum window over it.",
    oracle=f"""
WITH {_XY_SQL},
dnz AS (SELECT x - y AS d FROM daily WHERE x <> y),
adv AS (
    SELECT ABS(d) AS ad,
           CAST(COUNT(*) FILTER (WHERE d > 0) AS BIGINT) AS cp,
           CAST(COUNT(*) FILTER (WHERE d < 0) AS BIGINT) AS cn
    FROM dnz GROUP BY 1
),
rk AS (
    SELECT cp, cn,
           2 * COALESCE(SUM(cp + cn) OVER (ORDER BY ad
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + (cp + cn) + 1 AS dr
    FROM adv
),
agg AS (
    SELECT CAST(COALESCE(SUM(cp), 0) AS BIGINT) AS n_pos,
           CAST(COALESCE(SUM(cn), 0) AS BIGINT) AS n_neg,
           CAST(COALESCE(SUM(cp * dr), 0) AS BIGINT) AS s2_pos,
           CAST(COALESCE(SUM(cn * dr), 0) AS BIGINT) AS s2_neg
    FROM rk
)
SELECT n_pos, n_neg, s2_pos, s2_neg,
       CAST(CASE WHEN n_pos + n_neg = 0 THEN 0
                 ELSE ((s2_pos - s2_neg) * {BP})
                      // ((n_pos + n_neg) * (n_pos + n_neg + 1))
            END AS BIGINT) AS rank_biserial_bp
FROM agg
""",
)
def stats_rank_biserial(spark, sf_dir):
    daily = _xy_daily(spark, sf_dir)
    dnz = daily.select((F.col("x") - F.col("y")).alias("d")).filter(
        F.col("d") != 0
    )
    adv = dnz.groupBy(F.abs("d").alias("ad")).agg(
        _csum(F.col("d") > 0).alias("cp"),
        _csum(F.col("d") < 0).alias("cn"),
    )
    w_lt = Window.orderBy("ad").rowsBetween(Window.unboundedPreceding, -1)
    rk = adv.select(
        "cp",
        "cn",
        (
            2 * F.coalesce(F.sum(F.col("cp") + F.col("cn")).over(w_lt), F.lit(0))
            + F.col("cp")
            + F.col("cn")
            + 1
        ).alias("dr"),
    )
    agg = rk.agg(
        bigint(F.coalesce(F.sum("cp"), F.lit(0))).alias("n_pos"),
        bigint(F.coalesce(F.sum("cn"), F.lit(0))).alias("n_neg"),
        bigint(F.coalesce(F.sum(F.col("cp") * F.col("dr")), F.lit(0))).alias(
            "s2_pos"
        ),
        bigint(F.coalesce(F.sum(F.col("cn") * F.col("dr")), F.lit(0))).alias(
            "s2_neg"
        ),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        "s2_pos",
        "s2_neg",
        F.expr(
            f"CAST(CASE WHEN n_pos + n_neg = 0 THEN 0"
            f" ELSE ((s2_pos - s2_neg) * {BP})"
            f" DIV ((n_pos + n_neg) * (n_pos + n_neg + 1)) END AS BIGINT)"
        ).alias("rank_biserial_bp"),
    )


@register(
    "stats_cronbach_alpha",
    doc="Cronbach's alpha over k = 3 daily-volume items (click / view / "
    "purchase): alpha = k/(k-1) * (1 - sum(V_i)/V_total) with every "
    "population variance scaled by n^2 (V = n*Q - S^2, the 1/n never "
    "divides) so alpha is ONE exact integer rational — "
    "(3*(V_tot - V_items)*10000) DIV (2*V_tot) in DECIMAL(38,0)/HUGEINT "
    "truncated bp (negative-capable). The internal-consistency check "
    "run before averaging correlated engagement signals into one score.",
    oracle=f"""
WITH d3 AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS x,
           CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS y,
           CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS z
    FROM events GROUP BY 1
),
st AS (
    SELECT CAST(COUNT(*) AS HUGEINT) AS n,
           CAST(COALESCE(SUM(x), 0) AS HUGEINT) AS sx,
           CAST(COALESCE(SUM(CAST(x AS HUGEINT) * x), 0) AS HUGEINT) AS qx,
           CAST(COALESCE(SUM(y), 0) AS HUGEINT) AS sy,
           CAST(COALESCE(SUM(CAST(y AS HUGEINT) * y), 0) AS HUGEINT) AS qy,
           CAST(COALESCE(SUM(z), 0) AS HUGEINT) AS sz,
           CAST(COALESCE(SUM(CAST(z AS HUGEINT) * z), 0) AS HUGEINT) AS qz,
           CAST(COALESCE(SUM(x + y + z), 0) AS HUGEINT) AS stot,
           CAST(COALESCE(SUM(CAST(x + y + z AS HUGEINT) * (x + y + z)), 0)
                AS HUGEINT) AS qtot
    FROM d3
),
v AS (
    SELECT n,
           (n*qx - sx*sx) + (n*qy - sy*sy) + (n*qz - sz*sz) AS v_items,
           n*qtot - stot*stot AS v_total
    FROM st
)
SELECT CAST(n AS BIGINT) AS n_days,
       CAST(v_items AS BIGINT) AS v_items_scaled,
       CAST(v_total AS BIGINT) AS v_total_scaled,
       CAST(CASE WHEN v_total = 0 THEN 0
                 ELSE (3 * (v_total - v_items) * {BP}) // (2 * v_total)
            END AS BIGINT) AS cronbach_alpha_bp
FROM v
""",
)
def stats_cronbach_alpha(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    d3 = ev.groupBy(F.to_date("ts").alias("day")).agg(
        _csum(F.col("event_type") == "click").alias("x"),
        _csum(F.col("event_type") == "view").alias("y"),
        _csum(F.col("event_type") == "purchase").alias("z"),
    )
    dec = "decimal(38,0)"
    st = d3.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.coalesce(F.sum("x"), F.lit(0)).cast(dec).alias("sx"),
        F.coalesce(F.sum(F.col("x").cast(dec) * F.col("x")), F.lit(0))
        .cast(dec)
        .alias("qx"),
        F.coalesce(F.sum("y"), F.lit(0)).cast(dec).alias("sy"),
        F.coalesce(F.sum(F.col("y").cast(dec) * F.col("y")), F.lit(0))
        .cast(dec)
        .alias("qy"),
        F.coalesce(F.sum("z"), F.lit(0)).cast(dec).alias("sz"),
        F.coalesce(F.sum(F.col("z").cast(dec) * F.col("z")), F.lit(0))
        .cast(dec)
        .alias("qz"),
        F.coalesce(F.sum(F.col("x") + F.col("y") + F.col("z")), F.lit(0))
        .cast(dec)
        .alias("stot"),
        F.coalesce(
            F.sum(
                (F.col("x") + F.col("y") + F.col("z")).cast(dec)
                * (F.col("x") + F.col("y") + F.col("z"))
            ),
            F.lit(0),
        )
        .cast(dec)
        .alias("qtot"),
    )
    v = st.select(
        "n",
        (
            (F.col("n") * F.col("qx") - F.col("sx") * F.col("sx"))
            + (F.col("n") * F.col("qy") - F.col("sy") * F.col("sy"))
            + (F.col("n") * F.col("qz") - F.col("sz") * F.col("sz"))
        ).alias("v_items"),
        (F.col("n") * F.col("qtot") - F.col("stot") * F.col("stot")).alias(
            "v_total"
        ),
    )
    return v.select(
        F.col("n").cast("long").alias("n_days"),
        F.col("v_items").cast("long").alias("v_items_scaled"),
        F.col("v_total").cast("long").alias("v_total_scaled"),
        F.expr(
            f"CAST(CASE WHEN v_total = 0 THEN 0"
            f" ELSE (3 * (v_total - v_items) * {BP}) DIV (2 * v_total)"
            f" END AS BIGINT)"
        ).alias("cronbach_alpha_bp"),
    )


@register(
    "stats_page_trend",
    doc="Page's L trend test over (complete ISO week x ISO weekday) "
    "blocks of total daily volume — the ordered-alternative refinement "
    "of stats_friedman (is volume monotonically drifting across the "
    "week?). Within-week tie-averaged ranks kept exact by doubling "
    "(7x7 bounded self-join per week), L2 = sum(dow * doubled_rank) "
    "against its exact null expectation 224*m. Incomplete weeks drop "
    "(declared block design).",
    oracle="""
WITH dv AS (
    SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS v
    FROM events GROUP BY 1
),
wkd AS (
    SELECT CAST(DATE_TRUNC('week', day) AS DATE) AS wk,
           CAST(ISODOW(day) AS BIGINT) AS dow, v
    FROM dv
),
full_wk AS (SELECT wk FROM wkd GROUP BY wk HAVING COUNT(*) = 7),
cells AS (SELECT w.wk, w.dow, w.v FROM wkd w JOIN full_wk f ON f.wk = w.wk),
ranked AS (
    SELECT a.wk, a.dow,
           CAST(2 * COUNT(*) FILTER (WHERE b.v < a.v)
                + COUNT(*) FILTER (WHERE b.v = a.v) + 1 AS BIGINT) AS dr
    FROM cells a JOIN cells b ON b.wk = a.wk
    GROUP BY a.wk, a.dow, a.v
),
l AS (
    SELECT CAST(COALESCE(SUM(dow * dr), 0) AS BIGINT) AS l2,
           CAST(COUNT(DISTINCT wk) AS BIGINT) AS m
    FROM ranked
)
SELECT m AS n_weeks, l2 AS page_l2,
       CAST(224 * m AS BIGINT) AS page_l2_expected,
       CAST(l2 - 224 * m AS BIGINT) AS page_trend_scaled
FROM l
""",
)
def stats_page_trend(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    dv = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("v")
    )
    wkd = dv.select(
        F.to_date(F.date_trunc("week", "day")).alias("wk"),
        F.dayofweek(F.date_sub("day", 1)).cast("long").alias("dow"),
        "v",
    )
    full_wk = (
        wkd.groupBy("wk")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") == 7)
        .select("wk")
    )
    cells = wkd.join(full_wk, "wk")
    b = cells.select(
        F.col("wk").alias("wk2"), F.col("v").alias("bv")
    )
    ranked = (
        cells.join(b, cells["wk"] == b["wk2"])
        .groupBy("wk", "dow", "v")
        .agg(
            (
                2 * _csum(F.col("bv") < F.col("v"))
                + _csum(F.col("bv") == F.col("v"))
                + 1
            ).alias("dr")
        )
    )
    l = ranked.agg(
        bigint(F.coalesce(F.sum(F.col("dow") * F.col("dr")), F.lit(0))).alias("l2"),
        bigint(F.countDistinct("wk")).alias("m"),
    )
    return l.select(
        F.col("m").alias("n_weeks"),
        F.col("l2").alias("page_l2"),
        bigint(224 * F.col("m")).alias("page_l2_expected"),
        bigint(F.col("l2") - 224 * F.col("m")).alias("page_trend_scaled"),
    )


@register(
    "stats_grubbs_outlier",
    doc="Grubbs' maximum-studentized-deviate outlier screen per event "
    "type over the zero-filled daily-volume grid: the day maximizing "
    "|n*x - S| (earliest day on ties), with G^2 = dev^2*(n-1) / "
    "(n*(n*Q - S^2)) as ONE exact integer rational in truncated bp — "
    "the mean AND the sample variance both cleared by integer scaling, "
    "zero IEEE ops (the events_bollinger_breach discipline applied to "
    "the classical outlier test). Degenerate (zero-variance) series "
    "report 0.",
    oracle="""
WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
types AS (SELECT DISTINCT event_type FROM events),
daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS v
    FROM events GROUP BY 1, 2
),
cell AS (
    SELECT t.event_type, d.day, COALESCE(x.v, 0) AS v
    FROM types t CROSS JOIN days d
    LEFT JOIN daily x ON x.event_type = t.event_type AND x.day = d.day
),
st AS (
    SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n,
           CAST(COALESCE(SUM(v), 0) AS HUGEINT) AS s,
           CAST(COALESCE(SUM(CAST(v AS HUGEINT) * v), 0) AS HUGEINT) AS q
    FROM cell GROUP BY 1
),
dev AS (
    SELECT c.event_type, c.day, st.n, st.s, st.q, st.n * c.v - st.s AS dv
    FROM cell c JOIN st ON st.event_type = c.event_type
),
top AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                 ORDER BY ABS(dv) DESC, day) AS rk
    FROM dev
)
SELECT event_type, CAST(day AS VARCHAR) AS outlier_day,
       CAST(dv AS BIGINT) AS dev_scaled,
       CAST(CASE WHEN n * q - s * s <= 0 THEN 0
                 ELSE ((n - 1) * dv * dv * 10000) // (n * (n * q - s * s))
            END AS BIGINT) AS grubbs_g2_bp
FROM top WHERE rk = 1
ORDER BY event_type
""",
)
def stats_grubbs_outlier(spark, sf_dir):
    from cascade_spark.operators.timeseries_indicators import _grid

    dec = "decimal(38,0)"
    cell = _grid(spark, sf_dir).select("event_type", "day", "v")
    st = cell.groupBy("event_type").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.coalesce(F.sum("v"), F.lit(0)).cast(dec).alias("s"),
        F.coalesce(F.sum(F.col("v").cast(dec) * F.col("v")), F.lit(0))
        .cast(dec)
        .alias("q"),
    )
    dev = cell.join(F.broadcast(st), "event_type").select(
        "event_type",
        "day",
        "n",
        "s",
        "q",
        (F.col("n") * F.col("v") - F.col("s")).alias("dv"),
    )
    w = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("dv")).desc(), F.col("day")
    )
    top = dev.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
    return top.select(
        "event_type",
        F.col("day").cast("string").alias("outlier_day"),
        F.col("dv").cast("long").alias("dev_scaled"),
        F.expr(
            "CAST(CASE WHEN n * q - s * s <= 0 THEN 0"
            " ELSE ((n - 1) * dv * dv * 10000) DIV (n * (n * q - s * s))"
            " END AS BIGINT)"
        ).alias("grubbs_g2_bp"),
    ).orderBy("event_type")


@register(
    "stats_kuiper_two_sample",
    doc="Kuiper two-sample statistic V = D+ + D- between the click and "
    "view daily-volume ECDFs (equal n by the zero-filled-day design): "
    "cumulative counts over the merged value support, both one-sided "
    "deviations kept as exact scaled integers, V in truncated bp of n. "
    "The rotation-invariant KS variant with equal tail sensitivity — "
    "same support spine as stats_ks_two_sample, one global cumsum "
    "window over it (n_days-bounded).",
    oracle=f"""
WITH {_XY_SQL},
{_SUP_SQL},
cum AS (
    SELECT SUM(cx) OVER w AS cum_x, SUM(cy) OVER w AS cum_y
    FROM sup
    WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
d AS (
    SELECT CAST(COALESCE(GREATEST(MAX(cum_x - cum_y), 0), 0) AS BIGINT)
               AS d_plus_scaled,
           CAST(COALESCE(GREATEST(MAX(cum_y - cum_x), 0), 0) AS BIGINT)
               AS d_minus_scaled
    FROM cum
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily)
SELECT n.n AS n_days, d.d_plus_scaled, d.d_minus_scaled,
       CAST(CASE WHEN n.n = 0 THEN 0
                 ELSE ((d.d_plus_scaled + d.d_minus_scaled) * {BP}) // n.n
            END AS BIGINT) AS kuiper_v_bp
FROM d, n
""",
)
def stats_kuiper_two_sample(spark, sf_dir):
    daily = _xy_daily(spark, sf_dir)
    sup = _merged_support(daily)
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = sup.select(
        F.sum("cx").over(w).alias("cum_x"),
        F.sum("cy").over(w).alias("cum_y"),
    )
    d = cum.agg(
        bigint(
            F.coalesce(
                F.greatest(F.max(F.col("cum_x") - F.col("cum_y")), F.lit(0)),
                F.lit(0),
            )
        ).alias("d_plus_scaled"),
        bigint(
            F.coalesce(
                F.greatest(F.max(F.col("cum_y") - F.col("cum_x")), F.lit(0)),
                F.lit(0),
            )
        ).alias("d_minus_scaled"),
    )
    n = daily.agg(bigint(F.count(F.lit(1))).alias("n"))
    return d.crossJoin(F.broadcast(n)).select(
        F.col("n").alias("n_days"),
        "d_plus_scaled",
        "d_minus_scaled",
        F.expr(
            f"CAST(CASE WHEN n = 0 THEN 0"
            f" ELSE ((d_plus_scaled + d_minus_scaled) * {BP}) DIV n"
            f" END AS BIGINT)"
        ).alias("kuiper_v_bp"),
    )


# 3-category document-quality raters (terciles of the fixture ranges):
# rater A on raw chars, rater B on whitespace words — ordinal 0/1/2.
WK_CHARS_CUTS = (220, 380)
WK_WORDS_CUTS = (40, 70)


@register(
    "stats_weighted_kappa",
    doc="Linearly weighted Cohen's kappa between two 3-category "
    f"document-quality raters (rater A: n_chars terciles at "
    f"{WK_CHARS_CUTS}; rater B: whitespace-word terciles at "
    f"{WK_WORDS_CUTS}): with linear weights kappa_w = 1 - n*D_o / D_e "
    "where D_o = sum f_ij*|i-j| and D_e = sum r_i*c_j*|i-j| — both "
    "exact integers from one map-side-combinable groupBy to the 3x3 "
    "table, kappa in DECIMAL(38,0)/HUGEINT truncated bp "
    "(negative-capable). The ordinal upgrade of stats_cohens_kappa: "
    "adjacent-category disagreements cost half a full miss.",
    oracle=f"""
WITH rated AS (
    SELECT CASE WHEN n_chars < {WK_CHARS_CUTS[0]} THEN 0
                WHEN n_chars < {WK_CHARS_CUTS[1]} THEN 1 ELSE 2 END AS ra,
           CASE WHEN LEN(STRING_SPLIT(text, ' ')) < {WK_WORDS_CUTS[0]} THEN 0
                WHEN LEN(STRING_SPLIT(text, ' ')) < {WK_WORDS_CUTS[1]} THEN 1
                ELSE 2 END AS rb
    FROM documents
),
f AS (SELECT ra, rb, CAST(COUNT(*) AS BIGINT) AS c FROM rated GROUP BY 1, 2),
n AS (SELECT CAST(COALESCE(SUM(c), 0) AS HUGEINT) AS n FROM f),
obs AS (SELECT CAST(COALESCE(SUM(c * ABS(ra - rb)), 0) AS HUGEINT) AS d_o FROM f),
marg AS (
    SELECT i.ra, j.rb, i.ri * j.cj AS rc
    FROM (SELECT ra, CAST(SUM(c) AS HUGEINT) AS ri FROM f GROUP BY 1) i
    CROSS JOIN (SELECT rb, CAST(SUM(c) AS HUGEINT) AS cj FROM f GROUP BY 1) j
),
exp_ AS (SELECT CAST(COALESCE(SUM(rc * ABS(ra - rb)), 0) AS HUGEINT) AS d_e
         FROM marg)
SELECT CAST(n.n AS BIGINT) AS n_docs,
       CAST(obs.d_o AS BIGINT) AS disagree_observed,
       CAST(exp_.d_e AS BIGINT) AS disagree_expected_scaled,
       CAST(CASE WHEN exp_.d_e = 0 THEN 0
                 ELSE ((exp_.d_e - n.n * obs.d_o) * {BP}) // exp_.d_e
            END AS BIGINT) AS weighted_kappa_bp
FROM n, obs, exp_
""",
)
def stats_weighted_kappa(spark, sf_dir):
    dec = "decimal(38,0)"
    docs = t(spark, sf_dir, "documents")
    words = F.size(F.split(F.col("text"), " ", -1))
    rated = docs.select(
        F.when(F.col("n_chars") < WK_CHARS_CUTS[0], 0)
        .when(F.col("n_chars") < WK_CHARS_CUTS[1], 1)
        .otherwise(2)
        .alias("ra"),
        F.when(words < WK_WORDS_CUTS[0], 0)
        .when(words < WK_WORDS_CUTS[1], 1)
        .otherwise(2)
        .alias("rb"),
    )
    f = rated.groupBy("ra", "rb").agg(F.count(F.lit(1)).cast("long").alias("c"))
    n = f.agg(F.coalesce(F.sum("c"), F.lit(0)).cast(dec).alias("n"))
    obs = f.agg(
        F.coalesce(F.sum(F.col("c") * F.abs(F.col("ra") - F.col("rb"))), F.lit(0))
        .cast(dec)
        .alias("d_o")
    )
    ri = f.groupBy("ra").agg(F.sum("c").cast(dec).alias("ri"))
    cj = f.groupBy("rb").agg(F.sum("c").cast(dec).alias("cj"))
    marg = ri.crossJoin(cj).select(
        "ra", "rb", (F.col("ri") * F.col("cj")).alias("rc")
    )
    exp_ = marg.agg(
        F.coalesce(F.sum(F.col("rc") * F.abs(F.col("ra") - F.col("rb"))), F.lit(0))
        .cast(dec)
        .alias("d_e")
    )
    return (
        n.crossJoin(F.broadcast(obs))
        .crossJoin(F.broadcast(exp_))
        .select(
            F.col("n").cast("long").alias("n_docs"),
            F.col("d_o").cast("long").alias("disagree_observed"),
            F.col("d_e").cast("long").alias("disagree_expected_scaled"),
            F.expr(
                f"CAST(CASE WHEN d_e = 0 THEN 0"
                f" ELSE ((d_e - n * d_o) * {BP}) DIV d_e END AS BIGINT)"
            ).alias("weighted_kappa_bp"),
        )
    )


# ---------------------------------------------------------------------------
# Ansari–Bradley rank dispersion
# ---------------------------------------------------------------------------


@register(
    "stats_ansari_bradley",
    doc="Ansari–Bradley two-sample dispersion test of the click (x) vs "
    "view (y) daily volumes: doubled Ansari scores s2 = min(dr, "
    "2(N+1) - dr) on doubled midranks dr = 2*below + m + 1 over the "
    "merged value support (O(|support|), ties exact by construction). "
    "ab2_x/ab2_y are the doubled per-group score sums; mean scores "
    "and the x/y dispersion ratio in truncated milli (small ratio = x "
    "more spread than y). Zero-denominator guards report 0.",
    oracle=f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS x,
           CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS y
    FROM events GROUP BY 1
),
{_SUP_SQL},
tot AS (
    SELECT CAST(COALESCE(SUM(cx), 0) AS BIGINT) AS nx,
           CAST(COALESCE(SUM(cy), 0) AS BIGINT) AS ny
    FROM sup
),
cumb AS (
    SELECT v, cx, cy,
           COALESCE(SUM(cx + cy) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
    FROM sup
),
sc AS (
    SELECT cx, cy,
           LEAST(2 * below + (cx + cy) + 1,
                 2 * (tot.nx + tot.ny + 1)
                 - (2 * below + (cx + cy) + 1)) AS s2
    FROM cumb, tot
),
ab AS (
    SELECT CAST(COALESCE(SUM(cx * s2), 0) AS BIGINT) AS ab2x,
           CAST(COALESCE(SUM(cy * s2), 0) AS BIGINT) AS ab2y
    FROM sc
)
SELECT tot.nx, tot.ny, ab.ab2x, ab.ab2y,
       CAST(CASE WHEN tot.nx = 0 THEN 0
            ELSE (1000 * ab.ab2x) // (2 * tot.nx) END AS BIGINT)
           AS mean_x_milli,
       CAST(CASE WHEN tot.ny = 0 THEN 0
            ELSE (1000 * ab.ab2y) // (2 * tot.ny) END AS BIGINT)
           AS mean_y_milli,
       CAST(CASE WHEN ab.ab2y = 0 OR tot.nx = 0 THEN 0
            ELSE (1000 * ab.ab2x * tot.ny) // (ab.ab2y * tot.nx)
            END AS BIGINT) AS dispersion_ratio_milli
FROM ab, tot
""",
)
def stats_ansari_bradley(spark, sf_dir):
    sup = _merged_support(_xy_daily(spark, sf_dir))
    tot = sup.agg(
        bigint(F.coalesce(F.sum("cx"), F.lit(0))).alias("nx"),
        bigint(F.coalesce(F.sum("cy"), F.lit(0))).alias("ny"),
    )
    # merged click/view daily-volume value spine (n_days-bounded)
    w_below = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    cumb = sup.select(
        "v",
        "cx",
        "cy",
        F.coalesce(F.sum(F.col("cx") + F.col("cy")).over(w_below), F.lit(0)).alias(
            "below"
        ),
    )
    sc = cumb.crossJoin(F.broadcast(tot)).select(
        "cx",
        "cy",
        F.least(
            2 * F.col("below") + (F.col("cx") + F.col("cy")) + 1,
            2 * (F.col("nx") + F.col("ny") + 1)
            - (2 * F.col("below") + (F.col("cx") + F.col("cy")) + 1),
        ).alias("s2"),
    )
    ab = sc.agg(
        bigint(F.coalesce(F.sum(F.col("cx") * F.col("s2")), F.lit(0))).alias(
            "ab2x"
        ),
        bigint(F.coalesce(F.sum(F.col("cy") * F.col("s2")), F.lit(0))).alias(
            "ab2y"
        ),
    )
    j = ab.crossJoin(F.broadcast(tot))
    return j.select(
        "nx",
        "ny",
        "ab2x",
        "ab2y",
        F.expr(
            "CAST(CASE WHEN nx = 0 THEN 0"
            " ELSE (1000 * ab2x) DIV (2 * nx) END AS BIGINT)"
        ).alias("mean_x_milli"),
        F.expr(
            "CAST(CASE WHEN ny = 0 THEN 0"
            " ELSE (1000 * ab2y) DIV (2 * ny) END AS BIGINT)"
        ).alias("mean_y_milli"),
        F.expr(
            "CAST(CASE WHEN ab2y = 0 OR nx = 0 THEN 0"
            " ELSE (1000 * ab2x * ny) DIV (ab2y * nx) END AS BIGINT)"
        ).alias("dispersion_ratio_milli"),
    )


@register(
    "stats_anderson_darling_2s",
    doc="Anderson–Darling two-sample test of the click (x) vs view (y) "
    "daily volumes — the tail-weighted EDF distance (weight "
    "1/(B(N−B)) blows up at the extremes, where KS is blind): "
    "Scholz–Stephens version-1 over the merged value support, per-term "
    "floored micro contributions (declared; both engines truncate the "
    "identical integer expression), last support row excluded (B = N "
    "term is 0 by definition). a2_micro sums both samples' terms; "
    "under H0, A² ≈ 1 (a2_micro ≈ 1e6). n_terms = contributing "
    "support rows. Zero-size guards report 0.",
    oracle=f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS x,
           CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS y
    FROM events GROUP BY 1
),
{_SUP_SQL},
tot AS (
    SELECT CAST(COALESCE(SUM(cx), 0) AS BIGINT) AS m,
           CAST(COALESCE(SUM(cy), 0) AS BIGINT) AS n
    FROM sup
),
cum AS (
    SELECT v, cx + cy AS l,
           SUM(cx) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mx,
           SUM(cy) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS my,
           SUM(cx + cy) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS b
    FROM sup
),
terms AS (
    SELECT l, mx, my, b, tot.m, tot.n, tot.m + tot.n AS nn
    FROM cum, tot
    WHERE b < tot.m + tot.n AND tot.m > 0 AND tot.n > 0
),
ad AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(COALESCE(SUM(
               CAST((CAST(l AS HUGEINT)
                     * CAST(nn * mx - m * b AS HUGEINT)
                     * CAST(nn * mx - m * b AS HUGEINT) * 1000000)
                   // (CAST(m AS HUGEINT) * nn * b * (nn - b)) AS BIGINT)
             + CAST((CAST(l AS HUGEINT)
                     * CAST(nn * my - n * b AS HUGEINT)
                     * CAST(nn * my - n * b AS HUGEINT) * 1000000)
                   // (CAST(n AS HUGEINT) * nn * b * (nn - b)) AS BIGINT)
           ), 0) AS BIGINT) AS a2_micro
    FROM terms
)
SELECT tot.m AS nx, tot.n AS ny, ad.n_terms, ad.a2_micro
FROM tot, ad
""",
)
def stats_anderson_darling_2s(spark, sf_dir):
    sup = _merged_support(_xy_daily(spark, sf_dir))
    tot = sup.agg(
        bigint(F.coalesce(F.sum("cx"), F.lit(0))).alias("m"),
        bigint(F.coalesce(F.sum("cy"), F.lit(0))).alias("n"),
    )
    # merged click/view daily-volume value spine (n_days-bounded)
    w_cum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = sup.select(
        "v",
        (F.col("cx") + F.col("cy")).alias("l"),
        F.sum("cx").over(w_cum).alias("mx"),
        F.sum("cy").over(w_cum).alias("my"),
        F.sum(F.col("cx") + F.col("cy")).over(w_cum).alias("b"),
    )
    terms = (
        cum.crossJoin(F.broadcast(tot))
        .withColumn("nn", F.col("m") + F.col("n"))
        .filter(
            (F.col("b") < F.col("nn")) & (F.col("m") > 0) & (F.col("n") > 0)
        )
    )
    ad = terms.agg(
        bigint(F.count(F.lit(1))).alias("n_terms"),
        bigint(
            F.coalesce(
                F.sum(
                    # squared-deviation numerator in DECIMAL(38,0)
                    # (oracle: HUGEINT) — l*(nn*mx-m*b)^2*1e6 is bounded
                    # by ~nn^5/16*1e6, which exceeds int64 past a ~650-day
                    # spine; the stats_tschuprow_t precedent
                    F.expr(
                        "CAST((CAST(l AS DECIMAL(38,0))"
                        " * CAST(nn * mx - m * b AS DECIMAL(38,0))"
                        " * CAST(nn * mx - m * b AS DECIMAL(38,0))"
                        " * 1000000)"
                        " DIV (CAST(m AS DECIMAL(38,0)) * nn * b * (nn - b))"
                        " AS BIGINT)"
                        " + CAST((CAST(l AS DECIMAL(38,0))"
                        " * CAST(nn * my - n * b AS DECIMAL(38,0))"
                        " * CAST(nn * my - n * b AS DECIMAL(38,0))"
                        " * 1000000)"
                        " DIV (CAST(n AS DECIMAL(38,0)) * nn * b * (nn - b))"
                        " AS BIGINT)"
                    )
                ),
                F.lit(0),
            )
        ).alias("a2_micro"),
    )
    return tot.crossJoin(F.broadcast(ad)).select(
        F.col("m").alias("nx"),
        F.col("n").alias("ny"),
        "n_terms",
        "a2_micro",
    )
