"""Round-9 wave-1 — association-measure statistics over the event log,
completing the 2x2 and ordinal-pair families the rounds-8 inference
wave started (odds ratio / kappa / tau-b / chi-square live there; these
add the remaining classical effect-size readouts every experimentation
stack reports next to them):

- ``stats_fisher_exact``: the EXACT conditional 2x2 test (day-level
  table so n = n_days stays in the exact regime) — hypergeometric
  weights by the stepwise Pascal recurrence, two-sided p as the mass of
  tables no more likely than the observed one. Everything is exact
  integer arithmetic in DECIMAL(38,0)/HUGEINT; raises past the exact
  cap instead of wrapping (the stats_sign_test discipline).
- ``stats_yule_q``: Yule's Q = (ad-bc)/(ad+bc) in truncated bp (Spark
  DIV / DuckDB //, both toward zero — verified on negatives).
- ``stats_phi_coefficient``: phi = (ad-bc)/sqrt((a+b)(c+d)(a+c)(b+d)),
  one mirrored IEEE sqrt rounded to 6 dp (tau-b precedent).
- ``stats_cohens_h``: arcsine effect size for two proportions,
  2*(asin(sqrt(p1)) - asin(sqrt(p2))), mirrored IEEE rounded 6 dp.
- ``stats_goodman_kruskal_gamma`` / ``stats_somers_d`` /
  ``stats_stuart_tau_c``: the ordinal-association triple over the same
  C(n_days, 2) day-pair counts stats_kendall_tau_b walks — gamma drops
  ties, Somers' D_yx penalizes ties in the dependent series, tau-c
  corrects for table shape; all exact integer rationals in bp.
- ``stats_tschuprow_t``: Tschuprow's T from the same exact chi-square
  micro-units as stats_cramers_v, mirrored IEEE nested sqrt, 6 dp.

Reference scope: the reference engine is an event log
(src/broker/main.rs consume path); each of these is a declared
aggregate over the same consumed ``events`` table, per SURVEY §2B.

Scale (100 TB): every query collapses the log with one combinable
groupBy (to a 2x2 table, a (type x dow) contingency, or the n_days day
spine) — pair math runs on spans, never rows; the Fisher fold walks a
<= n_days-element array inside one JVM HOF on a 1-row frame.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cascade_spark.operators._util import bigint, t
from cascade_spark.operators.inference_extra import (
    _BINOM_N_CAP,
    _XY_SQL,
    _csum,
    _xy_daily,
)
from cascade_spark.plans.registry import register

# Shared 2x2 spine (the stats_odds_ratio flags): weekend exposure
# (ISO dow >= 6) x purchase outcome, one map-side-combinable pass.
_FLAGS_SQL = """
flags AS (
    SELECT CASE WHEN ISODOW(CAST(ts AS DATE)) >= 6 THEN 1 ELSE 0 END AS exp,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS outc
    FROM events
),
cells AS (
    SELECT CAST(COUNT(*) FILTER (WHERE exp = 1 AND outc = 1) AS BIGINT) AS a,
           CAST(COUNT(*) FILTER (WHERE exp = 1 AND outc = 0) AS BIGINT) AS b,
           CAST(COUNT(*) FILTER (WHERE exp = 0 AND outc = 1) AS BIGINT) AS c,
           CAST(COUNT(*) FILTER (WHERE exp = 0 AND outc = 0) AS BIGINT) AS d
    FROM flags
)
"""


def _flag_cells(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    flags = ev.select(
        F.when(F.dayofweek(F.date_sub(F.to_date("ts"), 1)).cast("long") >= 6, 1)
        .otherwise(0)
        .alias("exp"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("outc"),
    )
    return flags.agg(
        _csum((F.col("exp") == 1) & (F.col("outc") == 1)).alias("a"),
        _csum((F.col("exp") == 1) & (F.col("outc") == 0)).alias("b"),
        _csum((F.col("exp") == 0) & (F.col("outc") == 1)).alias("c"),
        _csum((F.col("exp") == 0) & (F.col("outc") == 0)).alias("d"),
    )


# ---------------------------------------------------------------------------
# Fisher's exact test (day-level 2x2 so n stays in the exact regime)
# ---------------------------------------------------------------------------


# Hypergeometric support bounds for the observed 2x2 (a,b,c,d):
# k ranges over [max(0, c1-r2), min(r1, c1)] with r1=a+b, r2=c+d, c1=a+c.
_FISHER_LO = "GREATEST(CAST(0 AS BIGINT), (a + c) - (c + d))"
_FISHER_HI = "LEAST(a + b, a + c)"


def _pascal_expr(m_expr: str, top_expr: str) -> str:
    """Array [C(m,0), ..., C(m,top)] in DECIMAL(38,0) — the exactly
    divisible stepwise recurrence; entries past m correctly decay to 0."""
    dec1 = "CAST(1 AS DECIMAL(38,0))"
    return f"""
    IF({top_expr} < 1, array({dec1}),
       aggregate(sequence(CAST(1 AS BIGINT), {top_expr}),
                 array({dec1}),
                 (acc, i) -> concat(acc, array(CAST(
                     (element_at(acc, CAST(i AS INT)) * ({m_expr} - i + 1)) / i
                     AS DECIMAL(38,0)))),
                 acc -> acc))
    """


@register(
    "stats_fisher_exact",
    doc="Fisher's exact test on the day-level 2x2 table (weekend day x "
    "clicks-beat-views day, n = n_days so the exact regime holds): "
    "two-sided p = sum of hypergeometric weights w(k) = "
    "C(r1,k)*C(r2,c1-k) over all tables with w(k) <= w(observed), "
    "divided by C(n,c1) (recovered as the weight total — Vandermonde), "
    "reported in truncated bp. Weights come from exactly-divisible "
    "Pascal-recurrence arrays in DECIMAL(38,0) (DuckDB: HUGEINT "
    f"recursive CTEs), exact through n = {_BINOM_N_CAP} and RAISING "
    "past it (stats_sign_test discipline). The whole fold runs on a "
    "1-row frame; the only data pass is the daily groupBy.",
    oracle=f"""
WITH RECURSIVE {_XY_SQL},
dflag AS (
    SELECT CASE WHEN ISODOW(day) >= 6 THEN 1 ELSE 0 END AS exp,
           CASE WHEN x > y THEN 1 ELSE 0 END AS outc
    FROM daily
),
cells AS (
    SELECT CAST(COUNT(*) FILTER (WHERE exp = 1 AND outc = 1) AS BIGINT) AS a,
           CAST(COUNT(*) FILTER (WHERE exp = 1 AND outc = 0) AS BIGINT) AS b,
           CAST(COUNT(*) FILTER (WHERE exp = 0 AND outc = 1) AS BIGINT) AS c,
           CAST(COUNT(*) FILTER (WHERE exp = 0 AND outc = 0) AS BIGINT) AS d
    FROM dflag
),
m AS (
    SELECT a, b, c, d, a + b AS r1, c + d AS r2, a + c AS c1,
           GREATEST(CAST(0 AS BIGINT), (a + c) - (c + d)) AS lo,
           LEAST(a + b, a + c) AS hi
    FROM cells
),
ca(k, v) AS (
    SELECT CAST(0 AS BIGINT), CAST(1 AS HUGEINT)
    UNION ALL
    SELECT k + 1, (v * (m.r1 - k)) // (k + 1) FROM ca, m WHERE k < m.hi
),
cb(j, v) AS (
    SELECT CAST(0 AS BIGINT), CAST(1 AS HUGEINT)
    UNION ALL
    SELECT j + 1, (v * (m.r2 - j)) // (j + 1) FROM cb, m WHERE j < m.c1
),
w AS (
    SELECT ca.k, ca.v * cbv.v AS w
    FROM ca, m JOIN cb cbv ON cbv.j = m.c1 - ca.k
    WHERE ca.k BETWEEN m.lo AND m.hi
),
obs AS (SELECT w.w AS w_obs FROM w, m WHERE w.k = m.a),
tot AS (
    SELECT SUM(w) AS total,
           SUM(CASE WHEN w <= (SELECT w_obs FROM obs) THEN w
                    ELSE CAST(0 AS HUGEINT) END) AS pnum
    FROM w
)
SELECT m.a, m.b, m.c, m.d,
       CAST(LEAST(CAST(10000 AS HUGEINT), (tot.pnum * 10000) // tot.total)
            AS BIGINT) AS p2_bp
FROM m, tot
""",
)
def stats_fisher_exact(spark, sf_dir):
    daily = _xy_daily(spark, sf_dir)
    flags = daily.select(
        F.when(F.dayofweek(F.date_sub("day", 1)).cast("long") >= 6, 1)
        .otherwise(0)
        .alias("exp"),
        F.when(F.col("x") > F.col("y"), 1).otherwise(0).alias("outc"),
    )
    cells = flags.agg(
        _csum((F.col("exp") == 1) & (F.col("outc") == 1)).alias("a"),
        _csum((F.col("exp") == 1) & (F.col("outc") == 0)).alias("b"),
        _csum((F.col("exp") == 0) & (F.col("outc") == 1)).alias("c"),
        _csum((F.col("exp") == 0) & (F.col("outc") == 0)).alias("d"),
    )
    return _fisher_from_cells(cells)


def _fisher_from_cells(cells):
    """Two-sided Fisher p2_bp from a 1-row (a, b, c, d) frame — split
    out so the hypergeometric fold is property-testable against exact
    Python big-integer math on arbitrary tables."""
    staged = (
        cells.withColumn("_ca", F.expr(_pascal_expr("(a + b)", _FISHER_HI)))
        .withColumn("_cb", F.expr(_pascal_expr("(c + d)", "(a + c)")))
        .withColumn(
            "_w",
            F.expr(
                f"""
                transform(sequence({_FISHER_LO}, {_FISHER_HI}),
                    k -> element_at(_ca, CAST(k + 1 AS INT))
                         * element_at(_cb, CAST((a + c) - k + 1 AS INT)))
                """
            ),
        )
        .withColumn("_wobs", F.expr(f"element_at(_w, CAST(a - ({_FISHER_LO}) + 1 AS INT))"))
    )
    dec0 = "CAST(0 AS DECIMAL(38,0))"
    return staged.select(
        "a",
        "b",
        "c",
        "d",
        F.expr(
            f"""
            CASE WHEN a + b + c + d > {_BINOM_N_CAP}
            THEN CAST(raise_error(CONCAT(
                 'fisher exact is decimal(38,0)-exact only for n <= ',
                 '{_BINOM_N_CAP}; got n = ', CAST(a + b + c + d AS STRING)))
                 AS BIGINT)
            ELSE
            LEAST(CAST(10000 AS BIGINT),
                  CAST((aggregate(filter(_w, x -> x <= _wobs), {dec0},
                                  (s, x) -> CAST(s + x AS DECIMAL(38,0)))
                        * 10000)
                       DIV aggregate(_w, {dec0},
                                     (s, x) -> CAST(s + x AS DECIMAL(38,0)))
                       AS BIGINT))
            END
            """
        ).alias("p2_bp"),
    )


# ---------------------------------------------------------------------------
# Yule's Q / phi coefficient / Cohen's h — 2x2 effect sizes
# ---------------------------------------------------------------------------


@register(
    "stats_yule_q",
    doc="Yule's Q association for the weekend-exposure x purchase 2x2: "
    "Q = (ad - bc)/(ad + bc) in truncated bp — one exact integer "
    "rational via DECIMAL(38,0)/HUGEINT with Spark DIV / DuckDB // "
    "toward-zero parity on negatives; 0 when ad + bc = 0.",
    oracle=f"""
WITH {_FLAGS_SQL}
SELECT a, b, c, d,
       CAST(CASE WHEN CAST(a AS HUGEINT) * d + CAST(b AS HUGEINT) * c = 0
                 THEN 0
                 ELSE (10000 * (CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c))
                      // (CAST(a AS HUGEINT) * d + CAST(b AS HUGEINT) * c)
            END AS BIGINT) AS yule_q_bp
FROM cells
""",
)
def stats_yule_q(spark, sf_dir):
    return _flag_cells(spark, sf_dir).select(
        "a",
        "b",
        "c",
        "d",
        F.expr(
            "CAST(CASE WHEN CAST(a AS DECIMAL(38,0)) * d"
            " + CAST(b AS DECIMAL(38,0)) * c = 0 THEN 0"
            " ELSE (10000 * (CAST(a AS DECIMAL(38,0)) * d"
            " - CAST(b AS DECIMAL(38,0)) * c))"
            " DIV (CAST(a AS DECIMAL(38,0)) * d"
            " + CAST(b AS DECIMAL(38,0)) * c) END AS BIGINT)"
        ).alias("yule_q_bp"),
    )


@register(
    "stats_phi_coefficient",
    doc="Phi (Matthews) coefficient of the weekend x purchase 2x2 as a "
    "6-dp double: (ad - bc)/sqrt((a+b)(c+d)(a+c)(b+d)) — the SAME "
    "small-integer-derived IEEE expression tree on both engines "
    "(tau-b precedent); 0.0 when any margin is empty. The bp-exact "
    "variant lives in stats_mcc_matthews; this is the conventional "
    "rounded-double report.",
    oracle=f"""
WITH {_FLAGS_SQL}
SELECT a, b, c, d,
       CASE WHEN a + b = 0 OR c + d = 0 OR a + c = 0 OR b + d = 0 THEN 0.0
            ELSE ROUND((CAST(a AS DOUBLE) * d - CAST(b AS DOUBLE) * c)
                 / SQRT(CAST(a + b AS DOUBLE) * (c + d) * (a + c) * (b + d)), 6)
       END AS phi
FROM cells
""",
)
def stats_phi_coefficient(spark, sf_dir):
    cells = _flag_cells(spark, sf_dir)
    empty_margin = (
        (F.col("a") + F.col("b") == 0)
        | (F.col("c") + F.col("d") == 0)
        | (F.col("a") + F.col("c") == 0)
        | (F.col("b") + F.col("d") == 0)
    )
    phi = F.round(
        (F.col("a").cast("double") * F.col("d") - F.col("b").cast("double") * F.col("c"))
        / F.sqrt(
            (F.col("a") + F.col("b")).cast("double")
            * (F.col("c") + F.col("d"))
            * (F.col("a") + F.col("c"))
            * (F.col("b") + F.col("d"))
        ),
        6,
    )
    return cells.select(
        "a", "b", "c", "d", F.when(empty_margin, F.lit(0.0)).otherwise(phi).alias("phi")
    )


@register(
    "stats_cohens_h",
    doc="Cohen's h arcsine effect size between the weekend and weekday "
    "purchase rates: h = 2*asin(sqrt(p1)) - 2*asin(sqrt(p2)) with "
    "p1 = a/(a+b), p2 = c/(c+d) — one mirrored IEEE expression rounded "
    "to 6 dp (the rounded-ln precedent class); 0.0 on an empty margin. "
    "The variance-stabilized counterpart of the raw rate difference "
    "stats_sample_size_two_proportions plans around.",
    oracle=f"""
WITH {_FLAGS_SQL}
SELECT a, b, c, d,
       CASE WHEN a + b = 0 OR c + d = 0 THEN 0.0
            ELSE ROUND(2 * (ASIN(SQRT(CAST(a AS DOUBLE) / (a + b)))
                          - ASIN(SQRT(CAST(c AS DOUBLE) / (c + d)))), 6)
       END AS cohens_h
FROM cells
""",
)
def stats_cohens_h(spark, sf_dir):
    cells = _flag_cells(spark, sf_dir)
    h = F.round(
        2
        * (
            F.asin(F.sqrt(F.col("a").cast("double") / (F.col("a") + F.col("b"))))
            - F.asin(F.sqrt(F.col("c").cast("double") / (F.col("c") + F.col("d"))))
        ),
        6,
    )
    return cells.select(
        "a",
        "b",
        "c",
        "d",
        F.when(
            (F.col("a") + F.col("b") == 0) | (F.col("c") + F.col("d") == 0),
            F.lit(0.0),
        )
        .otherwise(h)
        .alias("cohens_h"),
    )


# ---------------------------------------------------------------------------
# Ordinal association triple on the kendall day-pair spine
# ---------------------------------------------------------------------------

_PAIRS_SQL = """
pairs AS (
    SELECT a.x - b.x AS dx, a.y - b.y AS dy
    FROM daily a JOIN daily b ON a.day < b.day
),
cnt AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n0,
           CAST(COUNT(*) FILTER (WHERE dx * dy > 0) AS BIGINT) AS nc,
           CAST(COUNT(*) FILTER (WHERE dx * dy < 0) AS BIGINT) AS nd,
           CAST(COUNT(*) FILTER (WHERE dx = 0 AND dy != 0) AS BIGINT) AS ties_x,
           CAST(COUNT(*) FILTER (WHERE dx != 0 AND dy = 0) AS BIGINT) AS ties_y
    FROM pairs
)
"""


def _pair_counts(spark, sf_dir):
    daily = _xy_daily(spark, sf_dir)
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = a.join(F.broadcast(b), F.col("a.day") < F.col("b.day")).select(
        (F.col("a.x") - F.col("b.x")).alias("dx"),
        (F.col("a.y") - F.col("b.y")).alias("dy"),
    )
    return pairs.agg(
        bigint(F.count(F.lit(1))).alias("n0"),
        _csum(F.col("dx") * F.col("dy") > 0).alias("nc"),
        _csum(F.col("dx") * F.col("dy") < 0).alias("nd"),
        _csum((F.col("dx") == 0) & (F.col("dy") != 0)).alias("ties_x"),
        _csum((F.col("dx") != 0) & (F.col("dy") == 0)).alias("ties_y"),
    )


@register(
    "stats_goodman_kruskal_gamma",
    doc="Goodman-Kruskal gamma between click and view daily volumes: "
    "(nc - nd)/(nc + nd) over all C(n_days,2) day pairs, ignoring "
    "ties entirely — the tie-free sibling of stats_kendall_tau_b on "
    "the identical pair spine. Truncated bp, toward-zero parity; 0 "
    "when every pair is tied.",
    oracle=f"""
WITH {_XY_SQL},
{_PAIRS_SQL}
SELECT nc, nd,
       CAST(CASE WHEN nc + nd = 0 THEN 0
                 ELSE (10000 * (nc - nd)) // (nc + nd) END AS BIGINT) AS gamma_bp
FROM cnt
""",
)
def stats_goodman_kruskal_gamma(spark, sf_dir):
    return _pair_counts(spark, sf_dir).select(
        "nc",
        "nd",
        F.expr(
            "CAST(CASE WHEN nc + nd = 0 THEN 0"
            " ELSE (10000 * (nc - nd)) DIV (nc + nd) END AS BIGINT)"
        ).alias("gamma_bp"),
    )


@register(
    "stats_somers_d",
    doc="Somers' D_yx (view volume as the dependent series): "
    "(nc - nd)/(nc + nd + ties_y) over the kendall day-pair spine — "
    "penalizes pairs tied on y but not on x, the asymmetric ordinal "
    "association used for rank-based model lift (equals the Gini/AUC "
    "rescale in the binary case). Truncated bp; 0 when the denominator "
    "is empty.",
    oracle=f"""
WITH {_XY_SQL},
{_PAIRS_SQL}
SELECT nc, nd, ties_y,
       CAST(CASE WHEN nc + nd + ties_y = 0 THEN 0
                 ELSE (10000 * (nc - nd)) // (nc + nd + ties_y)
            END AS BIGINT) AS somers_d_bp
FROM cnt
""",
)
def stats_somers_d(spark, sf_dir):
    return _pair_counts(spark, sf_dir).select(
        "nc",
        "nd",
        "ties_y",
        F.expr(
            "CAST(CASE WHEN nc + nd + ties_y = 0 THEN 0"
            " ELSE (10000 * (nc - nd)) DIV (nc + nd + ties_y) END AS BIGINT)"
        ).alias("somers_d_bp"),
    )


@register(
    "stats_stuart_tau_c",
    doc="Stuart's tau-c between click and view daily volumes: "
    "2*m*(nc - nd) / (n^2 * (m - 1)) with m = min(|distinct x|, "
    "|distinct y|) — the table-shape-corrected kendall variant for "
    "rectangular contingency. Exact integer rational in truncated bp "
    "via DECIMAL(38,0)/HUGEINT (n^2 outgrows int64 at scale); 0 when "
    "m <= 1.",
    oracle=f"""
WITH {_XY_SQL},
{_PAIRS_SQL},
m AS (
    SELECT LEAST(CAST(COUNT(DISTINCT x) AS BIGINT),
                 CAST(COUNT(DISTINCT y) AS BIGINT)) AS m,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM daily
)
SELECT cnt.nc, cnt.nd, m.m, m.n AS n_days,
       CAST(CASE WHEN m.m <= 1 THEN 0
                 ELSE (CAST(10000 AS HUGEINT) * 2 * m.m * (cnt.nc - cnt.nd))
                      // (CAST(m.n AS HUGEINT) * m.n * (m.m - 1))
            END AS BIGINT) AS tau_c_bp
FROM cnt, m
""",
)
def stats_stuart_tau_c(spark, sf_dir):
    daily = _xy_daily(spark, sf_dir)
    cnt = _pair_counts(spark, sf_dir)
    m = daily.agg(
        F.least(
            F.countDistinct("x").cast("long"), F.countDistinct("y").cast("long")
        ).alias("m"),
        bigint(F.count(F.lit(1))).alias("n"),
    )
    return cnt.crossJoin(F.broadcast(m)).select(
        "nc",
        "nd",
        "m",
        F.col("n").alias("n_days"),
        F.expr(
            "CAST(CASE WHEN m <= 1 THEN 0"
            " ELSE (CAST(10000 AS DECIMAL(38,0)) * 2 * m * (nc - nd))"
            " DIV (CAST(n AS DECIMAL(38,0)) * n * (m - 1)) END AS BIGINT)"
        ).alias("tau_c_bp"),
    )


# ---------------------------------------------------------------------------
# Tschuprow's T from the exact chi-square micro-units
# ---------------------------------------------------------------------------


@register(
    "stats_tschuprow_t",
    doc="Tschuprow's T for the (event_type x ISO weekday) contingency "
    "table: T = sqrt(chi2 / (n * sqrt((R-1)(C-1)))) — the "
    "square-table-unbiased sibling of stats_cramers_v, built from the "
    "SAME exact per-cell chi-square micro-units (DECIMAL(38,0) DIV / "
    "HUGEINT //), with the final nested sqrt as one mirrored IEEE "
    "expression rounded to 6 dp; 0.0 on a degenerate (single-level) "
    "table.",
    oracle="""
WITH cells AS (
    SELECT event_type, ISODOW(CAST(ts AS DATE)) AS dow,
           CAST(COUNT(*) AS BIGINT) AS o
    FROM events GROUP BY 1, 2
),
r AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY 1),
c AS (SELECT dow, CAST(SUM(o) AS BIGINT) AS c FROM cells GROUP BY 1),
n AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
             CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_r,
             CAST(COUNT(DISTINCT dow) AS BIGINT) AS n_c
      FROM cells),
terms AS (
    SELECT CAST((CAST(cells.o * n.n - r.r * c.c AS HUGEINT)
                 * (cells.o * n.n - r.r * c.c) * 1000000)
                // (CAST(n.n AS HUGEINT) * r.r * c.c) AS BIGINT) AS tm
    FROM cells, n
    JOIN r ON r.event_type = cells.event_type
    JOIN c ON c.dow = cells.dow
),
chi AS (SELECT CAST(SUM(tm) AS BIGINT) AS chi2_micro FROM terms)
SELECT n.n, n.n_r AS r_levels, n.n_c AS c_levels, chi.chi2_micro,
       CASE WHEN n.n_r <= 1 OR n.n_c <= 1 THEN 0.0
            ELSE ROUND(SQRT(CAST(chi.chi2_micro AS DOUBLE) / 1000000
                 / (n.n * SQRT(CAST(n.n_r - 1 AS DOUBLE) * (n.n_c - 1)))), 6)
       END AS tschuprow_t
FROM chi, n
""",
)
def stats_tschuprow_t(spark, sf_dir):
    from cascade_spark.operators.inference_extra import _contingency_cells

    cells = _contingency_cells(spark, sf_dir)
    r = cells.groupBy("event_type").agg(bigint(F.sum("o")).alias("r"))
    c = cells.groupBy("dow").agg(bigint(F.sum("o")).alias("c"))
    n = cells.agg(
        bigint(F.sum("o")).alias("n"),
        bigint(F.countDistinct("event_type")).alias("n_r"),
        bigint(F.countDistinct("dow")).alias("n_c"),
    )
    j = (
        cells.join(F.broadcast(r), "event_type")
        .join(F.broadcast(c), "dow")
        .crossJoin(F.broadcast(n))
    )
    term = F.expr(
        "CAST((CAST(o * n - r * c AS DECIMAL(38,0))"
        " * CAST(o * n - r * c AS DECIMAL(38,0)) * 1000000)"
        " DIV (CAST(n AS DECIMAL(38,0)) * r * c) AS BIGINT)"
    )
    # global agg + re-broadcast of the scalar frame (NOT a groupBy on
    # the constant (n, n_r, n_c) columns): on a zero-row slice the
    # grouped form emits 0 rows while the oracle's scalar-subquery
    # shape emits one — the empty-input parity sweep pins this
    chi = (
        j.select(term.alias("tm"))
        .agg(bigint(F.sum("tm")).alias("chi2_micro"))
        .crossJoin(F.broadcast(n))
    )
    t_val = F.round(
        F.sqrt(
            F.col("chi2_micro").cast("double")
            / 1000000
            / (
                F.col("n")
                * F.sqrt((F.col("n_r") - 1).cast("double") * (F.col("n_c") - 1))
            )
        ),
        6,
    )
    return chi.select(
        "n",
        F.col("n_r").alias("r_levels"),
        F.col("n_c").alias("c_levels"),
        "chi2_micro",
        F.when((F.col("n_r") <= 1) | (F.col("n_c") <= 1), F.lit(0.0))
        .otherwise(t_val)
        .alias("tschuprow_t"),
    )
