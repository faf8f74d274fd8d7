"""Round-8 wave-9 inference statistics — the nonparametric/categorical
association family that completes the repo's hypothesis-testing surface
(MWU/KS/Kruskal/Brown-Forsythe/ANOVA test location/spread; these cover
rank correlation, paired designs, shift estimation and 2x2 tables):

- ``stats_kendall_tau_b``: Kendall tau-b between two event types'
  daily volumes — rank correlation robust to outliers, with the full
  tie bookkeeping (concordant/discordant/tie-x/tie-y/tie-both counted
  exactly over the day-pair space).
- ``stats_hodges_lehmann``: Hodges–Lehmann shift estimator between two
  event types' daily volumes — the median of all pairwise differences,
  the effect-size companion to stats_mannwhitney_u (doubled to stay an
  exact integer when the pair count is even).
- ``stats_mood_median``: Mood's median test — counts above the pooled
  grand median per event type with exact scaled residuals and the
  mirrored-IEEE chi-square contribution per group (the
  stats_chisq_independence determinism pattern).
- ``stats_friedman``: Friedman rank test over the (day-block x
  event-type-treatment) grid — the repeated-measures Kruskal-Wallis,
  tie-corrected, as ONE exact rational reported in floor basis points.
- ``stats_sign_test``: paired sign test between two event types'
  daily volumes with an EXACT two-sided binomial p-value: the binomial
  tail sum rides an integer Pascal recurrence (C(n,i) =
  C(n,i-1)*(n-i+1)/i, exact at every step), n <= n_days keeps every
  intermediate in int64.
- ``stats_cohens_kappa``: inter-rater agreement between two heuristic
  document-quality raters (chars-threshold vs words-threshold) —
  kappa as one exact integer rational via truncating division.
- ``stats_durbin_watson``: first-order autocorrelation screen on each
  event type's daily-volume residuals — DW in floor bp with the mean
  cleared by integer scaling (d_t = n*x_t - S, scale cancels).
- ``stats_odds_ratio``: 2x2 (weekend exposure x purchase outcome)
  odds ratio with the Haldane–Anscombe +1/2 correction kept exact by
  doubling (2a+1 etc.), plus the relative risk, both floor bp.

Reference scope: the reference engine's query surface is aggregation
over a consumed event log (src/broker/main.rs consume/aggregate loop); each
of these is a declared aggregate over the same ``events``/``documents``
tables.

Determinism: every statistic that is a ratio of integers is computed
as one exact rational and reported via truncating integer division
(Spark DIV / DuckDB //, both toward zero, so negative kappa/tau
agree); the two that need an IEEE sqrt (tau-b) or per-cell chi-square
(Mood) build the SAME small-integer-derived double expression tree on
both engines and round to 6 dp — the stats_welch_ttest /
stats_chisq_independence precedent.

Scale (100 TB): all eight collapse the raw log to bounded spines
before any quadratic step — the (event_type x day) grid is k*n_days
cells and the document raters are one map-side-combinable groupBy —
so every pair/rank stage runs over spans, not rows, and the plans are
shuffle-once at any corpus size. Day-pair fan-outs are
O(n_days^2) = O(900) regardless of row count.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from cascade_spark import store
from cascade_spark.operators._util import barrier, bigint, t
from cascade_spark.plans.registry import register

BP = 10_000

# Exact-binomial regime cap for the sign-test family: the Pascal
# recurrence runs in DECIMAL(38,0) (DuckDB HUGEINT), so C(n, n/2) and
# 2*tail*10^4 must stay inside 38 digits AND inside BigDecimal's
# 34-significant-digit division context — C(100,50) ~ 1.0e29 and
# 2*2^100*10^4 ~ 2.5e34 both do; past the cap the Spark plan RAISES
# instead of silently wrapping (int64 wrapped from n ~ 49 before).
_BINOM_N_CAP = 100


def _binom_tail_expr() -> str:
    """SQL expression (needs row columns ``n`` and ``m``): a struct with
    ``s`` = sum_{i<=m} C(n,i) and ``p`` = 2^n, both DECIMAL(38,0) via
    the integer Pascal recurrence C(n,i) = C(n,i-1)*(n-i+1)/i (exactly
    divisible at every step, so the decimal division is exact). Raises
    past the decimal-exact regime rather than wrapping."""
    dec0 = "CAST(0 AS DECIMAL(38,0))"
    dec1 = "CAST(1 AS DECIMAL(38,0))"
    return f"""
        CASE
        WHEN n > {_BINOM_N_CAP} THEN named_struct(
            's', CAST(raise_error(CONCAT(
                 'sign-test binomial tail is decimal(38,0)-exact only for ',
                 'n <= {_BINOM_N_CAP}; got n = ', CAST(n AS STRING)))
                 AS DECIMAL(38,0)),
            'p', {dec1})
        WHEN n = 0 THEN named_struct('s', {dec1}, 'p', {dec1})
        ELSE aggregate(
            sequence(CAST(1 AS BIGINT), n),
            named_struct('c', {dec1}, 's', {dec1}, 'p', {dec1}),
            (acc, i) -> named_struct(
                'c', CAST((acc.c * (n - i + 1)) / i AS DECIMAL(38,0)),
                's', CAST(acc.s + IF(i <= m,
                          CAST((acc.c * (n - i + 1)) / i AS DECIMAL(38,0)),
                          {dec0}) AS DECIMAL(38,0)),
                'p', CAST(acc.p * 2 AS DECIMAL(38,0))),
            acc -> named_struct('s', acc.s, 'p', acc.p))
        END
    """

# Shared two-series day spine: daily volumes of two event types with
# absent (type, day) cells zero-filled — every day that has ANY event
# appears, so both series have exactly n_days observations (the
# equal-n regime stats_kruskal_wallis established).
_XY_SQL = """
daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS x,
           CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS y
    FROM events GROUP BY 1
)
"""


def _csum(cond) -> "F.Column":
    """COUNT(*) FILTER (WHERE cond) as a bigint — coalesced to 0 so a
    zero-row input matches the oracle's FILTER count (a bare
    F.sum(F.when(...)) over no rows is NULL, not 0)."""
    return bigint(F.coalesce(F.sum(F.when(cond, 1).otherwise(0)), F.lit(0)))


def _xy_daily(spark, sf_dir):
    """Shared per-(app, sf_dir) materialized (day, x, y) spine: 15
    rank/correlation builders each re-ran the events scan + day
    aggregate, and most self-join the spine (2+ references per query) —
    without a barrier every reference re-ran the build (guide §2.4)."""

    def build():
        ev = t(spark, sf_dir, "events")
        return ev.groupBy(F.to_date("ts").alias("day")).agg(
            bigint(
                F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            ).alias("x"),
            bigint(
                F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
            ).alias("y"),
        )

    return store.frame("inference.xy_daily", spark, sf_dir, build)


def _contingency_cells(spark, sf_dir):
    """Shared per-(app, sf_dir) materialized (event_type × ISO weekday)
    contingency table: (event_type, dow, o) — ≤ (types × 7) rows. Six
    association/independence builders (chisq, cramers_v, tschuprow_t,
    g_test, normalized_mutual_info, chi2_goodness_of_fit) each re-ran
    the full events scan + groupBy — and every one references `cells`
    3-9 times in-plan (r/c/n marginals + the cell join), so each
    reference re-executed the scan (guide §2.4). One build per session;
    marginals downstream run over ≤ 35 cached rows."""

    def build():
        ev = t(spark, sf_dir, "events")
        return ev.groupBy(
            "event_type",
            F.dayofweek(F.date_sub(F.to_date("ts"), 1)).cast("long").alias("dow"),
        ).agg(bigint(F.count(F.lit(1))).alias("o"))

    return store.frame("inference.contingency_cells", spark, sf_dir, build)


# ---------------------------------------------------------------------------
# Kendall tau-b
# ---------------------------------------------------------------------------


@register(
    "stats_kendall_tau_b",
    "analytics",
    doc="Kendall tau-b rank correlation between click and view daily "
    "volumes: concordant/discordant/tie counts exact over all "
    "C(n_days,2) day pairs (a 30x30 self-join on the aggregated day "
    "spine — pairs over SPANS, never rows), tau-b's sqrt evaluated as "
    "one mirrored IEEE expression rounded to 6 dp (Welch precedent).",
    oracle="""
WITH """ + _XY_SQL + """,
pairs AS (
    SELECT a.x - b.x AS dx, a.y - b.y AS dy
    FROM daily a JOIN daily b ON a.day < b.day
),
cnt AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n0,
           CAST(COUNT(*) FILTER (WHERE dx * dy > 0) AS BIGINT) AS nc,
           CAST(COUNT(*) FILTER (WHERE dx * dy < 0) AS BIGINT) AS nd,
           CAST(COUNT(*) FILTER (WHERE dx = 0 AND dy != 0) AS BIGINT) AS ties_x,
           CAST(COUNT(*) FILTER (WHERE dx != 0 AND dy = 0) AS BIGINT) AS ties_y,
           CAST(COUNT(*) FILTER (WHERE dx = 0 AND dy = 0) AS BIGINT) AS ties_both
    FROM pairs
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_days,
       nc, nd, ties_x, ties_y, ties_both,
       CASE WHEN (n0 - ties_x - ties_both) * (n0 - ties_y - ties_both) = 0
            THEN 0.0
            ELSE ROUND(CAST(nc - nd AS DOUBLE)
                 / SQRT(CAST(n0 - ties_x - ties_both AS DOUBLE)
                        * CAST(n0 - ties_y - ties_both AS DOUBLE)), 6)
       END AS tau_b
FROM cnt
""",
)
def stats_kendall_tau_b(spark, sf_dir):
    daily = _xy_daily(spark, sf_dir)
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = a.join(F.broadcast(b), F.col("a.day") < F.col("b.day")).select(
        (F.col("a.x") - F.col("b.x")).alias("dx"),
        (F.col("a.y") - F.col("b.y")).alias("dy"),
    )
    cnt = pairs.agg(
        bigint(F.count(F.lit(1))).alias("n0"),
        _csum(F.col("dx") * F.col("dy") > 0).alias("nc"),
        _csum(F.col("dx") * F.col("dy") < 0).alias("nd"),
        _csum((F.col("dx") == 0) & (F.col("dy") != 0)).alias("ties_x"),
        _csum((F.col("dx") != 0) & (F.col("dy") == 0)).alias("ties_y"),
        _csum((F.col("dx") == 0) & (F.col("dy") == 0)).alias("ties_both"),
    )
    nday = daily.agg(bigint(F.count(F.lit(1))).alias("n_days"))
    den_x = F.col("n0") - F.col("ties_x") - F.col("ties_both")
    den_y = F.col("n0") - F.col("ties_y") - F.col("ties_both")
    return cnt.crossJoin(F.broadcast(nday)).select(
        "n_days",
        "nc",
        "nd",
        "ties_x",
        "ties_y",
        "ties_both",
        F.when(den_x * den_y == 0, F.lit(0.0))
        .otherwise(
            F.round(
                (F.col("nc") - F.col("nd")).cast("double")
                / F.sqrt(den_x.cast("double") * den_y.cast("double")),
                6,
            )
        )
        .alias("tau_b"),
    )


# ---------------------------------------------------------------------------
# Hodges–Lehmann shift estimator
# ---------------------------------------------------------------------------


@register(
    "stats_hodges_lehmann",
    "analytics",
    doc="Hodges–Lehmann shift estimate between click and view daily "
    "volumes: the median of all n1*n2 pairwise differences x_i - y_j, "
    "DOUBLED so the even-count midpoint average stays an exact integer. "
    "Selection rides the repo's order-statistic spine: differences "
    "grouped by value, exclusive prefix sum locates the two middle "
    "positions — never a global per-row sort. Pair space is "
    "O(n_days^2) on the aggregated spine.",
    oracle="""
WITH """ + _XY_SQL + """,
diffs AS (
    SELECT a.x - b.y AS v FROM daily a CROSS JOIN daily b
),
pv AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS ct FROM diffs GROUP BY v),
cum AS (
    SELECT v, ct,
           CAST(COALESCE(SUM(ct) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS cb
    FROM pv
),
scal AS (SELECT CAST(SUM(ct) AS BIGINT) AS np FROM pv),
sel AS (
    SELECT CAST(SUM(v * (CASE WHEN cb < (np + 1) // 2 AND (np + 1) // 2 <= cb + ct
                              THEN 1 ELSE 0 END
                       + CASE WHEN cb < (np + 2) // 2 AND (np + 2) // 2 <= cb + ct
                              THEN 1 ELSE 0 END)) AS BIGINT) AS hl_x2
    FROM cum, scal
)
SELECT scal.np AS n_pairs,
       (SELECT MIN(v) FROM pv) AS min_diff,
       (SELECT MAX(v) FROM pv) AS max_diff,
       sel.hl_x2
FROM scal, sel
""",
)
def stats_hodges_lehmann(spark, sf_dir):
    from cascade_spark.operators.ingest import assign_prefix_sum

    daily = _xy_daily(spark, sf_dir)
    a = daily.select(F.col("x"))
    b = daily.select(F.col("y"))
    diffs = a.crossJoin(F.broadcast(b)).select((F.col("x") - F.col("y")).alias("v"))
    pv = diffs.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("ct"))
    cum = assign_prefix_sum(pv, ["v"], "ct").select(
        "v", "ct", F.col("prefix_sum").alias("cb")
    )
    scal = pv.agg(F.sum("ct").cast("long").alias("np"))
    k1 = F.expr("(np + 1) DIV 2")
    k2 = F.expr("(np + 2) DIV 2")
    hit = lambda k: F.when((F.col("cb") < k) & (k <= F.col("cb") + F.col("ct")), 1).otherwise(0)  # noqa: E731
    sel = (
        cum.crossJoin(F.broadcast(scal))
        .select((F.col("v") * (hit(k1) + hit(k2))).alias("part"))
        .agg(F.sum("part").cast("long").alias("hl_x2"))
    )
    ext = pv.agg(
        F.min("v").cast("long").alias("min_diff"),
        F.max("v").cast("long").alias("max_diff"),
    )
    return (
        scal.crossJoin(F.broadcast(ext))
        .crossJoin(F.broadcast(sel))
        .select(F.col("np").alias("n_pairs"), "min_diff", "max_diff", "hl_x2")
    )


# ---------------------------------------------------------------------------
# Mood's median test
# ---------------------------------------------------------------------------


@register(
    "stats_mood_median",
    "analytics",
    doc="Mood's median test across the five event types' daily volumes "
    "(zero-filled grid): pooled grand median located exactly on the "
    "doubled order-statistic spine, per-type counts strictly above it, "
    "scaled residuals d = o*N - A*n_t in exact int64, and each type's "
    "chi-square contribution (above + below cells) as one mirrored "
    "IEEE expression at 6 dp — the stats_chisq_independence pattern.",
    oracle="""
WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
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
pv AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS ct FROM cell GROUP BY v),
cum AS (
    SELECT v, ct,
           CAST(COALESCE(SUM(ct) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS cb
    FROM pv
),
scal AS (SELECT CAST(SUM(ct) AS BIGINT) AS n FROM pv),
med AS (
    SELECT CAST(SUM(v * (CASE WHEN cb < (n + 1) // 2 AND (n + 1) // 2 <= cb + ct
                              THEN 1 ELSE 0 END
                       + CASE WHEN cb < (n + 2) // 2 AND (n + 2) // 2 <= cb + ct
                              THEN 1 ELSE 0 END)) AS BIGINT) AS m2
    FROM cum, scal
),
grp AS (
    SELECT cell.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_t,
           CAST(COUNT(*) FILTER (WHERE 2 * cell.v > med.m2) AS BIGINT) AS above
    FROM cell, med GROUP BY cell.event_type, med.m2
),
tot AS (
    SELECT CAST(SUM(n_t) AS BIGINT) AS n, CAST(SUM(above) AS BIGINT) AS a_tot
    FROM grp
)
SELECT grp.event_type, grp.n_t, grp.above, med.m2 AS grand_median_x2,
       grp.above * tot.n - tot.a_tot * grp.n_t AS d,
       CASE WHEN tot.a_tot = 0 OR tot.a_tot = tot.n THEN 0.0
            ELSE ROUND(
        CAST(grp.above * tot.n - tot.a_tot * grp.n_t AS DOUBLE)
        * CAST(grp.above * tot.n - tot.a_tot * grp.n_t AS DOUBLE)
        / (CAST(tot.n AS DOUBLE) * CAST(tot.a_tot AS DOUBLE)
           * CAST(grp.n_t AS DOUBLE) * CAST(tot.n AS DOUBLE))
        + CAST((grp.n_t - grp.above) * tot.n - (tot.n - tot.a_tot) * grp.n_t
               AS DOUBLE)
        * CAST((grp.n_t - grp.above) * tot.n - (tot.n - tot.a_tot) * grp.n_t
               AS DOUBLE)
        / (CAST(tot.n AS DOUBLE) * CAST(tot.n - tot.a_tot AS DOUBLE)
           * CAST(grp.n_t AS DOUBLE) * CAST(tot.n AS DOUBLE)), 6)
       END AS contrib
FROM grp, med, tot
ORDER BY grp.event_type
""",
)
def stats_mood_median(spark, sf_dir):
    from cascade_spark.operators.estimation import _grid
    from cascade_spark.operators.ingest import assign_prefix_sum

    cell = _grid(spark, sf_dir)
    pv = cell.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("ct"))
    cum = assign_prefix_sum(pv, ["v"], "ct").select(
        "v", "ct", F.col("prefix_sum").alias("cb")
    )
    scal = pv.agg(F.sum("ct").cast("long").alias("n"))
    k1 = F.expr("(n + 1) DIV 2")
    k2 = F.expr("(n + 2) DIV 2")
    hit = lambda k: F.when((F.col("cb") < k) & (k <= F.col("cb") + F.col("ct")), 1).otherwise(0)  # noqa: E731
    med = (
        cum.crossJoin(F.broadcast(scal))
        .select((F.col("v") * (hit(k1) + hit(k2))).alias("part"))
        .agg(F.sum("part").cast("long").alias("m2"))
    )
    grp = (
        cell.crossJoin(F.broadcast(med))
        .groupBy("event_type", "m2")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_t"),
            bigint(
                F.sum(F.when(F.lit(2) * F.col("v") > F.col("m2"), 1).otherwise(0))
            ).alias("above"),
        )
    )
    tot = grp.agg(
        F.sum("n_t").cast("long").alias("n"),
        F.sum("above").cast("long").alias("a_tot"),
    )
    j = grp.crossJoin(F.broadcast(tot))
    d_a = F.col("above") * F.col("n") - F.col("a_tot") * F.col("n_t")
    d_b = (F.col("n_t") - F.col("above")) * F.col("n") - (
        F.col("n") - F.col("a_tot")
    ) * F.col("n_t")
    contrib = F.round(
        d_a.cast("double")
        * d_a.cast("double")
        / (
            F.col("n").cast("double")
            * F.col("a_tot").cast("double")
            * F.col("n_t").cast("double")
            * F.col("n").cast("double")
        )
        + d_b.cast("double")
        * d_b.cast("double")
        / (
            F.col("n").cast("double")
            * (F.col("n") - F.col("a_tot")).cast("double")
            * F.col("n_t").cast("double")
            * F.col("n").cast("double")
        ),
        6,
    )
    return j.select(
        "event_type",
        "n_t",
        "above",
        F.col("m2").alias("grand_median_x2"),
        d_a.alias("d"),
        F.when(
            (F.col("a_tot") == 0) | (F.col("a_tot") == F.col("n")), F.lit(0.0)
        )
        .otherwise(contrib)
        .alias("contrib"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Friedman test
# ---------------------------------------------------------------------------


@register(
    "stats_friedman",
    "analytics",
    doc="Friedman repeated-measures rank test: each day is a block, the "
    "five event types are treatments, doubled tie-correct midranks "
    "within each block (2r = 2*rank + eq - 1 from rank() + an equal-"
    "count window — windows over k=5 rows per day, bounded by the "
    "treatment count at any corpus size). Tie-corrected statistic "
    "Q = (k-1)*sum_j(R2_j - n(k+1))^2 / (sum s^2 - n*k*(k+1)^2) is ONE "
    "exact rational reported in floor bp; degenerate all-tied blocks "
    "yield q_bp = 0.",
    oracle="""
WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
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
ranked AS (
    SELECT event_type, day,
           2 * RANK() OVER (PARTITION BY day ORDER BY v)
             + COUNT(*) OVER (PARTITION BY day, v) - 1 AS s
    FROM cell
),
rsum AS (
    SELECT event_type, CAST(SUM(s) AS BIGINT) AS r2
    FROM ranked GROUP BY event_type
),
scal AS (
    SELECT CAST((SELECT COUNT(*) FROM days) AS BIGINT) AS n,
           CAST((SELECT COUNT(*) FROM types) AS BIGINT) AS k,
           CAST((SELECT SUM(s * s) FROM ranked) AS BIGINT) AS ss
),
num AS (
    SELECT CAST(SUM((r2 - scal.n * (scal.k + 1))
                    * (r2 - scal.n * (scal.k + 1))) AS BIGINT) AS n1
    FROM rsum, scal GROUP BY scal.n, scal.k
)
SELECT scal.n AS n_days, scal.k AS n_groups, num.n1,
       scal.ss - scal.n * scal.k * (scal.k + 1) * (scal.k + 1) AS d1,
       CASE WHEN scal.ss - scal.n * scal.k * (scal.k + 1) * (scal.k + 1) = 0
            THEN CAST(0 AS BIGINT)
            ELSE CAST((10000 * (scal.k - 1) * num.n1)
                 // (scal.ss - scal.n * scal.k * (scal.k + 1) * (scal.k + 1))
                 AS BIGINT)
       END AS q_bp
FROM scal, num
""",
)
def stats_friedman(spark, sf_dir):
    from cascade_spark.operators.estimation import _grid

    cell = _grid(spark, sf_dir)
    days = cell.select("day").distinct()
    types = cell.select("event_type").distinct()
    ranked = cell.select(
        "event_type",
        "day",
        (
            F.lit(2) * F.rank().over(Window.partitionBy("day").orderBy("v"))
            + F.count(F.lit(1)).over(Window.partitionBy("day", "v"))
            - 1
        )
        .cast("long")
        .alias("s"),
    # referenced twice (per-type rank sums + the ss scalar): evaluate
    # the per-day rank windows once
    ).transform(barrier)
    rsum = ranked.groupBy("event_type").agg(F.sum("s").cast("long").alias("r2"))
    scal = ranked.agg(
        F.sum(F.col("s") * F.col("s")).cast("long").alias("ss")
    ).crossJoin(
        F.broadcast(days.agg(F.count(F.lit(1)).cast("long").alias("n")))
    ).crossJoin(
        F.broadcast(types.agg(F.count(F.lit(1)).cast("long").alias("k")))
    )
    num = (
        rsum.crossJoin(F.broadcast(scal))
        .select(
            (
                (F.col("r2") - F.col("n") * (F.col("k") + 1))
                * (F.col("r2") - F.col("n") * (F.col("k") + 1))
            ).alias("sq")
        )
        .agg(F.sum("sq").cast("long").alias("n1"))
    )
    one = scal.crossJoin(F.broadcast(num))
    d1 = F.col("ss") - F.col("n") * F.col("k") * (F.col("k") + 1) * (F.col("k") + 1)
    return one.select(
        F.col("n").alias("n_days"),
        F.col("k").alias("n_groups"),
        "n1",
        d1.alias("d1"),
        F.when(d1 == 0, F.lit(0))
        .otherwise(F.expr("(10000 * (k - 1) * n1) DIV (ss - n * k * (k+1) * (k+1))"))
        .cast("long")
        .alias("q_bp"),
    )


# ---------------------------------------------------------------------------
# paired sign test with exact binomial p
# ---------------------------------------------------------------------------


@register(
    "stats_sign_test",
    "analytics",
    doc="Paired sign test (click vs view daily volumes): pos/neg/tie "
    "counts, then the EXACT two-sided binomial p-value — the tail sum "
    "sum_{i<=min(pos,neg)} C(n,i) via the integer Pascal recurrence "
    "C(n,i) = C(n,i-1)*(n-i+1)/i (exactly divisible at every step; a "
    "Spark aggregate() HOF / DuckDB recursive CTE, mirrored). The "
    "recurrence accumulates in DECIMAL(38,0) (oracle: HUGEINT), exact "
    f"through n = {_BINOM_N_CAP} and RAISING past it — int64 wrapped "
    "silently from n ~ 49. p2_bp = min(10^4, 2*tail*10^4 // 2^n) with "
    "2^n carried in the same recurrence.",
    oracle="""
WITH RECURSIVE """ + _XY_SQL + """,
cnt AS (
    SELECT CAST(COUNT(*) FILTER (WHERE x > y) AS BIGINT) AS pos,
           CAST(COUNT(*) FILTER (WHERE x < y) AS BIGINT) AS neg,
           CAST(COUNT(*) FILTER (WHERE x = y) AS BIGINT) AS tie
    FROM daily
),
scal AS (
    SELECT pos, neg, tie, pos + neg AS n,
           CASE WHEN pos < neg THEN pos ELSE neg END AS m
    FROM cnt
),
binom(i, c, s, p) AS (
    SELECT CAST(0 AS BIGINT), CAST(1 AS HUGEINT), CAST(1 AS HUGEINT),
           CAST(1 AS HUGEINT)
    UNION ALL
    SELECT i + 1,
           (c * (scal.n - i)) // (i + 1),
           s + CASE WHEN i + 1 <= scal.m
                    THEN (c * (scal.n - i)) // (i + 1)
                    ELSE CAST(0 AS HUGEINT) END,
           p * 2
    FROM binom, scal WHERE i < scal.n
),
tail AS (SELECT MAX(s) AS tail, MAX(p) AS pow2 FROM binom, scal WHERE i = scal.n)
SELECT scal.pos, scal.neg, scal.tie,
       LEAST(CAST(10000 AS BIGINT),
             CAST((2 * tail.tail * 10000) // tail.pow2 AS BIGINT)) AS p2_bp
FROM scal, tail
""",
)
def stats_sign_test(spark, sf_dir):
    daily = _xy_daily(spark, sf_dir)
    cnt = daily.agg(
        _csum(F.col("x") > F.col("y")).alias("pos"),
        _csum(F.col("x") < F.col("y")).alias("neg"),
        _csum(F.col("x") == F.col("y")).alias("tie"),
    )
    scal = cnt.select(
        "pos", "neg", "tie", (F.col("pos") + F.col("neg")).alias("n"),
        F.least("pos", "neg").alias("m"),
    )
    # tail = sum_{i=0..m} C(n,i) and 2^n, both DECIMAL(38,0)-exact
    # (Pascal recurrence inside an aggregate HOF; raises past the cap).
    p2 = F.expr(
        "LEAST(CAST(10000 AS BIGINT),"
        " CAST((2 * _b.s * 10000) DIV _b.p AS BIGINT))"
    )
    return (
        scal.withColumn("_b", F.expr(_binom_tail_expr()))
        .withColumn("p2_bp", p2)
        .select("pos", "neg", "tie", "p2_bp")
    )


# ---------------------------------------------------------------------------
# Cohen's kappa
# ---------------------------------------------------------------------------

KAPPA_CHARS_CUT = 300
KAPPA_WORDS_CUT = 50


@register(
    "stats_cohens_kappa",
    "analytics",
    doc="Cohen's kappa between two heuristic document-quality raters "
    "(rater A: n_chars >= 300; rater B: whitespace words >= 50) — the "
    "agreement-beyond-chance audit run when two cheap filters are "
    "candidates for the same gate. One map-side-combinable groupBy to "
    "the 2x2 table; kappa = (N*(a+d) - pe) / (N^2 - pe) with "
    "pe = (a+b)(a+c) + (c+d)(b+d), one exact integer rational in "
    "truncated bp (Spark DIV / DuckDB // parity on negatives).",
    oracle=f"""
WITH rated AS (
    SELECT CASE WHEN n_chars >= {KAPPA_CHARS_CUT} THEN 1 ELSE 0 END AS ra,
           CASE WHEN LEN(STRING_SPLIT(text, ' ')) >= {KAPPA_WORDS_CUT}
                THEN 1 ELSE 0 END AS rb
    FROM documents
),
cells AS (
    SELECT CAST(COUNT(*) FILTER (WHERE ra = 1 AND rb = 1) AS BIGINT) AS a,
           CAST(COUNT(*) FILTER (WHERE ra = 1 AND rb = 0) AS BIGINT) AS b,
           CAST(COUNT(*) FILTER (WHERE ra = 0 AND rb = 1) AS BIGINT) AS c,
           CAST(COUNT(*) FILTER (WHERE ra = 0 AND rb = 0) AS BIGINT) AS d,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM rated
)
SELECT a, b, c, d, n,
       CASE WHEN n * n = (a+b)*(a+c) + (c+d)*(b+d) THEN CAST(0 AS BIGINT)
            ELSE CAST((10000 * (n*(a+d) - ((a+b)*(a+c) + (c+d)*(b+d))))
                 // (n*n - ((a+b)*(a+c) + (c+d)*(b+d))) AS BIGINT)
       END AS kappa_bp
FROM cells
""",
)
def stats_cohens_kappa(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    rated = docs.select(
        F.when(F.col("n_chars") >= KAPPA_CHARS_CUT, 1).otherwise(0).alias("ra"),
        F.when(
            F.size(F.split(F.col("text"), " ", -1)) >= KAPPA_WORDS_CUT, 1
        )
        .otherwise(0)
        .alias("rb"),
    )
    cells = rated.agg(
        _csum((F.col("ra") == 1) & (F.col("rb") == 1)).alias("a"),
        _csum((F.col("ra") == 1) & (F.col("rb") == 0)).alias("b"),
        _csum((F.col("ra") == 0) & (F.col("rb") == 1)).alias("c"),
        _csum((F.col("ra") == 0) & (F.col("rb") == 0)).alias("d"),
        bigint(F.count(F.lit(1))).alias("n"),
    )
    pe = F.expr("(a+b)*(a+c) + (c+d)*(b+d)")
    return cells.select(
        "a",
        "b",
        "c",
        "d",
        "n",
        F.when(F.col("n") * F.col("n") == pe, F.lit(0))
        .otherwise(
            F.expr(
                "(10000 * (n*(a+d) - ((a+b)*(a+c) + (c+d)*(b+d))))"
                " DIV (n*n - ((a+b)*(a+c) + (c+d)*(b+d)))"
            )
        )
        .cast("long")
        .alias("kappa_bp"),
    )


# ---------------------------------------------------------------------------
# Durbin–Watson
# ---------------------------------------------------------------------------


@register(
    "stats_durbin_watson",
    "analytics",
    doc="Durbin–Watson first-order autocorrelation statistic on each "
    "event type's daily-volume residuals: the mean is cleared by "
    "integer scaling (d_t = n*x_t - S so the 1/n cancels), "
    "DW = sum (d_t - d_(t-1))^2 / sum d_t^2 is one exact rational per "
    "type reported in floor bp via decimal(38,0). The lag window is "
    "partitioned by event_type over n_days rows — bounded spans. "
    "DW ~ 2 means no autocorrelation; < 2 positive, > 2 negative.",
    oracle="""
WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
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
st AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS s
    FROM cell GROUP BY event_type
),
resid AS (
    SELECT c.event_type, c.day, st.n * c.v - st.s AS e
    FROM cell c JOIN st ON st.event_type = c.event_type
),
lagged AS (
    SELECT event_type, e,
           LAG(e) OVER (PARTITION BY event_type ORDER BY day) AS ep
    FROM resid
),
agg AS (
    SELECT event_type,
           CAST(SUM(CASE WHEN ep IS NULL THEN 0 ELSE (e - ep) * (e - ep) END)
                AS HUGEINT) AS num,
           CAST(SUM(e * e) AS HUGEINT) AS den
    FROM lagged GROUP BY event_type
)
SELECT a.event_type, st.n AS n_days,
       CASE WHEN a.den = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST((10000 * a.num) // a.den AS BIGINT)
       END AS dw_bp
FROM agg a JOIN st ON st.event_type = a.event_type
ORDER BY a.event_type
""",
)
def stats_durbin_watson(spark, sf_dir):
    from cascade_spark.operators.estimation import _grid

    cell = _grid(spark, sf_dir)
    # referenced twice (residual attach + the final join)
    st = cell.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("s"),
    ).transform(barrier)
    resid = cell.join(F.broadcast(st), "event_type").select(
        "event_type", "day", (F.col("n") * F.col("v") - F.col("s")).alias("e")
    )
    lagged = resid.select(
        "event_type",
        "e",
        F.lag("e").over(Window.partitionBy("event_type").orderBy("day")).alias("ep"),
    )
    # per-row products are cast to decimal(38,0) BEFORE the sum so the
    # accumulation is exact on both engines (oracle SUMs into HUGEINT);
    # summing long products wraps silently past int64
    diff = (F.col("e") - F.col("ep")).cast("decimal(38,0)")
    agg = lagged.groupBy("event_type").agg(
        F.sum(
            F.when(F.col("ep").isNull(), F.lit(0).cast("decimal(38,0)")).otherwise(
                diff * (F.col("e") - F.col("ep"))
            )
        )
        .cast("decimal(38,0)")
        .alias("num"),
        F.sum(F.col("e").cast("decimal(38,0)") * F.col("e"))
        .cast("decimal(38,0)")
        .alias("den"),
    )
    return (
        agg.join(F.broadcast(st), "event_type")
        .select(
            "event_type",
            F.col("n").alias("n_days"),
            F.when(F.col("den") == 0, F.lit(0))
            .otherwise(F.floor(F.lit(10000) * F.col("num") / F.col("den")))
            .cast("long")
            .alias("dw_bp"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# 2x2 odds ratio / relative risk
# ---------------------------------------------------------------------------


@register(
    "stats_odds_ratio",
    "analytics",
    doc="2x2 case-control readout: weekend exposure (ISO dow >= 6) vs "
    "purchase outcome. Odds ratio with the Haldane–Anscombe +1/2 "
    "correction kept exact by doubling ((2a+1)(2d+1) / (2b+1)(2c+1)) "
    "and the relative risk a(c+d) / c(a+b), both as exact integer "
    "rationals in truncated bp via decimal(38,0) (HUGEINT). One "
    "map-side-combinable pass over the log.",
    oracle="""
WITH flags AS (
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
SELECT a, b, c, d,
       CAST((CAST(10000 AS HUGEINT) * (2*a+1) * (2*d+1))
            // (CAST(2*b+1 AS HUGEINT) * (2*c+1)) AS BIGINT) AS odds_ratio_bp,
       CASE WHEN c = 0 OR a + b = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST((CAST(10000 AS HUGEINT) * a * (c + d))
                 // (CAST(c AS HUGEINT) * (a + b)) AS BIGINT)
       END AS rel_risk_bp
FROM cells
""",
)
def stats_odds_ratio(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    flags = ev.select(
        F.when(
            F.dayofweek(F.date_sub(F.to_date("ts"), 1)).cast("long") >= 6, 1
        )
        .otherwise(0)
        .alias("exp"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("outc"),
    )
    cells = flags.agg(
        _csum((F.col("exp") == 1) & (F.col("outc") == 1)).alias("a"),
        _csum((F.col("exp") == 1) & (F.col("outc") == 0)).alias("b"),
        _csum((F.col("exp") == 0) & (F.col("outc") == 1)).alias("c"),
        _csum((F.col("exp") == 0) & (F.col("outc") == 0)).alias("d"),
    )

    def dec(e):
        return e.cast("decimal(38,0)")

    or_bp = F.floor(
        dec(F.lit(10000))
        * (2 * F.col("a") + 1)
        * (2 * F.col("d") + 1)
        / (dec(2 * F.col("b") + 1) * (2 * F.col("c") + 1))
    )
    rr_bp = F.when(
        (F.col("c") == 0) | (F.col("a") + F.col("b") == 0), F.lit(0)
    ).otherwise(
        F.floor(
            dec(F.lit(10000))
            * F.col("a")
            * (F.col("c") + F.col("d"))
            / (dec(F.col("c")) * (F.col("a") + F.col("b")))
        )
    )
    return cells.select(
        "a",
        "b",
        "c",
        "d",
        or_bp.cast("long").alias("odds_ratio_bp"),
        rr_bp.cast("long").alias("rel_risk_bp"),
    )


# ---------------------------------------------------------------------------
# Benjamini–Hochberg FDR over exact pairwise sign tests
# ---------------------------------------------------------------------------

BH_ALPHA_BP = 500  # alpha = 0.05 in basis points


@register(
    "stats_bh_fdr",
    "analytics",
    doc="Multiple-testing correction done exactly: paired sign tests "
    "between EVERY pair of event types' daily volumes (the "
    "stats_sign_test Pascal-recurrence binomial, one HOF per pair "
    "row), then Benjamini–Hochberg step-up at alpha = 0.05 with the "
    "threshold comparison cross-multiplied to integers "
    "(p_bp * m <= rank * 500 — no division anywhere). discovery = "
    "rank <= k* where k* is the largest passing rank. The ranking "
    "windows run over the k(k-1)/2 = 10 pair rows — spans, not data.",
    oracle=f"""
WITH RECURSIVE days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
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
pairs AS (
    SELECT a.event_type AS ta, b.event_type AS tb
    FROM types a JOIN types b ON a.event_type < b.event_type
),
cnt AS (
    SELECT p.ta, p.tb,
           CAST(COUNT(*) FILTER (WHERE ca.v > cb.v) AS BIGINT) AS pos,
           CAST(COUNT(*) FILTER (WHERE ca.v < cb.v) AS BIGINT) AS neg
    FROM pairs p
    JOIN cell ca ON ca.event_type = p.ta
    JOIN cell cb ON cb.event_type = p.tb AND cb.day = ca.day
    GROUP BY p.ta, p.tb
),
scal AS (
    SELECT ta, tb, pos, neg, pos + neg AS n,
           CASE WHEN pos < neg THEN pos ELSE neg END AS m
    FROM cnt
),
binom(ta, tb, i, c, s, p) AS (
    SELECT ta, tb, CAST(0 AS BIGINT), CAST(1 AS HUGEINT), CAST(1 AS HUGEINT),
           CAST(1 AS HUGEINT)
    FROM scal
    UNION ALL
    SELECT b.ta, b.tb, b.i + 1,
           (b.c * (sc.n - b.i)) // (b.i + 1),
           b.s + CASE WHEN b.i + 1 <= sc.m
                      THEN (b.c * (sc.n - b.i)) // (b.i + 1)
                      ELSE CAST(0 AS HUGEINT) END,
           b.p * 2
    FROM binom b JOIN scal sc ON sc.ta = b.ta AND sc.tb = b.tb
    WHERE b.i < sc.n
),
pv AS (
    SELECT sc.ta, sc.tb, sc.pos, sc.neg,
           LEAST(CAST(10000 AS BIGINT),
                 CAST((2 * b.s * 10000) // b.p AS BIGINT)) AS p2_bp
    FROM scal sc JOIN binom b ON b.ta = sc.ta AND b.tb = sc.tb AND b.i = sc.n
),
ranked AS (
    SELECT ta, tb, pos, neg, p2_bp,
           CAST(ROW_NUMBER() OVER (ORDER BY p2_bp, ta, tb) AS BIGINT) AS p_rank,
           CAST(COUNT(*) OVER () AS BIGINT) AS m_tests
    FROM pv
),
kstar AS (
    SELECT COALESCE(MAX(CASE WHEN p2_bp * m_tests <= p_rank * {BH_ALPHA_BP}
                             THEN p_rank END), 0) AS k
    FROM ranked
)
SELECT r.ta AS type_a, r.tb AS type_b, r.pos, r.neg, r.p2_bp, r.p_rank,
       CAST(CASE WHEN r.p_rank <= kstar.k THEN 1 ELSE 0 END AS BIGINT)
           AS discovery
FROM ranked r, kstar
ORDER BY r.p_rank, r.ta, r.tb
""",
)
def stats_bh_fdr(spark, sf_dir):
    from cascade_spark.operators.estimation import _grid

    cell = _grid(spark, sf_dir)
    types = cell.select("event_type").distinct()
    pairs = (
        types.alias("a")
        .join(types.alias("b"), F.col("a.event_type") < F.col("b.event_type"))
        .select(
            F.col("a.event_type").alias("ta"), F.col("b.event_type").alias("tb")
        )
    )
    ca = cell.select(F.col("event_type").alias("ta"), "day", F.col("v").alias("va"))
    cb = cell.select(F.col("event_type").alias("tb"), "day", F.col("v").alias("vb"))
    cnt = (
        F.broadcast(pairs)
        .join(ca, "ta")
        .join(cb, ["tb", "day"])
        .groupBy("ta", "tb")
        .agg(
            bigint(F.sum(F.when(F.col("va") > F.col("vb"), 1).otherwise(0))).alias(
                "pos"
            ),
            bigint(F.sum(F.when(F.col("va") < F.col("vb"), 1).otherwise(0))).alias(
                "neg"
            ),
        )
    )
    scal = cnt.select(
        "ta", "tb", "pos", "neg", (F.col("pos") + F.col("neg")).alias("n"),
        F.least("pos", "neg").alias("m"),
    )
    pv = scal.withColumn("_b", F.expr(_binom_tail_expr())).select(
        "ta",
        "tb",
        "pos",
        "neg",
        F.expr(
            "LEAST(CAST(10000 AS BIGINT),"
            " CAST((2 * _b.s * 10000) DIV _b.p AS BIGINT))"
        ).alias("p2_bp"),
    )
    # BH step-up over the 10 pair rows (bounded by k(k-1)/2, not data)
    w_all = Window.orderBy("p2_bp", "ta", "tb")
    ranked = pv.select(
        "ta",
        "tb",
        "pos",
        "neg",
        "p2_bp",
        F.row_number().over(w_all).cast("long").alias("p_rank"),
        F.count(F.lit(1))
        .over(Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .cast("long")
        .alias("m_tests"),
    # referenced twice (the k* aggregate + the final projection):
    # evaluate the pair scoring chain once
    ).transform(barrier)
    kstar = ranked.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("p2_bp") * F.col("m_tests")
                    <= F.col("p_rank") * BH_ALPHA_BP,
                    F.col("p_rank"),
                )
            ),
            F.lit(0),
        ).alias("k")
    )
    return (
        ranked.crossJoin(F.broadcast(kstar))
        .select(
            F.col("ta").alias("type_a"),
            F.col("tb").alias("type_b"),
            "pos",
            "neg",
            "p2_bp",
            "p_rank",
            F.when(F.col("p_rank") <= F.col("k"), 1)
            .otherwise(0)
            .cast("long")
            .alias("discovery"),
        )
        .orderBy("p_rank", "type_a", "type_b")
    )


# ---------------------------------------------------------------------------
# Mantel–Haenszel stratified odds ratio
# ---------------------------------------------------------------------------

MH_TERM_SCALE = 1_000_000


@register(
    "stats_mantel_haenszel",
    "analytics",
    doc="Mantel–Haenszel day-stratified odds ratio of the purchase "
    "outcome across the md5 A/B user arms (stats_ab_srm_check's "
    "split): per-day 2x2 cells in one combinable pass, per-stratum "
    "terms a_k*d_k/n_k and b_k*c_k/n_k kept deterministic by "
    "micro-scaled floor division (term = (10^6*a*d) DIV n — declared "
    "semantics, mirrored), OR_MH and the crude (unstratified, "
    "Haldane-free) OR in floor bp via decimal(38,0)/HUGEINT. The "
    "confounder-adjusted effect readout next to stats_odds_ratio's "
    "single-table view.",
    oracle=f"""
WITH flags AS (
    SELECT CAST(ts AS DATE) AS day,
           CASE WHEN ('0x' || SUBSTR(MD5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
                     % 2 = 0 THEN 1 ELSE 0 END AS exp,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS outc
    FROM events WHERE user_id IS NOT NULL
),
cells AS (
    SELECT day,
           CAST(COUNT(*) FILTER (WHERE exp = 1 AND outc = 1) AS BIGINT) AS a,
           CAST(COUNT(*) FILTER (WHERE exp = 1 AND outc = 0) AS BIGINT) AS b,
           CAST(COUNT(*) FILTER (WHERE exp = 0 AND outc = 1) AS BIGINT) AS c,
           CAST(COUNT(*) FILTER (WHERE exp = 0 AND outc = 0) AS BIGINT) AS d,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM flags GROUP BY day
),
terms AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
           CAST(SUM(({MH_TERM_SCALE} * a * d) // n) AS HUGEINT) AS sum_num,
           CAST(SUM(({MH_TERM_SCALE} * b * c) // n) AS HUGEINT) AS sum_den,
           CAST(SUM(a) AS HUGEINT) AS ta, CAST(SUM(b) AS HUGEINT) AS tb,
           CAST(SUM(c) AS HUGEINT) AS tc, CAST(SUM(d) AS HUGEINT) AS td
    FROM cells
)
SELECT n_strata,
       CAST(sum_num AS BIGINT) AS sum_num, CAST(sum_den AS BIGINT) AS sum_den,
       CAST(CASE WHEN sum_den = 0 THEN 0
                 ELSE (10000 * sum_num) // sum_den END AS BIGINT) AS or_mh_bp,
       CAST(CASE WHEN tb * tc = 0 THEN 0
                 ELSE (10000 * ta * td) // (tb * tc) END AS BIGINT)
           AS or_crude_bp
FROM terms
""",
)
def stats_mantel_haenszel(spark, sf_dir):
    ev = t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    arm = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 2
    )
    flags = ev.select(
        F.to_date("ts").alias("day"),
        F.when(arm == 0, 1).otherwise(0).alias("exp"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("outc"),
    )
    cells = flags.groupBy("day").agg(
        bigint(F.sum(F.when((F.col("exp") == 1) & (F.col("outc") == 1), 1).otherwise(0))).alias("a"),
        bigint(F.sum(F.when((F.col("exp") == 1) & (F.col("outc") == 0), 1).otherwise(0))).alias("b"),
        bigint(F.sum(F.when((F.col("exp") == 0) & (F.col("outc") == 1), 1).otherwise(0))).alias("c"),
        bigint(F.sum(F.when((F.col("exp") == 0) & (F.col("outc") == 0), 1).otherwise(0))).alias("d"),
        bigint(F.count(F.lit(1))).alias("n"),
    )
    terms = cells.agg(
        bigint(F.count(F.lit(1))).alias("n_strata"),
        F.sum(F.expr(f"({MH_TERM_SCALE} * a * d) DIV n"))
        .cast("decimal(38,0)")
        .alias("sum_num"),
        F.sum(F.expr(f"({MH_TERM_SCALE} * b * c) DIV n"))
        .cast("decimal(38,0)")
        .alias("sum_den"),
        F.sum("a").cast("decimal(38,0)").alias("ta"),
        F.sum("b").cast("decimal(38,0)").alias("tb"),
        F.sum("c").cast("decimal(38,0)").alias("tc"),
        F.sum("d").cast("decimal(38,0)").alias("td"),
    )
    return terms.select(
        "n_strata",
        F.col("sum_num").cast("long").alias("sum_num"),
        F.col("sum_den").cast("long").alias("sum_den"),
        F.when(F.col("sum_den") == 0, F.lit(0))
        .otherwise(F.floor(F.lit(10000) * F.col("sum_num") / F.col("sum_den")))
        .cast("long")
        .alias("or_mh_bp"),
        F.when(F.col("tb") * F.col("tc") == 0, F.lit(0))
        .otherwise(
            F.floor(F.lit(10000) * F.col("ta") * F.col("td") / (F.col("tb") * F.col("tc")))
        )
        .cast("long")
        .alias("or_crude_bp"),
    )


# ---------------------------------------------------------------------------
# Ljung–Box portmanteau test
# ---------------------------------------------------------------------------

LB_MAX_LAG = 7


@register(
    "stats_ljung_box",
    "analytics",
    doc="Ljung–Box portmanteau whiteness test over the gap-free daily "
    "total-volume series (lags 1..7): the series is mean-centered by "
    "integer scaling (d_t = n*x_t - S, the stats_durbin_watson trick), "
    "rho_k in signed truncated bp against the lag-0 energy, and "
    "Q = n(n+2) * sum_k rho_k^2/(n-k) with the per-lag division done "
    "as a declared integer floor (term_k = rho_bp_k^2 DIV (n-k)); "
    "q_bp = n(n+2)*sum(term) DIV 10^4. Everything after the one "
    "combinable day groupBy runs on the |days| spine.",
    oracle=f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS c
    FROM events GROUP BY 1
),
spine AS (
    SELECT UNNEST(GENERATE_SERIES((SELECT MIN(day) FROM daily),
                                  (SELECT MAX(day) FROM daily),
                                  INTERVAL 1 DAY))::DATE AS day
),
series0 AS (
    SELECT s.day, COALESCE(d.c, 0) AS c
    FROM spine s LEFT JOIN daily d ON d.day = s.day
),
st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS s
       FROM series0),
series AS (
    SELECT day, st.n * c - st.s AS d FROM series0, st
),
lagged AS (
    SELECT d,
           {", ".join(f"LAG(d, {L}) OVER (ORDER BY day) AS l{L}" for L in range(1, LB_MAX_LAG + 1))}
    FROM series
),
sums AS (
    SELECT CAST(SUM(CAST(d AS HUGEINT) * d) AS HUGEINT) AS e0,
           {", ".join(f"CAST(SUM(CAST(d AS HUGEINT) * l{L}) AS HUGEINT) AS s{L}" for L in range(1, LB_MAX_LAG + 1))}
    FROM lagged
),
rho AS (
    SELECT st.n,
           {", ".join(f"(CASE WHEN s{L} >= 0 THEN 1 ELSE -1 END) * ((10000 * ABS(s{L})) // e0) AS r{L}" for L in range(1, LB_MAX_LAG + 1))}
    FROM sums, st WHERE e0 > 0
)
SELECT n AS n_days,
       {", ".join(f"CAST(r{L} AS BIGINT) AS rho{L}_bp" for L in range(1, LB_MAX_LAG + 1))},
       CAST((n * (n + 2) * ({" + ".join(f"(r{L} * r{L}) // (n - {L})" for L in range(1, LB_MAX_LAG + 1))}))
            // 10000 AS BIGINT) AS q_bp
FROM rho
""",
)
def stats_ljung_box(spark, sf_dir):
    from cascade_spark.operators._util import _intdiv

    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        bigint(F.count(F.lit(1))).alias("c")
    )
    spine = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi")).select(
        F.explode(F.sequence("lo", "hi")).alias("day")
    )
    series0 = spine.join(daily, "day", "left").select(
        "day", F.coalesce("c", F.lit(0)).alias("c")
    )
    st = series0.agg(
        bigint(F.count(F.lit(1))).alias("n"), bigint(F.sum("c")).alias("s")
    )
    series = series0.crossJoin(F.broadcast(st)).select(
        "day", "n", (F.col("n") * F.col("c") - F.col("s")).alias("d")
    )
    # |days| rows — deliberate tiny-frame global window (ACF precedent)
    w = Window.orderBy("day")
    lagged = series.select(
        "n",
        "d",
        *[F.lag("d", L).over(w).alias(f"l{L}") for L in range(1, LB_MAX_LAG + 1)],
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    sums = lagged.groupBy("n").agg(
        F.sum(dec(F.col("d")) * F.col("d")).cast("decimal(38,0)").alias("e0"),
        *[
            F.sum(dec(F.col("d")) * F.col(f"l{L}"))
            .cast("decimal(38,0)")
            .alias(f"s{L}")
            for L in range(1, LB_MAX_LAG + 1)
        ],
    )
    rho = sums.filter(F.col("e0") > 0).select(
        "n",
        *[
            (
                F.when(F.col(f"s{L}") >= 0, 1).otherwise(-1)
                * F.floor(F.lit(10000) * F.abs(F.col(f"s{L}")) / F.col("e0"))
            )
            .cast("long")
            .alias(f"r{L}")
            for L in range(1, LB_MAX_LAG + 1)
        ],
    )
    terms = " + ".join(
        f"(r{L} * r{L}) DIV (n - {L})" for L in range(1, LB_MAX_LAG + 1)
    )
    return rho.select(
        F.col("n").alias("n_days"),
        *[F.col(f"r{L}").alias(f"rho{L}_bp") for L in range(1, LB_MAX_LAG + 1)],
        F.expr(f"CAST((n * (n + 2) * ({terms})) DIV 10000 AS BIGINT)").alias(
            "q_bp"
        ),
    )


# ---------------------------------------------------------------------------
# Intraclass correlation (one-way random effects)
# ---------------------------------------------------------------------------


@register(
    "stats_icc_oneway",
    "analytics",
    doc="Intraclass correlation ICC(1) over the equal-n (event_type x "
    "day) grid — how much daily-volume variance is BETWEEN types vs "
    "within (the reliability readout on the same spine the ANOVA "
    "family tests). With A = k*sum S_g^2 - S^2 and B = n*Q - sum "
    "S_g^2, ICC = (A(n-1) - B(k-1)) / ((n-1)(A + (k-1)B)) — ONE exact "
    "integer rational in truncated bp (negative when within-variance "
    "dominates; sign-split floor keeps DuckDB // parity). One "
    "combinable groupBy; everything after runs on k rows.",
    oracle="""
WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
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
grp AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_g,
           CAST(SUM(v) AS BIGINT) AS s_g, CAST(SUM(v * v) AS BIGINT) AS q_g
    FROM cell GROUP BY event_type
),
scal AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS k,
           CAST(MAX(n_g) AS BIGINT) AS n,
           CAST(SUM(s_g) AS BIGINT) AS s,
           CAST(SUM(q_g) AS BIGINT) AS q,
           CAST(SUM(s_g * s_g) AS HUGEINT) AS sum_sg2
    FROM grp
)
-- with A = k*sum S_g^2 - S^2 and B = n*Q - sum S_g^2 (both >= 0),
-- MSB = A/(nk(k-1)), MSW = B/(nk(n-1));
-- ICC = (A(n-1) - B(k-1)) / ((n-1)(A + (k-1)B)), which simplifies to
-- (sum_sg2*(nk-1) - (n-1)*S^2 - (k-1)*n*Q)
--   / ((n-1)*(sum_sg2 - S^2 + (k-1)*n*Q))
-- COALESCE mirrors the Spark builder's den=0 guard: a single-day grid
-- (n = 1) reports 0, not NULL (single-day parity tier)
SELECT k AS n_groups, n AS n_per_group,
       CAST(COALESCE((10000 * (sum_sg2 * (n * k - 1)
                      - (n - 1) * CAST(s AS HUGEINT) * s
                      - (k - 1) * CAST(n AS HUGEINT) * q))
            // NULLIF((n - 1) * (sum_sg2 - CAST(s AS HUGEINT) * s
                      + (k - 1) * CAST(n AS HUGEINT) * q), 0), 0)
            AS BIGINT) AS icc_bp
FROM scal
""",
)
def stats_icc_oneway(spark, sf_dir):
    from cascade_spark.operators.estimation import _grid

    cell = _grid(spark, sf_dir).select("event_type", "v")
    grp = cell.groupBy("event_type").agg(
        bigint(F.count(F.lit(1))).alias("n_g"),
        bigint(F.sum("v")).alias("s_g"),
        bigint(F.sum(F.col("v") * F.col("v"))).alias("q_g"),
    )

    def dec(c):
        return c.cast("decimal(38,0)")

    scal = grp.agg(
        bigint(F.count(F.lit(1))).alias("k"),
        bigint(F.max("n_g")).alias("n"),
        bigint(F.sum("s_g")).alias("s"),
        bigint(F.sum("q_g")).alias("q"),
        F.sum(dec(F.col("s_g")) * F.col("s_g")).cast("decimal(38,0)").alias("sum_sg2"),
    )
    num = F.lit(10000) * (
        F.col("sum_sg2") * (F.col("n") * F.col("k") - 1)
        - dec(F.col("n") - 1) * F.col("s") * F.col("s")
        - dec(F.col("k") - 1) * F.col("n") * F.col("q")
    )
    den = (F.col("n") - 1) * (
        F.col("sum_sg2")
        - dec(F.col("s")) * F.col("s")
        + dec(F.col("k") - 1) * F.col("n") * F.col("q")
    )
    icc = F.when(den == 0, F.lit(0)).otherwise(
        F.when(num >= 0, F.floor(num / den)).otherwise(-F.floor((-num) / den))
    )
    return scal.select(
        F.col("k").alias("n_groups"),
        F.col("n").alias("n_per_group"),
        icc.cast("long").alias("icc_bp"),
    )


# ---------------------------------------------------------------------------
# Cramér–von Mises two-sample test
# ---------------------------------------------------------------------------


@register(
    "stats_cvm_two_sample",
    "analytics",
    doc="Cramér–von Mises two-sample test between click and view daily "
    "volumes — the quadratic-EDF companion to stats_ks_two_sample (KS "
    "sees the max gap; CvM integrates ALL of it): Anderson's rank form "
    "U = n*sum(r_i - i)^2 + m*sum(s_j - j)^2 kept EXACT on the "
    "distinct-value spine with doubled midranks (tie groups expand via "
    "the closed forms for sum i and sum i^2 over the within-sample "
    "index range — never per-row ranking), and T = "
    "(3*U4 - 2nm(4nm-1)) / (12nmN) as one integer rational in "
    "truncated bp. Spine is value-cardinality bounded.",
    oracle="""
WITH """ + _XY_SQL + """,
vals AS (
    SELECT x AS v, CAST(COUNT(*) AS BIGINT) AS c1, CAST(0 AS BIGINT) AS c2
    FROM daily GROUP BY x
    UNION ALL
    SELECT y AS v, CAST(0 AS BIGINT), CAST(COUNT(*) AS BIGINT)
    FROM daily GROUP BY y
),
spine AS (
    SELECT v, CAST(SUM(c1) AS BIGINT) AS c1, CAST(SUM(c2) AS BIGINT) AS c2
    FROM vals GROUP BY v
),
cum AS (
    SELECT v, c1, c2,
           CAST(COALESCE(SUM(c1 + c2) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS nb,
           CAST(COALESCE(SUM(c1) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS a1,
           CAST(COALESCE(SUM(c2) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS a2
    FROM spine
),
terms AS (
    SELECT
        -- A = pooled doubled midrank; within-sample indices i run over
        -- (a+1 .. a+c): sum (A-2i)^2 = c*A^2 - 4A*si + 4*si2
        (2 * nb + c1 + c2 + 1) AS a_mid,
        c1, c2, a1, a2
    FROM cum
),
u AS (
    SELECT
        CAST(SUM(c1 * a_mid * a_mid
             - 4 * a_mid * (c1 * a1 + c1 * (c1 + 1) // 2)
             + 4 * (c1 * a1 * a1 + 2 * a1 * (c1 * (c1 + 1) // 2)
                    + c1 * (c1 + 1) * (2 * c1 + 1) // 6)) AS BIGINT) AS t1,
        CAST(SUM(c2 * a_mid * a_mid
             - 4 * a_mid * (c2 * a2 + c2 * (c2 + 1) // 2)
             + 4 * (c2 * a2 * a2 + 2 * a2 * (c2 * (c2 + 1) // 2)
                    + c2 * (c2 + 1) * (2 * c2 + 1) // 6)) AS BIGINT) AS t2,
        CAST(SUM(c1) AS BIGINT) AS n, CAST(SUM(c2) AS BIGINT) AS m
    FROM terms
)
SELECT n, m,
       CAST(n * t1 + m * t2 AS BIGINT) AS u4,
       CAST((10000 * (3 * (n * t1 + m * t2)
                      - 2 * n * m * (4 * n * m - 1)))
            // (12 * n * m * (n + m)) AS BIGINT) AS t_bp
FROM u
""",
)
def stats_cvm_two_sample(spark, sf_dir):
    from cascade_spark.operators.ingest import assign_prefix_sums

    daily = _xy_daily(spark, sf_dir)
    vals = daily.groupBy(F.col("x").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("c1"), F.lit(0).cast("long").alias("c2")
    ).unionByName(
        daily.groupBy(F.col("y").alias("v")).agg(
            F.lit(0).cast("long").alias("c1"),
            F.count(F.lit(1)).cast("long").alias("c2"),
        )
    )
    spine = vals.groupBy("v").agg(
        F.sum("c1").cast("long").alias("c1"), F.sum("c2").cast("long").alias("c2")
    )
    spine = spine.withColumn("ct", F.col("c1") + F.col("c2"))
    # One combined pass (round 12): the three exclusive cumsums share
    # the same total order over v, so they run in ONE range exchange +
    # ONE window pass instead of three chained assign_prefix_sum calls
    # (3 exchanges + 3 sorts over the same spine — guide §2.3).
    cum = assign_prefix_sums(spine, ["v"], {"ct": "nb", "c1": "a1", "c2": "a2"})
    a_mid = (2 * F.col("nb") + F.col("c1") + F.col("c2") + 1).alias("a_mid")
    terms = cum.select(a_mid, "c1", "c2", "a1", "a2")

    def tterm(c, a):
        si = F.expr(f"{c} * {a} + {c} * ({c} + 1) DIV 2")
        si2 = F.expr(
            f"{c} * {a} * {a} + 2 * {a} * ({c} * ({c} + 1) DIV 2)"
            f" + {c} * ({c} + 1) * (2 * {c} + 1) DIV 6"
        )
        return (
            F.col(c) * F.col("a_mid") * F.col("a_mid")
            - 4 * F.col("a_mid") * si
            + 4 * si2
        )

    u = terms.agg(
        F.sum(tterm("c1", "a1")).cast("long").alias("t1"),
        F.sum(tterm("c2", "a2")).cast("long").alias("t2"),
        F.sum("c1").cast("long").alias("n"),
        F.sum("c2").cast("long").alias("m"),
    )
    return u.select(
        "n",
        "m",
        (F.col("n") * F.col("t1") + F.col("m") * F.col("t2"))
        .cast("long")
        .alias("u4"),
        F.expr(
            "(10000 * (3 * (n * t1 + m * t2) - 2 * n * m * (4 * n * m - 1)))"
            " DIV (12 * n * m * (n + m))"
        )
        .cast("long")
        .alias("t_bp"),
    )


# ---------------------------------------------------------------------------
# Matthews correlation coefficient
# ---------------------------------------------------------------------------


@register(
    "stats_mcc_matthews",
    "analytics",
    doc="Matthews correlation coefficient of the binary en-vs-rest "
    "marker classifier (predicted: any English marker word present; "
    "actual: lang = 'en') — the confusion-matrix summary that stays "
    "honest under class imbalance where accuracy and F1 (the "
    "text_langid_prf_audit columns) inflate. TP/FP/FN/TN exact from "
    "one combinable pass; MCC = (TP*TN - FP*FN)/sqrt((TP+FP)(TP+FN)"
    "(TN+FP)(TN+FN)) as one mirrored IEEE expression over exact "
    "integer operands, 6 dp (Welch precedent).",
    oracle="""
WITH rated AS (
    SELECT CASE WHEN LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                w -> LIST_CONTAINS(['the', 'a', 'of', 'and', 'to'], w))) > 0
                THEN 1 ELSE 0 END AS pred,
           CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS actual
    FROM documents
),
cm AS (
    SELECT CAST(COUNT(*) FILTER (WHERE pred = 1 AND actual = 1) AS BIGINT) AS tp,
           CAST(COUNT(*) FILTER (WHERE pred = 1 AND actual = 0) AS BIGINT) AS fp,
           CAST(COUNT(*) FILTER (WHERE pred = 0 AND actual = 1) AS BIGINT) AS fn,
           CAST(COUNT(*) FILTER (WHERE pred = 0 AND actual = 0) AS BIGINT) AS tn
    FROM rated
)
SELECT tp, fp, fn, tn,
       CASE WHEN (tp+fp)*(tp+fn)*(tn+fp)*(tn+fn) = 0 THEN 0.0
            ELSE ROUND((CAST(tp AS DOUBLE)*tn - CAST(fp AS DOUBLE)*fn)
                 / SQRT(CAST(tp+fp AS DOUBLE) * CAST(tp+fn AS DOUBLE)
                        * CAST(tn+fp AS DOUBLE) * CAST(tn+fn AS DOUBLE)), 6)
       END AS mcc
FROM cm
""",
)
def stats_mcc_matthews(spark, sf_dir):
    from cascade_spark.operators.text import LANG_MARKERS

    docs = t(spark, sf_dir, "documents")
    en = LANG_MARKERS["en"]
    pred = F.when(
        F.size(
            F.array_intersect(
                F.split(F.col("text"), " "),
                F.array(*[F.lit(w) for w in en]),
            )
        )
        > 0,
        1,
    ).otherwise(0)
    # NOTE: array_intersect dedups; presence (>0) is what we test, so it
    # matches the oracle's LIST_FILTER-count > 0 exactly.
    rated = docs.select(
        pred.alias("pred"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("actual"),
    )
    cm = rated.agg(
        _csum((F.col("pred") == 1) & (F.col("actual") == 1)).alias("tp"),
        _csum((F.col("pred") == 1) & (F.col("actual") == 0)).alias("fp"),
        _csum((F.col("pred") == 0) & (F.col("actual") == 1)).alias("fn"),
        _csum((F.col("pred") == 0) & (F.col("actual") == 0)).alias("tn"),
    )
    den = (
        (F.col("tp") + F.col("fp"))
        * (F.col("tp") + F.col("fn"))
        * (F.col("tn") + F.col("fp"))
        * (F.col("tn") + F.col("fn"))
    )
    mcc = F.round(
        (
            F.col("tp").cast("double") * F.col("tn")
            - F.col("fp").cast("double") * F.col("fn")
        )
        / F.sqrt(
            (F.col("tp") + F.col("fp")).cast("double")
            * (F.col("tp") + F.col("fn")).cast("double")
            * (F.col("tn") + F.col("fp")).cast("double")
            * (F.col("tn") + F.col("fn")).cast("double")
        ),
        6,
    )
    return cm.select(
        "tp", "fp", "fn", "tn",
        F.when(den == 0, F.lit(0.0)).otherwise(mcc).alias("mcc"),
    )


# ---------------------------------------------------------------------------
# Cochran–Armitage trend test
# ---------------------------------------------------------------------------


@register(
    "stats_cochran_armitage",
    "analytics",
    doc="Cochran–Armitage trend test: is the daily purchase RATE "
    "drifting over the month? Days are ordered categories (scores "
    "t = 0..n-1), outcome = purchase vs other; the squared trend "
    "statistic Z^2 = N*(sum t_k*(r_k*N - n_k*R))^2 / (R*(N-R)*"
    "(N*sum n_k*t_k^2 - (sum n_k*t_k)^2) * N) ... collapsed to one "
    "exact integer rational in floor bp via decimal(38,0)/HUGEINT — "
    "the categorical-trend sibling of stats_mann_kendall_trend "
    "(which is for continuous series). One combinable day groupBy.",
    oracle="""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_k,
           CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS r_k
    FROM events GROUP BY 1
),
scored AS (
    SELECT n_k, r_k,
           CAST(ROW_NUMBER() OVER (ORDER BY day) - 1 AS BIGINT) AS tt
    FROM daily
),
agg AS (
    SELECT CAST(SUM(n_k) AS BIGINT) AS n,
           CAST(SUM(r_k) AS BIGINT) AS r,
           CAST(SUM(n_k * tt) AS BIGINT) AS snt,
           CAST(SUM(n_k * tt * tt) AS BIGINT) AS sntt,
           CAST(SUM(r_k * tt) AS BIGINT) AS srt
    FROM scored
)
-- numerator of the trend: D = N*srt - R*snt (exact); Z^2 =
-- N^2*D^2 / (R*(N-R)*(N*sntt - snt^2) * N) simplified to
-- N*D^2 / (R*(N-R)*(N*sntt - snt^2))
SELECT n, r,
       CAST(CASE WHEN r = 0 OR r = n OR n * sntt - snt * snt = 0 THEN 0
            ELSE (10000 * CAST(n AS HUGEINT)
                  * (CAST(n AS HUGEINT) * srt - CAST(r AS HUGEINT) * snt)
                  * (CAST(n AS HUGEINT) * srt - CAST(r AS HUGEINT) * snt))
                 // (CAST(r AS HUGEINT) * (n - r)
                     * (CAST(n AS HUGEINT) * sntt - CAST(snt AS HUGEINT) * snt))
            END AS BIGINT) AS z2_bp
FROM agg
""",
)
def stats_cochran_armitage(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        bigint(F.count(F.lit(1))).alias("n_k"),
        bigint(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        ).alias("r_k"),
    )
    scored = daily.select(
        "n_k",
        "r_k",
        (
            F.row_number().over(Window.orderBy("day")) - 1
        )
        .cast("long")
        .alias("tt"),
    )
    agg = scored.agg(
        bigint(F.sum("n_k")).alias("n"),
        bigint(F.sum("r_k")).alias("r"),
        bigint(F.sum(F.col("n_k") * F.col("tt"))).alias("snt"),
        bigint(F.sum(F.col("n_k") * F.col("tt") * F.col("tt"))).alias("sntt"),
        bigint(F.sum(F.col("r_k") * F.col("tt"))).alias("srt"),
    )

    def dec(c):
        return c.cast("decimal(38,0)")

    d_num = dec(F.col("n")) * F.col("srt") - dec(F.col("r")) * F.col("snt")
    num = F.lit(10000) * dec(F.col("n")) * d_num * d_num
    den = (
        dec(F.col("r"))
        * (F.col("n") - F.col("r"))
        * (dec(F.col("n")) * F.col("sntt") - dec(F.col("snt")) * F.col("snt"))
    )
    z2 = F.when(
        (F.col("r") == 0)
        | (F.col("r") == F.col("n"))
        | (dec(F.col("n")) * F.col("sntt") - dec(F.col("snt")) * F.col("snt") == 0),
        F.lit(0),
    ).otherwise(F.floor(num / den))
    return agg.select("n", "r", z2.cast("long").alias("z2_bp"))


# ---------------------------------------------------------------------------
# G-test (likelihood-ratio chi-square)
# ---------------------------------------------------------------------------


@register(
    "stats_g_test",
    "analytics",
    doc="G-test (likelihood-ratio) independence screen over the "
    "(event_type x ISO weekday) table — the information-theoretic "
    "twin of stats_chisq_independence (G = 2*sum O*ln(O*N/(R*C)) is "
    "additive across partitions of the table, chi-square is not): "
    "exact integer marginals, per-cell contribution as ONE mirrored "
    "IEEE ln expression at 6 dp (the events_feature_drift_psi "
    "rounded-ln precedent). Zero cells contribute 0 by definition.",
    oracle="""
WITH cells AS (
    SELECT event_type, ISODOW(CAST(ts AS DATE)) AS dow,
           CAST(COUNT(*) AS BIGINT) AS o
    FROM events GROUP BY 1, 2
),
r AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY 1),
c AS (SELECT dow, CAST(SUM(o) AS BIGINT) AS c FROM cells GROUP BY 1),
n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells)
SELECT cells.event_type, CAST(cells.dow AS BIGINT) AS dow, cells.o,
       ROUND(2.0 * cells.o * LN(CAST(cells.o AS DOUBLE) * n.n
             / (CAST(r.r AS DOUBLE) * c.c)), 6) AS g_contrib
FROM cells, n JOIN r ON r.event_type = cells.event_type
            JOIN c ON c.dow = cells.dow
ORDER BY cells.event_type, dow
""",
)
def stats_g_test(spark, sf_dir):
    cells = _contingency_cells(spark, sf_dir)
    r = cells.groupBy("event_type").agg(bigint(F.sum("o")).alias("r"))
    c = cells.groupBy("dow").agg(bigint(F.sum("o")).alias("c"))
    n = cells.agg(bigint(F.sum("o")).alias("n"))
    j = (
        cells.join(F.broadcast(r), "event_type")
        .join(F.broadcast(c), "dow")
        .crossJoin(F.broadcast(n))
    )
    contrib = F.round(
        F.lit(2.0)
        * F.col("o")
        * F.log(
            F.col("o").cast("double")
            * F.col("n")
            / (F.col("r").cast("double") * F.col("c"))
        ),
        6,
    )
    return j.select(
        "event_type", "dow", "o", contrib.alias("g_contrib")
    ).orderBy("event_type", "dow")


# ---------------------------------------------------------------------------
# Poisson dispersion index
# ---------------------------------------------------------------------------


@register(
    "stats_poisson_dispersion",
    "analytics",
    doc="Poisson over/under-dispersion screen per event type: the "
    "dispersion statistic D = sum (x - xbar)^2 / xbar over the "
    "zero-filled daily-volume series, cleared to the exact rational "
    "(n*sum x^2 - S^2)/(n... *S) -> D_bp = (10^4*(n*sumsq - S^2)) "
    "DIV (n... collapsed: D = (n*sumsq - S^2)/(n*xbar) with "
    "xbar = S/n, so D = (n*sumsq - S^2)/S — one integer rational in "
    "floor bp. D ~ (n-1)*10^4 bp under Poisson; run before fitting "
    "any rate model.",
    oracle="""
WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
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
agg AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(v) AS BIGINT) AS s, CAST(SUM(v * v) AS BIGINT) AS sumsq
    FROM cell GROUP BY event_type
)
SELECT event_type, n AS n_days,
       CAST(CASE WHEN s = 0 THEN 0
            ELSE (10000 * (CAST(n AS HUGEINT) * sumsq - CAST(s AS HUGEINT) * s))
                 // s END AS BIGINT) AS dispersion_bp,
       CAST((n - 1) * 10000 AS BIGINT) AS poisson_expectation_bp
FROM agg ORDER BY event_type
""",
)
def stats_poisson_dispersion(spark, sf_dir):
    from cascade_spark.operators.estimation import _grid

    cell = _grid(spark, sf_dir).select("event_type", "v")
    agg = cell.groupBy("event_type").agg(
        bigint(F.count(F.lit(1))).alias("n"),
        bigint(F.sum("v")).alias("s"),
        bigint(F.sum(F.col("v") * F.col("v"))).alias("sumsq"),
    )

    def dec(c):
        return c.cast("decimal(38,0)")

    disp = F.when(F.col("s") == 0, F.lit(0)).otherwise(
        F.floor(
            F.lit(10000)
            * (dec(F.col("n")) * F.col("sumsq") - dec(F.col("s")) * F.col("s"))
            / F.col("s")
        )
    )
    return agg.select(
        "event_type",
        F.col("n").alias("n_days"),
        disp.cast("long").alias("dispersion_bp"),
        ((F.col("n") - 1) * 10000).cast("long").alias("poisson_expectation_bp"),
    ).orderBy("event_type")
