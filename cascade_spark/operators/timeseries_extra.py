"""Round-8 wave-11 timeseries — Holt linear-trend smoothing with EXACT
integer state, extending the dyadic-EWMA family (events_ewma_dyadic
smooths level only; Holt adds a trend component and a forecast):

- ``events_holt_linear_forecast``: per event type, Holt's linear
  method with alpha = beta = 1/2 over the zero-filled daily-volume
  series, all state kept in micro-scaled int64 with floor-by-2 steps
  (l_t = (x_t*S + l_(t-1) + b_(t-1)) DIV 2;
  b_t = (l_t - l_(t-1) + b_(t-1)) DIV 2) so the recurrence is
  bit-identical across engines — Spark folds the bounded per-type day
  array with one aggregate() HOF (n_days elements, JVM-side), the
  DuckDB oracle walks the same recurrence as a recursive CTE. Emits
  final level/trend and the h=1 and h=7 linear forecasts.

Reference scope: aggregation over the consumed event log
(src/broker/main.rs), declared per SURVEY §2B.

Scale (100 TB): the raw log collapses to the k x n_days grid in one
combinable groupBy; the sequential recurrence runs over the bounded
day span per type (spans, not rows) inside a JVM HOF — no Python, no
driver loop, no unbounded state.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cascade_spark.operators._util import barrier, bigint, t
from cascade_spark.plans.registry import register

HOLT_SCALE = 1_000_000  # level/trend in micro-volume units


@register(
    "events_holt_linear_forecast",
    doc="Holt linear trend (alpha = beta = 1/2) per event type over the "
    "zero-filled daily-volume series in exact micro-scaled integers: "
    "the level/trend recurrence uses only +, -, DIV 2 so Spark's "
    "aggregate() fold and DuckDB's recursive CTE produce bit-identical "
    "state; forecasts fc_h = l_T + h*b_T at h = 1 and 7.",
    oracle=f"""
WITH RECURSIVE days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
types AS (SELECT DISTINCT event_type FROM events),
daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS v
    FROM events GROUP BY 1, 2
),
cellx AS (
    SELECT t.event_type,
           CAST(ROW_NUMBER() OVER (PARTITION BY t.event_type ORDER BY d.day)
                - 1 AS BIGINT) AS tt,
           COALESCE(x.v, 0) AS x
    FROM types t CROSS JOIN days d
    LEFT JOIN daily x ON x.event_type = t.event_type AND x.day = d.day
),
rec(event_type, tt, l, b) AS (
    SELECT event_type, tt, x * {HOLT_SCALE}, CAST(0 AS BIGINT)
    FROM cellx WHERE tt = 0
    UNION ALL
    SELECT c.event_type, c.tt,
           (c.x * {HOLT_SCALE} + r.l + r.b) // 2,
           ((c.x * {HOLT_SCALE} + r.l + r.b) // 2 - r.l + r.b) // 2
    FROM rec r JOIN cellx c
      ON c.event_type = r.event_type AND c.tt = r.tt + 1
),
fin AS (
    SELECT event_type, l, b,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY tt DESC) AS rk
    FROM rec
)
SELECT event_type, CAST(l AS BIGINT) AS level_micro,
       CAST(b AS BIGINT) AS trend_micro,
       CAST(l + b AS BIGINT) AS fc_h1_micro,
       CAST(l + 7 * b AS BIGINT) AS fc_h7_micro
FROM fin WHERE rk = 1
ORDER BY event_type
""",
)
def events_holt_linear_forecast(spark, sf_dir):
    from cascade_spark.operators.timeseries_indicators import _grid

    # the shared materialized grid already carries the per-type day
    # index tt (identical row_number definition)
    cellx = _grid(spark, sf_dir).select("event_type", "tt", F.col("v").alias("x"))
    series = cellx.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("tt", "x"))).alias("arr")
    )
    # fold the ordered day series through the integer Holt recurrence
    folded = series.select(
        "event_type",
        F.expr(
            f"""
            aggregate(
                slice(arr, 2, size(arr) - 1),
                named_struct('l', arr[0].x * CAST({HOLT_SCALE} AS BIGINT),
                             'b', CAST(0 AS BIGINT)),
                (acc, e) -> named_struct(
                    'l', (e.x * CAST({HOLT_SCALE} AS BIGINT) + acc.l + acc.b)
                         DIV 2,
                    'b', ((e.x * CAST({HOLT_SCALE} AS BIGINT) + acc.l + acc.b)
                          DIV 2 - acc.l + acc.b) DIV 2),
                acc -> acc)
            """
        ).alias("st"),
    )
    return folded.select(
        "event_type",
        bigint(F.col("st.l")).alias("level_micro"),
        bigint(F.col("st.b")).alias("trend_micro"),
        bigint(F.col("st.l") + F.col("st.b")).alias("fc_h1_micro"),
        bigint(F.col("st.l") + 7 * F.col("st.b")).alias("fc_h7_micro"),
    ).orderBy("event_type")


@register(
    "events_seasonality_strength",
    doc="Day-of-week seasonality strength per event type: the one-way "
    "variance decomposition SS_between / SS_total over the zero-filled "
    "daily-volume series grouped by ISO weekday, kept ONE exact "
    "rational by clearing the unequal group sizes with P = prod(n_g) "
    "(7 groups of 4-5 days -> P <= 5^7): strength_bp = "
    "10000*(n*sum_g(S_g^2*P/n_g) - S^2*P) / (P*(n*sum(x^2) - S^2)), "
    "floor via decimal(38,0)/HUGEINT. ~10000 bp = the weekday pattern "
    "explains everything; 0 = no weekly seasonality.",
    oracle="""
WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
types AS (SELECT DISTINCT event_type FROM events),
daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS v
    FROM events GROUP BY 1, 2
),
cell AS (
    SELECT t.event_type, d.day, ISODOW(d.day) AS dow, COALESCE(x.v, 0) AS v
    FROM types t CROSS JOIN days d
    LEFT JOIN daily x ON x.event_type = t.event_type AND x.day = d.day
),
grp AS (
    SELECT event_type, dow, CAST(COUNT(*) AS BIGINT) AS n_g,
           CAST(SUM(v) AS BIGINT) AS s_g
    FROM cell GROUP BY event_type, dow
),
pr AS (
    SELECT event_type,
           CAST(PRODUCT(n_g) AS HUGEINT) AS p
    FROM grp GROUP BY event_type
),
agg AS (
    SELECT g.event_type,
           CAST(SUM(g.n_g) AS BIGINT) AS n,
           CAST(SUM(g.s_g) AS BIGINT) AS s,
           CAST(SUM((CAST(g.s_g AS HUGEINT) * g.s_g * pr.p) // g.n_g)
                AS HUGEINT) AS ssb_scaled
    FROM grp g JOIN pr ON pr.event_type = g.event_type
    GROUP BY g.event_type, pr.p
),
sq AS (
    SELECT event_type, CAST(SUM(v * v) AS BIGINT) AS sumsq FROM cell
    GROUP BY event_type
)
SELECT a.event_type, a.n AS n_days,
       CAST(CASE WHEN pr.p * (a.n * sq.sumsq - a.s * a.s) = 0 THEN 0
            ELSE (10000 * (a.n * a.ssb_scaled - CAST(a.s AS HUGEINT) * a.s * pr.p))
                 // (pr.p * (CAST(a.n AS HUGEINT) * sq.sumsq - CAST(a.s AS HUGEINT) * a.s))
            END AS BIGINT) AS strength_bp
FROM agg a JOIN sq ON sq.event_type = a.event_type
           JOIN pr ON pr.event_type = a.event_type
ORDER BY a.event_type
""",
)
def events_seasonality_strength(spark, sf_dir):
    from cascade_spark.operators.estimation import _grid

    cell = _grid(spark, sf_dir).select(
        "event_type",
        "day",
        F.dayofweek(F.date_sub(F.col("day"), 1)).cast("long").alias("dow"),
        "v",
    )
    grp = cell.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum("v").cast("long").alias("s_g"),
    )
    # product of the (at most 7) group sizes, exactly, via a bounded fold
    pr = grp.groupBy("event_type").agg(
        F.aggregate(
            F.collect_list("n_g"),
            F.lit(1).cast("long"),
            lambda acc, x: acc * x,
        ).alias("p")
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    agg = (
        grp.join(pr, "event_type")
        .groupBy("event_type", "p")
        .agg(
            F.sum("n_g").cast("long").alias("n"),
            F.sum("s_g").cast("long").alias("s"),
            F.sum(
                F.floor(dec(F.col("s_g")) * F.col("s_g") * F.col("p") / F.col("n_g"))
            )
            .cast("decimal(38,0)")
            .alias("ssb_scaled"),
        )
    )
    sq = cell.groupBy("event_type").agg(
        F.sum(F.col("v") * F.col("v")).cast("long").alias("sumsq")
    )
    j = agg.join(sq, "event_type")
    den = dec(F.col("p")) * (dec(F.col("n")) * F.col("sumsq") - dec(F.col("s")) * F.col("s"))
    num = F.lit(10000) * (
        dec(F.col("n")) * F.col("ssb_scaled") - dec(F.col("s")) * F.col("s") * F.col("p")
    )
    return j.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.when(den == 0, F.lit(0))
        .otherwise(F.floor(num / den))
        .cast("long")
        .alias("strength_bp"),
    ).orderBy("event_type")


@register(
    "events_intervention_its",
    doc="Interrupted time series at the mid-span intervention point: "
    "two EXACT integer OLS fits over the pre/post daily total-volume "
    "segments (slope = (n*Sty - St*Sy)/(n*Stt - St^2) as one rational "
    "in truncated bp; intercepts and the boundary prediction share the "
    "same integer numerators over the n*den denominator) — level jump "
    "= post intercept minus the pre fit extrapolated to the boundary, "
    "the causal-inference readout DiD can't give without a control "
    "group. One combinable day groupBy; the fits run on segment spines. "
    "Degenerate one-day segments (den = n*Stt - St^2 = 0) emit 0 on "
    "both engines instead of NULL-vs-error asymmetry.",
    oracle="""
WITH span AS (
    SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1 FROM events
),
mid AS (
    SELECT d0, d0 + CAST(DATE_DIFF('day', d0, d1) // 2 AS INTEGER) AS m FROM span
),
daily AS (
    SELECT CAST(e.ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS y
    FROM events e GROUP BY 1
),
seg AS (
    SELECT CASE WHEN day <= mid.m THEN 0 ELSE 1 END AS post,
           CAST(CASE WHEN day <= mid.m
                THEN DATE_DIFF('day', mid.d0, day)
                ELSE DATE_DIFF('day', mid.m, day) - 1 END AS BIGINT) AS tt,
           y
    FROM daily, mid
),
fit AS (
    SELECT post,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(tt) AS BIGINT) AS st,
           CAST(SUM(tt * tt) AS BIGINT) AS stt,
           CAST(SUM(y) AS BIGINT) AS sy,
           CAST(SUM(tt * y) AS BIGINT) AS sty
    FROM seg GROUP BY post
),
co AS (
    SELECT post, n,
           n * sty - st * sy AS num,
           n * stt - st * st AS den,
           sy, st
    FROM fit
),
pre AS (SELECT * FROM co WHERE post = 0),
post AS (SELECT * FROM co WHERE post = 1)
SELECT pre.n AS n_pre, post.n AS n_post,
       CAST(CASE WHEN pre.den = 0 THEN 0
            ELSE (10000 * pre.num) // pre.den END AS BIGINT) AS slope_pre_bp,
       CAST(CASE WHEN post.den = 0 THEN 0
            ELSE (10000 * post.num) // post.den END AS BIGINT) AS slope_post_bp,
       CAST(CASE WHEN pre.den = 0 THEN 0
            ELSE (10000 * (pre.sy * pre.den - pre.num * pre.st
                      + pre.n * pre.num * pre.n))
            // (pre.n * pre.den) END AS BIGINT) AS pre_end_fit_bp,
       CAST(CASE WHEN post.den = 0 THEN 0
            ELSE (10000 * (post.sy * post.den - post.num * post.st))
            // (post.n * post.den) END AS BIGINT) AS post_start_fit_bp,
       CAST(CASE WHEN post.den = 0 THEN 0
            ELSE (10000 * (post.sy * post.den - post.num * post.st))
            // (post.n * post.den) END
          - CASE WHEN pre.den = 0 THEN 0
            ELSE (10000 * (pre.sy * pre.den - pre.num * pre.st
                      + pre.n * pre.num * pre.n))
            // (pre.n * pre.den) END AS BIGINT) AS level_jump_bp
FROM pre, post
""",
)
def events_intervention_its(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    # one events pass: the span derives from the daily aggregate (every
    # event day is present there, so MIN/MAX(day) == MIN/MAX(ts::date))
    # and the checkpointed |days|-row frame feeds both span and seg
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        bigint(F.count(F.lit(1))).alias("y")
    ).transform(barrier)
    span = daily.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    ).select(
        "d0",
        F.expr("date_add(d0, CAST(datediff(d1, d0) DIV 2 AS INT))").alias("m"),
    )
    seg = daily.crossJoin(F.broadcast(span)).select(
        F.when(F.col("day") <= F.col("m"), 0).otherwise(1).alias("post"),
        F.when(
            F.col("day") <= F.col("m"), F.datediff("day", "d0")
        )
        .otherwise(F.datediff("day", "m") - 1)
        .cast("long")
        .alias("tt"),
        "y",
    )
    fit = seg.groupBy("post").agg(
        bigint(F.count(F.lit(1))).alias("n"),
        bigint(F.sum("tt")).alias("st"),
        bigint(F.sum(F.col("tt") * F.col("tt"))).alias("stt"),
        bigint(F.sum("y")).alias("sy"),
        bigint(F.sum(F.col("tt") * F.col("y"))).alias("sty"),
    )
    co = fit.select(
        "post",
        "n",
        (F.col("n") * F.col("sty") - F.col("st") * F.col("sy")).alias("num"),
        (F.col("n") * F.col("stt") - F.col("st") * F.col("st")).alias("den"),
        "sy",
        "st",
    # referenced twice (pre/post filters): evaluate the fit chain once
    ).transform(barrier)
    pre = co.filter("post = 0").select(
        F.col("n").alias("n_pre"),
        F.col("num").alias("num0"),
        F.col("den").alias("den0"),
        F.col("sy").alias("sy0"),
        F.col("st").alias("st0"),
    )
    post = co.filter("post = 1").select(
        F.col("n").alias("n_post"),
        F.col("num").alias("num1"),
        F.col("den").alias("den1"),
        F.col("sy").alias("sy1"),
        F.col("st").alias("st1"),
    )
    one = pre.crossJoin(F.broadcast(post))
    return one.select(
        "n_pre",
        "n_post",
        # den = 0 on a single-day segment (n=1 -> stt=st=0): guard to 0
        # on BOTH engines (bare Spark DIV returns NULL where DuckDB //
        # errors on zero — asymmetric failure on degenerate spans)
        F.expr(
            "CASE WHEN den0 = 0 THEN 0 ELSE (10000 * num0) DIV den0 END"
        )
        .cast("long")
        .alias("slope_pre_bp"),
        F.expr(
            "CASE WHEN den1 = 0 THEN 0 ELSE (10000 * num1) DIV den1 END"
        )
        .cast("long")
        .alias("slope_post_bp"),
        F.expr(
            "CASE WHEN den0 = 0 THEN 0 ELSE"
            " (10000 * (sy0 * den0 - num0 * st0 + n_pre * num0 * n_pre))"
            " DIV (n_pre * den0) END"
        )
        .cast("long")
        .alias("pre_end_fit_bp"),
        F.expr(
            "CASE WHEN den1 = 0 THEN 0 ELSE"
            " (10000 * (sy1 * den1 - num1 * st1)) DIV (n_post * den1) END"
        )
        .cast("long")
        .alias("post_start_fit_bp"),
        F.expr(
            "CASE WHEN den1 = 0 THEN 0 ELSE"
            " (10000 * (sy1 * den1 - num1 * st1)) DIV (n_post * den1) END"
            " - CASE WHEN den0 = 0 THEN 0 ELSE"
            " (10000 * (sy0 * den0 - num0 * st0 + n_pre * num0 * n_pre))"
            " DIV (n_pre * den0) END"
        )
        .cast("long")
        .alias("level_jump_bp"),
    )
