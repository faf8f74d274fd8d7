"""Round-9 wave — momentum, channel, and changepoint indicators over
the per-type daily event-volume series (extends timeseries_indicators:
RSI/Bollinger/Hurst/Croston live there; these add the crossover
signal, the bounded-window oscillators, the rank changepoint test and
the path-efficiency audits):

- ``events_macd``: MACD(12, 26, 9) — three rational-alpha EWMAs folded
  in one pass, micro-int floor steps, recursive-CTE-identical.
- ``events_stochastic_oscillator``: %K / %D (14, 3) with band-day
  counts — exact integer rationals on bounded trailing windows.
- ``events_aroon``: Aroon up/down at the final day (25-day period) —
  most-recent argmax/argmin recovered by exact two-phase aggregation.
- ``events_donchian_breakout``: 20-day prior-channel breakout counts —
  pure bounded-window min/max comparisons, zero arithmetic hazards.
- ``events_pettitt_changepoint``: Pettitt's rank changepoint test via
  the exact midrank identity U_t = sum_{i<=t} dr_i - (t+1)(n+1)
  (dr = DOUBLED midranks, property-verified incl. ties) — O(n) from
  one rank pass, never the O(n^2) pair sum.
- ``events_theil_u``: Theil's U2 (squared form) of the seasonal-naive
  m=7 forecast against the random-walk benchmark — exact SSE ratio.
- ``events_ulcer_index``: drawdown depth/persistence off the running
  peak, squared-drawdown mean in exact bp^2.
- ``events_kama_efficiency``: Kaufman's efficiency ratio |net|/path —
  the trend-vs-chop readout that gates adaptive smoothing.
- ``events_rolling_slope``: 14-day OLS trend monitor with the
  position-weighted sum recovered from two window cumulants — exact
  slope with a constant denominator, no per-window regression state.

Reference scope: the reference engine is an event log (src/broker/
main.rs consume path); each query is a declared aggregate over the
consumed ``events`` table per SURVEY §2B.

Determinism: all state recurrences run in micro-scaled int64 floor
arithmetic (Spark aggregate() HOF ≡ DuckDB recursive CTE,
bit-identical); every ratio is one exact integer rational via
truncating division (DIV / // toward-zero parity on negatives); wide
products ride DECIMAL(38,0)/HUGEINT. No IEEE op in this module.

Scale (100 TB): the log collapses to the (type x day) grid in one
map-side-combinable groupBy; every window is a bounded trailing span
(14/20/25 rows) partitioned by type, every fold runs over the day
spine (spans, not rows) — no Python, no driver loops, no unbounded
state, shuffle-once at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from cascade_spark.operators._util import bigint
from cascade_spark.operators.inference_extra import _csum
from cascade_spark.operators.timeseries_indicators import (
    _GRID_SQL,
    _grid,
    _series_arr,
)
from cascade_spark.plans.registry import register

BP = 10_000
S = 1_000_000  # micro-units for smoothed state


@register(
    "events_macd",
    doc="MACD(12, 26, 9) per event type over the zero-filled daily "
    "volumes: EMA-12 and EMA-26 with rational alphas 2/13 and 2/27 "
    "(e' = ((q-2)*e + 2*x*S) DIV q), MACD = e12 - e26, and the 9-day "
    "signal line with alpha 2/10 = 1/5 (sig' = (4*sig + macd) DIV 5, "
    "initialized at 0) — all micro-int floor steps, negative-capable "
    "(DIV // toward-zero parity). Spark folds the day array in one "
    "aggregate() HOF; the oracle walks the identical recursive CTE — "
    "bit-identical. Emits the final lines plus the histogram.",
    oracle=f"""
WITH RECURSIVE {_GRID_SQL},
rec(event_type, tt, e12, e26, sig) AS (
    SELECT event_type, tt, v * {S}, v * {S}, CAST(0 AS BIGINT)
    FROM cell WHERE tt = 0
    UNION ALL
    SELECT c.event_type, c.tt,
           (11 * r.e12 + 2 * c.v * {S}) // 13,
           (25 * r.e26 + 2 * c.v * {S}) // 27,
           (4 * r.sig + ((11 * r.e12 + 2 * c.v * {S}) // 13
                         - (25 * r.e26 + 2 * c.v * {S}) // 27)) // 5
    FROM rec r JOIN cell c ON c.event_type = r.event_type AND c.tt = r.tt + 1
),
fin AS (
    SELECT event_type, e12, e26, sig,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY tt DESC) AS rk
    FROM rec
)
SELECT event_type,
       CAST(e12 AS BIGINT) AS ema12_micro,
       CAST(e26 AS BIGINT) AS ema26_micro,
       CAST(e12 - e26 AS BIGINT) AS macd_micro,
       CAST(sig AS BIGINT) AS signal_micro,
       CAST(e12 - e26 - sig AS BIGINT) AS histogram_micro
FROM fin WHERE rk = 1
ORDER BY event_type
""",
)
def events_macd(spark, sf_dir):
    series = _series_arr(_grid(spark, sf_dir))
    folded = series.select(
        "event_type",
        F.expr(
            f"""
            aggregate(
                slice(arr, 2, size(arr) - 1),
                named_struct('e12', arr[0].v * CAST({S} AS BIGINT),
                             'e26', arr[0].v * CAST({S} AS BIGINT),
                             'sig', CAST(0 AS BIGINT)),
                (acc, e) -> named_struct(
                    'e12', (11 * acc.e12 + 2 * e.v * {S}) DIV 13,
                    'e26', (25 * acc.e26 + 2 * e.v * {S}) DIV 27,
                    'sig', (4 * acc.sig
                            + ((11 * acc.e12 + 2 * e.v * {S}) DIV 13
                               - (25 * acc.e26 + 2 * e.v * {S}) DIV 27))
                           DIV 5),
                acc -> acc)
            """
        ).alias("st"),
    )
    return folded.select(
        "event_type",
        bigint(F.col("st.e12")).alias("ema12_micro"),
        bigint(F.col("st.e26")).alias("ema26_micro"),
        bigint(F.col("st.e12") - F.col("st.e26")).alias("macd_micro"),
        bigint(F.col("st.sig")).alias("signal_micro"),
        bigint(F.col("st.e12") - F.col("st.e26") - F.col("st.sig")).alias(
            "histogram_micro"
        ),
    ).orderBy("event_type")


STOCH_N = 14


@register(
    "events_stochastic_oscillator",
    doc=f"Stochastic oscillator %K({STOCH_N}) / %D(3) per event type on "
    "the zero-filled daily volumes: K = (v - min_w)/(max_w - min_w) in "
    "truncated bp over the trailing full window (flat window declared "
    "5000), D = the 3-day SMA of K via (k + k1 + k2) DIV 3. Counts "
    "overbought (K >= 8000) and oversold (K <= 2000) days and emits "
    "the final K/D — all exact integer rationals on bounded windows.",
    oracle=f"""
WITH {_GRID_SQL},
win AS (
    SELECT event_type, tt, v,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_w,
           CAST(MIN(v) OVER w AS BIGINT) AS mn,
           CAST(MAX(v) OVER w AS BIGINT) AS mx
    FROM cell
    WINDOW w AS (PARTITION BY event_type ORDER BY tt
                 ROWS BETWEEN {STOCH_N - 1} PRECEDING AND CURRENT ROW)
),
k AS (
    SELECT event_type, tt,
           CAST(CASE WHEN mx = mn THEN 5000
                     ELSE ((v - mn) * {BP}) // (mx - mn) END AS BIGINT) AS k_bp
    FROM win WHERE n_w = {STOCH_N}
),
kd AS (
    SELECT event_type, tt, k_bp,
           LAG(k_bp, 1) OVER tw AS k1, LAG(k_bp, 2) OVER tw AS k2
    FROM k
    WINDOW tw AS (PARTITION BY event_type ORDER BY tt)
),
fin AS (
    SELECT event_type, tt, k_bp,
           CASE WHEN k1 IS NULL OR k2 IS NULL THEN NULL
                ELSE (k_bp + k1 + k2) // 3 END AS d_bp,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY tt DESC) AS rk
    FROM kd
)
SELECT f.event_type,
       CAST((SELECT COUNT(*) FROM k WHERE k.event_type = f.event_type)
            AS BIGINT) AS n_windows,
       CAST((SELECT COUNT(*) FROM k WHERE k.event_type = f.event_type
             AND k.k_bp >= 8000) AS BIGINT) AS n_overbought,
       CAST((SELECT COUNT(*) FROM k WHERE k.event_type = f.event_type
             AND k.k_bp <= 2000) AS BIGINT) AS n_oversold,
       CAST(f.k_bp AS BIGINT) AS last_k_bp,
       CAST(f.d_bp AS BIGINT) AS last_d_bp
FROM fin f WHERE f.rk = 1
ORDER BY f.event_type
""",
)
def events_stochastic_oscillator(spark, sf_dir):
    grid = _grid(spark, sf_dir)
    w = (
        Window.partitionBy("event_type")
        .orderBy("tt")
        .rowsBetween(-(STOCH_N - 1), 0)
    )
    win = grid.select(
        "event_type",
        "tt",
        "v",
        F.count(F.lit(1)).over(w).cast("long").alias("n_w"),
        F.min("v").over(w).cast("long").alias("mn"),
        F.max("v").over(w).cast("long").alias("mx"),
    ).filter(F.col("n_w") == STOCH_N)
    k = win.select(
        "event_type",
        "tt",
        F.expr(
            f"CAST(CASE WHEN mx = mn THEN 5000"
            f" ELSE ((v - mn) * {BP}) DIV (mx - mn) END AS BIGINT)"
        ).alias("k_bp"),
    )
    tw = Window.partitionBy("event_type").orderBy("tt")
    kd = k.select(
        "event_type",
        "tt",
        "k_bp",
        F.lag("k_bp", 1).over(tw).alias("k1"),
        F.lag("k_bp", 2).over(tw).alias("k2"),
    )
    fin = (
        kd.withColumn(
            "d_bp",
            F.when(
                F.col("k1").isNull() | F.col("k2").isNull(), F.lit(None)
            ).otherwise(
                F.expr("(k_bp + k1 + k2) DIV 3")
            ),
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("event_type").orderBy(F.col("tt").desc())
            ),
        )
        .filter(F.col("rk") == 1)
    )
    counts = k.groupBy("event_type").agg(
        bigint(F.count(F.lit(1))).alias("n_windows"),
        _csum(F.col("k_bp") >= 8000).alias("n_overbought"),
        _csum(F.col("k_bp") <= 2000).alias("n_oversold"),
    )
    return (
        fin.join(counts, "event_type")
        .select(
            "event_type",
            "n_windows",
            "n_overbought",
            "n_oversold",
            bigint(F.col("k_bp")).alias("last_k_bp"),
            F.col("d_bp").cast("long").alias("last_d_bp"),
        )
        .orderBy("event_type")
    )


AROON_P = 25


@register(
    "events_aroon",
    doc=f"Aroon up/down at the final day per event type: over the last "
    f"P = min(n, {AROON_P}) days, the MOST RECENT argmax/argmin day "
    "(max tt attaining the window max/min — exact two-phase "
    "aggregation, no max_by tie hazard), aroon = ((P - steps_since) * "
    "10000) DIV P. The oscillator is their difference — trend-age "
    "readout on a bounded trailing window.",
    oracle=f"""
WITH {_GRID_SQL},
n AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM cell GROUP BY 1),
win AS (
    SELECT c.event_type, c.tt, c.v, LEAST(n.n, {AROON_P}) AS p, n.n
    FROM cell c JOIN n ON n.event_type = c.event_type
    WHERE c.tt >= n.n - LEAST(n.n, {AROON_P})
),
ext AS (
    SELECT event_type, MAX(p) AS p, MAX(n) AS n,
           CAST(MAX(v) AS BIGINT) AS mxv, CAST(MIN(v) AS BIGINT) AS mnv
    FROM win GROUP BY 1
),
arg AS (
    SELECT w.event_type,
           CAST(MAX(CASE WHEN w.v = e.mxv THEN w.tt END) AS BIGINT) AS tt_max,
           CAST(MAX(CASE WHEN w.v = e.mnv THEN w.tt END) AS BIGINT) AS tt_min
    FROM win w JOIN ext e ON e.event_type = w.event_type
    GROUP BY 1
)
SELECT e.event_type, CAST(e.p AS BIGINT) AS period,
       CAST(((e.p - (e.n - 1 - a.tt_max)) * {BP}) // e.p AS BIGINT)
           AS aroon_up_bp,
       CAST(((e.p - (e.n - 1 - a.tt_min)) * {BP}) // e.p AS BIGINT)
           AS aroon_down_bp,
       CAST(((e.p - (e.n - 1 - a.tt_max)) * {BP}) // e.p
            - ((e.p - (e.n - 1 - a.tt_min)) * {BP}) // e.p AS BIGINT)
           AS aroon_osc_bp
FROM ext e JOIN arg a ON a.event_type = e.event_type
ORDER BY e.event_type
""",
)
def events_aroon(spark, sf_dir):
    grid = _grid(spark, sf_dir)
    n = grid.groupBy("event_type").agg(bigint(F.count(F.lit(1))).alias("n"))
    win = grid.join(F.broadcast(n), "event_type").select(
        "event_type",
        "tt",
        "v",
        F.least(F.col("n"), F.lit(AROON_P)).alias("p"),
        "n",
    ).filter(F.col("tt") >= F.col("n") - F.col("p"))
    ext = win.groupBy("event_type").agg(
        F.max("p").alias("p"),
        F.max("n").alias("n"),
        bigint(F.max("v")).alias("mxv"),
        bigint(F.min("v")).alias("mnv"),
    )
    arg = (
        win.join(F.broadcast(ext), "event_type")
        .groupBy("event_type")
        .agg(
            bigint(
                F.max(F.when(F.col("v") == F.col("mxv"), F.col("tt")))
            ).alias("tt_max"),
            bigint(
                F.max(F.when(F.col("v") == F.col("mnv"), F.col("tt")))
            ).alias("tt_min"),
        )
    )
    return (
        ext.join(arg, "event_type")
        .select(
            "event_type",
            bigint(F.col("p")).alias("period"),
            F.expr(
                f"CAST(((p - (n - 1 - tt_max)) * {BP}) DIV p AS BIGINT)"
            ).alias("aroon_up_bp"),
            F.expr(
                f"CAST(((p - (n - 1 - tt_min)) * {BP}) DIV p AS BIGINT)"
            ).alias("aroon_down_bp"),
            F.expr(
                f"CAST(((p - (n - 1 - tt_max)) * {BP}) DIV p"
                f" - ((p - (n - 1 - tt_min)) * {BP}) DIV p AS BIGINT)"
            ).alias("aroon_osc_bp"),
        )
        .orderBy("event_type")
    )


DON_N = 20


@register(
    "events_donchian_breakout",
    doc=f"Donchian {DON_N}-day prior-channel breakout monitor per event "
    "type: a day breaks out UP when its volume exceeds the max of the "
    f"PRIOR {DON_N} days (strictly prior window, so the signal is "
    "causal), DOWN when below the prior min; only full prior windows "
    "count. Emits breakout counts and the final-day channel "
    "boundaries — pure bounded-window min/max, no arithmetic at all.",
    oracle=f"""
WITH {_GRID_SQL},
win AS (
    SELECT event_type, tt, v,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_w,
           CAST(MAX(v) OVER w AS BIGINT) AS mx,
           CAST(MIN(v) OVER w AS BIGINT) AS mn
    FROM cell
    WINDOW w AS (PARTITION BY event_type ORDER BY tt
                 ROWS BETWEEN {DON_N} PRECEDING AND 1 PRECEDING)
),
full_w AS (SELECT * FROM win WHERE n_w = {DON_N}),
fin AS (
    SELECT event_type, mx, mn,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY tt DESC) AS rk
    FROM full_w
)
SELECT f.event_type,
       CAST((SELECT COUNT(*) FROM full_w w WHERE w.event_type = f.event_type)
            AS BIGINT) AS n_windows,
       CAST((SELECT COUNT(*) FROM full_w w WHERE w.event_type = f.event_type
             AND w.v > w.mx) AS BIGINT) AS n_break_up,
       CAST((SELECT COUNT(*) FROM full_w w WHERE w.event_type = f.event_type
             AND w.v < w.mn) AS BIGINT) AS n_break_down,
       CAST(f.mx AS BIGINT) AS last_channel_high,
       CAST(f.mn AS BIGINT) AS last_channel_low
FROM fin f WHERE f.rk = 1
ORDER BY f.event_type
""",
)
def events_donchian_breakout(spark, sf_dir):
    grid = _grid(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("tt").rowsBetween(-DON_N, -1)
    win = grid.select(
        "event_type",
        "tt",
        "v",
        F.count(F.lit(1)).over(w).cast("long").alias("n_w"),
        F.max("v").over(w).cast("long").alias("mx"),
        F.min("v").over(w).cast("long").alias("mn"),
    ).filter(F.col("n_w") == DON_N)
    counts = win.groupBy("event_type").agg(
        bigint(F.count(F.lit(1))).alias("n_windows"),
        _csum(F.col("v") > F.col("mx")).alias("n_break_up"),
        _csum(F.col("v") < F.col("mn")).alias("n_break_down"),
    )
    fin = win.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(F.col("tt").desc())
        ),
    ).filter(F.col("rk") == 1)
    return (
        counts.join(fin, "event_type")
        .select(
            "event_type",
            "n_windows",
            "n_break_up",
            "n_break_down",
            bigint(F.col("mx")).alias("last_channel_high"),
            bigint(F.col("mn")).alias("last_channel_low"),
        )
        .orderBy("event_type")
    )


@register(
    "events_pettitt_changepoint",
    doc="Pettitt's nonparametric changepoint test per event type on the "
    "zero-filled daily volumes: U_t = sum_{i<=t, j>t} sgn(v_i - v_j) "
    "recovered in O(n) from the exact midrank identity U_t = "
    "sum_{i<=t} dr_i - (t+1)(n+1) with DOUBLED midranks dr = "
    "2*#{v'<v} + #{v'=v} + 1 (property-verified incl. ties) — never "
    "the O(n^2) pair sum. K = max|U_t| over t < n-1, changepoint day "
    "= earliest argmax. Rank pass + prefix sums, all partitioned by "
    "type over the bounded day spine.",
    oracle=f"""
WITH {_GRID_SQL},
vf AS (
    SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS c
    FROM cell GROUP BY 1, 2
),
vr AS (
    SELECT event_type, v,
           2 * COALESCE(SUM(c) OVER (PARTITION BY event_type ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + c + 1 AS dr
    FROM vf
),
pre AS (
    SELECT c.event_type, c.tt, c.day,
           SUM(r.dr) OVER (PARTITION BY c.event_type ORDER BY c.tt
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sdr
    FROM cell c JOIN vr r ON r.event_type = c.event_type AND r.v = c.v
),
n AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM cell GROUP BY 1),
u AS (
    SELECT p.event_type, p.tt, p.day,
           CAST(p.sdr - (p.tt + 1) * (n.n + 1) AS BIGINT) AS u_t, n.n
    FROM pre p JOIN n ON n.event_type = p.event_type
    WHERE p.tt < n.n - 1
),
top AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                 ORDER BY ABS(u_t) DESC, tt) AS rk
    FROM u
)
SELECT event_type, CAST(n AS BIGINT) AS n_days,
       CAST(day AS VARCHAR) AS changepoint_day,
       CAST(ABS(u_t) AS BIGINT) AS k_stat,
       CAST(u_t AS BIGINT) AS u_at_cp
FROM top WHERE rk = 1
ORDER BY event_type
""",
)
def events_pettitt_changepoint(spark, sf_dir):
    grid = _grid(spark, sf_dir)
    vf = grid.groupBy("event_type", "v").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    wv = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    vr = vf.select(
        "event_type",
        "v",
        (
            2 * F.coalesce(F.sum("c").over(wv), F.lit(0)) + F.col("c") + 1
        ).alias("dr"),
    )
    wt = (
        Window.partitionBy("event_type")
        .orderBy("tt")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pre = (
        grid.join(vr, ["event_type", "v"])
        .select(
            "event_type",
            "tt",
            "day",
            F.sum("dr").over(wt).alias("sdr"),
        )
    )
    n = grid.groupBy("event_type").agg(bigint(F.count(F.lit(1))).alias("n"))
    u = (
        pre.join(F.broadcast(n), "event_type")
        .filter(F.col("tt") < F.col("n") - 1)
        .select(
            "event_type",
            "tt",
            "day",
            "n",
            bigint(
                F.col("sdr") - (F.col("tt") + 1) * (F.col("n") + 1)
            ).alias("u_t"),
        )
    )
    top = u.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(
                F.abs(F.col("u_t")).desc(), F.col("tt")
            )
        ),
    ).filter(F.col("rk") == 1)
    return top.select(
        "event_type",
        bigint(F.col("n")).alias("n_days"),
        F.col("day").cast("string").alias("changepoint_day"),
        bigint(F.abs(F.col("u_t"))).alias("k_stat"),
        bigint(F.col("u_t")).alias("u_at_cp"),
    ).orderBy("event_type")


@register(
    "events_theil_u",
    doc="Theil's U2 forecast-accuracy audit (squared form, exact) of "
    "the seasonal-naive m=7 forecast per event type: SSE(v_t vs "
    "v_{t-7}) against the random-walk benchmark SSE(v_t vs v_{t-1}) "
    "over the same t >= 7 range — U2^2 = SSE_model/SSE_naive in "
    "truncated bp, squares accumulated in DECIMAL(38,0)/HUGEINT. "
    "U2^2 < 10000 means weekly seasonality beats persistence.",
    oracle=f"""
WITH {_GRID_SQL},
lagd AS (
    SELECT event_type, tt, v,
           LAG(v, 7) OVER tw AS v7, LAG(v, 1) OVER tw AS v1
    FROM cell
    WINDOW tw AS (PARTITION BY event_type ORDER BY tt)
),
sse AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(COALESCE(SUM(CAST(v - v7 AS HUGEINT) * (v - v7)), 0)
                AS HUGEINT) AS sse_model,
           CAST(COALESCE(SUM(CAST(v - v1 AS HUGEINT) * (v - v1)), 0)
                AS HUGEINT) AS sse_naive
    FROM lagd WHERE v7 IS NOT NULL
    GROUP BY 1
)
SELECT event_type, n_terms,
       CAST(sse_model AS BIGINT) AS sse_model,
       CAST(sse_naive AS BIGINT) AS sse_naive,
       CAST(CASE WHEN sse_naive = 0 THEN 0
                 ELSE (sse_model * {BP}) // sse_naive END AS BIGINT)
           AS theil_u2_sq_bp
FROM sse
ORDER BY event_type
""",
)
def events_theil_u(spark, sf_dir):
    dec = "decimal(38,0)"
    grid = _grid(spark, sf_dir)
    tw = Window.partitionBy("event_type").orderBy("tt")
    lagd = grid.select(
        "event_type",
        "v",
        F.lag("v", 7).over(tw).alias("v7"),
        F.lag("v", 1).over(tw).alias("v1"),
    ).filter(F.col("v7").isNotNull())
    sse = lagd.groupBy("event_type").agg(
        bigint(F.count(F.lit(1))).alias("n_terms"),
        F.coalesce(
            F.sum(
                (F.col("v") - F.col("v7")).cast(dec) * (F.col("v") - F.col("v7"))
            ),
            F.lit(0),
        )
        .cast(dec)
        .alias("sse_model"),
        F.coalesce(
            F.sum(
                (F.col("v") - F.col("v1")).cast(dec) * (F.col("v") - F.col("v1"))
            ),
            F.lit(0),
        )
        .cast(dec)
        .alias("sse_naive"),
    )
    return sse.select(
        "event_type",
        "n_terms",
        F.col("sse_model").cast("long").alias("sse_model"),
        F.col("sse_naive").cast("long").alias("sse_naive"),
        F.expr(
            f"CAST(CASE WHEN sse_naive = 0 THEN 0"
            f" ELSE (sse_model * {BP}) DIV sse_naive END AS BIGINT)"
        ).alias("theil_u2_sq_bp"),
    ).orderBy("event_type")


@register(
    "events_ulcer_index",
    doc="Ulcer index (squared, exact) per event type: drawdown from the "
    "running peak in truncated bp (dd = ((peak - v)*10000) DIV peak; 0 "
    "while the peak is still 0 on zero-filled lead-ins), UI^2 = "
    "mean(dd^2) DIV-exact in bp^2, plus the max drawdown — the "
    "depth-AND-persistence pain readout next to events_max_drawdown. "
    "One cumulative-max window partitioned by type.",
    oracle=f"""
WITH {_GRID_SQL},
pk AS (
    SELECT event_type, tt, v,
           CAST(MAX(v) OVER (PARTITION BY event_type ORDER BY tt
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS peak
    FROM cell
),
dd AS (
    SELECT event_type,
           CAST(CASE WHEN peak = 0 THEN 0
                     ELSE ((peak - v) * {BP}) // peak END AS BIGINT) AS dd_bp
    FROM pk
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(COALESCE(MAX(dd_bp), 0) AS BIGINT) AS max_drawdown_bp,
       CAST(CASE WHEN COUNT(*) = 0 THEN 0
                 ELSE COALESCE(SUM(dd_bp * dd_bp), 0) // COUNT(*)
            END AS BIGINT) AS ulcer_index_sq
FROM dd
GROUP BY event_type
ORDER BY event_type
""",
)
def events_ulcer_index(spark, sf_dir):
    grid = _grid(spark, sf_dir)
    wpk = (
        Window.partitionBy("event_type")
        .orderBy("tt")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pk = grid.select(
        "event_type",
        "v",
        F.max("v").over(wpk).cast("long").alias("peak"),
    )
    dd = pk.select(
        "event_type",
        F.expr(
            f"CAST(CASE WHEN peak = 0 THEN 0"
            f" ELSE ((peak - v) * {BP}) DIV peak END AS BIGINT)"
        ).alias("dd_bp"),
    )
    return (
        dd.groupBy("event_type")
        .agg(
            bigint(F.count(F.lit(1))).alias("n_days"),
            bigint(F.coalesce(F.max("dd_bp"), F.lit(0))).alias(
                "max_drawdown_bp"
            ),
            F.expr(
                "CAST(CASE WHEN COUNT(*) = 0 THEN 0"
                " ELSE COALESCE(SUM(dd_bp * dd_bp), 0) DIV COUNT(*)"
                " END AS BIGINT)"
            ).alias("ulcer_index_sq"),
        )
        .orderBy("event_type")
    )


@register(
    "events_kama_efficiency",
    doc="Kaufman's efficiency ratio per event type over the zero-filled "
    "daily volumes: ER = |v_last - v_first| / sum|day-over-day change| "
    "in truncated bp (1.0 = pure trend, ~0 = chop), plus the signed "
    "direction — the readout that gates adaptive smoothing constants. "
    "One lag window partitioned by type; exact integers throughout.",
    oracle=f"""
WITH {_GRID_SQL},
lagd AS (
    SELECT event_type, tt, v,
           LAG(v, 1) OVER (PARTITION BY event_type ORDER BY tt) AS v1
    FROM cell
),
agg AS (
    SELECT event_type,
           CAST(COALESCE(SUM(ABS(v - v1)), 0) AS BIGINT) AS total_path,
           CAST(ARG_MIN(v, tt) AS BIGINT) AS v_first,
           CAST(ARG_MAX(v, tt) AS BIGINT) AS v_last
    FROM lagd GROUP BY 1
)
SELECT event_type, total_path, v_first, v_last,
       CAST(SIGN(v_last - v_first) AS BIGINT) AS direction,
       CAST(CASE WHEN total_path = 0 THEN 0
                 ELSE (ABS(v_last - v_first) * {BP}) // total_path
            END AS BIGINT) AS efficiency_ratio_bp
FROM agg
ORDER BY event_type
""",
)
def events_kama_efficiency(spark, sf_dir):
    grid = _grid(spark, sf_dir)
    tw = Window.partitionBy("event_type").orderBy("tt")
    lagd = grid.select(
        "event_type", "tt", "v", F.lag("v", 1).over(tw).alias("v1")
    )
    agg = lagd.groupBy("event_type").agg(
        bigint(
            F.coalesce(F.sum(F.abs(F.col("v") - F.col("v1"))), F.lit(0))
        ).alias("total_path"),
        bigint(F.min_by("v", "tt")).alias("v_first"),
        bigint(F.max_by("v", "tt")).alias("v_last"),
    )
    return agg.select(
        "event_type",
        "total_path",
        "v_first",
        "v_last",
        F.signum(F.col("v_last") - F.col("v_first"))
        .cast("long")
        .alias("direction"),
        F.expr(
            f"CAST(CASE WHEN total_path = 0 THEN 0"
            f" ELSE (ABS(v_last - v_first) * {BP}) DIV total_path"
            f" END AS BIGINT)"
        ).alias("efficiency_ratio_bp"),
    ).orderBy("event_type")


SLOPE_N = 14
# constant denominator of the fixed-width OLS slope: n*sum(t^2) - (sum t)^2
# for t = 0..13
_SLOPE_DEN = SLOPE_N * sum(i * i for i in range(SLOPE_N)) - sum(
    range(SLOPE_N)
) ** 2  # = 3185


@register(
    "events_rolling_slope",
    doc=f"Rolling {SLOPE_N}-day OLS slope monitor per event type: the "
    "within-window position-weighted sum recovers from two cumulants "
    "(sum(tt*v) and sum(v) over the trailing window, wsum = A - "
    "(tt-13)*B), so slope = (14*wsum - 91*B) * 1e6 DIV 3185 is ONE "
    "exact integer per day with a CONSTANT denominator — no per-window "
    "regression state. Counts rising/falling windows and emits the "
    "final slope — the trend-direction dashboard behind alerting.",
    oracle=f"""
WITH {_GRID_SQL},
win AS (
    SELECT event_type, tt,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_w,
           CAST(SUM(tt * v) OVER w AS BIGINT) AS a,
           CAST(SUM(v) OVER w AS BIGINT) AS b
    FROM cell
    WINDOW w AS (PARTITION BY event_type ORDER BY tt
                 ROWS BETWEEN {SLOPE_N - 1} PRECEDING AND CURRENT ROW)
),
slopes AS (
    SELECT event_type, tt,
           CAST(({SLOPE_N} * (a - (tt - {SLOPE_N - 1}) * b)
                 - {sum(range(SLOPE_N))} * b) * 1000000
                // {_SLOPE_DEN} AS BIGINT) AS slope_micro
    FROM win WHERE n_w = {SLOPE_N}
),
fin AS (
    SELECT event_type, slope_micro,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY tt DESC) AS rk
    FROM slopes
)
SELECT s.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_windows,
       CAST(COUNT(*) FILTER (WHERE s.slope_micro > 0) AS BIGINT)
           AS n_rising,
       CAST(COUNT(*) FILTER (WHERE s.slope_micro < 0) AS BIGINT)
           AS n_falling,
       CAST(MAX(f.slope_micro) AS BIGINT) AS last_slope_micro
FROM slopes s
JOIN fin f ON f.event_type = s.event_type AND f.rk = 1
GROUP BY s.event_type
ORDER BY s.event_type
""",
)
def events_rolling_slope(spark, sf_dir):
    from cascade_spark.operators.inference_extra import _csum

    grid = _grid(spark, sf_dir)
    w = (
        Window.partitionBy("event_type")
        .orderBy("tt")
        .rowsBetween(-(SLOPE_N - 1), 0)
    )
    win = grid.select(
        "event_type",
        "tt",
        F.count(F.lit(1)).over(w).cast("long").alias("n_w"),
        F.sum(F.col("tt") * F.col("v")).over(w).cast("long").alias("a"),
        F.sum("v").over(w).cast("long").alias("b"),
    ).filter(F.col("n_w") == SLOPE_N)
    slopes = win.select(
        "event_type",
        "tt",
        F.expr(
            f"CAST(({SLOPE_N} * (a - (tt - {SLOPE_N - 1}) * b)"
            f" - {sum(range(SLOPE_N))} * b) * 1000000"
            f" DIV {_SLOPE_DEN} AS BIGINT)"
        ).alias("slope_micro"),
    )
    fin = slopes.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(F.col("tt").desc())
        ),
    ).filter(F.col("rk") == 1)
    counts = slopes.groupBy("event_type").agg(
        bigint(F.count(F.lit(1))).alias("n_windows"),
        _csum(F.col("slope_micro") > 0).alias("n_rising"),
        _csum(F.col("slope_micro") < 0).alias("n_falling"),
    )
    return (
        counts.join(
            fin.select("event_type", F.col("slope_micro").alias("last_slope_micro")),
            "event_type",
        )
        .select(
            "event_type",
            "n_windows",
            "n_rising",
            "n_falling",
            bigint(F.col("last_slope_micro")).alias("last_slope_micro"),
        )
        .orderBy("event_type")
    )
