"""Time-series resampling — order-sensitive downsampling (OHLC bars).

``events_time_rollup`` aggregates order-insensitive measures per time
bucket; this module adds the order-SENSITIVE downsample every metrics /
market-data pipeline needs: open (first value in the bucket), close
(last), high, low, volume. First/last are resolved by the total order
(ts, event_id) so results are deterministic under any partitioning.

Plan shape: one shuffle on the (day, event_type) bucket key serves both
row_number windows (same partition key, opposite sort order — Spark
sorts twice within the exchange, never re-shuffles) and the final
aggregate. At 100 TB the bucket key is also the table's partition
column, so the exchange disappears entirely under a partition-aligned
layout.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from cascade_spark.plans.registry import register
from cascade_spark.operators._util import bigint, d2, dec, t
from cascade_spark.operators.inference_extra import _csum


@register(
    "events_resample_ohlc",
    doc="OHLC downsample: per (day, event_type) bar with open/close "
    "resolved by the (ts, event_id) total order, high/low/volume/total "
    "as plain aggregates. One bucket-key shuffle serves both orderings "
    "and the aggregate.",
    oracle="""
WITH seq AS (
    SELECT STRFTIME(DATE_TRUNC('day', ts), '%Y-%m-%d') AS day,
           event_type, value,
           ROW_NUMBER() OVER (PARTITION BY DATE_TRUNC('day', ts), event_type
                              ORDER BY ts, event_id) AS rn_a,
           ROW_NUMBER() OVER (PARTITION BY DATE_TRUNC('day', ts), event_type
                              ORDER BY ts DESC, event_id DESC) AS rn_d
    FROM events
)
SELECT day, event_type,
       CAST(ROUND(MAX(CASE WHEN rn_a = 1 THEN CAST(value AS DECIMAL(12,4)) END), 2) AS DOUBLE) AS open,
       CAST(ROUND(MAX(CAST(value AS DECIMAL(12,4))), 2) AS DOUBLE) AS high,
       CAST(ROUND(MIN(CAST(value AS DECIMAL(12,4))), 2) AS DOUBLE) AS low,
       CAST(ROUND(MAX(CASE WHEN rn_d = 1 THEN CAST(value AS DECIMAL(12,4)) END), 2) AS DOUBLE) AS close,
       COUNT(*) AS volume,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(12,4))), 2) AS DOUBLE) AS total
FROM seq
GROUP BY day, event_type
ORDER BY day, event_type
""",
)
def events_resample_ohlc(spark, sf_dir):
    ev = t(spark, sf_dir, "events").select(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        "event_type",
        "ts",
        "event_id",
        "value",
    )
    wa = Window.partitionBy("day", "event_type").orderBy("ts", "event_id")
    wd = Window.partitionBy("day", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    seq = ev.select(
        "day",
        "event_type",
        "value",
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    return (
        seq.groupBy("day", "event_type")
        .agg(
            d2(F.max(F.when(F.col("rn_a") == 1, dec("value")))).alias("open"),
            d2(F.max(dec("value"))).alias("high"),
            d2(F.min(dec("value"))).alias("low"),
            d2(F.max(F.when(F.col("rn_d") == 1, dec("value")))).alias("close"),
            F.count(F.lit(1)).alias("volume"),
            d2(F.sum(dec("value"))).alias("total"),
        )
        .orderBy("day", "event_type")
    )


@register(
    "events_new_vs_returning",
    doc="New-vs-returning daily actives + cumulative unique users. The "
    "naive form is COUNT(DISTINCT user) over an expanding window — "
    "quadratic state at scale. The scalable rewrite computes each "
    "user's first-seen day once (one combinable min-aggregate), turns "
    "cumulative-distinct into a cumulative SUM of first-seen counts "
    "over the |days|-row frame, and splits daily actives into "
    "new/returning by comparing against first_seen. All shuffles are "
    "key-bounded (user, day); the only window runs over ~30 day rows.",
    oracle="""
WITH d AS (
    SELECT STRFTIME(DATE_TRUNC('day', ts), '%Y-%m-%d') AS day, user_id
    FROM events GROUP BY 1, 2
),
first_seen AS (SELECT user_id, MIN(day) AS first_day FROM d GROUP BY user_id),
daily AS (
    SELECT d.day,
           COUNT(*) AS active_users,
           CAST(SUM(CASE WHEN f.first_day = d.day THEN 1 ELSE 0 END) AS BIGINT) AS new_users
    FROM d JOIN first_seen f ON d.user_id = f.user_id
    GROUP BY d.day
)
SELECT day, active_users,
       new_users,
       active_users - new_users AS returning_users,
       CAST(SUM(new_users) OVER (ORDER BY day) AS BIGINT) AS cum_unique_users
FROM daily
ORDER BY day
""",
)
def events_new_vs_returning(spark, sf_dir):
    d = (
        t(spark, sf_dir, "events")
        .select(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
            "user_id",
        )
        .distinct()
    )
    first = d.groupBy("user_id").agg(F.min("day").alias("first_day"))
    daily = (
        d.join(first, "user_id")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("active_users"),
            F.sum(F.when(F.col("first_day") == F.col("day"), 1).otherwise(0))
            .cast("long")
            .alias("new_users"),
        )
    )
    win = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "day",
        "active_users",
        "new_users",
        (F.col("active_users") - F.col("new_users")).alias("returning_users"),
        F.sum("new_users").over(win).cast("long").alias("cum_unique_users"),
    ).orderBy("day")


@register(
    "events_ewma_dyadic",
    doc="Bit-exact EWMA smoothing (alpha = 1/2): daily average purchase "
    "value per event type smoothed by y_t = (x_t + y_(t-1))/2, "
    "computed non-recursively as a cumulative window sum of "
    "x_j * 2^max(j-1,0) divided by 2^t. With dyadic weights every "
    "term is an integer-valued double < 2^53, so the sum is exact in "
    "ANY accumulation order and the divisions by powers of two are "
    "exact — recursive smoothing joins the repo's bit-identical "
    "cross-engine family (no float tolerance). One shuffle on "
    "event_type; the window sees |days| rows per series.",
    oracle="""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS d,
           CAST(SUM(CAST(CAST(value AS DECIMAL(12,4)) * 100 AS BIGINT))
                AS BIGINT) AS sum_cents,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    GROUP BY event_type, CAST(ts AS DATE)
), seq AS (
    SELECT event_type, d,
           (sum_cents - (sum_cents % n)) / n AS avg_cents,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) - 1 AS t
    FROM daily
), weighted AS (
    SELECT event_type, d, t,
           avg_cents * POWER(2.0, CASE WHEN t = 0 THEN 0 ELSE t - 1 END) AS w
    FROM seq
)
SELECT event_type, STRFTIME(d, '%Y-%m-%d') AS day,
       SUM(w) OVER (PARTITION BY event_type ORDER BY t
                    ROWS UNBOUNDED PRECEDING) / POWER(2.0, t) AS ewma_cents
FROM weighted
ORDER BY event_type, day
""",
)
def events_ewma_dyadic(spark, sf_dir):
    from pyspark.sql import Window

    from cascade_spark.operators._util import _intdiv, dec

    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.sum((dec("value") * 100).cast("long")).cast("long").alias("sum_cents"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    seq = daily.select(
        "event_type",
        "d",
        _intdiv(F.col("sum_cents"), F.col("n")).cast("double").alias("avg_cents"),
        (
            F.row_number().over(
                Window.partitionBy("event_type").orderBy("d")
            )
            - 1
        ).alias("t"),
    )
    w = F.col("avg_cents") * F.pow(
        F.lit(2.0), F.when(F.col("t") == 0, 0).otherwise(F.col("t") - 1)
    )
    weighted = seq.select("event_type", "d", "t", w.alias("w"))
    cum = Window.partitionBy("event_type").orderBy("t").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return weighted.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        (F.sum("w").over(cum) / F.pow(F.lit(2.0), F.col("t"))).alias("ewma_cents"),
    ).orderBy("event_type", "day")


ACF_MAX_LAG = 7


@register(
    "events_autocorrelation",
    doc="Daily-volume autocorrelation profile (lags 1..7): counts on a "
    "gap-free day spine (sequence-explode, zero-filled) so lags are true "
    "calendar shifts, then one aggregate computes the lag-0 energy and "
    "every lagged dot product in exact integers; acf_bp = floor-basis-"
    "points vs lag-0 — the weekly-seasonality pre-flight for capacity "
    "planning. The window runs over the |days| aggregate, never raw "
    "events; at 100 TB the day table is a few thousand rows.",
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
series AS (
    SELECT s.day, COALESCE(d.c, 0) AS c
    FROM spine s LEFT JOIN daily d ON d.day = s.day
),
lagged AS (
    SELECT c,
           {", ".join(f"LAG(c, {L}) OVER (ORDER BY day) AS l{L}" for L in range(1, ACF_MAX_LAG + 1))}
    FROM series
),
sums AS (
    SELECT CAST(SUM(c * c) AS BIGINT) AS e0,
           {", ".join(f"CAST(SUM(c * l{L}) AS BIGINT) AS s{L}, CAST(COUNT(l{L}) AS BIGINT) AS n{L}" for L in range(1, ACF_MAX_LAG + 1))}
    FROM lagged
)
SELECT lag, n_pairs, dot,
       CASE WHEN dot >= 0 THEN 1 ELSE -1 END
       * ((10000 * ABS(dot)) // sums.e0) AS acf_bp
FROM sums, LATERAL (
    {" UNION ALL ".join(f"SELECT {L} AS lag, n{L} AS n_pairs, s{L} AS dot" for L in range(1, ACF_MAX_LAG + 1))}
)
WHERE sums.e0 IS NOT NULL
ORDER BY lag
""",
)
def events_autocorrelation(spark, sf_dir):
    from cascade_spark.operators._util import _intdiv, bigint

    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        bigint(F.count(F.lit(1))).alias("c")
    )
    spine = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi")).select(
        F.explode(F.sequence("lo", "hi")).alias("day")
    )
    series = spine.join(daily, "day", "left").select(
        "day", F.coalesce("c", F.lit(0)).alias("c")
    )
    # |days| rows — a deliberate tiny-frame global window (same rationale
    # as the EWMA query above): the raw stream never enters the window.
    w = Window.orderBy("day")
    lagged = series.select(
        "c", *[F.lag("c", L).over(w).alias(f"l{L}") for L in range(1, ACF_MAX_LAG + 1)]
    )
    sums = lagged.agg(
        bigint(F.sum(F.col("c") * F.col("c"))).alias("e0"),
        *[
            a
            for L in range(1, ACF_MAX_LAG + 1)
            for a in (
                bigint(F.sum(F.col("c") * F.col(f"l{L}"))).alias(f"s{L}"),
                bigint(F.count(f"l{L}")).alias(f"n{L}"),
            )
        ],
    )
    # empty-events guard: the global agg still emits one all-NULL row,
    # which stack() would fan out to 7 NULL lags
    sums = sums.filter(F.col("e0").isNotNull())
    stacked = sums.select(
        F.expr(
            "stack({n}, {args}) AS (lag, n_pairs, dot)".format(
                n=ACF_MAX_LAG,
                args=", ".join(
                    f"{L}, n{L}, s{L}" for L in range(1, ACF_MAX_LAG + 1)
                ),
            )
        ),
        "e0",
    )
    return stacked.select(
        bigint(F.col("lag")).alias("lag"),
        "n_pairs",
        "dot",
        # magnitude-divide + sign: total semantics even for negative
        # dots (DuckDB // truncates toward zero, _intdiv floors)
        (
            F.when(F.col("dot") >= 0, 1).otherwise(-1)
            * _intdiv(F.lit(10000) * F.abs(F.col("dot")), F.col("e0"))
        ).alias("acf_bp"),
    ).orderBy("lag")


@register(
    "events_changepoint_cusum",
    doc="CUSUM change-point detection on daily volumes: cumulative "
    "deviation from the global mean, kept exact by scaling through the "
    "day count (n*S_t = n*cumsum_t - t*total — integers only, no "
    "rational mean), peak |CUSUM| day flagged as the level-shift "
    "candidate. Day spine is gap-free (sequence-explode). The window "
    "runs over the |days| aggregate only; the raw stream contributes "
    "one combinable count pass.",
    oracle="""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS c
    FROM events GROUP BY 1
),
spine AS (
    SELECT UNNEST(GENERATE_SERIES((SELECT MIN(day) FROM daily),
                                  (SELECT MAX(day) FROM daily),
                                  INTERVAL 1 DAY))::DATE AS day
),
series AS (
    SELECT s.day, COALESCE(d.c, 0) AS c,
           ROW_NUMBER() OVER (ORDER BY s.day) AS t
    FROM spine s LEFT JOIN daily d ON d.day = s.day
),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total, CAST(COUNT(*) AS BIGINT) AS n FROM series),
cu AS (
    SELECT day, c, t,
           CAST(tot.n * SUM(c) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                - t * tot.total AS BIGINT) AS cusum_scaled
    FROM series, tot
)
SELECT STRFTIME(day, '%Y-%m-%d') AS day, c, cusum_scaled,
       CAST(ABS(cusum_scaled) = (SELECT MAX(ABS(cusum_scaled)) FROM cu) AS BOOLEAN)
           AS is_peak
FROM cu
ORDER BY day
""",
)
def events_changepoint_cusum(spark, sf_dir):
    from cascade_spark.operators._util import bigint

    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        bigint(F.count(F.lit(1))).alias("c")
    )
    spine = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi")).select(
        F.explode(F.sequence("lo", "hi")).alias("day")
    )
    series = spine.join(daily, "day", "left").select(
        "day", F.coalesce("c", F.lit(0)).alias("c")
    )
    w = Window.orderBy("day")
    cu = series.select(
        "day",
        "c",
        F.row_number().over(w).alias("t"),
        F.sum("c").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
    )
    tot = series.agg(
        bigint(F.sum("c")).alias("total"), bigint(F.count(F.lit(1))).alias("n")
    )
    cu = cu.crossJoin(F.broadcast(tot)).select(
        "day",
        "c",
        bigint(F.col("n") * F.col("cum") - F.col("t") * F.col("total")).alias(
            "cusum_scaled"
        ),
    )
    peak = cu.agg(F.max(F.abs("cusum_scaled")).alias("mx"))
    return (
        cu.crossJoin(F.broadcast(peak))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "c",
            "cusum_scaled",
            (F.abs("cusum_scaled") == F.col("mx")).alias("is_peak"),
        )
        .orderBy("day")
    )


SN_LAG = 7  # weekly seasonality


@register(
    "events_forecast_seasonal_naive",
    doc="Seasonal-naive forecast backtest: predict each day's per-type "
    f"event count with the count {SN_LAG} days earlier on a gap-free "
    "zero-filled day spine, then score MAE / max error per event type "
    "in exact integers (MAE as floor division). The lag window runs "
    "over the (type, day) aggregate — a few thousand rows at any "
    "corpus scale — never over raw events; this is the capacity-"
    "planning baseline every fancier forecaster must beat.",
    oracle=f"""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS c
    FROM events GROUP BY 1, 2
),
spine AS (
    SELECT t.event_type, d.day
    FROM (SELECT DISTINCT event_type FROM daily) t
    CROSS JOIN (SELECT UNNEST(GENERATE_SERIES((SELECT MIN(day) FROM daily),
                                              (SELECT MAX(day) FROM daily),
                                              INTERVAL 1 DAY))::DATE AS day) d
),
series AS (
    SELECT s.event_type, s.day, COALESCE(d.c, 0) AS c
    FROM spine s LEFT JOIN daily d
    ON d.event_type = s.event_type AND d.day = s.day
),
lagged AS (
    SELECT event_type, c,
           LAG(c, {SN_LAG}) OVER (PARTITION BY event_type ORDER BY day) AS f
    FROM series
)
SELECT event_type,
       CAST(COUNT(f) AS BIGINT) AS n_scored,
       CAST(SUM(ABS(c - f)) AS BIGINT) AS total_abs_err,
       CAST(SUM(ABS(c - f)) // COUNT(f) AS BIGINT) AS mae_floor,
       CAST(MAX(ABS(c - f)) AS BIGINT) AS max_abs_err,
       CAST(SUM(c) FILTER (f IS NOT NULL) AS BIGINT) AS total_actual,
       CAST(SUM(f) AS BIGINT) AS total_forecast
FROM lagged WHERE f IS NOT NULL
GROUP BY event_type ORDER BY event_type
""",
)
def events_forecast_seasonal_naive(spark, sf_dir):
    from cascade_spark.operators._util import _intdiv, bigint

    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(bigint(F.count(F.lit(1))).alias("c"))
    bounds = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    types = daily.select("event_type").distinct()
    spine = types.crossJoin(F.broadcast(bounds)).select(
        "event_type", F.explode(F.sequence("lo", "hi")).alias("day")
    )
    series = spine.join(daily, ["event_type", "day"], "left").select(
        "event_type", "day", F.coalesce("c", F.lit(0)).alias("c")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = series.select(
        "event_type", "c", F.lag("c", SN_LAG).over(w).alias("f")
    ).filter(F.col("f").isNotNull())
    err = F.abs(F.col("c") - F.col("f"))
    agg = lagged.groupBy("event_type").agg(
        bigint(F.count("f")).alias("n_scored"),
        bigint(F.sum(err)).alias("total_abs_err"),
        bigint(F.max(err)).alias("max_abs_err"),
        bigint(F.sum("c")).alias("total_actual"),
        bigint(F.sum("f")).alias("total_forecast"),
    )
    return agg.select(
        "event_type",
        "n_scored",
        "total_abs_err",
        _intdiv(F.col("total_abs_err"), F.col("n_scored")).alias("mae_floor"),
        "max_abs_err",
        "total_actual",
        "total_forecast",
    ).orderBy("event_type")


SEASONAL_DEV_FLAG_BP = 2500  # flag days deviating >= 25% from their dow norm


@register(
    "events_seasonal_adjusted_anomaly",
    doc="Day-of-week seasonally adjusted anomaly screen: each day's "
    "count is compared to ITS weekday's mean on the gap-free spine — "
    "the deseasonalized complement to the raw z-score detector (a busy "
    "Monday is normal; a Monday-like Sunday is not). Deviation is "
    "exact floor bp of (c*n_dow - sum_dow)/sum_dow, so no float mean "
    "ever forms; flag at |dev| >= 25%. Windows run over the |days| "
    "aggregate only.",
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
series AS (
    SELECT s.day, ISODOW(s.day) AS dow, COALESCE(d.c, 0) AS c
    FROM spine s LEFT JOIN daily d ON d.day = s.day
),
dows AS (
    SELECT dow, CAST(SUM(c) AS BIGINT) AS sum_dow,
           CAST(COUNT(*) AS BIGINT) AS n_dow
    FROM series GROUP BY dow
)
SELECT CAST(s.day AS VARCHAR) AS day, CAST(s.dow AS BIGINT) AS dow, s.c,
       d.sum_dow, d.n_dow,
       CASE WHEN s.c * d.n_dow >= d.sum_dow THEN 1 ELSE -1 END
       * ((10000 * ABS(s.c * d.n_dow - d.sum_dow)) // d.sum_dow) AS dev_bp,
       CAST(CASE WHEN (10000 * ABS(s.c * d.n_dow - d.sum_dow)) // d.sum_dow
                      >= {SEASONAL_DEV_FLAG_BP}
                 THEN 1 ELSE 0 END AS BIGINT) AS flagged
FROM series s JOIN dows d ON d.dow = s.dow
ORDER BY s.day
""",
)
def events_seasonal_adjusted_anomaly(spark, sf_dir):
    from cascade_spark.operators._util import _intdiv, bigint

    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        bigint(F.count(F.lit(1))).alias("c")
    )
    spine = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi")).select(
        F.explode(F.sequence("lo", "hi")).alias("day")
    )
    series = spine.join(daily, "day", "left").select(
        "day",
        F.dayofweek(F.date_sub("day", 1)).alias("dow"),  # ISO dow: Mon=1..Sun=7
        F.coalesce("c", F.lit(0)).alias("c"),
    )
    dows = series.groupBy("dow").agg(
        bigint(F.sum("c")).alias("sum_dow"), bigint(F.count(F.lit(1))).alias("n_dow")
    )
    j = series.join(F.broadcast(dows), "dow")
    # divide magnitudes only: DuckDB's // truncates toward zero for
    # negatives while _intdiv floors — sign applied after the division
    # keeps both engines on the same (truncating) semantics
    mag = _intdiv(
        F.lit(10000) * F.abs(F.col("c") * F.col("n_dow") - F.col("sum_dow")),
        F.col("sum_dow"),
    )
    sign = F.when(F.col("c") * F.col("n_dow") >= F.col("sum_dow"), 1).otherwise(-1)
    return j.select(
        F.col("day").cast("string").alias("day"),
        bigint(F.col("dow")).alias("dow"),
        "c",
        "sum_dow",
        "n_dow",
        (sign * mag).alias("dev_bp"),
        F.when(mag >= SEASONAL_DEV_FLAG_BP, 1).otherwise(0).cast("long").alias("flagged"),
    ).orderBy("day")


BURN_SHORT_H = 1
BURN_LONG_H = 6
BURN_THRESHOLD_BP = 2200  # alert when both windows exceed 22% error rate


@register(
    "events_slo_burn_rate",
    doc="Multi-window SLO burn-rate alerting (the SRE workbook "
    "pattern): per hour, the error rate over the short (1h) and long "
    f"(trailing {BURN_LONG_H}h) windows in exact floor bp, alerting "
    "only when BOTH exceed the threshold — the long window suppresses "
    "blips, the short window ends the alert promptly once the burn "
    "stops. Counts aggregate to the hourly spine first (map-side "
    "combinable); the trailing window is a range frame over the "
    "AGGREGATED spine, bounded by the time span, never by event "
    "volume. Emits only alerting hours.",
    oracle=f"""
WITH hourly AS (
    SELECT DATE_TRUNC('hour', ts) AS h,
           CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS errs,
           CAST(COUNT(*) AS BIGINT) AS total
    FROM events GROUP BY 1
),
rates AS (
    SELECT h, errs, total,
           CAST(SUM(errs) OVER w AS BIGINT) AS errs_l,
           CAST(SUM(total) OVER w AS BIGINT) AS total_l
    FROM hourly
    WINDOW w AS (ORDER BY h RANGE BETWEEN INTERVAL {BURN_LONG_H - 1} HOURS
                 PRECEDING AND CURRENT ROW)
)
SELECT STRFTIME(h, '%Y-%m-%d %H:%M:%S') AS hour_start,
       CAST(errs * 10000 // total AS BIGINT) AS short_bp,
       CAST(errs_l * 10000 // total_l AS BIGINT) AS long_bp,
       errs, total
FROM rates
WHERE errs * 10000 >= {BURN_THRESHOLD_BP} * total
  AND errs_l * 10000 >= {BURN_THRESHOLD_BP} * total_l
ORDER BY hour_start
""",
)
def events_slo_burn_rate(spark, sf_dir):
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count_if(F.col("event_type") == "error").cast("long").alias("errs"),
        F.count(F.lit(1)).cast("long").alias("total"),
    )
    w = (
        Window.orderBy(F.unix_timestamp("h"))
        .rangeBetween(-(BURN_LONG_H - 1) * 3600, 0)
    )
    rates = hourly.select(
        "h",
        "errs",
        "total",
        F.sum("errs").over(w).cast("long").alias("errs_l"),
        F.sum("total").over(w).cast("long").alias("total_l"),
    )
    return (
        rates.filter(
            (F.col("errs") * 10000 >= BURN_THRESHOLD_BP * F.col("total"))
            & (F.col("errs_l") * 10000 >= BURN_THRESHOLD_BP * F.col("total_l"))
        )
        .select(
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            F.expr("errs * 10000 DIV total").cast("long").alias("short_bp"),
            F.expr("errs_l * 10000 DIV total_l").cast("long").alias("long_bp"),
            "errs",
            "total",
        )
        .orderBy("hour_start")
    )


@register(
    "events_max_drawdown",
    doc="Per-user maximum drawdown of the cumulative event value — the "
    "peak-to-trough analytic (finance's risk metric, equally useful "
    "for any cumulative KPI): running balance in exact integer cents, "
    "running max over the same (ts, event_id) total order, drawdown = "
    "peak - balance, then each user's worst point with deterministic "
    "tie-break (earliest event). Windows partition by user_id, so the "
    "plan is one hash-partitioned sort per user at any scale — no "
    "global window. Top 25 users by drawdown, then user_id.",
    oracle="""
WITH c AS (
    SELECT user_id, event_id,
           CAST(ROUND(value * 100) AS BIGINT) AS cents,
           ts
    FROM events
),
b AS (
    SELECT user_id, event_id, ts,
           SUM(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bal
    FROM c
),
r AS (
    SELECT user_id, event_id, bal,
           MAX(bal) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
    FROM b
),
dd AS (
    SELECT user_id, event_id,
           CAST(peak AS BIGINT) AS peak_cents,
           CAST(peak - bal AS BIGINT) AS drawdown_cents,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY peak - bal DESC, event_id) AS rn
    FROM r
)
SELECT user_id, drawdown_cents, peak_cents, event_id AS trough_event_id
FROM dd WHERE rn = 1
ORDER BY drawdown_cents DESC, user_id
LIMIT 25
""",
)
def events_max_drawdown(spark, sf_dir):
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    r = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.sum("cents").over(w).alias("bal"),
    ).withColumn("peak", F.max("bal").over(w))
    dd = r.select(
        "user_id",
        "event_id",
        F.col("peak").cast("long").alias("peak_cents"),
        (F.col("peak") - F.col("bal")).cast("long").alias("drawdown_cents"),
        F.row_number()
        .over(
            Window.partitionBy("user_id").orderBy(
                (F.col("peak") - F.col("bal")).desc(), "event_id"
            )
        )
        .alias("rn"),
    )
    return (
        dd.filter(F.col("rn") == 1)
        .select(
            "user_id",
            "drawdown_cents",
            "peak_cents",
            F.col("event_id").alias("trough_event_id"),
        )
        .orderBy(F.col("drawdown_cents").desc(), "user_id")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Page–Hinkley drift detection
# ---------------------------------------------------------------------------


PH_LAMBDA_MICRO = 20_000_000  # Page-Hinkley alarm threshold: 20 events


@register(
    "events_page_hinkley",
    doc="Page–Hinkley drift detector per event type over the "
    "daily-volume series: running mean in truncated micro "
    "((S_t * 1e6) DIV t), deviations accumulated to U_t, PH_t = U_t - "
    "min_{i<=t} U_i, alarm when PH exceeds the declared lambda "
    f"({PH_LAMBDA_MICRO // 1_000_000} events). Reports per type the "
    "max PH, alarm-day count and first alarm day. Delta margin 0 "
    "(declared). All windows partition by event_type over the day "
    "grid.",
    oracle=f"""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS v
    FROM events GROUP BY 1, 2
),
seq AS (
    SELECT event_type, day, v,
           SUM(v) OVER (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s,
           CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
                AS BIGINT) AS tt
    FROM daily
),
dev AS (
    SELECT event_type, day,
           CAST(v * 1000000 - (s * 1000000) // tt AS BIGINT) AS d
    FROM seq
),
cum AS (
    SELECT event_type, day,
           SUM(d) OVER (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS u
    FROM dev
),
ph AS (
    SELECT event_type, day,
           u - MIN(u) OVER (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph
    FROM cum
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(MAX(ph) AS BIGINT) AS max_ph_micro,
       CAST(COUNT(*) FILTER (WHERE ph > {PH_LAMBDA_MICRO}) AS BIGINT)
           AS n_alarm_days,
       STRFTIME(MIN(day) FILTER (WHERE ph > {PH_LAMBDA_MICRO}), '%Y-%m-%d')
           AS first_alarm_day
FROM ph GROUP BY 1 ORDER BY 1
""",
)
def events_page_hinkley(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        bigint(F.count(F.lit(1))).alias("v")
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_rn = Window.partitionBy("event_type").orderBy("day")
    seq = daily.select(
        "event_type",
        "day",
        "v",
        F.sum("v").over(w_cum).alias("s"),
        F.row_number().over(w_rn).cast("long").alias("tt"),
    )
    dev = seq.select(
        "event_type",
        "day",
        F.expr("CAST(v * 1000000 - (s * 1000000) DIV tt AS BIGINT)").alias("d"),
    )
    cum = dev.select(
        "event_type", "day", F.sum("d").over(w_cum).alias("u")
    )
    ph = cum.select(
        "event_type",
        "day",
        (F.col("u") - F.min("u").over(w_cum)).alias("ph"),
    )
    alarm = F.col("ph") > PH_LAMBDA_MICRO
    return (
        ph.groupBy("event_type")
        .agg(
            bigint(F.count(F.lit(1))).alias("n_days"),
            bigint(F.max("ph")).alias("max_ph_micro"),
            _csum(alarm).alias("n_alarm_days"),
            F.date_format(
                F.min(F.when(alarm, F.col("day"))), "yyyy-MM-dd"
            ).alias("first_alarm_day"),
        )
        .orderBy("event_type")
    )
