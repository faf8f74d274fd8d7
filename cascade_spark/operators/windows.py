"""Window-function operators (SURVEY.md §2B Window functions).

Every window here partitions by a real key (user/customer) — at 100 TB a
window is exactly one shuffle on its partition key and streams within the
partition; an unpartitioned window would serialize on one task (the
reference's global offset counter, src/broker/main.rs:97, is the analog —
see operators/ingest.py for the scalable two-phase form).

Window order keys always include a unique tiebreaker (event_id /
orderkey) so rank/lag results are deterministic on both engines.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from cascade_spark.plans.registry import register
from cascade_spark.operators._util import avg_round, d2, dec, sql_avg_round, t


@register(
    "window_ranking",
    doc="row_number / rank / dense_rank / ntile per customer over order "
    "price (offset assignment ≡ row_number over arrival order, "
    "src/broker/main.rs:97).",
    oracle="""
SELECT o_custkey, o_orderkey,
       ROW_NUMBER() OVER w AS rn,
       RANK() OVER w AS rnk,
       DENSE_RANK() OVER w AS drnk,
       CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
       ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
       ROUND(CUME_DIST() OVER w, 6) AS cume
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
ORDER BY o_custkey, rn
""",
)
def window_ranking(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    ).orderBy("o_custkey", "rn")


@register(
    "window_lag_lead",
    doc="lag/lead per user over event time — the reference's next-index "
    "lookup (src/broker/main.rs:148-156) is lead(offset).",
    oracle="""
SELECT user_id, event_id,
       LAG(event_id) OVER w AS prev_event,
       LEAD(event_id) OVER w AS next_event,
       COALESCE(CAST(DATE_DIFF('second', LAG(ts) OVER w, ts) AS BIGINT), -1) AS secs_since_prev
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY user_id, event_id
""",
)
def window_lag_lead(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.lag("event_id").over(w).alias("prev_event"),
        F.lead("event_id").over(w).alias("next_event"),
        F.coalesce(
            (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))).cast("long"),
            F.lit(-1).cast("long"),
        ).alias("secs_since_prev"),
    ).orderBy("user_id", "event_id")


@register(
    "window_frames",
    doc="Frame specs: running (unbounded-preceding) decimal sum and a "
    "5-row moving average per user.",
    oracle=f"""
SELECT user_id, event_id,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(12,4)))
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS running_value,
       {sql_avg_round(
           "SUM(CAST(value AS DECIMAL(12,4))) OVER w5",
           2,
           "COUNT(*) OVER w5",
       )} AS moving_avg
FROM events
WINDOW w5 AS (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
ORDER BY user_id, event_id
""",
)
def window_frames(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    running = w.rowsBetween(Window.unboundedPreceding, 0)
    moving = w.rowsBetween(-4, 0)
    return ev.select(
        "user_id",
        "event_id",
        d2(F.sum(dec("value")).over(running)).alias("running_value"),
        avg_round(F.sum(dec("value")).over(moving), F.count(F.lit(1)).over(moving), 2).alias(
            "moving_avg"
        ),
    ).orderBy("user_id", "event_id")


@register(
    "window_time_range_frame",
    doc="Time-interval frame: trailing 1-hour event count + decimal sum "
    "per user (RANGE over event-time, not row count — the frame every "
    "rate-limit / rolling-exposure query needs). Spark expresses the "
    "interval as rangeBetween on unix_micros; peers at the boundary are "
    "value-defined, so both engines agree row-for-row.",
    oracle="""
SELECT user_id, event_id,
       CAST(COUNT(*) OVER w1h AS BIGINT) AS n_1h,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(12,4))) OVER w1h, 2) AS DOUBLE) AS sum_1h
FROM events
WINDOW w1h AS (PARTITION BY user_id ORDER BY ts
               RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
ORDER BY user_id, event_id
""",
)
def window_time_range_frame(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w).cast("long").alias("n_1h"),
        d2(F.sum(dec("value")).over(w)).alias("sum_1h"),
    ).orderBy("user_id", "event_id")


@register(
    "window_distribution_functions",
    doc="Distribution window functions — percent_rank / cume_dist / "
    "ntile over supplier account balances per nation. Both relative "
    "ranks are exact rationals over small integers, so they are "
    "projected to floor basis points with integer arithmetic "
    "(10000*(rank-1) DIV (n-1), 10000*cume_rank DIV n) instead of "
    "engine-rounded doubles — hash-exact. One shuffle on the nation "
    "partition key; per-partition state is the rank counter.",
    oracle="""
WITH r AS (
    SELECT s_nationkey, s_suppkey,
           CAST(s_acctbal AS DECIMAL(12,4)) AS bal,
           RANK() OVER w AS rk,
           COUNT(*) OVER (PARTITION BY s_nationkey) AS n,
           CAST(COUNT(*) FILTER (WHERE TRUE)
                OVER (PARTITION BY s_nationkey ORDER BY CAST(s_acctbal AS DECIMAL(12,4)), s_suppkey
                      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cume_n,
           NTILE(4) OVER w AS quartile
    FROM supplier
    WINDOW w AS (PARTITION BY s_nationkey ORDER BY CAST(s_acctbal AS DECIMAL(12,4)), s_suppkey)
)
SELECT CAST(s_nationkey AS BIGINT) AS nationkey,
       CAST(s_suppkey AS BIGINT) AS suppkey,
       CAST(CASE WHEN n > 1 THEN (10000 * (rk - 1)) // (n - 1) ELSE 0 END AS BIGINT)
           AS pct_rank_bp,
       CAST((10000 * cume_n) // n AS BIGINT) AS cume_dist_bp,
       CAST(quartile AS BIGINT) AS quartile
FROM r
ORDER BY nationkey, suppkey
""",
)
def window_distribution_functions(spark, sf_dir):
    from cascade_spark.operators._util import _intdiv

    s = t(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(dec("s_acctbal"), F.col("s_suppkey"))
    nw = Window.partitionBy("s_nationkey")
    r = s.select(
        F.col("s_nationkey").cast("long").alias("nationkey"),
        F.col("s_suppkey").cast("long").alias("suppkey"),
        F.rank().over(w).alias("rk"),
        F.count(F.lit(1)).over(nw).alias("n"),
        F.count(F.lit(1))
        .over(w.rangeBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cume_n"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )
    return r.select(
        "nationkey",
        "suppkey",
        F.when(
            F.col("n") > 1, _intdiv(F.lit(10000) * (F.col("rk") - 1), F.col("n") - 1)
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("pct_rank_bp"),
        _intdiv(F.lit(10000) * F.col("cume_n"), F.col("n")).alias("cume_dist_bp"),
        "quartile",
    ).orderBy("nationkey", "suppkey")


@register(
    "window_running_distinct",
    doc="Running COUNT(DISTINCT) rewrite: Spark (like most engines) "
    "rejects DISTINCT aggregates over a running window frame, so the "
    "canonical rewrite marks each (user, event_type)'s FIRST day and "
    "cumulative-sums the first-occurrence flags along the per-user day "
    "spine — one extra aggregate instead of an O(frame) distinct per "
    "row. Output: per (user, active day) the number of distinct event "
    "types seen so far. Both windows partition by user_id (a real key; "
    "never a global frame), days carry a unique order.",
    oracle="""
WITH firsts AS (
    SELECT user_id, event_type, MIN(CAST(ts AS DATE)) AS first_day
    FROM events GROUP BY user_id, event_type
),
days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
new_per_day AS (
    SELECT d.user_id, d.day, COUNT(f.event_type) AS n_new
    FROM days d
    LEFT JOIN firsts f ON f.user_id = d.user_id AND f.first_day = d.day
    GROUP BY d.user_id, d.day
)
SELECT user_id,
       STRFTIME(day, '%Y-%m-%d') AS day,
       CAST(SUM(n_new) OVER (PARTITION BY user_id ORDER BY day
                             ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS distinct_types_to_date
FROM new_per_day
ORDER BY user_id, day
""",
)
def window_running_distinct(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id", "event_type").agg(
        F.min(F.to_date("ts")).alias("first_day")
    )
    days = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    new_per_day = (
        days.join(
            firsts,
            (days["user_id"] == firsts["user_id"])
            & (firsts["first_day"] == days["day"]),
            "left",
        )
        .groupBy(days["user_id"], days["day"])
        .agg(F.count("event_type").alias("n_new"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return new_per_day.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.sum("n_new").over(w).cast("long").alias("distinct_types_to_date"),
    ).orderBy("user_id", "day")


RM_FRAME = 7  # rolling frame: current row + 6 preceding


@register(
    "window_rolling_median",
    doc=f"Per-user rolling EXACT median of the last {RM_FRAME} event "
    "values (cents): collect_list over a bounded ROWS frame + "
    "array_sort + element_at — the discrete lower median, all JVM-side "
    "array functions (no Python, no global sort; the frame is O(k) per "
    "row so state is bounded regardless of history length — the shape "
    "a rolling-quantile monitor uses at stream scale). Ordered by "
    "(ts, event_id) so the frame contents are total-order "
    "deterministic. DuckDB mirrors with QUANTILE_DISC over the same "
    "frame.",
    oracle=f"""
WITH c AS (
    SELECT user_id, ts, event_id,
           CAST(CAST(value AS DECIMAL(12,4)) * 100 AS BIGINT) AS cents
    FROM events
),
r AS (
    SELECT user_id, ts, event_id, cents,
           CAST(QUANTILE_DISC(cents, 0.5) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN {RM_FRAME - 1} PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS med,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
    FROM c
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(rn AS BIGINT) AS rn,
       cents, med
FROM r
WHERE user_id % 100 = 0
ORDER BY user_id, rn
""",
)
def window_rolling_median(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    c = ev.select(
        "user_id",
        "ts",
        "event_id",
        (F.col("value").cast("decimal(12,4)") * 100).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(RM_FRAME - 1), 0)
    )
    wn = Window.partitionBy("user_id").orderBy("ts", "event_id")
    arr = F.array_sort(F.collect_list("cents").over(w))
    # discrete LOWER median of k elements = element (k+1)//2 (1-based) —
    # matches DuckDB's QUANTILE_DISC(0.5) on both parities
    med = F.element_at(arr, ((F.size(arr) + 1) / 2).cast("int"))
    return (
        c.select(
            F.col("user_id").cast("long").alias("user_id"),
            F.row_number().over(wn).cast("long").alias("rn"),
            "cents",
            med.cast("long").alias("med"),
        )
        .filter(F.col("user_id") % 100 == 0)
        .orderBy("user_id", "rn")
    )
