"""Batch sessionization — gap-based session assignment over the events
stream (the batch mirror of streaming ``session_window``; reference has
only the raw event log, SURVEY.md §2A R1/R2).

The classic two-window construction: flag rows whose gap to the previous
event (per user) exceeds the threshold, then a running sum of flags
yields the session index. Both windows share one shuffle on user_id —
Catalyst plans a single Exchange followed by two WindowExecs over the
same sort order, and the per-session aggregate reuses the same
partitioning. At 100 TB this is the canonical "one shuffle, then
sorted-run processing" pattern; no driver-side state.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from cascade_spark.plans.registry import register
from cascade_spark.operators._util import barrier, bigint, t

GAP_MIN = 30


@register(
    "events_sessionize_gap",
    doc=f"Gap-based sessionization ({GAP_MIN}-minute inactivity gap): "
    "lag + cumulative-flag-sum windows per user, then per-session "
    "aggregate — event count, start, duration, peak value.",
    oracle=f"""
WITH gaps AS (
    SELECT user_id, event_id, ts, value,
           CASE WHEN LAG(ts) OVER w IS NULL
                  OR ts > LAG(ts) OVER w + INTERVAL {GAP_MIN} MINUTE
                THEN 1 ELSE 0 END AS new_sess
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
    SELECT user_id, ts, value,
           SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_idx
    FROM gaps
)
SELECT user_id,
       CAST(session_idx AS BIGINT) AS session_idx,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       CAST(DATE_DIFF('second', MIN(ts), MAX(ts)) AS BIGINT) AS duration_s,
       MAX(value) AS max_value
FROM sess
GROUP BY user_id, session_idx
ORDER BY user_id, session_idx
""",
)
def events_sessionize_gap(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    flagged = ev.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.when(
            prev.isNull() | (F.col("ts") > prev + F.expr(f"INTERVAL {GAP_MIN} MINUTES")),
            1,
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    sess = flagged.select(
        "user_id",
        "ts",
        "value",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("session_idx"),
    )
    return (
        sess.groupBy("user_id", bigint(F.col("session_idx")).alias("session_idx"))
        .agg(
            bigint(F.count(F.lit(1))).alias("n_events"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts")))
            .cast("long")
            .alias("duration_s"),
            F.max("value").alias("max_value"),
        )
        .orderBy("user_id", "session_idx")
    )


@register(
    "events_peak_concurrency",
    doc=f"Peak concurrent sessions via the sweep line: {GAP_MIN}-min gap "
    "sessions become (+1 at start, -1 just after end — closed "
    "intervals via a 1-microsecond exclusive edge) delta points, "
    "net-aggregated per distinct instant, then a RUNNING SUM in time "
    "order gives the occupancy curve; the answer is its max and the "
    "earliest instant achieving it. The running sum uses the two-phase "
    "range-partition prefix sum (ingest.assign_prefix_sum) — the raw "
    "curve NEVER enters a single-task global window, so the sweep "
    "scales to any activity volume. Output in exact epoch-µs.",
    oracle=f"""
WITH gaps AS (
    SELECT user_id, event_id, ts,
           CASE WHEN LAG(ts) OVER w IS NULL
                  OR ts > LAG(ts) OVER w + INTERVAL {GAP_MIN} MINUTE
                THEN 1 ELSE 0 END AS new_sess
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess0 AS (
    SELECT user_id, ts,
           SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sidx
    FROM gaps
),
sess AS (
    SELECT user_id, sidx, MIN(ts) AS start_ts, MAX(ts) AS end_ts
    FROM sess0 GROUP BY user_id, sidx
),
pts AS (
    SELECT start_ts AS pt, 1 AS delta FROM sess
    UNION ALL
    SELECT end_ts + INTERVAL 1 MICROSECOND, -1 FROM sess
),
net AS (SELECT pt, CAST(SUM(delta) AS BIGINT) AS net FROM pts GROUP BY pt),
curve AS (
    SELECT pt, SUM(net) OVER (ORDER BY pt ROWS UNBOUNDED PRECEDING) AS conc
    FROM net
),
peak AS (SELECT MAX(conc) AS peak FROM curve)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM sess) AS n_sessions,
       CAST(p.peak AS BIGINT) AS peak_concurrency,
       CAST(MIN(EPOCH_US(c.pt)) AS BIGINT) AS peak_at_us
FROM curve c, peak p
WHERE c.conc = p.peak
GROUP BY p.peak
""",
)
def events_peak_concurrency(spark, sf_dir):
    from cascade_spark.operators.ingest import assign_prefix_sum

    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    flagged = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.when(
            prev.isNull() | (F.col("ts") > prev + F.expr(f"INTERVAL {GAP_MIN} MINUTES")),
            1,
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    sess = (
        flagged.select(
            "user_id",
            "ts",
            F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("sidx"),
        )
        .groupBy("user_id", "sidx")
        .agg(F.min("ts").alias("start_ts"), F.max("ts").alias("end_ts"))
        # referenced 3x (both delta-point union sides + the session
        # count): evaluate the sessionize windows once
        .transform(barrier)
    )
    pts = sess.select(F.col("start_ts").alias("pt"), F.lit(1).alias("delta")).unionByName(
        sess.select(
            (F.col("end_ts") + F.expr("INTERVAL 1 MICROSECOND")).alias("pt"),
            F.lit(-1).alias("delta"),
        )
    )
    net = pts.groupBy("pt").agg(F.sum("delta").cast("long").alias("net"))
    # distinct instants only — then the exclusive two-phase prefix sum
    # (+ the instant's own net) is the inclusive occupancy, no global window
    curve = assign_prefix_sum(net, ["pt"], "net").select(
        "pt", (F.col("prefix_sum") + F.col("net")).alias("conc")
    # referenced twice (max-peak aggregate + the argmin probe): without
    # a barrier the whole sweep re-runs per reference
    ).transform(barrier)
    peak = curve.agg(F.max("conc").alias("peak"))
    n_sess = sess.agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
    return (
        curve.join(F.broadcast(peak), F.col("conc") == F.col("peak"))
        .agg(F.min(F.unix_micros("pt")).cast("long").alias("peak_at_us"),
             F.first("peak").cast("long").alias("peak_concurrency"))
        .crossJoin(F.broadcast(n_sess))
        .select("n_sessions", "peak_concurrency", "peak_at_us")
        # empty events: the ungrouped agg still emits one all-NULL row,
        # but the oracle's GROUP BY peak yields zero rows — drop it
        .filter(F.col("peak_concurrency").isNotNull())
    )


@register(
    "events_bounce_rate_by_entry",
    doc=f"Bounce analysis by session entry type ({GAP_MIN}-minute gap "
    "sessions, the events_sessionize_gap construction): per entry "
    "event type (first event of the session in (ts, event_id) order) — "
    "session count, single-event bounces, bounce rate in exact floor "
    "bp, and mean session length via exact integer division. Same "
    "single user-shuffle + sorted-run windows; the per-entry rollup is "
    "one combinable groupBy.",
    oracle=f"""
WITH gaps AS (
    SELECT user_id, event_id, ts, event_type,
           CASE WHEN LAG(ts) OVER w IS NULL
                  OR ts > LAG(ts) OVER w + INTERVAL {GAP_MIN} MINUTE
                THEN 1 ELSE 0 END AS new_sess
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
    SELECT user_id, event_id, ts, event_type,
           SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_idx
    FROM gaps
),
ranked AS (
    SELECT user_id, session_idx, event_type,
           ROW_NUMBER() OVER (PARTITION BY user_id, session_idx
                              ORDER BY ts, event_id) AS rn
    FROM sess
),
per_sess AS (
    SELECT user_id, session_idx,
           MAX(CASE WHEN rn = 1 THEN event_type END) AS entry_type,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM ranked GROUP BY user_id, session_idx
)
SELECT entry_type,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(COUNT(*) FILTER (WHERE n_events = 1) AS BIGINT) AS n_bounces,
       CAST((10000 * COUNT(*) FILTER (WHERE n_events = 1)) // COUNT(*)
            AS BIGINT) AS bounce_bp,
       CAST(SUM(n_events) // COUNT(*) AS BIGINT) AS mean_len_floor
FROM per_sess GROUP BY entry_type ORDER BY entry_type
""",
)
def events_bounce_rate_by_entry(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    flagged = ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.when(
            prev.isNull()
            | (F.col("ts") > prev + F.expr(f"INTERVAL {GAP_MIN} MINUTE")),
            1,
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    sess = flagged.withColumn(
        "session_idx",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per_sess = sess.groupBy("user_id", "session_idx").agg(
        F.min_by("event_type", F.struct("ts", "event_id")).alias("entry_type"),
        bigint(F.count(F.lit(1))).alias("n_events"),
    )
    return (
        per_sess.groupBy("entry_type")
        .agg(
            bigint(F.count(F.lit(1))).alias("n_sessions"),
            bigint(F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))).alias(
                "n_bounces"
            ),
            F.expr(
                "CAST((10000 * SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END))"
                " DIV COUNT(*) AS BIGINT)"
            ).alias("bounce_bp"),
            F.expr("CAST(SUM(n_events) DIV COUNT(*) AS BIGINT)").alias(
                "mean_len_floor"
            ),
        )
        .orderBy("entry_type")
    )
