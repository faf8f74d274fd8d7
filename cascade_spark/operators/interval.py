"""Interval-overlap self-join — the interval x interval join class.

``join_range_bucketed`` handles point-in-interval; this operator joins
INTERVALS to INTERVALS: which users' activity sessions overlapped in
time. A naive overlap join is a nested-loop cross product; the scale
shape is bucket blocking — each session explodes into the hour buckets
it covers, candidates equi-join on the bucket (hash join), the exact
overlap predicate runs as a residual filter, and bucket-induced
duplicate candidate pairs collapse with one distinct before the
aggregate.

Cost at 100 TB: candidates are quadratic only within an hour bucket of
concurrently-active sessions, linear across buckets — the same bound
class as the LSH band join in dedup.py, and like it the degenerate-hour
guard is a per-bucket admission cap (OVERLAP_BUCKET_CAP, enforced
below and mirrored in the oracle) so one pathological hour can never
make a single join key quadratic in the corpus.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from cascade_spark import store
from cascade_spark.plans.registry import register
from cascade_spark.operators._util import barrier, bigint, t

_GAP_MIN = 45  # inactivity gap; bounds session span (and with it the
# number of concurrently-active sessions per hour bucket — the quantity
# that drives candidate-join cost)

# Hour-bucket admission cap — part of the declared semantics (same
# pattern as SIMHASH_BUCKET_CAP in dedup.py): the candidate self-join is
# quadratic WITHIN a bucket, and bucket size = concurrently-active
# sessions in that hour, which is unbounded at 100 TB (a flash-crowd
# hour). Buckets above the cap are dropped from candidate generation —
# session pairs that co-occur ONLY in over-capped hours are not
# reported. 2048² ≈ 4M comparisons is the per-bucket worst case; both
# test scales stay far below it (max active: 28 at sf0.01, 166 at
# sf0.1), so capped output is identical there. Oversized hours are
# observable via the profile_overlap_buckets declared query. Applied
# identically in every oracle that derives from the pair frame
# (join_interval_overlap, graph_triangle_count, graph_link_prediction).
OVERLAP_BUCKET_CAP = 2048


def _sessions(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    flagged = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.when(
            prev.isNull() | (F.col("ts") > prev + F.expr(f"INTERVAL {_GAP_MIN} MINUTES")),
            1,
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    sess = flagged.select(
        "user_id",
        "ts",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("sidx"),
    )
    return sess.groupBy("user_id", "sidx").agg(
        F.min("ts").alias("start_ts"), F.max("ts").alias("end_ts")
    )


# Shared oracle CTE chain: sessions -> hour buckets -> capped buckets
# -> distinct overlapping session pairs. Mirrors _build_pairs exactly
# (including OVERLAP_BUCKET_CAP) and is reused by the graph oracles in
# graph.py, which derive their co-activity edges from the same frame.
_SQL_OVERLAP_PAIRS = f"""
gaps AS (
    SELECT user_id, event_id, ts,
           CASE WHEN LAG(ts) OVER w IS NULL
                  OR ts > LAG(ts) OVER w + INTERVAL {_GAP_MIN} MINUTE
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
sess AS MATERIALIZED (
    SELECT user_id, sidx, MIN(ts) AS start_ts, MAX(ts) AS end_ts
    FROM sess0 GROUP BY user_id, sidx
),
bucketed AS (
    SELECT user_id, sidx, start_ts, end_ts,
           UNNEST(GENERATE_SERIES(DATE_TRUNC('hour', start_ts),
                                  DATE_TRUNC('hour', end_ts),
                                  INTERVAL 1 HOUR)) AS bucket
    FROM sess
),
capped AS MATERIALIZED (
    SELECT * FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY bucket) AS n_active
        FROM bucketed
    ) WHERE n_active <= {OVERLAP_BUCKET_CAP}
),
opairs AS MATERIALIZED (
    SELECT DISTINCT a.user_id AS user_a, a.sidx AS sidx_a,
                    b.user_id AS user_b, b.sidx AS sidx_b
    FROM capped a JOIN capped b ON a.bucket = b.bucket
    WHERE a.user_id < b.user_id
      AND a.start_ts <= b.end_ts AND b.start_ts <= a.end_ts
)
"""


@register(
    "join_interval_overlap",
    "joins",
    doc=f"Interval-overlap self-join: gap-based sessions ({_GAP_MIN}-min "
    "gap) from different users that overlap in time, counted per user "
    "pair (top-100 by overlap count). Blocked by hour buckets: each "
    "session explodes into its covered hours, candidates hash-join on "
    "the bucket, the exact closed-interval overlap predicate is a "
    "residual filter, and multi-bucket duplicates collapse via one "
    f"distinct. Buckets above OVERLAP_BUCKET_CAP={OVERLAP_BUCKET_CAP} "
    "active sessions are dropped before the quadratic stage (declared "
    "semantics, mirrored in the oracle).",
    oracle=f"""
WITH {_SQL_OVERLAP_PAIRS}
SELECT user_a, user_b, COUNT(*) AS n_overlaps
FROM opairs
GROUP BY 1, 2
ORDER BY n_overlaps DESC, user_a, user_b
LIMIT 100
""",
)
def join_interval_overlap(spark, sf_dir):
    pairs = _overlap_pairs(spark, sf_dir)
    return (
        pairs.groupBy("user_a", "user_b")
        .agg(bigint(F.count(F.lit(1))).alias("n_overlaps"))
        .orderBy(F.col("n_overlaps").desc(), "user_a", "user_b")
        .limit(100)
    )


def _overlap_pairs(spark, sf_dir):
    """Distinct overlapping session pairs (user_a < user_b), blocked by
    hour buckets. Persisted per (app, sf_dir): the overlap join and the
    graph queries built on it (triangle counting) share one build."""

    return store.frame("interval.overlap_pairs", spark, sf_dir, lambda: _build_pairs(spark, sf_dir))


def _build_pairs(spark, sf_dir):
    sess = _sessions(spark, sf_dir)
    bucketed = sess.select(
        "user_id",
        "sidx",
        "start_ts",
        "end_ts",
        F.explode(
            F.sequence(
                F.date_trunc("hour", "start_ts"),
                F.date_trunc("hour", "end_ts"),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("bucket"),
    )
    # Bucket-size admission via a window count over the SAME bucket key
    # the self-join shuffles on (no extra join — the count rides the
    # join's hash partitioning); oversized hours never reach the
    # quadratic stage. Mirrored in _SQL_OVERLAP_PAIRS.
    bucketed = (
        bucketed.withColumn(
            "n_active", F.count(F.lit(1)).over(Window.partitionBy("bucket"))
        )
        .filter(F.col("n_active") <= OVERLAP_BUCKET_CAP)
        .drop("n_active")
    )
    # both self-join sides read this frame: without a barrier each side
    # re-runs the events scan -> sessionize windows -> hour explode ->
    # bucket-count window chain (2x the build's heavy half). The lazy
    # checkpoint materializes it once; the blocks are already hash-
    # partitioned by bucket from the window exchange.
    bucketed = bucketed.transform(barrier)
    a = bucketed.select(
        F.col("user_id").alias("user_a"),
        F.col("sidx").alias("sidx_a"),
        F.col("start_ts").alias("start_a"),
        F.col("end_ts").alias("end_a"),
        "bucket",
    )
    b = bucketed.select(
        F.col("user_id").alias("user_b"),
        F.col("sidx").alias("sidx_b"),
        F.col("start_ts").alias("start_b"),
        F.col("end_ts").alias("end_b"),
        "bucket",
    )
    return (
        a.join(b, "bucket")
        .filter(
            (F.col("user_a") < F.col("user_b"))
            & (F.col("start_a") <= F.col("end_b"))
            & (F.col("start_b") <= F.col("end_a"))
        )
        # a session pair sharing several hour buckets must count once
        .select("user_a", "sidx_a", "user_b", "sidx_b")
        .distinct()
    )


@register(
    "profile_overlap_buckets",
    "profiling",
    doc="Blocking-health audit for the interval-overlap join (the same "
    "observability pattern as profile_simhash_buckets): per-hour-bucket "
    "active-session counts summarized as a distribution — bucket count, "
    "max/mean active sessions, the implied candidate-pair total "
    "(sum of n*(n-1)/2), and the buckets/memberships the "
    f"OVERLAP_BUCKET_CAP={OVERLAP_BUCKET_CAP} admission drops. This is "
    "the pre-flight that makes the cap's effect observable before the "
    "quadratic-within-bucket join runs at full scale.",
    oracle=f"""
WITH gaps AS (
    SELECT user_id, event_id, ts,
           CASE WHEN LAG(ts) OVER w IS NULL
                  OR ts > LAG(ts) OVER w + INTERVAL {_GAP_MIN} MINUTE
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
expanded AS (
    SELECT UNNEST(GENERATE_SERIES(DATE_TRUNC('hour', start_ts),
                                  DATE_TRUNC('hour', end_ts),
                                  INTERVAL 1 HOUR)) AS bucket
    FROM sess
),
per_bucket AS (
    SELECT bucket, COUNT(*) AS n_active FROM expanded GROUP BY bucket
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(MAX(n_active) AS BIGINT) AS max_active,
       CAST(SUM(n_active) AS BIGINT) AS total_memberships,
       CAST(SUM(n_active * (n_active - 1) / 2) AS BIGINT) AS candidate_pairs,
       CAST(COALESCE(COUNT(*) FILTER (WHERE n_active > {OVERLAP_BUCKET_CAP}), 0)
            AS BIGINT) AS n_over_cap,
       CAST(COALESCE(SUM(n_active) FILTER (WHERE n_active > {OVERLAP_BUCKET_CAP}), 0)
            AS BIGINT) AS dropped_memberships
FROM per_bucket
""",
)
def profile_overlap_buckets(spark, sf_dir):
    sess = _sessions(spark, sf_dir)
    expanded = sess.select(
        F.explode(
            F.sequence(
                F.date_trunc("hour", "start_ts"),
                F.date_trunc("hour", "end_ts"),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("bucket")
    )
    per_bucket = expanded.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_active"))
    over = F.col("n_active") > OVERLAP_BUCKET_CAP
    return per_bucket.agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.max("n_active").cast("long").alias("max_active"),
        F.sum("n_active").cast("long").alias("total_memberships"),
        F.sum(F.col("n_active") * (F.col("n_active") - 1) / 2).cast("long").alias("candidate_pairs"),
        F.coalesce(F.sum(F.when(over, 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("n_over_cap"),
        F.coalesce(F.sum(F.when(over, F.col("n_active")).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("dropped_memberships"),
    )
