"""Round-9 wave — multi-touch attribution models over the events log
(extending events_attribution_touch's first/last-touch window audit
with the weighted models marketing/growth pipelines actually ship):

- ``events_attribution_time_decay``: every click/view touch in the 7
  days before a purchase earns weight 2^(-days_gap) (exact dyadic
  micro integers — 1e6 >> gap), normalized to a 1e6-credit budget per
  purchase by truncating division; per-channel raw weight and
  normalized credit.
- ``events_attribution_position_u``: U-shaped (40/20/40) position
  attribution — first and last touch take 400000 micro each, middles
  split the 200000 remainder by truncating division (n=1 takes the
  full 1e6, n=2 splits 50/50); per-channel role counts and credit.

Reference scope: declared aggregates over the ``events`` table per
SURVEY §2B.

Determinism: weights are dyadic integers (shift-right of 1e6); the
only divisions are truncating DIV //; position ties order by
(timestamp, channel) — two same-channel ties straddling a role
boundary move credit within the same channel, so channel totals stay
deterministic.

Scale (100 TB): the touch join is per-user (purchases x prior touches
within 7 days, bounded by per-user activity in the window) and
shuffles once on user_id; everything downstream is
map-side-combinable rollups on the tiny (purchase, touch) credit
frame.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from cascade_spark.operators._util import barrier, bigint, t
from cascade_spark.plans.registry import register

ATTR_WINDOW_DAYS = 7
US_PER_DAY = 86_400 * 1_000_000
CREDIT = 1_000_000

_SQL_TOUCH_JOIN = f"""
p AS (
    SELECT event_id, user_id, EPOCH_US(ts) AS pus
    FROM events WHERE event_type = 'purchase'
),
tch AS (
    SELECT user_id, event_type AS channel, EPOCH_US(ts) AS tus
    FROM events WHERE event_type IN ('click', 'view')
),
j AS (
    SELECT p.event_id, tch.channel, tch.tus,
           CAST((p.pus - tch.tus) // {US_PER_DAY} AS BIGINT) AS gap_days
    FROM p JOIN tch ON tch.user_id = p.user_id
     AND tch.tus < p.pus
     AND p.pus - tch.tus <= {ATTR_WINDOW_DAYS} * CAST({US_PER_DAY} AS BIGINT)
)
"""


def _touch_join(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.unix_micros("ts").alias("pus")
    )
    tch = ev.filter(F.col("event_type").isin("click", "view")).select(
        "user_id",
        F.col("event_type").alias("channel"),
        F.unix_micros("ts").alias("tus"),
    )
    return (
        p.join(tch, "user_id")
        .filter(
            (F.col("tus") < F.col("pus"))
            & (
                F.col("pus") - F.col("tus")
                <= ATTR_WINDOW_DAYS * F.lit(US_PER_DAY)
            )
        )
        .select(
            "event_id",
            "channel",
            "tus",
            F.expr(f"CAST((pus - tus) DIV {US_PER_DAY} AS BIGINT)").alias(
                "gap_days"
            ),
        )
    )


@register(
    "events_attribution_time_decay",
    doc=f"Time-decay multi-touch attribution: click/view touches within "
    f"{ATTR_WINDOW_DAYS} days before each purchase earn weight "
    "2^(-days_gap) in exact dyadic micro units (1e6 >> gap), then each "
    "purchase's 1e6-credit budget splits by truncating division "
    "(credit = w*1e6 DIV sum_w). Per channel: touch count, raw weight "
    "mass, normalized credit mass; the attributed-purchase count rides "
    "along — the recency-weighted answer to 'which channel drives "
    "conversions'.",
    oracle=f"""
WITH {_SQL_TOUCH_JOIN},
w AS (
    SELECT event_id, channel,
           CAST({CREDIT} // (1 << gap_days) AS BIGINT) AS w
    FROM j
),
sw AS (
    SELECT event_id, CAST(SUM(w) AS BIGINT) AS sw FROM w GROUP BY 1
),
credit AS (
    SELECT w.channel, w.w,
           CAST((w.w * {CREDIT}) // sw.sw AS BIGINT) AS credit
    FROM w JOIN sw ON sw.event_id = w.event_id
),
npa AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_attributed FROM sw)
SELECT c.channel,
       CAST(COUNT(*) AS BIGINT) AS n_touches,
       CAST(SUM(c.w) AS BIGINT) AS raw_weight_micro,
       CAST(SUM(c.credit) AS BIGINT) AS credit_micro,
       npa.n_attributed
FROM credit c, npa
GROUP BY c.channel, npa.n_attributed
ORDER BY c.channel
""",
)
def events_attribution_time_decay(spark, sf_dir):
    j = _touch_join(spark, sf_dir)
    # w is referenced twice (the per-purchase sum + the credit join) and
    # sw twice (credit + the attributed count): without barriers each
    # reference re-runs the purchase x touch join
    w = j.select(
        "event_id",
        "channel",
        F.expr(f"CAST({CREDIT} DIV (1 << gap_days) AS BIGINT)").alias("w"),
    ).transform(barrier)
    sw = w.groupBy("event_id").agg(bigint(F.sum("w")).alias("sw")).transform(barrier)
    credit = w.join(sw, "event_id").select(
        "channel",
        "w",
        F.expr(f"CAST((w * {CREDIT}) DIV sw AS BIGINT)").alias("credit"),
    )
    npa = sw.agg(bigint(F.count(F.lit(1))).alias("n_attributed"))
    return (
        credit.crossJoin(F.broadcast(npa))
        .groupBy("channel", "n_attributed")
        .agg(
            bigint(F.count(F.lit(1))).alias("n_touches"),
            bigint(F.sum("w")).alias("raw_weight_micro"),
            bigint(F.sum("credit")).alias("credit_micro"),
        )
        .select(
            "channel",
            "n_touches",
            "raw_weight_micro",
            "credit_micro",
            "n_attributed",
        )
        .orderBy("channel")
    )


@register(
    "events_attribution_position_u",
    doc="U-shaped (40/20/40) position attribution over the same 7-day "
    "touch window: per purchase, touches order by (timestamp, "
    "channel); first and last earn 400000 micro each, middles split "
    "200000 by truncating division, n=1 takes the full 1e6 and n=2 "
    "splits 500000/500000 — per channel the first/last/middle role "
    "counts and total credit. Same-channel order ties only move "
    "credit within the channel, so totals stay deterministic.",
    oracle=f"""
WITH {_SQL_TOUCH_JOIN},
ordd AS (
    SELECT event_id, channel,
           ROW_NUMBER() OVER pw AS rn,
           COUNT(*) OVER (PARTITION BY event_id) AS n
    FROM j
    WINDOW pw AS (PARTITION BY event_id ORDER BY tus, channel)
),
credit AS (
    SELECT channel,
           CASE WHEN n = 1 THEN 'solo'
                WHEN rn = 1 THEN 'first'
                WHEN rn = n THEN 'last'
                ELSE 'middle' END AS role,
           CAST(CASE WHEN n = 1 THEN {CREDIT}
                     WHEN n = 2 THEN {CREDIT} // 2
                     WHEN rn = 1 OR rn = n THEN 400000
                     ELSE 200000 // (n - 2) END AS BIGINT) AS credit
    FROM ordd
)
SELECT channel,
       CAST(COUNT(*) FILTER (WHERE role IN ('first', 'solo')) AS BIGINT)
           AS n_first,
       CAST(COUNT(*) FILTER (WHERE role = 'last') AS BIGINT) AS n_last,
       CAST(COUNT(*) FILTER (WHERE role = 'middle') AS BIGINT) AS n_middle,
       CAST(SUM(credit) AS BIGINT) AS credit_micro
FROM credit
GROUP BY channel
ORDER BY channel
""",
)
def events_attribution_position_u(spark, sf_dir):
    from cascade_spark.operators.inference_extra import _csum

    j = _touch_join(spark, sf_dir)
    pw = Window.partitionBy("event_id").orderBy("tus", "channel")
    nw = Window.partitionBy("event_id")
    ordd = j.select(
        "event_id",
        "channel",
        F.row_number().over(pw).alias("rn"),
        F.count(F.lit(1)).over(nw).alias("n"),
    )
    credit = ordd.select(
        "channel",
        F.when(F.col("n") == 1, F.lit("solo"))
        .when(F.col("rn") == 1, F.lit("first"))
        .when(F.col("rn") == F.col("n"), F.lit("last"))
        .otherwise(F.lit("middle"))
        .alias("role"),
        F.expr(
            f"CAST(CASE WHEN n = 1 THEN {CREDIT}"
            f" WHEN n = 2 THEN {CREDIT} DIV 2"
            f" WHEN rn = 1 OR rn = n THEN 400000"
            f" ELSE 200000 DIV (n - 2) END AS BIGINT)"
        ).alias("credit"),
    )
    return (
        credit.groupBy("channel")
        .agg(
            _csum(F.col("role").isin("first", "solo")).alias("n_first"),
            _csum(F.col("role") == "last").alias("n_last"),
            _csum(F.col("role") == "middle").alias("n_middle"),
            bigint(F.sum("credit")).alias("credit_micro"),
        )
        .orderBy("channel")
    )
