"""As-of join — event enrichment with the most recent dimension state.

Spark has no native ASOF JOIN; the idiomatic composition (SURVEY.md §2B)
is the union+window trick:

1. union the "state" rows (orders) and the "probe" rows (events) into one
   stream keyed by (entity, time, kind) with kind ordering state *before*
   probe at equal timestamps — this realizes the inclusive ``ts >=
   state_ts`` match DuckDB's ASOF uses;
2. one window per entity: ``last(value, ignorenulls=True)`` over
   ``rowsBetween(unboundedPreceding, 0)`` carries the latest state onto
   every probe row;
3. keep the probe rows.

Scale: everything shuffles exactly once on the entity key (the window
partition); no global window, no per-row Python. State rows are
pre-deduplicated per (entity, ts) so ties are impossible on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cascade_spark.plans.registry import register
from cascade_spark.operators._util import t


def asof_join(
    probe: DataFrame,
    state: DataFrame,
    probe_on: str,
    state_on: str,
    probe_ts: str,
    state_ts: str,
    value_cols: list[str],
) -> DataFrame:
    """Left as-of join: for each probe row, attach ``value_cols`` from the
    state row with the greatest ``state_ts`` <= ``probe_ts`` (inclusive),
    matching ``probe_on == state_on``. State must be unique per
    (state_on, state_ts) — pre-aggregate if not."""
    state_types = dict(state.dtypes)
    probe_types = dict(probe.dtypes)
    p = probe.select(
        F.col(probe_on).alias("_k"),
        F.col(probe_ts).alias("_ts"),
        F.lit(1).alias("_kind"),
        *[F.lit(None).cast(state_types[c]).alias(c) for c in value_cols],
        *probe.columns,
    )
    s = state.select(
        F.col(state_on).alias("_k"),
        F.col(state_ts).alias("_ts"),
        F.lit(0).alias("_kind"),
        *[F.col(c) for c in value_cols],
        *[F.lit(None).cast(probe_types[c]).alias(c) for c in probe.columns],
    )
    u = p.unionByName(s)
    w = (
        Window.partitionBy("_k")
        .orderBy("_ts", "_kind")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    for c in value_cols:
        u = u.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return u.filter(F.col("_kind") == 1).drop("_k", "_ts", "_kind")


@register(
    "join_asof",
    doc="As-of join: each event picks up the customer's most recent order "
    "price at-or-before the event time (DuckDB oracle: native ASOF LEFT "
    "JOIN). Union+window composition — one shuffle on the entity key.",
    oracle="""
WITH o AS (
    SELECT o_custkey, o_orderdate, MAX(o_totalprice) AS last_order_price
    FROM orders GROUP BY o_custkey, o_orderdate
)
SELECT e.event_id, e.user_id, o.last_order_price
FROM events e ASOF LEFT JOIN o
  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
ORDER BY e.event_id
""",
)
def join_asof(spark, sf_dir):
    ev = t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_totalprice").alias("last_order_price"))
    )
    joined = asof_join(
        ev,
        orders,
        probe_on="user_id",
        state_on="o_custkey",
        probe_ts="ts",
        state_ts="o_orderdate",
        value_cols=["last_order_price"],
    )
    return joined.select("event_id", "user_id", "last_order_price").orderBy("event_id")


@register(
    "join_asof_forward",
    doc="Forward as-of join (merge_asof direction='forward'): each event "
    "picks the customer's NEXT order price at-or-after the event time — "
    "the lookahead enrichment used for label construction (what did the "
    "user do next?). Same union+window composition as join_asof with "
    "the window ordered descending, one shuffle on the entity key. "
    "Oracle: DuckDB native ASOF with the inequality reversed.",
    oracle="""
WITH o AS (
    SELECT o_custkey, o_orderdate, MAX(o_totalprice) AS next_order_price
    FROM orders GROUP BY o_custkey, o_orderdate
)
SELECT e.event_id, e.user_id, o.next_order_price
FROM events e ASOF LEFT JOIN o
  ON e.user_id = o.o_custkey AND e.ts <= o.o_orderdate
ORDER BY e.event_id
""",
)
def join_asof_forward(spark, sf_dir):
    ev = t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_totalprice").alias("next_order_price"))
    )
    state_types = dict(orders.dtypes)
    probe_types = dict(ev.dtypes)
    p = ev.select(
        F.col("user_id").alias("_k"),
        F.col("ts").cast("timestamp").alias("_ts"),
        F.lit(1).alias("_kind"),
        F.lit(None).cast(state_types["next_order_price"]).alias("next_order_price"),
        *ev.columns,
    )
    s = orders.select(
        F.col("o_custkey").alias("_k"),
        F.col("o_orderdate").cast("timestamp").alias("_ts"),
        F.lit(0).alias("_kind"),
        F.col("next_order_price"),
        *[F.lit(None).cast(probe_types[c]).alias(c) for c in ev.columns],
    )
    u = p.unionByName(s)
    # descending time + state-first at ties realizes the inclusive
    # state_ts >= probe_ts forward match
    w = (
        Window.partitionBy("_k")
        .orderBy(F.col("_ts").desc(), "_kind")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    u = u.withColumn(
        "next_order_price", F.last("next_order_price", ignorenulls=True).over(w)
    )
    return (
        u.filter(F.col("_kind") == 1)
        .select("event_id", "user_id", "next_order_price")
        .orderBy("event_id")
    )


ASOF_TOL_DAYS = 30


@register(
    "join_asof_tolerance",
    doc="Tolerance-bounded as-of join (merge_asof tolerance=30d): the "
    "backward match is kept only while it is fresh — the matched order "
    "date and its age ride along, and the price is NULLed once the "
    "state is staler than 30 days (the feature-store staleness rule). "
    "Same single-shuffle union+window plan; the staleness predicate is "
    "exact integer day arithmetic on both engines.",
    oracle=f"""
WITH o AS (
    SELECT o_custkey, o_orderdate, MAX(o_totalprice) AS p
    FROM orders GROUP BY o_custkey, o_orderdate
)
SELECT e.event_id, e.user_id,
       CAST(o.o_orderdate AS VARCHAR) AS matched_date,
       DATEDIFF('day', CAST(o.o_orderdate AS DATE), CAST(e.ts AS DATE)) AS age_days,
       CASE WHEN DATEDIFF('day', CAST(o.o_orderdate AS DATE), CAST(e.ts AS DATE))
                 <= {ASOF_TOL_DAYS}
            THEN o.p END AS price_within_tol
FROM events e ASOF LEFT JOIN o
  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
ORDER BY e.event_id
""",
)
def join_asof_tolerance(spark, sf_dir):
    ev = t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_totalprice").alias("p"))
        .withColumn("matched_d", F.col("o_orderdate"))
    )
    joined = asof_join(
        ev,
        orders,
        probe_on="user_id",
        state_on="o_custkey",
        probe_ts="ts",
        state_ts="o_orderdate",
        value_cols=["p", "matched_d"],
    )
    age = F.datediff(F.to_date("ts"), F.to_date("matched_d"))
    return joined.select(
        "event_id",
        "user_id",
        F.col("matched_d").cast("string").alias("matched_date"),
        age.cast("long").alias("age_days"),
        F.when(age <= ASOF_TOL_DAYS, F.col("p")).alias("price_within_tol"),
    ).orderBy("event_id")


@register(
    "join_asof_nearest",
    doc="Nearest as-of join (merge_asof direction='nearest', completing "
    "the backward/forward/tolerance/nearest matrix): each event takes "
    "the order whose date is CLOSEST in time, ties broken toward the "
    "backward (earlier) match — the declared rule, applied identically "
    "in the oracle. Composition: the backward and forward union+window "
    "passes each carry (matched value, matched ts), then one projection "
    "compares exact epoch-us gaps. Both passes shuffle on the same "
    "entity key, so at scale this is two windows over one co-partitioned "
    "layout, no extra join.",
    oracle="""
WITH o AS (
    SELECT o_custkey, o_orderdate, MAX(o_totalprice) AS price
    FROM orders GROUP BY o_custkey, o_orderdate
),
b AS (
    SELECT e.event_id, e.user_id, e.ts, o.price AS bprice, o.o_orderdate AS bts
    FROM events e ASOF LEFT JOIN o
      ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
),
f AS (
    SELECT e.event_id, o.price AS fprice, o.o_orderdate AS fts
    FROM events e ASOF LEFT JOIN o
      ON e.user_id = o.o_custkey AND e.ts <= o.o_orderdate
)
SELECT b.event_id, b.user_id,
       CASE WHEN b.bts IS NULL THEN f.fprice
            WHEN f.fts IS NULL THEN b.bprice
            WHEN EPOCH_US(b.ts) - EPOCH_US(b.bts)
                 <= EPOCH_US(f.fts) - EPOCH_US(b.ts) THEN b.bprice
            ELSE f.fprice END AS nearest_price,
       CASE WHEN b.bts IS NULL AND f.fts IS NULL THEN NULL
            WHEN b.bts IS NULL THEN 'forward'
            WHEN f.fts IS NULL THEN 'backward'
            WHEN EPOCH_US(b.ts) - EPOCH_US(b.bts)
                 <= EPOCH_US(f.fts) - EPOCH_US(b.ts) THEN 'backward'
            ELSE 'forward' END AS direction,
       CASE WHEN b.bts IS NULL AND f.fts IS NULL THEN NULL
            WHEN b.bts IS NULL THEN EPOCH_US(f.fts) - EPOCH_US(b.ts)
            WHEN f.fts IS NULL THEN EPOCH_US(b.ts) - EPOCH_US(b.bts)
            ELSE LEAST(EPOCH_US(b.ts) - EPOCH_US(b.bts),
                       EPOCH_US(f.fts) - EPOCH_US(b.ts)) END AS gap_us
FROM b JOIN f ON b.event_id = f.event_id
ORDER BY b.event_id
""",
)
def join_asof_nearest(spark, sf_dir):
    ev = t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_totalprice").alias("price"))
    )

    def _pass(desc: bool, prefix: str):
        p = ev.select(
            F.col("user_id").alias("_k"),
            F.col("ts").cast("timestamp").alias("_ts"),
            F.lit(1).alias("_kind"),
            F.lit(None).cast("double").alias(f"{prefix}price"),
            F.lit(None).cast("timestamp").alias(f"{prefix}ts"),
            "event_id",
            "user_id",
            "ts",
        )
        s = orders.select(
            F.col("o_custkey").alias("_k"),
            F.col("o_orderdate").cast("timestamp").alias("_ts"),
            F.lit(0).alias("_kind"),
            F.col("price").alias(f"{prefix}price"),
            F.col("o_orderdate").cast("timestamp").alias(f"{prefix}ts"),
            F.lit(None).cast("long").alias("event_id"),
            F.lit(None).cast("long").alias("user_id"),
            F.lit(None).cast("timestamp").alias("ts"),
        )
        u = p.unionByName(s)
        order = [F.col("_ts").desc(), "_kind"] if desc else [F.col("_ts").asc(), "_kind"]
        w = (
            Window.partitionBy("_k")
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        for c in (f"{prefix}price", f"{prefix}ts"):
            u = u.withColumn(c, F.last(c, ignorenulls=True).over(w))
        return u.filter(F.col("_kind") == 1).select(
            "event_id", "user_id", "ts", f"{prefix}price", f"{prefix}ts"
        )

    b = _pass(desc=False, prefix="b")
    f = _pass(desc=True, prefix="f").select("event_id", "fprice", "fts")
    j = b.join(f, "event_id")
    bgap = F.unix_micros("ts") - F.unix_micros("bts")
    fgap = F.unix_micros("fts") - F.unix_micros("ts")
    back_wins = F.col("bts").isNotNull() & (
        F.col("fts").isNull() | (bgap <= fgap)
    )
    return j.select(
        "event_id",
        "user_id",
        F.when(back_wins, F.col("bprice"))
        .otherwise(F.col("fprice"))
        .alias("nearest_price"),
        F.when(F.col("bts").isNull() & F.col("fts").isNull(), F.lit(None))
        .when(back_wins, F.lit("backward"))
        .otherwise(F.lit("forward"))
        .alias("direction"),
        F.when(F.col("bts").isNull() & F.col("fts").isNull(), F.lit(None))
        .when(back_wins, bgap)
        .otherwise(fgap)
        .cast("long")
        .alias("gap_us"),
    ).orderBy("event_id")
