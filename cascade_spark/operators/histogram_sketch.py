"""Histograms, mergeable sketches, and bucketed range joins.

The HLL query demonstrates the sketch-mergeability pattern that makes
100 TB distinct-count rollups cheap: build one small sketch per day
(map-side partial agg), then union sketches for any coarser rollup
instead of re-scanning raw data. Spark's hll_sketch_agg/hll_union_agg
are Apache DataSketches HLL under the hood; DuckDB has no compatible
sketch, so the query is registered rows-only and its accuracy is
asserted against the exact distinct count in-result.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cascade_spark.plans.registry import register
from cascade_spark.operators._util import bigint, d2, dec, t

N_BUCKETS = 20
V_LO, V_HI = 0.0, 600.0


@register(
    "agg_histogram_width_bucket",
    doc="Equi-width histogram of event values via width_bucket "
    "(20 buckets over [0, 600)): single hash-agg on the bucket id — "
    "the one-pass distributed histogram.",
    # DuckDB has no WIDTH_BUCKET — the CASE replicates Spark's exact
    # semantics: floor((v - lo) / ((hi - lo)/n)) + 1, 0 below, n+1 above.
    # (hi-lo)/n = 30.0 is FP-exact, so both engines floor the same double.
    oracle=f"""
SELECT CAST(CASE WHEN value < {V_LO} THEN 0
            WHEN value >= {V_HI} THEN {N_BUCKETS + 1}
            ELSE CAST(FLOOR((value - {V_LO}) / (({V_HI} - {V_LO}) / {N_BUCKETS})) AS BIGINT) + 1
       END AS BIGINT) AS bucket,
       COUNT(*) AS n,
       MIN(value) AS lo,
       MAX(value) AS hi,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(12,4))), 2) AS DOUBLE) AS mass
FROM events
GROUP BY 1
ORDER BY bucket
""",
)
def agg_histogram_width_bucket(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            bigint(F.width_bucket("value", F.lit(V_LO), F.lit(V_HI), F.lit(N_BUCKETS))).alias(
                "bucket"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
            d2(F.sum(dec("value"))).alias("mass"),
        )
        .orderBy("bucket")
    )


@register(
    "agg_hll_sketch_merge",
    oracle=None,  # DataSketches HLL has no DuckDB equivalent — rows-only
    doc="Mergeable distinct-count sketches: one HLL sketch of user_id "
    "per day, unioned into a monthly estimate — the rollup never "
    "re-reads raw data. Result carries the exact count alongside the "
    "estimate; tests assert <5% error.",
)
def agg_hll_sketch_merge(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.hll_sketch_agg("user_id", F.lit(12)).alias("sketch"),
        F.countDistinct("user_id").alias("exact_daily"),
    )
    monthly = daily.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est_monthly_users"),
    )
    exact = ev.agg(F.countDistinct("user_id").alias("exact_monthly_users"))
    return monthly.crossJoin(exact).select(
        bigint(F.col("n_days")).alias("n_days"),
        bigint(F.col("est_monthly_users")).alias("est_monthly_users"),
        bigint(F.col("exact_monthly_users")).alias("exact_monthly_users"),
    )


@register(
    "join_range_bucketed",
    doc="Range join via bucket-key derivation: events matched to per-day "
    "business-hour windows (09:00-17:00). The range condition is "
    "rewritten as an equi-join on the derived day key + residual time "
    "predicate — hash join instead of the nested-loop a pure interval "
    "join would force; the bucket-derivation trick is the 100 TB shape "
    "for any interval join whose span is bounded.",
    oracle="""
WITH windows AS (
    SELECT DISTINCT DATE_TRUNC('day', ts) AS day FROM events
)
SELECT STRFTIME(w.day, '%Y-%m-%d') AS day,
       COUNT(*) AS n_in_window,
       CAST(ROUND(SUM(CAST(e.value AS DECIMAL(12,4))), 2) AS DOUBLE) AS window_value
FROM windows w
JOIN events e
  ON DATE_TRUNC('day', e.ts) = w.day
 AND e.ts >= w.day + INTERVAL 9 HOUR
 AND e.ts < w.day + INTERVAL 17 HOUR
GROUP BY w.day
ORDER BY day
""",
)
def join_range_bucketed(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    windows = ev.select(F.date_trunc("day", "ts").alias("day")).distinct()
    e = ev.select("ts", "value", F.date_trunc("day", "ts").alias("e_day"))
    return (
        windows.join(
            e,
            (F.col("e_day") == F.col("day"))
            & (F.col("ts") >= F.col("day") + F.expr("INTERVAL 9 HOURS"))
            & (F.col("ts") < F.col("day") + F.expr("INTERVAL 17 HOURS")),
        )
        .groupBy(F.date_format("day", "yyyy-MM-dd").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_in_window"),
            d2(F.sum(dec("value"))).alias("window_value"),
        )
        .orderBy("day")
    )


@register(
    "agg_approx_top_k",
    doc="approx_top_k (Spark 4 built-in heavy-hitters sketch) on event "
    "types: one mergeable sketch per partition, combined on the "
    "driver-side final agg — the engine-native answer to 'top "
    "categories over 100 TB' without a full groupBy shuffle of every "
    "key. Hash-checkable because the query runs the sketch in its "
    "EXACT regime: maxItemsTracked=1024 >> the bounded event_type "
    "cardinality, so every count is exact (the sketch only "
    "approximates once tracked slots evict). The exploded result is "
    "re-sorted by (count DESC, item) — the sketch's own tie order is "
    "unspecified and must never be depended on. Oracle is the exact "
    "group-by.",
    oracle="""
SELECT event_type AS item, CAST(COUNT(*) AS BIGINT) AS cnt
FROM events
GROUP BY event_type
ORDER BY cnt DESC, item
LIMIT 4
""",
)
def agg_approx_top_k(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    # Ask the sketch for ALL tracked items (k = maxItemsTracked), then
    # apply the (cnt DESC, item) sort + LIMIT ourselves: which of two
    # COUNT-TIED items sits at the k-boundary is unspecified inside the
    # sketch even in the exact regime, so the deterministic tie-break
    # must happen after extraction, mirroring the oracle's ORDER/LIMIT.
    sk = ev.select(
        F.expr("approx_top_k(event_type, 1024, 1024)").alias("topk")
    )
    return (
        sk.select(F.explode("topk").alias("e"))
        .select(
            F.col("e.item").alias("item"),
            F.col("e.count").cast("long").alias("cnt"),
        )
        .orderBy(F.desc("cnt"), "item")
        .limit(4)
    )


EQD_BUCKETS = 8


@register(
    "agg_histogram_equi_depth",
    doc="Equi-depth (quantile) histogram of lineitem price cents, "
    f"{EQD_BUCKETS} buckets — the histogram optimizers keep for "
    "selectivity estimation (equal row mass per bucket; "
    "agg_histogram_width_bucket is the equal-width twin). Boundaries "
    "are EXACT discrete quantiles: b_k = min cents with cumulative "
    f"count >= ceil(k*N/{EQD_BUCKETS}), computed on the "
    "distinct-cents spine whose running total comes from the "
    "two-phase range-partition prefix sum (ingest.assign_prefix_sum) "
    "— no single-task global window at any scale. Per-bucket row "
    "counts are differences of the boundary rows' cumulative counts "
    "(an 8-row window), so the whole query is one spine aggregation "
    "+ one broadcast threshold join.",
    oracle=f"""
WITH h AS (
    SELECT CAST(CAST(l_extendedprice AS DECIMAL(12,4)) * 100 AS BIGINT) AS c,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem GROUP BY 1
),
cum AS (
    SELECT c, cnt,
           SUM(cnt) OVER (ORDER BY c
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ci
    FROM h
),
n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM h),
ks AS (SELECT UNNEST(GENERATE_SERIES(1, {EQD_BUCKETS})) AS k),
bounds AS (
    SELECT ks.k, MIN(cum.c) AS hi_cents
    FROM ks, n, cum
    WHERE cum.ci >= (ks.k * n.total + {EQD_BUCKETS} - 1) // {EQD_BUCKETS}
    GROUP BY ks.k
),
bcum AS (
    SELECT b.k, b.hi_cents, cum.ci
    FROM bounds b JOIN cum ON cum.c = b.hi_cents
)
SELECT k AS bucket,
       CAST(hi_cents AS BIGINT) AS hi_cents,
       CAST(ci - COALESCE(LAG(ci) OVER (ORDER BY k), 0) AS BIGINT) AS n_rows
FROM bcum
ORDER BY bucket
""",
)
def agg_histogram_equi_depth(spark, sf_dir):
    from pyspark.sql import Window
    from cascade_spark.operators.ingest import assign_prefix_sum

    li = t(spark, sf_dir, "lineitem")
    h = li.groupBy(
        (F.col("l_extendedprice").cast("decimal(12,4)") * 100)
        .cast("long")
        .alias("c")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    cum = assign_prefix_sum(h, ["c"], "cnt").select(
        "c", "cnt", (F.col("prefix_sum") + F.col("cnt")).alias("ci")
    )
    # total = SUM(cnt) over the spine = COUNT(*) of lineitem — read it
    # from the parquet row count instead of re-running the whole spine
    # aggregation a second time (h has no cache; the n branch recomputed
    # the 583k-group groupBy, a full extra pass at any scale).
    n = li.agg(F.count(F.lit(1)).cast("long").alias("total"))
    # Boundary detection (round-12): bucket k's boundary is the FIRST
    # spine row (min c) whose running total reaches T_k = ceil(k*N/B).
    # ci >= ceil(k*N/B)  <=>  k <= floor(B*ci/N)  (integers, ci asc), so
    # row r is the boundary for exactly k in (floor(B*ci_prev/N),
    # floor(B*ci/N)] — a per-row projection + sequence() explode that
    # emits exactly B rows corpus-wide, replacing the B-way crossJoin
    # (|spine|*B rows through filter+groupBy) AND the join back to cum
    # for ci (the boundary row already carries it). Guide §2.3/§2.4:
    # same result, two fewer passes over the spine and no B-fold blowup.
    bcum = (
        cum.crossJoin(F.broadcast(n))
        .select(
            "c",
            "ci",
            F.expr(f"{EQD_BUCKETS}L * (ci - cnt) DIV total").alias("_klo"),
            F.expr(f"{EQD_BUCKETS}L * ci DIV total").alias("_khi"),
        )
        .filter(F.col("_khi") > F.col("_klo"))
        .select(
            F.explode(F.sequence(F.col("_klo") + 1, F.col("_khi"))).alias("k"),
            F.col("c").alias("hi_cents"),
            "ci",
        )
        .filter(F.col("k") <= EQD_BUCKETS)
    )
    w = Window.orderBy("k")
    return bcum.select(
        F.col("k").cast("long").alias("bucket"),
        F.col("hi_cents").cast("long").alias("hi_cents"),
        (F.col("ci") - F.coalesce(F.lag("ci").over(w), F.lit(0)))
        .cast("long")
        .alias("n_rows"),
    ).orderBy("bucket")


@register(
    "agg_percentile_approx_exact_regime",
    doc="approx_percentile driven into its EXACT regime: with accuracy "
    "(1e6) >= group cardinality the GK sketch's rank error is < 1 "
    "row, so the returned values are exact discrete quantiles — "
    "probed to match DuckDB's quantile_disc on both parities, making "
    "the normally rows-only sketch (agg_percentile_approx) "
    "hash-checkable in this regime, the same contract agg_approx_top_k "
    "established for heavy hitters. Per event type, quartiles of "
    "exact value cents from one mergeable sketch pass.",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(QUANTILE_DISC(c, 0.25) AS BIGINT) AS p25_cents,
       CAST(QUANTILE_DISC(c, 0.5) AS BIGINT) AS p50_cents,
       CAST(QUANTILE_DISC(c, 0.75) AS BIGINT) AS p75_cents
FROM (
    SELECT event_type,
           CAST(CAST(value AS DECIMAL(12,4)) * 100 AS BIGINT) AS c
    FROM events
)
GROUP BY event_type
ORDER BY event_type
""",
)
def agg_percentile_approx_exact_regime(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    c = (F.col("value").cast("decimal(12,4)") * 100).cast("long")
    base = ev.select("event_type", c.alias("c"))
    return (
        base.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.expr(
                "approx_percentile(c, array(0.25, 0.5, 0.75), 1000000)"
            ).alias("q"),
        )
        .select(
            "event_type",
            "n",
            F.col("q")[0].cast("long").alias("p25_cents"),
            F.col("q")[1].cast("long").alias("p50_cents"),
            F.col("q")[2].cast("long").alias("p75_cents"),
        )
        .orderBy("event_type")
    )
