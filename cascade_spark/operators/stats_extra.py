"""Statistical & utility operators round-out: exact median + manual
deterministic mode, bitwise function family, z-score anomaly detection
with exact-moment accumulation, canonical-representative dedup, and a
time-hierarchy rollup over the event stream (the hypertable-rollup
pattern).

Scale notes: the z-score query is the canonical two-pass-made-one-pass
trick — accumulate (n, Σx, Σx²) per group in exact decimals (map-side
combinable), broadcast the tiny moment table back onto the stream, score
per row with no second shuffle. The time rollup aggregates once per
(day, hour) leaf and lets ROLLUP add the day and grand totals from the
leaf partials. Seasonal Mann–Kendall pairs days only within one
ISO-weekday stratum: n_days²/7 pairs, bounded by the time span, never
by the row count.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from cascade_spark.plans.registry import register
from cascade_spark.operators._util import avg_round, barrier, barrier_eager, bigint, d2, dec, sql_avg_round, t
from cascade_spark.operators.analytics_extra import _isqrt, _sql_isqrt


@register(
    "agg_median_mode",
    doc="Exact grouped median (percentile 0.5, linear interpolation — "
    "identical in both engines) and a *deterministic* mode: argmax of "
    "value counts with min-value tie-break, built from two aggregates "
    "instead of trusting engine-specific MODE() tie behavior.",
    oracle="""
WITH med AS (
    SELECT l_returnflag, MEDIAN(l_quantity) AS median_qty, COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag
),
cnt AS (
    SELECT l_returnflag, l_linenumber, COUNT(*) AS c
    FROM lineitem GROUP BY l_returnflag, l_linenumber
),
mx AS (SELECT l_returnflag, MAX(c) AS mc FROM cnt GROUP BY l_returnflag),
md AS (
    SELECT c.l_returnflag, MIN(c.l_linenumber) AS mode_linenumber
    FROM cnt c JOIN mx ON mx.l_returnflag = c.l_returnflag AND c.c = mx.mc
    GROUP BY c.l_returnflag
)
SELECT m.l_returnflag, m.median_qty, md.mode_linenumber, CAST(m.n AS BIGINT) AS n
FROM med m JOIN md ON md.l_returnflag = m.l_returnflag
ORDER BY m.l_returnflag
""",
)
def agg_median_mode(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    med = li.groupBy("l_returnflag").agg(
        F.median("l_quantity").alias("median_qty"),
        bigint(F.count(F.lit(1))).alias("n"),
    )
    cnt = li.groupBy("l_returnflag", "l_linenumber").agg(F.count(F.lit(1)).alias("c"))
    mx = cnt.groupBy(F.col("l_returnflag").alias("rf")).agg(F.max("c").alias("mc"))
    md = (
        cnt.join(mx, (F.col("rf") == F.col("l_returnflag")) & (F.col("c") == F.col("mc")))
        .groupBy("l_returnflag")
        .agg(F.min("l_linenumber").alias("mode_linenumber"))
    )
    return (
        med.join(md, "l_returnflag")
        .select("l_returnflag", "median_qty", "mode_linenumber", "n")
        .orderBy("l_returnflag")
    )


@register(
    "fn_bitwise",
    doc="Bitwise function family: AND/OR/XOR/NOT, shifts, popcount — "
    "deterministically sampled (one key in ~1000) so the checked result "
    "stays small while the expressions run over the full scan.",
    oracle="""
SELECT l_orderkey, l_linenumber,
       CAST(l_partkey & 255 AS BIGINT) AS and_mask,
       CAST(l_suppkey | 15 AS BIGINT) AS or_mask,
       CAST(XOR(l_partkey, l_suppkey) AS BIGINT) AS xor_keys,
       CAST(~l_linenumber AS BIGINT) AS not_line,
       CAST(l_linenumber << 3 AS BIGINT) AS shl,
       CAST(l_partkey >> 2 AS BIGINT) AS shr,
       CAST(BIT_COUNT(l_orderkey) AS BIGINT) AS popcount
FROM lineitem
WHERE l_orderkey % 997 = 0
ORDER BY l_orderkey, l_linenumber
""",
)
def fn_bitwise(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 997 == 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        bigint(F.col("l_partkey").bitwiseAND(F.lit(255))).alias("and_mask"),
        bigint(F.col("l_suppkey").bitwiseOR(F.lit(15))).alias("or_mask"),
        bigint(F.col("l_partkey").bitwiseXOR(F.col("l_suppkey"))).alias("xor_keys"),
        bigint(F.bitwise_not(F.col("l_linenumber"))).alias("not_line"),
        bigint(F.shiftleft(F.col("l_linenumber"), 3)).alias("shl"),
        bigint(F.shiftright(F.col("l_partkey"), 2)).alias("shr"),
        bigint(F.bit_count(F.col("l_orderkey"))).alias("popcount"),
    ).orderBy("l_orderkey", "l_linenumber")


@register(
    "events_anomaly_zscore",
    doc="Z-score outlier detection per event_type: one aggregate pass "
    "collects exact decimal moments (n, Σx, Σx²), the tiny moment table "
    "broadcasts back onto the stream, rows score inline (|z| > 3). "
    "Identical IEEE doubles in both engines because the moments are "
    "exact decimals before the single cast.",
    oracle="""
WITH mom AS (
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS s1,
           CAST(SUM(CAST(value AS DECIMAL(12,4)) * CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS s2
    FROM events GROUP BY event_type
),
scored AS (
    SELECT e.event_id, e.event_type, e.value,
           (e.value - m.s1 / m.n)
             / SQRT(GREATEST((m.s2 - m.s1 * m.s1 / m.n) / (m.n - 1), 1e-12)) AS z
    FROM events e JOIN mom m ON m.event_type = e.event_type
)
SELECT event_id, event_type, value, ROUND(z, 4) AS zscore
FROM scored
WHERE ABS(z) > 3
ORDER BY event_id
""",
)
def events_anomaly_zscore(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    mom = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("value")).cast("double").alias("s1"),
        F.sum(dec("value") * dec("value")).cast("double").alias("s2"),
    )
    z = (F.col("value") - F.col("s1") / F.col("n")) / F.sqrt(
        F.greatest(
            (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (F.col("n") - 1),
            F.lit(1e-12),
        )
    )
    return (
        ev.join(F.broadcast(mom), "event_type")
        .select("event_id", "event_type", "value", F.round(z, 4).alias("zscore"))
        .filter(F.abs(F.col("zscore")) > 3)
        .orderBy("event_id")
    )


@register(
    "dedup_keep_best",
    doc="Canonical-representative dedup: group documents by normalized "
    "content fingerprint, keep the longest (then lowest-id) member — "
    "the curation step after exact dedup finds its clusters. One window "
    "over the fingerprint shuffle.",
    oracle="""
WITH fp AS (
    SELECT doc_id, n_chars,
           MD5(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g')))) AS fingerprint
    FROM documents
),
ranked AS (
    SELECT doc_id, fingerprint, n_chars,
           ROW_NUMBER() OVER (PARTITION BY fingerprint
                              ORDER BY n_chars DESC, doc_id) AS rn,
           COUNT(*) OVER (PARTITION BY fingerprint) AS cluster_size
    FROM fp
)
SELECT doc_id, fingerprint, CAST(cluster_size AS BIGINT) AS cluster_size
FROM ranked WHERE rn = 1
ORDER BY doc_id
""",
)
def dedup_keep_best(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    fp = d.select(
        "doc_id",
        "n_chars",
        F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))).alias("fingerprint"),
    )
    w = Window.partitionBy("fingerprint")
    ranked = fp.select(
        "doc_id",
        "fingerprint",
        F.row_number().over(w.orderBy(F.desc("n_chars"), "doc_id")).alias("rn"),
        F.count(F.lit(1)).over(w).alias("cluster_size"),
    )
    return (
        ranked.filter(F.col("rn") == 1)
        .select("doc_id", "fingerprint", bigint(F.col("cluster_size")).alias("cluster_size"))
        .orderBy("doc_id")
    )


@register(
    "events_time_rollup",
    doc="Time-hierarchy rollup (hypertable-style continuous aggregate): "
    "day → hour leaves with ROLLUP supplying day and grand totals from "
    "the leaf partials; one shuffle, totals come free.",
    oracle="""
SELECT STRFTIME(DATE_TRUNC('day', ts), '%Y-%m-%d') AS day,
       CAST(HOUR(ts) AS BIGINT) AS hour,
       COUNT(*) AS n,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(12,4))), 2) AS DOUBLE) AS total_value
FROM events
GROUP BY ROLLUP (STRFTIME(DATE_TRUNC('day', ts), '%Y-%m-%d'), HOUR(ts))
ORDER BY day NULLS FIRST, hour NULLS FIRST
""",
)
def events_time_rollup(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    day = F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
    hour = F.hour("ts").cast("long")
    return (
        ev.select(day.alias("day"), hour.alias("hour"), "value")
        .rollup("day", "hour")
        .agg(
            F.count(F.lit(1)).alias("n"),
            d2(F.sum(dec("value"))).alias("total_value"),
        )
        .orderBy(F.col("day").asc_nulls_first(), F.col("hour").asc_nulls_first())
    )


@register(
    "events_gapfill_interpolate",
    doc="Time-series gap filling: a generated date spine (sequence/"
    "generate_series) per event type left-joins the daily aggregate; "
    "missing days get count 0 and a forward-filled average via the "
    "engine-portable two-window trick (cumulative COUNT of non-nulls "
    "assigns fill groups, MAX within group carries the value — no "
    "IGNORE NULLS dependence). The spine is |types| × |days|, never "
    "data-sized; daily averages use exact-integer half-up rounding.",
    oracle=f"""
WITH daily AS (
    SELECT event_type, DATE_TRUNC('day', ts)::DATE AS day,
           COUNT(*) AS n_events,
           {sql_avg_round("SUM(CAST(value AS DECIMAL(12,4)))")} AS day_avg
    FROM events GROUP BY 1, 2
),
span AS (
    SELECT MIN(DATE_TRUNC('day', ts))::DATE AS d0,
           MAX(DATE_TRUNC('day', ts))::DATE AS d1
    FROM events
),
spine AS (
    SELECT t.event_type, gs.day::DATE AS day
    FROM (SELECT DISTINCT event_type FROM events) t
    CROSS JOIN span
    CROSS JOIN LATERAL (
        SELECT UNNEST(GENERATE_SERIES(span.d0::TIMESTAMP, span.d1::TIMESTAMP,
                                      INTERVAL 1 DAY)) AS day
    ) gs
),
j AS (
    SELECT s.event_type, s.day,
           COALESCE(d.n_events, 0) AS n_events, d.day_avg,
           COUNT(d.day_avg) OVER (PARTITION BY s.event_type ORDER BY s.day
                                  ROWS UNBOUNDED PRECEDING) AS grp
    FROM spine s
    LEFT JOIN daily d ON s.event_type = d.event_type AND s.day = d.day
)
SELECT event_type, STRFTIME(day, '%Y-%m-%d') AS day,
       CAST(n_events AS BIGINT) AS n_events,
       MAX(day_avg) OVER (PARTITION BY event_type, grp) AS filled_avg
FROM j ORDER BY event_type, day
""",
)
def events_gapfill_interpolate(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").cast("date")
    daily = ev.groupBy("event_type", day.alias("day")).agg(
        F.count(F.lit(1)).alias("n_events"),
        avg_round(F.sum(dec("value")), F.count(F.lit(1))).alias("day_avg"),
    )
    span = ev.agg(F.min(day).alias("d0"), F.max(day).alias("d1"))
    spine = (
        ev.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(span))
        .select("event_type", F.explode(F.sequence("d0", "d1")).alias("day"))
    )
    joined = spine.join(daily, ["event_type", "day"], "left")
    w_grp = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    staged = joined.select(
        "event_type",
        "day",
        F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
        "day_avg",
        F.count("day_avg").over(w_grp).alias("grp"),
    )
    w_fill = Window.partitionBy("event_type", "grp")
    return (
        staged.select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_events",
            F.max("day_avg").over(w_fill).alias("filled_avg"),
        )
        .orderBy("event_type", "day")
    )


@register(
    "agg_filtered_conditional",
    doc="FILTER-clause / conditional aggregation family in ONE grouped "
    "pass: count_if, filtered decimal sums, and a filtered distinct "
    "count per market segment — the idiom that replaces N separate "
    "filtered scans with one map-side-combinable aggregate.",
    oracle="""
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_all,
       CAST(COUNT(*) FILTER (WHERE c_acctbal < 0) AS BIGINT) AS n_negative,
       CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(12,4))) FILTER (WHERE c_acctbal > 5000.0), 2)
            AS DOUBLE) AS rich_bal,
       CAST(COUNT(DISTINCT c_nationkey) FILTER (WHERE c_acctbal < 0) AS BIGINT)
         AS n_negative_nations
FROM customer
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)
def agg_filtered_conditional(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    neg = F.col("c_acctbal") < 0
    return (
        c.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_all"),
            F.count_if(neg).cast("long").alias("n_negative"),
            d2(
                F.sum(F.when(F.col("c_acctbal") > 5000.0, dec("c_acctbal")))
            ).alias("rich_bal"),
            F.countDistinct(F.when(neg, F.col("c_nationkey")))
            .cast("long")
            .alias("n_negative_nations"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "agg_string_concat_ordered",
    doc="Deterministic string aggregation (listagg/string_agg): nation "
    "names per region, sorted inside the aggregate so the concatenation "
    "is order-independent of partitioning (collect_list alone is NOT "
    "deterministic under parallelism — array_sort makes it so).",
    oracle="""
SELECT n_regionkey,
       CAST(COUNT(*) AS BIGINT) AS n_nations,
       STRING_AGG(n_name, ',' ORDER BY n_name) AS nations
FROM nation
GROUP BY n_regionkey
ORDER BY n_regionkey
""",
)
def agg_string_concat_ordered(spark, sf_dir):
    n = t(spark, sf_dir, "nation")
    return (
        n.groupBy("n_regionkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nations"),
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"),
        )
        .orderBy("n_regionkey")
    )


@register(
    "agg_trend_regression",
    doc="Linear-regression aggregates (regr_slope / regr_intercept / "
    "regr_r2): per event type, daily counts regressed on the day index "
    "— distributed trend estimation over the pre-aggregated day table "
    "(|days| rows per group, never raw events). Co-moment merge order "
    "wiggles last ulps, so outputs round to 4 (same discipline as "
    "agg_correlation).",
    oracle="""
WITH daily AS (
    SELECT event_type,
           DATE_DIFF('day', DATE '2024-01-01', CAST(DATE_TRUNC('day', ts) AS DATE)) AS x,
           COUNT(*) AS y
    FROM events
    GROUP BY event_type, DATE_TRUNC('day', ts)
)
SELECT event_type,
       ROUND(REGR_SLOPE(y, x), 4) AS slope,
       ROUND(REGR_INTERCEPT(y, x), 4) AS intercept,
       ROUND(REGR_R2(y, x), 4) AS r2,
       CAST(COUNT(*) AS BIGINT) AS n_days
FROM daily
GROUP BY event_type
ORDER BY event_type
""",
)
def agg_trend_regression(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.date_trunc("day", "ts"), F.lit("2024-01-01")).alias("x"),
    ).agg(F.count(F.lit(1)).alias("y"))
    return (
        daily.groupBy("event_type")
        .agg(
            F.round(F.regr_slope("y", "x"), 4).alias("slope"),
            F.round(F.regr_intercept("y", "x"), 4).alias("intercept"),
            F.round(F.regr_r2("y", "x"), 4).alias("r2"),
            bigint(F.count(F.lit(1))).alias("n_days"),
        )
        .orderBy("event_type")
    )


@register(
    "events_anomaly_mad",
    doc="Robust outlier detection via median absolute deviation — the "
    "breakdown-resistant complement to events_anomaly_zscore (a few "
    "extreme values cannot drag the threshold the way they drag a "
    "mean/stddev). Two grouped medians (value, then |value - median|, "
    "both exact interpolated percentiles with cross-engine parity) and "
    "one broadcast-joined scoring pass; outliers flagged at "
    "|v - med| > 5 * MAD with an integer multiplier so the comparison "
    "is bit-identical.",
    oracle="""
WITH med AS (
    SELECT event_type, MEDIAN(value) AS med FROM events GROUP BY event_type
),
dev AS (
    SELECT e.event_type, MEDIAN(ABS(e.value - m.med)) AS mad
    FROM events e JOIN med m ON e.event_type = m.event_type
    GROUP BY e.event_type
)
SELECT e.event_type,
       m.med,
       d.mad,
       CAST(SUM(CASE WHEN ABS(e.value - m.med) > 5 * d.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       COUNT(*) AS n
FROM events e
JOIN med m ON e.event_type = m.event_type
JOIN dev d ON e.event_type = d.event_type
GROUP BY e.event_type, m.med, d.mad
ORDER BY e.event_type
""",
)
def events_anomaly_mad(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(F.median("value").alias("med"))
    dev = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(F.median(F.abs(F.col("value") - F.col("med"))).alias("mad"))
    )
    return (
        ev.join(F.broadcast(med), "event_type")
        .join(F.broadcast(dev), "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.sum(
                F.when(F.abs(F.col("value") - F.col("med")) > 5 * F.col("mad"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
            F.count(F.lit(1)).alias("n"),
        )
        .select("event_type", "med", "mad", "n_outliers", "n")
        .orderBy("event_type")
    )


@register(
    "stats_weighted_median",
    doc="Weighted median (discrete): per return flag, the smallest "
    "price whose cumulative quantity weight reaches half the total — "
    "an actual data value, interpolation-free, so exact in both "
    "engines. One shuffle: the cumulative-weight window and the final "
    "per-group reduction share the group key partitioning. The "
    "2*cum >= total test uses integer cents/quantity units only.",
    oracle="""
WITH w AS (
    SELECT l_returnflag,
           (CAST(l_extendedprice AS DECIMAL(12,4)) * 100)::BIGINT AS price_cents,
           (l_quantity * 100)::BIGINT AS qty_units
    FROM lineitem
),
cum AS (
    SELECT l_returnflag, price_cents,
           SUM(qty_units) OVER (PARTITION BY l_returnflag
                                ORDER BY price_cents
                                ROWS UNBOUNDED PRECEDING) AS cw,
           SUM(qty_units) OVER (PARTITION BY l_returnflag) AS tw
    FROM w
)
SELECT l_returnflag,
       CAST(MIN(price_cents) AS BIGINT) AS weighted_median_cents,
       CAST(MAX(tw) AS BIGINT) AS total_weight
FROM cum
WHERE 2 * cw >= tw
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def stats_weighted_median(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    w = li.select(
        "l_returnflag",
        (dec("l_extendedprice") * 100).cast("long").alias("price_cents"),
        (dec("l_quantity") * 100).cast("long").alias("qty_units"),
    )
    win = Window.partitionBy("l_returnflag").orderBy("price_cents")
    cum = w.select(
        "l_returnflag",
        "price_cents",
        F.sum("qty_units").over(win.rowsBetween(Window.unboundedPreceding, 0)).alias("cw"),
        F.sum("qty_units")
        .over(Window.partitionBy("l_returnflag"))
        .alias("tw"),
    )
    return (
        cum.filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy("l_returnflag")
        .agg(
            bigint(F.min("price_cents")).alias("weighted_median_cents"),
            bigint(F.max("tw")).alias("total_weight"),
        )
        .orderBy("l_returnflag")
    )


# Benford first-digit expectation, floor(10000*log10(1+1/d)) — embedded
# as integer literals so neither engine evaluates a float log.
BENFORD_BP = {1: 3010, 2: 1760, 3: 1249, 4: 969, 5: 791, 6: 669, 7: 579, 8: 511, 9: 457}


@register(
    "stats_benford_audit",
    doc="Benford first-significant-digit audit over order totals — the "
    "classic financial-data anomaly screen: per digit, observed count "
    "and share (floor bp) against the Benford expectation, with the "
    "signed deviation. The digit is extracted from exact integer cents "
    "(no float log10), expectations are embedded integer literals, so "
    "the whole table hash-checks. One map-side-combinable aggregate.",
    oracle=f"""
WITH cents AS (
    SELECT CAST(CAST(o_totalprice AS DECIMAL(12,4)) * 100 AS BIGINT) AS c
    FROM orders WHERE o_totalprice > 0
),
digits AS (
    SELECT CAST(SUBSTR(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS digit FROM cents
),
obs AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM digits GROUP BY digit),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM obs),
exp_ AS (
    {" UNION ALL ".join(f"SELECT {d} AS digit, {bp} AS benford_bp" for d, bp in BENFORD_BP.items())}
)
SELECT e.digit, COALESCE(o.n, 0) AS n,
       (10000 * COALESCE(o.n, 0)) // t.t AS share_bp,
       CAST(e.benford_bp AS BIGINT) AS benford_bp,
       (10000 * COALESCE(o.n, 0)) // t.t - e.benford_bp AS dev_bp
FROM exp_ e LEFT JOIN obs o ON o.digit = e.digit, tot t
ORDER BY e.digit
""",
)
def stats_benford_audit(spark, sf_dir):
    from cascade_spark.operators._util import _intdiv, bigint, dec

    o = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    cents = o.select((dec("o_totalprice") * 100).cast("long").alias("c"))
    digits = cents.select(
        F.substring(F.col("c").cast("string"), 1, 1).cast("long").alias("digit")
    )
    obs = digits.groupBy("digit").agg(bigint(F.count(F.lit(1))).alias("n"))
    tot = obs.agg(bigint(F.sum("n")).alias("t"))
    exp_ = o.sparkSession.createDataFrame(
        list(BENFORD_BP.items()), "digit long, benford_bp long"
    )
    j = (
        exp_.join(obs, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce("n", F.lit(0)).alias("n"),
            "benford_bp",
            "t",
        )
    )
    share = _intdiv(F.lit(10000) * F.col("n"), F.col("t"))
    return j.select(
        "digit",
        "n",
        share.alias("share_bp"),
        "benford_bp",
        (share - F.col("benford_bp")).alias("dev_bp"),
    ).orderBy("digit")


@register(
    "stats_chisq_independence",
    doc="Chi-square independence screen over the (event_type x ISO "
    "weekday) contingency table: observed counts, marginals, and the "
    "scaled residual d = o*n - r*c in EXACT int64, plus each cell's "
    "chi-square contribution d^2/(n*r*c) as ONE mirrored IEEE "
    "expression evaluated identically by both engines (the "
    "stats_skew_kurtosis determinism pattern). Flags which weekday/"
    "type cells drive the dependence — the drift screen run before "
    "trusting a week-blind sample. All marginals from one pass.",
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
       r.r AS row_total, c.c AS col_total,
       cells.o * n.n - r.r * c.c AS d,
       ROUND(CAST(cells.o * n.n - r.r * c.c AS DOUBLE)
             * CAST(cells.o * n.n - r.r * c.c AS DOUBLE)
             / (CAST(n.n AS DOUBLE) * CAST(r.r AS DOUBLE)
                * CAST(c.c AS DOUBLE) * CAST(n.n AS DOUBLE)), 6) AS contrib
FROM cells, n JOIN r ON r.event_type = cells.event_type
            JOIN c ON c.dow = cells.dow
ORDER BY cells.event_type, dow
""",
)
def stats_chisq_independence(spark, sf_dir):
    from cascade_spark.operators.inference_extra import _contingency_cells

    # ISO weekday: Mon=1..Sun=7 (dayofweek is Sun=1..Sat=7)
    cells = _contingency_cells(spark, sf_dir)
    r = cells.groupBy("event_type").agg(bigint(F.sum("o")).alias("r"))
    c = cells.groupBy("dow").agg(bigint(F.sum("o")).alias("c"))
    n = cells.agg(bigint(F.sum("o")).alias("n"))
    j = (
        cells.join(F.broadcast(r), "event_type")
        .join(F.broadcast(c), "dow")
        .crossJoin(F.broadcast(n))
    )
    d = F.col("o") * F.col("n") - F.col("r") * F.col("c")
    contrib = F.round(
        d.cast("double")
        * d.cast("double")
        / (
            F.col("n").cast("double")
            * F.col("r").cast("double")
            * F.col("c").cast("double")
            * F.col("n").cast("double")
        ),
        6,
    )
    return j.select(
        "event_type",
        "dow",
        "o",
        F.col("r").alias("row_total"),
        F.col("c").alias("col_total"),
        d.alias("d"),
        contrib.alias("contrib"),
    ).orderBy("event_type", "dow")


SRM_FLAG_SCALED = 108_300  # chi-sq 1 dof at p=0.001 is 10.83 -> x 10^4


@register(
    "stats_ab_srm_check",
    doc="A/B sample-ratio-mismatch (SRM) check — the experiment-health "
    "gate run before reading any metric: users hash (md5) into two "
    "arms that SHOULD split 50/50; the observed imbalance is scored "
    "with the 1-dof chi-square statistic (o1-o2)^2/(o1+o2) kept exact "
    "by 10^4 integer scaling, flagged past the p=0.001 critical value. "
    "Assignment is the same deterministic md5-bucket machinery as the "
    "train/val/test splitter, so the check is reproducible anywhere. "
    "One map-side-combinable aggregate over distinct users.",
    oracle=f"""
WITH users AS (SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL),
arms AS (
    SELECT ('0x' || SUBSTR(MD5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 AS arm
    FROM users
),
counts AS (
    SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS arm_a,
           CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS arm_b
    FROM arms
)
SELECT arm_a, arm_b, arm_a - arm_b AS diff,
       (10000 * (arm_a - arm_b) * (arm_a - arm_b)) // (arm_a + arm_b)
           AS srm_x2_scaled,
       CAST(CASE WHEN (10000 * (arm_a - arm_b) * (arm_a - arm_b))
                      // (arm_a + arm_b) > {SRM_FLAG_SCALED}
                 THEN 1 ELSE 0 END AS BIGINT) AS srm_flag
FROM counts
""",
)
def stats_ab_srm_check(spark, sf_dir):
    from cascade_spark.operators._util import _intdiv

    ev = t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    users = ev.select("user_id").distinct()
    arm = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
    ).cast("long") % 2
    counts = users.agg(
        F.sum(F.when(arm == 0, 1).otherwise(0)).cast("long").alias("arm_a"),
        F.sum(F.when(arm == 1, 1).otherwise(0)).cast("long").alias("arm_b"),
    )
    diff = F.col("arm_a") - F.col("arm_b")
    stat = _intdiv(F.lit(10000) * diff * diff, F.col("arm_a") + F.col("arm_b"))
    return counts.select(
        "arm_a",
        "arm_b",
        diff.alias("diff"),
        stat.alias("srm_x2_scaled"),
        F.when(stat > SRM_FLAG_SCALED, 1).otherwise(0).cast("long").alias("srm_flag"),
    )


@register(
    "stats_gini_concentration",
    doc="Gini coefficient of customer revenue concentration — the "
    "single-number complement to the ABC/Pareto classes: G = "
    "(2*SUM(i*x_i) - (n+1)*SUM(x)) / (n*SUM(x)) over revenues sorted "
    "ascending. Ranks come from the TWO-PHASE offset assignment "
    "(ingest.assign_offsets), so no per-customer global window; "
    "numerator and denominator are published as exact int64 (cents — "
    "bounded to ~3e17 at sf0.1-class scales; a DECIMAL(38) swap is the "
    "documented path beyond) and the final ratio is one mirrored IEEE "
    "ROUND both engines evaluate identically.",
    oracle="""
WITH rev AS (
    SELECT o_custkey,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,4)) * 100 AS BIGINT))
                AS BIGINT) AS cents
    FROM orders GROUP BY o_custkey
),
ranked AS (
    SELECT cents,
           ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS i
    FROM rev
),
agg AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(cents) AS BIGINT) AS total,
           CAST(SUM(i * cents) AS BIGINT) AS weighted
    FROM ranked
)
SELECT n, total,
       2 * weighted - (n + 1) * total AS gini_num,
       n * total AS gini_den,
       ROUND(CAST(2 * weighted - (n + 1) * total AS DOUBLE)
             / CAST(n * total AS DOUBLE), 6) AS gini
FROM agg
""",
)
def stats_gini_concentration(spark, sf_dir):
    from cascade_spark.operators._util import bigint, dec
    from cascade_spark.operators.ingest import assign_offsets

    o = t(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        (F.sum(dec("o_totalprice") * 100)).cast("long").alias("cents")
    )
    ranked = assign_offsets(rev, ["cents", "o_custkey"]).withColumn(
        "i", F.col("offset") + 1
    )
    agg = ranked.agg(
        bigint(F.count(F.lit(1))).alias("n"),
        bigint(F.sum("cents")).alias("total"),
        bigint(F.sum(F.col("i") * F.col("cents"))).alias("weighted"),
    )
    num = 2 * F.col("weighted") - (F.col("n") + 1) * F.col("total")
    den = F.col("n") * F.col("total")
    return agg.select(
        "n",
        "total",
        num.alias("gini_num"),
        den.alias("gini_den"),
        F.round(num.cast("double") / den.cast("double"), 6).alias("gini"),
    )


@register(
    "stats_ks_two_sample",
    doc="Two-sample Kolmogorov-Smirnov drift test between the click and "
    "purchase value distributions — the distribution-level data-quality "
    "gate (is today's feed shaped like yesterday's?). D = max |ECDF "
    "difference| kept EXACT: both ECDFs are rationals over (n1, n2), so "
    "the statistic is max |cum1*n2 - cum2*n1| / (n1*n2) in integer "
    "arithmetic, reported in floor basis points with the value where "
    "the max is first attained. The running counts use the two-phase "
    "prefix-sum pattern (range repartition + per-partition cumsums + "
    "tiny base aggregate) — no single-task global window over the "
    "distinct-value spine. The |cum1*n2 - cum2*n1| products stay exact "
    "through int64 up to ~3e9 rows per side; the bp conversion is "
    "integral division in decimal(38,0) (HUGEINT on the oracle side), "
    "so it never binds before the int64 product limit.",
    oracle="""
WITH pv AS (
    SELECT value,
           COUNT(*) FILTER (WHERE event_type = 'click') AS c1,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS c2
    FROM events WHERE event_type IN ('click', 'purchase')
    GROUP BY value
),
n AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2 FROM pv),
cum AS (
    SELECT value,
           CAST(SUM(c1) OVER (ORDER BY value) AS BIGINT) AS cum1,
           CAST(SUM(c2) OVER (ORDER BY value) AS BIGINT) AS cum2
    FROM pv
),
d AS (
    SELECT value,
           ABS(cum1 * (SELECT n2 FROM n) - cum2 * (SELECT n1 FROM n)) AS dn
    FROM cum
)
SELECT (SELECT n1 FROM n) AS n_click,
       (SELECT n2 FROM n) AS n_purchase,
       CAST((10000 * CAST(MAX(dn) AS HUGEINT))
            // (CAST((SELECT n1 FROM n) AS HUGEINT) * (SELECT n2 FROM n))
            AS BIGINT) AS ks_d_bp,
       MIN(CASE WHEN dn = (SELECT MAX(dn) FROM d) THEN value END) AS ks_at_value
FROM d
""",
)
def stats_ks_two_sample(spark, sf_dir):
    from cascade_spark.operators._util import _intdiv

    ev = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    pv = ev.groupBy("value").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("c2"),
    )
    n = pv.agg(
        F.sum("c1").cast("long").alias("n1"), F.sum("c2").cast("long").alias("n2")
    )
    # two-phase INCLUSIVE cumsums of c1 and c2 along the value spine;
    # bucketization materialized once before the local/bases branches
    # (range-boundary consistency — see assign_offsets in ingest.py)
    part = (
        pv.repartitionByRange(32, F.col("value"))
        .withColumn("_pid", F.spark_partition_id())
        .transform(barrier_eager)
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = part.withColumn("_l1", F.sum("c1").over(w)).withColumn(
        "_l2", F.sum("c2").over(w)
    )
    wb = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    bases = (
        local.groupBy("_pid")
        .agg(F.sum("c1").alias("_s1"), F.sum("c2").alias("_s2"))
        .withColumn("_b1", F.coalesce(F.sum("_s1").over(wb), F.lit(0)))
        .withColumn("_b2", F.coalesce(F.sum("_s2").over(wb), F.lit(0)))
        .select("_pid", "_b1", "_b2")
    )
    cum = local.join(F.broadcast(bases), "_pid").select(
        "value",
        (F.col("_b1") + F.col("_l1")).cast("long").alias("cum1"),
        (F.col("_b2") + F.col("_l2")).cast("long").alias("cum2"),
    )
    d = cum.crossJoin(F.broadcast(n)).select(
        "value",
        "n1",
        "n2",
        F.abs(F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1")).alias("dn"),
    )
    maxd = d.agg(F.max("dn").alias("max_dn"))
    agg = d.crossJoin(F.broadcast(maxd)).agg(
        F.first("n1").alias("n_click"),
        F.first("n2").alias("n_purchase"),
        F.first("max_dn").alias("max_dn"),
        F.min(F.when(F.col("dn") == F.col("max_dn"), F.col("value"))).alias(
            "ks_at_value"
        ),
    )
    # decimal(38,0) IntegralDivide: 10000*max_dn exceeds double's 53-bit
    # exact-integer range long before the int64 cum-product limit, so the
    # bp step must not go through FP (or through a rounded decimal scale)
    return agg.select(
        "n_click",
        "n_purchase",
        F.expr(
            "CAST((CAST(10000 AS DECIMAL(38,0)) * CAST(max_dn AS DECIMAL(38,0)))"
            " DIV (CAST(n_click AS DECIMAL(38,0))"
            " * CAST(n_purchase AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("ks_d_bp"),
        "ks_at_value",
    )


@register(
    "stats_mannwhitney_u",
    doc="Mann-Whitney U rank test between the click and purchase value "
    "samples — the nonparametric location-shift twin of the KS shape "
    "test. Tie-correct midranks come EXACTLY from per-distinct-value "
    "counts (2*midrank = 2*cum_before + cnt + 1 — the cumulative count "
    "rides the same spine as stats_ks_two_sample, computed per distinct "
    "value so no per-row global ranking is ever needed), U is kept in "
    "doubled integer units end-to-end, and the common-language effect "
    "size U/(n1*n2) is reported in floor basis points. Exact through "
    "the 2^53 double-integer range at fixture magnitudes.",
    oracle="""
WITH pv AS (
    SELECT value,
           COUNT(*) FILTER (WHERE event_type = 'click') AS c1,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS c2
    FROM events WHERE event_type IN ('click', 'purchase')
    GROUP BY value
),
n AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2 FROM pv),
cum AS (
    SELECT value, c1, c2,
           CAST(COALESCE(SUM(c1 + c2) OVER (ORDER BY value
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS cum_before
    FROM pv
),
r AS (
    SELECT CAST(SUM(c1 * (2 * cum_before + (c1 + c2) + 1)) AS BIGINT) AS two_r1
    FROM cum
)
SELECT (SELECT n1 FROM n) AS n_click,
       (SELECT n2 FROM n) AS n_purchase,
       (SELECT two_r1 FROM r) - (SELECT n1 * (n1 + 1) FROM n) AS two_u1,
       CAST((10000 * ((SELECT two_r1 FROM r) - (SELECT n1 * (n1 + 1) FROM n)))
            // (2 * (SELECT n1 * n2 FROM n)) AS BIGINT) AS cles_bp
""",
)
def stats_mannwhitney_u(spark, sf_dir):
    from cascade_spark.operators._util import _intdiv
    from cascade_spark.operators.ingest import assign_prefix_sum

    ev = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    pv = ev.groupBy("value").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("c2"),
    ).withColumn("ct", F.col("c1") + F.col("c2"))
    cum = assign_prefix_sum(pv, ["value"], "ct")  # exclusive cumsum of total
    n = pv.agg(
        F.sum("c1").cast("long").alias("n1"), F.sum("c2").cast("long").alias("n2")
    )
    r = cum.agg(
        F.sum(
            F.col("c1") * (F.lit(2) * F.col("prefix_sum") + F.col("ct") + 1)
        )
        .cast("long")
        .alias("two_r1")
    )
    return (
        r.crossJoin(F.broadcast(n)).select(
            F.col("n1").alias("n_click"),
            F.col("n2").alias("n_purchase"),
            (F.col("two_r1") - F.col("n1") * (F.col("n1") + 1)).alias("two_u1"),
            _intdiv(
                F.lit(10000) * (F.col("two_r1") - F.col("n1") * (F.col("n1") + 1)),
                F.lit(2) * F.col("n1") * F.col("n2"),
            ).alias("cles_bp"),
        )
    )


BOOT_B = 16  # bootstrap replicates


@register(
    "stats_bootstrap_mean_ci",
    doc=f"Deterministic bootstrap CI for the daily-revenue mean: "
    f"{BOOT_B} resamples drawn by md5(replicate:i) mod n (the "
    "reproducible-hash convention replacing seeded RNG everywhere in "
    "this repo), each replicate's mean an exact floor of cents, the "
    "band from discrete percentiles over the replicate means — no "
    "float tolerance anywhere. The day table is tiny (|days| rows), "
    "so the resample join is a broadcast; at 100 TB the bootstrap runs "
    "on the pre-aggregated frame, never the raw fact.",
    oracle=f"""
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS d,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) * 100 AS BIGINT) AS cents
    FROM orders GROUP BY 1
),
idx AS (
    SELECT d, cents, ROW_NUMBER() OVER (ORDER BY d) - 1 AS i,
           COUNT(*) OVER () AS n
    FROM daily
),
draws AS (
    SELECT b.b, s.i AS draw_pos,
           ('0x' || SUBSTR(MD5(CAST(b.b AS VARCHAR) || ':' || CAST(s.i AS VARCHAR)), 1, 8))::BIGINT
             % (SELECT MAX(n) FROM idx) AS pick
    FROM (SELECT UNNEST(GENERATE_SERIES(0, {BOOT_B - 1})) AS b) b,
         (SELECT i FROM idx) s
),
reps AS (
    SELECT d2.b, CAST(SUM(i2.cents) // COUNT(*) AS BIGINT) AS mean_cents
    FROM draws d2 JOIN idx i2 ON i2.i = d2.pick
    GROUP BY d2.b
)
SELECT CAST((SELECT MAX(n) FROM idx) AS BIGINT) AS n_days,
       CAST({BOOT_B} AS BIGINT) AS n_replicates,
       CAST(MIN(mean_cents) AS BIGINT) AS mean_min_cents,
       CAST(PERCENTILE_DISC(0.1) WITHIN GROUP (ORDER BY mean_cents) AS BIGINT)
           AS mean_p10_cents,
       CAST(PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY mean_cents) AS BIGINT)
           AS mean_p50_cents,
       CAST(PERCENTILE_DISC(0.9) WITHIN GROUP (ORDER BY mean_cents) AS BIGINT)
           AS mean_p90_cents,
       CAST(MAX(mean_cents) AS BIGINT) AS mean_max_cents
FROM reps
""",
)
def stats_bootstrap_mean_ci(spark, sf_dir):
    from cascade_spark.operators._util import _intdiv
    from cascade_spark.operators.ingest import assign_offsets

    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        (F.sum(dec("o_totalprice")) * 100).cast("long").alias("cents")
    )
    idx = assign_offsets(daily, ["d"]).select(
        "cents", F.col("offset").alias("i")
    )
    n = idx.agg(F.count(F.lit(1)).cast("long").alias("n"))
    b = daily.sparkSession.range(BOOT_B).select(F.col("id").cast("long").alias("b"))
    positions = idx.select("i")
    draws = (
        b.crossJoin(positions)
        .crossJoin(F.broadcast(n))
        .select(
            "b",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("b").cast("string"),
                                F.lit(":"),
                                F.col("i").cast("string"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % F.col("n")
            ).alias("pick"),
        )
    )
    reps = (
        draws.join(F.broadcast(idx.select(F.col("i").alias("pick"), "cents")), "pick")
        .groupBy("b")
        .agg(_intdiv(F.sum("cents"), F.count(F.lit(1))).alias("mean_cents"))
    )
    return reps.crossJoin(F.broadcast(n)).agg(
        F.first("n").alias("n_days"),
        F.max(F.lit(BOOT_B)).cast("long").alias("n_replicates"),
        F.min("mean_cents").alias("mean_min_cents"),
        F.expr("percentile_disc(0.1) WITHIN GROUP (ORDER BY mean_cents)")
        .cast("long")
        .alias("mean_p10_cents"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY mean_cents)")
        .cast("long")
        .alias("mean_p50_cents"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY mean_cents)")
        .cast("long")
        .alias("mean_p90_cents"),
        F.max("mean_cents").alias("mean_max_cents"),
    )


@register(
    "stats_quantile_bands_exact",
    doc="Exact discrete quantile bands (p10/p50/p90) of the purchase "
    "value per event type, computed on the distinct-cents spine: "
    "per-(type, cents) counts, a cumulative count window partitioned "
    "by the type key (a real key — never a global frame), and the "
    "band value = smallest cents with cum*10 >= n*q. No per-row "
    "ranking, no interpolation, no floats — the quantile-band shape "
    "that scales to 100 TB because state is one row per distinct "
    "value, not per event. Complements the KS/Mann-Whitney spine "
    "machinery with the point-estimate view.",
    oracle="""
WITH pv AS (
    SELECT event_type,
           CAST(CAST(value AS DECIMAL(12,4)) * 100 AS BIGINT) AS cents,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM events GROUP BY 1, 2
),
cum AS (
    SELECT event_type, cents, c,
           SUM(c) OVER (PARTITION BY event_type ORDER BY cents
                        ROWS UNBOUNDED PRECEDING) AS cum,
           SUM(c) OVER (PARTITION BY event_type) AS n
    FROM pv
)
SELECT event_type,
       CAST(MAX(n) AS BIGINT) AS n,
       CAST(MIN(CASE WHEN cum * 10 >= n * 1 THEN cents END) AS BIGINT) AS p10_cents,
       CAST(MIN(CASE WHEN cum * 10 >= n * 5 THEN cents END) AS BIGINT) AS p50_cents,
       CAST(MIN(CASE WHEN cum * 10 >= n * 9 THEN cents END) AS BIGINT) AS p90_cents
FROM cum
GROUP BY event_type
ORDER BY event_type
""",
)
def stats_quantile_bands_exact(spark, sf_dir):
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    pv = ev.groupBy(
        "event_type",
        (dec("value") * 100).cast("long").alias("cents"),
    ).agg(bigint(F.count(F.lit(1))).alias("c"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = Window.partitionBy("event_type")
    cum = pv.select(
        "event_type",
        "cents",
        F.sum("c").over(w).alias("cum"),
        F.sum("c").over(wn).alias("n"),
    )
    band = lambda q: bigint(  # noqa: E731
        F.min(F.when(F.col("cum") * 10 >= F.col("n") * q, F.col("cents")))
    )
    return (
        cum.groupBy("event_type")
        .agg(
            bigint(F.max("n")).alias("n"),
            band(1).alias("p10_cents"),
            band(5).alias("p50_cents"),
            band(9).alias("p90_cents"),
        )
        .orderBy("event_type")
    )


@register(
    "stats_spearman_rho",
    doc="Spearman rank correlation between per-user click activity and "
    "purchase spend — the monotone-association screen (does engagement "
    "track revenue?) kept EXACT: tie-corrected midranks come from "
    "per-distinct-value counts via the two-phase exclusive prefix sum "
    "(2*midrank = 2*cum_before + cnt + 1 — the Mann-Whitney spine, "
    "never a per-row global ranking), rank differences stay in doubled "
    "integer units (sum_e2 = 4*sum d^2), and rho uses the classic "
    "6*sum(d^2)/(n(n^2-1)) formulation reported in truncated basis "
    "points via BIGINT division (Spark DIV and DuckDB // both truncate "
    "toward zero, so negative rho agrees). Exact through int64 while "
    "30000*n^3 < 2^63 (n ~ 6e4 users; beyond that switch the final "
    "division to decimal(38,0)).",
    oracle="""
WITH u AS (
    SELECT user_id,
           CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS x,
           CAST(COALESCE(SUM(CAST(value AS DECIMAL(12,4)) * 100)
                         FILTER (WHERE event_type = 'purchase'), 0) AS BIGINT) AS y
    FROM events GROUP BY user_id
),
rx AS (
    SELECT x, 2 * (SUM(c) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) - c) + c + 1
              AS r2
    FROM (SELECT x, CAST(COUNT(*) AS BIGINT) AS c FROM u GROUP BY x)
),
ry AS (
    SELECT y, 2 * (SUM(c) OVER (ORDER BY y ROWS UNBOUNDED PRECEDING) - c) + c + 1
              AS r2
    FROM (SELECT y, CAST(COUNT(*) AS BIGINT) AS c FROM u GROUP BY y)
),
e AS (
    SELECT u.user_id, rx.r2 - ry.r2 AS e
    FROM u JOIN rx ON rx.x = u.x JOIN ry ON ry.y = u.y
),
agg AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COALESCE(SUM(e * e), 0) AS BIGINT) AS sum_e2
    FROM e
)
SELECT n, sum_e2,
       CAST(CASE WHEN n > 1
            THEN (10000 * (2 * n * (n * n - 1) - 3 * sum_e2))
                 // (2 * n * (n * n - 1))
            ELSE 0 END AS BIGINT) AS rho_bp
FROM agg
""",
)
def stats_spearman_rho(spark, sf_dir):
    from cascade_spark.operators.ingest import assign_prefix_sum

    ev = t(spark, sf_dir, "events")
    # referenced 3x (the pair join + both midrank aggregates): without a
    # barrier each reference re-runs the events scan + user aggregate
    u = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("x"),
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "purchase", dec("value") * 100)),
            F.lit(0),
        )
        .cast("long")
        .alias("y"),
    ).transform(barrier)

    def midranks(col):
        c = u.groupBy(col).agg(F.count(F.lit(1)).cast("long").alias("c"))
        p = assign_prefix_sum(c, [col], "c")
        return p.select(
            col, (2 * F.col("prefix_sum") + F.col("c") + 1).alias(f"r2_{col}")
        )

    e = (
        u.join(midranks("x"), "x")
        .join(midranks("y"), "y")
        .select((F.col("r2_x") - F.col("r2_y")).alias("e"))
    )
    agg = e.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.coalesce(F.sum(F.col("e") * F.col("e")), F.lit(0))
        .cast("long")
        .alias("sum_e2"),
    )
    return agg.select(
        "n",
        "sum_e2",
        F.when(
            F.col("n") > 1,
            F.expr(
                "(10000 * (2 * n * (n * n - 1) - 3 * sum_e2))"
                " DIV (2 * n * (n * n - 1))"
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("rho_bp"),
    )


@register(
    "stats_welch_ttest",
    doc="Welch's unequal-variance t-test between every pair of event "
    "types (10 pairs over 5 types): per-type sufficient statistics "
    "(n, sum-cents, sum-cents-squared) are EXACT int64 from one "
    "map-side-combinable pass; t and the Welch-Satterthwaite df are "
    "then ONE mirrored IEEE expression over those integers, evaluated "
    "operand-for-operand identically in both engines (the "
    "stats_skew_kurtosis determinism pattern) and rounded at the end. "
    "The pair join is over 5 aggregate rows — broadcast-trivial at any "
    "corpus scale; 100 TB of raw events only ever feeds the one "
    "sufficient-stats pass.",
    oracle="""
WITH s AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(CAST(value AS DECIMAL(12,4)) * 100 AS BIGINT))
                AS BIGINT) AS sc,
           CAST(SUM(CAST(CAST(value AS DECIMAL(12,4)) * 100 AS BIGINT)
                    * CAST(CAST(value AS DECIMAL(12,4)) * 100 AS BIGINT))
                AS BIGINT) AS qc
    FROM events GROUP BY 1
),
p AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           a.n AS n_a, b.n AS n_b,
           CAST(a.sc AS DOUBLE) / CAST(a.n AS DOUBLE) AS m_a,
           CAST(b.sc AS DOUBLE) / CAST(b.n AS DOUBLE) AS m_b,
           (CAST(a.qc AS DOUBLE)
            - CAST(a.sc AS DOUBLE) * CAST(a.sc AS DOUBLE)
              / CAST(a.n AS DOUBLE)) / CAST(a.n - 1 AS DOUBLE) AS v_a,
           (CAST(b.qc AS DOUBLE)
            - CAST(b.sc AS DOUBLE) * CAST(b.sc AS DOUBLE)
              / CAST(b.n AS DOUBLE)) / CAST(b.n - 1 AS DOUBLE) AS v_b
    FROM s a JOIN s b ON a.event_type < b.event_type
)
SELECT type_a, type_b, n_a, n_b,
       ROUND((m_a - m_b) / SQRT(v_a / CAST(n_a AS DOUBLE)
                                + v_b / CAST(n_b AS DOUBLE)), 6) AS t_stat,
       ROUND((v_a / CAST(n_a AS DOUBLE) + v_b / CAST(n_b AS DOUBLE))
             * (v_a / CAST(n_a AS DOUBLE) + v_b / CAST(n_b AS DOUBLE))
             / ((v_a / CAST(n_a AS DOUBLE)) * (v_a / CAST(n_a AS DOUBLE))
                / CAST(n_a - 1 AS DOUBLE)
                + (v_b / CAST(n_b AS DOUBLE)) * (v_b / CAST(n_b AS DOUBLE))
                  / CAST(n_b - 1 AS DOUBLE)), 2) AS welch_df,
       CAST(CASE WHEN ABS(ROUND((m_a - m_b)
                 / SQRT(v_a / CAST(n_a AS DOUBLE)
                        + v_b / CAST(n_b AS DOUBLE)), 6)) > 2.576
            THEN 1 ELSE 0 END AS BIGINT) AS significant
FROM p
ORDER BY type_a, type_b
""",
)
def stats_welch_ttest(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    cents = (dec("value") * 100).cast("long")
    s = ev.groupBy("event_type").agg(
        bigint(F.count(F.lit(1))).alias("n"),
        bigint(F.sum(cents)).alias("sc"),
        bigint(F.sum(cents * cents)).alias("qc"),
    )
    a, b = s.alias("a"), s.alias("b")
    j = a.join(
        F.broadcast(b), F.col("a.event_type") < F.col("b.event_type")
    )

    def mean(side):
        return F.col(f"{side}.sc").cast("double") / F.col(f"{side}.n").cast(
            "double"
        )

    def var(side):
        return (
            F.col(f"{side}.qc").cast("double")
            - F.col(f"{side}.sc").cast("double")
            * F.col(f"{side}.sc").cast("double")
            / F.col(f"{side}.n").cast("double")
        ) / (F.col(f"{side}.n") - 1).cast("double")

    se_a = var("a") / F.col("a.n").cast("double")
    se_b = var("b") / F.col("b.n").cast("double")
    t_stat = F.round((mean("a") - mean("b")) / F.sqrt(se_a + se_b), 6)
    df = F.round(
        (se_a + se_b)
        * (se_a + se_b)
        / (
            se_a * se_a / (F.col("a.n") - 1).cast("double")
            + se_b * se_b / (F.col("b.n") - 1).cast("double")
        ),
        2,
    )
    return j.select(
        F.col("a.event_type").alias("type_a"),
        F.col("b.event_type").alias("type_b"),
        F.col("a.n").alias("n_a"),
        F.col("b.n").alias("n_b"),
        t_stat.alias("t_stat"),
        df.alias("welch_df"),
        (F.abs(t_stat) > 2.576).cast("long").alias("significant"),
    ).orderBy("type_a", "type_b")


@register(
    "stats_cramers_v",
    doc="Cramer's V association strength for the (event_type x ISO "
    "weekday) contingency table — the normalized companion of "
    "stats_chisq_independence (chi-square grows with n; V in [0,1] is "
    "comparable across table sizes). EXACT integer pipeline: per-cell "
    "chi-square contribution floor-scaled to micro-units via wide "
    "DECIMAL integer division (d^2 can exceed int64 at sf >= 1, so "
    "d^2*10^6 runs in decimal(38,0) DIV / HUGEINT //), summed, then "
    "V_bp = isqrt(10^8 * chi2 / (n * (min(R,C) - 1))) with the "
    "off-by-one-corrected integer sqrt. Per-cell truncation bias "
    "< n_cells micro-units, identical in both engines by construction. "
    "One contingency pass; everything downstream is on <= 35 rows.",
    oracle=f"""
WITH cells AS (
    SELECT event_type, ISODOW(CAST(ts AS DATE)) AS dow,
           CAST(COUNT(*) AS BIGINT) AS o
    FROM events GROUP BY 1, 2
),
r AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY 1),
c AS (SELECT dow, CAST(SUM(o) AS BIGINT) AS c FROM cells GROUP BY 1),
n AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
             CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_r,
             CAST(COUNT(DISTINCT dow) AS BIGINT) AS n_c
      FROM cells),
terms AS (
    SELECT CAST((CAST(cells.o * n.n - r.r * c.c AS HUGEINT)
                 * (cells.o * n.n - r.r * c.c) * 1000000)
                // (CAST(n.n AS HUGEINT) * r.r * c.c) AS BIGINT) AS tm
    FROM cells, n
    JOIN r ON r.event_type = cells.event_type
    JOIN c ON c.dow = cells.dow
),
chi AS (SELECT CAST(SUM(tm) AS BIGINT) AS chi2_micro FROM terms)
SELECT n.n, n.n_r AS r_levels, n.n_c AS c_levels, chi.chi2_micro,
       {_sql_isqrt("(chi.chi2_micro * 100 // (n.n * (LEAST(n.n_r, n.n_c) - 1)))")}
           AS v_bp
FROM chi, n
""",
)
def stats_cramers_v(spark, sf_dir):
    from cascade_spark.operators.inference_extra import _contingency_cells

    cells = _contingency_cells(spark, sf_dir)
    r = cells.groupBy("event_type").agg(bigint(F.sum("o")).alias("r"))
    c = cells.groupBy("dow").agg(bigint(F.sum("o")).alias("c"))
    n = cells.agg(
        bigint(F.sum("o")).alias("n"),
        bigint(F.countDistinct("event_type")).alias("n_r"),
        bigint(F.countDistinct("dow")).alias("n_c"),
    )
    j = (
        cells.join(F.broadcast(r), "event_type")
        .join(F.broadcast(c), "dow")
        .crossJoin(F.broadcast(n))
    )
    term = F.expr(
        "CAST((CAST(o * n - r * c AS DECIMAL(38,0))"
        " * CAST(o * n - r * c AS DECIMAL(38,0)) * 1000000)"
        " DIV (CAST(n AS DECIMAL(38,0)) * r * c) AS BIGINT)"
    )
    chi = j.select(
        term.alias("tm"), "n", "n_r", "n_c"
    ).groupBy("n", "n_r", "n_c").agg(bigint(F.sum("tm")).alias("chi2_micro"))
    v2 = F.expr(
        "chi2_micro * 100 DIV (n * (LEAST(n_r, n_c) - 1))"
    )
    return chi.select(
        "n",
        F.col("n_r").alias("r_levels"),
        F.col("n_c").alias("c_levels"),
        "chi2_micro",
        _isqrt(v2).alias("v_bp"),
    )


@register(
    "stats_mann_kendall_trend",
    doc="Mann-Kendall trend test per event type over the daily-count "
    "spine: S = sum of sign(n_j - n_i) over all day pairs i<j, the "
    "tie-corrected tau-b denominator sqrt(n0*(n0-T)) (days are "
    "distinct so only the count side carries ties), and tau in "
    "truncated basis points via integer isqrt — Spark DIV and DuckDB "
    "// both truncate toward zero, so a negative tau agrees "
    "(stats_spearman_rho's pinned parity). The pairwise join runs on "
    "the AGGREGATED per-day spine — bounded by the time span (30 "
    "days -> 435 pairs/type), never by raw row count, which is what "
    "makes the O(d^2) shape safe at 100 TB.",
    oracle=f"""
WITH daily AS (
    SELECT event_type, DATE_TRUNC('day', ts) AS d,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
),
pairs AS (
    SELECT a.event_type,
           CAST(SUM(CASE WHEN b.n > a.n THEN 1
                         WHEN b.n < a.n THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
    FROM daily a JOIN daily b
      ON a.event_type = b.event_type AND a.d < b.d
    GROUP BY a.event_type
),
ties AS (
    SELECT event_type,
           CAST(SUM(g * (g - 1) / 2) AS BIGINT) AS t_ties,
           CAST(SUM(g) AS BIGINT) AS n_days
    FROM (SELECT event_type, n, CAST(COUNT(*) AS BIGINT) AS g
          FROM daily GROUP BY 1, 2)
    GROUP BY event_type
),
joined AS (
    SELECT p.event_type, t.n_days, p.s_stat,
           CAST(t.n_days * (t.n_days - 1) / 2 AS BIGINT) AS n0,
           t.t_ties
    FROM pairs p JOIN ties t ON t.event_type = p.event_type
)
SELECT event_type, n_days, s_stat, n0, t_ties,
       CAST(s_stat * 10000 // {_sql_isqrt('(n0 * (n0 - t_ties))')}
            AS BIGINT) AS tau_b_bp
FROM joined
ORDER BY event_type
""",
)
def stats_mann_kendall_trend(spark, sf_dir):
    from cascade_spark.operators.analytics_extra import _isqrt

    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = daily.select(
        F.col("event_type").alias("et"), F.col("d").alias("da"), F.col("n").alias("na")
    )
    b = daily.select(
        F.col("event_type").alias("et"), F.col("d").alias("db"), F.col("n").alias("nb")
    )
    pairs = (
        a.join(b, "et")
        .filter(F.col("da") < F.col("db"))
        .groupBy("et")
        .agg(
            F.sum(
                F.when(F.col("nb") > F.col("na"), 1)
                .when(F.col("nb") < F.col("na"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s_stat")
        )
    )
    ties = (
        daily.groupBy("event_type", "n")
        .agg(F.count(F.lit(1)).cast("long").alias("g"))
        .groupBy("event_type")
        .agg(
            F.sum(F.expr("g * (g - 1) / 2")).cast("long").alias("t_ties"),
            F.sum("g").cast("long").alias("n_days"),
        )
    )
    n0 = (F.col("n_days") * (F.col("n_days") - 1) / 2).cast("long")
    joined = pairs.join(
        ties, pairs.et == ties.event_type
    ).select("event_type", "n_days", "s_stat", n0.alias("n0"), "t_ties")
    den = _isqrt(F.col("n0") * (F.col("n0") - F.col("t_ties")))
    return (
        joined.withColumn("_den", den)
        .select(
            "event_type",
            "n_days",
            "s_stat",
            "n0",
            "t_ties",
            F.expr("s_stat * 10000 DIV _den").cast("long").alias("tau_b_bp"),
        )
        .orderBy("event_type")
    )


@register(
    "stats_mwu_pairwise_matrix",
    doc="Mann-Whitney U between EVERY pair of event types (the all-pairs "
    "matrix; stats_mannwhitney_u is the single-pair click-vs-purchase "
    "sibling), exactly: per-pair pooled midranks come from the "
    "(pair, cents)-aggregated spine — ranks double-scaled to stay "
    "integer under .5 midranks (midrank_x2 = 2*cum_before + cnt + 1, "
    "the stats_spearman_rho trick), U1_x2 = R1_x2 - n1(n1+1), and "
    "the rank-biserial AUC effect size U1/(n1*n2) in truncated bp. "
    "The per-pair window runs over the DISTINCT-cents spine of that "
    "pair (bounded by value cardinality, not row count) and raw "
    "events are aggregated to (type, cents) counts BEFORE the 4x "
    "pair fan-out, so the shuffled volume is histogram-sized at any "
    "scale.",
    oracle="""
WITH h AS (
    SELECT event_type AS et,
           CAST(CAST(value AS DECIMAL(12,4)) * 100 AS BIGINT) AS c,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
),
types AS (SELECT DISTINCT et FROM h),
pairs AS (
    SELECT a.et AS ta, b.et AS tb
    FROM types a JOIN types b ON a.et < b.et
),
spine AS (
    SELECT p.ta, p.tb, h.c,
           CAST(SUM(CASE WHEN h.et = p.ta THEN h.n ELSE 0 END) AS BIGINT) AS na,
           CAST(SUM(CASE WHEN h.et = p.tb THEN h.n ELSE 0 END) AS BIGINT) AS nb
    FROM pairs p JOIN h ON h.et IN (p.ta, p.tb)
    GROUP BY 1, 2, 3
),
ranked AS (
    SELECT ta, tb, c, na, nb,
           2 * COALESCE(SUM(na + nb) OVER (
               PARTITION BY ta, tb ORDER BY c
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + (na + nb) + 1 AS midrank_x2
    FROM spine
),
agg AS (
    SELECT ta AS type_a, tb AS type_b,
           CAST(SUM(na) AS BIGINT) AS n_a,
           CAST(SUM(nb) AS BIGINT) AS n_b,
           CAST(SUM(na * midrank_x2) AS BIGINT) AS r1_x2
    FROM ranked GROUP BY 1, 2
)
SELECT type_a, type_b, n_a, n_b,
       CAST(r1_x2 - n_a * (n_a + 1) AS BIGINT) AS u1_x2,
       CAST((r1_x2 - n_a * (n_a + 1)) * 10000 // (2 * n_a * n_b)
            AS BIGINT) AS auc_bp
FROM agg
ORDER BY type_a, type_b
""",
)
def stats_mwu_pairwise_matrix(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    h = ev.groupBy(
        F.col("event_type").alias("et"),
        (F.col("value").cast("decimal(12,4)") * 100).cast("long").alias("c"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    types = h.select("et").distinct()
    pairs = (
        types.alias("a")
        .join(types.alias("b"), F.col("a.et") < F.col("b.et"))
        .select(F.col("a.et").alias("ta"), F.col("b.et").alias("tb"))
    )
    spine = (
        h.join(F.broadcast(pairs), (h.et == F.col("ta")) | (h.et == F.col("tb")))
        .groupBy("ta", "tb", "c")
        .agg(
            F.sum(F.when(F.col("et") == F.col("ta"), F.col("n")).otherwise(0))
            .cast("long")
            .alias("na"),
            F.sum(F.when(F.col("et") == F.col("tb"), F.col("n")).otherwise(0))
            .cast("long")
            .alias("nb"),
        )
    )
    w = (
        Window.partitionBy("ta", "tb")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = spine.withColumn(
        "midrank_x2",
        2 * F.coalesce(F.sum(F.col("na") + F.col("nb")).over(w), F.lit(0))
        + (F.col("na") + F.col("nb"))
        + 1,
    )
    agg = ranked.groupBy(
        F.col("ta").alias("type_a"), F.col("tb").alias("type_b")
    ).agg(
        F.sum("na").cast("long").alias("n_a"),
        F.sum("nb").cast("long").alias("n_b"),
        F.sum(F.col("na") * F.col("midrank_x2")).cast("long").alias("r1_x2"),
    )
    u1 = F.col("r1_x2") - F.col("n_a") * (F.col("n_a") + 1)
    return agg.select(
        "type_a",
        "type_b",
        "n_a",
        "n_b",
        u1.cast("long").alias("u1_x2"),
        F.expr("(r1_x2 - n_a * (n_a + 1)) * 10000 DIV (2 * n_a * n_b)")
        .cast("long")
        .alias("auc_bp"),
    ).orderBy("type_a", "type_b")


@register(
    "stats_theil_sen_trend",
    doc="Theil-Sen robust trend per event type: the MEDIAN of all "
    "pairwise daily-count slopes — outlier days move the estimate "
    "far less than least-squares (agg_trend_regression is the L2 "
    "twin). Slopes are truncated basis points (dn*10000 DIV dd, "
    "toward-zero parity in both engines); the median over the "
    "doubled-rank trick (sum of the two middle order statistics, "
    "exact for even and odd counts without interpolation IEEE). The "
    "O(d^2) pair join runs on the AGGREGATED per-day spine "
    "(30 days -> 435 slopes per type), bounded by time span at any "
    "corpus scale.",
    oracle="""
WITH daily AS (
    SELECT event_type, CAST(DATE_TRUNC('day', ts) AS DATE) AS d,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
),
slopes AS (
    SELECT a.event_type,
           (b.n - a.n) * 10000 // DATE_DIFF('day', a.d, b.d) AS slope_bp
    FROM daily a JOIN daily b
      ON a.event_type = b.event_type AND a.d < b.d
),
ranked AS (
    SELECT event_type, slope_bp,
           ROW_NUMBER() OVER (PARTITION BY event_type
                              ORDER BY slope_bp) AS rk,
           COUNT(*) OVER (PARTITION BY event_type) AS m
    FROM slopes
)
SELECT event_type,
       CAST(MAX(m) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN rk IN ((m + 1) // 2, (m + 2) // 2)
                     THEN slope_bp ELSE 0 END)
            * CASE WHEN (MAX(m) + 1) // 2 = (MAX(m) + 2) // 2
                   THEN 2 ELSE 1 END
            AS BIGINT) AS median_slope_x2_bp
FROM ranked
GROUP BY event_type
ORDER BY event_type
""",
)
def stats_theil_sen_trend(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = daily.select(
        F.col("event_type").alias("et"), F.col("d").alias("da"), F.col("n").alias("na")
    )
    b = daily.select(
        F.col("event_type").alias("et"), F.col("d").alias("db"), F.col("n").alias("nb")
    )
    slopes = (
        a.join(b, "et")
        .filter(F.col("da") < F.col("db"))
        .select(
            "et",
            F.expr("(nb - na) * 10000 DIV datediff(db, da)").alias("slope_bp"),
        )
    )
    w = Window.partitionBy("et").orderBy("slope_bp")
    ranked = slopes.select(
        "et",
        "slope_bp",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("et")).alias("m"),
    )
    lo = F.expr("(m + 1) DIV 2")
    hi = F.expr("(m + 2) DIV 2")
    return (
        ranked.groupBy(F.col("et").alias("event_type"))
        .agg(
            F.max("m").cast("long").alias("n_pairs"),
            (
                F.sum(
                    F.when(
                        (F.col("rk") == lo) | (F.col("rk") == hi),
                        F.col("slope_bp"),
                    ).otherwise(0)
                )
                * F.max(F.when(lo == hi, 2).otherwise(1))
            )
            .cast("long")
            .alias("median_slope_x2_bp"),
        )
        .orderBy("event_type")
    )


@register(
    "stats_kruskal_wallis",
    doc="Kruskal-Wallis k-group rank test — the k-sample extension of "
    "stats_mannwhitney_u: are the five event types' DAILY VOLUMES drawn "
    "from one distribution? The sample is the full (type x day) grid "
    "(absent cells count 0, so every group has exactly n_days "
    "observations — the equal-n regime that keeps the H formula one "
    "exact rational). Doubled tie-correct midranks ride the same "
    "distinct-value prefix-sum spine as MWU/KS (2*midrank = 2*cum_before "
    "+ ct + 1; never a per-row global rank), H = 3*(S - D*N*(N+1)^2) / "
    "(D*N*(N+1)) with S = sum of squared doubled rank sums, and the "
    "tie-corrected H' multiplies by (N^3-N)/(N^3-N-sum(t^3-t)). Both "
    "reported in floor bp via decimal(38,0) (HUGEINT on the oracle "
    "side). The spine is bounded by k*n_days — spans, not rows — so the "
    "whole test costs one groupBy at any corpus size.",
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
gr AS (
    SELECT c.event_type, CAST(SUM(2 * m.cb + m.ct + 1) AS BIGINT) AS two_r
    FROM cell c JOIN cum m ON m.v = c.v
    GROUP BY c.event_type
),
scal AS (
    SELECT CAST((SELECT COUNT(*) FROM types) AS BIGINT) AS k,
           CAST((SELECT COUNT(*) FROM days) AS BIGINT) AS d,
           (SELECT CAST(SUM(ct) AS BIGINT) FROM pv) AS n,
           (SELECT CAST(SUM(ct*ct*ct - ct) AS BIGINT) FROM pv) AS tie_mass,
           (SELECT SUM(CAST(two_r AS HUGEINT) * two_r) FROM gr) AS s
)
SELECT k AS n_groups, d AS n_days, n AS n_total, tie_mass,
       CAST((10000 * 3 * (s - CAST(d AS HUGEINT) * n * (n+1) * (n+1)))
            // (CAST(d AS HUGEINT) * n * (n+1)) AS BIGINT) AS h_bp,
       CAST(COALESCE(
           (10000 * 3 * (CAST(n AS HUGEINT)*n*n - n)
                    * (s - CAST(d AS HUGEINT) * n * (n+1) * (n+1)))
           // NULLIF(CAST(d AS HUGEINT) * n * (n+1)
                     * (CAST(n AS HUGEINT)*n*n - n - tie_mass), 0),
           0) AS BIGINT) AS h_tie_bp
FROM scal
""",
)
def stats_kruskal_wallis(spark, sf_dir):
    from cascade_spark.operators.estimation import _grid
    from cascade_spark.operators.ingest import assign_prefix_sum

    cell = _grid(spark, sf_dir)
    days = cell.select("day").distinct()
    pv = cell.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("ct"))
    cum = assign_prefix_sum(pv, ["v"], "ct").select(
        "v", "ct", F.col("prefix_sum").alias("cb")
    )
    gr = (
        cell.join(cum, "v")
        .groupBy("event_type")
        .agg(
            F.sum(F.lit(2) * F.col("cb") + F.col("ct") + 1)
            .cast("long")
            .alias("two_r")
        )
    )

    def dec(c):
        return c.cast("decimal(38,0)")

    s = gr.agg(
        F.sum(dec(F.col("two_r")) * F.col("two_r")).cast("decimal(38,0)").alias("s"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    scal = pv.agg(
        F.sum("ct").cast("long").alias("n"),
        F.sum(F.col("ct") * F.col("ct") * F.col("ct") - F.col("ct"))
        .cast("long")
        .alias("tie_mass"),
    )
    d = days.agg(F.count(F.lit(1)).cast("long").alias("d"))
    one = s.crossJoin(F.broadcast(scal)).crossJoin(F.broadcast(d))
    n = F.col("n")
    num_core = F.col("s") - dec(F.col("d")) * n * (n + 1) * (n + 1)
    den_plain = dec(F.col("d")) * n * (n + 1)
    ncube = dec(n) * n * n - n
    tie_den = den_plain * (ncube - F.col("tie_mass"))
    return one.select(
        F.col("k").alias("n_groups"),
        F.col("d").alias("n_days"),
        n.alias("n_total"),
        "tie_mass",
        F.floor(F.lit(30000) * num_core / den_plain).cast("long").alias("h_bp"),
        F.when(tie_den == 0, F.lit(0))
        .otherwise(F.floor(F.lit(30000) * ncube * num_core / tie_den))
        .cast("long")
        .alias("h_tie_bp"),
    )


@register(
    "stats_brown_forsythe",
    doc="Brown-Forsythe variance-equality test across the five event "
    "types' DAILY volumes (the robust Levene variant: deviations from "
    "the group MEDIAN, not mean — one hot day can't fake homogeneity). "
    "Same (type x day) zero-filled grid as stats_kruskal_wallis, so "
    "every group has exactly n_days observations and the one-way "
    "ANOVA F over |deviations| collapses to one exact rational: "
    "F = (N-k)*(k*ΣSj² - S²) / ((k-1)*(N*Σz² - k*ΣSj²)) with z the "
    "DOUBLED |2v - median2| deviations (doubled medians stay integers "
    "at even group sizes; the 2x scale cancels in the ratio). Medians "
    "come from per-group windows over the D-row spine (bounded by the "
    "time span, never rows). Reported in floor bp via HUGEINT/decimal.",
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
dd AS (SELECT CAST(COUNT(*) AS BIGINT) AS d FROM days),
rn AS (
    SELECT event_type, v,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v) AS rk
    FROM cell
),
med AS (
    SELECT rn.event_type,
           CAST(SUM(CASE WHEN rn.rk IN ((dd.d+1)//2, (dd.d+2)//2)
                         THEN rn.v END)
                * (CASE WHEN (dd.d+1)//2 = (dd.d+2)//2 THEN 2 ELSE 1 END)
                AS BIGINT) AS med2
    FROM rn, dd GROUP BY rn.event_type, dd.d
),
z AS (
    SELECT c.event_type, ABS(2 * c.v - m.med2) AS z
    FROM cell c JOIN med m USING (event_type)
),
gs AS (
    SELECT event_type, CAST(SUM(z) AS BIGINT) AS sj,
           CAST(SUM(z * z) AS BIGINT) AS zj2
    FROM z GROUP BY event_type
),
tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS k,
           CAST(SUM(sj) AS BIGINT) AS s,
           SUM(CAST(sj AS HUGEINT) * sj) AS ssj2,
           CAST(SUM(zj2) AS BIGINT) AS z2
    FROM gs
)
SELECT tot.k AS n_groups, dd.d AS n_days,
       CAST(tot.k * dd.d AS BIGINT) AS n_total,
       tot.s AS total_abs_dev2,
       CAST(COALESCE(
           (10000 * (tot.k * dd.d - tot.k)
                  * (tot.k * tot.ssj2 - CAST(tot.s AS HUGEINT) * tot.s))
           // NULLIF((tot.k - 1)
                  * (CAST(tot.k * dd.d AS HUGEINT) * tot.z2 - tot.k * tot.ssj2), 0),
           0) AS BIGINT) AS f_bp
FROM tot, dd
""",
)
def stats_brown_forsythe(spark, sf_dir):
    from pyspark.sql import Window

    from cascade_spark.operators.estimation import _grid

    g = _grid(spark, sf_dir)
    cell = g.select("event_type", "v")
    dd = g.select("day").distinct().agg(F.count(F.lit(1)).cast("long").alias("d"))
    w = Window.partitionBy("event_type").orderBy("v")
    rn = cell.select("event_type", "v", F.row_number().over(w).alias("rk"))
    lo = F.expr("(d + 1) DIV 2")
    hi = F.expr("(d + 2) DIV 2")
    med = (
        rn.crossJoin(F.broadcast(dd))
        .groupBy("event_type")
        .agg(
            (
                F.sum(
                    F.when((F.col("rk") == lo) | (F.col("rk") == hi), F.col("v"))
                    .otherwise(0)
                )
                * F.max(F.when(lo == hi, 2).otherwise(1))
            )
            .cast("long")
            .alias("med2")
        )
    )
    z = cell.join(med, "event_type").select(
        "event_type", F.abs(F.lit(2) * F.col("v") - F.col("med2")).alias("z")
    )
    gs = z.groupBy("event_type").agg(
        F.sum("z").cast("long").alias("sj"),
        F.sum(F.col("z") * F.col("z")).cast("long").alias("zj2"),
    )

    def dec(c):
        return c.cast("decimal(38,0)")

    tot = gs.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("sj").cast("long").alias("s"),
        F.sum(dec(F.col("sj")) * F.col("sj")).cast("decimal(38,0)").alias("ssj2"),
        F.sum("zj2").cast("long").alias("z2"),
    )
    one = tot.crossJoin(F.broadcast(dd))
    n = F.col("k") * F.col("d")
    num = (
        F.lit(10000)
        * (n - F.col("k"))
        * (F.col("k") * F.col("ssj2") - dec(F.col("s")) * F.col("s"))
    )
    den = (F.col("k") - 1) * (dec(n) * F.col("z2") - F.col("k") * F.col("ssj2"))
    return one.select(
        F.col("k").alias("n_groups"),
        F.col("d").alias("n_days"),
        n.cast("long").alias("n_total"),
        F.col("s").alias("total_abs_dev2"),
        # F >= 0, so floor == DuckDB's truncating // here
        F.when(den == 0, F.lit(0))
        .otherwise(F.floor(num / den))
        .cast("long")
        .alias("f_bp"),
    )


PERM_B = 16  # randomization replicates


@register(
    "stats_permutation_test",
    doc=f"Randomization test for the weekend-vs-weekday daily revenue "
    f"gap: {PERM_B} md5-derived relabelings of the day spine (the "
    "deterministic-hash stand-in for RNG shuffles, same convention as "
    "stats_bootstrap_mean_ci), each replicate's |mean difference| "
    "compared against the observed one EXACTLY by cross-multiplication "
    "(|Δ_b|·D_obs >= |Δ_obs|·D_b with Δ = s1·n0 - s0·n1, D = n1·n0 — "
    "no division until the final p), p = (1 + #exceeding)/(B+1) in "
    "floor bp. The day spine is bounded by the time span, so all "
    f"{PERM_B} replicates ride one broadcast cross join.",
    oracle=f"""
WITH daily AS (
    SELECT o_orderdate AS d,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4)) * 100) AS BIGINT) AS cents,
           CASE WHEN ISODOW(o_orderdate) >= 6 THEN 1 ELSE 0 END AS g
    FROM orders GROUP BY 1
),
idx AS (
    SELECT cents, g,
           ROW_NUMBER() OVER (ORDER BY d) - 1 AS i
    FROM daily
),
obs AS (
    SELECT CAST(SUM(CASE WHEN g = 1 THEN cents ELSE 0 END) AS HUGEINT) AS s1,
           CAST(SUM(CASE WHEN g = 0 THEN cents ELSE 0 END) AS HUGEINT) AS s0,
           CAST(SUM(g) AS BIGINT) AS n1,
           CAST(COUNT(*) - SUM(g) AS BIGINT) AS n0,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM idx
),
reps AS (
    SELECT b.b,
           CAST(SUM(CASE WHEN ('0x' || SUBSTR(MD5(b.b || ':' || i.i), 1, 8))::BIGINT & 1 = 1
                         THEN i.cents ELSE 0 END) AS HUGEINT) AS s1,
           CAST(SUM(CASE WHEN ('0x' || SUBSTR(MD5(b.b || ':' || i.i), 1, 8))::BIGINT & 1 = 0
                         THEN i.cents ELSE 0 END) AS HUGEINT) AS s0,
           CAST(SUM(CASE WHEN ('0x' || SUBSTR(MD5(b.b || ':' || i.i), 1, 8))::BIGINT & 1 = 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS n1,
           CAST(SUM(CASE WHEN ('0x' || SUBSTR(MD5(b.b || ':' || i.i), 1, 8))::BIGINT & 1 = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n0
    FROM (SELECT UNNEST(GENERATE_SERIES(0, {PERM_B - 1})) AS b) b
    CROSS JOIN idx i
    GROUP BY b.b
),
cmp AS (
    SELECT r.b,
           CASE WHEN r.n1 = 0 OR r.n0 = 0 THEN 0
                WHEN ABS(r.s1 * r.n0 - r.s0 * r.n1) * (o.n1 * o.n0)
                     >= ABS(o.s1 * o.n0 - o.s0 * o.n1) * (r.n1 * r.n0)
                THEN 1 ELSE 0 END AS ge
    FROM reps r, obs o
)
SELECT o.n AS n_days, o.n1 AS n_weekend, o.n0 AS n_weekday,
       CAST(ABS(o.s1 * o.n0 - o.s0 * o.n1) AS BIGINT) AS obs_delta_num,
       CAST((SELECT SUM(ge) FROM cmp) AS BIGINT) AS n_exceeding,
       CAST(10000 * (1 + (SELECT SUM(ge) FROM cmp)) // ({PERM_B} + 1) AS BIGINT)
           AS p_bp
FROM obs o
""",
)
def stats_permutation_test(spark, sf_dir):
    from cascade_spark.operators._util import _intdiv
    from cascade_spark.operators.ingest import assign_offsets

    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        (F.sum(dec("o_totalprice")) * 100).cast("long").alias("cents")
    ).withColumn(
        "g", F.when(F.expr("weekday(d)") >= 5, 1).otherwise(0).cast("long")
    )
    idx = assign_offsets(daily, ["d"]).select(
        "cents", "g", F.col("offset").alias("i")
    )

    def dec38(c):
        return c.cast("decimal(38,0)")

    obs = idx.agg(
        dec38(F.sum(F.when(F.col("g") == 1, F.col("cents")).otherwise(0))).alias("s1"),
        dec38(F.sum(F.when(F.col("g") == 0, F.col("cents")).otherwise(0))).alias("s0"),
        F.sum("g").cast("long").alias("n1"),
        (F.count(F.lit(1)) - F.sum("g")).cast("long").alias("n0"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    b = spark.range(PERM_B).select(F.col("id").cast("long").alias("b"))
    bit = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("b").cast("string"), F.lit(":"), F.col("i").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        )
        .cast("long")
        .bitwiseAND(1)
    )
    reps = (
        b.crossJoin(idx)
        .select("b", "cents", bit.alias("bit"))
        .groupBy("b")
        .agg(
            dec38(F.sum(F.when(F.col("bit") == 1, F.col("cents")).otherwise(0))).alias("s1"),
            dec38(F.sum(F.when(F.col("bit") == 0, F.col("cents")).otherwise(0))).alias("s0"),
            F.sum(F.when(F.col("bit") == 1, 1).otherwise(0)).cast("long").alias("n1"),
            F.sum(F.when(F.col("bit") == 0, 1).otherwise(0)).cast("long").alias("n0"),
        )
    )
    ob = F.broadcast(
        obs.select(
            F.col("s1").alias("os1"),
            F.col("s0").alias("os0"),
            F.col("n1").alias("on1"),
            F.col("n0").alias("on0"),
            F.col("n").alias("on"),
        )
    )
    cmp = reps.crossJoin(ob).select(
        F.when(
            (F.col("n1") == 0) | (F.col("n0") == 0), 0
        )
        .when(
            F.abs(F.col("s1") * F.col("n0") - F.col("s0") * F.col("n1"))
            * (F.col("on1") * F.col("on0"))
            >= F.abs(F.col("os1") * F.col("on0") - F.col("os0") * F.col("on1"))
            * (F.col("n1") * F.col("n0")),
            1,
        )
        .otherwise(0)
        .alias("ge")
    )
    ge = cmp.agg(F.sum("ge").cast("long").alias("n_exceeding"))
    return (
        obs.crossJoin(F.broadcast(ge)).select(
            F.col("n").alias("n_days"),
            F.col("n1").alias("n_weekend"),
            F.col("n0").alias("n_weekday"),
            F.abs(F.col("s1") * F.col("n0") - F.col("s0") * F.col("n1"))
            .cast("long")
            .alias("obs_delta_num"),
            "n_exceeding",
            _intdiv(
                F.lit(10000) * (1 + F.col("n_exceeding")), F.lit(PERM_B + 1)
            ).alias("p_bp"),
        )
    )


@register(
    "stats_jackknife_variance",
    doc="Leave-one-out (jackknife) variance of the daily-revenue mean — "
    "the deterministic resampling estimator (no RNG at all, unlike the "
    "bootstrap/permutation twins): with S = Σx and replicate means "
    "θ_i = (S - x_i)/(n-1), the jackknife variance collapses "
    "algebraically to Σ(S - n·x_i)² / (n³(n-1)) — ONE exact rational "
    "over quantities from a single aggregate pass, no per-replicate "
    "recomputation (the naive form re-reads the data n times; at a "
    "100 TB fact that difference is the whole game). Variance in floor "
    "cents², SE as exact integer floor-sqrt (isqrt discipline).",
    oracle="""
WITH daily AS (
    SELECT o_orderdate AS d,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4)) * 100) AS BIGINT) AS x
    FROM orders GROUP BY 1
),
s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx
    FROM daily
),
dev AS (
    SELECT SUM((CAST(s.sx AS HUGEINT) - CAST(s.n AS HUGEINT) * d.x)
               * (CAST(s.sx AS HUGEINT) - CAST(s.n AS HUGEINT) * d.x)) AS ss
    FROM daily d, s
)
SELECT s.n AS n_days, s.sx AS total_cents,
       CAST(dev.ss // (CAST(s.n AS HUGEINT) * s.n * s.n * (s.n - 1)) AS BIGINT)
           AS var_jack_cents2,
       CAST(FLOOR(SQRT(CAST(dev.ss // (CAST(s.n AS HUGEINT) * s.n * s.n * (s.n - 1))
                       AS DOUBLE))) AS BIGINT) AS se_jack_cents
FROM s, dev
""",
)
def stats_jackknife_variance(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        (F.sum(dec("o_totalprice")) * 100).cast("long").alias("x")
    )
    s = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
    )

    def d38(c):
        return c.cast("decimal(38,0)")

    devterm = d38(F.col("sx")) - d38(F.col("n")) * F.col("x")
    dev = daily.crossJoin(F.broadcast(s)).agg(
        F.sum(devterm * devterm).cast("decimal(38,0)").alias("ss"),
        F.max("n").cast("long").alias("n"),
        F.max("sx").cast("long").alias("sx"),
    )
    var_ = F.floor(
        F.col("ss") / (d38(F.col("n")) * F.col("n") * F.col("n") * (F.col("n") - 1))
    ).cast("long")
    return dev.select(
        F.col("n").alias("n_days"),
        F.col("sx").alias("total_cents"),
        var_.alias("var_jack_cents2"),
        F.floor(F.sqrt(var_.cast("double"))).cast("long").alias("se_jack_cents"),
    )


PSI_BUCKETS = 10


@register(
    "events_feature_drift_psi",
    doc=f"Population Stability Index drift monitor: the value-cents "
    f"distribution of the period's FIRST half (reference) vs SECOND "
    f"half (current), over {PSI_BUCKETS} equal-width cent buckets "
    "anchored on the reference min/max (the deployed-model convention: "
    "bins are frozen with the reference). Per bucket: reference and "
    "current shares in exact floor bp and the PSI contribution "
    "(p-q)*ln(p/q) — ROUND(...,6) of a single scalar expression per "
    "row built from exact integer counts, so there is no float "
    "ACCUMULATION anywhere; the total is left to the reader (sum of "
    "the contributions column). Laplace-smoothed counts (+1) keep "
    "empty buckets finite, mirrored in both engines.",
    oracle=f"""
WITH b AS (SELECT CAST(MIN(ts) AS DATE) + 15 AS cutd FROM events),
c AS (
    SELECT CAST(CAST(value AS DECIMAL(12,4)) * 100 AS BIGINT) AS cents,
           CASE WHEN CAST(ts AS DATE) < (SELECT cutd FROM b) THEN 0 ELSE 1 END AS half
    FROM events
),
ref AS (
    SELECT MIN(cents) AS lo, MAX(cents) AS hi FROM c WHERE half = 0
),
bucketed AS (
    SELECT half,
           LEAST({PSI_BUCKETS - 1}, GREATEST(0,
               ({PSI_BUCKETS} * (cents - ref.lo)) // NULLIF(ref.hi - ref.lo, 0)
           )) AS bkt
    FROM c, ref
),
cnt AS (
    SELECT bkt,
           CAST(1 + SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
           CAST(1 + SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
    FROM bucketed GROUP BY bkt
),
tot AS (
    SELECT CAST(SUM(n_ref) AS BIGINT) AS t_ref,
           CAST(SUM(n_cur) AS BIGINT) AS t_cur
    FROM cnt
)
SELECT CAST(bkt AS BIGINT) AS bucket,
       n_ref, n_cur,
       CAST(10000 * n_ref // t_ref AS BIGINT) AS ref_share_bp,
       CAST(10000 * n_cur // t_cur AS BIGINT) AS cur_share_bp,
       ROUND((CAST(n_ref AS DOUBLE) / t_ref - CAST(n_cur AS DOUBLE) / t_cur)
             * LN((CAST(n_ref AS DOUBLE) / t_ref) / (CAST(n_cur AS DOUBLE) / t_cur)),
             6) AS psi_contrib
FROM cnt, tot ORDER BY bucket
""",
)
def events_feature_drift_psi(spark, sf_dir):
    from cascade_spark.operators._util import _intdiv

    ev = t(spark, sf_dir, "events")
    cutd = ev.agg(F.date_add(F.to_date(F.min("ts")), 15).alias("c")).collect()[0]["c"]
    c = ev.select(
        (F.col("value").cast("decimal(12,4)") * 100).cast("long").alias("cents"),
        F.when(F.to_date("ts") < F.lit(cutd), 0).otherwise(1).alias("half"),
    )
    ref = c.filter(F.col("half") == 0).agg(
        F.min("cents").alias("lo"), F.max("cents").alias("hi")
    )
    # integer bucket index with the same truncating division as the
    # oracle's / on positive BIGINTs
    raw = (F.lit(PSI_BUCKETS) * (F.col("cents") - F.col("lo"))) / (
        F.col("hi") - F.col("lo")
    )
    bkt = F.least(
        F.lit(PSI_BUCKETS - 1),
        F.greatest(F.lit(0), F.floor(raw).cast("long")),
    )
    bucketed = c.crossJoin(F.broadcast(ref)).select("half", bkt.alias("bkt"))
    cnt = bucketed.groupBy("bkt").agg(
        (1 + F.sum(F.when(F.col("half") == 0, 1).otherwise(0)))
        .cast("long")
        .alias("n_ref"),
        (1 + F.sum(F.when(F.col("half") == 1, 1).otherwise(0)))
        .cast("long")
        .alias("n_cur"),
    # referenced twice (the totals + the final projection): evaluate
    # the bucket rollup once
    ).transform(barrier)
    tot = cnt.agg(
        F.sum("n_ref").cast("long").alias("t_ref"),
        F.sum("n_cur").cast("long").alias("t_cur"),
    )
    p = F.col("n_ref").cast("double") / F.col("t_ref")
    q = F.col("n_cur").cast("double") / F.col("t_cur")
    return (
        cnt.crossJoin(F.broadcast(tot))
        .select(
            F.col("bkt").cast("long").alias("bucket"),
            "n_ref",
            "n_cur",
            _intdiv(F.lit(10000) * F.col("n_ref"), F.col("t_ref")).alias(
                "ref_share_bp"
            ),
            _intdiv(F.lit(10000) * F.col("n_cur"), F.col("t_cur")).alias(
                "cur_share_bp"
            ),
            F.round((p - q) * F.log(p / q), 6).alias("psi_contrib"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Jonckheere–Terpstra ordered-alternative trend
# ---------------------------------------------------------------------------


@register(
    "stats_jonckheere_terpstra",
    doc="Jonckheere–Terpstra ordered-alternative test across the seven "
    "ISO-weekday groups (dose order = weekday 1..7) of daily event "
    "volume: JT2 = doubled statistic 2*sum_{i<j} U_ij with ties "
    "counted half (U2 = 2*#less + #ties), recovered from a (group x "
    "merged-support) cumulative-count grid — O(7 * |support|), never "
    "the O(n^2) pair join. e2 = doubled H0 expectation (N^2 - sum "
    "n_g^2)/2 exact (the numerator is even); variance is the FULL "
    "tie-corrected Hollander-Wolfe form (daily volumes are heavily "
    "tied): 72*N(N-1)(N-2)*Var = A*N(N-1)(N-2) + 2*B_g*B_t + "
    "9*(N-2)*C_g*C_t with A = N(N-1)(2N+5) - sum n_g(n_g-1)(2n_g+5) "
    "- sum t_v(t_v-1)(2t_v+5), B = sum s(s-1)(s-2), C = sum s(s-1) "
    "over group sizes (g) and pooled tie-group sizes (t); accumulated "
    "in DECIMAL(38,0)/HUGEINT, reported as var72 = floor(72*Var) "
    "(exact division by N(N-1)(N-2) pre-floor); z mirrored as ONE "
    "IEEE expression on the UNFLOORED variance, rounded to 6 dp, 0.0 "
    "on a degenerate split (N <= 2 or var_num <= 0). With no ties the "
    "form reduces exactly to the classical N^2(2N+3) - sum "
    "n_g^2(2n_g+3) (identity: n(n-1)(2n+5) = n^2(2n+3) - 5n and "
    "sum n_g = N).",
    oracle="""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS v
    FROM events GROUP BY 1
),
obs AS (SELECT CAST(ISODOW(day) AS BIGINT) AS g, v FROM daily),
sup AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS n FROM obs GROUP BY 1, 2),
vals AS (SELECT DISTINCT v FROM obs),
grps AS (SELECT DISTINCT g FROM obs),
grid AS (
    SELECT gr.g, vals.v, COALESCE(s.n, 0) AS n
    FROM grps gr CROSS JOIN vals
    LEFT JOIN sup s ON s.g = gr.g AND s.v = vals.v
),
cum AS (
    SELECT g, v, n,
           COALESCE(SUM(n) OVER (PARTITION BY g ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS clt
    FROM grid
),
jt AS (
    SELECT CAST(COALESCE(SUM(a.n * (2 * b.clt + b.n)), 0) AS BIGINT) AS jt2
    FROM sup a JOIN cum b ON b.v = a.v AND b.g < a.g
),
sizes AS (SELECT g, CAST(SUM(n) AS BIGINT) AS ng FROM sup GROUP BY 1),
ties AS (SELECT v, CAST(SUM(n) AS BIGINT) AS tv FROM sup GROUP BY 1),
tot AS (
    SELECT CAST(COALESCE(SUM(ng), 0) AS BIGINT) AS nn,
           CAST(COALESCE(SUM(ng * ng), 0) AS BIGINT) AS sq,
           CAST(COALESCE(SUM(ng * (ng - 1) * (2 * ng + 5)), 0) AS BIGINT) AS ga,
           CAST(COALESCE(SUM(ng * (ng - 1) * (ng - 2)), 0) AS BIGINT) AS gb,
           CAST(COALESCE(SUM(ng * (ng - 1)), 0) AS BIGINT) AS gc
    FROM sizes
),
ttot AS (
    SELECT CAST(COALESCE(SUM(tv * (tv - 1) * (2 * tv + 5)), 0) AS BIGINT) AS ta,
           CAST(COALESCE(SUM(tv * (tv - 1) * (tv - 2)), 0) AS BIGINT) AS tb,
           CAST(COALESCE(SUM(tv * (tv - 1)), 0) AS BIGINT) AS tc
    FROM ties
),
vv AS (
    SELECT nn, sq,
           CASE WHEN nn <= 2 THEN CAST(0 AS HUGEINT)
                ELSE (CAST(nn AS HUGEINT) * (nn - 1) * (2 * nn + 5) - ga - ta)
                     * (CAST(nn AS HUGEINT) * (nn - 1) * (nn - 2))
                   + 2 * CAST(gb AS HUGEINT) * tb
                   + 9 * (CAST(nn AS HUGEINT) - 2) * gc * tc
           END AS var_num,
           CASE WHEN nn <= 2 THEN CAST(1 AS HUGEINT)
                ELSE CAST(nn AS HUGEINT) * (nn - 1) * (nn - 2)
           END AS dd
    FROM tot, ttot
)
SELECT vv.nn AS n_days, jt.jt2,
       CAST((vv.nn * vv.nn - vv.sq) // 2 AS BIGINT) AS e2,
       CAST(CASE WHEN vv.nn <= 2 OR vv.var_num <= 0 THEN 0
                 ELSE vv.var_num // vv.dd END AS BIGINT) AS var72,
       CASE WHEN vv.nn <= 2 OR vv.var_num <= 0 THEN 0.0
            ELSE ROUND(CAST(jt.jt2 - (vv.nn * vv.nn - vv.sq) // 2
                            AS DOUBLE) * 0.5
                 / SQRT(CAST(vv.var_num AS DOUBLE)
                        / (72.0 * CAST(vv.dd AS DOUBLE))), 6)
       END AS z_jt
FROM jt, vv
""",
)
def stats_jonckheere_terpstra(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        bigint(F.count(F.lit(1))).alias("v")
    )
    obs = daily.select(
        F.dayofweek(F.date_sub(F.col("day"), 1)).cast("long").alias("g"), "v"
    )
    sup = obs.groupBy("g", "v").agg(bigint(F.count(F.lit(1))).alias("n"))
    vals = obs.select("v").distinct()
    grps = obs.select("g").distinct()
    grid = (
        grps.crossJoin(F.broadcast(vals))
        .join(sup, ["g", "v"], "left")
        .select("g", "v", F.coalesce("n", F.lit(0)).alias("n"))
    )
    w_lt = (
        Window.partitionBy("g")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = grid.select(
        "g", "v", "n", F.coalesce(F.sum("n").over(w_lt), F.lit(0)).alias("clt")
    )
    jt = (
        sup.alias("a")
        .join(
            cum.alias("b"),
            (F.col("b.v") == F.col("a.v")) & (F.col("b.g") < F.col("a.g")),
        )
        .agg(
            bigint(
                F.coalesce(
                    F.sum(
                        F.col("a.n") * (2 * F.col("b.clt") + F.col("b.n"))
                    ),
                    F.lit(0),
                )
            ).alias("jt2")
        )
    )
    sizes = sup.groupBy("g").agg(bigint(F.sum("n")).alias("ng"))
    tot = sizes.agg(
        bigint(F.coalesce(F.sum("ng"), F.lit(0))).alias("nn"),
        bigint(F.coalesce(F.sum(F.col("ng") * F.col("ng")), F.lit(0))).alias(
            "sq"
        ),
        bigint(
            F.coalesce(
                F.sum(F.col("ng") * (F.col("ng") - 1) * (2 * F.col("ng") + 5)),
                F.lit(0),
            )
        ).alias("ga"),
        bigint(
            F.coalesce(
                F.sum(F.col("ng") * (F.col("ng") - 1) * (F.col("ng") - 2)),
                F.lit(0),
            )
        ).alias("gb"),
        bigint(
            F.coalesce(F.sum(F.col("ng") * (F.col("ng") - 1)), F.lit(0))
        ).alias("gc"),
    )
    # pooled tie-group sizes: daily volumes are heavily tied, so the
    # tie-correction terms are material, not decorative
    ties = sup.groupBy("v").agg(bigint(F.sum("n")).alias("tv"))
    ttot = ties.agg(
        bigint(
            F.coalesce(
                F.sum(F.col("tv") * (F.col("tv") - 1) * (2 * F.col("tv") + 5)),
                F.lit(0),
            )
        ).alias("ta"),
        bigint(
            F.coalesce(
                F.sum(F.col("tv") * (F.col("tv") - 1) * (F.col("tv") - 2)),
                F.lit(0),
            )
        ).alias("tb"),
        bigint(
            F.coalesce(F.sum(F.col("tv") * (F.col("tv") - 1)), F.lit(0))
        ).alias("tc"),
    )
    j = jt.crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(ttot))
    e2 = F.expr("CAST((nn * nn - sq) DIV 2 AS BIGINT)")
    # 72*N(N-1)(N-2)*Var in DECIMAL(38,0) (oracle: HUGEINT) — exceeds
    # int64 past a ~1000-day spine
    var_num = F.expr(
        "CASE WHEN nn <= 2 THEN CAST(0 AS DECIMAL(38,0))"
        " ELSE (CAST(nn AS DECIMAL(38,0)) * (nn - 1) * (2 * nn + 5)"
        "       - ga - ta)"
        "      * (CAST(nn AS DECIMAL(38,0)) * (nn - 1) * (nn - 2))"
        "    + 2 * CAST(gb AS DECIMAL(38,0)) * tb"
        "    + 9 * (CAST(nn AS DECIMAL(38,0)) - 2) * gc * tc END"
    )
    dd = F.expr(
        "CASE WHEN nn <= 2 THEN CAST(1 AS DECIMAL(38,0))"
        " ELSE CAST(nn AS DECIMAL(38,0)) * (nn - 1) * (nn - 2) END"
    )
    # materialize var_num/dd once as columns so var72 and z reuse them
    # instead of re-inlining the 10-line CASE SQL
    vv = j.select("*", var_num.alias("var_num"), dd.alias("dd"))
    degenerate = (F.col("nn") <= 2) | (F.col("var_num") <= 0)
    var72 = (
        F.when(degenerate, F.lit(0))
        .otherwise(F.expr("var_num DIV dd"))
        .cast("long")
    )
    z = F.round(
        (F.col("jt2") - e2).cast("double")
        * 0.5
        / F.sqrt(
            F.col("var_num").cast("double")
            / (F.lit(72.0) * F.col("dd").cast("double"))
        ),
        6,
    )
    return vv.select(
        F.col("nn").alias("n_days"),
        "jt2",
        e2.alias("e2"),
        var72.alias("var72"),
        F.when(degenerate, F.lit(0.0)).otherwise(z).alias("z_jt"),
    )


@register(
    "stats_seasonal_mann_kendall",
    doc="Seasonal (Hirsch–Slack) Mann–Kendall on the global daily "
    "volume with ISO-weekday strata: S_total = sum over strata of "
    "sign-sums over same-stratum day pairs (pairs on the per-stratum "
    "day spine — time-span-bounded); var18 = sum of per-stratum "
    "tie-corrected 18*Var = n(n-1)(2n+5) - sum g(g-1)(2g+5); z with "
    "the +/-1 continuity correction as ONE mirrored IEEE expression "
    "rounded to 6 dp (0.0 when var18 = 0 or S = 0 for the z's "
    "correction branch at S = 0 by definition).",
    oracle="""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS v
    FROM events GROUP BY 1
),
obs AS (SELECT CAST(ISODOW(day) AS BIGINT) AS g, day, v FROM daily),
s AS (
    SELECT CAST(COALESCE(SUM(CASE WHEN b.v > a.v THEN 1
                                  WHEN b.v < a.v THEN -1 ELSE 0 END), 0)
                AS BIGINT) AS s_total
    FROM obs a JOIN obs b ON a.g = b.g AND a.day < b.day
),
strata AS (
    SELECT g, CAST(SUM(cnt) AS BIGINT) AS n,
           CAST(SUM(cnt * (cnt - 1) * (2 * cnt + 5)) AS BIGINT) AS tie_term
    FROM (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM obs GROUP BY 1, 2)
    GROUP BY g
),
vr AS (
    SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_days,
           CAST(COALESCE(SUM(n * (n - 1) * (2 * n + 5) - tie_term), 0)
                AS BIGINT) AS var18
    FROM strata
)
SELECT vr.n_days, s.s_total, vr.var18,
       CASE WHEN vr.var18 = 0 OR s.s_total = 0 THEN 0.0
            ELSE ROUND((CAST(s.s_total AS DOUBLE)
                        - SIGN(CAST(s.s_total AS DOUBLE)))
                 / SQRT(CAST(vr.var18 AS DOUBLE) / 18.0), 6)
       END AS z_smk
FROM s, vr
""",
)
def stats_seasonal_mann_kendall(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        bigint(F.count(F.lit(1))).alias("v")
    )
    obs = daily.select(
        F.dayofweek(F.date_sub(F.col("day"), 1)).cast("long").alias("g"),
        "day",
        "v",
    )
    a = obs.select(
        F.col("g").alias("ga"), F.col("day").alias("da"), F.col("v").alias("va")
    )
    b = obs.select(
        F.col("g").alias("gb"), F.col("day").alias("db"), F.col("v").alias("vb")
    )
    s = (
        a.join(F.broadcast(b), (F.col("ga") == F.col("gb")) & (F.col("da") < F.col("db")))
        .agg(
            bigint(
                F.coalesce(
                    F.sum(
                        F.when(F.col("vb") > F.col("va"), 1)
                        .when(F.col("vb") < F.col("va"), -1)
                        .otherwise(0)
                    ),
                    F.lit(0),
                )
            ).alias("s_total")
        )
    )
    strata = (
        obs.groupBy("g", "v")
        .agg(bigint(F.count(F.lit(1))).alias("cnt"))
        .groupBy("g")
        .agg(
            bigint(F.sum("cnt")).alias("n"),
            bigint(
                F.sum(F.col("cnt") * (F.col("cnt") - 1) * (2 * F.col("cnt") + 5))
            ).alias("tie_term"),
        )
    )
    vr = strata.agg(
        bigint(F.coalesce(F.sum("n"), F.lit(0))).alias("n_days"),
        bigint(
            F.coalesce(
                F.sum(
                    F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                    - F.col("tie_term")
                ),
                F.lit(0),
            )
        ).alias("var18"),
    )
    j = s.crossJoin(F.broadcast(vr))
    z = F.round(
        (
            F.col("s_total").cast("double")
            - F.signum(F.col("s_total").cast("double"))
        )
        / F.sqrt(F.col("var18").cast("double") / 18.0),
        6,
    )
    return j.select(
        "n_days",
        "s_total",
        "var18",
        F.when((F.col("var18") == 0) | (F.col("s_total") == 0), F.lit(0.0))
        .otherwise(z)
        .alias("z_smk"),
    )
