"""Aggregation operators (SURVEY.md §2B Aggregations).

All grouped aggregations are plain ``groupBy().agg()`` — Catalyst plans
these as partial (map-side) + final hash aggregates automatically, which
is the scalable shape at 100 TB: the shuffle carries one row per
(partition, group), not per input row. Group-by keys here are
low-cardinality flags, so the shuffled state is tiny at any scale.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cascade_spark.plans.registry import register
from cascade_spark.operators._util import avg_round, bigint, d2, dec, sql_avg_round, t


@register(
    "agg_grouped_q1",
    doc="TPC-H Q1-style grouped aggregation: 2 keys, sum/avg/count over "
    "decimal-accumulated measures. Flagship query (reference analog: the "
    "only aggregate cascade has is event count = index_length/8, "
    "src/broker/main.rs:125,136 — this is its declared analytic surface).",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,4))), 2) AS DOUBLE) AS sum_qty,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4))), 2) AS DOUBLE) AS sum_base_price,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                      * (1 - CAST(l_discount AS DECIMAL(12,4)))), 2) AS DOUBLE) AS sum_disc_price,
       CAST(ROUND(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,4))
                           * (1 - CAST(l_discount AS DECIMAL(12,4))) AS DECIMAL(18,6))
                      * (1 + CAST(l_tax AS DECIMAL(12,4)))), 2) AS DOUBLE) AS sum_charge,
       {sql_avg_round("SUM(CAST(l_quantity AS DECIMAL(12,4)))", 2)} AS avg_qty,
       {sql_avg_round("SUM(CAST(l_discount AS DECIMAL(12,4)))", 4)} AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)
def agg_grouped_q1(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    disc_price = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    charge = disc_price.cast("decimal(18,6)") * (F.lit(1) + dec("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            d2(F.sum(dec("l_quantity"))).alias("sum_qty"),
            d2(F.sum(dec("l_extendedprice"))).alias("sum_base_price"),
            d2(F.sum(disc_price)).alias("sum_disc_price"),
            d2(F.sum(charge)).alias("sum_charge"),
            avg_round(F.sum(dec("l_quantity")), F.count(F.lit(1)), 2).alias("avg_qty"),
            avg_round(F.sum(dec("l_discount")), F.count(F.lit(1)), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "agg_global",
    doc="Global (no-key) aggregate — analog of the reference's event count "
    "(src/broker/main.rs:125,136: count = index_length/8).",
    oracle="""
SELECT COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(12,4))), 2) AS DOUBLE) AS total_value,
       CAST(ROUND(MIN(CAST(value AS DECIMAL(12,4))), 2) AS DOUBLE) AS min_value,
       CAST(ROUND(MAX(CAST(value AS DECIMAL(12,4))), 2) AS DOUBLE) AS max_value
FROM events
""",
)
def agg_global(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return ev.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        d2(F.sum(dec("value"))).alias("total_value"),
        d2(F.min(dec("value"))).alias("min_value"),
        d2(F.max(dec("value"))).alias("max_value"),
    )


@register(
    "agg_count_distinct",
    doc="Exact COUNT DISTINCT per group (expands to two-phase hash "
    "aggregate; at 100 TB prefer approx_count_distinct unless exactness "
    "is required).",
    oracle="""
SELECT event_type,
       COUNT(DISTINCT user_id) AS distinct_users,
       COUNT(*) AS n
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def agg_count_distinct(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("distinct_users"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type")
    )


@register(
    "agg_approx_count_distinct",
    oracle=None,  # approximate — rows-only check per SURVEY §2B rule 5
    doc="HyperLogLog++ approximate distinct — the 100 TB default for "
    "cardinality estimation (fixed-size sketch state, no distinct "
    "expansion shuffle).",
)
def agg_approx_count_distinct(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", 0.02).alias("approx_users"))
        .orderBy("event_type")
    )


@register(
    "agg_rollup",
    doc="ROLLUP hierarchy totals (grouping-sets family).",
    oracle="""
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,4))), 2) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
""",
)
def agg_rollup(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            d2(F.sum(dec("l_quantity"))).alias("sum_qty"),
        )
        .orderBy(F.col("l_returnflag").asc_nulls_first(), F.col("l_linestatus").asc_nulls_first())
    )


@register(
    "agg_cube",
    doc="CUBE over two dimensions.",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,4))), 2) AS DOUBLE) AS total
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
""",
)
def agg_cube(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            d2(F.sum(dec("o_totalprice"))).alias("total"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


@register(
    "agg_having",
    doc="HAVING — post-aggregation filter (planned as Filter over Aggregate; "
    "no extra shuffle).",
    oracle="""
SELECT user_id, COUNT(*) AS n_events
FROM events
GROUP BY user_id
HAVING COUNT(*) > 5
ORDER BY user_id
""",
)
def agg_having(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .filter(F.col("n_events") > 5)
        .orderBy("user_id")
    )


@register(
    "agg_stats",
    doc="stddev_samp / var_samp / exact percentile. Floats rounded to 2 "
    "(stat functions are the one place accumulation order can still "
    "wiggle the last ulp; magnitudes here keep ROUND(2) stable).",
    oracle="""
SELECT l_returnflag,
       ROUND(STDDEV_SAMP(l_quantity), 2) AS std_qty,
       ROUND(VAR_SAMP(l_quantity), 2) AS var_qty,
       ROUND(CAST(QUANTILE_CONT(l_quantity, 0.5) AS DOUBLE), 2) AS median_qty
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def agg_stats(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.stddev_samp("l_quantity"), 2).alias("std_qty"),
            F.round(F.var_samp("l_quantity"), 2).alias("var_qty"),
            F.round(F.expr("percentile(l_quantity, 0.5)").cast("double"), 2).alias("median_qty"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_collect",
    doc="first/last/collect_list made deterministic: min/max + sorted "
    "string_agg (SURVEY §2B: wrap collect_list in a sort).",
    oracle="""
SELECT n_regionkey,
       MIN(n_name) AS first_nation,
       MAX(n_name) AS last_nation,
       STRING_AGG(n_name, ',' ORDER BY n_name) AS all_nations
FROM nation
GROUP BY n_regionkey
ORDER BY n_regionkey
""",
)
def agg_collect(spark, sf_dir):
    n = t(spark, sf_dir, "nation")
    return (
        n.groupBy("n_regionkey")
        .agg(
            F.min("n_name").alias("first_nation"),
            F.max("n_name").alias("last_nation"),
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("all_nations"),
        )
        .orderBy("n_regionkey")
    )


@register(
    "agg_pivot",
    doc="Pivot event values by type into columns (explicit pivot values — "
    "required at scale so Spark skips the extra distinct-values job).",
    oracle="""
SELECT user_id,
       CAST(ROUND(COALESCE(SUM(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(12,4)) END), 0), 2) AS DOUBLE) AS click,
       CAST(ROUND(COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(12,4)) END), 0), 2) AS DOUBLE) AS purchase,
       CAST(ROUND(COALESCE(SUM(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(12,4)) END), 0), 2) AS DOUBLE) AS view
FROM events
GROUP BY user_id
ORDER BY user_id
""",
)
def agg_pivot(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "purchase", "view"])
        .agg(F.sum(dec("value")))
    )
    for c in ["click", "purchase", "view"]:
        out = out.withColumn(c, d2(F.coalesce(F.col(c), F.lit(0).cast(DECL))))
    return out.orderBy("user_id")


# decimal literal type for coalesce(pivot) — sum(decimal(12,4)) widens to (22,4)
DECL = "decimal(22,4)"


@register(
    "agg_unpivot",
    doc="Unpivot (stack): wide per-part measure columns back to long "
    "(measure, value) rows — the inverse of pivot, via stack()/UNION ALL.",
    oracle="""
SELECT p_partkey, m AS measure, v AS value
FROM (
    SELECT p_partkey, 'retailprice' AS m, p_retailprice AS v FROM part
    UNION ALL
    SELECT p_partkey, 'size', CAST(p_size AS DOUBLE) FROM part
)
ORDER BY p_partkey, measure
""",
)
def agg_unpivot(spark, sf_dir):
    p = t(spark, sf_dir, "part")
    return (
        p.select(
            "p_partkey",
            F.expr(
                "stack(2, 'retailprice', p_retailprice, 'size', CAST(p_size AS DOUBLE)) "
                "AS (measure, value)"
            ),
        )
        .orderBy("p_partkey", "measure")
    )


@register(
    "agg_pivot_dynamic",
    doc="Dynamic pivot: pivot(event_type) WITHOUT an explicit value "
    "list — Spark runs the distinct-values subquery at plan time and "
    "sorts the inferred columns, the ad-hoc-reporting surface. The "
    "production caveat stands in the plan: the values scan is an extra "
    "job, so at scale you pass the list explicitly (agg_pivot does). "
    "Oracle pins the inferred column set + counts.",
    oracle="""
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
       COUNT(*) FILTER (event_type = 'click') AS click,
       COUNT(*) FILTER (event_type = 'error') AS error,
       COUNT(*) FILTER (event_type = 'purchase') AS purchase,
       COUNT(*) FILTER (event_type = 'signup') AS signup,
       COUNT(*) FILTER (event_type = 'view') AS view
FROM events
GROUP BY 1 ORDER BY 1
""",
)
def agg_pivot_dynamic(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    out = (
        ev.groupBy(F.to_date("ts").cast("string").alias("day"))
        .pivot("event_type")  # no values list: inferred + sorted by Spark
        .count()
        .na.fill(0)
    )
    return out.select(
        "day", *[F.col(c).cast("long").alias(c) for c in sorted(out.columns) if c != "day"]
    ).orderBy("day")


@register(
    "agg_listagg_within_group",
    doc="listagg(...) WITHIN GROUP (ORDER BY ...) (Spark 4 / ANSI "
    "ordered string aggregation) — per region, the alphabetized "
    "nation roster plus its DISTINCT-initial variant. The WITHIN "
    "GROUP order makes the concatenation deterministic without the "
    "collect_list + array_sort + concat_ws detour "
    "(agg_string_concat_ordered's pre-Spark-4 rewrite of the same "
    "semantics). Grouped on a 5-row dimension after a broadcast "
    "join; ordered aggregation buffers only each group's members.",
    oracle="""
SELECT r.r_name,
       STRING_AGG(n.n_name, '|' ORDER BY n.n_name) AS nations,
       STRING_AGG(DISTINCT SUBSTR(n.n_name, 1, 1), ''
                  ORDER BY SUBSTR(n.n_name, 1, 1)) AS initials,
       CAST(COUNT(*) AS BIGINT) AS n
FROM nation n JOIN region r ON r.r_regionkey = n.n_regionkey
GROUP BY r.r_name
ORDER BY r.r_name
""",
)
def agg_listagg_within_group(spark, sf_dir):
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    j = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    j.createOrReplaceTempView("cascade_listagg_v")
    return spark.sql(
        """
SELECT r_name,
       listagg(n_name, '|') WITHIN GROUP (ORDER BY n_name) AS nations,
       listagg(DISTINCT SUBSTRING(n_name, 1, 1), '')
           WITHIN GROUP (ORDER BY SUBSTRING(n_name, 1, 1)) AS initials,
       CAST(COUNT(*) AS BIGINT) AS n
FROM cascade_listagg_v
GROUP BY r_name
ORDER BY r_name
"""
    )


@register(
    "agg_multi_distinct_filtered",
    doc="Several COUNT(DISTINCT) measures in ONE aggregate per event "
    "type: distinct users, distinct WEEKEND users via the "
    "NULL-excluding CASE idiom (portable across engines that restrict "
    "FILTER on DISTINCT), distinct active days, and the composite "
    "(user, day) distinct — the multi-Expand plan shape Spark compiles "
    "several distincts into (still one shuffle).",
    oracle="""
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS u_distinct,
       CAST(COUNT(DISTINCT CASE WHEN ISODOW(CAST(ts AS DATE)) >= 6
                                THEN user_id END) AS BIGINT)
           AS u_weekend_distinct,
       CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS d_distinct,
       CAST(COUNT(DISTINCT (user_id, CAST(ts AS DATE))) AS BIGINT)
           AS user_day_distinct
FROM events
WHERE user_id IS NOT NULL
GROUP BY event_type
ORDER BY event_type
""",
)
def agg_multi_distinct_filtered(spark, sf_dir):
    ev = t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    day = F.to_date("ts")
    weekend = F.dayofweek(F.date_sub(day, 1)).cast("long") >= 6
    return (
        ev.groupBy("event_type")
        .agg(
            bigint(F.count_distinct("user_id")).alias("u_distinct"),
            bigint(
                F.count_distinct(F.when(weekend, F.col("user_id")))
            ).alias("u_weekend_distinct"),
            bigint(F.count_distinct(day)).alias("d_distinct"),
            bigint(F.count_distinct(F.col("user_id"), day)).alias(
                "user_day_distinct"
            ),
        )
        .orderBy("event_type")
    )


@register(
    "agg_arg_extrema",
    doc="Deterministic argmax/argmin per order priority: the order key "
    "carrying the highest and lowest total price, with COMPOSITE "
    "(price, key) orderings as the declared tie rule (max side breaks "
    "ties to the larger key, min side to the smaller) — the ties-safe "
    "form of max_by/min_by; oracle mirrors via ordered FIRST. Prices "
    "compared as exact decimals.",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(FIRST(o_orderkey ORDER BY CAST(o_totalprice AS DECIMAL(12,4))
                  DESC, o_orderkey DESC) AS BIGINT) AS top_orderkey,
       CAST(ROUND(MAX(CAST(o_totalprice AS DECIMAL(12,4))), 2) AS DOUBLE)
           AS top_price,
       CAST(FIRST(o_orderkey ORDER BY CAST(o_totalprice AS DECIMAL(12,4)),
                  o_orderkey) AS BIGINT) AS bottom_orderkey,
       CAST(ROUND(MIN(CAST(o_totalprice AS DECIMAL(12,4))), 2) AS DOUBLE)
           AS bottom_price
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def agg_arg_extrema(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    p = dec("o_totalprice")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            bigint(F.count(F.lit(1))).alias("n_orders"),
            bigint(
                F.max_by(
                    "o_orderkey", F.struct(p.alias("p"), F.col("o_orderkey"))
                )
            ).alias("top_orderkey"),
            d2(F.max(p)).alias("top_price"),
            bigint(
                F.min_by(
                    "o_orderkey", F.struct(p.alias("p"), F.col("o_orderkey"))
                )
            ).alias("bottom_orderkey"),
            d2(F.min(p)).alias("bottom_price"),
        )
        .orderBy("o_orderpriority")
    )
