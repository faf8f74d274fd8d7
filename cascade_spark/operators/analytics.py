"""Event-stream analytics — the north-star "analytics over event
streams" showcase (BASELINE.json): funnel conversion, retention cohorts,
trending top-k, TPC-H-style multi-join analytics, subquery shapes.

Everything is declarative DataFrame/SQL: sessionization and funnels are
window functions over the per-user shuffle; cohort retention is two
aggregates and a join; all hash-checked against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from cascade_spark.plans.registry import register
from cascade_spark.operators._util import bigint, d2, dec, t


@register(
    "events_funnel",
    doc="Funnel conversion signup→view→purchase per user: ordered event "
    "sequence with min-timestamp stages; counts users reaching each "
    "stage in order. One shuffle on user_id.",
    oracle="""
WITH stages AS (
    SELECT user_id,
           MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
           MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
           MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
    FROM events
    GROUP BY user_id
)
SELECT COUNT(*) AS n_users,
       CAST(SUM(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS reached_signup,
       CAST(SUM(CASE WHEN t_signup IS NOT NULL AND t_view > t_signup THEN 1 ELSE 0 END) AS BIGINT) AS reached_view,
       CAST(SUM(CASE WHEN t_signup IS NOT NULL AND t_view > t_signup
                 AND t_purchase > t_view THEN 1 ELSE 0 END) AS BIGINT) AS reached_purchase
FROM stages
""",
)
def events_funnel(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    stages = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t_signup"),
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_purchase"),
    )
    return stages.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.when(F.col("t_signup").isNotNull(), 1).otherwise(0)).alias("reached_signup"),
        F.sum(
            F.when(F.col("t_signup").isNotNull() & (F.col("t_view") > F.col("t_signup")), 1).otherwise(0)
        ).alias("reached_view"),
        F.sum(
            F.when(
                F.col("t_signup").isNotNull()
                & (F.col("t_view") > F.col("t_signup"))
                & (F.col("t_purchase") > F.col("t_view")),
                1,
            ).otherwise(0)
        ).alias("reached_purchase"),
    )


@register(
    "events_retention_cohorts",
    doc="Weekly retention: cohort = user's first-activity week; count "
    "users active k weeks later. Two aggregates + one join on user_id.",
    oracle="""
WITH firsts AS (
    SELECT user_id, MIN(DATE_TRUNC('week', ts)) AS cohort_week
    FROM events GROUP BY user_id
),
activity AS (
    SELECT DISTINCT user_id, DATE_TRUNC('week', ts) AS active_week
    FROM events
)
SELECT STRFTIME(f.cohort_week, '%Y-%m-%d') AS cohort,
       CAST(DATE_DIFF('week', f.cohort_week, a.active_week) AS BIGINT) AS weeks_later,
       COUNT(DISTINCT f.user_id) AS active_users
FROM firsts f JOIN activity a ON f.user_id = a.user_id
GROUP BY f.cohort_week, DATE_DIFF('week', f.cohort_week, a.active_week)
ORDER BY cohort, weeks_later
""",
)
def events_retention_cohorts(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(F.min(F.date_trunc("week", "ts")).alias("cohort_week"))
    activity = ev.select("user_id", F.date_trunc("week", "ts").alias("active_week")).distinct()
    weeks_later = (
        F.datediff(F.col("active_week"), F.col("cohort_week")) / 7
    ).cast("long")
    return (
        firsts.join(activity, "user_id")
        .groupBy(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort"),
            weeks_later.alias("weeks_later"),
        )
        .agg(F.countDistinct("user_id").alias("active_users"))
        .orderBy("cohort", "weeks_later")
    )


@register(
    "events_trending_topk",
    doc="Trending: top-2 event types per day by volume with day-over-day "
    "delta (window rank over daily aggregates — aggregate first, window "
    "over the small aggregate, never over raw events).",
    oracle="""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n
    FROM events GROUP BY CAST(ts AS DATE), event_type
),
ranked AS (
    SELECT STRFTIME(day, '%Y-%m-%d') AS day_s, event_type, n,
           ROW_NUMBER() OVER (PARTITION BY day ORDER BY n DESC, event_type) AS rnk,
           n - LAG(n) OVER (PARTITION BY event_type ORDER BY day) AS delta
    FROM daily
)
SELECT day_s, event_type, n, rnk, delta
FROM ranked WHERE rnk <= 2
ORDER BY day_s, rnk
""",
)
def events_trending_topk(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day"), "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    w_rank = Window.partitionBy("day").orderBy(F.col("n").desc(), "event_type")
    w_lag = Window.partitionBy("event_type").orderBy("day")
    ranked = daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day_s"),
        "event_type",
        "n",
        F.row_number().over(w_rank).alias("rnk"),
        (F.col("n") - F.lag("n").over(w_lag)).alias("delta"),
    )
    return ranked.filter(F.col("rnk") <= 2).orderBy("day_s", "rnk")


@register(
    "tpch_q3_shipping_priority",
    doc="TPC-H Q3 shape: segment-filtered customer ⨝ orders ⨝ lineitem, "
    "revenue top-10 (broadcast dim, one fact shuffle).",
    oracle="""
SELECT l_orderkey,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                      * (1 - CAST(l_discount AS DECIMAL(12,4)))), 2) AS DOUBLE) AS revenue,
       STRFTIME(o_orderdate, '%Y-%m-%d') AS orderdate, o_orderpriority
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1996-01-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
)
def tpch_q3_shipping_priority(spark, sf_dir):
    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-01-01 00:00:00").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(d2(F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))).alias("revenue"))
        .select("l_orderkey", "revenue", "orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@register(
    "tpch_q5_local_supplier",
    doc="TPC-H Q5 shape: revenue from orders where customer and supplier "
    "share the nation, region-filtered — 6-table join; nation/region "
    "(fixed 25/5 rows) broadcast explicitly, SF-scaling customer/"
    "supplier joins left to AQE, facts shuffle once each.",
    oracle="""
SELECT n_name,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                      * (1 - CAST(l_discount AS DECIMAL(12,4)))), 2) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name
""",
)
def tpch_q5_local_supplier(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(d2(F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


@register(
    "events_rolling_active_users",
    doc="Rolling 7-day distinct active users per day: calendar spine "
    "range-joined to events (exact windowed distinct — the metric HLL "
    "sketch-merge approximates at 100 TB; the exact form is the oracle "
    "for it).",
    oracle="""
WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events)
SELECT STRFTIME(d.day, '%Y-%m-%d') AS day,
       COUNT(DISTINCT e.user_id) AS active_7d
FROM days d JOIN events e
  ON CAST(e.ts AS DATE) BETWEEN d.day - 6 AND d.day
GROUP BY d.day
ORDER BY day
""",
)
def events_rolling_active_users(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    days = ev.select(F.col("ts").cast("date").alias("day")).distinct()
    e = ev.select(F.col("ts").cast("date").alias("eday"), "user_id")
    return (
        days.join(
            e,
            (F.col("eday") >= F.date_sub(F.col("day"), 6)) & (F.col("eday") <= F.col("day")),
        )
        .groupBy(F.date_format("day", "yyyy-MM-dd").alias("day"))
        .agg(F.countDistinct("user_id").alias("active_7d"))
        .orderBy("day")
    )


@register(
    "subquery_scalar_and_in",
    doc="Subquery shapes: scalar subquery (global avg) in a predicate + "
    "IN subquery (planned as broadcast/semi joins by Catalyst).",
    oracle="""
SELECT o_orderkey, o_totalprice
FROM orders
WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders)
  AND o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY')
ORDER BY o_orderkey
""",
)
def subquery_scalar_and_in(spark, sf_dir):
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders)
          AND o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY')
        ORDER BY o_orderkey
        """
    )


@register(
    "subquery_correlated_exists",
    doc="Correlated EXISTS subquery: suppliers whose nation has customers "
    "with negative balances (decorrelated to a semi join by Catalyst).",
    oracle="""
SELECT s_suppkey, s_name
FROM supplier s
WHERE EXISTS (SELECT 1 FROM customer c
              WHERE c.c_nationkey = s.s_nationkey AND c.c_acctbal < 0)
ORDER BY s_suppkey
""",
)
def subquery_correlated_exists(spark, sf_dir):
    t(spark, sf_dir, "supplier").createOrReplaceTempView("supplier")
    t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        SELECT s_suppkey, s_name
        FROM supplier s
        WHERE EXISTS (SELECT 1 FROM customer c
                      WHERE c.c_nationkey = s.s_nationkey AND c.c_acctbal < 0)
        ORDER BY s_suppkey
        """
    )


@register(
    "subquery_recursive_cte",
    doc="WITH RECURSIVE (ANSI recursive CTE, new SQL surface in Spark "
    "4.x): every customer walks a synthetic 10-ary management chain "
    "(parent = custkey/10) to the root; per-depth population + exact "
    "custkey checksum. Recursion depth is log10(maxkey) (~6 iterations "
    "at any SF) and each iteration is a map-only projection — the "
    "iterative plan scales as O(depth) passes, never row-by-row.",
    oracle="""
WITH RECURSIVE chain AS (
    SELECT c_custkey AS node, c_custkey AS cur, 0 AS depth FROM customer
    UNION ALL
    SELECT node, CAST(FLOOR(cur / 10) AS BIGINT), depth + 1 FROM chain WHERE cur > 0
)
SELECT depth,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(MIN(node) AS BIGINT) AS min_custkey,
       CAST(MAX(node) AS BIGINT) AS max_custkey,
       CAST(SUM(node) AS BIGINT) AS sum_custkey
FROM chain
WHERE cur = 0
GROUP BY depth
ORDER BY depth
""",
)
def subquery_recursive_cte(spark, sf_dir):
    t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        WITH RECURSIVE chain AS (
            SELECT c_custkey AS node, c_custkey AS cur, 0 AS depth FROM customer
            UNION ALL
            SELECT node, CAST(FLOOR(cur / 10) AS BIGINT), depth + 1 FROM chain WHERE cur > 0
        )
        SELECT depth,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(MIN(node) AS BIGINT) AS min_custkey,
               CAST(MAX(node) AS BIGINT) AS max_custkey,
               CAST(SUM(node) AS BIGINT) AS sum_custkey
        FROM chain
        WHERE cur = 0
        GROUP BY depth
        ORDER BY depth
        """
    )


@register(
    "analytics_frequent_itemsets",
    doc="Association mining (MLlib FP-Growth) with exact verification: "
    "baskets are each user's distinct event types; FP-Growth mines "
    "frequent itemsets, restricted here to sizes 1-2 and post-filtered "
    "by the exact integer support predicate freq*100 >= 45*n_users — "
    "so the oracle can recompute supports relationally (singleton "
    "counts + self-join pair counts) and the MLlib path is "
    "hash-checked, not just rows-only. At scale FP-Growth "
    "distributes via per-partition conditional trees (parallel "
    "FP-Growth); the basket build is one distinct + one groupBy.",
    oracle="""
WITH b AS (SELECT DISTINCT user_id, event_type FROM events),
u AS (SELECT COUNT(DISTINCT user_id) AS n FROM b),
single AS (
    SELECT event_type AS item1, CAST(NULL AS VARCHAR) AS item2, COUNT(*) AS freq
    FROM b GROUP BY event_type
),
pairs AS (
    SELECT a.event_type AS item1, c.event_type AS item2, COUNT(*) AS freq
    FROM b a JOIN b c ON a.user_id = c.user_id AND a.event_type < c.event_type
    GROUP BY 1, 2
)
SELECT item1, item2, CAST(freq AS BIGINT) AS freq
FROM (SELECT * FROM single UNION ALL SELECT * FROM pairs) x, u
WHERE freq * 100 >= 45 * u.n
ORDER BY item1, item2 NULLS FIRST
""",
)
def analytics_frequent_itemsets(spark, sf_dir):
    from pyspark.ml.fpm import FPGrowth

    ev = t(spark, sf_dir, "events")
    baskets = (
        ev.select("user_id", "event_type")
        .distinct()
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_set("event_type")).alias("items"))
    )
    n_users = baskets.count()  # scalar for the exact integer predicate
    model = FPGrowth(itemsCol="items", minSupport=0.3, minConfidence=0.5).fit(baskets)
    sets = model.freqItemsets  # items array, freq long
    return (
        sets.filter(F.size("items") <= 2)
        .filter(F.col("freq") * 100 >= 45 * n_users)
        .select(
            F.sort_array("items").alias("s"),
            F.col("freq").cast("long").alias("freq"),
        )
        .select(
            F.element_at("s", 1).alias("item1"),
            F.when(F.size("s") == 2, F.element_at("s", 2)).alias("item2"),
            "freq",
        )
        .orderBy("item1", F.col("item2").asc_nulls_first())
    )


@register(
    "subquery_relational_division",
    doc='Relational division ("FOR ALL"): users who performed EVERY '
    "event type present in the corpus — the universal-quantifier "
    "query class (double NOT EXISTS in textbook SQL). Expressed as "
    "the scalable rewrite: per-user distinct-type count equals the "
    "global distinct-type count (two aggregates + a broadcast 1-row "
    "join), never a nested per-user subquery. Output: qualifying "
    "users with their event totals.",
    oracle="""
WITH per_user AS (
    SELECT user_id, COUNT(DISTINCT event_type) AS n_types,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events WHERE user_id IS NOT NULL GROUP BY user_id
),
total AS (SELECT COUNT(DISTINCT event_type) AS t FROM events)
SELECT u.user_id, CAST(u.n_types AS BIGINT) AS n_types, u.n_events
FROM per_user u, total
WHERE u.n_types = total.t
ORDER BY u.user_id
""",
)
def subquery_relational_division(spark, sf_dir):
    ev = t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    per_user = ev.groupBy("user_id").agg(
        bigint(F.countDistinct("event_type")).alias("n_types"),
        bigint(F.count(F.lit(1))).alias("n_events"),
    )
    total = t(spark, sf_dir, "events").agg(
        F.countDistinct("event_type").alias("t")
    )
    return (
        per_user.crossJoin(F.broadcast(total))
        .filter(F.col("n_types") == F.col("t"))
        .select("user_id", "n_types", "n_events")
        .orderBy("user_id")
    )


@register(
    "subquery_not_in_null_trap",
    doc="NOT IN vs NOT EXISTS under NULLs — the three-valued-logic "
    "trap, demonstrated as data: the probe set is customer keys with "
    "every 50th NULLed out. ANSI NOT IN returns UNKNOWN (drops the "
    "row) for every outer row once the subquery contains a single "
    "NULL, so n_not_in = 0; NOT EXISTS with an equality correlation "
    "is null-rejecting and returns the true anti-join count. Both "
    "engines implement the same ANSI semantics, so the whole "
    "contrast hash-checks. Plan-wise the NOT EXISTS side is the one "
    "that scales: it compiles to a left-anti hash join, while "
    "NOT IN needs a null-aware anti join (broadcast-only in Spark).",
    oracle="""
WITH probe AS (
    SELECT CASE WHEN c_custkey % 50 = 0 THEN NULL ELSE c_custkey END AS k
    FROM customer WHERE c_custkey <= 500
)
SELECT CAST((SELECT COUNT(*) FROM orders
             WHERE o_custkey NOT IN (SELECT k FROM probe)) AS BIGINT)
           AS n_not_in,
       CAST((SELECT COUNT(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM probe p WHERE p.k = o.o_custkey))
            AS BIGINT) AS n_not_exists,
       CAST((SELECT COUNT(*) FROM probe WHERE k IS NULL) AS BIGINT)
           AS n_probe_nulls
""",
)
def subquery_not_in_null_trap(spark, sf_dir):
    t(spark, sf_dir, "customer").createOrReplaceTempView("cascade_nin_customer")
    t(spark, sf_dir, "orders").createOrReplaceTempView("cascade_nin_orders")
    return spark.sql(
        """
WITH probe AS (
    SELECT CASE WHEN c_custkey % 50 = 0 THEN NULL ELSE c_custkey END AS k
    FROM cascade_nin_customer WHERE c_custkey <= 500
)
SELECT CAST((SELECT COUNT(*) FROM cascade_nin_orders
             WHERE o_custkey NOT IN (SELECT k FROM probe)) AS BIGINT)
           AS n_not_in,
       CAST((SELECT COUNT(*) FROM cascade_nin_orders o
             WHERE NOT EXISTS (SELECT 1 FROM probe p WHERE p.k = o.o_custkey))
            AS BIGINT) AS n_not_exists,
       CAST((SELECT COUNT(*) FROM probe WHERE k IS NULL) AS BIGINT)
           AS n_probe_nulls
"""
    )


# ---------------------------------------------------------------------------
# DAU/MAU stickiness
# ---------------------------------------------------------------------------


@register(
    "analytics_dau_mau_stickiness",
    doc="Per-month engagement stickiness: sum of daily distinct users "
    "over monthly distinct users in exact truncated bp (the DAU/MAU "
    "product-health headline, summed-DAU form so the ratio is one "
    "integer division). Two combinable distinct aggregates joined on "
    "the month spine; null user_ids excluded (declared).",
    oracle="""
WITH ev AS (
    SELECT STRFTIME(ts, '%Y-%m') AS month, CAST(ts AS DATE) AS day, user_id
    FROM events WHERE user_id IS NOT NULL
),
dau AS (
    SELECT month, day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
    FROM ev GROUP BY 1, 2
),
m AS (
    SELECT month, CAST(COUNT(*) AS BIGINT) AS days,
           CAST(SUM(dau) AS BIGINT) AS dau_sum
    FROM dau GROUP BY 1
),
mau AS (
    SELECT month, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
    FROM ev GROUP BY 1
)
SELECT m.month, m.days, m.dau_sum, mau.mau,
       CAST((10000 * m.dau_sum) // (m.days * mau.mau) AS BIGINT)
           AS stickiness_bp
FROM m JOIN mau ON mau.month = m.month
ORDER BY m.month
""",
)
def analytics_dau_mau_stickiness(spark, sf_dir):
    ev = (
        t(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select(
            F.date_format("ts", "yyyy-MM").alias("month"),
            F.to_date("ts").alias("day"),
            "user_id",
        )
    )
    dau = ev.groupBy("month", "day").agg(
        bigint(F.count_distinct("user_id")).alias("dau")
    )
    m = dau.groupBy("month").agg(
        bigint(F.count(F.lit(1))).alias("days"),
        bigint(F.sum("dau")).alias("dau_sum"),
    )
    mau = ev.groupBy("month").agg(
        bigint(F.count_distinct("user_id")).alias("mau")
    )
    return (
        m.join(mau, "month")
        .select(
            "month",
            "days",
            "dau_sum",
            "mau",
            F.expr(
                "CAST((10000 * dau_sum) DIV (days * mau) AS BIGINT)"
            ).alias("stickiness_bp"),
        )
        .orderBy("month")
    )
