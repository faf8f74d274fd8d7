"""Analytics & curation extras (round 4, late batch): gaps-and-islands
activity streaks, year-over-year growth, curriculum ordering, and
token-budget mixture planning.

All exact-arithmetic (integer units / floor-of-double with IEEE parity)
per the registry determinism contract; every aggregate is map-side
combinable and every window is partitioned by a real key — no global
single-partition windows in the Spark plans (the oracles may use them;
DuckDB is single-node anyway).
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from cascade_spark.operators._util import barrier_eager, d2, dec, t
from cascade_spark.plans.registry import register


@register(
    "events_activity_streaks",
    doc="Gaps-and-islands: longest consecutive-day activity streak per "
    "user. Classic rewrite — distinct active days, row_number per "
    "user, group by (day - row_number) which is constant exactly "
    "within a consecutive run. Two shuffles on user_id (distinct + "
    "window share the partitioning; the streak group-by is a "
    "sub-key of it), no self-join — the naive LEFT JOIN day-1 "
    "formulation would be a second full shuffle of the same data.",
    oracle="""
WITH days AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
), marked AS (
    SELECT user_id, d,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS rn
    FROM days
), streaks AS (
    SELECT user_id, d - CAST(rn AS INTEGER) AS g, CAST(COUNT(*) AS BIGINT) AS len
    FROM marked GROUP BY user_id, d - CAST(rn AS INTEGER)
)
SELECT user_id,
       CAST(SUM(len) AS BIGINT) AS active_days,
       CAST(MAX(len) AS BIGINT) AS longest_streak,
       CAST(COUNT(*) AS BIGINT) AS n_streaks
FROM streaks
GROUP BY user_id
ORDER BY user_id
""",
)
def events_activity_streaks(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    marked = days.withColumn("rn", F.row_number().over(w))
    streaks = marked.groupBy(
        "user_id", F.date_sub(F.col("d"), F.col("rn")).alias("g")
    ).agg(F.count(F.lit(1)).cast("long").alias("len"))
    return (
        streaks.groupBy("user_id")
        .agg(
            F.sum("len").cast("long").alias("active_days"),
            F.max("len").cast("long").alias("longest_streak"),
            F.count(F.lit(1)).cast("long").alias("n_streaks"),
        )
        .orderBy("user_id")
    )


@register(
    "analytics_yoy_growth",
    doc="Year-over-year growth per order priority: revenue per "
    "(priority, year) in exact cents, LAG over the year axis, growth "
    "in basis points as FLOOR of an exact-integer double quotient "
    "(both operands < 2^53, so the division inputs are bit-identical "
    "across engines). The window partitions on priority — |years| "
    "rows per partition, never a scale concern; the heavy work is the "
    "one map-side-combinable aggregate underneath.",
    oracle="""
WITH rev AS (
    SELECT o_orderpriority, CAST(YEAR(o_orderdate) AS BIGINT) AS yr,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) * 100 AS BIGINT) AS cents
    FROM orders
    GROUP BY o_orderpriority, YEAR(o_orderdate)
), lagged AS (
    SELECT o_orderpriority, yr, cents,
           LAG(cents) OVER (PARTITION BY o_orderpriority ORDER BY yr) AS prev
    FROM rev
)
SELECT o_orderpriority, yr,
       CAST(ROUND(cents / 100.0, 2) AS DOUBLE) AS revenue,
       CAST(FLOOR(CAST((cents - prev) * 10000 AS DOUBLE) / prev) AS BIGINT) AS growth_bp
FROM lagged
ORDER BY o_orderpriority, yr
""",
)
def analytics_yoy_growth(spark, sf_dir):
    orders = t(spark, sf_dir, "orders")
    rev = orders.groupBy(
        "o_orderpriority", F.year("o_orderdate").cast("long").alias("yr")
    ).agg((F.sum(dec("o_totalprice")) * 100).cast("long").alias("cents"))
    w = Window.partitionBy("o_orderpriority").orderBy("yr")
    lagged = rev.withColumn("prev", F.lag("cents").over(w))
    cents, prev = F.col("cents"), F.col("prev")
    return lagged.select(
        "o_orderpriority",
        "yr",
        F.round(cents / F.lit(100.0), 2).alias("revenue"),
        F.floor(((cents - prev) * 10000).cast("double") / prev).cast("long").alias("growth_bp"),
    ).orderBy("o_orderpriority", "yr")


@register(
    "pipeline_curriculum_order",
    doc="Curriculum schedule: documents ordered easy→hard by length "
    "band, deterministically shuffled (md5 of doc_id) WITHIN each band "
    "— the standard curriculum-learning data order. The global ordinal "
    "is two-phase: band-local row_number (partitioned window) plus a "
    "cumulative band-offset computed over the |bands|-row size frame "
    "and broadcast back — the same no-single-task-window pattern as "
    "ingest.assign_offsets, so the ordinal assignment scales to any "
    "corpus. The oracle uses one global window (DuckDB is single-node; "
    "the rewrite equivalence is the point).",
    oracle="""
WITH banded AS (
    SELECT doc_id,
           CASE WHEN n_chars < 200 THEN 0
                WHEN n_chars < 380 THEN 1 ELSE 2 END AS band,
           MD5(CAST(doc_id AS VARCHAR)) AS u
    FROM documents
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY band, u, doc_id) AS BIGINT) AS ordinal,
       doc_id, CAST(band AS BIGINT) AS band
FROM banded
ORDER BY ordinal
""",
)
def pipeline_curriculum_order(spark, sf_dir):
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("n_chars") < 200, 0)
        .when(F.col("n_chars") < 380, 1)
        .otherwise(2)
        .cast("long")
        .alias("band"),
        F.md5(F.col("doc_id").cast("string")).alias("u"),
    )
    wb = Window.partitionBy("band").orderBy("u", "doc_id")
    local = d.withColumn("rn", F.row_number().over(wb).cast("long"))
    sizes = d.groupBy("band").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    # cumulative offsets over the |bands|-row frame (3 rows — tiny by
    # construction, same pattern as ingest.assign_offsets)
    wo = Window.orderBy("band").rowsBetween(Window.unboundedPreceding, -1)
    offsets = sizes.select("band", F.coalesce(F.sum("cnt").over(wo), F.lit(0)).alias("off"))
    return (
        local.join(F.broadcast(offsets), "band")
        .select((F.col("off") + F.col("rn")).alias("ordinal"), "doc_id", "band")
        .orderBy("ordinal")
    )


@register(
    "pipeline_token_budget_mixture",
    doc="Token-budget mixture planning: given integer mixture weights "
    "per source and a 10M-token budget, compute each source's "
    "available whitespace tokens, its allocated share, and the implied "
    "oversampling factor (epochs, in basis points — >10000 means the "
    "source repeats). The per-source aggregate is the only heavy pass; "
    "the weight normalization runs over the |sources|-row frame. All "
    "integer/FLOOR arithmetic — deterministic replay for dataset "
    "cards.",
    oracle="""
WITH tok AS (
    SELECT source,
           CAST(SUM(LEN(STRING_SPLIT_REGEX(TRIM(text), '\\s+'))) AS BIGINT) AS tokens,
           CAST(CASE WHEN source IN ('src0','src1','src2','src3') THEN 3
                     ELSE 1 END AS BIGINT) AS weight
    FROM documents
    GROUP BY source
), norm AS (
    SELECT source, tokens, weight,
           CAST(SUM(weight) OVER () AS BIGINT) AS total_w
    FROM tok
)
SELECT source, tokens AS tokens_available, weight,
       CAST(FLOOR(CAST(10000000 * weight AS DOUBLE) / total_w) AS BIGINT) AS alloc_tokens,
       CAST(FLOOR(CAST(FLOOR(CAST(10000000 * weight AS DOUBLE) / total_w) * 10000
                       AS DOUBLE) / tokens) AS BIGINT) AS epochs_bp
FROM norm
ORDER BY source
""",
)
def pipeline_token_budget_mixture(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    ws = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long")
    tok = docs.groupBy("source").agg(F.sum(ws).alias("tokens")).select(
        "source",
        "tokens",
        F.when(F.col("source").isin("src0", "src1", "src2", "src3"), 3)
        .otherwise(1)
        .cast("long")
        .alias("weight"),
    )
    total = tok.agg(F.sum("weight").cast("long").alias("total_w"))
    alloc = F.floor((F.lit(10000000) * F.col("weight")).cast("double") / F.col("total_w")).cast(
        "long"
    )
    joined = tok.crossJoin(F.broadcast(total))
    return joined.select(
        "source",
        F.col("tokens").alias("tokens_available"),
        "weight",
        alloc.alias("alloc_tokens"),
        F.floor((alloc * 10000).cast("double") / F.col("tokens")).cast("long").alias("epochs_bp"),
    ).orderBy("source")


@register(
    "events_funnel_strict_sequence",
    doc="Strict sequential funnel: each stage must occur AFTER the "
    "user's previous stage (t_view = first view after first signup, "
    "t_purchase = first purchase after that view) — the semantics the "
    "min-per-stage funnel (events_funnel) approximates. Two keyed "
    "joins back to events, both hash-partitioned on user_id, so the "
    "three passes share one partitioning at scale; counts are "
    "monotonically non-increasing by construction.",
    oracle="""
WITH s1 AS (
    SELECT user_id, MIN(ts) AS t_signup
    FROM events WHERE event_type = 'signup' GROUP BY user_id
), s2 AS (
    SELECT e.user_id, MIN(e.ts) AS t_view
    FROM events e JOIN s1 ON e.user_id = s1.user_id
    WHERE e.event_type = 'view' AND e.ts > s1.t_signup
    GROUP BY e.user_id
), s3 AS (
    SELECT e.user_id, MIN(e.ts) AS t_purchase
    FROM events e JOIN s2 ON e.user_id = s2.user_id
    WHERE e.event_type = 'purchase' AND e.ts > s2.t_view
    GROUP BY e.user_id
)
SELECT CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n_signup,
       CAST((SELECT COUNT(*) FROM s2) AS BIGINT) AS n_signup_then_view,
       CAST((SELECT COUNT(*) FROM s3) AS BIGINT) AS n_full_funnel
""",
)
def events_funnel_strict_sequence(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    s1 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "view")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t_signup"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        s1.agg(F.count(F.lit(1)).cast("long").alias("n_signup"))
        .crossJoin(s2.agg(F.count(F.lit(1)).cast("long").alias("n_signup_then_view")))
        .crossJoin(s3.agg(F.count(F.lit(1)).cast("long").alias("n_full_funnel")))
    )


@register(
    "pipeline_url_canonical_dedup",
    doc="Canonical-URL dedup — the web-corpus curation step before "
    "fetch/content dedup: each doc yields two deterministic noisy "
    "variants of its URL (upper-cased host + utm_ tracking param; "
    "trailing slash + fragment), canonicalization lower-cases the "
    "host, strips utm params, fragments and trailing slashes, and the "
    "distinct count proves 2:1 collapse. Map-only canonicalize + one "
    "dedup shuffle on the canonical key; the variant explode is "
    "flatMap-shaped, never a join.",
    oracle="""
WITH variants AS (
    SELECT source, doc_id,
           'https://' || UPPER(source) || '.EXAMPLE.COM/docs/'
             || CAST(doc_id AS VARCHAR) || '?utm_source=feed&lang=' || lang AS url
    FROM documents
    UNION ALL
    SELECT source, doc_id,
           'https://' || source || '.example.com/docs/'
             || CAST(doc_id AS VARCHAR) || '/?lang=' || lang || '#sec2' AS url
    FROM documents
), canon AS (
    SELECT source, doc_id,
           REGEXP_REPLACE(
             REGEXP_REPLACE(
               REGEXP_REPLACE(LOWER(url), '#.*$', ''),
               'utm_[a-z]+=[^&#]*&?', ''),
             '/\\?', '?') AS curl
    FROM variants
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_raw,
       CAST(COUNT(DISTINCT curl) AS BIGINT) AS n_canonical
FROM canon
GROUP BY source
ORDER BY source
""",
)
def pipeline_url_canonical_dedup(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    u1 = F.concat(
        F.lit("https://"), F.upper("source"), F.lit(".EXAMPLE.COM/docs/"),
        F.col("doc_id").cast("string"), F.lit("?utm_source=feed&lang="), F.col("lang"),
    )
    u2 = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"), F.lit("/?lang="), F.col("lang"), F.lit("#sec2"),
    )
    variants = d.select(
        "source", "doc_id", F.explode(F.array(u1, u2)).alias("url")
    )
    curl = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("url")), r"#.*$", ""),
            r"utm_[a-z]+=[^&#]*&?", "",
        ),
        r"/\?", "?",
    )
    return (
        variants.select("source", curl.alias("curl"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_raw"),
            F.count_distinct(F.col("curl")).cast("long").alias("n_canonical"),
        )
        .orderBy("source")
    )


@register(
    "events_trigram_paths",
    doc="Behavioral path mining: the most common consecutive 3-step "
    "event-type sequences per user journey (LEAD twice over the "
    "(ts, event_id) total order), counted corpus-wide — the n-gram LM "
    "idea applied to event streams. One shuffle on user_id for the "
    "windows, one tiny count aggregate; top paths via deterministic "
    "(count DESC, path) ordering.",
    oracle="""
WITH seq AS (
    SELECT user_id, event_type,
           LEAD(event_type, 1) OVER w AS e2,
           LEAD(event_type, 2) OVER w AS e3
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_type || '>' || e2 || '>' || e3 AS path,
       CAST(COUNT(*) AS BIGINT) AS n
FROM seq
WHERE e2 IS NOT NULL AND e3 IS NOT NULL
GROUP BY path
ORDER BY n DESC, path
LIMIT 25
""",
)
def events_trigram_paths(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e2").isNotNull() & F.col("e3").isNotNull())
    return (
        seq.select(
            F.concat_ws(">", "event_type", "e2", "e3").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(25)
    )


@register(
    "agg_deciles_disc",
    doc="Discrete decile table per event type: percentile_disc picks "
    "ACTUAL data values (no interpolation, so the doubles pass through "
    "both engines verbatim — exactness for free, unlike _cont). One "
    "aggregate pass computing all nine cut points together.",
    oracle="""
SELECT event_type, CAST(d.dec AS BIGINT) AS decile,
       CASE d.dec
         WHEN 1 THEN QUANTILE_DISC(value, 0.1) WHEN 2 THEN QUANTILE_DISC(value, 0.2)
         WHEN 3 THEN QUANTILE_DISC(value, 0.3) WHEN 4 THEN QUANTILE_DISC(value, 0.4)
         WHEN 5 THEN QUANTILE_DISC(value, 0.5) WHEN 6 THEN QUANTILE_DISC(value, 0.6)
         WHEN 7 THEN QUANTILE_DISC(value, 0.7) WHEN 8 THEN QUANTILE_DISC(value, 0.8)
         ELSE QUANTILE_DISC(value, 0.9) END AS cut_value
FROM events, (SELECT UNNEST(GENERATE_SERIES(1, 9)) AS dec) d
GROUP BY event_type, d.dec
ORDER BY event_type, decile
""",
)
def agg_deciles_disc(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    cuts = ev.groupBy("event_type").agg(
        *[
            F.expr(f"percentile_disc({k / 10}) WITHIN GROUP (ORDER BY value)").alias(
                f"p{k}"
            )
            for k in range(1, 10)
        ]
    )
    pairs = F.array(
        *[
            F.struct(F.lit(k).cast("long").alias("decile"), F.col(f"p{k}").alias("cut_value"))
            for k in range(1, 10)
        ]
    )
    return (
        cuts.select("event_type", F.explode(pairs).alias("x"))
        .select("event_type", "x.decile", "x.cut_value")
        .orderBy("event_type", "decile")
    )


@register(
    "analytics_rfm_segmentation",
    doc="RFM customer segmentation: recency (days since last order), "
    "frequency (order count), monetary (revenue cents) per customer, "
    "each scored into quintiles by ntile over a deterministic total "
    "order (metric, then custkey tiebreak), concatenated into the "
    "classic 555-style segment code and counted. The heavy pass is "
    "the one orders scan. Scale design (round 9): NO global ntile "
    "window — each quintile score derives from an EXACT global rank "
    "built with the two-phase assign_offsets prefix sum "
    "(range-repartition + per-partition row_number + a ~32-row "
    "cumulative-base frame), then the NTILE bucket is computed "
    "arithmetically from (rank, N): the first N%5 buckets take "
    "ceil(N/5) rows — bit-identical to NTILE(5) on both engines, but "
    "fully parallel at customer cardinality.",
    oracle="""
WITH per_cust AS (
    SELECT o_custkey AS k,
           DATE_DIFF('day', CAST(MAX(o_orderdate) AS DATE), DATE '2002-01-01') AS rec,
           CAST(COUNT(*) AS BIGINT) AS freq,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) * 100 AS BIGINT) AS mon
    FROM orders GROUP BY o_custkey
), scored AS (
    SELECT k,
           NTILE(5) OVER (ORDER BY rec DESC, k) AS r_score,
           NTILE(5) OVER (ORDER BY freq, k) AS f_score,
           NTILE(5) OVER (ORDER BY mon, k) AS m_score
    FROM per_cust
)
SELECT CAST(r_score AS BIGINT) * 100 + f_score * 10 + m_score AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_customers
FROM scored
GROUP BY segment
ORDER BY segment
""",
)
def analytics_rfm_segmentation(spark, sf_dir):
    orders = t(spark, sf_dir, "orders")
    per_cust = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.datediff(
            F.lit("2002-01-01").cast("date"), F.to_date(F.max("o_orderdate"))
        ).alias("rec"),
        F.count(F.lit(1)).cast("long").alias("freq"),
        (F.sum(dec("o_totalprice")) * 100).cast("long").alias("mon"),
    )
    from cascade_spark.operators.ingest import assign_offsets

    # one materialization shared by the three rank passes
    per_cust = per_cust.transform(barrier_eager)
    n = per_cust.agg(F.count(F.lit(1)).cast("long").alias("_n"))

    # exact NTILE(5) from an exact global rank: the first N%5 buckets
    # take N DIV 5 + 1 rows, the rest N DIV 5 (Spark/DuckDB NTILE rule)
    _ntile5 = (
        "CAST(CASE WHEN _r <= (_n % 5) * (_n DIV 5 + 1)"
        " THEN (_r - 1) DIV (_n DIV 5 + 1) + 1"
        " ELSE (_n % 5) + (_r - (_n % 5) * (_n DIV 5 + 1) - 1) DIV (_n DIV 5) + 1"
        " END AS BIGINT)"
    )

    def _quintile(order_col, desc, name):
        base = per_cust.select(
            "k",
            (-F.col(order_col) if desc else F.col(order_col)).alias("_o"),
        )
        ranked = assign_offsets(base, ["_o", "k"])
        return (
            ranked.select("k", (F.col("offset") + 1).alias("_r"))
            .crossJoin(F.broadcast(n))
            .select("k", F.expr(_ntile5).alias(name))
        )

    scored = (
        _quintile("rec", True, "r_score")
        .join(_quintile("freq", False, "f_score"), "k")
        .join(_quintile("mon", False, "m_score"), "k")
    )
    return (
        scored.select(
            (F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")).alias(
                "segment"
            )
        )
        .groupBy("segment")
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
        .orderBy("segment")
    )


@register(
    "analytics_abc_pareto",
    doc="ABC / Pareto analysis: parts ranked by revenue, classified by "
    "cumulative revenue share (A ≤ 80%, B ≤ 95%, C rest) in exact "
    "integer arithmetic — cum_cents * 100 vs threshold * total_cents, "
    "no float shares. The per-part aggregate is the heavy pass; the "
    "classification window runs over |parts| rows. (The rank window "
    "is keyed on nothing — at 100 TB the classification tier would "
    "bucket by revenue range first; the per-part frame here is "
    "catalog-sized, the standard assumption for ABC.)",
    oracle="""
WITH per_part AS (
    SELECT l_partkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))) * 100 AS BIGINT) AS cents
    FROM lineitem GROUP BY l_partkey
), ranked AS (
    SELECT l_partkey, cents,
           SUM(cents) OVER (ORDER BY cents DESC, l_partkey
                            ROWS UNBOUNDED PRECEDING) AS cum,
           SUM(cents) OVER () AS total
    FROM per_part
)
SELECT CASE WHEN cum * 100 <= total * 80 THEN 'A'
            WHEN cum * 100 <= total * 95 THEN 'B' ELSE 'C' END AS klass,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(cents) AS BIGINT) AS class_cents
FROM ranked
GROUP BY klass
ORDER BY klass
""",
)
def analytics_abc_pareto(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        (F.sum(dec("l_extendedprice")) * 100).cast("long").alias("cents")
    )
    w = Window.orderBy(F.col("cents").desc(), "l_partkey").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wt = Window.partitionBy()
    ranked = per_part.select(
        "cents",
        F.sum("cents").over(w).alias("cum"),
        F.sum("cents").over(wt).alias("total"),
    )
    klass = (
        F.when(F.col("cum") * 100 <= F.col("total") * 80, "A")
        .when(F.col("cum") * 100 <= F.col("total") * 95, "B")
        .otherwise("C")
    )
    return (
        ranked.select(klass.alias("klass"), "cents")
        .groupBy("klass")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum("cents").cast("long").alias("class_cents"),
        )
        .orderBy("klass")
    )


@register(
    "events_inter_arrival_stats",
    doc="Inter-arrival time statistics per event type — the queueing "
    "signal behind throughput dashboards and rate-source calibration: "
    "LAG over the (ts, event_id) total order, gaps in exact "
    "microseconds, then count / exact-floor mean / discrete median "
    "(actual gap values, interpolation-free) / max. One shuffle on "
    "event_type serves the window and the aggregate.",
    oracle="""
WITH gaps AS (
    SELECT event_type,
           EPOCH_US(ts) - LAG(EPOCH_US(ts)) OVER (
               PARTITION BY event_type ORDER BY ts, event_id) AS gap_us
    FROM events
)
SELECT event_type,
       CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
       CAST((SUM(gap_us) - (SUM(gap_us) % COUNT(gap_us))) / COUNT(gap_us)
            AS BIGINT) AS mean_gap_us,
       CAST(QUANTILE_DISC(gap_us, 0.5) AS BIGINT) AS median_gap_us,
       CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
FROM gaps
WHERE gap_us IS NOT NULL
GROUP BY event_type
ORDER BY event_type
""",
)
def events_inter_arrival_stats(spark, sf_dir):
    from cascade_spark.operators._util import _intdiv

    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    gaps = ev.select(
        "event_type", (us - F.lag(us).over(w)).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count("gap_us").cast("long").alias("n_gaps"),
            _intdiv(F.sum("gap_us"), F.count("gap_us")).cast("long").alias("mean_gap_us"),
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY gap_us)")
            .cast("long")
            .alias("median_gap_us"),
            F.max("gap_us").cast("long").alias("max_gap_us"),
        )
        .orderBy("event_type")
    )


@register(
    "events_survival_curve",
    doc="Retention survival curve: for each day-offset k, the share of "
    "users still active k or more days after their first activity "
    "(survival = lifespan >= k). Per-user lifespan is one aggregate; "
    "the curve explodes each user into lifespan+1 offset rows (a "
    "|users| x 31 flatMap at most) and counts per offset — no "
    "per-day rescan of events. Share in exact floor basis points.",
    oracle="""
WITH spans AS (
    SELECT user_id,
           DATE_DIFF('day', MIN(CAST(ts AS DATE)), MAX(CAST(ts AS DATE))) AS lifespan
    FROM events GROUP BY user_id
), curve AS (
    SELECT k.k, COUNT(*) AS n_surviving
    FROM spans, (SELECT UNNEST(GENERATE_SERIES(0, 30)) AS k) k
    WHERE spans.lifespan >= k.k
    GROUP BY k.k
)
SELECT CAST(k AS BIGINT) AS day_offset,
       CAST(n_surviving AS BIGINT) AS n_surviving,
       CAST((n_surviving * 10000) // (SELECT COUNT(*) FROM spans) AS BIGINT)
         AS survival_bp
FROM curve
ORDER BY day_offset
""",
)
def events_survival_curve(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    spans = ev.groupBy("user_id").agg(
        F.datediff(F.max(F.to_date("ts")), F.min(F.to_date("ts"))).alias("lifespan")
    )
    total = spans.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    curve = (
        spans.select(F.explode(F.sequence(F.lit(0), F.col("lifespan"))).alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("n_surviving"))
    )
    return (
        curve.crossJoin(F.broadcast(total))
        .select(
            F.col("k").cast("long").alias("day_offset"),
            "n_surviving",
            F.floor((F.col("n_surviving") * 10000).cast("double") / F.col("n_total"))
            .cast("long")
            .alias("survival_bp"),
        )
        .orderBy("day_offset")
    )


@register(
    "agg_rollup_share_of_parent",
    doc="Share-of-parent over a hierarchy: one rollup pass produces "
    "(year, priority) leaves and year subtotals; a self-join keyed on "
    "the parent level turns them into percent-of-parent in exact "
    "floor basis points — the standard BI drill-down decoration. The "
    "rollup is one pass; the parent join touches only the "
    "|years|x|priorities| aggregate frame.",
    oracle="""
WITH r AS (
    SELECT YEAR(o_orderdate) AS yr, o_orderpriority AS prio,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) * 100 AS BIGINT) AS cents
    FROM orders
    GROUP BY ROLLUP(YEAR(o_orderdate), o_orderpriority)
), leaves AS (
    SELECT yr, prio, cents FROM r WHERE yr IS NOT NULL AND prio IS NOT NULL
), parents AS (
    SELECT yr, cents AS parent_cents FROM r WHERE yr IS NOT NULL AND prio IS NULL
)
SELECT CAST(l.yr AS BIGINT) AS yr, l.prio,
       l.cents,
       CAST((l.cents * 10000) // p.parent_cents AS BIGINT) AS share_of_year_bp
FROM leaves l JOIN parents p ON l.yr = p.yr
ORDER BY yr, prio
""",
)
def agg_rollup_share_of_parent(spark, sf_dir):
    orders = t(spark, sf_dir, "orders")
    r = (
        orders.rollup(F.year("o_orderdate").alias("yr"), F.col("o_orderpriority").alias("prio"))
        .agg((F.sum(dec("o_totalprice")) * 100).cast("long").alias("cents"))
    )
    leaves = r.filter(F.col("yr").isNotNull() & F.col("prio").isNotNull())
    parents = r.filter(F.col("yr").isNotNull() & F.col("prio").isNull()).select(
        F.col("yr").alias("p_yr"), F.col("cents").alias("parent_cents")
    )
    return (
        leaves.join(F.broadcast(parents), leaves.yr == parents.p_yr)
        .select(
            F.col("yr").cast("long").alias("yr"),
            "prio",
            "cents",
            F.floor((F.col("cents") * 10000).cast("double") / F.col("parent_cents"))
            .cast("long")
            .alias("share_of_year_bp"),
        )
        .orderBy("yr", "prio")
    )


@register(
    "analytics_association_lift",
    doc="Association metrics layer: for ordered event-type pairs "
    "co-occurring in user baskets, support / confidence / lift as "
    "EXACT floor basis points (lift_bp = n*cooc*10000 // (na*nb)) — "
    "the relational metric pass downstream of FP-Growth "
    "(analytics_frequent_itemsets mines the sets; this scores them "
    "without MLlib so every number is oracle-checkable). Baskets are "
    "distinct (user, type) pairs; the pair join is |types|^2-bounded "
    "per user, then one count aggregate.",
    oracle="""
WITH baskets AS (
    SELECT DISTINCT user_id, event_type FROM events
), n_users AS (
    SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n FROM events
), singles AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt FROM baskets GROUP BY event_type
), pairs AS (
    SELECT a.event_type AS ante, b.event_type AS cons,
           CAST(COUNT(*) AS BIGINT) AS cooc
    FROM baskets a JOIN baskets b
      ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY a.event_type, b.event_type
)
SELECT p.ante, p.cons, p.cooc,
       CAST((p.cooc * 10000) // n.n AS BIGINT) AS support_bp,
       CAST((p.cooc * 10000) // sa.cnt AS BIGINT) AS confidence_bp,
       CAST((n.n * p.cooc * 10000) // (sa.cnt * sb.cnt) AS BIGINT) AS lift_bp
FROM pairs p
JOIN singles sa ON sa.event_type = p.ante
JOIN singles sb ON sb.event_type = p.cons
CROSS JOIN n_users n
ORDER BY ante, cons
""",
)
def analytics_association_lift(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    baskets = ev.select("user_id", "event_type").distinct()
    n_users = ev.agg(F.count_distinct("user_id").cast("long").alias("n"))
    singles = baskets.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    a, b = baskets.alias("a"), baskets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(F.col("a.event_type").alias("ante"), F.col("b.event_type").alias("cons"))
        .agg(F.count(F.lit(1)).cast("long").alias("cooc"))
    )
    sa = singles.select(F.col("event_type").alias("ante"), F.col("cnt").alias("cnt_a"))
    sb = singles.select(F.col("event_type").alias("cons"), F.col("cnt").alias("cnt_b"))
    out = (
        pairs.join(F.broadcast(sa), "ante")
        .join(F.broadcast(sb), "cons")
        .crossJoin(F.broadcast(n_users))
    )

    def bp(num, den):
        return F.floor(num.cast("double") / den).cast("long")

    return out.select(
        "ante",
        "cons",
        "cooc",
        bp(F.col("cooc") * 10000, F.col("n")).alias("support_bp"),
        bp(F.col("cooc") * 10000, F.col("cnt_a")).alias("confidence_bp"),
        bp(F.col("n") * F.col("cooc") * 10000, F.col("cnt_a") * F.col("cnt_b")).alias(
            "lift_bp"
        ),
    ).orderBy("ante", "cons")


@register(
    "stats_winsorized_mean",
    doc="Winsorized mean per event type: clamp values at the exact "
    "discrete p05/p95 cut points (percentile_disc — actual data "
    "values, no interpolation), then an exact floor-mean over the "
    "clamped integer cents — the outlier-robust complement to the MAD "
    "detector. Two passes over one shuffle key: cuts, then a "
    "broadcast-join clamp + combinable mean.",
    oracle="""
WITH v AS (
    SELECT event_type,
           CAST(CAST(value AS DECIMAL(12,4)) * 100 AS BIGINT) AS cents
    FROM events WHERE value IS NOT NULL
), cuts AS (
    SELECT event_type,
           QUANTILE_DISC(cents, 0.05) AS lo,
           QUANTILE_DISC(cents, 0.95) AS hi
    FROM v GROUP BY event_type
), clamped AS (
    SELECT v.event_type,
           LEAST(GREATEST(v.cents, c.lo), c.hi) AS w
    FROM v JOIN cuts c ON v.event_type = c.event_type
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST((SUM(w) - (SUM(w) % COUNT(*))) / COUNT(*) AS BIGINT)
         AS winsorized_mean_cents
FROM clamped
GROUP BY event_type
ORDER BY event_type
""",
)
def stats_winsorized_mean(spark, sf_dir):
    from cascade_spark.operators._util import _intdiv

    ev = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    v = ev.select("event_type", (dec("value") * 100).cast("long").alias("cents"))
    cuts = v.groupBy("event_type").agg(
        F.expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY cents)").alias("lo"),
        F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY cents)").alias("hi"),
    )
    clamped = v.join(F.broadcast(cuts), "event_type").select(
        "event_type",
        F.least(F.greatest(F.col("cents"), F.col("lo")), F.col("hi")).alias("w"),
    )
    return (
        clamped.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            _intdiv(F.sum("w"), F.count(F.lit(1))).cast("long").alias(
                "winsorized_mean_cents"
            ),
        )
        .orderBy("event_type")
    )


@register(
    "events_attribution_touch",
    doc="Marketing attribution: every purchase is matched to the clicks "
    "of the same user in a strict 72h lookback window; first-touch and "
    "last-touch click timestamps, click count, and attribution flag per "
    "purchase. One user_id-keyed join (both sides co-partitioned on the "
    "user key — the candidate space is bounded per user, never a "
    "cross-stream explosion) feeding one combinable per-purchase "
    "aggregate. Timestamps compared in exact epoch micros.",
    oracle="""
WITH p AS (
    SELECT event_id, user_id, ts, EPOCH_US(ts) AS pus
    FROM events WHERE event_type = 'purchase'
),
c AS (
    SELECT user_id, EPOCH_US(ts) AS cus
    FROM events WHERE event_type = 'click'
),
m AS (
    SELECT p.event_id, p.user_id, p.ts,
           CAST(COUNT(c.cus) AS BIGINT) AS n_clicks_window,
           MIN(c.cus) AS first_us, MAX(c.cus) AS last_us
    FROM p LEFT JOIN c
      ON c.user_id = p.user_id
     AND c.cus < p.pus
     AND p.pus - c.cus <= 72 * 3600 * 1000000::BIGINT
    GROUP BY p.event_id, p.user_id, p.ts
)
SELECT event_id, user_id,
       STRFTIME(ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
       n_clicks_window,
       first_us AS first_touch_us,
       last_us AS last_touch_us,
       (n_clicks_window > 0) AS attributed
FROM m
ORDER BY event_id
""",
)
def events_attribution_touch(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", us.alias("pus")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), us.alias("cus")
    )
    window_us = 72 * 3600 * 1_000_000
    m = p.join(
        c,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("cus") < F.col("pus"))
        & (F.col("pus") - F.col("cus") <= window_us),
        "left",
    ).groupBy("event_id", "user_id", "ts")
    return (
        m.agg(
            F.count("cus").cast("long").alias("n_clicks_window"),
            F.min("cus").alias("first_touch_us"),
            F.max("cus").alias("last_touch_us"),
        )
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
            "n_clicks_window",
            "first_touch_us",
            "last_touch_us",
            (F.col("n_clicks_window") > 0).alias("attributed"),
        )
        .orderBy("event_id")
    )


# --- temperature-scaled mixture sampling -------------------------------------
# alpha = 0.5 temperature flattening (multilingual-LM data mixing, the
# XLM-R / mT5 recipe): sampling weight w_s = sqrt(n_s) boosts the tail
# sources relative to proportional sampling. sqrt is made EXACT via an
# integer isqrt (float sqrt then a +/-1 correction — off-by-one-proof
# for n < 2^52), so both engines agree bit-for-bit.
TEMP_BUDGET = 10_000_000


def _sql_isqrt(n: str) -> str:
    s0 = f"CAST(FLOOR(SQRT(CAST({n} AS DOUBLE))) AS BIGINT)"
    return (
        f"(CASE WHEN ({s0} + 1) * ({s0} + 1) <= {n} THEN {s0} + 1 "
        f"WHEN {s0} * {s0} > {n} THEN {s0} - 1 ELSE {s0} END)"
    )


def _isqrt(n: F.Column) -> F.Column:
    s0 = F.floor(F.sqrt(n.cast("double"))).cast("long")
    return (
        F.when((s0 + 1) * (s0 + 1) <= n, s0 + 1)
        .when(s0 * s0 > n, s0 - 1)
        .otherwise(s0)
    )


@register(
    "pipeline_mixture_temperature",
    doc="Temperature-scaled (alpha=0.5) source mixture: per-source doc "
    "counts -> sampling weight isqrt(n) -> share in floor bp and a "
    f"{TEMP_BUDGET}-doc epoch allocation, plus the boost vs "
    "proportional sampling (floor bp of ratio). isqrt is exact integer "
    "arithmetic in both engines (float sqrt + correction), so the whole "
    "table hash-checks. The aggregate is one map-side-combinable "
    "groupBy; the |sources|-row weight table is driver-free.",
    oracle=f"""
WITH n AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
           FROM documents GROUP BY source),
w AS (SELECT source, n_docs, {_sql_isqrt('n_docs')} AS weight FROM n),
tot AS (SELECT CAST(SUM(weight) AS BIGINT) AS tw,
               CAST(SUM(n_docs) AS BIGINT) AS tn FROM w)
SELECT w.source, w.n_docs, w.weight,
       (10000 * w.weight) // t.tw AS share_bp,
       ({TEMP_BUDGET} * w.weight) // t.tw AS alloc_docs,
       (10000 * w.n_docs) // t.tn AS prop_share_bp,
       CASE WHEN (10000 * w.n_docs) // t.tn = 0 THEN NULL
            ELSE (10000 * ((10000 * w.weight) // t.tw))
                 // ((10000 * w.n_docs) // t.tn) END AS boost_bp
FROM w, tot t
ORDER BY source
""",
)
def pipeline_mixture_temperature(spark, sf_dir):
    from cascade_spark.operators._util import _intdiv, bigint

    d = t(spark, sf_dir, "documents")
    n = d.groupBy("source").agg(bigint(F.count(F.lit(1))).alias("n_docs"))
    w = n.select("source", "n_docs", _isqrt(F.col("n_docs")).alias("weight"))
    tot = w.agg(
        bigint(F.sum("weight")).alias("tw"), bigint(F.sum("n_docs")).alias("tn")
    )
    j = w.crossJoin(F.broadcast(tot))
    share = _intdiv(F.lit(10000) * F.col("weight"), F.col("tw"))
    prop = _intdiv(F.lit(10000) * F.col("n_docs"), F.col("tn"))
    return j.select(
        "source",
        "n_docs",
        "weight",
        share.alias("share_bp"),
        _intdiv(F.lit(TEMP_BUDGET) * F.col("weight"), F.col("tw")).alias("alloc_docs"),
        prop.alias("prop_share_bp"),
        F.when(prop == 0, F.lit(None).cast("long"))
        .otherwise(_intdiv(F.lit(10000) * share, prop))
        .alias("boost_bp"),
    ).orderBy("source")


@register(
    "events_funnel_conversion_window",
    doc="Time-bounded funnel conversion: users whose FIRST purchase "
    "lands within 1 hour of their FIRST signup, grouped by signup day "
    "— the product-analytics conversion-window metric (the plain "
    "funnel counts any-time completion). Per-user firsts are one "
    "user-key aggregate each, the window match is a user-key "
    "co-partitioned join with the time bound in the join condition, "
    "and the mean time-to-convert is an exact floor of epoch-µs gaps. "
    "Two user-key shuffles total at any scale.",
    oracle="""
WITH sgn AS (
    SELECT user_id, MIN(ts) AS s FROM events
    WHERE event_type = 'signup' GROUP BY user_id
),
conv AS (
    SELECT g.user_id, g.s, MIN(e.ts) AS p
    FROM sgn g JOIN events e
      ON e.user_id = g.user_id AND e.event_type = 'purchase'
     AND e.ts > g.s AND e.ts <= g.s + INTERVAL 1 HOUR
    GROUP BY g.user_id, g.s
)
SELECT STRFTIME(g.s, '%Y-%m-%d') AS signup_day,
       CAST(COUNT(*) AS BIGINT) AS n_signups,
       CAST(COUNT(c.user_id) AS BIGINT) AS n_converted,
       CAST(COALESCE((10000 * COUNT(c.user_id)) // COUNT(*), 0) AS BIGINT)
           AS conversion_bp,
       CAST(CASE WHEN COUNT(c.user_id) > 0
                 THEN SUM(EPOCH_US(c.p) - EPOCH_US(c.s)) // COUNT(c.user_id)
            END AS BIGINT) AS mean_gap_us
FROM sgn g LEFT JOIN conv c ON g.user_id = c.user_id
GROUP BY 1 ORDER BY signup_day
""",
)
def events_funnel_conversion_window(spark, sf_dir):
    from cascade_spark.operators._util import _intdiv

    ev = t(spark, sf_dir, "events")
    sgn = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s"))
    )
    pur = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("pts")
    )
    conv = (
        sgn.join(
            pur,
            (F.col("user_id") == F.col("pu"))
            & (F.col("pts") > F.col("s"))
            & (F.col("pts") <= F.col("s") + F.expr("INTERVAL 1 HOUR")),
        )
        .groupBy("user_id", "s")
        .agg(F.min("pts").alias("p"))
        .select(F.col("user_id").alias("cu"), F.col("p"))
    )
    j = sgn.join(conv, sgn["user_id"] == conv["cu"], "left_outer")
    return (
        j.groupBy(F.date_format("s", "yyyy-MM-dd").alias("signup_day"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_signups"),
            F.count("cu").cast("long").alias("n_converted"),
            F.coalesce(
                _intdiv(F.lit(10000) * F.count("cu"), F.count(F.lit(1))), F.lit(0)
            )
            .cast("long")
            .alias("conversion_bp"),
            F.when(
                F.count("cu") > 0,
                _intdiv(
                    F.sum(F.unix_micros("p") - F.unix_micros("s")), F.count("cu")
                ),
            )
            .cast("long")
            .alias("mean_gap_us"),
        )
        .orderBy("signup_day")
    )


LTV_MAX_OFFSET = 7


@register(
    "events_cohort_ltv",
    doc="Cohort LTV curve: users grouped by first-seen day, cumulative "
    f"purchase value at day offsets 0..{LTV_MAX_OFFSET} since joining "
    "— the revenue twin of the retention matrix. Per-user firsts are "
    "one user-key aggregate, the offset spine is generated (gap-free "
    "even for offsets with no purchases), value accumulates in exact "
    "DECIMAL(12,4), and the cumulative window runs over at most "
    f"{LTV_MAX_OFFSET + 1} rows per cohort — never event-sized "
    "partitions.",
    oracle=f"""
WITH first_seen AS (
    SELECT user_id, CAST(MIN(ts) AS DATE) AS cohort_day
    FROM events GROUP BY user_id
),
purch AS (
    SELECT f.cohort_day,
           DATEDIFF('day', f.cohort_day, CAST(e.ts AS DATE)) AS off,
           CAST(e.value AS DECIMAL(12,4)) AS v
    FROM events e JOIN first_seen f ON e.user_id = f.user_id
    WHERE e.event_type = 'purchase'
      AND DATEDIFF('day', f.cohort_day, CAST(e.ts AS DATE))
          BETWEEN 0 AND {LTV_MAX_OFFSET}
),
spine AS (
    SELECT DISTINCT f.cohort_day, o.off
    FROM first_seen f,
         (SELECT UNNEST(GENERATE_SERIES(0, {LTV_MAX_OFFSET})) AS off) o
),
daily AS (
    SELECT s.cohort_day, s.off,
           COALESCE(SUM(p.v), CAST(0 AS DECIMAL(12,4))) AS rev
    FROM spine s LEFT JOIN purch p
      ON p.cohort_day = s.cohort_day AND p.off = s.off
    GROUP BY s.cohort_day, s.off
)
SELECT STRFTIME(cohort_day, '%Y-%m-%d') AS cohort_day,
       CAST(off AS BIGINT) AS day_offset,
       ROUND(SUM(rev) OVER (PARTITION BY cohort_day ORDER BY off), 2)::DOUBLE
           AS cum_revenue
FROM daily
ORDER BY cohort_day, day_offset
""",
)
def events_cohort_ltv(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min("ts").cast("date").alias("cohort_day")
    )
    purch = (
        ev.filter(F.col("event_type") == "purchase")
        .join(first_seen, "user_id")
        .select(
            "cohort_day",
            F.datediff(F.col("ts").cast("date"), F.col("cohort_day")).alias("off"),
            dec("value").alias("v"),
        )
        .filter(F.col("off").between(0, LTV_MAX_OFFSET))
    )
    offsets = (
        first_seen.sparkSession.range(LTV_MAX_OFFSET + 1)
        .select(F.col("id").cast("int").alias("off"))
    )
    spine = first_seen.select("cohort_day").distinct().crossJoin(F.broadcast(offsets))
    daily = (
        spine.join(purch, ["cohort_day", "off"], "left_outer")
        .groupBy("cohort_day", "off")
        .agg(F.coalesce(F.sum("v"), F.lit(0).cast("decimal(12,4)")).alias("rev"))
    )
    w = (
        Window.partitionBy("cohort_day")
        .orderBy("off")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return daily.select(
        F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
        F.col("off").cast("long").alias("day_offset"),
        d2(F.sum("rev").over(w)).alias("cum_revenue"),
    ).orderBy("cohort_day", "day_offset")


@register(
    "events_user_feature_vector",
    doc="Per-user ML feature assembly: one combinable groupBy builds the "
    "event-type count vector (click/view/purchase/signup/error), "
    "distinct active days, and total spend in exact cents, then packs "
    "the counts into an array<long> feature vector whose L1 norm comes "
    "from F.aggregate — the assembly shape a training pipeline feeds a "
    "featurizer. The vector is RENDERED as a canonical 'c,v,p,s,e' "
    "string for the driver (its canonicalizer rejects top-level array "
    "columns); the array itself stays internal. All integer "
    "arithmetic, one combinable shuffle (the user key), no Python.",
    oracle="""
SELECT user_id,
       ARRAY_TO_STRING(LIST_VALUE(
           CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT),
           CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT),
           CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT),
           CAST(COUNT(*) FILTER (WHERE event_type = 'signup') AS BIGINT),
           CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT)
       ), ',') AS type_counts,
       CAST(COUNT(*) FILTER (WHERE event_type = 'click')
            + COUNT(*) FILTER (WHERE event_type = 'view')
            + COUNT(*) FILTER (WHERE event_type = 'purchase')
            + COUNT(*) FILTER (WHERE event_type = 'signup')
            + COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS l1,
       CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_active_days,
       CAST(COALESCE(SUM(CAST(value AS DECIMAL(12,4)) * 100), 0) AS BIGINT)
           AS total_value_cents
FROM events
GROUP BY user_id
ORDER BY user_id
""",
)
def events_user_feature_vector(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    cnt = [
        F.sum(F.when(F.col("event_type") == et, 1).otherwise(0))
        .cast("long")
        .alias(f"n_{et}")
        for et in types
    ]
    g = ev.groupBy("user_id").agg(
        *cnt,
        F.countDistinct(F.to_date("ts")).cast("long").alias("n_active_days"),
        F.coalesce(F.sum(dec("value") * 100), F.lit(0)).cast("long")
        .alias("total_value_cents"),
    )
    vec = F.array(*[F.col(f"n_{et}") for et in types])
    return g.select(
        "user_id",
        F.array_join(vec, ",").alias("type_counts"),
        F.aggregate(vec, F.lit(0).cast("long"), lambda a, x: a + x).alias("l1"),
        "n_active_days",
        "total_value_cents",
    ).orderBy("user_id")


@register(
    "events_conversion_latency",
    doc="Signup-to-purchase conversion latency distribution: per "
    "converting user the exact whole-second gap between first signup "
    "and first subsequent purchase, rolled up to n_converted, median "
    "latency (doubled-rank trick — sum of the two middle order "
    "statistics, exact without IEEE interpolation), p90 (discrete: "
    "smallest latency with rank >= ceil(0.9 n)), and min/max. "
    "Completes the funnel family (events_funnel counts WHO converts; "
    "this measures HOW FAST). Per-user firsts are one combinable "
    "aggregate; the distribution statistics run on the DISTINCT-"
    "latency spine through the two-phase prefix sum — converted-user "
    "counts are user-scale, so no single-task window anywhere.",
    oracle="""
WITH firsts AS (
    SELECT user_id,
           MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
           MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
    FROM events GROUP BY user_id
),
lat AS (
    SELECT CAST(DATE_DIFF('second', t_signup, t_purchase) AS BIGINT) AS gap_s
    FROM firsts
    WHERE t_signup IS NOT NULL AND t_purchase IS NOT NULL
      AND t_purchase >= t_signup
),
ranked AS (
    SELECT gap_s,
           ROW_NUMBER() OVER (ORDER BY gap_s) AS rk,
           COUNT(*) OVER () AS m
    FROM lat
)
SELECT CAST(MAX(m) AS BIGINT) AS n_converted,
       CAST(SUM(CASE WHEN rk IN ((m + 1) // 2, (m + 2) // 2)
                     THEN gap_s ELSE 0 END)
            * CASE WHEN (MAX(m) + 1) // 2 = (MAX(m) + 2) // 2
                   THEN 2 ELSE 1 END AS BIGINT) AS median_x2_s,
       CAST(MIN(CASE WHEN rk * 10 >= m * 9 THEN gap_s END) AS BIGINT) AS p90_s,
       CAST(MIN(gap_s) AS BIGINT) AS min_s,
       CAST(MAX(gap_s) AS BIGINT) AS max_s
FROM ranked
""",
)
def events_conversion_latency(spark, sf_dir):
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t_signup"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    from cascade_spark.operators.ingest import assign_prefix_sum

    lat = firsts.filter(
        F.col("t_signup").isNotNull()
        & F.col("t_purchase").isNotNull()
        & (F.col("t_purchase") >= F.col("t_signup"))
    ).select(
        (
            F.unix_timestamp("t_purchase") - F.unix_timestamp("t_signup")
        ).alias("gap_s")
    )
    # distinct-latency spine + two-phase prefix sum — converted-user
    # counts are user-scale, never a single-task window
    hist = lat.groupBy("gap_s").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    cum = assign_prefix_sum(hist, ["gap_s"], "cnt").select(
        "gap_s", "cnt", (F.col("prefix_sum") + F.col("cnt")).alias("ci")
    )
    n = hist.agg(F.sum("cnt").cast("long").alias("m"))
    c = cum.crossJoin(F.broadcast(n))
    lo_val = F.min(
        F.when(F.col("ci") >= F.expr("(m + 1) DIV 2"), F.col("gap_s"))
    )
    hi_val = F.min(
        F.when(F.col("ci") >= F.expr("(m + 2) DIV 2"), F.col("gap_s"))
    )
    return c.agg(
        F.max("m").cast("long").alias("n_converted"),
        (lo_val + hi_val).cast("long").alias("median_x2_s"),
        F.min(F.when(F.col("ci") * 10 >= F.col("m") * 9, F.col("gap_s")))
        .cast("long")
        .alias("p90_s"),
        F.min("gap_s").cast("long").alias("min_s"),
        F.max("gap_s").cast("long").alias("max_s"),
    )


@register(
    "events_diff_in_differences",
    doc="Difference-in-differences estimator over the events fact: "
    "treatment = odd user_id, post-period = day >= min(day)+15 (the "
    "span midpoint), outcome = event value cents. The 2x2 cell "
    "aggregate (n, Σcents per treat x post) is one map-side-combinable "
    "pass; the DiD effect of MEANS collapses to a single exact "
    "rational over the four cell sums — evaluated in decimal(38,0) / "
    "HUGEINT and reported in floor hundredths-of-a-cent (cent-bp), no "
    "float anywhere. The shape of every A/B readout at 100 TB: "
    "aggregate first, divide once.",
    oracle="""
WITH b AS (SELECT CAST(MIN(ts) AS DATE) + 15 AS cutd FROM events),
cells AS (
    SELECT CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS treat,
           CASE WHEN CAST(ts AS DATE) >= (SELECT cutd FROM b) THEN 1 ELSE 0 END AS post,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(CAST(value AS DECIMAL(12,4)) * 100 AS BIGINT)) AS BIGINT) AS s
    FROM events GROUP BY 1, 2
),
w AS (
    SELECT MAX(CASE WHEN treat = 1 AND post = 1 THEN n END) AS n_tp,
           MAX(CASE WHEN treat = 1 AND post = 1 THEN s END) AS s_tp,
           MAX(CASE WHEN treat = 1 AND post = 0 THEN n END) AS n_t0,
           MAX(CASE WHEN treat = 1 AND post = 0 THEN s END) AS s_t0,
           MAX(CASE WHEN treat = 0 AND post = 1 THEN n END) AS n_cp,
           MAX(CASE WHEN treat = 0 AND post = 1 THEN s END) AS s_cp,
           MAX(CASE WHEN treat = 0 AND post = 0 THEN n END) AS n_c0,
           MAX(CASE WHEN treat = 0 AND post = 0 THEN s END) AS s_c0
    FROM cells
)
SELECT n_tp, n_t0, n_cp, n_c0, s_tp, s_t0, s_cp, s_c0,
       CAST((10000 * ((CAST(s_tp AS HUGEINT) * n_t0 - CAST(s_t0 AS HUGEINT) * n_tp)
                      * (CAST(n_cp AS HUGEINT) * n_c0)
                    - (CAST(s_cp AS HUGEINT) * n_c0 - CAST(s_c0 AS HUGEINT) * n_cp)
                      * (CAST(n_tp AS HUGEINT) * n_t0)))
            // (CAST(n_tp AS HUGEINT) * n_t0 * n_cp * n_c0) AS BIGINT)
           AS did_cent_bp
FROM w
""",
)
def events_diff_in_differences(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    cutd = ev.agg(F.date_add(F.to_date(F.min("ts")), 15).alias("c")).collect()[0]["c"]
    cells = ev.groupBy(
        F.when(F.col("user_id") % 2 == 1, 1).otherwise(0).alias("treat"),
        F.when(F.to_date("ts") >= F.lit(cutd), 1).otherwise(0).alias("post"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("value").cast("decimal(12,4)") * 100).cast("long"))
        .cast("long")
        .alias("s"),
    )

    def cell(tr, po, col):
        return F.max(
            F.when((F.col("treat") == tr) & (F.col("post") == po), F.col(col))
        )

    w = cells.agg(
        cell(1, 1, "n").alias("n_tp"),
        cell(1, 1, "s").alias("s_tp"),
        cell(1, 0, "n").alias("n_t0"),
        cell(1, 0, "s").alias("s_t0"),
        cell(0, 1, "n").alias("n_cp"),
        cell(0, 1, "s").alias("s_cp"),
        cell(0, 0, "n").alias("n_c0"),
        cell(0, 0, "s").alias("s_c0"),
    )

    def d38(c):
        return c.cast("decimal(38,0)")

    num = F.lit(10000) * (
        (d38(F.col("s_tp")) * F.col("n_t0") - d38(F.col("s_t0")) * F.col("n_tp"))
        * (d38(F.col("n_cp")) * F.col("n_c0"))
        - (d38(F.col("s_cp")) * F.col("n_c0") - d38(F.col("s_c0")) * F.col("n_cp"))
        * (d38(F.col("n_tp")) * F.col("n_t0"))
    )
    den = d38(F.col("n_tp")) * F.col("n_t0") * F.col("n_cp") * F.col("n_c0")
    # DuckDB // truncates; did can be negative, so mirror truncation:
    # trunc(x) = sign-aware floor
    q = num / den
    did = F.when(num >= 0, F.floor(q)).otherwise(-F.floor(-q))
    return w.select(
        "n_tp", "n_t0", "n_cp", "n_c0", "s_tp", "s_t0", "s_cp", "s_c0",
        did.cast("long").alias("did_cent_bp"),
    )
