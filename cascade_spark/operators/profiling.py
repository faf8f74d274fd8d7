"""Data profiling + deterministic sampling — pipeline hygiene operators.

- ``profile_events``: per-column null/distinct/min/max profile in ONE
  pass (all aggregates fused into a single partial+final hash aggregate
  — a 100 TB profile costs one scan).
- ``sample_deterministic``: content-hash Bernoulli sampling —
  md5(key) % 100 < rate. Unlike ``df.sample()`` (seeded per-partition
  RNG, layout-dependent), the hash sample is a pure row function:
  reproducible across engines, partitionings, and reruns, which is what
  corpus subsampling needs.
- ``events_transition_matrix``: Markov transition counts between
  consecutive event types per user (lag window) — sequence analytics.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from cascade_spark.plans.registry import register
from cascade_spark.operators._util import d2, dec, sql_avg_round, t


@register(
    "profile_events",
    doc="One-pass column profile: counts, nulls, distincts, min/max per "
    "column — all fused into a single aggregate over one scan.",
    oracle="""
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_event_type,
       COUNT(DISTINCT event_type) AS distinct_event_type,
       COUNT(DISTINCT user_id) AS distinct_user_id,
       MIN(event_id) AS min_event_id,
       MAX(event_id) AS max_event_id,
       CAST(ROUND(MIN(CAST(value AS DECIMAL(12,4))), 2) AS DOUBLE) AS min_value,
       CAST(ROUND(MAX(CAST(value AS DECIMAL(12,4))), 2) AS DOUBLE) AS max_value,
       STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S') AS min_ts,
       STRFTIME(MAX(ts), '%Y-%m-%d %H:%M:%S') AS max_ts
FROM events
""",
)
def profile_events(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("event_type").isNull(), 1).otherwise(0)).cast("long").alias("null_event_type"),
        F.countDistinct("event_type").alias("distinct_event_type"),
        F.countDistinct("user_id").alias("distinct_user_id"),
        F.min("event_id").alias("min_event_id"),
        F.max("event_id").alias("max_event_id"),
        d2(F.min(dec("value"))).alias("min_value"),
        d2(F.max(dec("value"))).alias("max_value"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("min_ts"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("max_ts"),
    )


@register(
    "sample_deterministic",
    doc="Content-hash Bernoulli sample (~10%) + per-lang stratified "
    "counts: md5(doc_id) % 100 < 10 — reproducible across engines, "
    "partitionings, and reruns (unlike seeded per-partition RNG).",
    oracle="""
WITH sampled AS (
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE ('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 10
)
SELECT lang, COUNT(*) AS n_sampled, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM sampled
GROUP BY lang
ORDER BY lang
""",
)
def sample_deterministic(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "long"
    ) % 100
    return (
        d.filter(bucket < 10)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .orderBy("lang")
    )


@register(
    "events_transition_matrix",
    doc="Markov transition counts between consecutive event types per "
    "user (lag window over the per-user shuffle) with transition "
    "probability per source state.",
    oracle=f"""
WITH seq AS (
    SELECT user_id, event_type,
           LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
    FROM events
),
trans AS (
    SELECT prev_type, event_type AS next_type, COUNT(*) AS n
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
)
SELECT prev_type, next_type, n,
       {sql_avg_round("CAST(n AS DECIMAL(12,4))",
                      4,
                      "SUM(n) OVER (PARTITION BY prev_type)")} AS p
FROM trans
ORDER BY prev_type, next_type
""",
)
def events_transition_matrix(spark, sf_dir):
    from cascade_spark.operators._util import avg_round

    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id", "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    trans = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    total = F.sum("n").over(Window.partitionBy("prev_type"))
    return trans.select(
        "prev_type",
        "next_type",
        "n",
        avg_round(dec("n"), total, 4).alias("p"),
    ).orderBy("prev_type", "next_type")


@register(
    "profile_key_skew",
    doc="Join/agg-key skew diagnostic: heavy-hitter share of events per "
    "user_id — the pre-flight check that decides whether a key needs "
    "salting (operators/bucketing.salted_join) before a 100 TB shuffle. "
    "One map-side-combinable count, then TakeOrdered over the (small) "
    "per-key table; skew expressed as exact integers (hitter count × "
    "total keys vs total rows) so no float tolerance.",
    oracle="""
WITH c AS (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id),
tot AS (SELECT COUNT(*) AS n_keys, SUM(cnt) AS n_rows FROM c)
SELECT c.user_id, c.cnt,
       CAST(t.n_keys AS BIGINT) AS n_keys,
       CAST(t.n_rows AS BIGINT) AS n_rows,
       (c.cnt * t.n_keys > 2 * t.n_rows) AS is_skewed
FROM c CROSS JOIN tot t
ORDER BY c.cnt DESC, c.user_id LIMIT 10
""",
)
def profile_key_skew(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    c = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    tot = c.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("cnt").cast("long").alias("n_rows"),
    )
    return (
        c.crossJoin(F.broadcast(tot))
        .select(
            "user_id",
            "cnt",
            "n_keys",
            "n_rows",
            (F.col("cnt") * F.col("n_keys") > 2 * F.col("n_rows")).alias("is_skewed"),
        )
        .orderBy(F.col("cnt").desc(), "user_id")
        .limit(10)
    )


@register(
    "profile_observed_metrics",
    doc="Inline job telemetry via the Observation API: data-quality "
    "counters (rows, null props, distinct-day span, value sum) ride "
    "the SAME pass as the job's real work — df.observe attaches "
    "accumulator-backed metrics to the plan, so at 100 TB the audit "
    "costs zero extra scans (vs running profile_events as a second "
    "job). The observed metrics are returned as a one-row frame and "
    "hash-checked against recomputing them relationally.",
    oracle="""
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_props,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(12,4))), 2) AS DOUBLE) AS total_value,
       COUNT(*) AS job_output_rows
FROM events
""",
)
def profile_observed_metrics(spark, sf_dir):
    from pyspark.sql import Observation

    ev = t(spark, sf_dir, "events")
    obs = Observation("dq")
    watched = ev.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("props").isNull(), 1).otherwise(0)).cast("long").alias("null_props"),
        d2(F.sum(dec("value"))).alias("total_value"),
    )
    # the "real work" the metrics ride along with: a full pass the job
    # would do anyway (here: count the rows it processed)
    job_output_rows = watched.count()
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["null_props"], m["total_value"], job_output_rows)],
        "n_rows long, null_props long, total_value double, job_output_rows long",
    )


@register(
    "profile_expectations_report",
    doc="Declarative data-quality expectations in ONE pass (the "
    "Deequ/Great-Expectations shape): each rule is a FILTER-counted "
    "aggregate — completeness (value not null), range (value within "
    "[0, 1e6)), set membership (event_type in the known enum), "
    "uniqueness (event_id distinct = rows), freshness (max ts inside "
    "the fixture month) — evaluated together in a single combinable "
    "scan, emitted as one (rule, passed, failed, pass_rate_bp) row "
    "each. A validation suite must not cost one scan per rule at "
    "100 TB; this costs one total.",
    oracle="""
WITH base AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(value) AS BIGINT) AS n_value,
           CAST(COUNT(*) FILTER (WHERE value >= 0 AND value < 1000000) AS BIGINT) AS n_range,
           CAST(COUNT(*) FILTER (WHERE event_type IN
                ('click','error','purchase','signup','view')) AS BIGINT) AS n_enum,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_ids,
           CAST(COUNT(*) FILTER (WHERE ts < TIMESTAMP '2024-02-01') AS BIGINT) AS n_fresh
    FROM events
)
SELECT rule, passed, failed,
       CAST((passed * 10000) // (passed + failed) AS BIGINT) AS pass_rate_bp
FROM (
    SELECT 'completeness_value' AS rule, n_value AS passed, n_rows - n_value AS failed FROM base
    UNION ALL SELECT 'range_value', n_range, n_rows - n_range FROM base
    UNION ALL SELECT 'enum_event_type', n_enum, n_rows - n_enum FROM base
    UNION ALL SELECT 'unique_event_id', n_ids, n_rows - n_ids FROM base
    UNION ALL SELECT 'freshness_ts', n_fresh, n_rows - n_fresh FROM base
)
ORDER BY rule
""",
)
def profile_expectations_report(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    base = ev.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count("value").cast("long").alias("n_value"),
        F.count_if((F.col("value") >= 0) & (F.col("value") < 1000000))
        .cast("long")
        .alias("n_range"),
        F.count_if(
            F.col("event_type").isin("click", "error", "purchase", "signup", "view")
        )
        .cast("long")
        .alias("n_enum"),
        F.count_distinct("event_id").cast("long").alias("n_ids"),
        F.count_if(F.col("ts") < F.lit("2024-02-01").cast("timestamp"))
        .cast("long")
        .alias("n_fresh"),
    )
    rules = [
        ("completeness_value", "n_value"),
        ("range_value", "n_range"),
        ("enum_event_type", "n_enum"),
        ("unique_event_id", "n_ids"),
        ("freshness_ts", "n_fresh"),
    ]
    frames = [
        base.select(
            F.lit(name).alias("rule"),
            F.col(col).alias("passed"),
            (F.col("n_rows") - F.col(col)).alias("failed"),
        )
        for name, col in rules
    ]
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    rate = F.floor((F.col("passed") * 10000).cast("double") / (F.col("passed") + F.col("failed"))).cast("long")
    return out.select("rule", "passed", "failed", rate.alias("pass_rate_bp")).orderBy("rule")
