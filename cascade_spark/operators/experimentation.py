"""Round-8 wave-14 experimentation analytics — the A/B-platform trio
that completes the inference surface with *design* tools (the existing
tests answer "did it move"; these answer "how long do users live",
"how much variance can we remove", and "how many samples do we need"):

- ``events_kaplan_meier``: survival with RIGHT-CENSORING — users whose
  last activity falls on the final observed day are censored (still
  alive), unlike events_survival_curve's uncensored lifespan share.
  S(t) = prod_{t_i <= t} (1 - d_i/n_i) over the <= n_days distinct
  death times, the product folded SEQUENTIALLY in time order on both
  engines (Spark aggregate() HOF over the sorted risk table, DuckDB
  recursive CTE) so the IEEE double product is bit-identical, rounded
  to 6 dp.
- ``events_cuped_variance_reduction``: CUPED pre-period adjustment
  readout — theta = cov(pre, post)/var(pre) and the variance-reduction
  fraction rho^2, from EXACT integer moment sums (n*Sxy - Sx*Sy etc.)
  over per-user pre/post activity counts (first-half vs second-half
  days), reported in truncated bp via decimal(38,0)/HUGEINT.
- ``stats_sample_size_two_proportions``: the pre-experiment power
  calculation (alpha = 0.05 two-sided, power = 0.80): n per arm =
  ceil((z_a + z_b)^2 * (p1*q1 + p2*q2) / (p1 - p2)^2) with the z sum
  as the exact rational 28016/10^4 and the rates as floor-bp integers
  (declared semantics) — every step integer arithmetic.

Reference scope: declared aggregates over the consumed event log
(src/broker/main.rs), per SURVEY §2B.

Scale (100 TB): all three collapse the log to per-user or 2x2 spines
in one combinable pass; the KM fold runs over the bounded
distinct-death-time table (spans), the other two are single-row
scalar frames after the first aggregate.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cascade_spark.operators._util import bigint, t
from cascade_spark.plans.registry import register

Z_SUM_E4 = 28016  # z_{0.025} + z_{0.20} = 1.9600 + 0.8416, scaled 1e4


@register(
    "events_kaplan_meier",
    doc="Kaplan–Meier survival over user lifespans with right-censoring "
    "at the observation end (last activity on the final day = censored "
    "alive): per death time t — at-risk count, deaths, censored, and "
    "S(t) as the sequential IEEE product of exact rationals "
    "(1 - d/n), identical fold order in both engines, 6 dp.",
    oracle="""
WITH RECURSIVE bounds AS (SELECT MAX(CAST(ts AS DATE)) AS maxd FROM events),
spans AS (
    SELECT user_id,
           DATE_DIFF('day', MIN(CAST(ts AS DATE)), MAX(CAST(ts AS DATE)))
               AS lifespan,
           CASE WHEN MAX(CAST(ts AS DATE)) = (SELECT maxd FROM bounds)
                THEN 1 ELSE 0 END AS censored
    FROM events WHERE user_id IS NOT NULL GROUP BY user_id
),
risk0 AS (
    SELECT CAST(lifespan AS BIGINT) AS tt,
           CAST(COUNT(*) FILTER (WHERE censored = 0) AS BIGINT) AS d,
           CAST(COUNT(*) FILTER (WHERE censored = 1) AS BIGINT) AS c,
           CAST(COUNT(*) AS BIGINT) AS leave
    FROM spans GROUP BY lifespan
),
risk AS (
    SELECT tt, d, c,
           CAST((SELECT COUNT(*) FROM spans) AS BIGINT)
           - CAST(COALESCE(SUM(leave) OVER (ORDER BY tt
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS n_risk,
           CAST(ROW_NUMBER() OVER (ORDER BY tt) AS BIGINT) AS rk
    FROM risk0
),
km(rk, s) AS (
    SELECT CAST(0 AS BIGINT), CAST(1.0 AS DOUBLE)
    UNION ALL
    SELECT r.rk,
           km.s * (1.0 - CAST(r.d AS DOUBLE) / CAST(r.n_risk AS DOUBLE))
    FROM km JOIN risk r ON r.rk = km.rk + 1
)
SELECT r.tt AS lifespan_days, r.n_risk, r.d AS deaths, r.c AS censored,
       ROUND(km.s, 6) AS survival
FROM risk r JOIN km ON km.rk = r.rk
ORDER BY lifespan_days
""",
)
def events_kaplan_meier(spark, sf_dir):
    ev = t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    maxd = ev.agg(F.max(F.to_date("ts")).alias("maxd"))
    spans = (
        ev.groupBy("user_id")
        .agg(
            F.min(F.to_date("ts")).alias("d0"),
            F.max(F.to_date("ts")).alias("d1"),
        )
        .crossJoin(F.broadcast(maxd))
        .select(
            F.datediff("d1", "d0").cast("long").alias("lifespan"),
            F.when(F.col("d1") == F.col("maxd"), 1).otherwise(0).alias("censored"),
        )
    )
    risk0 = spans.groupBy(F.col("lifespan").alias("tt")).agg(
        bigint(F.sum(F.when(F.col("censored") == 0, 1).otherwise(0))).alias("d"),
        bigint(F.sum(F.when(F.col("censored") == 1, 1).otherwise(0))).alias("c"),
        bigint(F.count(F.lit(1))).alias("leave"),
    )
    n_users = spans.agg(bigint(F.count(F.lit(1))).alias("n_users"))
    # the risk table is <= n_days rows: collect it into ONE ordered array
    # and fold the survival product sequentially (deterministic order)
    folded = (
        risk0.crossJoin(F.broadcast(n_users))
        .groupBy("n_users")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("tt", "d", "c", "leave"))
            ).alias("arr")
        )
        .select(
            F.expr(
                """
                aggregate(
                    arr,
                    named_struct(
                        'rows', CAST(array() AS
                            ARRAY<STRUCT<tt: BIGINT, n_risk: BIGINT,
                                         d: BIGINT, c: BIGINT, s: DOUBLE>>),
                        'atrisk', n_users, 's', CAST(1.0 AS DOUBLE)),
                    (acc, e) -> named_struct(
                        'rows', array_append(acc.rows, named_struct(
                            'tt', e.tt, 'n_risk', acc.atrisk,
                            'd', e.d, 'c', e.c,
                            's', acc.s * (CAST(1.0 AS DOUBLE)
                                 - CAST(e.d AS DOUBLE)
                                   / CAST(acc.atrisk AS DOUBLE)))),
                        'atrisk', acc.atrisk - e.leave,
                        's', acc.s * (CAST(1.0 AS DOUBLE)
                             - CAST(e.d AS DOUBLE)
                               / CAST(acc.atrisk AS DOUBLE))),
                    acc -> acc.rows)
                """
            ).alias("rows")
        )
    )
    out = folded.select(F.explode("rows").alias("r")).select(
        F.col("r.tt").alias("lifespan_days"),
        F.col("r.n_risk").alias("n_risk"),
        F.col("r.d").alias("deaths"),
        F.col("r.c").alias("censored"),
        F.round(F.col("r.s"), 6).alias("survival"),
    )
    return out.orderBy("lifespan_days")


@register(
    "events_cuped_variance_reduction",
    doc="CUPED readout: per-user activity counts in the pre (first "
    "half of the date span) and post (second half) windows, "
    "theta = cov/var(pre) and the variance-reduction fraction rho^2 "
    "from EXACT integer moment sums (cov_s = n*Sxy - Sx*Sy, var_s = "
    "n*Sxx - Sx^2), truncated bp via decimal(38,0)/HUGEINT (negative "
    "theta keeps DIV-//) — the 'how much experiment runtime does the "
    "covariate buy' number.",
    oracle="""
WITH span AS (
    SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1 FROM events
),
mid AS (
    SELECT d0 + CAST(DATE_DIFF('day', d0, d1) // 2 AS INTEGER) AS m FROM span
),
u AS (
    SELECT e.user_id,
           CAST(COUNT(*) FILTER (WHERE CAST(e.ts AS DATE) <= mid.m) AS BIGINT)
               AS x,
           CAST(COUNT(*) FILTER (WHERE CAST(e.ts AS DATE) > mid.m) AS BIGINT)
               AS y
    FROM events e, mid WHERE e.user_id IS NOT NULL
    GROUP BY e.user_id
),
mom AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
           CAST(SUM(x * x) AS BIGINT) AS sxx,
           CAST(SUM(y * y) AS BIGINT) AS syy,
           CAST(SUM(x * y) AS BIGINT) AS sxy
    FROM u
),
scaled AS (
    SELECT n,
           CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS cov_s,
           CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS varx_s,
           CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS vary_s
    FROM mom
)
SELECT n AS n_users,
       CAST(CASE WHEN varx_s = 0 THEN 0
                 ELSE (10000 * cov_s) // varx_s END AS BIGINT) AS theta_bp,
       CAST(CASE WHEN varx_s * vary_s = 0 THEN 0
                 ELSE (10000 * cov_s * cov_s) // (varx_s * vary_s)
            END AS BIGINT) AS var_reduction_bp
FROM scaled
""",
)
def events_cuped_variance_reduction(spark, sf_dir):
    ev = t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    ev = ev.select("user_id", F.to_date("ts").alias("day"))
    span = ev.agg(F.min("day").alias("d0"), F.max("day").alias("d1")).select(
        F.expr("date_add(d0, CAST(datediff(d1, d0) DIV 2 AS INT))").alias("mid")
    )
    u = (
        ev.crossJoin(F.broadcast(span))
        .groupBy("user_id")
        .agg(
            bigint(F.sum(F.when(F.col("day") <= F.col("mid"), 1).otherwise(0))).alias("x"),
            bigint(F.sum(F.when(F.col("day") > F.col("mid"), 1).otherwise(0))).alias("y"),
        )
    )
    mom = u.agg(
        bigint(F.count(F.lit(1))).alias("n"),
        bigint(F.sum("x")).alias("sx"),
        bigint(F.sum("y")).alias("sy"),
        bigint(F.sum(F.col("x") * F.col("x"))).alias("sxx"),
        bigint(F.sum(F.col("y") * F.col("y"))).alias("syy"),
        bigint(F.sum(F.col("x") * F.col("y"))).alias("sxy"),
    )

    def dec(c):
        return c.cast("decimal(38,0)")

    scaled = mom.select(
        "n",
        (dec(F.col("n")) * F.col("sxy") - dec(F.col("sx")) * F.col("sy")).alias("cov_s"),
        (dec(F.col("n")) * F.col("sxx") - dec(F.col("sx")) * F.col("sx")).alias("varx_s"),
        (dec(F.col("n")) * F.col("syy") - dec(F.col("sy")) * F.col("sy")).alias("vary_s"),
    )
    # truncating decimal division parity: compute via floor on the
    # positive square term; theta uses sign-aware truncation
    theta = F.when(F.col("varx_s") == 0, F.lit(0)).otherwise(
        F.when(
            F.col("cov_s") >= 0,
            F.floor(F.lit(10000) * F.col("cov_s") / F.col("varx_s")),
        ).otherwise(
            -F.floor(F.lit(10000) * (-F.col("cov_s")) / F.col("varx_s"))
        )
    )
    vr = F.when(F.col("varx_s") * F.col("vary_s") == 0, F.lit(0)).otherwise(
        F.floor(
            F.lit(10000)
            * F.col("cov_s")
            * F.col("cov_s")
            / (F.col("varx_s") * F.col("vary_s"))
        )
    )
    return scaled.select(
        F.col("n").alias("n_users"),
        theta.cast("long").alias("theta_bp"),
        vr.cast("long").alias("var_reduction_bp"),
    )


@register(
    "stats_sample_size_two_proportions",
    doc="Pre-experiment power calculation (two-sided alpha 0.05, power "
    "0.80): observed weekday vs weekend purchase rates in floor bp are "
    "the planning inputs, n per arm = ceil(28016^2 * (p1*q1 + p2*q2) "
    "/ (10^8 * (p1-p2)^2)) with the bp rates as declared inputs — "
    "pure integer arithmetic end-to-end (ceil via (num+den-1) DIV "
    "den). Answers 'how many users would detecting this gap need'.",
    oracle="""
WITH flags AS (
    SELECT CASE WHEN ISODOW(CAST(ts AS DATE)) >= 6 THEN 1 ELSE 0 END AS wk,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS outc
    FROM events
),
cells AS (
    SELECT CAST(COUNT(*) FILTER (WHERE wk = 0 AND outc = 1) AS BIGINT) AS c1,
           CAST(COUNT(*) FILTER (WHERE wk = 0) AS BIGINT) AS n1,
           CAST(COUNT(*) FILTER (WHERE wk = 1 AND outc = 1) AS BIGINT) AS c2,
           CAST(COUNT(*) FILTER (WHERE wk = 1) AS BIGINT) AS n2
    FROM flags
),
rates AS (
    SELECT c1, n1, c2, n2,
           (10000 * c1) // GREATEST(n1, 1) AS p1_bp,
           (10000 * c2) // GREATEST(n2, 1) AS p2_bp
    FROM cells
)
SELECT p1_bp, p2_bp,
       CAST(CASE WHEN p1_bp = p2_bp THEN 0
            ELSE (CAST(28016 AS HUGEINT) * 28016
                  * (p1_bp * (10000 - p1_bp) + p2_bp * (10000 - p2_bp))
                  + CAST(100000000 AS HUGEINT)
                    * (p1_bp - p2_bp) * (p1_bp - p2_bp) - 1)
                 // (CAST(100000000 AS HUGEINT)
                     * (p1_bp - p2_bp) * (p1_bp - p2_bp))
            END AS BIGINT) AS n_per_arm
FROM rates
""",
)
def stats_sample_size_two_proportions(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    wk = F.when(
        F.dayofweek(F.date_sub(F.to_date("ts"), 1)).cast("long") >= 6, 1
    ).otherwise(0)
    outc = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    flags = ev.select(wk.alias("wk"), outc.alias("outc"))
    cells = flags.agg(
        bigint(F.sum(F.when((F.col("wk") == 0) & (F.col("outc") == 1), 1).otherwise(0))).alias("c1"),
        bigint(F.sum(F.when(F.col("wk") == 0, 1).otherwise(0))).alias("n1"),
        bigint(F.sum(F.when((F.col("wk") == 1) & (F.col("outc") == 1), 1).otherwise(0))).alias("c2"),
        bigint(F.sum(F.when(F.col("wk") == 1, 1).otherwise(0))).alias("n2"),
    )
    rates = cells.select(
        F.expr("(10000 * c1) DIV GREATEST(n1, 1)").alias("p1_bp"),
        F.expr("(10000 * c2) DIV GREATEST(n2, 1)").alias("p2_bp"),
    )

    def dec(c):
        return c.cast("decimal(38,0)")

    num = (
        dec(F.lit(28016)) * 28016
        * (
            F.col("p1_bp") * (10000 - F.col("p1_bp"))
            + F.col("p2_bp") * (10000 - F.col("p2_bp"))
        )
    )
    den = (
        dec(F.lit(100000000))
        * (F.col("p1_bp") - F.col("p2_bp"))
        * (F.col("p1_bp") - F.col("p2_bp"))
    )
    return rates.select(
        "p1_bp",
        "p2_bp",
        F.when(F.col("p1_bp") == F.col("p2_bp"), F.lit(0))
        .otherwise(F.floor((num + den - 1) / den))
        .cast("long")
        .alias("n_per_arm"),
    )


@register(
    "stats_wilson_interval",
    doc="Wilson 95% score interval for each event type's share of the "
    "log — the CI that stays sane at extreme rates, which the naive "
    "Wald interval does not: center and half-width built from exact "
    "integer operands (c, n, z = 196/100) through ONE mirrored IEEE "
    "expression per bound (sqrt of exact-integer-derived doubles — the "
    "stats_welch_ttest determinism pattern), rounded to 6 dp. One "
    "combinable groupBy.",
    oracle="""
WITH counts AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1
),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM counts)
SELECT event_type, c, tot.n,
       ROUND(CAST(c AS DOUBLE) / CAST(tot.n AS DOUBLE), 6) AS p_hat,
       ROUND((CAST(c AS DOUBLE) / tot.n + 1.9208 / tot.n
              - 1.96 * SQRT((CAST(c AS DOUBLE) / tot.n)
                            * (1.0 - CAST(c AS DOUBLE) / tot.n) / tot.n
                            + 0.9604 / (CAST(tot.n AS DOUBLE) * tot.n)))
             / (1.0 + 3.8416 / tot.n), 6) AS wilson_lo,
       ROUND((CAST(c AS DOUBLE) / tot.n + 1.9208 / tot.n
              + 1.96 * SQRT((CAST(c AS DOUBLE) / tot.n)
                            * (1.0 - CAST(c AS DOUBLE) / tot.n) / tot.n
                            + 0.9604 / (CAST(tot.n AS DOUBLE) * tot.n)))
             / (1.0 + 3.8416 / tot.n), 6) AS wilson_hi
FROM counts, tot
ORDER BY event_type
""",
)
def stats_wilson_interval(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(bigint(F.count(F.lit(1))).alias("c"))
    tot = counts.agg(bigint(F.sum("c")).alias("n"))
    j = counts.crossJoin(F.broadcast(tot))
    p = F.col("c").cast("double") / F.col("n")
    nn = F.col("n").cast("double")
    half = F.lit(1.96) * F.sqrt(
        p * (F.lit(1.0) - p) / F.col("n") + F.lit(0.9604) / (nn * F.col("n"))
    )
    center = p + F.lit(1.9208) / F.col("n")
    den = F.lit(1.0) + F.lit(3.8416) / F.col("n")
    return j.select(
        "event_type",
        "c",
        "n",
        F.round(p, 6).alias("p_hat"),
        F.round((center - half) / den, 6).alias("wilson_lo"),
        F.round((center + half) / den, 6).alias("wilson_hi"),
    ).orderBy("event_type")
