"""Round-9 wave — sequential, equivalence, and Bayesian testing plus
deterministic experiment assignment (the modern A/B toolkit next to
experimentation.py's fixed-horizon tests):

- ``stats_sprt_sequential``: Wald's SPRT on the daily clicks-beat-views
  Bernoulli stream (H0 p=1/2 vs H1 p=3/5, alpha = beta = 0.05) — the
  log-likelihood ratio walks in exact micro integers built from two
  FLOORED compile-time ln literals, with the first boundary-crossing
  day and decision.
- ``stats_tost_equivalence``: two one-sided tests (margin 0.02) on the
  weekend-vs-weekday purchase rates — the "are they the SAME?"
  complement of stats_welch_ttest, mirrored-IEEE z's rounded to 6 dp
  with the decision taken on the ROUNDED values (welch precedent).
- ``stats_beta_binomial_posterior``: Beta(1,1) -> Beta(1+x, 1+n-x)
  posterior summary of the weekend purchase rate — mean/mode in exact
  truncated bp, variance in exact pico units via DECIMAL/HUGEINT.
- ``experiment_hash_bucketing``: deterministic md5 user->arm
  assignment (the dedup.py '0x'||md5 idiom) with per-arm engagement
  and the exact sample-ratio-mismatch chi-square in micro units — the
  allocation audit run before reading any experiment.

Reference scope: declared aggregates over the ``events`` table per
SURVEY §2B.

Determinism: SPRT terms are integer multiples of floored literals
(both engines see the same numerals); TOST is one mirrored IEEE
expression tree rounded at the end; everything else is exact integer
rationals via truncating division.

Scale (100 TB): the Bernoulli stream is the (day) grid — bounded; the
bucketing is one map-side md5 + groupBy; no pair joins, no unbounded
windows (the one cumulative window runs over the day spine).
"""

from __future__ import annotations

import math

from pyspark.sql import Window
from pyspark.sql import functions as F

from cascade_spark.operators._util import bigint, t
from cascade_spark.operators.inference_extra import _XY_SQL, _csum, _xy_daily
from cascade_spark.plans.registry import register

BP = 10_000

# SPRT: H0 p0 = 1/2, H1 p1 = 3/5, alpha = beta = 0.05. Per-observation
# LLR increments and the Wald bound ln(19), floored to micro units at
# BUILD time — both engines consume identical integer literals.
SPRT_L_POS = math.floor(1e6 * math.log(1.2))  # x=1: ln(p1/p0) = 182321
SPRT_L_NEG = math.floor(1e6 * math.log(0.8))  # x=0: ln(q1/q0) = -223144
SPRT_BOUND = math.floor(1e6 * math.log(19.0))  # ln((1-b)/a) = 2944438


@register(
    "stats_sprt_sequential",
    doc="Wald's sequential probability ratio test on the daily "
    "clicks-beat-views Bernoulli stream (ties count as 0 — declared): "
    f"LLR_t += {SPRT_L_POS} on success / {SPRT_L_NEG} on failure "
    "(floored-micro ln literals baked at build time, so both engines "
    f"add identical integers), stop when |LLR| >= {SPRT_BOUND} "
    "(= floor(1e6*ln 19)). Emits the final LLR, the first crossing "
    "day and the decision — the always-valid sequential monitor that "
    "replaces fixed-horizon peeking. Cumulative sums over the bounded "
    "day spine.",
    oracle=f"""
WITH {_XY_SQL},
obs AS (
    SELECT day, CASE WHEN x > y THEN 1 ELSE 0 END AS s,
           ROW_NUMBER() OVER (ORDER BY day) AS tt
    FROM daily
),
walk AS (
    SELECT day, tt,
           SUM(CASE WHEN s = 1 THEN {SPRT_L_POS}
                    ELSE {SPRT_L_NEG} END)
               OVER (ORDER BY tt ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS llr
    FROM obs
),
cross_ AS (
    SELECT day, tt, llr FROM walk
    WHERE llr >= {SPRT_BOUND} OR llr <= -{SPRT_BOUND}
    ORDER BY tt LIMIT 1
),
fin AS (SELECT llr AS llr_final, tt AS n_days FROM walk
        ORDER BY tt DESC LIMIT 1)
SELECT CAST(f.n_days AS BIGINT) AS n_days,
       CAST(f.llr_final AS BIGINT) AS llr_final_micro,
       CAST(COALESCE(c.tt, 0) AS BIGINT) AS first_cross_tt,
       COALESCE(CAST(c.day AS VARCHAR), 'none') AS first_cross_day,
       CASE WHEN c.tt IS NULL THEN 'continue'
            WHEN c.llr > 0 THEN 'accept_h1' ELSE 'accept_h0' END AS decision
FROM fin f LEFT JOIN cross_ c ON TRUE
""",
)
def stats_sprt_sequential(spark, sf_dir):
    daily = _xy_daily(spark, sf_dir)
    w_ord = Window.orderBy("day")
    obs = daily.select(
        "day",
        F.when(F.col("x") > F.col("y"), 1).otherwise(0).alias("s"),
        F.row_number().over(w_ord).alias("tt"),
    )
    w_cum = Window.orderBy("tt").rowsBetween(Window.unboundedPreceding, 0)
    walk = obs.select(
        "day",
        "tt",
        F.sum(
            F.when(F.col("s") == 1, F.lit(SPRT_L_POS)).otherwise(
                F.lit(SPRT_L_NEG)
            )
        )
        .over(w_cum)
        .alias("llr"),
    )
    cross = (
        walk.filter(
            (F.col("llr") >= SPRT_BOUND) | (F.col("llr") <= -SPRT_BOUND)
        )
        .orderBy("tt")
        .limit(1)
        .select(
            F.col("tt").alias("c_tt"),
            F.col("day").alias("c_day"),
            F.col("llr").alias("c_llr"),
        )
    )
    fin = walk.orderBy(F.col("tt").desc()).limit(1).select(
        F.col("llr").alias("llr_final"), F.col("tt").alias("n_days")
    )
    return fin.join(cross, F.lit(True), "left").select(
        bigint(F.col("n_days")).alias("n_days"),
        bigint(F.col("llr_final")).alias("llr_final_micro"),
        bigint(F.coalesce(F.col("c_tt"), F.lit(0))).alias("first_cross_tt"),
        F.coalesce(F.col("c_day").cast("string"), F.lit("none")).alias(
            "first_cross_day"
        ),
        F.when(F.col("c_tt").isNull(), F.lit("continue"))
        .when(F.col("c_llr") > 0, F.lit("accept_h1"))
        .otherwise(F.lit("accept_h0"))
        .alias("decision"),
    )


TOST_DELTA = 0.02
TOST_ZCRIT = 1.644854  # one-sided 5% critical value, shared literal


@register(
    "stats_tost_equivalence",
    doc=f"TOST equivalence test (margin {TOST_DELTA}) on the weekend vs "
    "weekday purchase rates: z_lower = (p1 - p0 + d)/se and z_upper = "
    "(p1 - p0 - d)/se with the pooled-by-group IEEE se — the SAME "
    "small-integer-derived double expression tree on both engines, "
    "z's reported rounded to 6 dp; the equivalence decision is taken "
    "on the UNROUNDED mirrored z (both engines evaluate the identical "
    f"IEEE tree, so the comparison against {TOST_ZCRIT} is "
    "deterministic without the display rounding leaking into the "
    "decision). Declares the rates equivalent only when BOTH "
    "one-sided tests reject.",
    oracle=f"""
WITH flag AS (
    SELECT CASE WHEN ISODOW(CAST(ts AS DATE)) >= 6 THEN 1 ELSE 0 END AS wknd,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
    FROM events
),
g AS (
    SELECT CAST(COUNT(*) FILTER (WHERE wknd = 1) AS BIGINT) AS n1,
           CAST(COUNT(*) FILTER (WHERE wknd = 1 AND conv = 1) AS BIGINT) AS x1,
           CAST(COUNT(*) FILTER (WHERE wknd = 0) AS BIGINT) AS n0,
           CAST(COUNT(*) FILTER (WHERE wknd = 0 AND conv = 1) AS BIGINT) AS x0
    FROM flag
),
z AS (
    SELECT n1, x1, n0, x0,
           CAST(x1 AS DOUBLE) / n1 AS p1, CAST(x0 AS DOUBLE) / n0 AS p0,
           SQRT((CAST(x1 AS DOUBLE) / n1) * (1 - CAST(x1 AS DOUBLE) / n1) / n1
                + (CAST(x0 AS DOUBLE) / n0) * (1 - CAST(x0 AS DOUBLE) / n0) / n0)
               AS se
    FROM g
)
SELECT n1, x1, n0, x0,
       CASE WHEN se = 0 THEN 0.0
            ELSE ROUND((p1 - p0 + {TOST_DELTA}) / se, 6) END AS z_lower,
       CASE WHEN se = 0 THEN 0.0
            ELSE ROUND((p1 - p0 - {TOST_DELTA}) / se, 6) END AS z_upper,
       CAST(CASE WHEN se = 0 THEN 0
                 WHEN (p1 - p0 + {TOST_DELTA}) / se >= {TOST_ZCRIT}
                  AND (p1 - p0 - {TOST_DELTA}) / se <= -{TOST_ZCRIT}
                 THEN 1 ELSE 0 END AS BIGINT) AS equivalent
FROM z
""",
)
def stats_tost_equivalence(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    wknd = F.dayofweek(F.date_sub(F.to_date("ts"), 1)).cast("long") >= 6
    conv = F.col("event_type") == "purchase"
    g = ev.agg(
        _csum(wknd).alias("n1"),
        _csum(wknd & conv).alias("x1"),
        _csum(~wknd).alias("n0"),
        _csum((~wknd) & conv).alias("x0"),
    )
    p1 = F.col("x1").cast("double") / F.col("n1")
    p0 = F.col("x0").cast("double") / F.col("n0")
    se = F.sqrt(p1 * (1 - p1) / F.col("n1") + p0 * (1 - p0) / F.col("n0"))
    z = g.select("n1", "x1", "n0", "x0", p1.alias("p1"), p0.alias("p0"), se.alias("se"))
    zl_raw = (F.col("p1") - F.col("p0") + TOST_DELTA) / F.col("se")
    zu_raw = (F.col("p1") - F.col("p0") - TOST_DELTA) / F.col("se")
    return z.select(
        "n1",
        "x1",
        "n0",
        "x0",
        F.when(F.col("se") == 0, F.lit(0.0))
        .otherwise(F.round(zl_raw, 6))
        .alias("z_lower"),
        F.when(F.col("se") == 0, F.lit(0.0))
        .otherwise(F.round(zu_raw, 6))
        .alias("z_upper"),
        F.when(F.col("se") == 0, F.lit(0))
        .when((zl_raw >= TOST_ZCRIT) & (zu_raw <= -TOST_ZCRIT), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("equivalent"),
    )


@register(
    "stats_beta_binomial_posterior",
    doc="Beta-binomial posterior of the weekend purchase rate from a "
    "Beta(1,1) prior: a = 1 + x, b = 1 + n - x, posterior mean "
    "a/(a+b) and mode (a-1)/(a+b-2) in exact truncated bp, posterior "
    "variance ab/((a+b)^2(a+b+1)) in exact pico units via "
    "DECIMAL(38,0)/HUGEINT — the closed-form Bayesian summary that "
    "needs no sampling and therefore hash-checks exactly.",
    oracle="""
WITH g AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS x
    FROM events
    WHERE ISODOW(CAST(ts AS DATE)) >= 6
),
ab AS (SELECT n, x, CAST(1 + x AS HUGEINT) AS a,
              CAST(1 + n - x AS HUGEINT) AS b FROM g)
SELECT n, x, CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
       CAST((a * 10000) // (a + b) AS BIGINT) AS post_mean_bp,
       CAST(CASE WHEN a + b <= 2 THEN 0
                 ELSE ((a - 1) * 10000) // (a + b - 2) END AS BIGINT)
           AS post_mode_bp,
       CAST((a * b * 1000000000000)
            // ((a + b) * (a + b) * (a + b + 1)) AS BIGINT) AS post_var_pico
FROM ab
""",
)
def stats_beta_binomial_posterior(spark, sf_dir):
    dec = "decimal(38,0)"
    ev = t(spark, sf_dir, "events").filter(
        F.dayofweek(F.date_sub(F.to_date("ts"), 1)).cast("long") >= 6
    )
    g = ev.agg(
        bigint(F.count(F.lit(1))).alias("n"),
        _csum(F.col("event_type") == "purchase").alias("x"),
    )
    ab = g.select(
        "n",
        "x",
        (F.lit(1) + F.col("x")).cast(dec).alias("a"),
        (F.lit(1) + F.col("n") - F.col("x")).cast(dec).alias("b"),
    )
    return ab.select(
        "n",
        "x",
        F.col("a").cast("long").alias("a"),
        F.col("b").cast("long").alias("b"),
        F.expr("CAST((a * 10000) DIV (a + b) AS BIGINT)").alias("post_mean_bp"),
        F.expr(
            "CAST(CASE WHEN a + b <= 2 THEN 0"
            " ELSE ((a - 1) * 10000) DIV (a + b - 2) END AS BIGINT)"
        ).alias("post_mode_bp"),
        F.expr(
            "CAST((a * b * 1000000000000)"
            " DIV ((a + b) * (a + b) * (a + b + 1)) AS BIGINT)"
        ).alias("post_var_pico"),
    )


@register(
    "experiment_hash_bucketing",
    doc="Deterministic experiment assignment: users hash to 2 arms via "
    "the '0x'||substr(md5(user_id),1,8) integer idiom (dedup.py's "
    "portable md5 contract) mod 2; per arm distinct users, events, "
    "purchases and the purchase rate in truncated bp, plus the exact "
    "sample-ratio-mismatch chi-square vs the declared 50/50 split in "
    "micro units ((n0-n1)^2*10^6 DIV (n0+n1)) — the allocation audit "
    "that gates every experiment readout.",
    oracle=f"""
WITH assigned AS (
    SELECT ('0x' || SUBSTR(MD5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2
               AS arm,
           user_id, event_type
    FROM events WHERE user_id IS NOT NULL
),
per_arm AS (
    SELECT arm,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
               AS n_purchases
    FROM assigned GROUP BY arm
),
srm AS (
    SELECT CAST((MAX(CASE WHEN arm = 0 THEN n_users END)
                 - MAX(CASE WHEN arm = 1 THEN n_users END))
                * (MAX(CASE WHEN arm = 0 THEN n_users END)
                   - MAX(CASE WHEN arm = 1 THEN n_users END))
                * 1000000
                // (MAX(CASE WHEN arm = 0 THEN n_users END)
                    + MAX(CASE WHEN arm = 1 THEN n_users END)) AS BIGINT)
               AS srm_chi2_micro
    FROM per_arm
)
SELECT p.arm, p.n_users, p.n_events, p.n_purchases,
       CAST((p.n_purchases * {BP}) // p.n_events AS BIGINT)
           AS purchase_rate_bp,
       s.srm_chi2_micro
FROM per_arm p, srm s
ORDER BY p.arm
""",
)
def experiment_hash_bucketing(spark, sf_dir):
    ev = t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    arm = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 2
    )
    assigned = ev.select(arm.alias("arm"), "user_id", "event_type")
    per_arm = assigned.groupBy("arm").agg(
        bigint(F.count_distinct("user_id")).alias("n_users"),
        bigint(F.count(F.lit(1))).alias("n_events"),
        _csum(F.col("event_type") == "purchase").alias("n_purchases"),
    )
    srm = per_arm.agg(
        F.expr(
            "CAST((MAX(CASE WHEN arm = 0 THEN n_users END)"
            " - MAX(CASE WHEN arm = 1 THEN n_users END))"
            " * (MAX(CASE WHEN arm = 0 THEN n_users END)"
            "    - MAX(CASE WHEN arm = 1 THEN n_users END))"
            " * 1000000"
            " DIV (MAX(CASE WHEN arm = 0 THEN n_users END)"
            "      + MAX(CASE WHEN arm = 1 THEN n_users END)) AS BIGINT)"
        ).alias("srm_chi2_micro")
    )
    return (
        per_arm.crossJoin(F.broadcast(srm))
        .select(
            "arm",
            "n_users",
            "n_events",
            "n_purchases",
            F.expr(
                f"CAST((n_purchases * {BP}) DIV n_events AS BIGINT)"
            ).alias("purchase_rate_bp"),
            "srm_chi2_micro",
        )
        .orderBy("arm")
    )


# ---------------------------------------------------------------------------
# Hash-bucket uniformity audit
# ---------------------------------------------------------------------------


HASH_BUCKETS = 16


@register(
    "stats_hash_uniformity_ks",
    doc=f"Uniformity audit of the md5 {HASH_BUCKETS}-bucket user "
    "assignment (the '0x'||substr(md5(id),1,8) portable-hash idiom "
    "behind experiment_hash_bucketing): exact KS distance vs the "
    f"uniform CDF scaled by {HASH_BUCKETS}*U (ks_d_16u = max |16*cum - "
    "(b+1)*U|, pure integers) and the chi-square vs equal allocation "
    "in truncated micro ((sum (16*o - U)^2 * 1e6) DIV (16*U), dof 15). "
    f"The {HASH_BUCKETS}-row bucket spine is fixed by construction.",
    oracle=f"""
WITH u AS (SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL),
b AS (
    SELECT ('0x' || SUBSTR(MD5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
               % {HASH_BUCKETS} AS bkt
    FROM u
),
oc AS (SELECT bkt, CAST(COUNT(*) AS BIGINT) AS o FROM b GROUP BY 1),
spine AS (SELECT UNNEST(GENERATE_SERIES(0, {HASH_BUCKETS - 1})) AS bkt),
grid AS (
    SELECT s.bkt, COALESCE(oc.o, 0) AS o
    FROM spine s LEFT JOIN oc ON oc.bkt = s.bkt
),
tot AS (SELECT CAST(COALESCE(SUM(o), 0) AS BIGINT) AS nu FROM grid),
cum AS (
    SELECT bkt, o,
           SUM(o) OVER (ORDER BY bkt
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
    FROM grid
)
SELECT tot.nu AS n_users,
       CAST({HASH_BUCKETS} AS BIGINT) AS n_buckets,
       CAST(COALESCE(MAX(ABS({HASH_BUCKETS} * cum.c - (cum.bkt + 1) * tot.nu)),
                     0) AS BIGINT) AS ks_d_16u,
       CAST(CASE WHEN tot.nu = 0 THEN 0
            ELSE (SUM(({HASH_BUCKETS} * cum.o - tot.nu)
                      * ({HASH_BUCKETS} * cum.o - tot.nu)) * 1000000)
                 // ({HASH_BUCKETS} * tot.nu) END AS BIGINT) AS chi2_micro
FROM cum, tot
GROUP BY tot.nu
""",
)
def stats_hash_uniformity_ks(spark, sf_dir):
    ev = t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    users = ev.select("user_id").distinct()
    bkt = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % HASH_BUCKETS
    )
    oc = users.select(bkt.alias("bkt")).groupBy("bkt").agg(
        bigint(F.count(F.lit(1))).alias("o")
    )
    spine = spark.range(HASH_BUCKETS).select(F.col("id").alias("bkt"))
    grid = spine.join(oc, "bkt", "left").select(
        "bkt", F.coalesce("o", F.lit(0)).alias("o")
    )
    tot = grid.agg(bigint(F.coalesce(F.sum("o"), F.lit(0))).alias("nu"))
    # fixed 16-row bucket spine
    w_cum = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, 0)
    cum = grid.select("bkt", "o", F.sum("o").over(w_cum).alias("c"))
    j = cum.crossJoin(F.broadcast(tot))
    return j.groupBy("nu").agg(
        bigint(
            F.coalesce(
                F.max(
                    F.abs(
                        HASH_BUCKETS * F.col("c") - (F.col("bkt") + 1) * F.col("nu")
                    )
                ),
                F.lit(0),
            )
        ).alias("ks_d_16u"),
        # the squared-deviation sum accumulates in DECIMAL(38,0) to
        # mirror DuckDB's automatic HUGEINT SUM widening — int64 would
        # hold under a uniform hash but not under a pathological skew
        F.expr(
            f"CAST(CASE WHEN nu = 0 THEN 0"
            f" ELSE (SUM(CAST(({HASH_BUCKETS} * o - nu) AS DECIMAL(38,0))"
            f"           * ({HASH_BUCKETS} * o - nu))"
            f"       * 1000000) DIV ({HASH_BUCKETS} * nu) END AS BIGINT)"
        ).alias("chi2_micro"),
    ).select(
        F.col("nu").alias("n_users"),
        F.lit(HASH_BUCKETS).cast("long").alias("n_buckets"),
        "ks_d_16u",
        "chi2_micro",
    )
