"""Round-9 wave-6a — multi-rater agreement and mergeable-sketch set
overlap:

- ``stats_fleiss_kappa``: Fleiss' kappa for THREE deterministic
  document-quality raters (chars / words / vowel-share thresholds) —
  the multi-rater generalization of stats_cohens_kappa, collapsed to
  ONE exact integer rational (every P_i, P-bar, P_e shares the same
  cleared denominators), truncated bp with DIV-// negative parity.
- ``agg_kmv_jaccard``: set overlap between two event types' user
  populations estimated from the UNION KMV bottom-k sketch (the
  mergeable-sketch identity: J-hat = |{bottom-k of A∪B} ∩ A ∩ B| / k)
  next to the exact Jaccard — both hash-checkable because the md5
  bottom-k is deterministic, the same reason agg_kmv_distinct_sketch
  is the verifiable cousin of HLL.

Reference scope: the reference engine is an event log
(src/broker/main.rs); declared aggregates over ``documents``/``events``
per SURVEY §2B.

Scale (100 TB): kappa is one map-side-combinable pass to four scalar
sums; the KMV sketch is per-partition bottom-k then global bottom-k
(the sort_topk_global shape) with k fixed, so sketch state never grows
with the data.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cascade_spark.operators._util import bigint, t
from cascade_spark.plans.registry import register

FK_CHARS_CUT = 300
FK_WORDS_CUT = 50
FK_VOWEL_BP = 3800  # vowel-share threshold in bp

KMVJ_K = 64
KMVJ_H_MAX = 4_294_967_296  # 2^32 — md5 prefix hash space


@register(
    "stats_fleiss_kappa",
    doc="Fleiss' kappa across three deterministic binary raters "
    f"(n_chars >= {FK_CHARS_CUT}; whitespace words >= {FK_WORDS_CUT}; "
    f"vowel share >= {FK_VOWEL_BP} bp): with o_i = positive ratings "
    "per doc, P_i = (o^2 + (3-o)^2 - 3)/6, P-bar and P_e clear to the "
    "single exact rational kappa = ((S2 - 3N)T^2 - 6N(S1^2 + (T-S1)^2))"
    " / (6N T^2 - 6N(S1^2 + (T-S1)^2)) with T = 3N — truncated bp via "
    "DECIMAL(38,0)/HUGEINT, negative-capable. One combinable pass.",
    oracle=f"""
WITH rated AS (
    SELECT (CASE WHEN n_chars >= {FK_CHARS_CUT} THEN 1 ELSE 0 END
          + CASE WHEN LEN(STRING_SPLIT(text, ' ')) >= {FK_WORDS_CUT}
                 THEN 1 ELSE 0 END
          + CASE WHEN (LEN(text) - LEN(REGEXP_REPLACE(text, '[aeiou]', '', 'g')))
                      * 10000 >= {FK_VOWEL_BP} * LEN(text)
                 THEN 1 ELSE 0 END) AS o
    FROM documents
),
s AS (
    -- COALESCE mirrors the Spark builder: on a zero-row slice the
    -- conditional sums report 0, not NULL (empty-input parity)
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COALESCE(SUM(o), 0) AS BIGINT) AS s1,
           CAST(COALESCE(SUM(o * o + (3 - o) * (3 - o)), 0) AS BIGINT) AS s2
    FROM rated
)
SELECT n AS n_docs, s1 AS sum_positive,
       CAST(CASE WHEN n = 0 THEN 0
            ELSE (10000 * (s2 - 3 * n)) // (6 * n) END AS BIGINT) AS pbar_bp,
       CAST(CASE
            WHEN n = 0 THEN 0
            WHEN 6 * CAST(n AS HUGEINT) * (9 * n * n)
                 - 6 * CAST(n AS HUGEINT)
                   * (s1 * s1 + (3 * n - s1) * (3 * n - s1)) = 0 THEN 0
            ELSE (CAST(10000 AS HUGEINT)
                  * ((s2 - 3 * n) * CAST(9 AS HUGEINT) * n * n
                     - 6 * CAST(n AS HUGEINT)
                       * (s1 * s1 + (3 * n - s1) * (3 * n - s1))))
                 // (6 * CAST(n AS HUGEINT) * (9 * n * n)
                     - 6 * CAST(n AS HUGEINT)
                       * (s1 * s1 + (3 * n - s1) * (3 * n - s1)))
       END AS BIGINT) AS fleiss_kappa_bp
FROM s
""",
)
def stats_fleiss_kappa(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    vowels_removed = F.length(F.regexp_replace(F.col("text"), "[aeiou]", ""))
    o = (
        F.when(F.col("n_chars") >= FK_CHARS_CUT, 1).otherwise(0)
        + F.when(F.size(F.split(F.col("text"), " ", -1)) >= FK_WORDS_CUT, 1)
        .otherwise(0)
        + F.when(
            (F.length("text") - vowels_removed) * 10000
            >= FK_VOWEL_BP * F.length("text"),
            1,
        ).otherwise(0)
    )
    rated = d.select(o.alias("o"))
    s = rated.agg(
        bigint(F.count(F.lit(1))).alias("n"),
        bigint(F.coalesce(F.sum("o"), F.lit(0))).alias("s1"),
        bigint(
            F.coalesce(
                F.sum(F.col("o") * F.col("o") + (3 - F.col("o")) * (3 - F.col("o"))),
                F.lit(0),
            )
        ).alias("s2"),
    )
    den = (
        "6 * CAST(n AS DECIMAL(38,0)) * (9 * n * n)"
        " - 6 * CAST(n AS DECIMAL(38,0))"
        " * (s1 * s1 + (3 * n - s1) * (3 * n - s1))"
    )
    num = (
        "CAST(10000 AS DECIMAL(38,0))"
        " * ((s2 - 3 * n) * CAST(9 AS DECIMAL(38,0)) * n * n"
        " - 6 * CAST(n AS DECIMAL(38,0))"
        " * (s1 * s1 + (3 * n - s1) * (3 * n - s1)))"
    )
    return s.select(
        F.col("n").alias("n_docs"),
        F.col("s1").alias("sum_positive"),
        F.expr(
            "CAST(CASE WHEN n = 0 THEN 0"
            " ELSE (10000 * (s2 - 3 * n)) DIV (6 * n) END AS BIGINT)"
        ).alias("pbar_bp"),
        F.expr(
            f"CAST(CASE WHEN n = 0 THEN 0 WHEN {den} = 0 THEN 0"
            f" ELSE ({num}) DIV ({den}) END AS BIGINT)"
        ).alias("fleiss_kappa_bp"),
    )


@register(
    "agg_kmv_jaccard",
    doc=f"KMV set-overlap estimate (k={KMVJ_K}): the union bottom-k of "
    "the click and view user populations' md5 hashes (bottom-k sketches "
    "are mergeable, so the union sketch is the bottom-k of the union), "
    "J-hat = |union bottom-k members present in BOTH sides| / k_used in "
    "bp, reported next to the EXACT Jaccard — deterministic md5 makes "
    "the sketch itself hash-checkable, the agg_kmv_distinct_sketch "
    "argument applied to set algebra. Per-partition bottom-k then "
    "global bottom-k; fixed sketch state at any scale.",
    oracle=f"""
WITH a AS (SELECT DISTINCT user_id FROM events
           WHERE event_type = 'click' AND user_id IS NOT NULL),
b AS (SELECT DISTINCT user_id FROM events
      WHERE event_type = 'view' AND user_id IS NOT NULL),
u AS (SELECT user_id FROM a UNION SELECT user_id FROM b),
hashed AS (
    SELECT user_id,
           ('0x' || SUBSTR(MD5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h
    FROM u
),
bottom AS (SELECT user_id, h FROM hashed ORDER BY h, user_id LIMIT {KMVJ_K}),
flags AS (
    SELECT bottom.h,
           CASE WHEN a.user_id IS NOT NULL THEN 1 ELSE 0 END AS in_a,
           CASE WHEN b.user_id IS NOT NULL THEN 1 ELSE 0 END AS in_b
    FROM bottom
    LEFT JOIN a ON a.user_id = bottom.user_id
    LEFT JOIN b ON b.user_id = bottom.user_id
),
est AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS k_used,
           CAST(COUNT(*) FILTER (WHERE in_a = 1 AND in_b = 1) AS BIGINT)
               AS k_both,
           CAST(SUM(h) AS BIGINT) AS sketch_checksum
    FROM flags
),
exact AS (
    SELECT CAST((SELECT COUNT(*) FROM a JOIN b USING (user_id)) AS BIGINT)
               AS n_inter,
           CAST((SELECT COUNT(*) FROM u) AS BIGINT) AS n_union
)
SELECT est.k_used, est.k_both, est.sketch_checksum,
       exact.n_inter, exact.n_union,
       CAST(CASE WHEN est.k_used = 0 THEN 0
            ELSE (10000 * est.k_both) // est.k_used END AS BIGINT)
           AS jaccard_est_bp,
       CAST(CASE WHEN exact.n_union = 0 THEN 0
            ELSE (10000 * exact.n_inter) // exact.n_union END AS BIGINT)
           AS jaccard_true_bp
FROM est, exact
""",
)
def agg_kmv_jaccard(spark, sf_dir):
    ev = t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    a = ev.filter(F.col("event_type") == "click").select("user_id").distinct()
    b = ev.filter(F.col("event_type") == "view").select("user_id").distinct()
    u = a.unionByName(b).distinct()
    hashed = u.select(
        "user_id",
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        .alias("h"),
    )
    bottom = hashed.orderBy("h", "user_id").limit(KMVJ_K)
    flags = (
        bottom.join(a.withColumn("_ia", F.lit(1)), "user_id", "left")
        .join(b.withColumn("_ib", F.lit(1)), "user_id", "left")
        .select("h", F.coalesce("_ia", F.lit(0)).alias("in_a"),
                F.coalesce("_ib", F.lit(0)).alias("in_b"))
    )
    est = flags.agg(
        bigint(F.count(F.lit(1))).alias("k_used"),
        bigint(
            F.coalesce(
                F.sum(F.when((F.col("in_a") == 1) & (F.col("in_b") == 1), 1).otherwise(0)),
                F.lit(0),
            )
        ).alias("k_both"),
        bigint(F.coalesce(F.sum("h"), F.lit(0))).alias("sketch_checksum"),
    )
    exact = a.join(b, "user_id").agg(
        bigint(F.count(F.lit(1))).alias("n_inter")
    ).crossJoin(F.broadcast(u.agg(bigint(F.count(F.lit(1))).alias("n_union"))))
    return est.crossJoin(F.broadcast(exact)).select(
        "k_used",
        "k_both",
        "sketch_checksum",
        "n_inter",
        "n_union",
        F.expr(
            "CAST(CASE WHEN k_used = 0 THEN 0"
            " ELSE (10000 * k_both) DIV k_used END AS BIGINT)"
        ).alias("jaccard_est_bp"),
        F.expr(
            "CAST(CASE WHEN n_union = 0 THEN 0"
            " ELSE (10000 * n_inter) DIV n_union END AS BIGINT)"
        ).alias("jaccard_true_bp"),
    )
