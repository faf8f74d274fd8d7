"""PII scrubbing — regex detection + redaction over document text (the
privacy-filter step of a training-data pipeline).

The fixture corpus contains no synthetic emails/phones (verified — it is
digit-free), so the email/phone patterns legitimately count 0 and prove
the no-match path; the sensitive-term pattern ('customer' as a stand-in
for a denylist) exercises real redaction. The redacted text itself is
verified bit-for-bit through an exact integer checksum (sum of 32-bit
md5 prefixes per doc), not eyeballed counts.

Scale design: pure per-row projection — map-only, no shuffle except the
final tiny per-source aggregate (map-side combinable). Regexes run in
the JVM (``regexp_count``/``regexp_replace``), not Python UDFs.

Cross-engine parity notes (see _util.py docstring): DuckDB
``regexp_replace`` needs the ``'g'`` flag to match Spark's replace-all;
both engines' regex dialects (Java vs RE2) agree on the character
classes and ``\\b`` word boundaries used here.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cascade_spark.operators._util import t
from cascade_spark.plans.registry import register

EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PHONE_RE = r"\+?\d{3}[- ]\d{3}[- ]\d{4}"
TERM_RE = r"\bcustomer\b"


@register(
    "pipeline_pii_scrub",
    doc="PII scrub: JVM-side regex detection (emails, phones, a "
    "sensitive-term denylist) + chained redaction, aggregated per "
    "source with an exact integer checksum of every redacted text "
    "(sum of 32-bit md5 prefixes) so the redaction output itself is "
    "hash-verified. Map-only scan + combinable aggregate.",
    oracle=f"""
WITH scrubbed AS (
    SELECT source,
           LEN(regexp_extract_all(text, '{EMAIL_RE}')) AS n_email,
           LEN(regexp_extract_all(text, '{PHONE_RE}')) AS n_phone,
           LEN(regexp_extract_all(text, '{TERM_RE}')) AS n_term,
           regexp_replace(
               regexp_replace(
                   regexp_replace(text, '{EMAIL_RE}', '[EMAIL]', 'g'),
                   '{PHONE_RE}', '[PHONE]', 'g'),
               '{TERM_RE}', '[REDACTED]', 'g') AS red
    FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN n_email + n_phone + n_term > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS docs_redacted,
       CAST(SUM(n_email) AS BIGINT) AS total_email,
       CAST(SUM(n_phone) AS BIGINT) AS total_phone,
       CAST(SUM(n_term) AS BIGINT) AS total_term,
       CAST(SUM(('0x' || SUBSTR(MD5(red), 1, 8))::BIGINT) AS BIGINT) AS red_checksum
FROM scrubbed
GROUP BY source
ORDER BY source
""",
)
def pipeline_pii_scrub(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), EMAIL_RE, "[EMAIL]"),
            PHONE_RE,
            "[PHONE]",
        ),
        TERM_RE,
        "[REDACTED]",
    )
    scrubbed = d.select(
        "source",
        F.regexp_count(F.col("text"), F.lit(EMAIL_RE)).alias("n_email"),
        F.regexp_count(F.col("text"), F.lit(PHONE_RE)).alias("n_phone"),
        F.regexp_count(F.col("text"), F.lit(TERM_RE)).alias("n_term"),
        F.conv(F.substring(F.md5(red), 1, 8), 16, 10).cast("long").alias("red_fp"),
    )
    hit = (F.col("n_email") + F.col("n_phone") + F.col("n_term") > 0).cast("int")
    return (
        scrubbed.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(hit).cast("long").alias("docs_redacted"),
            F.sum("n_email").cast("long").alias("total_email"),
            F.sum("n_phone").cast("long").alias("total_phone"),
            F.sum("n_term").cast("long").alias("total_term"),
            F.sum("red_fp").cast("long").alias("red_checksum"),
        )
        .orderBy("source")
    )


@register(
    "pii_k_anonymity_audit",
    doc="k-anonymity audit over quasi-identifiers: cohort = (event_type, "
    "hour-of-day, user decile) — any cohort with fewer than k=10 rows "
    "re-identifies its members and must be suppressed or generalized "
    "before the table ships as training data. One map-side-combinable "
    "groupBy; the violating-cohort list is tiny by construction.",
    oracle="""
WITH cohorts AS (
    SELECT event_type,
           CAST(HOUR(ts) AS BIGINT) AS hour,
           CAST(user_id % 10 AS BIGINT) AS user_decile,
           COUNT(*) AS n
    FROM events
    GROUP BY 1, 2, 3
)
SELECT event_type, hour, user_decile, n
FROM cohorts WHERE n < 10
ORDER BY event_type, hour, user_decile
""",
)
def pii_k_anonymity_audit(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "event_type",
            F.hour("ts").cast("long").alias("hour"),
            (F.col("user_id") % 10).cast("long").alias("user_decile"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") < 10)
        .orderBy("event_type", "hour", "user_decile")
    )


@register(
    "pii_l_diversity_audit",
    doc="l-diversity audit — the attack k-anonymity misses: a cohort "
    "can be large (k-anonymous) yet homogeneous in its SENSITIVE "
    "attribute, so membership alone leaks the secret. Cohort = the "
    "quasi-identifier pair (event_type, hour-of-day); sensitive "
    "attribute = the value band (floor(value/100)). Each cohort "
    "reports n rows, l = distinct sensitive values, and a vulnerable "
    "flag (l < 3). Distinct-count per cohort is one partial_agg-able "
    "groupBy over (cohort, band) then a count per cohort — two "
    "shuffles on the same key layout, no distinct state explosion.",
    oracle="""
WITH bands AS (
    SELECT event_type,
           CAST(HOUR(ts) AS BIGINT) AS hour,
           CAST(FLOOR(value / 100) AS BIGINT) AS band
    FROM events
),
coh AS (
    SELECT event_type, hour,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT band) AS BIGINT) AS l_distinct
    FROM bands GROUP BY 1, 2
)
SELECT event_type, hour, n, l_distinct,
       CAST(CASE WHEN l_distinct < 3 THEN 1 ELSE 0 END AS BIGINT)
           AS vulnerable
FROM coh
ORDER BY event_type, hour
""",
)
def pii_l_diversity_audit(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    bands = ev.select(
        "event_type",
        F.hour("ts").cast("long").alias("hour"),
        F.floor(F.col("value") / 100).cast("long").alias("band"),
    )
    coh = bands.groupBy("event_type", "hour").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.countDistinct("band").cast("long").alias("l_distinct"),
    )
    return coh.select(
        "event_type",
        "hour",
        "n",
        "l_distinct",
        (F.col("l_distinct") < 3).cast("long").alias("vulnerable"),
    ).orderBy("event_type", "hour")


@register(
    "pii_format_preserving_mask",
    doc="Format-preserving masking: card-shaped identifiers (the "
    "fn_luhn_check candidates) have each digit replaced by an "
    "md5-derived digit keyed on (secret salt, position, original "
    "digit) — length, digit-ness and grouping survive, the value "
    "does not, and equal inputs mask equally (the join-key-preserving "
    "property tokenization needs; full FPE like FF1 swaps in a "
    "keyed cipher for the md5 without changing the plan). Emits the "
    "masked string, a changed flag, and idempotence-relevant "
    "length/digit checks. Deterministic md5 keeps both engines "
    "byte-identical; map-only at any scale.",
    oracle="""
WITH cand AS (
    SELECT o_orderkey,
           LPAD(CAST((o_orderkey * 7919) % 100000000000 AS VARCHAR),
                11, '0') AS s
    FROM orders WHERE o_orderkey % 97 = 0
),
digits AS (
    SELECT o_orderkey, s, i,
           CAST(('0x' || SUBSTR(MD5('cascade-salt:' || CAST(i AS VARCHAR) || ':'
                                    || SUBSTR(s, i, 1)), 1, 8))::BIGINT % 10
                AS VARCHAR) AS md
    FROM cand, UNNEST(GENERATE_SERIES(1, 11)) AS t(i)
),
masked AS (
    SELECT o_orderkey, s,
           STRING_AGG(md, '' ORDER BY i) AS masked_str
    FROM digits GROUP BY 1, 2
)
SELECT o_orderkey, masked_str,
       CAST(CASE WHEN masked_str <> s THEN 1 ELSE 0 END AS BIGINT) AS changed,
       CAST(LENGTH(masked_str) AS BIGINT) AS mask_len
FROM masked
ORDER BY o_orderkey
""",
)
def pii_format_preserving_mask(spark, sf_dir):
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 97 == 0)
    cand = o.select(
        "o_orderkey",
        F.lpad(
            ((F.col("o_orderkey") * 7919) % 100000000000).cast("string"), 11, "0"
        ).alias("s"),
    )
    # one JVM expression: transform positions 1..11, md5-derive a digit
    # per (salt, position, original digit), concat back
    masked = F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.lit(11)),
            lambda i: (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit("cascade-salt:"),
                                i.cast("string"),
                                F.lit(":"),
                                F.substring(F.col("s"), i, 1),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % 10
            ).cast("string"),
        ),
        "",
    )
    return (
        cand.withColumn("masked_str", masked)
        .select(
            "o_orderkey",
            "masked_str",
            (F.col("masked_str") != F.col("s")).cast("long").alias("changed"),
            F.length("masked_str").cast("long").alias("mask_len"),
        )
        .orderBy("o_orderkey")
    )


T_CLOSE_BP = 2_000  # declared closeness threshold (t = 0.2)


@register(
    "pii_t_closeness_audit",
    doc="t-closeness audit — the attack l-diversity misses: a cohort "
    "can be diverse yet its sensitive-attribute DISTRIBUTION can still "
    "differ sharply from the table's, leaking the secret "
    "probabilistically. Cohort = (event_type, hour) and sensitive "
    "attribute = the ordinal value band floor(value/100) (the "
    "pii_l_diversity_audit contract); distance = the ordinal Earth "
    "Mover's Distance sum_i |cumP_i - cumQ_i| / (m-1), cleared to ONE "
    "exact integer rational per cohort by scaling both cumulatives "
    "(|cum_c*N - cum_g*n|) — t in truncated bp with a declared "
    f"{T_CLOSE_BP} bp violation flag. The cohort x band grid zero-"
    "fills so cumulatives run as windows PARTITIONED by cohort (no "
    "global window); two shuffles on the cohort key layout.",
    oracle=f"""
WITH bands AS (
    SELECT event_type,
           CAST(HOUR(ts) AS BIGINT) AS hour,
           CAST(FLOOR(value / 100) AS BIGINT) AS band
    FROM events
),
g AS (SELECT band, CAST(COUNT(*) AS BIGINT) AS gcnt FROM bands GROUP BY 1),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS big_n,
               CAST(COUNT(DISTINCT band) AS BIGINT) AS m
        FROM bands),
coh AS (
    SELECT event_type, hour, band, CAST(COUNT(*) AS BIGINT) AS c
    FROM bands GROUP BY 1, 2, 3
),
cohn AS (
    SELECT event_type, hour, CAST(SUM(c) AS BIGINT) AS n
    FROM coh GROUP BY 1, 2
),
grid AS (
    SELECT cn.event_type, cn.hour, cn.n, g.band, g.gcnt,
           COALESCE(ch.c, 0) AS c
    FROM cohn cn CROSS JOIN g
    LEFT JOIN coh ch ON ch.event_type = cn.event_type
                    AND ch.hour = cn.hour AND ch.band = g.band
),
cum AS (
    SELECT event_type, hour, n,
           SUM(c) OVER w AS cum_c, SUM(gcnt) OVER w AS cum_g
    FROM grid
    WINDOW w AS (PARTITION BY event_type, hour ORDER BY band
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
emd AS (
    SELECT c.event_type, c.hour, MAX(c.n) AS n,
           CAST(SUM(ABS(CAST(c.cum_c AS HUGEINT) * t.big_n
                        - CAST(c.cum_g AS HUGEINT) * c.n)) AS HUGEINT)
               AS emd_scaled
    FROM cum c CROSS JOIN tot t
    GROUP BY c.event_type, c.hour
)
SELECT e.event_type, e.hour, CAST(e.n AS BIGINT) AS n,
       CAST(CASE WHEN t.m <= 1 OR e.n = 0 THEN 0
                 ELSE (e.emd_scaled * 10000)
                      // ((t.m - 1) * e.n * t.big_n) END AS BIGINT) AS t_bp,
       CAST(CASE WHEN t.m > 1 AND e.n > 0
                  AND (e.emd_scaled * 10000)
                      // ((t.m - 1) * e.n * t.big_n) > {T_CLOSE_BP}
                 THEN 1 ELSE 0 END AS BIGINT) AS violates_t
FROM emd e CROSS JOIN tot t
ORDER BY e.event_type, e.hour
""",
)
def pii_t_closeness_audit(spark, sf_dir):
    from pyspark.sql import Window

    dec = "decimal(38,0)"
    ev = t(spark, sf_dir, "events")
    bands = ev.select(
        "event_type",
        F.hour("ts").cast("long").alias("hour"),
        F.floor(F.col("value") / 100).cast("long").alias("band"),
    )
    g = bands.groupBy("band").agg(F.count(F.lit(1)).cast("long").alias("gcnt"))
    tot = bands.agg(
        F.count(F.lit(1)).cast("long").alias("big_n"),
        F.count_distinct("band").cast("long").alias("m"),
    )
    coh = bands.groupBy("event_type", "hour", "band").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    cohn = coh.groupBy("event_type", "hour").agg(
        F.sum("c").cast("long").alias("n")
    )
    grid = (
        cohn.crossJoin(F.broadcast(g))
        .join(coh, ["event_type", "hour", "band"], "left")
        .select(
            "event_type",
            "hour",
            "n",
            "band",
            "gcnt",
            F.coalesce("c", F.lit(0)).alias("c"),
        )
    )
    w = (
        Window.partitionBy("event_type", "hour")
        .orderBy("band")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = grid.select(
        "event_type",
        "hour",
        "n",
        F.sum("c").over(w).alias("cum_c"),
        F.sum("gcnt").over(w).alias("cum_g"),
    )
    emd = (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("event_type", "hour")
        .agg(
            F.max("n").alias("n"),
            F.sum(
                F.abs(
                    F.col("cum_c").cast(dec) * F.col("big_n")
                    - F.col("cum_g").cast(dec) * F.col("n")
                )
            )
            .cast(dec)
            .alias("emd_scaled"),
        )
    )
    t_core = "(emd_scaled * 10000) DIV ((m - 1) * n * big_n)"
    return (
        emd.crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "hour",
            F.col("n").cast("long").alias("n"),
            F.expr(
                f"CAST(CASE WHEN m <= 1 OR n = 0 THEN 0"
                f" ELSE {t_core} END AS BIGINT)"
            ).alias("t_bp"),
            F.expr(
                f"CAST(CASE WHEN m > 1 AND n > 0 AND {t_core} > {T_CLOSE_BP}"
                f" THEN 1 ELSE 0 END AS BIGINT)"
            ).alias("violates_t"),
        )
        .orderBy("event_type", "hour")
    )
