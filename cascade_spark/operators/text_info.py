"""Round-9 wave-7 — information-theoretic corpus diagnostics over the
documents table, extending the text family (Zipf / burstiness /
Good-Turing / PMI live elsewhere; these add the entropy and
divergence readouts a mixture owner tracks per source):

- ``text_unigram_entropy``: per-source unigram Shannon entropy with
  the declared floored-term discipline — each word contributes
  FLOOR(c_w * ln(N/c_w) * 10^6) (ONE mirrored IEEE ln of
  integer-derived doubles, floored to an exact integer), the source
  total is an EXACT integer sum of those (no float accumulation —
  the Ljung-Box per-lag-floor precedent), and H_micro is one final
  integer division by N.
- ``text_js_divergence_sources``: Jensen-Shannon divergence of each
  source's unigram distribution vs the corpus, over a BOUNDED spine —
  the corpus top-{K} words plus one OTHER residual bucket (so the
  per-source work is K+1 rows at any corpus size); same floored-term
  discipline, declared Laplace-free (absent-word terms are exactly 0
  for p and the q/m terms still count).

Reference scope: the reference engine is an event log
(src/broker/main.rs); declared aggregates over ``documents`` per
SURVEY §2B north-star text.

Scale (100 TB): both collapse the corpus to (source x word) counts in
one combinable pass; JSD then projects onto the fixed top-K+OTHER
spine, so everything downstream is (|sources| x (K+1)) rows.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cascade_spark.operators._util import barrier, bigint, t
from cascade_spark.plans.registry import register

JSD_TOP_WORDS = 256


@register(
    "text_unigram_entropy",
    doc="Per-source unigram Shannon entropy in micro-nats: "
    "H_micro = (sum_w FLOOR(c_w * ln(N_s/c_w) * 10^6)) DIV N_s — each "
    "term one mirrored IEEE ln of integer-derived doubles floored to "
    "an exact integer, the sum exact, one final integer division "
    "(declared per-term floors; bias < |vocab| micro-nats, identical "
    "on both engines by construction). The mixture-owner readout next "
    "to text_zipf_topwords.",
    oracle="""
WITH w AS (
    SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents
),
cnt AS (
    SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c FROM w GROUP BY source, w
),
n AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY source),
terms AS (
    SELECT cnt.source,
           CAST(FLOOR(cnt.c * LN(CAST(n.n AS DOUBLE) / cnt.c) * 1000000)
                AS BIGINT) AS term
    FROM cnt JOIN n ON n.source = cnt.source
)
SELECT t.source,
       n.n AS n_tokens,
       CAST((SELECT COUNT(*) FROM cnt WHERE cnt.source = t.source) AS BIGINT)
           AS n_types,
       CAST(SUM(t.term) // n.n AS BIGINT) AS entropy_micro
FROM terms t JOIN n ON n.source = t.source
GROUP BY t.source, n.n
ORDER BY t.source
""",
)
def text_unigram_entropy(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    w = d.select("source", F.explode(F.split("text", " ")).alias("w"))
    cnt = w.groupBy("source", "w").agg(bigint(F.count(F.lit(1))).alias("c"))
    n = cnt.groupBy("source").agg(
        bigint(F.sum("c")).alias("n"),
        bigint(F.count(F.lit(1))).alias("n_types"),
    )
    terms = cnt.join(F.broadcast(n), "source").select(
        "source",
        "n",
        "n_types",
        F.floor(
            F.col("c") * F.log(F.col("n").cast("double") / F.col("c")) * 1000000
        )
        .cast("long")
        .alias("term"),
    )
    return (
        terms.groupBy("source", "n", "n_types")
        .agg(bigint(F.sum("term")).alias("_s"))
        .select(
            "source",
            F.col("n").alias("n_tokens"),
            "n_types",
            F.expr("CAST(_s DIV n AS BIGINT)").alias("entropy_micro"),
        )
        .orderBy("source")
    )


@register(
    "text_js_divergence_sources",
    doc=f"Jensen-Shannon divergence of each source's unigram "
    "distribution vs the whole corpus, on the BOUNDED top-"
    f"{JSD_TOP_WORDS}-words + OTHER spine (count DESC, word tiebreak), "
    "so per-source work is fixed at any corpus size. Per bucket the "
    "contribution FLOOR(5*10^5 * (p*ln(p/m) + q*ln(q/m))) is one "
    "mirrored IEEE expression of integer-derived doubles floored to an "
    "exact integer (p = source share, q = corpus share, m = midpoint; "
    "zero-share terms are exactly 0); the JSD total is the exact "
    "integer sum — the drifted-source screen for mixture rebalancing.",
    oracle=f"""
WITH w AS (
    SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents
),
cw AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM w GROUP BY w),
top AS (
    SELECT w FROM cw ORDER BY c DESC, w LIMIT {JSD_TOP_WORDS}
),
bucketed AS (
    SELECT w.source,
           CASE WHEN top.w IS NOT NULL THEN w.w ELSE '__OTHER__' END AS bkt
    FROM w LEFT JOIN top ON top.w = w.w
),
sc AS (SELECT source, bkt, CAST(COUNT(*) AS BIGINT) AS c
       FROM bucketed GROUP BY source, bkt),
st AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM sc GROUP BY source),
gc AS (SELECT bkt, CAST(SUM(c) AS BIGINT) AS c FROM sc GROUP BY bkt),
gt AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM gc),
spine AS (
    SELECT st.source, gc.bkt, st.n AS ns, gt.n AS ng, gc.c AS cg,
           COALESCE(sc.c, 0) AS cs
    FROM st CROSS JOIN gc
    LEFT JOIN sc ON sc.source = st.source AND sc.bkt = gc.bkt, gt
),
terms AS (
    SELECT source,
           CAST(FLOOR(500000 * (
               CASE WHEN cs = 0 THEN 0.0
                    ELSE (CAST(cs AS DOUBLE) / ns)
                         * LN((CAST(cs AS DOUBLE) / ns)
                              / ((CAST(cs AS DOUBLE) / ns
                                  + CAST(cg AS DOUBLE) / ng) / 2)) END
             + CASE WHEN cg = 0 THEN 0.0
                    ELSE (CAST(cg AS DOUBLE) / ng)
                         * LN((CAST(cg AS DOUBLE) / ng)
                              / ((CAST(cs AS DOUBLE) / ns
                                  + CAST(cg AS DOUBLE) / ng) / 2)) END
           )) AS BIGINT) AS term
    FROM spine
)
SELECT source, CAST(SUM(term) AS BIGINT) AS jsd_micro
FROM terms
GROUP BY source
ORDER BY source
""",
)
def text_js_divergence_sources(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    w = d.select("source", F.explode(F.split("text", " ")).alias("w"))
    # one explode pass: occurrences pre-aggregate to (source, word)
    # counts; the global count table and the bucket rollup both derive
    # from the checkpointed word-level frame (the old plan re-ran the
    # explode for the top-K table and the bucketing separately)
    csw = w.groupBy("source", "w").agg(
        bigint(F.count(F.lit(1))).alias("cw")
    ).transform(barrier)
    cw = csw.groupBy("w").agg(bigint(F.sum("cw")).alias("c"))
    top = cw.orderBy(F.col("c").desc(), "w").limit(JSD_TOP_WORDS).select("w")
    bucketed = csw.join(
        F.broadcast(top.withColumn("_t", F.lit(1))), "w", "left"
    ).select(
        "source",
        F.when(F.col("_t").isNotNull(), F.col("w"))
        .otherwise(F.lit("__OTHER__"))
        .alias("bkt"),
        "cw",
    )
    sc = bucketed.groupBy("source", "bkt").agg(
        bigint(F.sum("cw")).alias("c")
    # referenced 3x (per-source totals, global totals, the spine join)
    ).transform(barrier)
    st = sc.groupBy("source").agg(bigint(F.sum("c")).alias("ns"))
    gc = sc.groupBy("bkt").agg(bigint(F.sum("c")).alias("cg"))
    gt = gc.agg(bigint(F.sum("cg")).alias("ng"))
    spine = (
        st.crossJoin(F.broadcast(gc))
        .join(sc, ["source", "bkt"], "left")
        .crossJoin(F.broadcast(gt))
        .select(
            "source",
            "bkt",
            "ns",
            "ng",
            "cg",
            F.coalesce("c", F.lit(0)).cast("long").alias("cs"),
        )
    )
    p = F.col("cs").cast("double") / F.col("ns")
    q = F.col("cg").cast("double") / F.col("ng")
    m = (p + q) / 2
    term = F.floor(
        500000
        * (
            F.when(F.col("cs") == 0, F.lit(0.0)).otherwise(p * F.log(p / m))
            + F.when(F.col("cg") == 0, F.lit(0.0)).otherwise(q * F.log(q / m))
        )
    ).cast("long")
    return (
        spine.select("source", term.alias("term"))
        .groupBy("source")
        .agg(bigint(F.sum("term")).alias("jsd_micro"))
        .orderBy("source")
    )
