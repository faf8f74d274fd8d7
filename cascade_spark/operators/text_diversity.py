"""Round-9 wave — lexical-diversity and vocabulary-growth statistics
over the documents corpus (the corpus-level health readouts next to
text_type_token_ratio's per-doc TTR and text_unigram_entropy's
per-source entropy):

- ``text_yule_k``: Yule's characteristic K per source — the
  length-robust repetitiveness constant 10^4*(sum f^2 - N)/N^2.
- ``text_simpson_diversity``: Simpson repeat rate per source — the
  probability two random tokens are the same type, exact bp.
- ``text_hapax_spectrum``: the low-frequency vocabulary spectrum
  (V1/V2/V3+) per source — the Good-Turing mass driver and the
  "is this source mostly one-off noise?" audit.
- ``text_heaps_fit``: Heaps' law exponent beta from a deterministic
  two-point fit (even-doc_id half vs full corpus) — the
  vocabulary-growth forecast behind tokenizer budget planning.

Reference scope: declared aggregates over the ``documents`` table per
SURVEY §2B (north-star text family).

Determinism: frequency moments accumulate in DECIMAL(38,0)/HUGEINT
(exact at any corpus size); every ratio is truncating integer division
except the Heaps exponent, which is ONE mirrored IEEE ln-ratio
expression rounded to 6 dp on both engines (the tau-b precedent).

Scale (100 TB): tokenization is map-only explode; everything else runs
on the (source x word) frequency spine — vocab-bounded, not
corpus-bounded — with map-side-combinable counts. The Heaps split is
a doc_id-parity filter (no sampling state, no second scan: one
conditional aggregate on the same spine).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cascade_spark.operators._util import bigint, t
from cascade_spark.plans.registry import register

BP = 10_000

# (source, word) frequency spine over whitespace tokens
_FREQ_SQL = """
tok AS (
    SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents
),
freq AS (
    SELECT source, w, CAST(COUNT(*) AS BIGINT) AS f
    FROM tok WHERE w <> '' GROUP BY 1, 2
)
"""


def _freq(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(F.split(F.col("text"), " ", -1)).alias("w")
    ).filter(F.col("w") != "")
    return tok.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("long").alias("f")
    )


@register(
    "text_yule_k",
    doc="Yule's characteristic K per source: K = 10^4*(sum f^2 - N)/N^2 "
    "over the word-frequency spine — the classic length-robust "
    "repetitiveness constant (higher = fewer types dominate). Frequency "
    "moments in DECIMAL(38,0)/HUGEINT, K reported as one truncating "
    "division in micro units (10^4 scale * 10^2 precision = 10^6).",
    oracle=f"""
WITH {_FREQ_SQL},
st AS (
    SELECT source,
           CAST(COALESCE(SUM(f), 0) AS HUGEINT) AS n,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(COALESCE(SUM(CAST(f AS HUGEINT) * f), 0) AS HUGEINT) AS sum_f2
    FROM freq GROUP BY 1
)
SELECT source, CAST(n AS BIGINT) AS n_tokens, n_types,
       CAST(sum_f2 AS BIGINT) AS sum_f2,
       CAST(CASE WHEN n = 0 THEN 0
                 ELSE ((sum_f2 - n) * 1000000) // (n * n) END AS BIGINT)
           AS yule_k_micro
FROM st
ORDER BY source
""",
)
def text_yule_k(spark, sf_dir):
    dec = "decimal(38,0)"
    st = _freq(spark, sf_dir).groupBy("source").agg(
        F.coalesce(F.sum("f"), F.lit(0)).cast(dec).alias("n"),
        bigint(F.count(F.lit(1))).alias("n_types"),
        F.coalesce(F.sum(F.col("f").cast(dec) * F.col("f")), F.lit(0))
        .cast(dec)
        .alias("sum_f2"),
    )
    return st.select(
        "source",
        F.col("n").cast("long").alias("n_tokens"),
        "n_types",
        F.col("sum_f2").cast("long").alias("sum_f2"),
        F.expr(
            "CAST(CASE WHEN n = 0 THEN 0"
            " ELSE ((sum_f2 - n) * 1000000) DIV (n * n) END AS BIGINT)"
        ).alias("yule_k_micro"),
    ).orderBy("source")


@register(
    "text_simpson_diversity",
    doc="Simpson repeat rate per source: P(two random tokens are the "
    "same type, without replacement) = sum f(f-1) / (N(N-1)) in exact "
    "truncated bp off the same word-frequency spine — the unigram "
    "collision probability that complements Yule's K (K is its "
    "length-corrected rescale).",
    oracle=f"""
WITH {_FREQ_SQL},
st AS (
    SELECT source,
           CAST(COALESCE(SUM(f), 0) AS HUGEINT) AS n,
           CAST(COALESCE(SUM(CAST(f AS HUGEINT) * (f - 1)), 0) AS HUGEINT)
               AS coll
    FROM freq GROUP BY 1
)
SELECT source, CAST(n AS BIGINT) AS n_tokens,
       CAST(coll AS BIGINT) AS collision_pairs2,
       CAST(CASE WHEN n <= 1 THEN 0
                 ELSE (coll * {BP}) // (n * (n - 1)) END AS BIGINT)
           AS simpson_bp
FROM st
ORDER BY source
""",
)
def text_simpson_diversity(spark, sf_dir):
    dec = "decimal(38,0)"
    st = _freq(spark, sf_dir).groupBy("source").agg(
        F.coalesce(F.sum("f"), F.lit(0)).cast(dec).alias("n"),
        F.coalesce(F.sum(F.col("f").cast(dec) * (F.col("f") - 1)), F.lit(0))
        .cast(dec)
        .alias("coll"),
    )
    return st.select(
        "source",
        F.col("n").cast("long").alias("n_tokens"),
        F.col("coll").cast("long").alias("collision_pairs2"),
        F.expr(
            f"CAST(CASE WHEN n <= 1 THEN 0"
            f" ELSE (coll * {BP}) DIV (n * (n - 1)) END AS BIGINT)"
        ).alias("simpson_bp"),
    ).orderBy("source")


@register(
    "text_hapax_spectrum",
    doc="Low-frequency vocabulary spectrum per source: hapax (f=1), dis "
    "(f=2) and f>=3 type counts with the hapax share of the vocabulary "
    "in truncated bp — the Good-Turing mass driver (V1/N estimates the "
    "unseen-word probability) and the one-off-noise audit run before "
    "vocab truncation decisions.",
    oracle=f"""
WITH {_FREQ_SQL}
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(COUNT(*) FILTER (WHERE f = 1) AS BIGINT) AS v1_hapax,
       CAST(COUNT(*) FILTER (WHERE f = 2) AS BIGINT) AS v2_dis,
       CAST(COUNT(*) FILTER (WHERE f >= 3) AS BIGINT) AS v3_plus,
       CAST(CASE WHEN COUNT(*) = 0 THEN 0
                 ELSE (COUNT(*) FILTER (WHERE f = 1) * {BP}) // COUNT(*)
            END AS BIGINT) AS hapax_share_bp
FROM freq
GROUP BY source
ORDER BY source
""",
)
def text_hapax_spectrum(spark, sf_dir):
    from cascade_spark.operators.inference_extra import _csum

    return (
        _freq(spark, sf_dir)
        .groupBy("source")
        .agg(
            bigint(F.count(F.lit(1))).alias("n_types"),
            _csum(F.col("f") == 1).alias("v1_hapax"),
            _csum(F.col("f") == 2).alias("v2_dis"),
            _csum(F.col("f") >= 3).alias("v3_plus"),
            F.expr(
                f"CAST(CASE WHEN COUNT(*) = 0 THEN 0"
                f" ELSE (SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) * {BP})"
                f" DIV COUNT(*) END AS BIGINT)"
            ).alias("hapax_share_bp"),
        )
        .orderBy("source")
    )


@register(
    "text_heaps_fit",
    doc="Heaps' law exponent from a deterministic two-point fit: vocab "
    "and token counts of the even-doc_id half (point 1) vs the full "
    "corpus (point 2), beta = ln(V2/V1)/ln(N2/N1) as ONE mirrored IEEE "
    "expression rounded to 6 dp (0.0 on degenerate inputs) — the "
    "vocabulary-growth forecast (V ~ K*N^beta) behind tokenizer-budget "
    "planning. Both points come from ONE pass over the word spine via "
    "conditional aggregates (no second scan, no sampling state).",
    oracle="""
WITH tok AS (
    SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents
),
wf AS (
    SELECT w,
           CAST(COUNT(*) AS BIGINT) AS f_all,
           CAST(COUNT(*) FILTER (WHERE doc_id % 2 = 0) AS BIGINT) AS f_even
    FROM tok WHERE w <> '' GROUP BY w
),
pts AS (
    SELECT CAST(COALESCE(SUM(f_even), 0) AS BIGINT) AS n1,
           CAST(COUNT(*) FILTER (WHERE f_even > 0) AS BIGINT) AS v1,
           CAST(COALESCE(SUM(f_all), 0) AS BIGINT) AS n2,
           CAST(COUNT(*) AS BIGINT) AS v2
    FROM wf
)
SELECT n1, v1, n2, v2,
       CASE WHEN v1 = 0 OR n1 = 0 OR n2 <= n1 OR v2 < v1 THEN 0.0
            ELSE ROUND(LN(CAST(v2 AS DOUBLE) / v1)
                       / LN(CAST(n2 AS DOUBLE) / n1), 6)
       END AS heaps_beta
FROM pts
""",
)
def text_heaps_fit(spark, sf_dir):
    from cascade_spark.operators.inference_extra import _csum

    docs = t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ", -1)).alias("w")
    ).filter(F.col("w") != "")
    wf = tok.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("f_all"),
        _csum(F.col("doc_id") % 2 == 0).alias("f_even"),
    )
    pts = wf.agg(
        bigint(F.coalesce(F.sum("f_even"), F.lit(0))).alias("n1"),
        _csum(F.col("f_even") > 0).alias("v1"),
        bigint(F.coalesce(F.sum("f_all"), F.lit(0))).alias("n2"),
        bigint(F.count(F.lit(1))).alias("v2"),
    )
    beta = F.round(
        F.log(F.col("v2").cast("double") / F.col("v1"))
        / F.log(F.col("n2").cast("double") / F.col("n1")),
        6,
    )
    return pts.select(
        "n1",
        "v1",
        "n2",
        "v2",
        F.when(
            (F.col("v1") == 0)
            | (F.col("n1") == 0)
            | (F.col("n2") <= F.col("n1"))
            | (F.col("v2") < F.col("v1")),
            F.lit(0.0),
        )
        .otherwise(beta)
        .alias("heaps_beta"),
    )
