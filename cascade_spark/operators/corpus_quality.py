"""Round-8 wave-10 corpus-quality operators over ``documents`` —
readability scoring and per-source quota sampling, two staples of a
training-data curation pipeline the quality-filter family
(gopher/C4/CCNet/classifier) doesn't yet cover:

- ``text_flesch_reading_ease``: Flesch reading-ease per source from
  pure integer counts (whitespace words, [.!?]+ sentence runs,
  [aeiouy]+ vowel-group "syllables" — the standard regex
  approximation) with the 206.835/1.015/84.6 constants cleared to one
  exact integer rational per source: flesch_x1000 =
  (206835*S*W - 1015*W^2 - 84600*Y*S) / (S*W), truncating division
  (DIV // parity on negatives — over-punctuated sources can go
  negative).
- ``pipeline_quota_sampling``: per-source document quota (cap K docs
  per source) selected by deterministic md5 order — the "no source
  dominates the mixture" cap applied before mixing, with kept/total
  counts and an id-sum checksum proving the exact selection.

Reference scope: the reference's query surface is aggregation over an
ingested log (src/broker/main.rs); these queries are declared aggregates /
transforms over the documents table of SURVEY §2B's north-star corpus
surface.

Scale (100 TB): Flesch is one map-only regexp pass + one combinable
groupBy(source). Quota sampling is a per-source top-K: implemented as
a window row_number over the source shuffle (bounded by per-source
cardinality; at corpus scale swap to the two-phase top-K — per
partition LIMIT K then global re-rank — noted inline).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from cascade_spark.operators._util import bigint, t
from cascade_spark.plans.registry import register

QUOTA_K = 10


@register(
    "text_flesch_reading_ease",
    doc="Flesch reading ease per source: flesch_x1000 = "
    "(206835*S*W - 1015*W*W - 84600*Y*S) DIV (S*W) from per-source "
    "word/sentence/vowel-group totals — one map-only regexp pass, one "
    "combinable groupBy. Per-doc sentence counts clamp to >= 1 so "
    "unpunctuated docs count as one sentence (declared, mirrored).",
    oracle="""
WITH per_doc AS (
    SELECT source,
           CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS w,
           CAST(GREATEST(LEN(REGEXP_EXTRACT_ALL(text, '[.!?]+')), 1)
                AS BIGINT) AS s,
           CAST(LEN(REGEXP_EXTRACT_ALL(LOWER(text), '[aeiouy]+'))
                AS BIGINT) AS y
    FROM documents
),
agg AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(w) AS BIGINT) AS words,
           CAST(SUM(s) AS BIGINT) AS sentences,
           CAST(SUM(y) AS BIGINT) AS syllables
    FROM per_doc GROUP BY source
)
SELECT source, n_docs, words, sentences, syllables,
       CAST((206835 * sentences * words - 1015 * words * words
             - 84600 * syllables * sentences)
            // (sentences * words) AS BIGINT) AS flesch_x1000
FROM agg
ORDER BY source
""",
)
def text_flesch_reading_ease(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    per_doc = d.select(
        "source",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("w"),
        F.greatest(
            F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[.!?]+"), 0)),
            F.lit(1),
        )
        .cast("long")
        .alias("s"),
        F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit("[aeiouy]+"), 0))
        .cast("long")
        .alias("y"),
    )
    agg = per_doc.groupBy("source").agg(
        bigint(F.count(F.lit(1))).alias("n_docs"),
        bigint(F.sum("w")).alias("words"),
        bigint(F.sum("s")).alias("sentences"),
        bigint(F.sum("y")).alias("syllables"),
    )
    return agg.select(
        "source",
        "n_docs",
        "words",
        "sentences",
        "syllables",
        F.expr(
            "(206835 * sentences * words - 1015 * words * words"
            " - 84600 * syllables * sentences) DIV (sentences * words)"
        )
        .cast("long")
        .alias("flesch_x1000"),
    ).orderBy("source")


@register(
    "pipeline_quota_sampling",
    doc=f"Per-source quota sampling (cap K={QUOTA_K} docs/source) in "
    "deterministic md5 order — the anti-domination cap applied before "
    "source mixing. row_number over the source shuffle picks the K "
    "smallest md5(doc_id) keys per source; kept/total counts and the "
    "kept-id sum checksum prove the exact selection to the oracle. At "
    "corpus scale the window becomes the two-phase top-K (per-"
    "partition LIMIT K, then re-rank the <= K*partitions survivors).",
    oracle=f"""
WITH keyed AS (
    SELECT source, doc_id,
           ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY MD5(CAST(doc_id AS VARCHAR)), doc_id)
               AS rk
    FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(COUNT(*) FILTER (WHERE rk <= {QUOTA_K}) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN rk <= {QUOTA_K} THEN doc_id ELSE 0 END) AS BIGINT)
           AS kept_id_sum
FROM keyed GROUP BY source ORDER BY source
""",
)
def pipeline_quota_sampling(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    keyed = d.select(
        "source",
        "doc_id",
        F.row_number()
        .over(
            Window.partitionBy("source").orderBy(
                F.md5(F.col("doc_id").cast("string")), "doc_id"
            )
        )
        .alias("rk"),
    )
    return (
        keyed.groupBy("source")
        .agg(
            bigint(F.count(F.lit(1))).alias("n_total"),
            bigint(F.sum(F.when(F.col("rk") <= QUOTA_K, 1).otherwise(0))).alias(
                "n_kept"
            ),
            bigint(
                F.sum(F.when(F.col("rk") <= QUOTA_K, F.col("doc_id")).otherwise(0))
            ).alias("kept_id_sum"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# LIX / RIX readability
# ---------------------------------------------------------------------------


@register(
    "text_lix_readability",
    doc="LIX and RIX readability per source: words (whitespace split), "
    "sentences ([.!?]+ runs, clamped >= 1 per doc — the "
    "text_flesch_reading_ease contract), long words (> 6 chars). "
    "lix_milli = (1000*W) DIV S + (100000*LW) DIV W (sum of two "
    "truncated terms, declared), rix_milli = (1000*LW) DIV S. One "
    "map-only regexp pass + one combinable groupBy.",
    oracle="""
WITH per_doc AS (
    SELECT source,
           CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS w,
           CAST(GREATEST(LEN(REGEXP_EXTRACT_ALL(text, '[.!?]+')), 1)
                AS BIGINT) AS s,
           CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                                x -> LEN(x) > 6)) AS BIGINT) AS lw
    FROM documents
),
agg AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(w) AS BIGINT) AS words,
           CAST(SUM(s) AS BIGINT) AS sentences,
           CAST(SUM(lw) AS BIGINT) AS long_words
    FROM per_doc GROUP BY source
)
SELECT source, n_docs, words, sentences, long_words,
       CAST((1000 * words) // sentences
            + (100000 * long_words) // words AS BIGINT) AS lix_milli,
       CAST((1000 * long_words) // sentences AS BIGINT) AS rix_milli
FROM agg
ORDER BY source
""",
)
def text_lix_readability(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    per_doc = d.select(
        "source",
        F.size(F.split(F.col("text"), " ", -1)).cast("long").alias("w"),
        F.greatest(
            F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[.!?]+"), 0)),
            F.lit(1),
        )
        .cast("long")
        .alias("s"),
        F.size(
            F.filter(
                F.split(F.col("text"), " ", -1), lambda x: F.length(x) > 6
            )
        )
        .cast("long")
        .alias("lw"),
    )
    agg = per_doc.groupBy("source").agg(
        bigint(F.count(F.lit(1))).alias("n_docs"),
        bigint(F.sum("w")).alias("words"),
        bigint(F.sum("s")).alias("sentences"),
        bigint(F.sum("lw")).alias("long_words"),
    )
    return agg.select(
        "source",
        "n_docs",
        "words",
        "sentences",
        "long_words",
        F.expr(
            "CAST((1000 * words) DIV sentences"
            " + (100000 * long_words) DIV words AS BIGINT)"
        ).alias("lix_milli"),
        F.expr("CAST((1000 * long_words) DIV sentences AS BIGINT)").alias(
            "rix_milli"
        ),
    ).orderBy("source")


@register(
    "text_ari_coleman_liau",
    doc="Automated Readability Index and Coleman–Liau per source from "
    "alphanumeric character / word / sentence totals (the two "
    "grade-level formulas that need no syllable heuristic): ari_milli "
    "= (4710*C*S + 500*W^2 - 21430*W*S) DIV (W*S), cli_milli = "
    "(5880*C - 29600*S) DIV W - 15800 — exact integer clears of "
    "4.71 C/W + 0.5 W/S - 21.43 and 0.0588 L - 0.296 S' - 15.8. "
    "DIV/`//` truncate toward zero identically when a degenerate doc "
    "mix turns a numerator negative.",
    oracle="""
WITH per_doc AS (
    SELECT source,
           CAST(LEN(REGEXP_REPLACE(text, '[^A-Za-z0-9]', '', 'g'))
                AS BIGINT) AS ch,
           CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS w,
           CAST(GREATEST(LEN(REGEXP_EXTRACT_ALL(text, '[.!?]+')), 1)
                AS BIGINT) AS s
    FROM documents
),
agg AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ch) AS BIGINT) AS chars_alnum,
           CAST(SUM(w) AS BIGINT) AS words,
           CAST(SUM(s) AS BIGINT) AS sentences
    FROM per_doc GROUP BY source
)
SELECT source, n_docs, chars_alnum, words, sentences,
       CAST((4710 * chars_alnum * sentences + 500 * words * words
             - 21430 * words * sentences)
            // (words * sentences) AS BIGINT) AS ari_milli,
       CAST((5880 * chars_alnum - 29600 * sentences) // words - 15800
            AS BIGINT) AS cli_milli
FROM agg
ORDER BY source
""",
)
def text_ari_coleman_liau(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    per_doc = d.select(
        "source",
        F.length(F.regexp_replace(F.col("text"), "[^A-Za-z0-9]", ""))
        .cast("long")
        .alias("ch"),
        F.size(F.split(F.col("text"), " ", -1)).cast("long").alias("w"),
        F.greatest(
            F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[.!?]+"), 0)),
            F.lit(1),
        )
        .cast("long")
        .alias("s"),
    )
    agg = per_doc.groupBy("source").agg(
        bigint(F.count(F.lit(1))).alias("n_docs"),
        bigint(F.sum("ch")).alias("chars_alnum"),
        bigint(F.sum("w")).alias("words"),
        bigint(F.sum("s")).alias("sentences"),
    )
    return agg.select(
        "source",
        "n_docs",
        "chars_alnum",
        "words",
        "sentences",
        F.expr(
            "CAST((4710 * chars_alnum * sentences + 500 * words * words"
            " - 21430 * words * sentences)"
            " DIV (words * sentences) AS BIGINT)"
        ).alias("ari_milli"),
        F.expr(
            "CAST((5880 * chars_alnum - 29600 * sentences) DIV words - 15800"
            " AS BIGINT)"
        ).alias("cli_milli"),
    ).orderBy("source")
