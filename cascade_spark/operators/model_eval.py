"""Round-9 wave — classifier-evaluation metrics, fully exact (the
model-quality readouts a filtering/quality-classifier pipeline needs
next to pipeline_quality_classifier; every statistic is an integer
rational, so the whole family hash-checks):

- ``stats_roc_auc_exact``: exact ROC AUC of the n_chars score
  predicting the long-document label — AUC = (concordant + ties/2) /
  (n1*n0) from merged-support cumulative counts (the Mann-Whitney
  identity; never a pair join), plus the Gini coefficient 2*AUC - 1.
- ``stats_calibration_ece``: 10-bin reliability table + expected
  calibration error — per bin the observed positive rate vs the mean
  predicted score, |acc - conf| cleared exact by cross-multiplying
  the bin masses.
- ``stats_brier_score``: the quadratic proper scoring rule on the
  integer bp score, exactly.
- ``stats_gains_table``: the cumulative-gains (lift) table over
  descending score bands — per band capture rate and cumulative lift
  vs the base rate, exact integer rationals on the bounded band spine.

Score contract (declared): score_bp = (n_chars * 10000) DIV 600 capped
at 10000 (n_chars <= 553 in the fixtures, so the cap is headroom);
label = 1 iff the doc has >= 50 whitespace words (the
stats_cohens_kappa rater-B contract). Score and label are correlated
by construction, so the metrics are non-degenerate.

Reference scope: declared aggregates over ``documents`` per SURVEY
§2B.

Scale (100 TB): everything collapses to the (score value) or (band)
spine in one map-side-combinable groupBy; cumulative windows run over
those bounded spines (score_bp has <= 10001 distinct values by
construction — declared, annotated in the global-window lint).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from cascade_spark.operators._util import bigint, t
from cascade_spark.operators.inference_extra import _csum
from cascade_spark.plans.registry import register

BP = 10_000
LABEL_WORDS = 50

# score/label projection shared by the family
_SQL_SCORED = f"""
scored AS (
    SELECT LEAST({BP}, (n_chars * {BP}) // 600) AS score_bp,
           CASE WHEN LEN(STRING_SPLIT(text, ' ')) >= {LABEL_WORDS}
                THEN 1 ELSE 0 END AS y
    FROM documents
)
"""


def _scored(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        F.least(
            F.lit(BP), F.expr(f"(n_chars * {BP}) DIV 600")
        ).alias("score_bp"),
        F.when(
            F.size(F.split(F.col("text"), " ", -1)) >= LABEL_WORDS, 1
        )
        .otherwise(0)
        .alias("y"),
    )


@register(
    "stats_roc_auc_exact",
    doc="Exact ROC AUC of the n_chars score against the long-document "
    "label via the Mann-Whitney identity: AUC = (#{pos > neg} + "
    "ties/2) / (n1*n0), recovered from cumulative counts over the "
    "merged score support (never a pair join), doubled to keep the "
    "half-tie exact — reported in truncated bp with Gini = 2*AUC - 1. "
    "The separability readout for any quality-classifier gate.",
    oracle=f"""
WITH {_SQL_SCORED},
sv AS (
    SELECT score_bp AS v,
           CAST(COUNT(*) FILTER (WHERE y = 1) AS BIGINT) AS cp,
           CAST(COUNT(*) FILTER (WHERE y = 0) AS BIGINT) AS cn
    FROM scored GROUP BY 1
),
cum AS (
    SELECT cp, cn,
           COALESCE(SUM(cn) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_lt
    FROM sv
),
agg AS (
    SELECT CAST(COALESCE(SUM(cp), 0) AS BIGINT) AS n_pos,
           CAST(COALESCE(SUM(cn), 0) AS BIGINT) AS n_neg,
           CAST(COALESCE(SUM(cp * (2 * n_lt + cn)), 0) AS BIGINT) AS u2
    FROM cum
)
SELECT n_pos, n_neg,
       CAST(CASE WHEN n_pos * n_neg = 0 THEN 5000
                 ELSE (u2 * {BP}) // (2 * n_pos * n_neg) END AS BIGINT)
           AS auc_bp,
       CAST(CASE WHEN n_pos * n_neg = 0 THEN 0
                 ELSE (u2 * {BP}) // (n_pos * n_neg) - {BP} END AS BIGINT)
           AS gini_bp
FROM agg
""",
)
def stats_roc_auc_exact(spark, sf_dir):
    sv = _scored(spark, sf_dir).groupBy(F.col("score_bp").alias("v")).agg(
        _csum(F.col("y") == 1).alias("cp"),
        _csum(F.col("y") == 0).alias("cn"),
    )
    w_lt = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    cum = sv.select(
        "cp",
        "cn",
        F.coalesce(F.sum("cn").over(w_lt), F.lit(0)).alias("n_lt"),
    )
    agg = cum.agg(
        bigint(F.coalesce(F.sum("cp"), F.lit(0))).alias("n_pos"),
        bigint(F.coalesce(F.sum("cn"), F.lit(0))).alias("n_neg"),
        bigint(
            F.coalesce(
                F.sum(F.col("cp") * (2 * F.col("n_lt") + F.col("cn"))),
                F.lit(0),
            )
        ).alias("u2"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        F.expr(
            f"CAST(CASE WHEN n_pos * n_neg = 0 THEN 5000"
            f" ELSE (u2 * {BP}) DIV (2 * n_pos * n_neg) END AS BIGINT)"
        ).alias("auc_bp"),
        F.expr(
            f"CAST(CASE WHEN n_pos * n_neg = 0 THEN 0"
            f" ELSE (u2 * {BP}) DIV (n_pos * n_neg) - {BP} END AS BIGINT)"
        ).alias("gini_bp"),
    )


ECE_BINS = 10


@register(
    "stats_calibration_ece",
    doc=f"Reliability table over {ECE_BINS} equal-width score bins: per "
    "bin the doc count, positive count, observed rate and mean "
    "predicted score in truncated bp, with the bin's calibration gap "
    "|acc - conf| cleared to ONE exact integer "
    "(|y_b * sum_score_total_form| cross-multiplied by bin mass) and "
    "the expected calibration error as the mass-weighted gap sum DIV "
    "total — the trust-the-score audit before thresholding a quality "
    "classifier.",
    oracle=f"""
WITH {_SQL_SCORED},
binned AS (
    SELECT LEAST({ECE_BINS - 1}, score_bp * {ECE_BINS} // {BP}) AS bin,
           score_bp, y
    FROM scored
),
b AS (
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COALESCE(SUM(y), 0) AS BIGINT) AS n_pos,
           CAST(COALESCE(SUM(score_bp), 0) AS BIGINT) AS sum_score
    FROM binned GROUP BY 1
),
g AS (
    SELECT bin, n_docs, n_pos, sum_score,
           CAST((n_pos * {BP}) // n_docs AS BIGINT) AS acc_bp,
           CAST(sum_score // n_docs AS BIGINT) AS conf_bp,
           CAST(ABS(n_pos * {BP} - sum_score) AS BIGINT) AS gap_mass
    FROM b
),
tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n FROM g)
SELECT g.bin, g.n_docs, g.n_pos, g.acc_bp, g.conf_bp,
       CAST(g.gap_mass // g.n_docs AS BIGINT) AS gap_bp,
       CAST((SELECT SUM(gap_mass) FROM g) // tot.n AS BIGINT) AS ece_bp
FROM g, tot
ORDER BY g.bin
""",
)
def stats_calibration_ece(spark, sf_dir):
    sc = _scored(spark, sf_dir)
    binned = sc.select(
        F.least(
            F.lit(ECE_BINS - 1),
            F.expr(f"score_bp * {ECE_BINS} DIV {BP}"),
        ).alias("bin"),
        "score_bp",
        "y",
    )
    b = binned.groupBy("bin").agg(
        bigint(F.count(F.lit(1))).alias("n_docs"),
        bigint(F.coalesce(F.sum("y"), F.lit(0))).alias("n_pos"),
        bigint(F.coalesce(F.sum("score_bp"), F.lit(0))).alias("sum_score"),
    )
    g = b.select(
        "bin",
        "n_docs",
        "n_pos",
        "sum_score",
        F.expr(f"CAST((n_pos * {BP}) DIV n_docs AS BIGINT)").alias("acc_bp"),
        F.expr("CAST(sum_score DIV n_docs AS BIGINT)").alias("conf_bp"),
        F.abs(F.col("n_pos") * BP - F.col("sum_score"))
        .cast("long")
        .alias("gap_mass"),
    )
    tot = g.agg(
        bigint(F.sum("n_docs")).alias("n"),
        bigint(F.sum("gap_mass")).alias("gap_total"),
    )
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n_docs",
            "n_pos",
            "acc_bp",
            "conf_bp",
            F.expr("CAST(gap_mass DIV n_docs AS BIGINT)").alias("gap_bp"),
            F.expr("CAST(gap_total DIV n AS BIGINT)").alias("ece_bp"),
        )
        .orderBy("bin")
    )


@register(
    "stats_brier_score",
    doc="Brier score (the quadratic proper scoring rule) of the bp "
    "score against the long-document label, exactly: sum((score_bp - "
    "y*10^4)^2) DIV (n*100) reported in micro units, with the "
    "all-positive-rate reference (climatology) Brier alongside — the "
    "skill comparison that tells whether the score beats just "
    "predicting the base rate.",
    oracle=f"""
WITH {_SQL_SCORED},
agg AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COALESCE(SUM(y), 0) AS BIGINT) AS n_pos,
           CAST(COALESCE(SUM(CAST(score_bp - y * {BP} AS HUGEINT)
                             * (score_bp - y * {BP})), 0) AS HUGEINT) AS sq
    FROM scored
)
SELECT n, n_pos,
       CAST(CASE WHEN n = 0 THEN 0 ELSE sq // (n * 100) END AS BIGINT)
           AS brier_micro,
       CAST(CASE WHEN n = 0 THEN 0
                 ELSE (CAST(n_pos AS HUGEINT) * (n - n_pos) * {BP * BP})
                      // (n * n * 100) END AS BIGINT)
           AS brier_climatology_micro
FROM agg
""",
)
def stats_brier_score(spark, sf_dir):
    dec = "decimal(38,0)"
    sc = _scored(spark, sf_dir)
    agg = sc.agg(
        bigint(F.count(F.lit(1))).alias("n"),
        bigint(F.coalesce(F.sum("y"), F.lit(0))).alias("n_pos"),
        F.coalesce(
            F.sum(
                (F.col("score_bp") - F.col("y") * BP).cast(dec)
                * (F.col("score_bp") - F.col("y") * BP)
            ),
            F.lit(0),
        )
        .cast(dec)
        .alias("sq"),
    )
    return agg.select(
        "n",
        "n_pos",
        F.expr(
            "CAST(CASE WHEN n = 0 THEN 0 ELSE sq DIV (n * 100) END AS BIGINT)"
        ).alias("brier_micro"),
        F.expr(
            f"CAST(CASE WHEN n = 0 THEN 0"
            f" ELSE (CAST(n_pos AS {dec}) * (n - n_pos) * {BP * BP})"
            f" DIV (CAST(n AS {dec}) * n * 100) END AS BIGINT)"
        ).alias("brier_climatology_micro"),
    )


GAIN_BANDS = 5


@register(
    "stats_gains_table",
    doc=f"Cumulative-gains table over {GAIN_BANDS} descending "
    "equal-width score bands: per band the doc/positive counts, the "
    "cumulative capture share of all positives, and the cumulative "
    "lift vs the base rate — lift = (cum_pos * n_total * 10^4) DIV "
    "(cum_docs * total_pos), all exact integers on the bounded band "
    "spine. The 'how deep must the filter cut?' planning readout.",
    oracle=f"""
WITH {_SQL_SCORED},
banded AS (
    SELECT {GAIN_BANDS - 1} - LEAST({GAIN_BANDS - 1},
               score_bp * {GAIN_BANDS} // {BP}) AS band, y
    FROM scored
),
b AS (
    SELECT band, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COALESCE(SUM(y), 0) AS BIGINT) AS n_pos
    FROM banded GROUP BY 1
),
cum AS (
    SELECT band, n_docs, n_pos,
           CAST(SUM(n_docs) OVER wb AS BIGINT) AS cum_docs,
           CAST(SUM(n_pos) OVER wb AS BIGINT) AS cum_pos
    FROM b
    WINDOW wb AS (ORDER BY band ROWS BETWEEN UNBOUNDED PRECEDING
                  AND CURRENT ROW)
),
tot AS (
    SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total,
           CAST(SUM(n_pos) AS BIGINT) AS total_pos
    FROM b
)
SELECT c.band, c.n_docs, c.n_pos,
       CAST(CASE WHEN t.total_pos = 0 THEN 0
                 ELSE (c.cum_pos * {BP}) // t.total_pos END AS BIGINT)
           AS cum_capture_bp,
       CAST(CASE WHEN c.cum_docs * t.total_pos = 0 THEN 0
                 ELSE (c.cum_pos * t.n_total * {BP})
                      // (c.cum_docs * t.total_pos) END AS BIGINT)
           AS cum_lift_bp
FROM cum c, tot t
ORDER BY c.band
""",
)
def stats_gains_table(spark, sf_dir):
    sc = _scored(spark, sf_dir)
    banded = sc.select(
        (
            F.lit(GAIN_BANDS - 1)
            - F.least(
                F.lit(GAIN_BANDS - 1),
                F.expr(f"score_bp * {GAIN_BANDS} DIV {BP}"),
            )
        ).alias("band"),
        "y",
    )
    b = banded.groupBy("band").agg(
        bigint(F.count(F.lit(1))).alias("n_docs"),
        bigint(F.coalesce(F.sum("y"), F.lit(0))).alias("n_pos"),
    )
    wb = Window.orderBy("band").rowsBetween(Window.unboundedPreceding, 0)
    cum = b.select(
        "band",
        "n_docs",
        "n_pos",
        F.sum("n_docs").over(wb).cast("long").alias("cum_docs"),
        F.sum("n_pos").over(wb).cast("long").alias("cum_pos"),
    )
    tot = b.agg(
        bigint(F.sum("n_docs")).alias("n_total"),
        bigint(F.sum("n_pos")).alias("total_pos"),
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            "band",
            "n_docs",
            "n_pos",
            F.expr(
                f"CAST(CASE WHEN total_pos = 0 THEN 0"
                f" ELSE (cum_pos * {BP}) DIV total_pos END AS BIGINT)"
            ).alias("cum_capture_bp"),
            F.expr(
                f"CAST(CASE WHEN cum_docs * total_pos = 0 THEN 0"
                f" ELSE (cum_pos * n_total * {BP})"
                f" DIV (cum_docs * total_pos) END AS BIGINT)"
            ).alias("cum_lift_bp"),
        )
        .orderBy("band")
    )
