"""Round-9 wave — language-model evaluation and mixture-drift
information metrics (the train/eval readouts next to
text_bigram_lm_topk's count tables and pipeline_mixture_temperature's
weight plans):

- ``text_bigram_perplexity``: held-out add-one-smoothed bigram LM
  evaluation — train on even doc_ids, score odd doc_ids with
  p(w2|w1) = (c+1)/(ctx+V); every eval token contributes
  floor(1e6 * ln((ctx+V)/(c+1))) micro-nats (one mirrored IEEE ln of
  an INTEGER ratio per distinct eval bigram, exact integer sums), so
  the corpus log-perplexity hash-checks. The de facto corpus-quality
  score behind CCNet-style filtering, with a real train/test split.
- ``pipeline_mixture_kl_uniform``: KL(realized token shares || uniform
  plan) per the declared floored-term discipline — the single-number
  "how far did the mixture drift" readout next to the per-source
  boost table.

Reference scope: declared aggregates over ``documents`` per SURVEY
§2B (north-star text/pipeline families).

Scale (100 TB): bigram counting is one corpus-token-linear combinable
groupBy; eval scoring joins DISTINCT eval bigrams (vocab-bounded, not
token-bounded) against the count tables and multiplies by their eval
multiplicity; the KL runs on the |sources|-row share table.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from cascade_spark.operators._util import barrier, bigint, t
from cascade_spark.plans.registry import register

MICRO = 1_000_000


@register(
    "text_bigram_perplexity",
    doc="Held-out bigram-LM log-perplexity with add-one smoothing: "
    "train = even doc_ids, eval = odd; p(w2|w1) = (c+1)/(ctx+V) with "
    "V = train unigram vocab; each DISTINCT eval bigram contributes "
    "its multiplicity times floor(1e6 * ln((ctx+V)/(c+1))) — one "
    "mirrored IEEE ln of an integer ratio per distinct bigram, floored "
    "before the exact integer sum (order-independent), average by "
    "truncating DIV. Unseen contexts degrade to ln(V) exactly. The "
    "corpus-quality score with a genuine train/test split.",
    oracle=f"""
WITH tok AS (
    SELECT doc_id, i, w[i] AS w1, w[i+1] AS w2
    FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents),
         LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(w) - 1)) AS i)
    WHERE w[i] <> '' AND w[i+1] <> ''
),
train_bg AS (
    SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c
    FROM tok WHERE doc_id % 2 = 0 GROUP BY 1, 2
),
ctx AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS ctx FROM train_bg GROUP BY 1),
vocab AS (
    SELECT CAST(COUNT(DISTINCT x) AS BIGINT) AS v FROM (
        SELECT w1 AS x FROM tok WHERE doc_id % 2 = 0
        UNION SELECT w2 FROM tok WHERE doc_id % 2 = 0
    )
),
eval_bg AS (
    SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS m
    FROM tok WHERE doc_id % 2 = 1 GROUP BY 1, 2
),
terms AS (
    SELECT e.m,
           e.m * CAST(FLOOR({MICRO} * LN(
               CAST(COALESCE(cx.ctx, 0) + v.v AS DOUBLE)
               / (COALESCE(tb.c, 0) + 1))) AS BIGINT) AS nll
    FROM eval_bg e
    LEFT JOIN train_bg tb ON tb.w1 = e.w1 AND tb.w2 = e.w2
    LEFT JOIN ctx cx ON cx.w1 = e.w1
    CROSS JOIN vocab v
)
SELECT (SELECT v FROM vocab) AS v_train,
       CAST((SELECT COALESCE(SUM(c), 0) FROM train_bg) AS BIGINT)
           AS n_train_bigrams,
       CAST(COALESCE(SUM(m), 0) AS BIGINT) AS n_eval_bigrams,
       CAST(COALESCE(SUM(nll), 0) AS BIGINT) AS total_nll_micro,
       CAST(CASE WHEN COALESCE(SUM(m), 0) = 0 THEN 0
                 ELSE COALESCE(SUM(nll), 0) // SUM(m) END AS BIGINT)
           AS avg_nll_micro
FROM terms
""",
)
def text_bigram_perplexity(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    # bigrams generated MAP-SIDE (zip_with over two array slices — the
    # _bigram_doc_scores / _word_ngrams precedent): same consecutive
    # (w1, w2) multiset as the old posexplode + per-doc lead() window,
    # with no shuffle of the token stream. The barrier below covers the
    # TRAIN-side branches only (ctx/vocab/eval join read train_bg once);
    # the eval_ branch still runs the split/zip_with explode one more
    # time — acceptable because it scans half the docs map-side with no
    # shuffle (r12 ADVICE item 2 wording fix)
    ws = F.split("text", " ", -1)
    tok = d.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice(ws, F.lit(1), F.size(ws) - 1),
                F.slice(ws, F.lit(2), F.size(ws) - 1),
                lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
            )
        ).alias("bg"),
    ).select("doc_id", "bg.w1", "bg.w2").filter(
        (F.col("w1") != "") & (F.col("w2") != "")
    )
    train = tok.filter(F.col("doc_id") % 2 == 0)
    eval_ = tok.filter(F.col("doc_id") % 2 == 1)
    train_bg = train.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    # referenced 3x (context sums, vocab, the eval join) — and the
    # distinct-pair frame is a far smaller vocab input than the
    # occurrence stream (identical w1-union-w2 domain)
    ).transform(barrier)
    ctx = train_bg.groupBy("w1").agg(F.sum("c").cast("long").alias("ctx"))
    vocab = (
        train_bg.select(F.col("w1").alias("x"))
        .unionByName(train_bg.select(F.col("w2").alias("x")))
        .distinct()
        .agg(bigint(F.count(F.lit(1))).alias("v"))
    )
    eval_bg = eval_.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("m")
    )
    terms = (
        eval_bg.join(train_bg, ["w1", "w2"], "left")
        .join(ctx, "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "m",
            (
                F.col("m")
                * F.floor(
                    F.lit(float(MICRO))
                    * F.log(
                        (
                            F.coalesce(F.col("ctx"), F.lit(0)) + F.col("v")
                        ).cast("double")
                        / (F.coalesce(F.col("c"), F.lit(0)) + 1)
                    )
                ).cast("long")
            ).alias("nll"),
        )
    )
    n_train = train_bg.agg(
        bigint(F.coalesce(F.sum("c"), F.lit(0))).alias("n_train_bigrams")
    )
    return (
        terms.agg(
            bigint(F.coalesce(F.sum("m"), F.lit(0))).alias("n_eval_bigrams"),
            bigint(F.coalesce(F.sum("nll"), F.lit(0))).alias(
                "total_nll_micro"
            ),
        )
        .crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(n_train))
        .select(
            F.col("v").alias("v_train"),
            "n_train_bigrams",
            "n_eval_bigrams",
            "total_nll_micro",
            F.expr(
                "CAST(CASE WHEN n_eval_bigrams = 0 THEN 0"
                " ELSE total_nll_micro DIV n_eval_bigrams END AS BIGINT)"
            ).alias("avg_nll_micro"),
        )
    )


@register(
    "pipeline_mixture_kl_uniform",
    doc="Mixture drift as one number: KL(realized whitespace-token "
    "shares || the uniform plan) = sum p_i * ln(p_i * k) over the k "
    "sources — each term cleared to t_i * floor(1e6 * ln(t_i * k / T)) "
    "(mirrored IEEE ln of an integer ratio, floored, exact integer "
    "sum, final truncating DIV T) with negative terms kept (sources "
    "below plan subtract) — the drift scalar next to the per-source "
    "boost table. Runs on the |sources|-row share spine.",
    oracle=f"""
WITH n AS (
    SELECT source, CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS tok
    FROM documents GROUP BY source
),
tot AS (SELECT CAST(COALESCE(SUM(tok), 0) AS BIGINT) AS tt,
               CAST(COUNT(*) AS BIGINT) AS k FROM n),
terms AS (
    SELECT n.tok,
           n.tok * CAST(FLOOR({MICRO} * LN(
               CAST(n.tok * t.k AS DOUBLE) / t.tt)) AS BIGINT) AS term
    FROM n, tot t WHERE n.tok > 0
)
SELECT (SELECT k FROM tot) AS n_sources,
       (SELECT tt FROM tot) AS total_tokens,
       CAST(CASE WHEN (SELECT tt FROM tot) = 0 THEN 0
                 ELSE COALESCE(SUM(term), 0) // (SELECT tt FROM tot)
            END AS BIGINT) AS kl_uniform_micro
FROM terms
""",
)
def pipeline_mixture_kl_uniform(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    n = d.groupBy("source").agg(
        F.sum(F.size(F.split(F.col("text"), " ", -1)))
        .cast("long")
        .alias("tok")
    )
    tot = n.agg(
        bigint(F.coalesce(F.sum("tok"), F.lit(0))).alias("tt"),
        bigint(F.count(F.lit(1))).alias("k"),
    )
    terms = (
        n.crossJoin(F.broadcast(tot))
        .filter(F.col("tok") > 0)
        .select(
            "tok",
            "tt",
            "k",
            (
                F.col("tok")
                * F.floor(
                    F.lit(float(MICRO))
                    * F.log(
                        (F.col("tok") * F.col("k")).cast("double")
                        / F.col("tt")
                    )
                ).cast("long")
            ).alias("term"),
        )
    )
    s = terms.agg(
        bigint(F.coalesce(F.sum("term"), F.lit(0))).alias("sterm")
    )
    return tot.crossJoin(F.broadcast(s)).select(
        F.col("k").alias("n_sources"),
        F.col("tt").alias("total_tokens"),
        F.expr(
            "CAST(CASE WHEN tt = 0 THEN 0 ELSE sterm DIV tt END AS BIGINT)"
        ).alias("kl_uniform_micro"),
    )
