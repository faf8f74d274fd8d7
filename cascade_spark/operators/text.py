"""Text-analysis operators over ``documents`` (north-star surface).

Language ID (stopword-hit heuristic), quality scoring, token counting
(whitespace + regex "BPE-ish" word/punct split), and document
fingerprinting (normalization + md5 content address). All pure SQL
built-ins — at 100 TB these are single-pass map-only jobs (no shuffle
except the final small aggregations), which is exactly what a corpus
filtering pipeline needs.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cascade_spark.plans.registry import register
from cascade_spark.operators._util import barrier, t, widen

# Tiny per-language marker lexicons for the n-gram/stopword heuristic.
LANG_MARKERS = {
    "en": ["the", "a", "of", "and", "to"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "es": ["el", "los", "las", "y", "es"],
}
STOPWORDS = sorted({w for ws in LANG_MARKERS.values() for w in ws})


def _sql_array(words: list[str]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


def _sql_hits(lang: str) -> str:
    lst = _sql_array(LANG_MARKERS[lang])
    return f"LEN(LIST_FILTER(STRING_SPLIT(text, ' '), w -> LIST_CONTAINS({lst}, w)))"


@register(
    "text_token_count",
    doc="Token counting: whitespace tokens vs regex word/punct tokens "
    "(the BPE-ish pre-tokenizer split) + chars-per-token ratio.",
    oracle="""
SELECT doc_id,
       CAST(LEN(STRING_SPLIT_REGEX(TRIM(text), '\\s+')) AS BIGINT) AS ws_tokens,
       CAST(LEN(REGEXP_EXTRACT_ALL(text, '[a-z0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS re_tokens,
       ROUND(CAST(LENGTH(text) AS DOUBLE)
             / LEN(STRING_SPLIT_REGEX(TRIM(text), '\\s+')), 4) AS chars_per_token
FROM documents
ORDER BY doc_id
""",
)
def text_token_count(spark, sf_dir):
    d = widen(t(spark, sf_dir, "documents"))
    ws = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    re_tok = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[a-z0-9]+|[^a-z0-9\s]"), 0))
    return d.select(
        "doc_id",
        ws.cast("long").alias("ws_tokens"),
        re_tok.cast("long").alias("re_tokens"),
        F.round(F.length("text").cast("double") / ws, 4).alias("chars_per_token"),
    ).orderBy("doc_id")


@register(
    "text_quality",
    doc="Quality scoring: length, alpha/space/punct ratios, stopword "
    "ratio, distinct-word ratio — the standard corpus-filter features "
    "(ratios are exact int/int double divisions, identical both engines).",
    oracle=f"""
WITH feats AS (
    SELECT doc_id,
           LENGTH(text) AS n_chars_m,
           LEN(STRING_SPLIT(text, ' ')) AS n_words,
           LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS n_distinct,
           LENGTH(REGEXP_REPLACE(text, '[^a-z]', '', 'g')) AS n_alpha,
           LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                           w -> LIST_CONTAINS({_sql_array(STOPWORDS)}, w))) AS n_stop
    FROM documents
)
SELECT doc_id,
       CAST(n_chars_m AS BIGINT) AS n_chars_measured,
       CAST(n_words AS BIGINT) AS n_words,
       ROUND(CAST(n_alpha AS DOUBLE) / n_chars_m, 4) AS alpha_ratio,
       ROUND(CAST(n_stop AS DOUBLE) / n_words, 4) AS stopword_ratio,
       ROUND(CAST(n_distinct AS DOUBLE) / n_words, 4) AS distinct_ratio
FROM feats
ORDER BY doc_id
""",
)
def text_quality(spark, sf_dir):
    d = widen(t(spark, sf_dir, "documents"))
    words = F.split(F.col("text"), " ")
    stop_arr = F.array([F.lit(w) for w in STOPWORDS])
    n_chars = F.length("text")
    n_words = F.size(words)
    feats = d.select(
        "doc_id",
        n_chars.alias("n_chars_m"),
        n_words.alias("n_words_i"),
        F.size(F.array_distinct(words)).alias("n_distinct"),
        F.length(F.regexp_replace("text", "[^a-z]", "")).alias("n_alpha"),
        F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w))).alias("n_stop"),
    )
    return feats.select(
        "doc_id",
        F.col("n_chars_m").cast("long").alias("n_chars_measured"),
        F.col("n_words_i").cast("long").alias("n_words"),
        F.round(F.col("n_alpha").cast("double") / F.col("n_chars_m"), 4).alias("alpha_ratio"),
        F.round(F.col("n_stop").cast("double") / F.col("n_words_i"), 4).alias("stopword_ratio"),
        F.round(F.col("n_distinct").cast("double") / F.col("n_words_i"), 4).alias("distinct_ratio"),
    ).orderBy("doc_id")


@register(
    "text_lang_id",
    doc="Language ID: per-language marker-word hit counts, argmax with "
    "deterministic tie order (en > de > fr > es > unknown), compared "
    "against the labeled lang column.",
    oracle=f"""
WITH hits AS (
    SELECT doc_id, lang,
           {_sql_hits('en')} AS h_en,
           {_sql_hits('de')} AS h_de,
           {_sql_hits('fr')} AS h_fr,
           {_sql_hits('es')} AS h_es
    FROM documents
),
pred AS (
    SELECT doc_id, lang,
           CASE
             WHEN h_en = 0 AND h_de = 0 AND h_fr = 0 AND h_es = 0 THEN 'unknown'
             WHEN h_en >= h_de AND h_en >= h_fr AND h_en >= h_es THEN 'en'
             WHEN h_de >= h_fr AND h_de >= h_es THEN 'de'
             WHEN h_fr >= h_es THEN 'fr'
             ELSE 'es'
           END AS pred_lang
    FROM hits
)
SELECT pred_lang, lang AS labeled_lang, COUNT(*) AS n
FROM pred
GROUP BY pred_lang, lang
ORDER BY pred_lang, labeled_lang
""",
)
def text_lang_id(spark, sf_dir):
    d = widen(t(spark, sf_dir, "documents"))
    words = F.split(F.col("text"), " ")

    def hits(lang):
        arr = F.array([F.lit(w) for w in LANG_MARKERS[lang]])
        return F.size(F.filter(words, lambda w: F.array_contains(arr, w)))

    h = d.select(
        "doc_id",
        "lang",
        hits("en").alias("h_en"),
        hits("de").alias("h_de"),
        hits("fr").alias("h_fr"),
        hits("es").alias("h_es"),
    )
    pred = h.withColumn(
        "pred_lang",
        F.when(
            (F.col("h_en") == 0) & (F.col("h_de") == 0) & (F.col("h_fr") == 0) & (F.col("h_es") == 0),
            "unknown",
        )
        .when(
            (F.col("h_en") >= F.col("h_de"))
            & (F.col("h_en") >= F.col("h_fr"))
            & (F.col("h_en") >= F.col("h_es")),
            "en",
        )
        .when((F.col("h_de") >= F.col("h_fr")) & (F.col("h_de") >= F.col("h_es")), "de")
        .when(F.col("h_fr") >= F.col("h_es"), "fr")
        .otherwise("es"),
    )
    return (
        pred.groupBy("pred_lang", F.col("lang").alias("labeled_lang"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("pred_lang", "labeled_lang")
    )


@register(
    "text_fingerprint",
    doc="Document fingerprinting: normalization (lowercase, strip "
    "non-alphanumerics, collapse whitespace) + md5 content address + "
    "a first-8-words locality-sketch prefix hash.",
    oracle="""
SELECT doc_id,
       MD5(TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^a-z0-9 ]', ' ', 'g'),
                               ' +', ' ', 'g'))) AS content_fp,
       MD5(ARRAY_TO_STRING(STRING_SPLIT(text, ' ')[1:8], ' ')) AS prefix_fp
FROM documents
ORDER BY doc_id
""",
)
def text_fingerprint(spark, sf_dir):
    d = widen(t(spark, sf_dir, "documents"))
    norm = F.trim(
        F.regexp_replace(F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", " "), " +", " ")
    )
    prefix = F.array_join(F.slice(F.split("text", " "), 1, 8), " ")
    return d.select(
        "doc_id",
        F.md5(norm).alias("content_fp"),
        F.md5(prefix).alias("prefix_fp"),
    ).orderBy("doc_id")


@register(
    "text_seqlen_histogram",
    doc="Sequence-length distribution for packing/batching planning: "
    "docs bucketed by whitespace token count (bucket width 16), with "
    "doc/token totals per bucket and a running cumulative doc count. "
    "Map-only projection + combinable groupBy; the cumulative window "
    "runs over the ~dozen aggregated bucket rows, not the corpus.",
    oracle="""
WITH toks AS (
    SELECT LEN(STRING_SPLIT(text, ' ')) AS n_tokens FROM documents
),
hist AS (
    SELECT CAST(n_tokens // 16 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
           CAST(MAX(n_tokens) AS BIGINT) AS max_tokens
    FROM toks GROUP BY 1
)
SELECT bucket, n_docs, total_tokens, min_tokens, max_tokens,
       CAST(SUM(n_docs) OVER (ORDER BY bucket) AS BIGINT) AS cum_docs
FROM hist
ORDER BY bucket
""",
)
def text_seqlen_histogram(spark, sf_dir):
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " "))
    hist = (
        d.select(n_tokens.alias("n_tokens"))
        .groupBy((F.col("n_tokens") / 16).cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.min("n_tokens").cast("long").alias("min_tokens"),
            F.max("n_tokens").cast("long").alias("max_tokens"),
        )
    )
    win = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return hist.select(
        "bucket",
        "n_docs",
        "total_tokens",
        "min_tokens",
        "max_tokens",
        F.sum("n_docs").over(win).cast("long").alias("cum_docs"),
    ).orderBy("bucket")


@register(
    "text_bigram_lm_topk",
    doc="n-gram LM statistics: for each head word, the top-3 following "
    "words by corpus bigram count (ties broken lexically) plus the "
    "head's total continuation mass — the count table behind bigram "
    "LM / tokenizer-fertility analysis. One corpus-token-linear "
    "groupBy, then a rank window over the (small) distinct-bigram "
    "table — never over raw tokens.",
    oracle="""
WITH g AS (
    SELECT w[i] AS w1, w[i+1] AS w2
    FROM (SELECT STRING_SPLIT(text, ' ') AS w FROM documents),
         LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(w) - 1)) AS i)
),
c AS (SELECT w1, w2, COUNT(*) AS cnt FROM g GROUP BY w1, w2),
tot AS (SELECT w1, SUM(cnt) AS head_total FROM c GROUP BY w1),
ranked AS (
    SELECT c.w1, c.w2, c.cnt,
           ROW_NUMBER() OVER (PARTITION BY c.w1 ORDER BY c.cnt DESC, c.w2) AS rnk
    FROM c
)
SELECT r.w1, r.w2, r.cnt, CAST(r.rnk AS BIGINT) AS rnk,
       CAST(t.head_total AS BIGINT) AS head_total
FROM ranked r JOIN tot t ON t.w1 = r.w1
WHERE r.rnk <= 3
ORDER BY r.w1, r.rnk
""",
)
def text_bigram_lm_topk(spark, sf_dir):
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    w = widen(d).select(F.posexplode(F.split("text", " ")).alias("p", "w1"), "doc_id")
    win_doc = Window.partitionBy("doc_id").orderBy("p")
    g = (
        w.select("w1", F.lead("w1", 1).over(win_doc).alias("w2"))
        .filter(F.col("w2").isNotNull())
    )
    c = g.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cnt"))
    # head_total via a whole-partition frame on the SAME w1 window the
    # rank uses — one shuffle serves both; no aggregate+self-join branch
    rnk_win = Window.partitionBy("w1").orderBy(F.col("cnt").desc(), "w2")
    all_rows = rnk_win.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        c.select(
            "w1",
            "w2",
            "cnt",
            F.row_number().over(rnk_win).cast("long").alias("rnk"),
            F.sum("cnt").over(all_rows).cast("long").alias("head_total"),
        )
        .filter(F.col("rnk") <= 3)
        .orderBy("w1", "rnk")
    )


@register(
    "text_type_token_ratio",
    doc="Lexical diversity (type-token ratio) per document — a standard "
    "quality signal (low TTR = boilerplate/repetition). Integer counts, "
    "ratio rounded at the final projection; map-only + one doc_id agg.",
    oracle="""
WITH tok AS (
    SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents
),
tt AS (
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           COUNT(DISTINCT w) AS n_types
    FROM tok WHERE w <> '' GROUP BY doc_id
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_types AS BIGINT) AS n_types,
       ROUND(CAST(n_types AS DOUBLE) / n_tokens, 4) AS ttr
FROM tt
ORDER BY doc_id
""",
)
def text_type_token_ratio(spark, sf_dir):
    d = widen(t(spark, sf_dir, "documents"))
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("w")).filter(
        F.col("w") != ""
    )
    return (
        tok.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.countDistinct("w").cast("long").alias("n_types"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_types",
            F.round(F.col("n_types").cast("double") / F.col("n_tokens"), 4).alias("ttr"),
        )
        .orderBy("doc_id")
    )


# Vocabulary size for the OOV-rate query. Deterministic tie-break
# (count DESC, word ASC) so both engines select the identical top-K set.
OOV_VOCAB_K = 1000


@register(
    "text_oov_rate",
    doc="Out-of-vocabulary rate per language against the corpus top-1k "
    "word vocabulary — the 'how much of this slice does a fixed "
    "tokenizer vocabulary cover' audit. Scale: vocab is a top-k "
    "(TakeOrdered, distributed) then BROADCAST left-anti against the "
    "token stream — no shuffle of the corpus tokens; ratios are "
    "bigint/bigint at the final projection.",
    oracle=f"""
WITH tok AS (
    SELECT doc_id, lang, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents
),
tok2 AS (SELECT * FROM tok WHERE w <> ''),
vocab AS (
    SELECT w FROM tok2 GROUP BY w
    ORDER BY COUNT(*) DESC, w LIMIT {OOV_VOCAB_K}
),
per AS (
    SELECT lang,
           COUNT(*) AS n_tokens,
           SUM(CASE WHEN w IN (SELECT w FROM vocab) THEN 0 ELSE 1 END) AS n_oov
    FROM tok2 GROUP BY lang
)
SELECT lang, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_oov AS BIGINT) AS n_oov,
       ROUND(CAST(n_oov AS DOUBLE) / n_tokens, 4) AS oov_rate
FROM per ORDER BY lang
""",
)
def text_oov_rate(spark, sf_dir):
    d = widen(t(spark, sf_dir, "documents"))
    tok = d.select("lang", F.explode(F.split("text", " ")).alias("w")).filter(
        F.col("w") != ""
    )
    vocab = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "w")
        .limit(OOV_VOCAB_K)
        .select("w")
    )
    flagged = tok.join(
        F.broadcast(vocab.withColumn("_in_vocab", F.lit(1))), "w", "left_outer"
    )
    return (
        flagged.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("_in_vocab").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
        )
        .select(
            "lang",
            "n_tokens",
            "n_oov",
            F.round(F.col("n_oov").cast("double") / F.col("n_tokens"), 4).alias("oov_rate"),
        )
        .orderBy("lang")
    )


# --- round-6 additions -------------------------------------------------------


@register(
    "text_vocab_coverage_curve",
    doc="Vocabulary coverage curve: what share of all corpus tokens the "
    "top-k vocabulary covers, at k in (1, 3, 10, 100) — the tokenizer-"
    "sizing question (how big a vocab before the tail stops paying). "
    "Rank is (count DESC, token ASC) deterministic; coverage reported "
    "in floor basis points from exact integer counts. Scale shape: one "
    "explode+agg for counts, a LIMIT-k sort pushdown (TakeOrderedAndProject,"
    " never a global sort), and the ranking window runs over the k<=100-"
    "row candidate frame only, so no single-task stage ever sees data "
    "proportional to the corpus.",
    oracle="""
WITH tok AS (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents),
cnt AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY w),
tot AS (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS total,
               CAST(COUNT(*) AS BIGINT) AS vocab
        FROM cnt),
rk AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS r FROM cnt)
SELECT CAST(ks.k AS BIGINT) AS k,
       CAST(COALESCE(SUM(CASE WHEN rk.r <= ks.k THEN rk.c END), 0) AS BIGINT)
           AS covered_tokens,
       tot.total AS total_tokens,
       tot.vocab AS vocab_size,
       CAST(COALESCE((10000 * SUM(CASE WHEN rk.r <= ks.k THEN rk.c END))
                     // NULLIF(tot.total, 0), 0) AS BIGINT) AS coverage_bp
FROM (VALUES (1), (3), (10), (100)) ks(k)
CROSS JOIN tot
LEFT JOIN rk ON TRUE
GROUP BY ks.k, tot.total, tot.vocab
ORDER BY k
""",
)
def text_vocab_coverage_curve(spark, sf_dir):
    from pyspark.sql import Window

    from cascade_spark.operators._util import _intdiv

    d = t(spark, sf_dir, "documents")
    cnt = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    tot = cnt.agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
    )
    # candidate frame is <= 100 rows after the TakeOrdered pushdown, so the
    # unpartitioned ranking window is a constant-size stage at any SF
    top = cnt.orderBy(F.desc("c"), "w").limit(100)
    rk = top.withColumn(
        "r", F.row_number().over(Window.orderBy(F.desc("c"), "w"))
    )
    ks = spark.createDataFrame([(1,), (3,), (10,), (100,)], "k long")
    covered = (
        ks.crossJoin(rk)
        .groupBy("k")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("r") <= F.col("k"), F.col("c"))), F.lit(0)
            )
            .cast("long")
            .alias("covered_tokens")
        )
    )
    # empty-corpus shape: ks LEFT JOIN keeps one row per k with covered=0
    return (
        ks.join(covered, "k", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "k",
            F.coalesce("covered_tokens", F.lit(0)).cast("long").alias("covered_tokens"),
            F.col("total").alias("total_tokens"),
            F.col("vocab").alias("vocab_size"),
            F.when(
                F.col("total") > 0,
                _intdiv(
                    F.lit(10000) * F.coalesce("covered_tokens", F.lit(0)),
                    F.col("total"),
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("coverage_bp"),
        )
        .orderBy("k")
    )


@register(
    "text_tfidf_exact_topk",
    doc="Exact-arithmetic TF-IDF top-3 terms per document — the hash-"
    "checkable twin of text_tfidf_mllib (which is rows-only because "
    "MLlib hashes features): idf is kept as the rational N/df and the "
    "score reported as floor(10000 * tf * N / df) in exact integers, "
    "rank deterministic by (score DESC, term ASC). Scale shape: "
    "explode -> (doc, term) counts -> term df join on the term key "
    "(AQE decides broadcast; the df side grows with corpus vocab so "
    "it is never force-hinted), one per-doc ranking window.",
    oracle="""
WITH tok AS (
    SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents
),
tf AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
       FROM tok GROUP BY doc_id, w),
df AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY w),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
scored AS (
    SELECT tf.doc_id, tf.w AS term, tf.tf, df.df,
           CAST((10000 * tf.tf * n.n) // df.df AS BIGINT) AS score_bp
    FROM tf JOIN df ON df.w = tf.w, n
),
rk AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                 ORDER BY score_bp DESC, term) AS rank
    FROM scored
)
SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tf, df, score_bp
FROM rk WHERE rank <= 3
ORDER BY doc_id, rank
""",
)
def text_tfidf_exact_topk(spark, sf_dir):
    from pyspark.sql import Window

    from cascade_spark.operators._util import _intdiv

    d = t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    tf = tok.groupBy("doc_id", "w").agg(F.count(F.lit(1)).cast("long").alias("tf"))
    df = tf.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("df"))
    n = d.agg(F.count(F.lit(1)).cast("long").alias("n"))
    scored = (
        tf.join(df, "w")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            F.col("w").alias("term"),
            "tf",
            "df",
            _intdiv(F.lit(10000) * F.col("tf") * F.col("n"), F.col("df"))
            .cast("long")
            .alias("score_bp"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score_bp"), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "rank", "term", "tf", "df", "score_bp")
        .orderBy("doc_id", "rank")
    )


@register(
    "text_char_ngram_profile",
    doc="Per-language character-bigram profile — the TRAINING side of "
    "the n-gram lang-ID family (text_lang_id is the scoring side): "
    "top-5 bigrams per language by corpus frequency, with floor-bp "
    "share of that language's bigram mass. Bigrams are generated "
    "JVM-side (transform over a position sequence — no Python, no "
    "per-row loop); the count is one map-side-combinable groupBy on "
    "(lang, bigram) and the top-5 is a per-lang window over the "
    "already-aggregated (small) frame, never over raw bigrams.",
    oracle="""
WITH grams AS (
    SELECT lang, SUBSTR(text, i, 2) AS bg
    FROM documents,
         LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(text) - 1)) AS i)
),
counts AS (
    SELECT lang, bg, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM grams GROUP BY 1, 2
),
tot AS (
    SELECT lang, SUM(cnt) AS total FROM counts GROUP BY 1
),
ranked AS (
    SELECT c.lang, c.bg, c.cnt,
           CAST(c.cnt * 10000 // t.total AS BIGINT) AS share_bp,
           ROW_NUMBER() OVER (PARTITION BY c.lang
                              ORDER BY c.cnt DESC, c.bg) AS rk
    FROM counts c JOIN tot t ON t.lang = c.lang
)
SELECT lang, bg, cnt, share_bp, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= 5
ORDER BY lang, rk
""",
)
def text_char_ngram_profile(spark, sf_dir):
    from pyspark.sql import Window

    d = widen(t(spark, sf_dir, "documents"))
    # Guard: sequence(1, 0) in Spark defaults to step -1 and yields [1, 0]
    # (spurious grams on len<2 text), while DuckDB's GENERATE_SERIES(1, 0)
    # is empty — filter short docs so both engines see the same gram set.
    grams = d.filter(F.length("text") >= 2).select(
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(1, char_length(text) - 1),"
                " i -> substring(text, i, 2))"
            )
        ).alias("bg"),
    )
    counts = grams.groupBy("lang", "bg").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    tot = Window.partitionBy("lang")
    rk = Window.partitionBy("lang").orderBy(F.desc("cnt"), "bg")
    ranked = counts.select(
        "lang",
        "bg",
        "cnt",
        F.floor(F.col("cnt") * 10000 / F.sum("cnt").over(tot))
        .cast("long")
        .alias("share_bp"),
        F.row_number().over(rk).cast("long").alias("rk"),
    )
    return ranked.filter(F.col("rk") <= 5).orderBy("lang", "rk")


FH_BUCKETS = 256


@register(
    "text_feature_hashing",
    doc="Feature hashing (the 'hashing trick'): every token maps to "
    f"bucket = md5-derived-int % {FH_BUCKETS}, giving a FIXED-width "
    "feature space with no vocabulary build, no dictionary shuffle, "
    "and no driver-side fit — the property that makes it the default "
    "featurizer at 100 TB (MLlib's HashingTF is this op; the "
    "md5-derived hash keeps it oracle-checkable where xxhash64 would "
    "not be). Top-15 buckets by occurrence mass, each with its "
    "distinct-token count — collisions made observable, since the "
    "collision rate is the accuracy cost the fixed width buys.",
    oracle=f"""
WITH tok AS (
    SELECT UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents
),
b AS (
    SELECT ('0x' || SUBSTR(MD5(w), 1, 8))::BIGINT % {FH_BUCKETS} AS bucket, w
    FROM tok WHERE w <> ''
)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       CAST(COUNT(DISTINCT w) AS BIGINT) AS n_distinct_tokens
FROM b
GROUP BY bucket
ORDER BY n_occurrences DESC, bucket
LIMIT 15
""",
)
def text_feature_hashing(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split("text", " ")).alias("w")).filter(
        F.col("w") != ""
    )
    b = tok.select(
        (
            F.conv(F.substring(F.md5("w"), 1, 8), 16, 10).cast("long")
            % FH_BUCKETS
        ).alias("bucket"),
        "w",
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.countDistinct("w").cast("long").alias("n_distinct_tokens"),
        )
        .orderBy(F.col("n_occurrences").desc(), "bucket")
        .limit(15)
    )


@register(
    "text_source_similarity_hashed",
    doc="Source-level similarity matrix from hashed features: each "
    f"source's documents fold into a {FH_BUCKETS}-dim hashed "
    "bag-of-words vector (text_feature_hashing's fixed-width space — "
    "no vocabulary build), then every source pair gets an exact "
    "integer cosine in truncated bp (bucket-aligned join for the "
    "dot, isqrt norms). This is the corpus-mixture diagnostic run "
    "before weighting sources (near-duplicate sources waste mixture "
    "budget); at 100 TB the per-source vector is a 256-row aggregate "
    "regardless of corpus size, so the pair matrix costs "
    "|sources|^2 * 256, independent of document count. Top-15 pairs.",
    oracle=f"""
WITH tok AS (
    SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents
),
b AS (
    SELECT source,
           ('0x' || SUBSTR(MD5(w), 1, 8))::BIGINT % {FH_BUCKETS} AS bucket,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM tok WHERE w <> ''
    GROUP BY 1, 2
),
norms AS (
    SELECT source, CAST(SUM(cnt * cnt) AS BIGINT) AS n2 FROM b GROUP BY source
),
dots AS (
    SELECT a.source AS src_a, c.source AS src_b,
           CAST(SUM(a.cnt * c.cnt) AS BIGINT) AS dot
    FROM b a JOIN b c ON a.bucket = c.bucket AND a.source < c.source
    GROUP BY 1, 2
)
SELECT d.src_a, d.src_b,
       CAST(d.dot * 10000 //
            (CASE WHEN (CAST(FLOOR(SQRT(CAST(na.n2 * nb.n2 AS DOUBLE))) AS BIGINT) + 1)
                       * (CAST(FLOOR(SQRT(CAST(na.n2 * nb.n2 AS DOUBLE))) AS BIGINT) + 1)
                       <= na.n2 * nb.n2
                  THEN CAST(FLOOR(SQRT(CAST(na.n2 * nb.n2 AS DOUBLE))) AS BIGINT) + 1
                  WHEN CAST(FLOOR(SQRT(CAST(na.n2 * nb.n2 AS DOUBLE))) AS BIGINT)
                       * CAST(FLOOR(SQRT(CAST(na.n2 * nb.n2 AS DOUBLE))) AS BIGINT)
                       > na.n2 * nb.n2
                  THEN CAST(FLOOR(SQRT(CAST(na.n2 * nb.n2 AS DOUBLE))) AS BIGINT) - 1
                  ELSE CAST(FLOOR(SQRT(CAST(na.n2 * nb.n2 AS DOUBLE))) AS BIGINT)
             END) AS BIGINT) AS cos_bp
FROM dots d
JOIN norms na ON na.source = d.src_a
JOIN norms nb ON nb.source = d.src_b
ORDER BY cos_bp DESC, d.src_a, d.src_b
LIMIT 15
""",
)
def text_source_similarity_hashed(spark, sf_dir):
    from cascade_spark.operators.analytics_extra import _isqrt

    d = t(spark, sf_dir, "documents")
    tok = d.select(
        "source", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    b = tok.groupBy(
        "source",
        (
            F.conv(F.substring(F.md5("w"), 1, 8), 16, 10).cast("long")
            % FH_BUCKETS
        ).alias("bucket"),
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    norms = b.groupBy("source").agg(
        F.sum(F.col("cnt") * F.col("cnt")).cast("long").alias("n2")
    )
    a = b.select(
        F.col("source").alias("src_a"), "bucket", F.col("cnt").alias("ca")
    )
    c = b.select(
        F.col("source").alias("src_b"), "bucket", F.col("cnt").alias("cb")
    )
    dots = (
        a.join(c, "bucket")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("long").alias("dot"))
    )
    na = norms.select(F.col("source").alias("src_a"), F.col("n2").alias("na2"))
    nb = norms.select(F.col("source").alias("src_b"), F.col("n2").alias("nb2"))
    return (
        dots.join(F.broadcast(na), "src_a")
        .join(F.broadcast(nb), "src_b")
        .select(
            "src_a",
            "src_b",
            _isqrt(F.col("na2") * F.col("nb2")).alias("_den"),
            "dot",
        )
        .select(
            "src_a",
            "src_b",
            F.expr("dot * 10000 DIV _den").cast("long").alias("cos_bp"),
        )
        .orderBy(F.col("cos_bp").desc(), "src_a", "src_b")
        .limit(15)
    )


@register(
    "text_langid_prf_audit",
    doc="Model-eval-as-data for the marker-word language classifier "
    "(text_lang_id is the confusion matrix; this is the per-class "
    "scorecard a pipeline gates on): per language — TP / FP / FN and "
    "precision / recall / F1, every rate an EXACT floor-bp rational "
    "(f1_bp = 2*tp*10^4 // (2*tp + fp + fn) — no float division "
    "anywhere). One classify pass + two tiny aggregates; at 100 TB "
    "the per-class table stays |languages|-sized.",
    oracle=f"""
WITH hits AS (
    SELECT doc_id, lang,
           {_sql_hits('en')} AS h_en,
           {_sql_hits('de')} AS h_de,
           {_sql_hits('fr')} AS h_fr,
           {_sql_hits('es')} AS h_es
    FROM documents
),
pred AS (
    SELECT doc_id, lang,
           CASE
             WHEN h_en = 0 AND h_de = 0 AND h_fr = 0 AND h_es = 0 THEN 'unknown'
             WHEN h_en >= h_de AND h_en >= h_fr AND h_en >= h_es THEN 'en'
             WHEN h_de >= h_fr AND h_de >= h_es THEN 'de'
             WHEN h_fr >= h_es THEN 'fr'
             ELSE 'es'
           END AS pred_lang
    FROM hits
),
classes AS (SELECT DISTINCT lang FROM documents),
prf AS (
    SELECT c.lang,
           CAST((SELECT COUNT(*) FROM pred p
                 WHERE p.pred_lang = c.lang AND p.lang = c.lang) AS BIGINT) AS tp,
           CAST((SELECT COUNT(*) FROM pred p
                 WHERE p.pred_lang = c.lang AND p.lang <> c.lang) AS BIGINT) AS fp,
           CAST((SELECT COUNT(*) FROM pred p
                 WHERE p.pred_lang <> c.lang AND p.lang = c.lang) AS BIGINT) AS fn
    FROM classes c
)
SELECT lang, tp, fp, fn,
       CAST(COALESCE(10000 * tp // NULLIF(tp + fp, 0), 0) AS BIGINT) AS precision_bp,
       CAST(COALESCE(10000 * tp // NULLIF(tp + fn, 0), 0) AS BIGINT) AS recall_bp,
       CAST(COALESCE(2 * 10000 * tp // NULLIF(2 * tp + fp + fn, 0), 0) AS BIGINT) AS f1_bp
FROM prf ORDER BY lang
""",
)
def text_langid_prf_audit(spark, sf_dir):
    from cascade_spark.operators._util import _intdiv

    d = widen(t(spark, sf_dir, "documents"))
    words = F.split(F.col("text"), " ")

    def hits(lang):
        arr = F.array([F.lit(w) for w in LANG_MARKERS[lang]])
        return F.size(F.filter(words, lambda w: F.array_contains(arr, w)))

    h = d.select(
        "doc_id",
        "lang",
        hits("en").alias("h_en"),
        hits("de").alias("h_de"),
        hits("fr").alias("h_fr"),
        hits("es").alias("h_es"),
    )
    pred = h.select(
        "lang",
        F.when(
            (F.col("h_en") == 0) & (F.col("h_de") == 0)
            & (F.col("h_fr") == 0) & (F.col("h_es") == 0),
            "unknown",
        )
        .when(
            (F.col("h_en") >= F.col("h_de"))
            & (F.col("h_en") >= F.col("h_fr"))
            & (F.col("h_en") >= F.col("h_es")),
            "en",
        )
        .when((F.col("h_de") >= F.col("h_fr")) & (F.col("h_de") >= F.col("h_es")), "de")
        .when(F.col("h_fr") >= F.col("h_es"), "fr")
        .otherwise("es")
        .alias("pred_lang"),
    )
    classes = d.select("lang").distinct().select(F.col("lang").alias("cls"))
    per = (
        classes.crossJoin(pred)
        .groupBy("cls")
        .agg(
            F.sum(
                F.when(
                    (F.col("pred_lang") == F.col("cls")) & (F.col("lang") == F.col("cls")), 1
                ).otherwise(0)
            ).cast("long").alias("tp"),
            F.sum(
                F.when(
                    (F.col("pred_lang") == F.col("cls")) & (F.col("lang") != F.col("cls")), 1
                ).otherwise(0)
            ).cast("long").alias("fp"),
            F.sum(
                F.when(
                    (F.col("pred_lang") != F.col("cls")) & (F.col("lang") == F.col("cls")), 1
                ).otherwise(0)
            ).cast("long").alias("fn"),
        )
    )

    def ratio(num, den):
        return F.when(den == 0, F.lit(0)).otherwise(_intdiv(num, den)).cast("long")

    return per.select(
        F.col("cls").alias("lang"),
        "tp",
        "fp",
        "fn",
        ratio(F.lit(10000) * F.col("tp"), F.col("tp") + F.col("fp")).alias("precision_bp"),
        ratio(F.lit(10000) * F.col("tp"), F.col("tp") + F.col("fn")).alias("recall_bp"),
        ratio(
            F.lit(2) * 10000 * F.col("tp"),
            F.lit(2) * F.col("tp") + F.col("fp") + F.col("fn"),
        ).alias("f1_bp"),
    ).orderBy("lang")


@register(
    "text_bigram_novelty",
    doc="Memorization/novelty audit: per doc, the share of its bigram "
    "OCCURRENCES that exist ONLY in this doc (corpus count == within-"
    "doc count — nothing elsewhere repeats them). High novelty = "
    "original text; near-zero = boilerplate or a duplicate that "
    "slipped past dedup — the cheap memorization-risk screen run "
    "before training. One corpus bigram count (map-side combinable) + "
    "one vocabulary-bounded equi-join, same plan family as "
    "text_lm_commonality; novelty in exact floor bp.",
    oracle="""
WITH g AS (
    SELECT doc_id, w[i] AS w1, w[i+1] AS w2
    FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents),
         LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(w) - 1)) AS i)
),
dc AS (
    SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS in_doc
    FROM g GROUP BY 1, 2, 3
),
c AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt FROM g GROUP BY 1, 2),
scored AS (
    SELECT dc.doc_id,
           CAST(SUM(dc.in_doc) AS BIGINT) AS n_bigrams,
           CAST(SUM(CASE WHEN c.cnt = dc.in_doc THEN dc.in_doc ELSE 0 END)
                AS BIGINT) AS n_novel
    FROM dc JOIN c ON dc.w1 = c.w1 AND dc.w2 = c.w2
    GROUP BY dc.doc_id
)
SELECT doc_id, n_bigrams, n_novel,
       CAST(10000 * n_novel // n_bigrams AS BIGINT) AS novelty_bp
FROM scored ORDER BY doc_id
""",
)
def text_bigram_novelty(spark, sf_dir):
    from pyspark.sql import Window
    from cascade_spark.operators._util import _intdiv

    d = widen(t(spark, sf_dir, "documents"))
    w = d.select("doc_id", F.posexplode(F.split("text", " ")).alias("p", "w1"))
    win_doc = Window.partitionBy("doc_id").orderBy("p")
    g = w.select(
        "doc_id", "w1", F.lead("w1", 1).over(win_doc).alias("w2")
    ).filter(F.col("w2").isNotNull())
    dc = g.groupBy("doc_id", "w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("in_doc")
    )
    c = g.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    scored = (
        dc.join(c, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum("in_doc").cast("long").alias("n_bigrams"),
            F.sum(
                F.when(F.col("cnt") == F.col("in_doc"), F.col("in_doc")).otherwise(0)
            )
            .cast("long")
            .alias("n_novel"),
        )
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        "n_novel",
        _intdiv(F.lit(10000) * F.col("n_novel"), F.col("n_bigrams")).alias(
            "novelty_bp"
        ),
    ).orderBy("doc_id")


PMI_TOPK = 15


@register(
    "text_pmi_collocations",
    doc=f"PMI collocations: top-{PMI_TOPK} word pairs by pointwise "
    "mutual information of document co-occurrence (both words in the "
    "same doc) — the classic collocation/phrase-mining score. Counts "
    "are exact integers on the pair spine (vocab is bounded, so pairs "
    "are spans); PMI = ln(N*c_xy/(c_x*c_y)) is ONE mirrored IEEE ln "
    "per surviving pair rounded to 6 dp (the rounded-ln precedent of "
    "events_feature_drift_psi / stats_g_test). Ranking is by the SAME "
    "exact integer on both engines: the micro-scaled lift "
    "(c_xy*N*10^12) // (c_x*c_y) via floor division — Spark decimal "
    "DIV, DuckDB HUGEINT // — so top-K membership never depends on "
    "either engine's float or decimal rounding mode; the float PMI is "
    "report-only.",
    oracle=f"""
WITH dw AS (SELECT DISTINCT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w
            FROM documents),
n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM dw),
wc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM dw GROUP BY w),
pairs AS (
    SELECT a.w AS w1, b.w AS w2, CAST(COUNT(*) AS BIGINT) AS c_xy
    FROM dw a JOIN dw b ON a.doc_id = b.doc_id AND a.w < b.w
    GROUP BY a.w, b.w
),
scored AS (
    SELECT p.w1, p.w2, p.c_xy, ca.c AS c_x, cb.c AS c_y,
           ROUND(LN(CAST(p.c_xy AS DOUBLE) * n.n
                 / (CAST(ca.c AS DOUBLE) * cb.c)), 6) AS pmi
    FROM pairs p JOIN wc ca ON ca.w = p.w1 JOIN wc cb ON cb.w = p.w2, n
),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (
        ORDER BY (CAST(c_xy AS HUGEINT) * (SELECT n FROM n) * 1000000000000)
                 // (CAST(c_x AS HUGEINT) * c_y) DESC,
                 w1, w2) AS rk
    FROM scored
)
SELECT w1, w2, c_xy, c_x, c_y, pmi
FROM ranked WHERE rk <= {PMI_TOPK}
ORDER BY w1, w2
""",
)
def text_pmi_collocations(spark, sf_dir):
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    # referenced 4x (the doc count action + word counts + both pair-join
    # sides): evaluate the explode + distinct once
    dw = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).distinct().transform(barrier)
    n = dw.select("doc_id").distinct().count()
    wc = dw.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("c"))
    a = dw.select(F.col("doc_id"), F.col("w").alias("w1"))
    b = dw.select(F.col("doc_id"), F.col("w").alias("w2"))
    pairs = (
        a.join(b, ["doc_id"])
        .filter(F.col("w1") < F.col("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c_xy"))
    )
    scored = (
        pairs.join(wc.select(F.col("w").alias("w1"), F.col("c").alias("c_x")), "w1")
        .join(wc.select(F.col("w").alias("w2"), F.col("c").alias("c_y")), "w2")
    )
    # exact-integer lift ranking: floor division on both engines (Spark
    # decimal DIV ≡ DuckDB HUGEINT //) — identical integers, identical
    # top-K membership; float PMI is only a report column
    lift = F.expr(
        f"(CAST(c_xy AS DECIMAL(38,0)) * {n} * 1000000000000)"
        " DIV (CAST(c_x AS DECIMAL(38,0)) * c_y)"
    )
    ranked = scored.withColumn(
        "rk",
        F.row_number().over(Window.orderBy(lift.desc(), "w1", "w2")),
    ).filter(F.col("rk") <= PMI_TOPK)
    return ranked.select(
        "w1",
        "w2",
        "c_xy",
        "c_x",
        "c_y",
        F.round(
            F.log(
                F.col("c_xy").cast("double")
                * n
                / (F.col("c_x").cast("double") * F.col("c_y"))
            ),
            6,
        ).alias("pmi"),
    ).orderBy("w1", "w2")
