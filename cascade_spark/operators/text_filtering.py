"""Corpus filtering operators — the rule-based quality gates an LLM
training-data pipeline runs before dedup (Gopher/C4-style heuristics),
plus repetition detection and a corpus-level Zipf profile.

All pure built-ins. The per-doc filters are map-only (no shuffle — they
pipeline into whatever sink follows); the word-frequency ops shuffle on
(doc_id) / (word) with map-side partial counts, the same plan shape at
100 TB where the vocabulary aggregate is tiny next to the scan.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from cascade_spark import store
from cascade_spark.plans.registry import register
from cascade_spark.operators._util import barrier, bigint, sql_avg_round, t, widen
from cascade_spark.operators.text import STOPWORDS, _sql_array

MIN_WORDS, MAX_WORDS = 40, 10_000
MIN_MWL, MAX_MWL = 3.0, 10.0
MIN_DISTINCT = 0.35


@register(
    "text_gopher_quality_filter",
    doc="Gopher-style rule filter: word-count bounds, mean-word-length "
    "bounds, stopword presence, distinct-word ratio — per-doc pass/fail "
    "with per-rule flags (map-only; no shuffle).",
    oracle=f"""
WITH feats AS (
    SELECT doc_id,
           LEN(STRING_SPLIT(text, ' ')) AS n_words,
           CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
             / LEN(STRING_SPLIT(text, ' ')) AS mwl,
           LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                           w -> LIST_CONTAINS({_sql_array(STOPWORDS)}, w))) AS n_stop,
           CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS DOUBLE)
             / LEN(STRING_SPLIT(text, ' ')) AS distinct_ratio
    FROM documents
)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       ROUND(mwl, 4) AS mean_word_len,
       CAST(CASE WHEN n_words BETWEEN {MIN_WORDS} AND {MAX_WORDS} THEN 1 ELSE 0 END AS BIGINT) AS ok_length,
       CAST(CASE WHEN mwl BETWEEN {MIN_MWL} AND {MAX_MWL} THEN 1 ELSE 0 END AS BIGINT) AS ok_word_len,
       CAST(CASE WHEN n_stop > 0 THEN 1 ELSE 0 END AS BIGINT) AS ok_stopwords,
       CAST(CASE WHEN distinct_ratio >= {MIN_DISTINCT} THEN 1 ELSE 0 END AS BIGINT) AS ok_distinct,
       CAST(CASE WHEN n_words BETWEEN {MIN_WORDS} AND {MAX_WORDS}
                  AND mwl BETWEEN {MIN_MWL} AND {MAX_MWL}
                  AND n_stop > 0 AND distinct_ratio >= {MIN_DISTINCT}
            THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM feats
ORDER BY doc_id
""",
)
def text_gopher_quality_filter(spark, sf_dir):
    d = widen(t(spark, sf_dir, "documents"))
    words = F.split(F.col("text"), " ")
    stop_arr = F.array([F.lit(w) for w in STOPWORDS])
    n_words = F.size(words)
    mwl = F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double") / n_words
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w)))
    distinct_ratio = F.size(F.array_distinct(words)).cast("double") / n_words
    feats = d.select(
        "doc_id",
        n_words.alias("n_words_i"),
        mwl.alias("mwl"),
        n_stop.alias("n_stop"),
        distinct_ratio.alias("dr"),
    )
    ok_length = F.col("n_words_i").between(MIN_WORDS, MAX_WORDS)
    ok_word_len = F.col("mwl").between(MIN_MWL, MAX_MWL)
    ok_stop = F.col("n_stop") > 0
    ok_distinct = F.col("dr") >= MIN_DISTINCT
    flag = lambda c: bigint(F.when(c, 1).otherwise(0))  # noqa: E731
    return feats.select(
        "doc_id",
        bigint(F.col("n_words_i")).alias("n_words"),
        F.round("mwl", 4).alias("mean_word_len"),
        flag(ok_length).alias("ok_length"),
        flag(ok_word_len).alias("ok_word_len"),
        flag(ok_stop).alias("ok_stopwords"),
        flag(ok_distinct).alias("ok_distinct"),
        flag(ok_length & ok_word_len & ok_stop & ok_distinct).alias("keep"),
    ).orderBy("doc_id")


@register(
    "text_top_word_ratio",
    doc="Repetition detection: each doc's most frequent word and its "
    "frequency ratio (high ratio = degenerate/boilerplate text). "
    "Explode → per-(doc,word) count → argmax with lexicographic "
    "tie-break; both shuffles key on doc_id with map-side combine.",
    oracle="""
WITH words AS (
    SELECT doc_id, w
    FROM documents, UNNEST(STRING_SPLIT(text, ' ')) AS u(w)
),
cnt AS (
    SELECT doc_id, w, COUNT(*) AS c FROM words GROUP BY doc_id, w
),
mx AS (
    SELECT doc_id, MAX(c) AS max_c, SUM(c) AS n_words
    FROM cnt GROUP BY doc_id
)
SELECT m.doc_id,
       MIN(c.w) AS top_word,
       CAST(m.max_c AS BIGINT) AS top_count,
       ROUND(CAST(m.max_c AS DOUBLE) / m.n_words, 4) AS top_ratio
FROM mx m JOIN cnt c ON c.doc_id = m.doc_id AND c.c = m.max_c
GROUP BY m.doc_id, m.max_c, m.n_words
ORDER BY m.doc_id
""",
)
def text_top_word_ratio(spark, sf_dir):
    d = widen(t(spark, sf_dir, "documents"))
    words = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    cnt = words.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    mx = cnt.groupBy(F.col("doc_id").alias("m_doc_id")).agg(
        F.max("c").alias("max_c"), F.sum("c").alias("n_words")
    )
    return (
        mx.join(cnt, (F.col("m_doc_id") == F.col("doc_id")) & (F.col("c") == F.col("max_c")))
        .groupBy("doc_id", "max_c", "n_words")
        .agg(F.min("w").alias("top_word"))
        .select(
            "doc_id",
            "top_word",
            bigint(F.col("max_c")).alias("top_count"),
            F.round(F.col("max_c").cast("double") / F.col("n_words"), 4).alias("top_ratio"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_zipf_topwords",
    doc="Corpus vocabulary profile: top-20 words by total frequency "
    "with dense rank (count desc, word asc tie-break). The vocabulary "
    "aggregate is tiny relative to the scan; top-k goes through "
    "TakeOrderedAndProject, not a global sort.",
    oracle="""
WITH words AS (
    SELECT w FROM documents, UNNEST(STRING_SPLIT(text, ' ')) AS u(w)
),
cnt AS (SELECT w, COUNT(*) AS c FROM words GROUP BY w)
SELECT w AS word, CAST(c AS BIGINT) AS freq,
       CAST(ROW_NUMBER() OVER (ORDER BY c DESC, w) AS BIGINT) AS rank
FROM cnt
ORDER BY rank
LIMIT 20
""",
)
def text_zipf_topwords(spark, sf_dir):
    d = widen(t(spark, sf_dir, "documents"))
    cnt = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # Top-k first (TakeOrderedAndProject over the tiny vocabulary agg),
    # then rank the 20 survivors — the single-partition window only ever
    # sees k rows, never the vocabulary.
    top = cnt.orderBy(F.desc("c"), "w").limit(20)
    w = Window.orderBy(F.desc("c"), "w")
    return top.select(
        F.col("w").alias("word"),
        bigint(F.col("c")).alias("freq"),
        bigint(F.row_number().over(w)).alias("rank"),
    ).orderBy("rank")


def _bigram_doc_scores(spark, sf_dir):
    """(doc_id, nb, s): per-doc bigram occurrence count and total
    corpus-frequency mass — the LM-commonality signal CCNet maintains
    per document. Shared (round 12) by text_lm_commonality and
    pipeline_ccnet_ppl_buckets, which each recomputed the corpus bigram
    table + score join identically (guide §2.4).

    Shape changes vs the old inline build (guide §2.2/§2.3):
    - bigrams are generated MAP-SIDE with zip_with over two array
      slices instead of posexplode + a per-doc lead() window — the
      occurrence stream never shuffles at all;
    - occurrences partially aggregate to per-doc bigram counts k
      BEFORE the count-table join, so the (w1, w2) exchange and the
      join carry distinct doc-bigram rows, not every occurrence, and
      the count table c = SUM(k) reuses that aggregate;
    - s = SUM(k * cnt) == the old per-occurrence SUM(cnt), exactly.
    """

    def build():
        d = widen(t(spark, sf_dir, "documents"))
        base = d.select("doc_id", F.split("text", " ").alias("ws"))
        g = base.select(
            "doc_id",
            F.explode(
                F.zip_with(
                    F.slice("ws", F.lit(1), F.size("ws") - 1),
                    F.slice("ws", F.lit(2), F.size("ws") - 1),
                    lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
                )
            ).alias("bg"),
        ).select("doc_id", "bg.w1", "bg.w2")
        gd = g.groupBy("doc_id", "w1", "w2").agg(
            F.count(F.lit(1)).cast("long").alias("k")
        # referenced twice (the corpus count table + the join side):
        # evaluate the bigram explode + per-doc aggregate once
        ).transform(barrier)
        c = gd.groupBy("w1", "w2").agg(F.sum("k").cast("long").alias("cnt"))
        return (
            gd.join(c, ["w1", "w2"])
            .groupBy("doc_id")
            .agg(
                F.sum("k").cast("long").alias("nb"),
                F.sum(F.col("k") * F.col("cnt")).cast("long").alias("s"),
            )
        )

    return store.frame("text_filtering.bigram_scores", spark, sf_dir, build)


@register(
    "text_lm_commonality",
    doc="CCNet-style LM quality proxy without floats: the corpus bigram "
    "count table scores each document by the mean corpus frequency of "
    "its bigrams (a doc of common constructions scores high; rare/"
    "garbled text scores low — the same signal wiki-perplexity "
    "filtering uses, as an exact rational instead of a log-prob). "
    "Plan: one token-linear bigram count (map-side combinable), then a "
    "doc-bigram -> count-table equi-join on (w1, w2) — the count table "
    "is vocabulary-bounded, so at 100 TB AQE broadcasts it and the "
    "score pass stays map-only. Exact integer avg (avg_round), "
    "bit-identical to the oracle.",
    oracle=f"""
WITH g AS (
    SELECT doc_id, w[i] AS w1, w[i+1] AS w2
    FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents),
         LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(w) - 1)) AS i)
),
c AS (SELECT w1, w2, COUNT(*) AS cnt FROM g GROUP BY w1, w2),
scored AS (
    SELECT g.doc_id, COUNT(*) AS n_bigrams,
           SUM(CAST(c.cnt AS DECIMAL(12,4))) AS s
    FROM g JOIN c ON g.w1 = c.w1 AND g.w2 = c.w2
    GROUP BY g.doc_id
)
SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
       {sql_avg_round("s", 4, "n_bigrams")} AS mean_bigram_freq
FROM scored
ORDER BY doc_id
""",
)
def text_lm_commonality(spark, sf_dir):
    from cascade_spark.operators._util import avg_round

    # avg_round's first operand is exact-integer either way: the long s
    # here equals the oracle's scale-4 decimal SUM(cnt) in value, and
    # avg_round multiplies it to integer ten-thousandths before DIV.
    scored = _bigram_doc_scores(spark, sf_dir)
    return scored.select(
        "doc_id",
        bigint(F.col("nb")).alias("n_bigrams"),
        avg_round(F.col("s"), F.col("nb"), 4).alias("mean_bigram_freq"),
    ).orderBy("doc_id")


# --- linear quality-classifier inference -------------------------------------
# The fastText-style corpus quality gate (CCNet / GPT-3 style): a linear
# model over hashed unigram features, applied map-only to every document.
# Weights here are a deterministic closed-form function of the feature
# slot (a Knuth multiplicative hash) standing in for learned weights; in
# production the learned weight array is a broadcast variable and the
# plan is identical. Scoring is one explode + map-side-combinable SUM in
# exact integers — no Python in the hot path, no weight-table shuffle.
QC_SLOTS = 64
QC_MULT = 2654435761  # Knuth multiplicative constant
QC_WRANGE = 1024  # weights span [-512, 511]


@register(
    "pipeline_quality_classifier",
    doc="Hashed linear quality-classifier inference: each token hashes "
    f"(md5) into one of {QC_SLOTS} feature slots; the slot's integer "
    "weight is a fixed multiplicative-hash function (stand-in for a "
    "broadcast learned weight array); doc score = exact integer sum "
    "over tokens; keep decision = score > 0. One explode + map-side-"
    "combinable aggregate — the classifier-filter pass of CCNet/GPT-3 "
    "pipelines at 100 TB is exactly this shape.",
    oracle=f"""
WITH tok AS (
    SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents
),
feat AS (
    SELECT doc_id,
           ('0x' || SUBSTR(MD5(w), 1, 8))::BIGINT % {QC_SLOTS} AS slot
    FROM tok WHERE w <> ''
),
scored AS (
    SELECT doc_id, COUNT(*) AS n_tokens,
           SUM((slot * {QC_MULT}) % {QC_WRANGE} - {QC_WRANGE // 2}) AS score
    FROM feat GROUP BY doc_id
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(score AS BIGINT) AS score,
       CAST(CASE WHEN score > 0 THEN 1 ELSE 0 END AS BIGINT) AS kept
FROM scored ORDER BY doc_id
""",
)
def pipeline_quality_classifier(spark, sf_dir):
    d = widen(t(spark, sf_dir, "documents"))
    tok = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    slot = F.conv(F.substring(F.md5("w"), 1, 8), 16, 10).cast("long") % QC_SLOTS
    weight = (slot * QC_MULT) % QC_WRANGE - QC_WRANGE // 2
    scored = tok.groupBy("doc_id").agg(
        bigint(F.count(F.lit(1))).alias("n_tokens"),
        bigint(F.sum(weight)).alias("score"),
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        "score",
        F.when(F.col("score") > 0, 1).otherwise(0).cast("long").alias("kept"),
    ).orderBy("doc_id")


PREFIX_WORDS = 5


@register(
    "text_prefix_boilerplate",
    doc=f"Boilerplate-prefix detection: docs sharing their first "
    f"{PREFIX_WORDS} words are flagged as template/boilerplate "
    "candidates (the web-corpus 'same nav header' smell that exact "
    "dedup misses because bodies differ). One projection + one "
    "groupBy on the prefix fingerprint — map-side combinable at any "
    "corpus size. Reports each shared prefix with its doc count and "
    "id range.",
    oracle=f"""
WITH p AS (
    SELECT doc_id,
           ARRAY_TO_STRING(STRING_SPLIT(text, ' ')[1:{PREFIX_WORDS}], ' ') AS prefix
    FROM documents
    WHERE LEN(STRING_SPLIT(text, ' ')) >= {PREFIX_WORDS}
)
SELECT prefix,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc,
       CAST(MAX(doc_id) AS BIGINT) AS max_doc
FROM p GROUP BY prefix
HAVING COUNT(*) >= 2
ORDER BY n_docs DESC, prefix
""",
)
def text_prefix_boilerplate(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    words = F.split("text", " ")
    p = d.filter(F.size(words) >= PREFIX_WORDS).select(
        "doc_id",
        F.concat_ws(" ", F.slice(words, 1, PREFIX_WORDS)).alias("prefix"),
    )
    return (
        p.groupBy("prefix")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("min_doc"),
            F.max("doc_id").cast("long").alias("max_doc"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), "prefix")
    )


@register(
    "pipeline_ccnet_ppl_buckets",
    doc="CCNet's head/middle/tail corpus split on the bigram-LM "
    "commonality score (text_lm_commonality's signal, floored to "
    "integer bp so the global order is exact): docs ranked by (score "
    "desc, doc_id) and cut into doc-count terciles — head is what "
    "CCNet keeps, tail is what it drops, middle is the judgment call. "
    "The rank comes from the two-phase prefix-sum (range repartition + "
    "per-partition row numbers + broadcast bases), NEVER a single-task "
    "global window over the corpus-sized score frame. Per bucket: doc "
    "count, bigram mass, score range — the table you read before "
    "choosing the cut.",
    oracle="""
WITH g AS (
    SELECT doc_id, w[i] AS w1, w[i+1] AS w2
    FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents),
         LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(w) - 1)) AS i)
),
c AS (SELECT w1, w2, COUNT(*) AS cnt FROM g GROUP BY w1, w2),
scored AS (
    SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS nb,
           CAST(SUM(c.cnt) AS BIGINT) AS s
    FROM g JOIN c ON g.w1 = c.w1 AND g.w2 = c.w2
    GROUP BY g.doc_id
),
q AS (SELECT doc_id, nb, CAST(10000 * s // nb AS BIGINT) AS score_bp FROM scored),
r AS (
    SELECT doc_id, nb, score_bp,
           ROW_NUMBER() OVER (ORDER BY score_bp DESC, doc_id) AS rk,
           COUNT(*) OVER () AS n
    FROM q
),
b AS (
    SELECT CASE WHEN rk * 3 <= n THEN 'head'
                WHEN rk * 3 <= 2 * n THEN 'middle'
                ELSE 'tail' END AS bucket,
           nb, score_bp
    FROM r
)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(nb) AS BIGINT) AS total_bigrams,
       CAST(MIN(score_bp) AS BIGINT) AS min_score_bp,
       CAST(MAX(score_bp) AS BIGINT) AS max_score_bp
FROM b GROUP BY bucket ORDER BY bucket
""",
)
def pipeline_ccnet_ppl_buckets(spark, sf_dir):
    from cascade_spark.operators._util import _intdiv
    from cascade_spark.operators.ingest import assign_prefix_sum

    # shared per-doc (nb, s) LM-commonality frame — see
    # _bigram_doc_scores (round 12)
    scored = _bigram_doc_scores(spark, sf_dir)
    q = scored.select(
        "doc_id",
        "nb",
        _intdiv(F.lit(10000) * F.col("s"), F.col("nb")).alias("score_bp"),
    ).withColumn("_one", F.lit(1).cast("long")).withColumn(
        "_neg", -F.col("score_bp")
    )
    ranked = assign_prefix_sum(q, ["_neg", "doc_id"], "_one").select(
        "nb", "score_bp", (F.col("prefix_sum") + 1).alias("rk")
    )
    n = q.agg(F.count(F.lit(1)).cast("long").alias("n"))
    b = ranked.crossJoin(F.broadcast(n)).select(
        F.when(F.col("rk") * 3 <= F.col("n"), "head")
        .when(F.col("rk") * 3 <= 2 * F.col("n"), "middle")
        .otherwise("tail")
        .alias("bucket"),
        "nb",
        "score_bp",
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("nb").cast("long").alias("total_bigrams"),
            F.min("score_bp").cast("long").alias("min_score_bp"),
            F.max("score_bp").cast("long").alias("max_score_bp"),
        )
        .orderBy("bucket")
    )


QSWEEP_THRESHOLDS = [-200, -100, 0, 100, 200]


@register(
    "pipeline_quality_threshold_sweep",
    doc="Filter-calibration sweep over the hashed linear quality "
    f"classifier: for each candidate threshold in {QSWEEP_THRESHOLDS}, "
    "how many docs and how much token mass survive score > T — the "
    "table you read to pick the quality cut BEFORE burning a 100 TB "
    "filter pass. One scoring aggregate (same map-side-combinable "
    "shape as pipeline_quality_classifier) feeds every threshold via "
    "conditional sums over a broadcast threshold spine: the corpus is "
    "scanned ONCE regardless of how many thresholds are swept.",
    oracle=f"""
WITH tok AS (
    SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents
),
feat AS (
    SELECT doc_id,
           ('0x' || SUBSTR(MD5(w), 1, 8))::BIGINT % {QC_SLOTS} AS slot
    FROM tok WHERE w <> ''
),
scored AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM((slot * {QC_MULT}) % {QC_WRANGE} - {QC_WRANGE // 2}) AS BIGINT)
               AS score
    FROM feat GROUP BY doc_id
),
thr AS (SELECT UNNEST({QSWEEP_THRESHOLDS}) AS t)
SELECT CAST(thr.t AS BIGINT) AS threshold,
       CAST(SUM(CASE WHEN s.score > thr.t THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN s.score > thr.t THEN s.n_tokens ELSE 0 END) AS BIGINT)
           AS kept_tokens,
       CAST(10000 * SUM(CASE WHEN s.score > thr.t THEN 1 ELSE 0 END)
            // COUNT(*) AS BIGINT) AS keep_bp
FROM scored s CROSS JOIN thr
GROUP BY thr.t ORDER BY threshold
""",
)
def pipeline_quality_threshold_sweep(spark, sf_dir):
    from cascade_spark.operators._util import _intdiv

    d = widen(t(spark, sf_dir, "documents"))
    tok = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    slot = F.conv(F.substring(F.md5("w"), 1, 8), 16, 10).cast("long") % QC_SLOTS
    weight = (slot * QC_MULT) % QC_WRANGE - QC_WRANGE // 2
    scored = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(weight).cast("long").alias("score"),
    )
    thr = spark.createDataFrame(
        [(int(x),) for x in QSWEEP_THRESHOLDS], "t long"
    )
    kept = F.when(F.col("score") > F.col("t"), 1).otherwise(0)
    return (
        scored.crossJoin(F.broadcast(thr))
        .groupBy(F.col("t").alias("threshold"))
        .agg(
            F.sum(kept).cast("long").alias("n_kept"),
            F.sum(kept * F.col("n_tokens")).cast("long").alias("kept_tokens"),
            _intdiv(
                F.lit(10000) * F.sum(kept), F.count(F.lit(1))
            ).alias("keep_bp"),
        )
        .orderBy("threshold")
    )


RAKE_TOP = 15
RAKE_BP = 10_000


@register(
    "text_rake_keywords",
    doc="RAKE keyword extraction (Rose et al. 2010) over the corpus: "
    "candidate phrases are maximal stopword-free word runs (run ids "
    "from a per-doc running stopword count — one window, no UDF), "
    "each word scores deg(w)/freq(w) with deg = sum of lengths of the "
    "phrases containing it, and a phrase scores the sum of its words' "
    "scores. All arithmetic is integer floor-bp, so the ranking "
    "hash-checks. Returns the top "
    f"{RAKE_TOP} phrase types by (score, phrase) with occurrence "
    "counts. Scale: tokenize + run-grouping are map-side per doc; the "
    "word-stat and phrase-score aggregates shuffle vocabulary-sized "
    "frames, never the corpus.",
    oracle=f"""
WITH tok AS (
    SELECT doc_id, i AS p, w[i] AS w,
           CASE WHEN LIST_CONTAINS({_sql_array(STOPWORDS)}, w[i]) THEN 1 ELSE 0 END AS is_stop
    FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents),
         LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(w))) AS i)
),
runs AS (
    SELECT doc_id, p, w, grp FROM (
        SELECT doc_id, p, w, is_stop,
               SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY p
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        FROM tok
    ) WHERE is_stop = 0
),
phrases AS (
    SELECT doc_id, grp,
           STRING_AGG(w, ' ' ORDER BY p) AS phrase,
           CAST(COUNT(*) AS BIGINT) AS plen
    FROM runs GROUP BY doc_id, grp
),
occur AS (
    SELECT r.w, ph.plen
    FROM runs r JOIN phrases ph ON ph.doc_id = r.doc_id AND ph.grp = r.grp
),
wstat AS (
    SELECT w,
           CAST(COUNT(*) AS BIGINT) AS freq,
           CAST(SUM(plen) AS BIGINT) AS deg
    FROM occur GROUP BY w
),
wscore AS (SELECT w, CAST(deg * {RAKE_BP} // freq AS BIGINT) AS s FROM wstat),
pscore AS (
    SELECT ph.phrase, CAST(SUM(ws.s) AS BIGINT) AS score
    FROM runs r
    JOIN phrases ph ON ph.doc_id = r.doc_id AND ph.grp = r.grp
    JOIN wscore ws ON ws.w = r.w
    GROUP BY ph.doc_id, ph.grp, ph.phrase
)
SELECT phrase,
       CAST(MAX(score) AS BIGINT) AS score_bp,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM pscore
GROUP BY phrase
ORDER BY score_bp DESC, phrase
LIMIT {RAKE_TOP}
""",
)
def text_rake_keywords(spark, sf_dir):
    d = widen(t(spark, sf_dir, "documents"))
    stop_arr = F.array([F.lit(w) for w in STOPWORDS])
    tok = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("p0", "w")
    ).select(
        "doc_id",
        (F.col("p0") + 1).alias("p"),
        "w",
        F.when(F.array_contains(stop_arr, F.col("w")), 1).otherwise(0).alias("is_stop"),
    )
    wgrp = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    runs = tok.withColumn("grp", F.sum("is_stop").over(wgrp)).filter(
        F.col("is_stop") == 0
    ).select("doc_id", "p", "w", "grp")
    phrases = runs.groupBy("doc_id", "grp").agg(
        F.concat_ws(
            " ",
            F.expr("transform(array_sort(collect_list(struct(p, w))), x -> x.w)"),
        ).alias("phrase"),
        F.count(F.lit(1)).cast("long").alias("plen"),
    )
    occur = runs.join(phrases, ["doc_id", "grp"]).select("w", "plen")
    wstat = occur.groupBy("w").agg(
        bigint(F.count(F.lit(1))).alias("freq"),
        bigint(F.sum("plen")).alias("deg"),
    )
    wscore = wstat.select(
        "w", F.expr(f"deg * {RAKE_BP} DIV freq").cast("long").alias("s")
    )
    pscore = (
        runs.join(phrases, ["doc_id", "grp"])
        .join(wscore, "w")
        .groupBy("doc_id", "grp", "phrase")
        .agg(bigint(F.sum("s")).alias("score"))
    )
    return (
        pscore.groupBy("phrase")
        .agg(
            bigint(F.max("score")).alias("score_bp"),
            bigint(F.count(F.lit(1))).alias("n_occurrences"),
        )
        .orderBy(F.col("score_bp").desc(), "phrase")
        .limit(RAKE_TOP)
    )


GARBAGE_BAD_BP_CUT = 500
_GARBAGE_KEEP = "[^a-z0-9 .,]"
_CONS_RUN = "[bcdfghjklmnpqrstvwxz]{5,}"


@register(
    "text_garbage_score",
    doc="OCR/encoding-garbage screen per source — the cheap 'is this "
    "text even prose' gate run before any quality model: per doc, the "
    "share of suspicious characters (anything outside [a-z0-9 .,] on "
    "the lowercased text) in exact floor bp, plus a >= 5-consonant-run "
    "flag (mojibake / OCR smear signature). Per source: doc count, "
    "exact mean bad-char bp (integer floor of the bp sum), consonant-"
    f"run docs, and docs over the {GARBAGE_BAD_BP_CUT} bp cut. One "
    "map-only regexp pass + one combinable groupBy.",
    oracle=f"""
WITH per_doc AS (
    SELECT source,
           (10000 * (LENGTH(LOWER(text))
                     - LENGTH(REGEXP_REPLACE(LOWER(text), '{_GARBAGE_KEEP}',
                                             '', 'g'))))
           // GREATEST(LENGTH(text), 1) AS bad_bp,
           CASE WHEN REGEXP_MATCHES(LOWER(text), '{_CONS_RUN}')
                THEN 1 ELSE 0 END AS cons_run
    FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(bad_bp) // COUNT(*) AS BIGINT) AS mean_bad_bp,
       CAST(SUM(cons_run) AS BIGINT) AS cons_run_docs,
       CAST(COUNT(*) FILTER (WHERE bad_bp > {GARBAGE_BAD_BP_CUT}) AS BIGINT)
           AS flagged_docs
FROM per_doc GROUP BY source ORDER BY source
""",
)
def text_garbage_score(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    low = F.lower(F.col("text"))
    bad_bp = F.expr(
        f"(10000 * (char_length(lower(text))"
        f" - char_length(regexp_replace(lower(text), '{_GARBAGE_KEEP}', ''))))"
        f" DIV GREATEST(char_length(text), 1)"
    )
    per_doc = d.select(
        "source",
        bad_bp.alias("bad_bp"),
        F.when(low.rlike(_CONS_RUN), 1).otherwise(0).alias("cons_run"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            bigint(F.count(F.lit(1))).alias("n_docs"),
            F.expr("CAST(SUM(bad_bp) DIV COUNT(*) AS BIGINT)").alias("mean_bad_bp"),
            bigint(F.sum("cons_run")).alias("cons_run_docs"),
            bigint(
                F.sum(F.when(F.col("bad_bp") > GARBAGE_BAD_BP_CUT, 1).otherwise(0))
            ).alias("flagged_docs"),
        )
        .orderBy("source")
    )


@register(
    "text_zlib_compression_ratio",
    oracle=None,  # real zlib bytes are not SQL-expressible — rows-only
    doc="Compression-ratio quality signal per source: each document "
    "deflates through REAL zlib (level 6, the ubiquitous corpus-"
    "filtering heuristic — highly compressible text is boilerplate or "
    "repetition), aggregated per source as exact integer byte masses "
    "with the byte-mass-weighted ratio (SUM(zl_bytes)/SUM(raw_bytes)) in truncated bp. Rows-only by design (the "
    "compressed size depends on the DEFLATE implementation, not on "
    "SQL-expressible math); pinned instead by property tests "
    "(ratio bounds, repetition monotonicity) and the parallelism-"
    "invariance suite. Map-only mapInPandas; at 100 TB this is one "
    "decode-free pass fanned by maxPartitionBytes.",
)
def text_zlib_compression_ratio(spark, sf_dir):
    import pandas as pd

    from cascade_spark.operators._util import t as _t

    docs = _t(spark, sf_dir, "documents").repartition(8).select(
        "doc_id", "source", "text"
    )

    def comp(batches):
        import zlib

        for pdf in batches:
            raw = pdf["text"].str.encode("utf-8")
            rows = pd.DataFrame(
                {
                    "source": pdf["source"],
                    "raw_bytes": raw.str.len().astype("int64"),
                    "zl_bytes": raw.map(
                        lambda b: len(zlib.compress(b, 6))
                    ).astype("int64"),
                }
            )
            yield rows

    per_doc = docs.mapInPandas(
        comp, schema="source string, raw_bytes long, zl_bytes long"
    )
    from pyspark.sql import functions as FN

    return (
        per_doc.groupBy("source")
        .agg(
            FN.count(FN.lit(1)).cast("long").alias("n_docs"),
            FN.sum("raw_bytes").cast("long").alias("raw_bytes"),
            FN.sum("zl_bytes").cast("long").alias("zl_bytes"),
            FN.expr(
                "CAST(CASE WHEN SUM(raw_bytes) = 0 THEN 0"
                " ELSE (SUM(zl_bytes) * 10000) DIV SUM(raw_bytes)"
                " END AS BIGINT)"
            ).alias("weighted_ratio_bp"),
        )
        .orderBy("source")
    )
