"""Span-level (substring) dedup and within-doc repetition detection.

Two training-corpus passes the doc-level dedup family doesn't cover:

- **Duplicated-span detection** (``dedup_dupspan_ngrams``): doc-level
  MinHash misses *partial* overlap — a document that embeds a long span
  copied from another document but is otherwise unique. The exact-
  substring answer (Lee et al. 2022, "Deduplicating Training Data Makes
  Language Models Better") is a corpus suffix array; the standard
  distributed approximation is fixed-length n-gram span matching, which
  is what this implements: every word 8-gram is fingerprinted, grams
  are counted across the corpus, and each document reports how many of
  its distinct spans also appear elsewhere. Downstream policy (clip the
  span, drop the doc, weight it) consumes these counts.

- **Within-doc repetition** (``text_repetition_top2gram``): the Gopher
  rep-ngram family — a single document dominated by one repeated
  2-gram is boilerplate/spam and gets flagged. Pure per-doc aggregation.

Scale design (100 TB):
- Spans are carried through the shuffle as md5 fingerprints, never as
  raw 8-word strings (fixed-width keys; at production scale you'd use a
  64-bit hash — md5-hex here because the DuckDB oracle must group on
  bit-identical keys).
- The gram→doc-frequency pass is one map-side-combinable groupBy; the
  join back to docs is gram-hash-partitioned on both sides so the
  shuffle is reused. Cost is linear in corpus token count — the same
  asymptotics as the MinHash signature pass, and embarrassingly
  partitionable.
- Repetition detection never leaves the document: groupBy(doc_id, gram)
  then groupBy(doc_id) — the second aggregation reuses the first's hash
  partitioning (no extra shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from cascade_spark.plans.registry import register
from cascade_spark.operators._util import t, widen

SPAN_N = 8  # words per span fingerprint


def _word_ngrams(docs: DataFrame, n: int, distinct: bool) -> DataFrame:
    """(doc_id, s) word n-grams generated MAP-SIDE (round 12): a
    transform over the split array's index range replaces the old
    posexplode + (n-1) per-doc lead() windows, so the token stream is
    never shuffled or sorted at all — the n-gram stream feeds its
    consumer's aggregation straight off the scan. Same (doc_id, s)
    set: position i in [0, len-n] yields words i..i+n-1, exactly the
    rows the old _last-not-null filter kept. The WHEN guard matters:
    sequence(0, negative) would count DOWN, so short docs emit an
    empty array instead."""
    base = widen(docs).select("doc_id", F.split("text", " ").alias("_ws"))
    idx = F.when(
        F.size("_ws") >= n, F.sequence(F.lit(0), F.size("_ws") - n)
    ).otherwise(F.expr("CAST(array() AS array<int>)"))
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at("_ws", i + k + 1) for k in range(n)]
    )
    g = base.select("doc_id", F.explode(F.transform(idx, gram)).alias("s"))
    return g.dropDuplicates(["doc_id", "s"]) if distinct else g


def _sql_word_ngrams(n: int, distinct: bool) -> str:
    expr = " || ' ' || ".join(f"w[i+{j}]" for j in range(n))
    d = "DISTINCT " if distinct else ""
    return f"""
    SELECT {d}doc_id, {expr} AS s
    FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents),
         LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(w) - {n - 1})) AS i)
"""


@register(
    "dedup_dupspan_ngrams",
    doc="Duplicated-span detection (exact-substring dedup approximated "
    "by word 8-gram fingerprints): per doc, how many of its distinct "
    "spans appear in at least one other document. Catches partial-copy "
    "docs that doc-level MinHash scores as unique.",
    oracle=f"""
WITH g AS (
    SELECT doc_id, MD5(s) AS gh FROM ({_sql_word_ngrams(SPAN_N, True)})
),
f AS (SELECT gh, COUNT(*) AS nd FROM g GROUP BY gh)
SELECT g.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(CASE WHEN f.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_spans
FROM g JOIN f USING (gh)
GROUP BY g.doc_id
HAVING SUM(CASE WHEN f.nd >= 2 THEN 1 ELSE 0 END) > 0
ORDER BY doc_id
""",
)
def dedup_dupspan_ngrams(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    # xxhash64 instead of md5-hex (round 12): the fingerprint is
    # internal (only per-doc counts are output), so only its EQUALITY
    # CLASSES matter — identical barring a 64-bit collision (the
    # _raw_shingle_index precedent). 8-byte keys ride the distinct and
    # the frequency join instead of 32-char hex strings, and the
    # per-doc dedup now happens on the narrow key too.
    g = _word_ngrams(d, SPAN_N, distinct=False).select(
        "doc_id", F.xxhash64("s").alias("gh")
    ).dropDuplicates(["doc_id", "gh"])
    # Distinct per doc already, so COUNT(*) per gram == document frequency.
    freq = g.groupBy("gh").agg(F.count(F.lit(1)).alias("nd"))
    return (
        g.join(freq, "gh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_shared_spans"),
        )
        .filter(F.col("n_shared_spans") > 0)
        .orderBy("doc_id")
    )


@register(
    "text_repetition_top2gram",
    doc="Gopher-style within-doc repetition: per doc, the count of its "
    "most frequent word 2-gram vs total 2-grams; repetitive if the top "
    "2-gram covers more than 20% of the document. Two chained "
    "aggregations sharing one hash partitioning — no second shuffle.",
    oracle=f"""
WITH g AS ({_sql_word_ngrams(2, False)}),
c AS (SELECT doc_id, s, COUNT(*) AS cnt FROM g GROUP BY doc_id, s)
SELECT doc_id,
       CAST(SUM(cnt) AS BIGINT) AS n_2grams,
       CAST(MAX(cnt) AS BIGINT) AS top_2gram_count,
       (MAX(cnt) * 5 > SUM(cnt)) AS is_repetitive
FROM c GROUP BY doc_id ORDER BY doc_id
""",
)
def text_repetition_top2gram(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    g = _word_ngrams(d, 2, distinct=False)
    c = g.groupBy("doc_id", "s").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        c.groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_2grams"),
            F.max("cnt").cast("long").alias("top_2gram_count"),
        )
        .select(
            "doc_id",
            "n_2grams",
            "top_2gram_count",
            (F.col("top_2gram_count") * 5 > F.col("n_2grams")).alias("is_repetitive"),
        )
        .orderBy("doc_id")
    )


PASSAGE_N = 8  # words per non-overlapping passage


@register(
    "pipeline_passage_dedup",
    doc="Cross-document repeated-passage REMOVAL (the transform, where "
    "dedup_dupspan_ngrams is the audit): each document is chunked into "
    f"non-overlapping {PASSAGE_N}-word passages, passages whose hash "
    "appears in >=2 distinct documents are dropped (the "
    "RefinedWeb/CCNet line-dedup recipe re-expressed over the "
    "fixture's single-line docs), and the survivors are reassembled in "
    "order. Per doc: passage counts, retained word count, and the md5 "
    "of the reassembled text (small fixed-width proof of the rebuilt "
    "doc, so the oracle checks the full transform without shipping "
    "text). Same asymptotics as the span audit: one combinable "
    "gram-frequency groupBy + one gram-partitioned join; reassembly "
    "is a per-doc sort of ~n/8 passages, never a global order.",
    oracle=f"""
WITH w AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents),
p AS (
    SELECT doc_id, i AS pos,
           ARRAY_TO_STRING(ws[i*{PASSAGE_N}+1 : i*{PASSAGE_N}+{PASSAGE_N}], ' ') AS passage
    FROM w, LATERAL (SELECT UNNEST(GENERATE_SERIES(0,
             CAST(CEIL(LEN(ws) / {PASSAGE_N}.0) AS BIGINT) - 1)) AS i)
),
h AS (SELECT doc_id, pos, passage, MD5(passage) AS gh FROM p),
f AS (SELECT gh, COUNT(DISTINCT doc_id) AS nd FROM h GROUP BY gh),
kept AS (SELECT h.doc_id, h.pos, h.passage FROM h JOIN f USING (gh) WHERE f.nd = 1),
agg AS (
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(LEN(STRING_SPLIT(passage, ' '))) AS BIGINT) AS n_kept_words,
           MD5(STRING_AGG(passage, ' ' ORDER BY pos)) AS kept_md5
    FROM kept GROUP BY doc_id
),
tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_passages FROM h GROUP BY doc_id)
SELECT t.doc_id, t.n_passages,
       COALESCE(a.n_kept, 0) AS n_kept,
       COALESCE(a.n_kept_words, 0) AS n_kept_words,
       COALESCE(a.kept_md5, MD5('')) AS kept_md5
FROM tot t LEFT JOIN agg a USING (doc_id)
ORDER BY t.doc_id
""",
)
def pipeline_passage_dedup(spark, sf_dir):
    d = widen(t(spark, sf_dir, "documents"))
    n = PASSAGE_N
    h = d.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, CAST(ceil(size(split(text, ' ')) / {n}.0) AS INT) - 1),"
                f" i -> array_join(slice(split(text, ' '), i * {n} + 1, {n}), ' '))"
            )
        ).alias("pos", "passage"),
    ).withColumn("gh", F.md5("passage"))
    freq = h.groupBy("gh").agg(F.count_distinct("doc_id").alias("nd"))
    kept = h.join(freq, "gh").filter(F.col("nd") == 1)
    agg = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.sum(F.size(F.split("passage", " "))).cast("long").alias("n_kept_words"),
        F.md5(
            F.concat_ws(
                " ",
                F.expr(
                    "transform(array_sort(collect_list(struct(pos, passage))), x -> x.passage)"
                ),
            )
        ).alias("kept_md5"),
    )
    tot = h.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n_passages"))
    return (
        tot.join(agg, "doc_id", "left")
        .select(
            "doc_id",
            "n_passages",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("n_kept_words", F.lit(0)).cast("long").alias("n_kept_words"),
            F.coalesce("kept_md5", F.md5(F.lit(""))).alias("kept_md5"),
        )
        .orderBy("doc_id")
    )
