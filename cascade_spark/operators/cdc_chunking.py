"""Round-8 wave-11 content-defined chunking (CDC) dedup over
``documents`` — the insertion-robust counterpart to
``pipeline_passage_dedup``'s FIXED 8-word chunks: fixed chunking
shifts every boundary after an insertion, so one edited sentence
re-keys a whole document; content-defined boundaries (cut AFTER words
whose hash lands in a marked residue class, the FastCDC/rsync idea at
word granularity) realign immediately after the edit, so shared runs
between near-identical documents keep identical chunk hashes.

- ``dedup_cdc_chunks``: per-doc segments split at md5-marked words
  (expected chunk length = CDC_MOD words), chunk identity =
  md5(space-joined words); a chunk is DUPLICATED when the same hash
  appears in >= 2 distinct documents corpus-wide. Per-source report:
  chunk count, duplicated-chunk instances, duplicated word mass, and
  total word mass — the "how much of this source is boilerplate
  shared with the rest of the corpus" number.

Reference scope: declared corpus operator per SURVEY §2B north-star
dedup family (the reference itself is an event log, src/broker/main.rs).

Determinism: boundaries, segment ids (one bounded per-doc window over
word positions), and chunk hashes are all exact integer/md5
arithmetic — fully hash-checkable.

Scale (100 TB): one posexplode pass, a per-doc window (bounded by doc
length), one groupBy(chunk hash) for the global dup decision — the
same shuffle shape as the passage dedup; no pairwise comparisons
anywhere.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cascade_spark.operators._util import barrier, bigint, t
from cascade_spark.plans.registry import register

CDC_MOD = 8  # expected words per chunk: boundary when md5(word) % 8 == 0


@register(
    "dedup_cdc_chunks",
    doc=f"Content-defined chunking dedup: word-boundary cut where "
    f"md5(word) %% {CDC_MOD} == 0 (expected {CDC_MOD}-word chunks, "
    "insertion-robust unlike fixed windows), chunk hash over the "
    "space-joined words, duplicated = same hash in >= 2 distinct docs; "
    "per-source duplicated instance/word mass.",
    oracle=f"""
WITH words0 AS (
    SELECT doc_id, source,
           UNNEST(GENERATE_SERIES(1, LEN(STRING_SPLIT(text, ' ')))) AS pos,
           UNNEST(STRING_SPLIT(text, ' ')) AS word
    FROM documents
),
words AS (
    SELECT doc_id, source, pos, word,
           CASE WHEN ('0x' || SUBSTR(MD5(word), 1, 8))::BIGINT
                     % {CDC_MOD} = 0
                THEN 1 ELSE 0 END AS cut
    FROM words0
),
seg AS (
    SELECT doc_id, source, pos, word,
           CAST(COALESCE(SUM(cut) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS seg_id
    FROM words
),
chunks AS (
    SELECT doc_id, source, seg_id,
           MD5(STRING_AGG(word, ' ' ORDER BY pos)) AS chash,
           CAST(COUNT(*) AS BIGINT) AS n_words
    FROM seg GROUP BY doc_id, source, seg_id
),
dup AS (
    SELECT chash, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM chunks GROUP BY chash
)
SELECT c.source,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(COUNT(*) FILTER (WHERE dup.n_docs >= 2) AS BIGINT) AS dup_chunks,
       CAST(COALESCE(SUM(c.n_words) FILTER (WHERE dup.n_docs >= 2), 0)
            AS BIGINT) AS dup_words,
       CAST(SUM(c.n_words) AS BIGINT) AS total_words
FROM chunks c JOIN dup ON dup.chash = c.chash
GROUP BY c.source ORDER BY c.source
""",
)
def dedup_cdc_chunks(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    # one map-only HOF builds each doc's chunk list (boundary AFTER a
    # cut word) — no explode+window round trip, no collect_list shuffle
    chunk_arr = F.expr(
        f"""
        aggregate(
            split(text, ' '),
            named_struct('done', CAST(array() AS ARRAY<STRING>),
                         'cur', CAST('' AS STRING), 'has', false),
            (acc, w) -> IF(
                CAST(conv(substring(md5(w), 1, 8), 16, 10) AS BIGINT)
                    % {CDC_MOD} = 0,
                named_struct(
                    'done', array_append(acc.done,
                                IF(acc.has, concat(acc.cur, ' ', w), w)),
                    'cur', '', 'has', false),
                named_struct(
                    'done', acc.done,
                    'cur', IF(acc.has, concat(acc.cur, ' ', w), w),
                    'has', true)),
            acc -> IF(acc.has, array_append(acc.done, acc.cur), acc.done))
        """
    )
    # referenced twice (the dup aggregate + the join probe): evaluate
    # the interpreted chunking fold once
    chunks = d.select(
        "doc_id", "source", F.explode(chunk_arr).alias("chunk")
    ).select(
        "doc_id",
        "source",
        F.md5(F.col("chunk")).alias("chash"),
        F.size(F.split(F.col("chunk"), " ")).cast("long").alias("n_words"),
    ).transform(barrier)
    dup = chunks.groupBy("chash").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs")
    )
    return (
        chunks.join(dup, "chash")
        .groupBy("source")
        .agg(
            bigint(F.count(F.lit(1))).alias("n_chunks"),
            bigint(F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0))).alias(
                "dup_chunks"
            ),
            bigint(
                F.coalesce(
                    F.sum(F.when(F.col("n_docs") >= 2, F.col("n_words"))), F.lit(0)
                )
            ).alias("dup_words"),
            bigint(F.sum("n_words")).alias("total_words"),
        )
        .orderBy("source")
    )
