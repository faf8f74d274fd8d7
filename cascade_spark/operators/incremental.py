"""Incremental dedup — new batch vs existing corpus.

The production shape of corpus dedup: an incoming slice (here:
``source = 'src0'``) checked against the already-ingested corpus
(everything else) without ever comparing corpus-to-corpus. Exact check
is a fingerprint semi-join; near-dup check is a MinHash band semi-join —
both scale as |incoming| × collision rate, independent of corpus size
given the precomputed corpus signature index (which a real deployment
maintains incrementally).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cascade_spark.plans.registry import register
from cascade_spark.operators._util import barrier, t
from cascade_spark.operators.dedup import (
    BANDS,
    N_HASHES,
    _SQL_SIGNATURES,
    _signatures,
)

_INCOMING = "src0"


@register(
    "dedup_incremental",
    doc="Incremental dedup: incoming slice (source='src0') flagged "
    "against the corpus — exact via content-fingerprint semi-join, near "
    "via MinHash band semi-join. Never corpus×corpus.",
    oracle=f"""
WITH fp AS (
    SELECT doc_id, source,
           MD5(LOWER(TRIM(text))) AS fingerprint
    FROM documents
),
sig AS ({_SQL_SIGNATURES}),
bands AS (
    SELECT doc_id, band,
           MD5({" || ',' || ".join(
               "CASE band " + " ".join(
                   f"WHEN {b} THEN CAST(h{b * (N_HASHES // BANDS) + r} AS VARCHAR)"
                   for b in range(BANDS)
               ) + " END"
               for r in range(N_HASHES // BANDS)
           )}) AS bh
    FROM sig CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, {BANDS - 1})) AS band)
),
incoming AS (SELECT doc_id, fingerprint FROM fp WHERE source = '{_INCOMING}'),
corpus AS (SELECT doc_id, fingerprint FROM fp WHERE source <> '{_INCOMING}'),
exact_dup AS (
    SELECT DISTINCT i.doc_id FROM incoming i
    JOIN corpus c ON i.fingerprint = c.fingerprint
),
near_dup AS (
    SELECT DISTINCT bi.doc_id
    FROM bands bi
    JOIN incoming i ON i.doc_id = bi.doc_id
    JOIN bands bc ON bc.band = bi.band AND bc.bh = bi.bh
    JOIN corpus c ON c.doc_id = bc.doc_id
)
SELECT i.doc_id,
       i.doc_id IN (SELECT doc_id FROM exact_dup) AS is_exact_dup,
       i.doc_id IN (SELECT doc_id FROM near_dup) AS is_near_dup
FROM incoming i
ORDER BY i.doc_id
""",
)
def dedup_incremental(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    # incoming + corpus both derive from this projection: without a
    # barrier each branch re-runs the full-text md5 scan
    fp = d.select(
        "doc_id", "source", F.md5(F.lower(F.trim("text"))).alias("fingerprint")
    ).transform(barrier)
    incoming = fp.filter(F.col("source") == _INCOMING).select("doc_id", "fingerprint")
    corpus = fp.filter(F.col("source") != _INCOMING).select(
        F.col("doc_id").alias("c_doc"), F.col("fingerprint").alias("c_fp")
    )
    exact = (
        incoming.join(corpus, incoming.fingerprint == corpus.c_fp, "left_semi")
        .select("doc_id")
        .withColumn("_exact", F.lit(True))
    )

    sig = _signatures(spark, sf_dir)
    rpb = N_HASHES // BANDS
    band_rows = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat_ws(",", *[F.col(f"h{b * rpb + r}") for r in range(rpb)])).alias("bh"),
        )
        for b in range(BANDS)
    ]
    # both the incoming semi-join and the corpus anti-join sides read
    # the band frame: evaluate the 4-band md5 explode once
    bands = sig.select("doc_id", F.explode(F.array(*band_rows)).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh")
    ).transform(barrier)
    inc_ids = incoming.select("doc_id")
    inc_bands = bands.join(inc_ids, "doc_id")
    corp_bands = bands.join(inc_ids, "doc_id", "left_anti").select(
        F.col("band").alias("cb"), F.col("bh").alias("cbh")
    )
    near = (
        inc_bands.join(
            corp_bands,
            (inc_bands.band == corp_bands.cb) & (inc_bands.bh == corp_bands.cbh),
            "left_semi",
        )
        .select("doc_id")
        .distinct()
        .withColumn("_near", F.lit(True))
    )
    return (
        inc_ids.join(exact.select("doc_id", "_exact"), "doc_id", "left")
        .join(near.select("doc_id", "_near"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("_exact"), F.lit(False)).alias("is_exact_dup"),
            F.coalesce(F.col("_near"), F.lit(False)).alias("is_near_dup"),
        )
        .orderBy("doc_id")
    )
