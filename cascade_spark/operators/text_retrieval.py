"""Round-9 wave — search-engine retrieval primitives over the
documents corpus (the ranked/boolean retrieval layer the tf-idf and
fingerprint families feed):

- ``text_bm25_topk``: Okapi BM25 (k1 = 6/5, b = 3/4) for the
  deterministic 3-term query (highest-frequency terms with df <= N/2)
  — the tf saturation ratio cleared to ONE exact integer rational per
  (doc, term) by multiplying through by 20*T (the corpus token count),
  idf as a floored-micro mirrored ln per term. The industry-standard
  ranking function, hash-checkable.
- ``text_inverted_index_query``: conjunctive (AND) boolean retrieval
  for the 3 most ubiquitous terms — posting-list intersection as
  having-count-3 over the (doc, term) postings, with match-set
  checksums.
- ``text_winnowing_fingerprint``: MOSS winnowing (k = 4-word grams,
  window w = 4): each window of 4 consecutive kgram hashes selects its
  minimal hash with the RIGHTMOST-position tie rule, encoded exactly
  as min(h * 65536 - pos) (declared cap: < 65536 kgrams per doc) — the
  guarantee-bearing fingerprint sampler behind plagiarism/near-dup
  detection, with per-source density readouts.

Reference scope: declared aggregates over the ``documents`` table per
SURVEY §2B (north-star text/dedup families).

Determinism: term selection is exact-count ordered with lexicographic
ties; BM25's per-term score is (idf_micro * 44*T*tf) DIV
(20*tf*T + 6*T + 18*dl*N) in DECIMAL(38,0)/HUGEINT; winnowing's
argmin-with-tie rides one integer key. The only IEEE op is the
mirrored idf ln, floored per term before integer summation.

Scale (100 TB): postings (doc, term, tf) build in one
map-side-combinable groupBy; the query joins 3 BROADCAST term rows
against the postings (never a corpus self-join); winnowing windows are
bounded trailing spans partitioned by doc.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from cascade_spark.operators._util import bigint, t
from cascade_spark.plans.registry import register

BP = 10_000
BM25_TOP = 10

# postings (doc_id, w, tf) + doc lengths + corpus stats
_SQL_POSTINGS = """
tok AS (
    SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents
),
tf AS (
    SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
    FROM tok WHERE w <> '' GROUP BY 1, 2
),
dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
corpus AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS tcorp
    FROM dl
),
wstat AS (
    SELECT w, CAST(COUNT(*) AS BIGINT) AS df, CAST(SUM(tf) AS BIGINT) AS gf
    FROM tf GROUP BY 1
)
"""


def _postings(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ", -1)).alias("w")
    ).filter(F.col("w") != "")
    tf = tok.groupBy("doc_id", "w").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    corpus = dl.agg(
        bigint(F.count(F.lit(1))).alias("n"),
        bigint(F.sum("dl")).alias("tcorp"),
    )
    wstat = tf.groupBy("w").agg(
        bigint(F.count(F.lit(1))).alias("df"),
        bigint(F.sum("tf")).alias("gf"),
    )
    return tf, dl, corpus, wstat


@register(
    "text_bm25_topk",
    doc="Okapi BM25 top-10 for the deterministic 3-term query (the "
    "highest-total-frequency terms with df <= N/2, lexicographic "
    "ties — keeps idf positive): per matched (doc, term) the score is "
    "idf_micro * (44*T*tf) DIV (20*tf*T + 6*T + 18*dl*N) — the "
    "k1 = 6/5, b = 3/4 saturation ratio multiplied through by 20*T so "
    "it is ONE exact integer rational (T = corpus tokens, N = docs, "
    "dl = doc length); idf_micro = FLOOR(1e6 * ln((N - df + .5)/(df "
    "+ .5))), one mirrored IEEE ln per term, summed as integers. "
    "Postings join 3 broadcast term rows — never a corpus self-join.",
    oracle=f"""
WITH {_SQL_POSTINGS},
qterms AS (
    SELECT w.w, w.df,
           CAST(FLOOR(1000000 * LN((CAST(c.n AS DOUBLE) - w.df + 0.5)
                                   / (w.df + 0.5))) AS BIGINT) AS idf_micro
    FROM wstat w, corpus c
    WHERE w.df * 2 <= c.n
    ORDER BY w.gf DESC, w.w LIMIT 3
),
scored AS (
    SELECT f.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_terms_matched,
           CAST(SUM(CAST(q.idf_micro AS HUGEINT) * 44 * c.tcorp * f.tf
                    // (20 * f.tf * c.tcorp + 6 * c.tcorp
                        + 18 * d.dl * c.n)) AS BIGINT) AS score_micro
    FROM tf f
    JOIN qterms q ON q.w = f.w
    JOIN dl d ON d.doc_id = f.doc_id
    CROSS JOIN corpus c
    GROUP BY f.doc_id
)
SELECT doc_id, n_terms_matched, score_micro
FROM scored
ORDER BY score_micro DESC, doc_id
LIMIT {BM25_TOP}
""",
)
def text_bm25_topk(spark, sf_dir):
    dec = "decimal(38,0)"
    tf, dl, corpus, wstat = _postings(spark, sf_dir)
    qterms = (
        wstat.crossJoin(F.broadcast(corpus))
        .filter(F.col("df") * 2 <= F.col("n"))
        .orderBy(F.col("gf").desc(), "w")
        .limit(3)
        .select(
            "w",
            "df",
            F.floor(
                F.lit(1000000.0)
                * F.log(
                    (F.col("n").cast("double") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                )
            )
            .cast("long")
            .alias("idf_micro"),
        )
    )
    scored = (
        tf.join(F.broadcast(qterms), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .groupBy("doc_id")
        .agg(
            bigint(F.count(F.lit(1))).alias("n_terms_matched"),
            F.sum(
                F.expr(
                    f"CAST(idf_micro AS {dec}) * 44 * tcorp * tf"
                    " DIV (20 * tf * tcorp + 6 * tcorp + 18 * dl * n)"
                )
            )
            .cast("long")
            .alias("score_micro"),
        )
    )
    return scored.orderBy(F.col("score_micro").desc(), "doc_id").limit(BM25_TOP)


@register(
    "text_inverted_index_query",
    doc="Conjunctive boolean retrieval: the 3 most ubiquitous terms "
    "(highest df, lexicographic ties) intersect their posting lists — "
    "docs matching ALL three via HAVING COUNT = 3 over the broadcast "
    "term join — with the match-set cardinality and id checksums. The "
    "AND-query primitive under every keyword filter at corpus scale.",
    oracle=f"""
WITH {_SQL_POSTINGS},
qterms AS (SELECT w FROM wstat ORDER BY df DESC, w LIMIT 3),
matched AS (
    SELECT f.doc_id
    FROM tf f JOIN qterms q ON q.w = f.w
    GROUP BY f.doc_id
    HAVING COUNT(*) = 3
),
term_row AS (
    SELECT STRING_AGG(w, ',' ORDER BY w) AS query_terms FROM qterms
)
SELECT t.query_terms,
       CAST(COUNT(m.doc_id) AS BIGINT) AS n_docs_all_terms,
       CAST(COALESCE(MIN(m.doc_id), -1) AS BIGINT) AS min_doc,
       CAST(COALESCE(MAX(m.doc_id), -1) AS BIGINT) AS max_doc,
       CAST(COALESCE(SUM(m.doc_id), 0) AS BIGINT) AS doc_checksum
FROM term_row t LEFT JOIN matched m ON TRUE
GROUP BY t.query_terms
""",
)
def text_inverted_index_query(spark, sf_dir):
    tf, _dl, _corpus, wstat = _postings(spark, sf_dir)
    qterms = wstat.orderBy(F.col("df").desc(), "w").limit(3).select("w")
    matched = (
        tf.join(F.broadcast(qterms), "w")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") == 3)
        .select("doc_id")
    )
    term_row = qterms.agg(
        F.concat_ws(",", F.array_sort(F.collect_list("w"))).alias(
            "query_terms"
        )
    )
    return (
        term_row.join(matched, F.lit(True), "left")
        .groupBy("query_terms")
        .agg(
            bigint(F.count(F.col("doc_id"))).alias("n_docs_all_terms"),
            bigint(F.coalesce(F.min("doc_id"), F.lit(-1))).alias("min_doc"),
            bigint(F.coalesce(F.max("doc_id"), F.lit(-1))).alias("max_doc"),
            bigint(F.coalesce(F.sum("doc_id"), F.lit(0))).alias(
                "doc_checksum"
            ),
        )
    )


WIN_K = 4  # words per kgram
WIN_W = 4  # kgram hashes per winnowing window
POS_CAP = 65_536  # declared: < 2^16 kgrams per doc (fixture max ~200)


@register(
    "text_winnowing_fingerprint",
    doc=f"MOSS winnowing fingerprints per source: {WIN_K}-word kgrams "
    "hash via the '0x'||md5 idiom, every window of "
    f"{WIN_W} consecutive kgram hashes selects its minimum with the "
    "RIGHTMOST-position tie rule — encoded exactly as one integer "
    f"min(h * {POS_CAP} - pos) (declared cap: < {POS_CAP} kgrams/doc) "
    "so the argmin needs no struct comparisons. Reports kgram mass, "
    "selected-fingerprint count and density (the winnowing guarantee "
    "puts density near 2/(w+1)), and the distinct fingerprint count — "
    "the plagiarism-detection sampler next to text_fingerprint's "
    "rolling hash. Bounded trailing windows partitioned by doc.",
    oracle=f"""
WITH tok AS (
    SELECT doc_id, w, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) - 1
               AS pos
    FROM (
        SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w,
               GENERATE_SUBSCRIPTS(STRING_SPLIT(text, ' '), 1) AS i
        FROM documents
    ) WHERE w <> ''
),
kgram AS (
    SELECT doc_id, pos,
           w || ' ' || LEAD(w, 1) OVER dw || ' ' || LEAD(w, 2) OVER dw
             || ' ' || LEAD(w, 3) OVER dw AS g,
           LEAD(w, 3) OVER dw AS w3
    FROM tok
    WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)
),
kh AS (
    SELECT doc_id, pos,
           ('0x' || SUBSTR(MD5(g), 1, 8))::BIGINT * {POS_CAP} - pos AS key
    FROM kgram WHERE w3 IS NOT NULL
),
wmin AS (
    SELECT doc_id,
           MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN {WIN_W - 1} PRECEDING AND CURRENT ROW) AS wkey,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS rn
    FROM kh
),
sel AS (
    SELECT DISTINCT doc_id, wkey FROM wmin WHERE rn >= {WIN_W}
),
khagg AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kgrams FROM kh GROUP BY 1
),
selagg AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_selected,
           CAST(COUNT(DISTINCT (wkey + {POS_CAP - 1}) // {POS_CAP}) AS BIGINT)
               AS n_fp
    FROM sel GROUP BY 1
)
SELECT d.source,
       CAST(SUM(COALESCE(k.n_kgrams, 0)) AS BIGINT) AS n_kgrams,
       CAST(SUM(COALESCE(s.n_selected, 0)) AS BIGINT) AS n_selected,
       CAST(SUM(COALESCE(s.n_fp, 0)) AS BIGINT) AS n_distinct_fp_sum,
       CAST(CASE WHEN SUM(COALESCE(k.n_kgrams, 0)) = 0 THEN 0
                 ELSE (SUM(COALESCE(s.n_selected, 0)) * {BP})
                      // SUM(COALESCE(k.n_kgrams, 0))
            END AS BIGINT) AS density_bp
FROM documents d
LEFT JOIN khagg k ON k.doc_id = d.doc_id
LEFT JOIN selagg s ON s.doc_id = d.doc_id
GROUP BY d.source
ORDER BY d.source
""",
)
def text_winnowing_fingerprint(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    tok = (
        docs.select(
            "doc_id",
            "source",
            F.posexplode(
                F.filter(
                    F.split(F.col("text"), " ", -1), lambda w: w != ""
                )
            ).alias("pos", "w"),
        )
    )
    dw = Window.partitionBy("doc_id").orderBy("pos")
    kgram = tok.select(
        "doc_id",
        "source",
        "pos",
        F.concat_ws(
            " ",
            "w",
            F.lead("w", 1).over(dw),
            F.lead("w", 2).over(dw),
            F.lead("w", 3).over(dw),
        ).alias("g"),
        F.lead("w", 3).over(dw).alias("w3"),
    ).filter(F.col("w3").isNotNull())
    kh = kgram.select(
        "doc_id",
        "source",
        "pos",
        (
            F.conv(F.substring(F.md5("g"), 1, 8), 16, 10).cast("long")
            * POS_CAP
            - F.col("pos")
        ).alias("key"),
    )
    wm = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(WIN_W - 1), 0)
    )
    wmin = kh.select(
        "doc_id",
        "source",
        F.min("key").over(wm).alias("wkey"),
        F.row_number().over(dw).alias("rn"),
    )
    sel = (
        wmin.filter(F.col("rn") >= WIN_W)
        .select("doc_id", "source", "wkey")
        .distinct()
    )
    src = docs.select("source").distinct()
    kg_per_source = kh.groupBy("source").agg(
        bigint(F.count(F.lit(1))).alias("n_kgrams")
    )
    sel_per_source = sel.groupBy("source").agg(
        bigint(F.count(F.lit(1))).alias("n_selected")
    )
    fp_per_doc = sel.groupBy("doc_id", "source").agg(
        F.count_distinct(
            F.expr(f"(wkey + {POS_CAP - 1}) DIV {POS_CAP}")
        ).alias("n_fp")
    )
    fp_per_source = fp_per_doc.groupBy("source").agg(
        bigint(F.sum("n_fp")).alias("n_distinct_fp_sum")
    )
    return (
        src.join(kg_per_source, "source", "left")
        .join(sel_per_source, "source", "left")
        .join(fp_per_source, "source", "left")
        .select(
            "source",
            F.coalesce("n_kgrams", F.lit(0)).alias("n_kgrams"),
            F.coalesce("n_selected", F.lit(0)).alias("n_selected"),
            F.coalesce("n_distinct_fp_sum", F.lit(0)).alias(
                "n_distinct_fp_sum"
            ),
            F.expr(
                f"CAST(CASE WHEN COALESCE(n_kgrams, 0) = 0 THEN 0"
                f" ELSE (COALESCE(n_selected, 0) * {BP})"
                f" DIV COALESCE(n_kgrams, 0) END AS BIGINT)"
            ).alias("density_bp"),
        )
        .orderBy("source")
    )
