"""Round-9 wave-3 — embedding-geometry audits, extending the vector
family (centroids / norms / PCA / quantization-error live in
vector_agg.py; ANN and dedup in similarity.py; these add the corpus
geometry health checks an embedding pipeline runs before trusting
similarity search):

- ``embedding_isotropy_audit``: mean pairwise (quantized) dot product
  via the Gram identity sum_{i != j} <q_i, q_j> = ||sum q||^2 -
  sum ||q_i||^2 — ONE pass builds the per-dimension sum vector and the
  per-vector norm mass, so the all-pairs quantity costs O(N*d), never
  O(N^2). High mean dot = anisotropic (collapsed) embedding space —
  the classic "representation degeneration" audit.
- ``embedding_dim_variance_topk``: exact per-dimension variance proxy
  n*sum(x^2) - S^2 over quantized values, top dims by it — the "which
  dimensions carry signal" readout that motivates matryoshka cuts.
- ``similarity_ndcg_eval``: NDCG@10 of the exact quantized-cosine
  ranking against label-match relevance — the graded companion of
  similarity_retrieval_metrics' P@10/MRR. Discount weights are
  FLOOR(10^9 / LOG2(i+1)) per position (each a deterministic function
  of a tiny integer, so the one IEEE log2 per position is mirrored),
  and NDCG = (10^4 * DCG) DIV IDCG on exact integers.

Reference scope: the reference engine is an event log
(src/broker/main.rs); these are declared aggregates over the
``embeddings`` table per SURVEY §2B.

Scale (100 TB): isotropy and dim-variance are one posexplode +
per-dimension groupBy (d-bounded spine downstream); NDCG's ranking is
a distributed TakeOrdered top-10 with the position window over the
10-row candidate frame.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from cascade_spark.operators._util import bigint, t
from cascade_spark.plans.registry import register

QV = 200  # floor-quantization scale (similarity.py Q_SCALE convention)
NDCG_K = 10
NDCG_SCALE = 1_000_000_000


def _quant(col):
    return F.transform(col, lambda x: F.floor(x.cast("double") * QV))


@register(
    "embedding_isotropy_audit",
    doc="Isotropy audit via the Gram identity: mean off-diagonal "
    "quantized dot = (||sum_i q_i||^2 - sum_i ||q_i||^2) / (N(N-1)), "
    "reported as an exact integer rational in micro units — the "
    "all-pairs mean without any pair join (O(N*d) total). Also emits "
    "the total diagonal mass and the dominant-dimension share of the "
    "sum vector. Quantization is the floor(x*200) int8-range contract "
    "shared with the ANN family.",
    oracle=f"""
WITH el AS (
    SELECT e.vec_id, u.i AS dim,
           CAST(FLOOR(CAST(e.embedding[u.i] AS DOUBLE) * {QV}) AS BIGINT) AS q
    FROM embeddings e,
         LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(e.embedding))) AS i) u
),
dimsum AS (
    SELECT dim, CAST(SUM(q) AS BIGINT) AS s FROM el GROUP BY dim
),
gram AS (
    SELECT CAST(SUM(CAST(s AS HUGEINT) * s) AS HUGEINT) AS sum_sq,
           CAST(MAX(s * s) AS BIGINT) AS max_dim_sq
    FROM dimsum
),
diag AS (
    SELECT CAST(SUM(CAST(q AS HUGEINT) * q) AS HUGEINT) AS diag_mass FROM el
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings)
SELECT n.n AS n_vectors,
       CAST(gram.sum_sq AS BIGINT) AS gram_total,
       CAST(diag.diag_mass AS BIGINT) AS diag_mass,
       CAST(CASE WHEN n.n <= 1 THEN 0
                 ELSE ((gram.sum_sq - diag.diag_mass) * 1000000)
                      // (CAST(n.n AS HUGEINT) * (n.n - 1))
            END AS BIGINT) AS mean_offdiag_dot_micro,
       CAST(CASE WHEN gram.sum_sq = 0 THEN 0
                 ELSE (CAST(gram.max_dim_sq AS HUGEINT) * 10000) // gram.sum_sq
            END AS BIGINT) AS top_dim_share_bp
FROM n, gram, diag
""",
)
def embedding_isotropy_audit(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    el = e.select(
        "vec_id", F.posexplode(_quant(F.col("embedding"))).alias("pos", "q")
    )
    dimsum = el.groupBy("pos").agg(bigint(F.sum("q")).alias("s"))
    gram = dimsum.agg(
        F.sum(F.col("s").cast("decimal(38,0)") * F.col("s"))
        .cast("decimal(38,0)")
        .alias("sum_sq"),
        bigint(F.max(F.col("s") * F.col("s"))).alias("max_dim_sq"),
    )
    diag = el.agg(
        F.sum(F.col("q").cast("decimal(38,0)") * F.col("q"))
        .cast("decimal(38,0)")
        .alias("diag_mass")
    )
    n = e.agg(bigint(F.count(F.lit(1))).alias("n"))
    one = n.crossJoin(F.broadcast(gram)).crossJoin(F.broadcast(diag))
    return one.select(
        F.col("n").alias("n_vectors"),
        F.col("sum_sq").cast("long").alias("gram_total"),
        F.col("diag_mass").cast("long").alias("diag_mass"),
        F.expr(
            "CAST(CASE WHEN n <= 1 THEN 0"
            " ELSE ((sum_sq - diag_mass) * 1000000)"
            " DIV (CAST(n AS DECIMAL(38,0)) * (n - 1)) END AS BIGINT)"
        ).alias("mean_offdiag_dot_micro"),
        F.expr(
            "CAST(CASE WHEN sum_sq = 0 THEN 0"
            " ELSE (CAST(max_dim_sq AS DECIMAL(38,0)) * 10000) DIV sum_sq"
            " END AS BIGINT)"
        ).alias("top_dim_share_bp"),
    )


DIMVAR_TOP = 8


@register(
    "embedding_dim_variance_topk",
    doc=f"Top-{DIMVAR_TOP} embedding dimensions by the exact integer "
    "variance proxy n*sum(q^2) - S^2 over floor-quantized values — the "
    "signal-concentration readout behind matryoshka truncation "
    "decisions. One posexplode + per-dimension groupBy (d-bounded "
    "spine); the top-k is a TakeOrdered over d rows.",
    oracle=f"""
WITH el AS (
    SELECT u.i AS dim,
           CAST(FLOOR(CAST(e.embedding[u.i] AS DOUBLE) * {QV}) AS BIGINT) AS q
    FROM embeddings e,
         LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(e.embedding))) AS i) u
),
per_dim AS (
    SELECT dim, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(q) AS BIGINT) AS s,
           CAST(SUM(q * q) AS BIGINT) AS qq
    FROM el GROUP BY dim
),
scored AS (
    SELECT dim, n, s,
           CAST(CAST(n AS HUGEINT) * qq - CAST(s AS HUGEINT) * s AS BIGINT)
               AS var_n2
    FROM per_dim
)
SELECT dim, n, s AS sum_q, var_n2
FROM scored
ORDER BY var_n2 DESC, dim
LIMIT {DIMVAR_TOP}
""",
)
def embedding_dim_variance_topk(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    el = e.select(F.posexplode(_quant(F.col("embedding"))).alias("pos", "q"))
    per_dim = el.groupBy("pos").agg(
        bigint(F.count(F.lit(1))).alias("n"),
        bigint(F.sum("q")).alias("s"),
        bigint(F.sum(F.col("q") * F.col("q"))).alias("qq"),
    )
    scored = per_dim.select(
        # oracle dims are 1-based (DuckDB list indexing); posexplode is 0-based
        (F.col("pos") + 1).cast("long").alias("dim"),
        "n",
        F.col("s").alias("sum_q"),
        (
            F.col("n").cast("decimal(38,0)") * F.col("qq")
            - F.col("s").cast("decimal(38,0)") * F.col("s")
        )
        .cast("long")
        .alias("var_n2"),
    )
    return scored.orderBy(F.col("var_n2").desc(), "dim").limit(DIMVAR_TOP)


@register(
    "similarity_ndcg_eval",
    doc=f"NDCG@{NDCG_K} of the exact quantized-cosine ranking against "
    "query item 0, with binary label-match relevance — the graded "
    "retrieval-quality companion of similarity_retrieval_metrics. "
    f"Discount per position i is FLOOR({NDCG_SCALE}/LOG2(i+1)): each "
    "weight is one mirrored IEEE log2 of a tiny integer floored to an "
    "exact int, so DCG/IDCG are exact integer sums and NDCG is one "
    "truncated division. The ranking is a distributed TakeOrdered "
    f"top-{NDCG_K}; the position window runs over the {NDCG_K}-row "
    "candidate frame.",
    oracle=f"""
WITH qv AS (SELECT embedding AS q, label AS qlabel FROM embeddings
            WHERE vec_id = 0),
quant AS (
    SELECT e.vec_id, e.label,
           CAST(SUM(FLOOR(CAST(e.embedding[i] AS DOUBLE) * {QV})
                    * FLOOR(CAST(qv.q[i] AS DOUBLE) * {QV})) AS BIGINT) AS qdot,
           CAST(SUM(FLOOR(CAST(e.embedding[i] AS DOUBLE) * {QV})
                    * FLOOR(CAST(e.embedding[i] AS DOUBLE) * {QV})) AS BIGINT) AS xn2,
           CAST(SUM(FLOOR(CAST(qv.q[i] AS DOUBLE) * {QV})
                    * FLOOR(CAST(qv.q[i] AS DOUBLE) * {QV})) AS BIGINT) AS qn2
    FROM embeddings e, qv,
         LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(e.embedding))) AS i)
    WHERE e.vec_id <> 0
    GROUP BY e.vec_id, e.label
),
scored AS (
    SELECT vec_id, label,
           CAST(qdot * 10000 // (CASE
               WHEN (CAST(FLOOR(SQRT(CAST(xn2 * qn2 AS DOUBLE))) AS BIGINT) + 1)
                    * (CAST(FLOOR(SQRT(CAST(xn2 * qn2 AS DOUBLE))) AS BIGINT) + 1)
                    <= xn2 * qn2
               THEN CAST(FLOOR(SQRT(CAST(xn2 * qn2 AS DOUBLE))) AS BIGINT) + 1
               WHEN CAST(FLOOR(SQRT(CAST(xn2 * qn2 AS DOUBLE))) AS BIGINT)
                    * CAST(FLOOR(SQRT(CAST(xn2 * qn2 AS DOUBLE))) AS BIGINT)
                    > xn2 * qn2
               THEN CAST(FLOOR(SQRT(CAST(xn2 * qn2 AS DOUBLE))) AS BIGINT) - 1
               ELSE CAST(FLOOR(SQRT(CAST(xn2 * qn2 AS DOUBLE))) AS BIGINT)
           END) AS BIGINT) AS cos_bp
    FROM quant
),
topk AS (
    SELECT vec_id, label, cos_bp,
           ROW_NUMBER() OVER (ORDER BY cos_bp DESC, vec_id) AS pos
    FROM scored
    ORDER BY cos_bp DESC, vec_id
    LIMIT {NDCG_K}
),
rel AS (
    SELECT pos,
           CASE WHEN t.label = (SELECT qlabel FROM qv) THEN 1 ELSE 0 END AS r,
           CAST(FLOOR({NDCG_SCALE} / LOG2(pos + 1.0)) AS BIGINT) AS w
    FROM topk t
),
dcg AS (SELECT CAST(SUM(r * w) AS BIGINT) AS dcg,
               CAST(SUM(r) AS BIGINT) AS n_rel
        FROM rel),
ideal AS (
    SELECT CAST(COALESCE(SUM(CAST(FLOOR({NDCG_SCALE} / LOG2(i + 1.0)) AS BIGINT)), 0)
               AS BIGINT) AS idcg
    FROM (SELECT UNNEST(GENERATE_SERIES(1, (SELECT GREATEST(n_rel, 0) FROM dcg))) AS i)
)
SELECT dcg.n_rel, dcg.dcg, ideal.idcg,
       CAST(CASE WHEN ideal.idcg = 0 THEN 0
                 ELSE (10000 * dcg.dcg) // ideal.idcg END AS BIGINT) AS ndcg_bp
FROM dcg, ideal
""",
)
def similarity_ndcg_eval(spark, sf_dir):
    from cascade_spark.operators.analytics_extra import _isqrt

    e = t(spark, sf_dir, "embeddings")

    def _idot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    query = e.filter(F.col("vec_id") == 0).select(
        _quant(F.col("embedding")).alias("_qq"), F.col("label").alias("qlabel")
    )
    # corpus quantized ONCE below the crossJoin (round-13): the inlined
    # form re-ran the 64-wide interpreted _quant lambda 3x per row
    scored = (
        e.filter(F.col("vec_id") != 0)
        .select("vec_id", "label", _quant(F.col("embedding")).alias("qx"))
        .crossJoin(F.broadcast(query))
        .select(
            "vec_id",
            "label",
            "qlabel",
            _idot(F.col("qx"), F.col("_qq")).alias("qdot"),
            _idot(F.col("qx"), F.col("qx")).alias("xn2"),
            _idot(F.col("_qq"), F.col("_qq")).alias("qn2"),
        )
        .select(
            "vec_id",
            "label",
            "qlabel",
            F.expr("qdot * 10000").alias("_num"),
            _isqrt(F.col("xn2") * F.col("qn2")).alias("_nrm"),
        )
        .select(
            "vec_id",
            "label",
            "qlabel",
            F.expr("CAST(_num DIV _nrm AS BIGINT)").alias("cos_bp"),
        )
    )
    topk = scored.orderBy(F.col("cos_bp").desc(), "vec_id").limit(NDCG_K)
    pos_w = Window.orderBy(F.col("cos_bp").desc(), "vec_id")
    rel = topk.select(
        F.row_number().over(pos_w).cast("long").alias("pos"),
        F.when(F.col("label") == F.col("qlabel"), 1).otherwise(0).alias("r"),
    ).select(
        "pos",
        "r",
        F.floor(F.lit(NDCG_SCALE) / F.log2(F.col("pos") + 1.0))
        .cast("long")
        .alias("w"),
    )
    dcg = rel.agg(
        bigint(F.coalesce(F.sum(F.col("r") * F.col("w")), F.lit(0))).alias("dcg"),
        bigint(F.coalesce(F.sum("r"), F.lit(0))).alias("n_rel"),
    )
    ideal = dcg.select(
        "dcg",
        "n_rel",
        F.expr(
            f"""
            CAST(CASE WHEN n_rel <= 0 THEN 0 ELSE
                aggregate(sequence(CAST(1 AS BIGINT), n_rel),
                          CAST(0 AS BIGINT),
                          (s, i) -> s + CAST(FLOOR({NDCG_SCALE} / LOG2(i + 1.0))
                                             AS BIGINT))
            END AS BIGINT)
            """
        ).alias("idcg"),
    )
    return ideal.select(
        "n_rel",
        "dcg",
        "idcg",
        F.expr(
            "CAST(CASE WHEN idcg = 0 THEN 0"
            " ELSE (10000 * dcg) DIV idcg END AS BIGINT)"
        ).alias("ndcg_bp"),
    )
