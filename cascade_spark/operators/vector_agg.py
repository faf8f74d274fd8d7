"""Distributed vector aggregation — per-label embedding centroids.

The building block for IVF training, semantic-cluster summarization, and
embedding-drift monitoring: posexplode the vector to (label, dim, value)
triples, aggregate per (label, dim), and (optionally) reassemble. One
shuffle keyed on (label, dim) with map-side partial sums — at 100 TB the
shuffled aggregate is |labels|×|dims| rows regardless of input size, so
this scales linearly in the scan.

Determinism (cross-engine, see _util.py): per-element ROUND(double, k)
can straddle a half-boundary differently in Spark vs DuckDB, so elements
are quantized by *truncation* toward zero (rule-free: both engines see
the identical float32→double value), summed as exact BIGINTs, and the
mean is one IEEE double division of two exact integers — bit-identical
everywhere, with no rounding step at all.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cascade_spark.plans.registry import register
from cascade_spark.operators._util import barrier, bigint, t
from cascade_spark.operators.similarity import Q_SCALE

Q = 10_000  # quantization scale: 4 fractional digits


@register(
    "embedding_centroid_per_label",
    doc="Per-label centroid of the 64-dim embedding column: "
    "posexplode → (label, dim) mean of truncation-quantized elements, "
    "plus member count; exact-integer sums make the mean engine-exact.",
    oracle=f"""
SELECT label,
       CAST(u.i - 1 AS BIGINT) AS dim,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(SUM(CAST(TRUNC(CAST(e.embedding[u.i] AS DOUBLE) * {Q}.0) AS BIGINT)) AS BIGINT) AS sum_q,
       CAST(SUM(CAST(TRUNC(CAST(e.embedding[u.i] AS DOUBLE) * {Q}.0) AS BIGINT)) AS DOUBLE)
         / (COUNT(*) * {Q}.0) AS centroid
FROM embeddings e,
     LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(e.embedding))) AS i) u
GROUP BY label, u.i
ORDER BY label, dim
""",
)
def embedding_centroid_per_label(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    # Spark CAST double→long truncates toward zero ≡ DuckDB TRUNC.
    xq = (F.col("x").cast("double") * F.lit(float(Q))).cast("long")
    elems = e.select(
        "label",
        F.posexplode("embedding").alias("pos", "x"),
    ).select("label", "pos", xq.alias("xq"))
    return (
        elems.groupBy("label", "pos")
        .agg(
            bigint(F.count(F.lit(1))).alias("n_vectors"),
            bigint(F.sum("xq")).alias("sum_q"),
        )
        .select(
            "label",
            bigint(F.col("pos")).alias("dim"),
            "n_vectors",
            "sum_q",
            (F.col("sum_q").cast("double") / (F.col("n_vectors") * F.lit(float(Q)))).alias(
                "centroid"
            ),
        )
        .orderBy("label", "dim")
    )


@register(
    "embedding_norm_audit",
    doc="Vector hygiene audit per label: vector count, dimension "
    "consistency (min/max — a ragged dim is an ingest bug), zero-norm "
    "count (unservable for cosine), and the exact quantized "
    "sum-of-squares energy. Map-only over the embedding column with a "
    "tiny per-label aggregate — the pre-flight every ANN build should "
    "run at 100 TB before paying for an index. Quantization by "
    "truncation (floor of scaled value) keeps both engines bit-exact.",
    oracle=f"""
WITH per_vec AS (
    SELECT e.label,
           LEN(e.embedding) AS dim,
           (SELECT COALESCE(SUM(CAST(FLOOR(CAST(e.embedding[i] AS DOUBLE) * {Q}) AS BIGINT)
                                * CAST(FLOOR(CAST(e.embedding[i] AS DOUBLE) * {Q}) AS BIGINT)), 0)
            FROM UNNEST(GENERATE_SERIES(1, LEN(e.embedding))) AS t(i)) AS qnorm2
    FROM embeddings e
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(MIN(dim) AS BIGINT) AS min_dim,
       CAST(MAX(dim) AS BIGINT) AS max_dim,
       CAST(SUM(CASE WHEN qnorm2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_norm,
       CAST(SUM(qnorm2) AS BIGINT) AS total_qnorm2
FROM per_vec GROUP BY label ORDER BY label
""",
)
def embedding_norm_audit(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    qnorm2 = F.aggregate(
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * Q).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, q: acc + q * q,
    )
    per_vec = e.select(
        "label",
        F.size("embedding").alias("dim"),
        qnorm2.alias("qnorm2"),
    )
    return (
        per_vec.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.min("dim").cast("long").alias("min_dim"),
            F.max("dim").cast("long").alias("max_dim"),
            F.sum(F.when(F.col("qnorm2") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_zero_norm"),
            F.sum("qnorm2").cast("long").alias("total_qnorm2"),
        )
        .orderBy("label")
    )


@register(
    "similarity_centroid_cosine_matrix",
    doc="Pairwise cosine similarity between label centroids, bit-exact: "
    "cosine is scale-invariant, so the un-normalized centroid (the "
    "quantized SUM vector, exact decimal(38,0) integers) substitutes "
    "for the mean and the whole computation stays in exact arithmetic "
    "until one final IEEE expression per pair. Shape: one (label, dim) "
    "aggregate (|labels|*|dims| rows regardless of corpus size), a "
    "self-join on dim over that tiny frame, and a |labels|^2/2-row "
    "result — the inter-cluster geometry audit an IVF/clustering "
    "build runs at 100 TB for the cost of one scan.",
    oracle=f"""
WITH q AS (
    SELECT e.label, t.i AS i,
           CAST(FLOOR(CAST(e.embedding[t.i] AS DOUBLE) * {Q}) AS BIGINT) AS qv
    FROM embeddings e, UNNEST(GENERATE_SERIES(1, LEN(e.embedding))) AS t(i)
), cent AS (
    SELECT label, i, SUM(CAST(qv AS HUGEINT)) AS s
    FROM q GROUP BY label, i
), pairs AS (
    SELECT a.label AS label_a, b.label AS label_b,
           SUM(a.s * b.s) AS dot,
           SUM(a.s * a.s) AS na,
           SUM(b.s * b.s) AS nb
    FROM cent a JOIN cent b ON a.i = b.i AND a.label < b.label
    GROUP BY a.label, b.label
)
SELECT CAST(label_a AS BIGINT) AS label_a, CAST(label_b AS BIGINT) AS label_b,
       ROUND(CAST(dot AS DOUBLE) / (SQRT(CAST(na AS DOUBLE)) * SQRT(CAST(nb AS DOUBLE))), 6)
         AS centroid_cosine
FROM pairs
ORDER BY label_a, label_b
""",
)
def similarity_centroid_cosine_matrix(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    q = e.select(
        "label", F.posexplode(F.col("embedding")).alias("i0", "v")
    ).select(
        "label",
        (F.col("i0") + 1).alias("i"),
        F.floor(F.col("v").cast("double") * Q).cast("long").alias("qv"),
    )
    big = "decimal(38,0)"
    cent = q.groupBy("label", "i").agg(F.sum(F.col("qv").cast(big)).alias("s"))
    a, b = cent.alias("a"), cent.alias("b")
    pairs = (
        a.join(b, (F.col("a.i") == F.col("b.i")) & (F.col("a.label") < F.col("b.label")))
        .groupBy(F.col("a.label").alias("label_a"), F.col("b.label").alias("label_b"))
        .agg(
            F.sum(F.col("a.s") * F.col("b.s")).alias("dot"),
            F.sum(F.col("a.s") * F.col("a.s")).alias("na"),
            F.sum(F.col("b.s") * F.col("b.s")).alias("nb"),
        )
    )
    cos = F.col("dot").cast("double") / (
        F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))
    )
    return pairs.select(
        F.col("label_a").cast("long").alias("label_a"),
        F.col("label_b").cast("long").alias("label_b"),
        F.round(cos, 6).alias("centroid_cosine"),
    ).orderBy("label_a", "label_b")


@register(
    "embedding_quantization_error_audit",
    doc="int8 scalar-quantization reconstruction-error audit — the "
    "acceptance gate before switching retrieval to the 4x-smaller "
    "quantized index (similarity_quantized_topk's scale path): per "
    "label, the count, mean and max per-vector quantization residual. "
    "Residual r_i = x_i*200 - floor(x_i*200) in [0,1) is floor-scaled "
    "to EXACT micro-unit integers per component, summed per vector "
    "with a left-to-right integer fold (F.aggregate — no IEEE "
    "summation-order hazard), then rolled up per label with integer "
    "mean. Map-only until the tiny per-label aggregate.",
    oracle=f"""
WITH per_comp AS (
    SELECT vec_id, label,
           CAST(FLOOR((CAST(embedding[i] AS DOUBLE) * {Q_SCALE}
                       - FLOOR(CAST(embedding[i] AS DOUBLE) * {Q_SCALE}))
                      * 1000000) AS BIGINT) AS r_micro
    FROM embeddings,
         LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(embedding))) AS i)
),
per_vec AS (
    SELECT vec_id, label, CAST(SUM(r_micro) AS BIGINT) AS err_micro
    FROM per_comp GROUP BY 1, 2
)
SELECT CAST(label AS BIGINT) AS label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(err_micro) // COUNT(*) AS BIGINT) AS mean_err_micro,
       CAST(MAX(err_micro) AS BIGINT) AS max_err_micro
FROM per_vec
GROUP BY label
ORDER BY label
""",
)
def embedding_quantization_error_audit(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    r_micro = F.transform(
        F.col("embedding"),
        lambda x: F.floor(
            (
                x.cast("double") * Q_SCALE
                - F.floor(x.cast("double") * Q_SCALE)
            )
            * 1000000
        ),
    )
    per_vec = e.select(
        F.col("label").cast("long").alias("label"),
        F.aggregate(
            r_micro, F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("err_micro"),
    )
    agg = per_vec.groupBy("label").agg(
        bigint(F.count(F.lit(1))).alias("n_vecs"),
        bigint(F.sum("err_micro")).alias("s"),
        bigint(F.max("err_micro")).alias("max_err_micro"),
    )
    return agg.select(
        "label",
        "n_vecs",
        F.expr("s DIV n_vecs").cast("long").alias("mean_err_micro"),
        "max_err_micro",
    ).orderBy("label")


PCA_ITERS = 3
PCA_SCALE = 1024  # direction vector renormalized to max |component| = 1024


def _pca_iter_sql(k: int) -> str:
    """One unrolled power-iteration round as oracle CTEs (v{k-1} -> v{k})."""
    return f"""
y{k} AS (SELECT e.vec_id, CAST(SUM(e.a * v{k-1}.v) AS BIGINT) AS y
         FROM e JOIN v{k-1} ON v{k-1}.i = e.i GROUP BY e.vec_id),
z{k} AS (SELECT e.i, CAST(SUM(e.a * y{k}.y) AS BIGINT) AS z
         FROM e JOIN y{k} ON y{k}.vec_id = e.vec_id GROUP BY e.i),
m{k} AS (SELECT MAX(ABS(z)) AS m FROM z{k}),
v{k} AS (SELECT z{k}.i, CAST((z{k}.z * {PCA_SCALE}) // m{k}.m AS BIGINT) AS v
         FROM z{k}, m{k})"""


@register(
    "embedding_pca_power_iteration",
    doc=f"Top principal direction of the quantized embedding matrix by "
    f"{PCA_ITERS} rounds of power iteration on AᵀA — the Spark shape of "
    "distributed PCA (the covariance matvec as two join+aggregate "
    "passes: y = A·v is a shuffle on vec_id, z = Aᵀ·y a shuffle on the "
    "64-value dim key; the direction vector is a 64-row frame, "
    "broadcast-joined each round, so per-round cost is two linear "
    "passes over the element triples at any corpus size). EXACT "
    "integer arithmetic end-to-end: elements are the int8-range "
    f"quantized values, each round renormalizes to max|v| = {PCA_SCALE} "
    "by truncating division (Spark DIV ≡ DuckDB // on negatives), so "
    "every intermediate is a bounded integer and the final direction "
    "hash-checks against the unrolled-CTE oracle. Start vector: all "
    "ones (deterministic; sign is pinned by the shared arithmetic).",
    oracle=f"""
WITH e AS (
    SELECT vec_id, i,
           CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * {Q_SCALE}) AS BIGINT) AS a
    FROM embeddings,
         LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(embedding))) AS i)
),
v0 AS (SELECT UNNEST(GENERATE_SERIES(1, 64)) AS i, CAST(1 AS BIGINT) AS v),
{",".join(_pca_iter_sql(k) for k in range(1, PCA_ITERS + 1))}
SELECT CAST(i AS BIGINT) AS dim, v AS v_scaled FROM v{PCA_ITERS} ORDER BY dim
""",
)
def embedding_pca_power_iteration(spark, sf_dir):
    from pyspark import StorageLevel

    emb = t(spark, sf_dir, "embeddings")
    e = (
        emb.select("vec_id", F.posexplode("embedding").alias("pos", "x"))
        .select(
            "vec_id",
            (F.col("pos") + 1).alias("i"),
            F.floor(F.col("x").cast("double") * Q_SCALE).cast("long").alias("a"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    v = spark.range(1, 65).select(
        F.col("id").cast("int").alias("i"), F.lit(1).cast("long").alias("v")
    )
    for _ in range(PCA_ITERS):
        y = (
            e.join(F.broadcast(v), "i")
            .groupBy("vec_id")
            .agg(F.sum(F.col("a") * F.col("v")).cast("long").alias("y"))
        )
        z = (
            e.join(y, "vec_id")
            .groupBy("i")
            .agg(F.sum(F.col("a") * F.col("y")).cast("long").alias("z"))
            # referenced twice per round (the max-norm aggregate + the
            # renormalized v): without a barrier the plan doubles every
            # round, re-running both matvec passes 2^k times
            .transform(barrier)
        )
        m = z.agg(F.max(F.abs(F.col("z"))).alias("m"))
        v = z.crossJoin(F.broadcast(m)).select(
            "i",
            F.expr(f"CAST((z * {PCA_SCALE}) DIV m AS LONG)").alias("v"),
        )
    return v.select(
        F.col("i").cast("long").alias("dim"), F.col("v").alias("v_scaled")
    ).orderBy("dim")


MATRYOSHKA_KS = (8, 16, 32)


@register(
    "embedding_matryoshka_energy",
    doc="Matryoshka-representation audit (Kusupati et al. 2022): how "
    "much of each vector's squared energy lives in its first k "
    f"dimensions, for k in {MATRYOSHKA_KS}. Per-vector share_bp = "
    "(sum_{i<=k} q_i^2 * 10000) DIV sum_i q_i^2 over the "
    "truncation-quantized components (exact integers, no IEEE "
    "boundary), then per (k, label): count, min/avg/max share. Answers "
    "whether prefix-truncated vectors are safe for the coarse stage of "
    "retrieval (share ~ k/64 means NO Matryoshka structure — energy is "
    "spread uniformly, so truncation costs recall proportionally). "
    "Map-only per-vector arithmetic + one tiny groupBy on (k, label): "
    "at 100 TB the shuffle carries 3·|labels| rows.",
    oracle=f"""
WITH q AS (
    SELECT e.vec_id, e.label, k.k,
           SUM(CASE WHEN u.i <= k.k
                    THEN CAST(TRUNC(CAST(e.embedding[u.i] AS DOUBLE) * {Q}.0) AS BIGINT)
                         * CAST(TRUNC(CAST(e.embedding[u.i] AS DOUBLE) * {Q}.0) AS BIGINT)
                    ELSE 0 END) AS qsqk,
           SUM(CAST(TRUNC(CAST(e.embedding[u.i] AS DOUBLE) * {Q}.0) AS BIGINT)
               * CAST(TRUNC(CAST(e.embedding[u.i] AS DOUBLE) * {Q}.0) AS BIGINT)) AS qsq
    FROM embeddings e,
         LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(e.embedding))) AS i) u,
         (VALUES {", ".join(f"({k})" for k in MATRYOSHKA_KS)}) k(k)
    GROUP BY e.vec_id, e.label, k.k
),
s AS (
    SELECT vec_id, label, k,
           CASE WHEN qsq > 0 THEN CAST(qsqk * 10000 // qsq AS BIGINT) ELSE 0 END AS share_bp
    FROM q
)
SELECT CAST(k AS BIGINT) AS k, label,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(MIN(share_bp) AS BIGINT) AS min_share_bp,
       CAST(SUM(share_bp) // COUNT(*) AS BIGINT) AS avg_share_bp,
       CAST(MAX(share_bp) AS BIGINT) AS max_share_bp
FROM s
GROUP BY k, label
ORDER BY k, label
""",
)
def embedding_matryoshka_energy(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    qarr = F.transform(
        "embedding", lambda x: (x.cast("double") * F.lit(float(Q))).cast("long")
    )

    def sumsq(col):
        return F.aggregate(
            col, F.lit(0).cast("long"), lambda acc, x: acc + x * x
        )

    base = e.select(
        "vec_id",
        "label",
        F.explode(F.array([F.lit(k) for k in MATRYOSHKA_KS])).alias("k"),
        qarr.alias("qa"),
    ).select(
        "vec_id",
        "label",
        "k",
        sumsq(F.slice("qa", F.lit(1), F.col("k"))).alias("qsqk"),
        sumsq(F.col("qa")).alias("qsq"),
    )
    s = base.select(
        "k",
        "label",
        F.when(F.col("qsq") > 0, F.expr("qsqk * 10000 DIV qsq"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("share_bp"),
    )
    return (
        s.groupBy("k", "label")
        .agg(
            bigint(F.count(F.lit(1))).alias("n_vectors"),
            bigint(F.min("share_bp")).alias("min_share_bp"),
            F.expr("SUM(share_bp) DIV COUNT(*)").cast("long").alias("avg_share_bp"),
            bigint(F.max("share_bp")).alias("max_share_bp"),
        )
        .select(
            F.col("k").cast("long").alias("k"),
            "label",
            "n_vectors",
            "min_share_bp",
            "avg_share_bp",
            "max_share_bp",
        )
        .orderBy("k", "label")
    )
