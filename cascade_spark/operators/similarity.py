"""Similarity search over ``embeddings.embedding`` (array<float>, 64-d).

Three paths:
- brute-force cosine top-k — JVM-side higher-order functions
  (zip_with-style fold via ``aggregate``), the exactness baseline;
- LSH-bucketed ANN — sign-random-projection with *md5-derived* (hence
  deterministic, oracle-checkable) hyperplanes: bucket on a 6-bit code,
  score only same-bucket candidates. This is the 100 TB path: bucketing
  is a hash-partitionable groupBy and candidate scoring is linear in
  bucket size, never O(n²);
- Arrow-vectorized Pandas UDF scoring (mapInPandas + numpy) — the
  batch-friendly shape when Python-side models are unavoidable.

Determinism: all products widen float→double before multiplying (exact,
identical in both engines); rankings order by the *rounded* similarity
plus vec_id so last-ulp accumulation differences can't reorder results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from cascade_spark import store
from cascade_spark.plans.registry import register
from cascade_spark.operators._util import barrier, barrier_eager, t

N_PLANES = 6
QUERY_VEC_ID = 0
TOP_K = 10
# rows per block in the tiled all-pairs Gram matmul (truth audits):
# a packed block is ~_GRAM_BLOCK_ROWS x 64 int64 ≈ 2 MB, so a
# (block, tile) cell holds two of those and the matmul output — task
# memory stays bounded regardless of corpus size
_GRAM_BLOCK_ROWS = 4096


def _dot(a, b):  # sequential fold, double accumulation — JVM-side
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _cos(a: str, b: str):
    return F.round(
        _dot(F.col(a), F.col(b))
        / (F.sqrt(_dot(F.col(a), F.col(a))) * F.sqrt(_dot(F.col(b), F.col(b)))),
        6,
    )


_SQL_DOT = """
    SUM(CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))
"""


@register(
    "similarity_cosine_topk",
    "similarity",
    doc="Brute-force cosine top-10 neighbors of vec_id 0 — the exact "
    "baseline every ANN variant is measured against.",
    oracle=f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
sims AS (
    SELECT e.vec_id,
           ROUND(SUM(CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))
                 / (SQRT(SUM(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
                    * SQRT(SUM(CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))), 6)
               AS cos_sim
    FROM embeddings e, q,
         LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(e.embedding))) AS i)
    WHERE e.vec_id <> {QUERY_VEC_ID}
    GROUP BY e.vec_id
)
SELECT vec_id, cos_sim FROM sims
ORDER BY cos_sim DESC, vec_id LIMIT {TOP_K}
""",
)
def similarity_cosine_topk(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    query = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(F.col("embedding").alias("_qv"))
    scored = (
        e.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(query))
        .select("vec_id", _cos("embedding", "_qv").alias("cos_sim"))
    )
    return scored.orderBy(F.col("cos_sim").desc(), "vec_id").limit(TOP_K)


def _plane_signs(spark):
    """±1 sign matrix for N_PLANES×64 sign-random-projection hyperplanes,
    derived from md5 — deterministic and reproducible in SQL."""
    planes = spark.range(N_PLANES).select(F.col("id").cast("int").alias("p"))
    dims = spark.range(64).select((F.col("id") + 1).cast("int").alias("i"))  # 1-based
    return planes.crossJoin(dims).select(
        "p",
        "i",
        F.when(
            F.conv(F.substring(F.md5(F.concat_ws(":", "p", "i")), 1, 8), 16, 10)
            .cast("long")
            .bitwiseAND(1)
            == 1,
            1.0,
        )
        .otherwise(-1.0)
        .alias("s"),
    )


_SQL_SIGNS = """
    SELECT p, i,
           CASE WHEN ('0x' || SUBSTR(MD5(p || ':' || i), 1, 8))::BIGINT & 1 = 1
                THEN 1.0 ELSE -1.0 END AS s
    FROM (SELECT UNNEST(GENERATE_SERIES(0, {np})) AS p)
    CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(1, 64)) AS i)
""".format(np=N_PLANES - 1)


@register(
    "similarity_ann_lsh",
    "similarity",
    doc="ANN via sign-random-projection LSH: 6 md5-derived hyperplanes "
    "→ 6-bit bucket code; exact cosine scored only inside the query's "
    "bucket. Deterministic planes make even the ANN path oracle-checkable.",
    oracle=f"""
WITH signs AS ({_SQL_SIGNS}),
proj AS (
    SELECT e.vec_id, s.p,
           SUM(CAST(e.embedding[s.i] AS DOUBLE) * s.s) AS dot
    FROM embeddings e JOIN signs s ON TRUE
    GROUP BY e.vec_id, s.p
),
codes AS (
    SELECT vec_id,
           SUM(CASE WHEN dot > 0 THEN CAST(1 AS BIGINT) << p ELSE 0 END) AS bucket
    FROM proj GROUP BY vec_id
),
qb AS (SELECT bucket FROM codes WHERE vec_id = {QUERY_VEC_ID}),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
cand AS (
    SELECT c.vec_id FROM codes c, qb
    WHERE c.bucket = qb.bucket AND c.vec_id <> {QUERY_VEC_ID}
),
sims AS (
    SELECT e.vec_id,
           ROUND(SUM(CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))
                 / (SQRT(SUM(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
                    * SQRT(SUM(CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))), 6)
               AS cos_sim
    FROM embeddings e JOIN cand USING (vec_id), q,
         LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(e.embedding))) AS i)
    GROUP BY e.vec_id
)
SELECT vec_id, cos_sim FROM sims
ORDER BY cos_sim DESC, vec_id LIMIT {TOP_K}
""",
)
def similarity_ann_lsh(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    signs = _plane_signs(spark)
    elems = e.select("vec_id", F.posexplode("embedding").alias("pos", "x")).withColumn(
        "i", F.col("pos") + 1
    )
    proj = (
        elems.join(F.broadcast(signs), "i")
        .groupBy("vec_id", "p")
        .agg(F.sum(F.col("x").cast("double") * F.col("s")).alias("dot"))
    )
    codes = proj.groupBy("vec_id").agg(
        F.sum(
            F.when(F.col("dot") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), p)")).otherwise(0)
        ).alias("bucket")
    )
    qb = codes.filter(F.col("vec_id") == QUERY_VEC_ID).select(F.col("bucket").alias("qbucket"))
    cand = (
        codes.crossJoin(F.broadcast(qb))
        .filter((F.col("bucket") == F.col("qbucket")) & (F.col("vec_id") != QUERY_VEC_ID))
        .select("vec_id")
    )
    query = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(F.col("embedding").alias("_qv"))
    scored = (
        e.join(cand, "vec_id")
        .crossJoin(F.broadcast(query))
        .select(
            "vec_id",
            F.round(
                _dot(F.col("embedding"), F.col("_qv"))
                / (F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
                   * F.sqrt(_dot(F.col("_qv"), F.col("_qv")))),
                6,
            ).alias("cos_sim"),
        )
    )
    return scored.orderBy(F.col("cos_sim").desc(), "vec_id").limit(TOP_K)


@register(
    "similarity_pandas_cosine",
    "similarity",
    oracle=None,  # numpy BLAS accumulation order differs — rows-only +
    # recall asserted against the exact baseline in tests
    doc="Arrow-vectorized cosine scoring via mapInPandas + numpy — the "
    "shape for Python-side model scoring at scale (one matrix op per "
    "Arrow batch, no per-row Python).",
)
def similarity_pandas_cosine(spark, sf_dir):
    import numpy as np
    import pandas as pd

    e = t(spark, sf_dir, "embeddings")
    qv = (
        e.filter(F.col("vec_id") == QUERY_VEC_ID)
        .select("embedding")
        .collect()[0]["embedding"]
    )
    q = np.asarray(qv, dtype=np.float64)
    qn = np.sqrt((q * q).sum())

    def score(batches):
        for pdf in batches:
            m = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            dots = m @ q
            norms = np.sqrt((m * m).sum(axis=1))
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "cos_sim": np.round(dots / (norms * qn), 6)}
            )

    scored = e.filter(F.col("vec_id") != QUERY_VEC_ID).mapInPandas(
        score, schema="vec_id long, cos_sim double"
    )
    return scored.orderBy(F.col("cos_sim").desc(), "vec_id").limit(TOP_K)


@register(
    "similarity_ivf_kmeans",
    "similarity",
    oracle=None,  # k-means training is not SQL-expressible — rows-only +
    # recall asserted vs the exact baseline in tests
    doc="IVF-style ANN: MLlib KMeans (fixed seed) as the coarse "
    "quantizer; score exact cosine only inside the query's cell (plus "
    "its own). At 100 TB the centroid table broadcasts and cell "
    "assignment is a map-only pass — the classic inverted-file layout.",
)
def similarity_ivf_kmeans(spark, sf_dir):
    try:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector
    except ImportError:  # pragma: no cover
        return t(spark, sf_dir, "embeddings").select("vec_id").limit(0)

    e = t(spark, sf_dir, "embeddings")
    # the KMeans fit iterates over this frame and the transform reads it
    # again: materialize the array->vector conversion once
    vecs = e.select(
        "vec_id", "embedding", array_to_vector("embedding").alias("features")
    ).transform(barrier)
    km = KMeans(k=8, seed=42, maxIter=10, featuresCol="features", predictionCol="cell")
    model = km.fit(vecs)
    # referenced twice (query-cell lookup + candidate filter)
    assigned = model.transform(vecs).select(
        "vec_id", "embedding", "cell"
    ).transform(barrier)
    qcell = (
        assigned.filter(F.col("vec_id") == QUERY_VEC_ID)
        .select(F.col("cell").alias("qcell"))
    )
    query = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(F.col("embedding").alias("_qv"))
    cand = (
        assigned.crossJoin(F.broadcast(qcell))
        .filter((F.col("cell") == F.col("qcell")) & (F.col("vec_id") != QUERY_VEC_ID))
        .select("vec_id", "embedding")
    )
    scored = cand.crossJoin(F.broadcast(query)).select(
        "vec_id", _cos("embedding", "_qv").alias("cos_sim")
    )
    return scored.orderBy(F.col("cos_sim").desc(), "vec_id").limit(TOP_K)


# --- Banded sign-LSH blocking (the 100 TB candidate generator) --------
#
# SD_BANDS bands × SD_ROWS hyperplanes/band, md5-derived planes like
# similarity_ann_lsh's. Projections run on the QUANTIZED vectors
# (q = floor(x*200), int8-range), so every dot product — and hence every
# bucket code — is exact integer arithmetic, bit-identical in Spark and
# DuckDB: the blocking itself is hash-checkable, not just the scoring.
# Candidate pairs = pairs sharing ≥1 (band, code) bucket; the bucket
# join is a hash-partitioned equi-join on the bucket key, never an
# all-pairs product. Recall is the banded-LSH curve 1-(1-p^R)^B — the
# declared approximation, observable via profile_lsh_bucket_pairs and
# the recall test in tests/test_round8_ops.py; at corpus scale R rises
# with log(n) to keep buckets O(1).
Q_SCALE = 200  # |x| < 0.6 in the fixture embeddings → |q| < 120 fits int8
SD_BANDS, SD_ROWS = 8, 6
SD_PLANES = SD_BANDS * SD_ROWS


_SQL_BANDED_CTES = f"""
signs AS (
    SELECT p, i,
           CASE WHEN ('0x' || SUBSTR(MD5(p || ':' || i), 1, 8))::BIGINT & 1 = 1
                THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END AS s
    FROM (SELECT UNNEST(GENERATE_SERIES(0, {SD_PLANES - 1})) AS p)
    CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(1, 64)) AS i)
),
qe AS (
    SELECT vec_id, label,
           ARRAY(SELECT CAST(FLOOR(CAST(x AS DOUBLE) * {Q_SCALE}) AS BIGINT)
                 FROM UNNEST(embedding) AS t(x)) AS qv
    FROM embeddings
),
proj AS (
    SELECT e.vec_id, s.p, SUM(e.qv[s.i] * s.s) AS dot
    FROM qe e JOIN signs s ON TRUE
    GROUP BY e.vec_id, s.p
),
codes AS (
    SELECT vec_id, CAST(p // {SD_ROWS} AS BIGINT) AS band,
           SUM(CASE WHEN dot > 0
                    THEN CAST(1 AS BIGINT) << (p % {SD_ROWS})
                    ELSE 0 END) AS code
    FROM proj GROUP BY 1, 2
),
cand AS (
    SELECT a.vec_id AS v1, b.vec_id AS v2,
           CAST(COUNT(*) AS BIGINT) AS n_shared_bands
    FROM codes a JOIN codes b
      ON a.band = b.band AND a.code = b.code AND a.vec_id < b.vec_id
    GROUP BY 1, 2
)"""


def _banded_sign_frame(spark):
    """±1 (as long) for SD_PLANES×64 md5-derived hyperplanes — same
    derivation as _plane_signs, integer-typed so quantized projections
    stay exact."""
    planes = spark.range(SD_PLANES).select(F.col("id").cast("int").alias("p"))
    dims = spark.range(64).select((F.col("id") + 1).cast("int").alias("i"))
    return planes.crossJoin(dims).select(
        "p",
        "i",
        F.when(
            F.conv(F.substring(F.md5(F.concat_ws(":", "p", "i")), 1, 8), 16, 10)
            .cast("long")
            .bitwiseAND(1)
            == 1,
            F.lit(1),
        )
        .otherwise(F.lit(-1))
        .cast("long")
        .alias("s"),
    )


def _banded_codes(spark, e) -> DataFrame:
    """(vec_id, band, code) — integer-exact sign-LSH codes over the
    quantized embeddings. posexplode + broadcast sign join + two
    map-side-combinable groupBys, the similarity_ann_lsh pattern."""
    elems = e.select("vec_id", F.posexplode("embedding").alias("pos", "x")).select(
        "vec_id",
        (F.col("pos") + 1).alias("i"),
        F.floor(F.col("x").cast("double") * Q_SCALE).cast("long").alias("qx"),
    )
    proj = (
        elems.join(F.broadcast(_banded_sign_frame(spark)), "i")
        .groupBy("vec_id", "p")
        .agg(F.sum(F.col("qx") * F.col("s")).alias("dot"))
    )
    return proj.groupBy(
        "vec_id", F.floor(F.col("p") / SD_ROWS).cast("long").alias("band")
    ).agg(
        F.sum(
            F.when(
                F.col("dot") > 0,
                F.expr(f"shiftleft(CAST(1 AS BIGINT), p % {SD_ROWS})"),
            ).otherwise(0)
        ).alias("code")
    )


def _lsh_candidate_pairs(spark, sf_dir) -> DataFrame:
    """(v1, v2, n_shared_bands) candidate pairs from the banded bucket
    join — persisted once per (session, sf_dir) and shared by the
    near-dup, semantic-dedup, and audit queries (in production this IS
    the maintained candidate index of the embedding corpus)."""

    def build():
        codes = _banded_codes(spark, t(spark, sf_dir, "embeddings"))
        a = codes.select(F.col("vec_id").alias("v1"), "band", "code")
        b = codes.select(
            F.col("vec_id").alias("v2"),
            F.col("band").alias("band2"),
            F.col("code").alias("code2"),
        )
        return (
            a.join(
                b,
                (F.col("band") == F.col("band2"))
                & (F.col("code") == F.col("code2"))
                & (F.col("v1") < F.col("v2")),
            )
            .groupBy("v1", "v2")
            .agg(F.count(F.lit(1)).cast("long").alias("n_shared_bands"))
        )

    return store.frame("similarity.emb_pairs", spark, sf_dir, build)


@register(
    "embedding_neardup_blocked",
    "similarity",
    doc="Embedding-cosine near-dup pairs, blocked on banded sign-LSH "
    "buckets (8 bands × 6 md5-derived hyperplanes on the quantized "
    "vectors): candidates = pairs sharing ≥1 (band, code) bucket — a "
    "hash-partitioned equi-join on the bucket key, never an all-pairs "
    "product (the round-7 label-blocked version was O(n²/|labels|); "
    "this is the 100 TB shape, same candidate generator the semantic "
    "dedup rides). Exact rounded cosine is the residual check; "
    "n_shared_bands makes the LSH structure observable per pair.",
    oracle=f"""
WITH {_SQL_BANDED_CTES},
scored AS (
    SELECT c.v1, c.v2, c.n_shared_bands,
           ROUND(SUM(CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE))
                 / (SQRT(SUM(CAST(ea.embedding[i] AS DOUBLE) * CAST(ea.embedding[i] AS DOUBLE)))
                    * SQRT(SUM(CAST(eb.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)))), 6)
               AS cos_sim
    FROM cand c
    JOIN embeddings ea ON ea.vec_id = c.v1
    JOIN embeddings eb ON eb.vec_id = c.v2,
         LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(ea.embedding))) AS i)
    GROUP BY 1, 2, 3
)
SELECT v1, v2, n_shared_bands, cos_sim
FROM scored WHERE cos_sim >= 0.2
ORDER BY v1, v2
""",
)
def embedding_neardup_blocked(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    cand = _lsh_candidate_pairs(spark, sf_dir)
    # per-VECTOR norms computed once (n rows), not per PAIR (n² worst
    # case): the pair stage then evaluates a single dot-product fold —
    # 3x less HOF work on the fat side of the join. sqrt of the same
    # double sum the oracle computes per pair — bit-identical result.
    withn = e.select(
        "vec_id",
        "embedding",
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("nrm"),
    )
    a = withn.select(
        F.col("vec_id").alias("v1"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = withn.select(
        F.col("vec_id").alias("v2"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    return (
        cand.join(a, "v1")
        .join(b, "v2")
        .select(
            "v1",
            "v2",
            "n_shared_bands",
            F.round(
                _dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), 6
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.2)
        .orderBy("v1", "v2")
    )


@register(
    "profile_lsh_bucket_pairs",
    "similarity",
    doc="Observability for the banded sign-LSH blocking (every declared "
    "cap ships an audit): per band — bucket count, largest bucket, and "
    "the candidate-pair mass Σ n·(n-1)/2 that band contributes before "
    "cross-band dedup. THE number to watch at 100 TB: if max_bucket "
    "grows super-linearly the band needs more rows (R ~ log n); the "
    "pair mass is the exact pre-dedup join fan-out of "
    "embedding_neardup_blocked / similarity_semantic_dedup.",
    oracle=f"""
WITH {_SQL_BANDED_CTES},
sizes AS (
    SELECT band, code, CAST(COUNT(*) AS BIGINT) AS n
    FROM codes GROUP BY 1, 2
)
SELECT band,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(MAX(n) AS BIGINT) AS max_bucket,
       CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS cand_pairs
FROM sizes GROUP BY band ORDER BY band
""",
)
def profile_lsh_bucket_pairs(spark, sf_dir):
    codes = _banded_codes(spark, t(spark, sf_dir, "embeddings"))
    sizes = codes.groupBy("band", "code").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return (
        sizes.groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            F.max("n").cast("long").alias("max_bucket"),
            F.sum(F.col("n") * (F.col("n") - 1) / 2).cast("long").alias("cand_pairs"),
        )
        .orderBy("band")
    )


@register(
    "embedding_lsh_recall_audit",
    "similarity",
    doc="Recall calibration for the banded sign-LSH blocking — the "
    "dedup_lsh_recall_audit twin on the embedding side: ground-truth "
    "similar pairs from the EXACT quantized integer cosine (cos >= "
    "t/10 iff qd>0 and 100*qd^2 >= t^2*|qa|^2*|qb|^2 — int64-safe, no "
    "float tolerance), banded at 0.2/0.3/0.4, against the pairs the "
    "bucket join surfaces; per band: truth count, caught count, recall "
    "in floor bp. Ground truth is all-pairs BY DESIGN (the calibration "
    "is what justifies trusting the buckets at 100 TB, where truth can "
    "only be sampled); the candidate side reads the shared persisted "
    "pair index. Expect the banded-LSH curve: recall rises with cosine.",
    oracle=f"""
WITH {_SQL_BANDED_CTES},
pp AS (
    SELECT a.vec_id AS v1, b.vec_id AS v2,
           CAST(list_inner_product(CAST(a.qv AS DOUBLE[]), CAST(b.qv AS DOUBLE[])) AS BIGINT) AS qd,
           CAST(list_inner_product(CAST(a.qv AS DOUBLE[]), CAST(a.qv AS DOUBLE[])) AS BIGINT) AS na,
           CAST(list_inner_product(CAST(b.qv AS DOUBLE[]), CAST(b.qv AS DOUBLE[])) AS BIGINT) AS nb
    FROM qe a JOIN qe b ON a.vec_id < b.vec_id
),
truth AS (
    SELECT v1, v2,
           CASE WHEN 100*qd*qd >= 16*na*nb THEN 40
                WHEN 100*qd*qd >= 9*na*nb THEN 30
                ELSE 20 END AS band_lo_pct
    FROM pp WHERE qd > 0 AND 100*qd*qd >= 4*na*nb
)
SELECT CAST(t.band_lo_pct AS BIGINT) AS band_lo_pct,
       CAST(COUNT(*) AS BIGINT) AS n_true,
       CAST(COUNT(c.v1) AS BIGINT) AS n_caught,
       CAST(10000 * COUNT(c.v1) // COUNT(*) AS BIGINT) AS recall_bp
FROM truth t LEFT JOIN cand c ON c.v1 = t.v1 AND c.v2 = t.v2
GROUP BY t.band_lo_pct ORDER BY band_lo_pct
""",
)
def embedding_lsh_recall_audit(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")

    def _quant(col):
        return F.transform(col, lambda x: F.floor(x.cast("double") * Q_SCALE))

    def _idot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    # All-pairs truth via a TILED blocked integer Gram matmul, fully
    # distributed (no driver-side matrix): vec_id-range blocks of the
    # quantized matrix are packed per block (one collect_list row per
    # block), the tiny block spine is crossed on lb <= rb (range blocks
    # make every cross-block pair already v1 < v2 ordered; the diagonal
    # cell masks v1 < v2 itself), and each (block, tile) cell runs ONE
    # vectorized exact-int64 numpy matmul, emitting only qualifying
    # truth pairs. Exactness unchanged — every product/threshold stays
    # int64 — and vs the former nested-loop pair join (22-36 s at
    # sf0.1) this is the ~1 s class. At corpus scale each block is
    # capped at _GRAM_BLOCK_ROWS rows, so a cell is two ~2 MB packed
    # tiles and the replication is the standard sqrt-style blocked
    # matmul shuffle — driver memory stays O(1) (the only driver
    # scalar is n, one count).
    import numpy as np

    q = e.select("vec_id", _quant(F.col("embedding")).alias("qv"))
    n = e.count()
    n_blocks = max(8, -(-n // _GRAM_BLOCK_ROWS))
    bs = max(1, -(-n // n_blocks))
    packed = (
        q.withColumn("b", F.floor(F.col("vec_id") / bs).cast("long"))
        .groupBy("b")
        .agg(F.collect_list(F.struct("vec_id", "qv")).alias("rows"))
    )
    crossed = packed.select(
        F.col("b").alias("lb"), F.col("rows").alias("lrows")
    ).join(
        packed.select(F.col("b").alias("rb"), F.col("rows").alias("rrows")),
        F.col("lb") <= F.col("rb"),
    )

    def truth_pairs(batches):
        import pandas as pd

        def unpack(rows):
            ids = np.fromiter((r["vec_id"] for r in rows), dtype=np.int64)
            mat = np.array([r["qv"] for r in rows], dtype=np.int64)
            return ids, mat

        for pdf in batches:
            for lrows, rrows in zip(pdf["lrows"], pdf["rrows"]):
                bids, blk = unpack(lrows)
                ids_f, mat_f = unpack(rrows)
                g = blk @ mat_f.T  # exact int64 dot products
                na = (blk * blk).sum(axis=1)
                nb_f = (mat_f * mat_f).sum(axis=1)
                qd2 = 100 * g * g
                nanb = na[:, None] * nb_f[None, :]
                keep = (
                    (bids[:, None] < ids_f[None, :]) & (g > 0) & (qd2 >= 4 * nanb)
                )
                j, k = np.nonzero(keep)
                if len(j) == 0:
                    continue
                band = np.where(
                    qd2[j, k] >= 16 * nanb[j, k],
                    40,
                    np.where(qd2[j, k] >= 9 * nanb[j, k], 30, 20),
                )
                yield pd.DataFrame(
                    {
                        "v1": bids[j],
                        "v2": ids_f[k],
                        "band_lo_pct": band.astype("int64"),
                    }
                )

    truth = crossed.repartition(8).mapInPandas(
        truth_pairs, schema="v1 long, v2 long, band_lo_pct long"
    )
    cand = _lsh_candidate_pairs(spark, sf_dir).select(
        "v1", "v2", F.lit(1).alias("_hit")
    )
    return (
        truth.join(cand, ["v1", "v2"], "left")
        .groupBy("band_lo_pct")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_true"),
            F.count("_hit").cast("long").alias("n_caught"),
            F.floor(F.lit(10000) * F.count("_hit") / F.count(F.lit(1)))
            .cast("long")
            .alias("recall_bp"),
        )
        .orderBy("band_lo_pct")
    )


@register(
    "similarity_quantized_topk",
    "similarity",
    doc="int8-quantized dot-product top-10 (scalar quantization, the "
    "memory-bound scale path: 4× smaller vectors, integer SIMD math). "
    "q = floor(x * 200) is exact and identical in both engines "
    "(float32→double widening is lossless, floor is unambiguous), so "
    "the integer dot products hash-check exactly — no float tolerance.",
    oracle=f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID})
SELECT e.vec_id,
       CAST(SUM(FLOOR(CAST(e.embedding[i] AS DOUBLE) * {Q_SCALE})
                * FLOOR(CAST(q.qv[i] AS DOUBLE) * {Q_SCALE})) AS BIGINT) AS qdot
FROM embeddings e, q,
     LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(e.embedding))) AS i)
WHERE e.vec_id <> {QUERY_VEC_ID}
GROUP BY e.vec_id
ORDER BY qdot DESC, vec_id LIMIT {TOP_K}
""",
)
def similarity_quantized_topk(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")

    def _quant(col):
        return F.transform(col, lambda x: F.floor(x.cast("double") * Q_SCALE))

    query = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        _quant(F.col("embedding")).alias("_qq")
    )
    scored = (
        e.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(query))
        .select(
            "vec_id",
            F.aggregate(
                F.zip_with(_quant(F.col("embedding")), F.col("_qq"), lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("qdot"),
        )
    )
    return scored.orderBy(F.col("qdot").desc(), "vec_id").limit(TOP_K)


N_KNN_QUERIES = 5  # vec_id 0..4 act as the query batch
KNN_K = 3


@register(
    "similarity_knn_join",
    "similarity",
    doc="Batch kNN join: top-3 cosine neighbors for EACH of a 5-vector "
    "query batch (vec_id 0-4) in one pass — the retrieval/seed-dedup "
    "shape. The query batch broadcasts (it is always the small side); "
    "the base table streams through scoring map-only, then a per-query "
    "window takes k. At 100 TB the same plan holds: broadcast the query "
    "batch, partition-local TopK per query via the rank window over "
    "(qid), no base-table shuffle until the k·|queries| survivors.",
    oracle=f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
           WHERE vec_id < {N_KNN_QUERIES}),
sims AS (
    SELECT q.qid, e.vec_id,
           ROUND(SUM(CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))
                 / (SQRT(SUM(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
                    * SQRT(SUM(CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))), 6)
               AS cos_sim
    FROM embeddings e CROSS JOIN q,
         LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(e.embedding))) AS i)
    WHERE e.vec_id <> q.qid
    GROUP BY q.qid, e.vec_id
),
ranked AS (
    SELECT qid, vec_id, cos_sim,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rnk
    FROM sims
)
SELECT qid, vec_id, cos_sim, CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= {KNN_K}
ORDER BY qid, rnk
""",
)
def similarity_knn_join(spark, sf_dir):
    from pyspark.sql import Window

    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_KNN_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("_qv")
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", _cos("embedding", "_qv").alias("cos_sim"))
    )
    win = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(win).cast("long"))
        .filter(F.col("rnk") <= KNN_K)
        .orderBy("qid", "rnk")
    )


HN_ANCHORS = 8  # vec_id 0..7 act as the anchor mini-batch


@register(
    "similarity_hard_negative_mining",
    "similarity",
    doc="Contrastive-training hard-negative mining: for each anchor in "
    f"an {HN_ANCHORS}-vector mini-batch, the single most-similar vector "
    "with a DIFFERENT label (the hardest negative). Similarity is the "
    "int8-quantized dot product (exact integers — hash-checkable, no "
    "float tolerance). The anchor batch broadcasts; the base table "
    "streams through scoring map-only; a per-anchor rank window keeps "
    "k=1. At 100 TB the same plan holds per training batch — or the "
    "LSH/IVF candidate structures bound the scored set first.",
    oracle=f"""
WITH anchors AS (
    SELECT vec_id AS anchor_id, label AS anchor_label, embedding AS av
    FROM embeddings WHERE vec_id < {HN_ANCHORS}
),
scored AS (
    SELECT a.anchor_id, a.anchor_label, e.vec_id AS neg_id, e.label AS neg_label,
           CAST(SUM(FLOOR(CAST(e.embedding[i] AS DOUBLE) * {Q_SCALE})
                    * FLOOR(CAST(a.av[i] AS DOUBLE) * {Q_SCALE})) AS BIGINT) AS qdot
    FROM embeddings e CROSS JOIN anchors a,
         LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(e.embedding))) AS i)
    WHERE e.label <> a.anchor_label
    GROUP BY a.anchor_id, a.anchor_label, e.vec_id, e.label
),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                                 ORDER BY qdot DESC, neg_id) AS rnk
    FROM scored
)
SELECT anchor_id, CAST(anchor_label AS BIGINT) AS anchor_label,
       neg_id, CAST(neg_label AS BIGINT) AS neg_label, qdot
FROM ranked WHERE rnk = 1 ORDER BY anchor_id
""",
)
def similarity_hard_negative_mining(spark, sf_dir):
    from pyspark.sql import Window

    e = t(spark, sf_dir, "embeddings")

    def _quant(col):
        return F.transform(col, lambda x: F.floor(x.cast("double") * Q_SCALE))

    anchors = e.filter(F.col("vec_id") < HN_ANCHORS).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        _quant(F.col("embedding")).alias("_av"),
    )
    # corpus quantized ONCE below the anchor crossJoin (round-13): the
    # inlined form re-ran the 64-wide _quant lambda per (row × anchor)
    # pair instead of per row
    scored = (
        e.select("vec_id", "label", _quant(F.col("embedding")).alias("qx"))
        .crossJoin(F.broadcast(anchors))
        .filter(F.col("label") != F.col("anchor_label"))
        .select(
            "anchor_id",
            "anchor_label",
            F.col("vec_id").alias("neg_id"),
            F.col("label").alias("neg_label"),
            F.aggregate(
                F.zip_with(F.col("qx"), F.col("_av"), lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("qdot"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(F.col("qdot").desc(), "neg_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select(
            "anchor_id",
            F.col("anchor_label").cast("long").alias("anchor_label"),
            "neg_id",
            F.col("neg_label").cast("long").alias("neg_label"),
            "qdot",
        )
        .orderBy("anchor_id")
    )


SEMDEDUP_T_NUM, SEMDEDUP_T_DEN = 2, 5  # cosine threshold 0.4 as a rational


@register(
    "similarity_semantic_dedup",
    "similarity",
    doc="SemDeDup-style semantic dedup: banded sign-LSH candidate pairs "
    "(shared _lsh_candidate_pairs index — a bucket-key equi-join, never "
    "all-pairs; the round-7 version label-blocked at O(n²/|labels|)) "
    "whose QUANTIZED cosine exceeds 0.4 become edges, components become "
    "semantic-duplicate clusters (keep the min-id representative). The "
    "threshold test is exact integer arithmetic — with q = floor(x*200) "
    f"int8 values, cos >= {SEMDEDUP_T_NUM}/{SEMDEDUP_T_DEN} iff qdot>0 "
    f"and {SEMDEDUP_T_DEN * SEMDEDUP_T_DEN}*qdot² >= "
    f"{SEMDEDUP_T_NUM * SEMDEDUP_T_NUM}*|qa|²*|qb|² — no float "
    "tolerance anywhere, and the LSH codes are integer-exact too, so "
    "clusters hash-check against the recursive-closure oracle which "
    "re-blocks identically. Closure follows the dedup_connected_"
    "components discipline (local union-find under the edge gate, "
    "min-label propagation above, convergence-checked).",
    oracle=f"""
WITH RECURSIVE {_SQL_BANDED_CTES},
p AS MATERIALIZED (
    SELECT c.v1, c.v2,
           (SELECT CAST(SUM(a.qv[i] * b.qv[i]) AS BIGINT)
            FROM UNNEST(GENERATE_SERIES(1, LEN(a.qv))) AS s(i)) AS qd,
           (SELECT CAST(SUM(a.qv[i] * a.qv[i]) AS BIGINT)
            FROM UNNEST(GENERATE_SERIES(1, LEN(a.qv))) AS s(i)) AS na,
           (SELECT CAST(SUM(b.qv[i] * b.qv[i]) AS BIGINT)
            FROM UNNEST(GENERATE_SERIES(1, LEN(b.qv))) AS s(i)) AS nb
    FROM cand c JOIN qe a ON a.vec_id = c.v1 JOIN qe b ON b.vec_id = c.v2
),
pairs AS MATERIALIZED (
    SELECT v1, v2 FROM p
    WHERE qd > 0
      AND {SEMDEDUP_T_DEN * SEMDEDUP_T_DEN} * qd * qd
          >= {SEMDEDUP_T_NUM * SEMDEDUP_T_NUM} * na * nb
),
edges AS (SELECT v1 AS a, v2 AS b FROM pairs
          UNION ALL SELECT v2 AS a, v1 AS b FROM pairs),
reach(src, dst) AS (
    SELECT a, b FROM edges
    UNION
    SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
),
comp AS (
    SELECT src AS node, LEAST(src, MIN(dst)) AS comp
    FROM reach GROUP BY src
)
SELECT CAST(comp AS BIGINT) AS cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(MAX(node) AS BIGINT) AS max_vec
FROM comp GROUP BY comp ORDER BY cluster_id
""",
)
def similarity_semantic_dedup(spark, sf_dir):
    from cascade_spark.operators.dedup import (
        LOCAL_CC_MAX_EDGES,
        _cc_labels_distributed,
        _cc_local,
    )

    e = t(spark, sf_dir, "embeddings")

    def _quant(col):
        return F.transform(col, lambda x: F.floor(x.cast("double") * Q_SCALE))

    def _dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    # per-vector quantized self-norms computed ONCE (n rows) — the pair
    # stage folds only the cross dot product (3x less HOF work per pair)
    q = e.select("vec_id", _quant(F.col("embedding")).alias("qv")).select(
        "vec_id", "qv", _dot(F.col("qv"), F.col("qv")).alias("nq")
    )
    cand = _lsh_candidate_pairs(spark, sf_dir)
    a = q.select(
        F.col("vec_id").alias("v1"), F.col("qv").alias("qa"), F.col("nq").alias("na")
    )
    b = q.select(
        F.col("vec_id").alias("v2"), F.col("qv").alias("qb"), F.col("nq").alias("nb")
    )
    p = cand.join(a, "v1").join(b, "v2").select(
        "v1",
        "v2",
        _dot(F.col("qa"), F.col("qb")).alias("qd"),
        "na",
        "nb",
    )
    t2 = SEMDEDUP_T_DEN * SEMDEDUP_T_DEN
    n2 = SEMDEDUP_T_NUM * SEMDEDUP_T_NUM
    pairs = p.filter(
        (F.col("qd") > 0)
        & (F.lit(t2) * F.col("qd") * F.col("qd") >= F.lit(n2) * F.col("na") * F.col("nb"))
    ).select("v1", "v2")
    if pairs.count() <= LOCAL_CC_MAX_EDGES:
        rows = [(r[0], r[1]) for r in pairs.collect()]
        labels = spark.createDataFrame(_cc_local(rows), "node long, comp long")
    else:
        from pyspark import StorageLevel

        fwd = pairs.select(F.col("v1").alias("src"), F.col("v2").alias("nbr"))
        rev = pairs.select(F.col("v2").alias("src"), F.col("v1").alias("nbr"))
        edges = fwd.union(rev).persist(StorageLevel.MEMORY_AND_DISK)
        init = (
            edges.select("src").distinct().select(F.col("src").alias("node"))
            .withColumn("comp", F.col("node"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        labels = _cc_labels_distributed(edges, init)
    return (
        labels.groupBy(F.col("comp").cast("long").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.max("node").cast("long").alias("max_vec"),
        )
        .orderBy("cluster_id")
    )


@register(
    "similarity_mips_norm_bound",
    "similarity",
    doc="Maximum-inner-product search with a Cauchy-Schwarz norm-bound "
    "pruning audit: dot(q,x) <= sqrt(|q|^2 * |x|^2), and both squared "
    "norms are EXACT integers over the int8-quantized components, so "
    "bound = isqrt(qn2 * xn2) is exact too. The query returns the true "
    "top-10 by quantized dot product, each row carrying its bound and "
    "the corpus-wide prunable count: vectors whose bound falls below "
    "the exact 10th-best dot can be skipped WITHOUT computing their "
    "dot product — at 100 TB the per-vector norm is a precomputed "
    "index column and this bound is the map-side admission filter "
    "(the norm-bound family behind ip-bounded MIPS indexes: one "
    "cheap multiply per vector vs a 64-wide dot). Norms are one "
    "map-only pass; the threshold is a 1-row broadcast.",
    oracle=f"""
WITH qv AS (
    SELECT embedding AS q FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
),
quant AS (
    SELECT e.vec_id,
           CAST(SUM(FLOOR(CAST(e.embedding[i] AS DOUBLE) * {Q_SCALE})
                    * FLOOR(CAST(qv.q[i] AS DOUBLE) * {Q_SCALE}))
                AS BIGINT) AS qdot,
           CAST(SUM(FLOOR(CAST(e.embedding[i] AS DOUBLE) * {Q_SCALE})
                    * FLOOR(CAST(e.embedding[i] AS DOUBLE) * {Q_SCALE}))
                AS BIGINT) AS xn2,
           CAST(SUM(FLOOR(CAST(qv.q[i] AS DOUBLE) * {Q_SCALE})
                    * FLOOR(CAST(qv.q[i] AS DOUBLE) * {Q_SCALE}))
                AS BIGINT) AS qn2
    FROM embeddings e, qv,
         LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(e.embedding))) AS i)
    WHERE e.vec_id <> {QUERY_VEC_ID}
    GROUP BY e.vec_id
),
bounded AS (
    SELECT vec_id, qdot, (CASE WHEN (CAST(FLOOR(SQRT(CAST(xn2 * qn2 AS DOUBLE))) AS BIGINT) + 1) * (CAST(FLOOR(SQRT(CAST(xn2 * qn2 AS DOUBLE))) AS BIGINT) + 1) <= xn2 * qn2 THEN CAST(FLOOR(SQRT(CAST(xn2 * qn2 AS DOUBLE))) AS BIGINT) + 1 WHEN CAST(FLOOR(SQRT(CAST(xn2 * qn2 AS DOUBLE))) AS BIGINT) * CAST(FLOOR(SQRT(CAST(xn2 * qn2 AS DOUBLE))) AS BIGINT) > xn2 * qn2 THEN CAST(FLOOR(SQRT(CAST(xn2 * qn2 AS DOUBLE))) AS BIGINT) - 1 ELSE CAST(FLOOR(SQRT(CAST(xn2 * qn2 AS DOUBLE))) AS BIGINT) END) AS bound
    FROM quant
),
thresh AS (
    SELECT MIN(qdot) AS t10 FROM (
        SELECT qdot FROM bounded ORDER BY qdot DESC, vec_id LIMIT {TOP_K})
),
pr AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_prunable
    FROM bounded, thresh WHERE bounded.bound < thresh.t10
)
SELECT b.vec_id, b.qdot, b.bound, pr.n_prunable
FROM bounded b, pr
ORDER BY b.qdot DESC, b.vec_id LIMIT {TOP_K}
""",
)
def similarity_mips_norm_bound(spark, sf_dir):
    from cascade_spark.operators.analytics_extra import _isqrt

    e = t(spark, sf_dir, "embeddings")

    def _quant(col):
        return F.transform(col, lambda x: F.floor(x.cast("double") * Q_SCALE))

    def _idot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    # query norm once in the 1-row broadcast frame (it is constant per
    # query — recomputing it per corpus row was a 64-element fold/row);
    # corpus quantization behind a projection barrier so the transform
    # lambda evaluates ONCE per row (Catalyst does not CSE lambdas —
    # the inlined form carried 24 zip_with copies in the physical plan,
    # pinned by tests/test_plans.py::test_quantized_dot_single_copy)
    query = (
        e.filter(F.col("vec_id") == QUERY_VEC_ID)
        .select(_quant(F.col("embedding")).alias("_qq"))
        .select("_qq", _idot(F.col("_qq"), F.col("_qq")).alias("qn2"))
    )
    packed = (
        e.filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", _quant(F.col("embedding")).alias("qx"))
        .crossJoin(F.broadcast(query))
    )
    scored = packed.select(
        "vec_id",
        _idot(F.col("qx"), F.col("_qq")).alias("qdot"),
        _idot(F.col("qx"), F.col("qx")).alias("xn2"),
        "qn2",
    )
    # single-pass scoring (round-13): `bounded` is referenced three
    # times (threshold TakeOrdered, prunable count, final TakeOrdered) —
    # without a barrier each reference re-ran the 64-wide quantized dot
    # products over the whole corpus (3 embeddings scans in-plan). The
    # lazy barrier materializes the narrow (vec_id, qdot, bound) frame
    # once; the three consumers are metadata-sized passes over it.
    bounded = scored.select(
        "vec_id", "qdot", _isqrt(F.col("xn2") * F.col("qn2")).alias("bound")
    ).transform(barrier)
    thresh = (
        bounded.orderBy(F.col("qdot").desc(), "vec_id")
        .limit(TOP_K)
        .agg(F.min("qdot").alias("t10"))
    )
    pr = (
        bounded.crossJoin(F.broadcast(thresh))
        .filter(F.col("bound") < F.col("t10"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_prunable"))
    )
    return (
        bounded.crossJoin(F.broadcast(pr))
        .orderBy(F.col("qdot").desc(), "vec_id")
        .limit(TOP_K)
        .select("vec_id", "qdot", "bound", "n_prunable")
    )


RANGE_T_BP = 2500  # cosine radius: keep neighbors with cos >= 0.25


@register(
    "similarity_range_query",
    "similarity",
    doc="Radius (range) search — the dual of top-k: ALL vectors within "
    "a declared cosine radius of the query vector, not a fixed count. "
    f"Semantics are integer-exact: keep x iff qdot(x)*10000 >= "
    f"{RANGE_T_BP} * isqrt(qn2*xn2) over the int8-quantized "
    "components (floor-isqrt norms, same rule both engines — no IEEE "
    "boundary can flip membership). Returned cos_bp is the truncated "
    "basis-point cosine on the same integer arithmetic. Map-only: one "
    "broadcast query row, one linear scan, no shuffle until the tiny "
    "result sort — at 100 TB this is a pushed-down scan + filter, and "
    "the per-vector norm is a precomputed index column "
    "(similarity_mips_norm_bound's admission-filter machinery).",
    oracle=f"""
WITH qv AS (
    SELECT embedding AS q FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
),
quant AS (
    SELECT e.vec_id,
           CAST(SUM(FLOOR(CAST(e.embedding[i] AS DOUBLE) * {Q_SCALE})
                    * FLOOR(CAST(qv.q[i] AS DOUBLE) * {Q_SCALE}))
                AS BIGINT) AS qdot,
           CAST(SUM(FLOOR(CAST(e.embedding[i] AS DOUBLE) * {Q_SCALE})
                    * FLOOR(CAST(e.embedding[i] AS DOUBLE) * {Q_SCALE}))
                AS BIGINT) AS xn2,
           CAST(SUM(FLOOR(CAST(qv.q[i] AS DOUBLE) * {Q_SCALE})
                    * FLOOR(CAST(qv.q[i] AS DOUBLE) * {Q_SCALE}))
                AS BIGINT) AS qn2
    FROM embeddings e, qv,
         LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(e.embedding))) AS i)
    WHERE e.vec_id <> {QUERY_VEC_ID}
    GROUP BY e.vec_id
),
normed AS (
    SELECT vec_id, qdot,
           (CASE WHEN (CAST(FLOOR(SQRT(CAST(xn2 * qn2 AS DOUBLE))) AS BIGINT) + 1)
                      * (CAST(FLOOR(SQRT(CAST(xn2 * qn2 AS DOUBLE))) AS BIGINT) + 1)
                      <= xn2 * qn2
                 THEN CAST(FLOOR(SQRT(CAST(xn2 * qn2 AS DOUBLE))) AS BIGINT) + 1
                 WHEN CAST(FLOOR(SQRT(CAST(xn2 * qn2 AS DOUBLE))) AS BIGINT)
                      * CAST(FLOOR(SQRT(CAST(xn2 * qn2 AS DOUBLE))) AS BIGINT)
                      > xn2 * qn2
                 THEN CAST(FLOOR(SQRT(CAST(xn2 * qn2 AS DOUBLE))) AS BIGINT) - 1
                 ELSE CAST(FLOOR(SQRT(CAST(xn2 * qn2 AS DOUBLE))) AS BIGINT)
            END) AS nrm
    FROM quant
)
SELECT vec_id,
       qdot,
       CAST(qdot * 10000 // nrm AS BIGINT) AS cos_bp
FROM normed
WHERE qdot > 0 AND qdot * 10000 >= {RANGE_T_BP} * nrm
ORDER BY cos_bp DESC, vec_id
""",
)
def similarity_range_query(spark, sf_dir):
    from cascade_spark.operators.analytics_extra import _isqrt

    e = t(spark, sf_dir, "embeddings")

    def _quant(col):
        return F.transform(col, lambda x: F.floor(x.cast("double") * Q_SCALE))

    def _idot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    # same single-copy discipline as similarity_mips_norm_bound: query
    # norm in the broadcast frame, corpus quantization behind a
    # projection barrier (lambdas are not CSE'd by Catalyst)
    query = (
        e.filter(F.col("vec_id") == QUERY_VEC_ID)
        .select(_quant(F.col("embedding")).alias("_qq"))
        .select("_qq", _idot(F.col("_qq"), F.col("_qq")).alias("qn2"))
    )
    packed = (
        e.filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", _quant(F.col("embedding")).alias("qx"))
        .crossJoin(F.broadcast(query))
    )
    scored = packed.select(
        "vec_id",
        _idot(F.col("qx"), F.col("_qq")).alias("qdot"),
        _idot(F.col("qx"), F.col("qx")).alias("xn2"),
        "qn2",
    )
    normed = scored.select(
        "vec_id", "qdot", _isqrt(F.col("xn2") * F.col("qn2")).alias("nrm")
    )
    return (
        normed.filter(
            (F.col("qdot") > 0)
            & (F.col("qdot") * 10000 >= RANGE_T_BP * F.col("nrm"))
        )
        .select(
            "vec_id",
            "qdot",
            F.expr("qdot * 10000 DIV nrm").cast("long").alias("cos_bp"),
        )
        .orderBy(F.col("cos_bp").desc(), "vec_id")
    )


_PROBE_MASKS = (0, 1, 2, 4, 8, 16, 32)  # Hamming <= 1 over the 6-bit code


@register(
    "similarity_lsh_multiprobe",
    "similarity",
    doc="Multi-probe LSH (Lv et al. 2007): instead of more hash "
    "tables, probe the query bucket AND its 6 Hamming-distance-1 "
    "neighbors (code XOR in {0,1,2,4,8,16,32}) — near-misses where "
    "one hyperplane sign flipped land in adjacent buckets, so "
    "probing them recovers most of the recall a second table would "
    "buy at 1/7th the index memory. Exact cosine is scored only over "
    "the probed candidates; each hit carries its probe distance and "
    "the candidate-count contrast (multi vs single bucket) is a "
    "column, making the recall/IO trade observable. Same md5-derived "
    "planes as similarity_ann_lsh -> fully oracle-checked.",
    oracle=f"""
WITH signs AS ({_SQL_SIGNS}),
proj AS (
    SELECT e.vec_id, s.p,
           SUM(CAST(e.embedding[s.i] AS DOUBLE) * s.s) AS dot
    FROM embeddings e JOIN signs s ON TRUE
    GROUP BY e.vec_id, s.p
),
codes AS (
    SELECT vec_id,
           SUM(CASE WHEN dot > 0 THEN CAST(1 AS BIGINT) << p ELSE 0 END) AS bucket
    FROM proj GROUP BY vec_id
),
qb AS (SELECT bucket FROM codes WHERE vec_id = {QUERY_VEC_ID}),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
cand AS (
    SELECT c.vec_id,
           CASE WHEN xor(c.bucket, qb.bucket) = 0 THEN 0 ELSE 1 END AS probe_dist
    FROM codes c, qb
    WHERE xor(c.bucket, qb.bucket) IN (0, 1, 2, 4, 8, 16, 32)
      AND c.vec_id <> {QUERY_VEC_ID}
),
nc AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cand_multi,
           CAST(COUNT(*) FILTER (WHERE probe_dist = 0) AS BIGINT) AS n_cand_single
    FROM cand
),
sims AS (
    SELECT e.vec_id, c.probe_dist,
           ROUND(SUM(CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))
                 / (SQRT(SUM(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
                    * SQRT(SUM(CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))), 6)
               AS cos_sim
    FROM embeddings e JOIN cand c USING (vec_id), q,
         LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(e.embedding))) AS i)
    GROUP BY e.vec_id, c.probe_dist
)
SELECT s.vec_id, s.cos_sim, CAST(s.probe_dist AS BIGINT) AS probe_dist,
       nc.n_cand_multi, nc.n_cand_single
FROM sims s, nc
ORDER BY s.cos_sim DESC, s.vec_id LIMIT {TOP_K}
""",
)
def similarity_lsh_multiprobe(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    signs = _plane_signs(spark)
    elems = e.select("vec_id", F.posexplode("embedding").alias("pos", "x")).withColumn(
        "i", F.col("pos") + 1
    )
    proj = (
        elems.join(F.broadcast(signs), "i")
        .groupBy("vec_id", "p")
        .agg(F.sum(F.col("x").cast("double") * F.col("s")).alias("dot"))
    )
    # single-pass bucketing (round-13): `codes` feeds the query-bucket
    # lookup AND the candidate filter, and `cand` feeds the count
    # contrast AND the scoring join — without a barrier the
    # posexplode+groupBy bucketing pipeline executed once per reference
    # (6 embeddings scans in-plan). Barrier the narrow (vec_id, bucket)
    # frame; everything downstream reads it.
    codes = proj.groupBy("vec_id").agg(
        F.sum(
            F.when(F.col("dot") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), p)")).otherwise(0)
        ).alias("bucket")
    ).transform(barrier)
    qb = codes.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("bucket").alias("qbucket")
    )
    xor = F.expr("bucket ^ qbucket")
    cand = (
        codes.crossJoin(F.broadcast(qb))
        .filter(xor.isin(*_PROBE_MASKS) & (F.col("vec_id") != QUERY_VEC_ID))
        .select(
            "vec_id", F.when(xor == 0, 0).otherwise(1).alias("probe_dist")
        )
    )
    nc = cand.agg(
        F.count(F.lit(1)).cast("long").alias("n_cand_multi"),
        F.count_if(F.col("probe_dist") == 0).cast("long").alias("n_cand_single"),
    )
    query = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("_qv")
    )
    scored = (
        e.join(cand, "vec_id")
        .crossJoin(F.broadcast(query))
        .select(
            "vec_id",
            F.round(
                _dot(F.col("embedding"), F.col("_qv"))
                / (
                    F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
                    * F.sqrt(_dot(F.col("_qv"), F.col("_qv")))
                ),
                6,
            ).alias("cos_sim"),
            F.col("probe_dist").cast("long").alias("probe_dist"),
        )
    )
    return (
        scored.crossJoin(F.broadcast(nc))
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(TOP_K)
        .select("vec_id", "cos_sim", "probe_dist", "n_cand_multi", "n_cand_single")
    )


RRF_K = 60  # standard RRF damping constant
RRF_TOP = 10
RRF_SCALE = 1_000_000_000  # ppb so the integer reciprocal keeps precision
# Per-side pre-cut K' for the two-phase rank: a non-candidate (rank >
# K' on BOTH sides) scores at most 2*(RRF_SCALE DIV (RRF_K+K'+1)) =
# 2*(10^9 DIV 211) ~ 9.48M, strictly below the RRF_TOP semantic
# leaders' floor RRF_SCALE DIV (RRF_K+RRF_TOP) = 10^9 DIV 70 ~ 14.3M —
# so with aligned id spaces the true top-RRF_TOP is provably inside
# the union of the two top-K' cuts. K' >= 80 suffices; 150 adds margin.
RRF_PRECUT = 150


@register(
    "similarity_reciprocal_rank_fusion",
    "similarity",
    doc="Hybrid retrieval via reciprocal-rank fusion (Cormack et al. "
    "2009): the corpus is ranked twice against query item 0 — "
    "semantically (integer-exact quantized cosine over embeddings, "
    "vec_id aligned with doc_id) and lexically (distinct-word Jaccard "
    "against doc 0) — and the two rankings fuse with "
    f"score = sum 1/({RRF_K}+rank), computed as {RRF_SCALE} DIV "
    f"({RRF_K}+rank) so the whole query is integer arithmetic end to "
    "end (no IEEE division anywhere). Ties broken by id; top "
    f"{RRF_TOP} returned. Scale design (IMPLEMENTED, round 9): no "
    "global row_number anywhere — each side takes a distributed "
    f"top-{RRF_PRECUT} pre-cut (TakeOrderedAndProject, the "
    "sort_topk_global shape), then each candidate's EXACT global rank "
    "is recovered as 1 + the map-side beat-count against the full "
    "scored frame (a broadcast of <= 2*K' candidate scores, one "
    "parallel scan, a <= 2*K'-key groupBy). The winner set is provably "
    "inside the pre-cut union (see RRF_PRECUT), so output is "
    "bit-identical to the single-reducer formulation.",
    oracle=f"""
WITH qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
quant AS (
    SELECT e.vec_id,
           CAST(SUM(FLOOR(CAST(e.embedding[i] AS DOUBLE) * {Q_SCALE})
                    * FLOOR(CAST(qv.q[i] AS DOUBLE) * {Q_SCALE})) AS BIGINT) AS qdot,
           CAST(SUM(FLOOR(CAST(e.embedding[i] AS DOUBLE) * {Q_SCALE})
                    * FLOOR(CAST(e.embedding[i] AS DOUBLE) * {Q_SCALE})) AS BIGINT) AS xn2,
           CAST(SUM(FLOOR(CAST(qv.q[i] AS DOUBLE) * {Q_SCALE})
                    * FLOOR(CAST(qv.q[i] AS DOUBLE) * {Q_SCALE})) AS BIGINT) AS qn2
    FROM embeddings e, qv,
         LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(e.embedding))) AS i)
    WHERE e.vec_id <> {QUERY_VEC_ID}
    GROUP BY e.vec_id
),
normed AS (
    SELECT vec_id, qdot,
           (CASE WHEN (CAST(FLOOR(SQRT(CAST(xn2 * qn2 AS DOUBLE))) AS BIGINT) + 1)
                      * (CAST(FLOOR(SQRT(CAST(xn2 * qn2 AS DOUBLE))) AS BIGINT) + 1)
                      <= xn2 * qn2
                 THEN CAST(FLOOR(SQRT(CAST(xn2 * qn2 AS DOUBLE))) AS BIGINT) + 1
                 WHEN CAST(FLOOR(SQRT(CAST(xn2 * qn2 AS DOUBLE))) AS BIGINT)
                      * CAST(FLOOR(SQRT(CAST(xn2 * qn2 AS DOUBLE))) AS BIGINT)
                      > xn2 * qn2
                 THEN CAST(FLOOR(SQRT(CAST(xn2 * qn2 AS DOUBLE))) AS BIGINT) - 1
                 ELSE CAST(FLOOR(SQRT(CAST(xn2 * qn2 AS DOUBLE))) AS BIGINT)
            END) AS nrm
    FROM quant
),
sem AS (
    SELECT vec_id AS id,
           ROW_NUMBER() OVER (ORDER BY CAST(qdot * 10000 // nrm AS BIGINT) DESC, vec_id)
             AS r_sem
    FROM normed
),
wd AS (SELECT DISTINCT doc_id, w
       FROM (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents)),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nw FROM wd GROUP BY doc_id),
q0 AS (SELECT w FROM wd WHERE doc_id = {QUERY_VEC_ID}),
inter AS (
    SELECT wd.doc_id, CAST(COUNT(*) AS BIGINT) AS ni
    FROM wd JOIN q0 USING (w) WHERE wd.doc_id <> {QUERY_VEC_ID}
    GROUP BY wd.doc_id
),
lexs AS (
    SELECT s.doc_id,
           CAST(COALESCE(i.ni, 0) * 10000
                // (s.nw + (SELECT nw FROM sizes WHERE doc_id = {QUERY_VEC_ID})
                    - COALESCE(i.ni, 0)) AS BIGINT) AS jac_bp
    FROM sizes s LEFT JOIN inter i USING (doc_id)
    WHERE s.doc_id <> {QUERY_VEC_ID}
),
lex AS (
    SELECT doc_id AS id,
           ROW_NUMBER() OVER (ORDER BY jac_bp DESC, doc_id) AS r_lex
    FROM lexs
)
SELECT sem.id,
       CAST(sem.r_sem AS BIGINT) AS r_sem,
       CAST(lex.r_lex AS BIGINT) AS r_lex,
       CAST({RRF_SCALE} // ({RRF_K} + sem.r_sem)
            + {RRF_SCALE} // ({RRF_K} + lex.r_lex) AS BIGINT) AS rrf_ppb
FROM sem JOIN lex USING (id)
ORDER BY rrf_ppb DESC, id
LIMIT {RRF_TOP}
""",
)
def similarity_reciprocal_rank_fusion(spark, sf_dir):
    from cascade_spark.operators.analytics_extra import _isqrt

    e = t(spark, sf_dir, "embeddings")
    d = t(spark, sf_dir, "documents")

    def _quant(col):
        return F.transform(col, lambda x: F.floor(x.cast("double") * Q_SCALE))

    def _idot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    query = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        _quant(F.col("embedding")).alias("_qq")
    )
    # corpus quantized ONCE below the crossJoin (round-13): the inlined
    # form re-ran the 64-wide interpreted _quant lambda 3x per row
    scored = (
        e.filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", _quant(F.col("embedding")).alias("qx"))
        .crossJoin(F.broadcast(query))
        .select(
            "vec_id",
            _idot(F.col("qx"), F.col("_qq")).alias("qdot"),
            _idot(F.col("qx"), F.col("qx")).alias("xn2"),
            _idot(F.col("_qq"), F.col("_qq")).alias("qn2"),
        )
        .select(
            "vec_id", "qdot", _isqrt(F.col("xn2") * F.col("qn2")).alias("nrm")
        )
        .select("vec_id", F.expr("qdot * 10000 DIV nrm").cast("long").alias("cos_bp"))
    )
    # checkpoint once: the cut, the beat-count scan, and the candidate
    # self-score all read this frame (retrieval_metrics precedent)
    scored = scored.transform(barrier_eager)

    wd = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).dropDuplicates(["doc_id", "w"])
    sizes = wd.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("nw"))
    q0 = wd.filter(F.col("doc_id") == QUERY_VEC_ID).select("w")
    n0 = sizes.filter(F.col("doc_id") == QUERY_VEC_ID).select(
        F.col("nw").alias("n0")
    )
    inter = (
        wd.filter(F.col("doc_id") != QUERY_VEC_ID)
        .join(F.broadcast(q0), "w")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("ni"))
    )
    lexs = (
        sizes.filter(F.col("doc_id") != QUERY_VEC_ID)
        .join(inter, "doc_id", "left")
        .crossJoin(F.broadcast(n0))
        .select(
            "doc_id",
            F.expr("coalesce(ni, 0) * 10000 DIV (nw + n0 - coalesce(ni, 0))")
            .cast("long")
            .alias("jac_bp"),
        )
    ).transform(barrier_eager)

    # phase 1: distributed top-K' pre-cut per side (TakeOrderedAndProject
    # — per-partition top-K' merged on the driver, never a global sort)
    sem_cand = (
        scored.orderBy(F.col("cos_bp").desc(), "vec_id")
        .limit(RRF_PRECUT)
        .select(F.col("vec_id").alias("id"))
    )
    lex_cand = (
        lexs.orderBy(F.col("jac_bp").desc(), "doc_id")
        .limit(RRF_PRECUT)
        .select(F.col("doc_id").alias("id"))
    )
    cand_ids = sem_cand.unionByName(lex_cand).distinct()

    # phase 2: each candidate's EXACT global rank = 1 + how many rows of
    # the FULL frame order strictly before it — a broadcast of <= 2*K'
    # candidate scores against one parallel scan, then a tiny groupBy.
    def _exact_ranks(full, id_col, score_col, rank_name):
        cs = full.select(F.col(id_col).alias("id"), F.col(score_col)).join(
            F.broadcast(cand_ids), "id"
        )
        beats = full.crossJoin(
            F.broadcast(
                cs.select(
                    F.col("id").alias("cid"), F.col(score_col).alias("cscore")
                )
            )
        ).where(
            (F.col(score_col) > F.col("cscore"))
            | ((F.col(score_col) == F.col("cscore")) & (F.col(id_col) < F.col("cid")))
        )
        nb = beats.groupBy("cid").agg(F.count(F.lit(1)).alias("_nb"))
        return cs.join(nb, cs["id"] == nb["cid"], "left").select(
            F.col("id"),
            (F.coalesce(F.col("_nb"), F.lit(0)) + 1).cast("long").alias(rank_name),
        )

    sem = _exact_ranks(scored, "vec_id", "cos_bp", "r_sem")
    lex = _exact_ranks(lexs, "doc_id", "jac_bp", "r_lex")
    return (
        sem.join(lex, "id")
        .select(
            "id",
            "r_sem",
            "r_lex",
            F.expr(
                f"{RRF_SCALE} DIV ({RRF_K} + r_sem) + {RRF_SCALE} DIV ({RRF_K} + r_lex)"
            )
            .cast("long")
            .alias("rrf_ppb"),
        )
        .orderBy(F.col("rrf_ppb").desc(), "id")
        .limit(RRF_TOP)
    )
