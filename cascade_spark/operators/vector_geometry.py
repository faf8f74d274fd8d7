"""Round-9 wave — compact-code similarity and cluster-geometry audits
over the embeddings table (north-star similarity family; extends
similarity.py's LSH/quantized-dot stack with the binary-code path and
the label-cluster quality readouts):

- ``similarity_hamming_topk``: 64-bit sign-code nearest neighbors —
  each vector collapses to two 32-bit integer codes (8 bytes vs 256
  float bytes, the classic binary-embedding bandwidth cut), query
  distance is XOR popcount. The third ANN family next to banded LSH
  and int8 dot.
- ``embedding_label_silhouette``: simplified silhouette per label
  against FLOORED integer label centroids with squared distances —
  the cluster-separation audit behind semantic-dedup thresholds.
- ``embedding_pq_distortion``: product-quantization distortion audit —
  4 sub-blocks of 16 dims, per-block codebook = the 10 label
  centroids, exact argmin assignment and residual energy per block
  plus codebook balance. The "would PQ hold signal?" pre-flight
  before building a compressed index.

Reference scope: declared aggregates over the ``embeddings`` table per
SURVEY §2B (north-star similarity).

Determinism: vectors quantize to integers first (trunc(x*200) toward
zero — cast-to-long/TRUNC, the similarity.py Q_SCALE contract; the k-NN
and centroid-drift audits floor(x*200) instead, as their docs declare);
codes, distances, residuals and
argmins are all exact integer arithmetic with declared tie rules
(smallest label/id); the only divisions are truncating DIV //.

Scale (100 TB): sign codes are map-only folds (no shuffle until the
TakeOrdered top-k); silhouette/PQ join each vector against a
BROADCAST 10-label centroid frame (10x fan-out on the dim spine, never
a pair join), with centroids from one map-side-combinable groupBy.
The centroid-drift audit collapses to (label × parity × dim) sums
(10 × 2 × 64 rows) in one map-side-combinable groupBy before the
per-label fold.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from cascade_spark.operators._util import barrier, bigint, t
from cascade_spark.operators.inference_extra import _csum
from cascade_spark.plans.registry import register

Q = 200  # |x| < 0.6 in the fixture embeddings -> |q| < 120 fits int8
BP = 10_000
HAM_TOP = 10
HAM_QUERY = 0

# fold a 32-dim slice of sign bits into one integer, MSB-first
_SPARK_CODE = (
    "aggregate(slice(embedding, {off}, 32), CAST(0 AS BIGINT),"
    " (acc, x) -> acc * 2 + IF(x >= 0, CAST(1 AS BIGINT), CAST(0 AS BIGINT)))"
)

_SQL_CODES = """
codes AS (
    SELECT vec_id,
           CAST(SUM(CASE WHEN pos <= 32 AND x >= 0
                         THEN (CAST(1 AS BIGINT) << (32 - pos))
                         ELSE 0 END) AS BIGINT) AS hi,
           CAST(SUM(CASE WHEN pos > 32 AND x >= 0
                         THEN (CAST(1 AS BIGINT) << (64 - pos))
                         ELSE 0 END) AS BIGINT) AS lo
    FROM (SELECT vec_id, UNNEST(embedding) AS x,
                 GENERATE_SUBSCRIPTS(embedding, 1) AS pos
          FROM embeddings)
    GROUP BY vec_id
)
"""


@register(
    "similarity_hamming_topk",
    doc=f"Binary-code ANN: every embedding collapses to a 64-bit sign "
    "code (two 32-bit halves folded MSB-first over the dim order — 8 "
    "bytes per vector against 256 float bytes), and the top "
    f"{HAM_TOP} neighbors of vec {HAM_QUERY} rank by XOR popcount "
    "Hamming distance (vec_id tie rule). Map-only code construction + "
    "TakeOrdered — the bandwidth-optimal first pass that a quantized "
    "exact rerank (similarity_quantized_topk) then refines.",
    oracle=f"""
WITH {_SQL_CODES},
q AS (SELECT hi AS qhi, lo AS qlo FROM codes WHERE vec_id = {HAM_QUERY})
SELECT c.vec_id,
       CAST(BIT_COUNT(XOR(c.hi, q.qhi)) + BIT_COUNT(XOR(c.lo, q.qlo))
            AS BIGINT) AS hamming
FROM codes c, q
WHERE c.vec_id <> {HAM_QUERY}
ORDER BY hamming, c.vec_id
LIMIT {HAM_TOP}
""",
)
def similarity_hamming_topk(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    codes = e.select(
        "vec_id",
        F.expr(_SPARK_CODE.format(off=1)).alias("hi"),
        F.expr(_SPARK_CODE.format(off=33)).alias("lo"),
    )
    q = codes.filter(F.col("vec_id") == HAM_QUERY).select(
        F.col("hi").alias("qhi"), F.col("lo").alias("qlo")
    )
    scored = (
        codes.filter(F.col("vec_id") != HAM_QUERY)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.expr(
                "CAST(bit_count(hi ^ qhi) + bit_count(lo ^ qlo) AS BIGINT)"
            ).alias("hamming"),
        )
    )
    return scored.orderBy("hamming", "vec_id").limit(HAM_TOP)


def _elems(spark, sf_dir):
    """(vec_id, label, pos, xq): posexploded quantized dims."""
    e = t(spark, sf_dir, "embeddings")
    xq = (F.col("x").cast("double") * F.lit(float(Q))).cast("long")
    return e.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "x")
    ).select("vec_id", "label", "pos", xq.alias("xq"))


_SQL_ELEMS = f"""
elems AS (
    SELECT vec_id, label,
           GENERATE_SUBSCRIPTS(embedding, 1) - 1 AS pos,
           CAST(TRUNC(CAST(UNNEST(embedding) AS DOUBLE) * {Q}.0) AS BIGINT)
               AS xq
    FROM embeddings
)
"""


@register(
    "embedding_label_silhouette",
    doc="Simplified silhouette per label with FLOORED integer label "
    "centroids (c = sum(xq) DIV n per dim — declared) and SQUARED "
    "distances: per vector a = d2(own centroid), b = min over other "
    "labels, s = ((b - a)*10000) DIV max(a, b) (0 on degenerate), "
    "mean per label by truncating division plus the misclustered "
    "(s < 0) count — the cluster-separation audit behind semantic-"
    "dedup thresholds. Each vector joins a BROADCAST 10-row-per-dim "
    "centroid frame; never a pair join.",
    oracle=f"""
WITH {_SQL_ELEMS},
cent AS (
    SELECT label AS clabel, pos,
           CAST(SUM(xq) // COUNT(*) AS BIGINT) AS c
    FROM elems GROUP BY 1, 2
),
d2 AS (
    SELECT e.vec_id, e.label, ct.clabel,
           CAST(SUM((e.xq - ct.c) * (e.xq - ct.c)) AS BIGINT) AS d2
    FROM elems e JOIN cent ct ON ct.pos = e.pos
    GROUP BY 1, 2, 3
),
ab AS (
    SELECT vec_id, label,
           CAST(MAX(CASE WHEN clabel = label THEN d2 END) AS BIGINT) AS a,
           CAST(MIN(CASE WHEN clabel <> label THEN d2 END) AS BIGINT) AS b
    FROM d2 GROUP BY 1, 2
),
s AS (
    SELECT vec_id, label,
           CAST(CASE WHEN GREATEST(a, b) = 0 THEN 0
                     ELSE ((b - a) * {BP}) // GREATEST(a, b)
                END AS BIGINT) AS s_bp
    FROM ab
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(COALESCE(SUM(s_bp), 0) // GREATEST(COUNT(*), 1) AS BIGINT)
           AS mean_silhouette_bp,
       CAST(COUNT(*) FILTER (WHERE s_bp < 0) AS BIGINT) AS n_misclustered
FROM s
GROUP BY label
ORDER BY label
""",
)
def embedding_label_silhouette(spark, sf_dir):
    elems = _elems(spark, sf_dir)
    cent = elems.groupBy(F.col("label").alias("clabel"), "pos").agg(
        F.expr("CAST(SUM(xq) DIV COUNT(*) AS BIGINT)").alias("c")
    )
    d2 = (
        elems.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", "label", "clabel")
        .agg(
            bigint(
                F.sum((F.col("xq") - F.col("c")) * (F.col("xq") - F.col("c")))
            ).alias("d2")
        )
    )
    ab = d2.groupBy("vec_id", "label").agg(
        bigint(
            F.max(F.when(F.col("clabel") == F.col("label"), F.col("d2")))
        ).alias("a"),
        bigint(
            F.min(F.when(F.col("clabel") != F.col("label"), F.col("d2")))
        ).alias("b"),
    )
    s = ab.select(
        "vec_id",
        "label",
        F.expr(
            f"CAST(CASE WHEN GREATEST(a, b) = 0 THEN 0"
            f" ELSE ((b - a) * {BP}) DIV GREATEST(a, b) END AS BIGINT)"
        ).alias("s_bp"),
    )
    return (
        s.groupBy("label")
        .agg(
            bigint(F.count(F.lit(1))).alias("n_vectors"),
            F.expr(
                "CAST(COALESCE(SUM(s_bp), 0) DIV GREATEST(COUNT(*), 1)"
                " AS BIGINT)"
            ).alias("mean_silhouette_bp"),
            bigint(
                F.coalesce(
                    F.sum(F.when(F.col("s_bp") < 0, 1).otherwise(0)), F.lit(0)
                )
            ).alias("n_misclustered"),
        )
        .orderBy("label")
    )


PQ_BLOCKS = 4
PQ_BLOCK_DIMS = 16


@register(
    "embedding_pq_distortion",
    doc=f"Product-quantization distortion audit: dims split into "
    f"{PQ_BLOCKS} blocks of {PQ_BLOCK_DIMS}, per-block codebook = the "
    "10 FLOORED label centroids (deterministic — no k-means state), "
    "each vector's block assigns to the codebook entry with minimal "
    "exact squared residual (smallest-label tie rule). Per block: "
    "total residual energy, the dominant code and its usage share — "
    "high distortion or a collapsed codebook says PQ would destroy "
    "signal at this block size. All exact integers; broadcast "
    "codebook join, never a pair join.",
    oracle=f"""
WITH {_SQL_ELEMS},
blk AS (
    SELECT vec_id, label, pos // {PQ_BLOCK_DIMS} AS block, pos, xq
    FROM elems
),
cent AS (
    SELECT label AS code, block, pos,
           CAST(SUM(xq) // COUNT(*) AS BIGINT) AS c
    FROM blk GROUP BY 1, 2, 3
),
err AS (
    SELECT b.vec_id, b.block, ct.code,
           CAST(SUM((b.xq - ct.c) * (b.xq - ct.c)) AS BIGINT) AS e2
    FROM blk b JOIN cent ct ON ct.block = b.block AND ct.pos = b.pos
    GROUP BY 1, 2, 3
),
assign AS (
    SELECT vec_id, block,
           CAST(MIN(e2) AS BIGINT) AS best_e2,
           CAST(FIRST(code ORDER BY e2, code) AS BIGINT) AS best_code
    FROM err GROUP BY 1, 2
),
usage AS (
    SELECT block, best_code,
           CAST(COUNT(*) AS BIGINT) AS used,
           CAST(SUM(best_e2) AS BIGINT) AS e2_sum
    FROM assign GROUP BY 1, 2
),
dom AS (
    SELECT block,
           CAST(SUM(used) AS BIGINT) AS n_vecs,
           CAST(SUM(e2_sum) AS BIGINT) AS total_distortion,
           CAST(FIRST(best_code ORDER BY used DESC, best_code) AS BIGINT)
               AS dominant_code,
           CAST(MAX(used) AS BIGINT) AS dominant_used
    FROM usage GROUP BY block
)
SELECT CAST(block AS BIGINT) AS block, n_vecs, total_distortion,
       dominant_code,
       CAST((dominant_used * {BP}) // n_vecs AS BIGINT) AS dominant_share_bp
FROM dom
ORDER BY block
""",
)
def embedding_pq_distortion(spark, sf_dir):
    elems = _elems(spark, sf_dir)
    blk = elems.select(
        "vec_id",
        "label",
        F.expr(f"pos DIV {PQ_BLOCK_DIMS}").alias("block"),
        "pos",
        "xq",
    )
    cent = blk.groupBy(F.col("label").alias("code"), "block", "pos").agg(
        F.expr("CAST(SUM(xq) DIV COUNT(*) AS BIGINT)").alias("c")
    )
    err = (
        blk.join(F.broadcast(cent), ["block", "pos"])
        .groupBy("vec_id", "block", "code")
        .agg(
            bigint(
                F.sum((F.col("xq") - F.col("c")) * (F.col("xq") - F.col("c")))
            ).alias("e2")
        )
    )
    assign = err.groupBy("vec_id", "block").agg(
        bigint(F.min("e2")).alias("best_e2"),
        bigint(
            F.min_by("code", F.struct(F.col("e2"), F.col("code")))
        ).alias("best_code"),
    )
    usage = assign.groupBy("block", "best_code").agg(
        bigint(F.count(F.lit(1))).alias("used"),
        bigint(F.sum("best_e2")).alias("e2_sum"),
    )
    dom = usage.groupBy("block").agg(
        bigint(F.sum("used")).alias("n_vecs"),
        bigint(F.sum("e2_sum")).alias("total_distortion"),
        bigint(
            F.min_by(
                "best_code",
                F.struct((-F.col("used")).alias("nu"), F.col("best_code")),
            )
        ).alias("dominant_code"),
        bigint(F.max("used")).alias("dominant_used"),
    )
    return dom.select(
        bigint(F.col("block")).alias("block"),
        "n_vecs",
        "total_distortion",
        "dominant_code",
        F.expr(f"CAST((dominant_used * {BP}) DIV n_vecs AS BIGINT)").alias(
            "dominant_share_bp"
        ),
    ).orderBy("block")


JL_OUT_DIMS = 16
JL_SAMPLE_IDS = 100  # bounded audit sample: vec_id < 100 (declared)


@register(
    "embedding_random_projection_jl",
    doc=f"Johnson-Lindenstrauss distortion audit: a deterministic "
    f"64 -> {JL_OUT_DIMS} random-sign projection (s_ij = +-1 from the "
    "md5 parity of 'i:j' — the dedup.py hash idiom, so both engines "
    "build the SAME matrix), applied to the quantized vectors of the "
    f"bounded vec_id < {JL_SAMPLE_IDS} sample. For every sample pair, "
    "the exact integer ratio of projected to expected squared distance "
    f"(E||Ry||^2 = {JL_OUT_DIMS}*||y||^2 for sign matrices) in bp — "
    "mean/min/max and the within-20% count say whether the cheap "
    "16-dim sketch preserves geometry before you build an index on it. "
    "Sample is index-sized and broadcast; never an all-corpus pair join.",
    oracle=f"""
WITH {_SQL_ELEMS},
sample_ AS (SELECT * FROM elems WHERE vec_id < {JL_SAMPLE_IDS}),
signs AS (
    SELECT i.pos, j.j,
           CAST(1 - 2 * (('0x' || SUBSTR(MD5(i.pos || ':' || j.j), 1, 8))
                         ::BIGINT % 2) AS BIGINT) AS s
    FROM (SELECT DISTINCT pos FROM elems) i
    CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, {JL_OUT_DIMS - 1})) AS j) j
),
proj AS (
    SELECT e.vec_id, s.j, CAST(SUM(s.s * e.xq) AS BIGINT) AS p
    FROM sample_ e JOIN signs s ON s.pos = e.pos
    GROUP BY 1, 2
),
pd2 AS (
    SELECT a.vec_id AS v1, b.vec_id AS v2,
           CAST(SUM((a.p - b.p) * (a.p - b.p)) AS HUGEINT) AS dproj2
    FROM proj a JOIN proj b ON a.j = b.j AND a.vec_id < b.vec_id
    GROUP BY 1, 2
),
od2 AS (
    SELECT a.vec_id AS v1, b.vec_id AS v2,
           CAST(SUM((a.xq - b.xq) * (a.xq - b.xq)) AS HUGEINT) AS d2
    FROM sample_ a JOIN sample_ b ON a.pos = b.pos AND a.vec_id < b.vec_id
    GROUP BY 1, 2
),
ratio AS (
    SELECT CAST(CASE WHEN o.d2 = 0 THEN {BP}
                     ELSE (p.dproj2 * {BP}) // ({JL_OUT_DIMS} * o.d2)
                END AS BIGINT) AS r_bp
    FROM pd2 p JOIN od2 o ON o.v1 = p.v1 AND o.v2 = p.v2
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(COALESCE(SUM(r_bp), 0) // GREATEST(COUNT(*), 1) AS BIGINT)
           AS mean_ratio_bp,
       CAST(COALESCE(MIN(r_bp), 0) AS BIGINT) AS min_ratio_bp,
       CAST(COALESCE(MAX(r_bp), 0) AS BIGINT) AS max_ratio_bp,
       CAST(COUNT(*) FILTER (WHERE r_bp BETWEEN 8000 AND 12000) AS BIGINT)
           AS n_within_20pct
FROM ratio
""",
)
def embedding_random_projection_jl(spark, sf_dir):
    elems = _elems(spark, sf_dir)
    # referenced 3x (the projection + both original-distance join
    # sides): evaluate the bounded-sample explode once
    sample = elems.filter(F.col("vec_id") < JL_SAMPLE_IDS).transform(barrier)
    dims = elems.select("pos").distinct()
    outs = t(spark, sf_dir, "embeddings").sparkSession.range(
        JL_OUT_DIMS
    ).select(F.col("id").cast("long").alias("j"))
    signs = dims.crossJoin(outs).select(
        "pos",
        "j",
        (
            1
            - 2
            * (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                ":",
                                F.col("pos").cast("string"),
                                F.col("j").cast("string"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % 2
            )
        )
        .cast("long")
        .alias("s"),
    )
    proj = (
        sample.join(F.broadcast(signs), "pos")
        .groupBy("vec_id", "j")
        .agg(bigint(F.sum(F.col("s") * F.col("xq"))).alias("p"))
        # both projected-distance join sides read this aggregate
        .transform(barrier)
    )
    a = proj.select(
        F.col("vec_id").alias("v1"), "j", F.col("p").alias("pa")
    )
    b = proj.select(
        F.col("vec_id").alias("v2"), F.col("j").alias("j2"), F.col("p").alias("pb")
    )
    pd2 = (
        a.join(b, (F.col("j") == F.col("j2")) & (F.col("v1") < F.col("v2")))
        .groupBy("v1", "v2")
        .agg(
            F.sum((F.col("pa") - F.col("pb")) * (F.col("pa") - F.col("pb")))
            .cast("decimal(38,0)")
            .alias("dproj2")
        )
    )
    sa = sample.select(
        F.col("vec_id").alias("v1"), "pos", F.col("xq").alias("xa")
    )
    sb = sample.select(
        F.col("vec_id").alias("v2"), F.col("pos").alias("pos2"), F.col("xq").alias("xb")
    )
    od2 = (
        sa.join(
            sb, (F.col("pos") == F.col("pos2")) & (F.col("v1") < F.col("v2"))
        )
        .groupBy("v1", "v2")
        .agg(
            F.sum((F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")))
            .cast("decimal(38,0)")
            .alias("d2")
        )
    )
    ratio = pd2.join(od2, ["v1", "v2"]).select(
        F.expr(
            f"CAST(CASE WHEN d2 = 0 THEN {BP}"
            f" ELSE (dproj2 * {BP}) DIV ({JL_OUT_DIMS} * d2)"
            f" END AS BIGINT)"
        ).alias("r_bp")
    )
    return ratio.agg(
        bigint(F.count(F.lit(1))).alias("n_pairs"),
        F.expr(
            "CAST(COALESCE(SUM(r_bp), 0) DIV GREATEST(COUNT(*), 1) AS BIGINT)"
        ).alias("mean_ratio_bp"),
        bigint(F.coalesce(F.min("r_bp"), F.lit(0))).alias("min_ratio_bp"),
        bigint(F.coalesce(F.max("r_bp"), F.lit(0))).alias("max_ratio_bp"),
        bigint(
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("r_bp") >= 8000) & (F.col("r_bp") <= 12000), 1
                    ).otherwise(0)
                ),
                F.lit(0),
            )
        ).alias("n_within_20pct"),
    )


# ---------------------------------------------------------------------------
# k-NN label consistency
# ---------------------------------------------------------------------------


KNN_K = 5


@register(
    "embedding_knn_label_consistency",
    doc=f"Exact {KNN_K}-NN label-purity audit for the declared anchor "
    "sample (vec_id % 100 = 0): neighbors ranked by the floor(x*200) "
    "quantized dot product (similarity.py Q_SCALE contract — exact "
    "integers, no float tolerance), ties broken by smaller vec_id; "
    "reports per anchor how many of its 5 nearest share its label and "
    "whether the single nearest does. The 'would k-NN agree with the "
    "labels?' pre-flight before trusting embedding-space dedup "
    "thresholds. Anchors BROADCAST against the corpus (sample-bounded "
    "exact path; LSH variants are the corpus-scale approximate path).",
    oracle=f"""
WITH anc AS (
    SELECT vec_id AS aid, embedding AS av, label AS alab
    FROM embeddings WHERE vec_id % 100 = 0
),
scored AS (
    SELECT anc.aid, anc.alab, e.vec_id, e.label,
           CAST(SUM(FLOOR(CAST(e.embedding[i] AS DOUBLE) * {Q})
                    * FLOOR(CAST(anc.av[i] AS DOUBLE) * {Q}))
                AS BIGINT) AS qdot
    FROM embeddings e, anc,
         LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(e.embedding))) AS i)
    WHERE e.vec_id <> anc.aid
    GROUP BY anc.aid, anc.alab, e.vec_id, e.label
),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY aid
                 ORDER BY qdot DESC, vec_id) AS rn
    FROM scored
)
SELECT aid AS anchor_id, CAST(alab AS BIGINT) AS anchor_label,
       CAST(COUNT(*) FILTER (WHERE label = alab) AS BIGINT) AS n_same_label,
       CAST(MAX(CASE WHEN rn = 1 AND label = alab THEN 1 ELSE 0 END)
            AS BIGINT) AS top1_same
FROM ranked WHERE rn <= {KNN_K}
GROUP BY 1, 2 ORDER BY 1
""",
)
def embedding_knn_label_consistency(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")

    def _quant(col):
        return F.transform(col, lambda x: F.floor(x.cast("double") * Q))

    anc = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("aid"),
        _quant(F.col("embedding")).alias("aq"),
        F.col("label").alias("alab"),
    )
    # quantize the corpus ONCE below the anchor crossJoin:
    # inlining _quant into the post-join projection re-ran the 64-wide
    # interpreted transform per (row × anchor) PAIR instead of per row —
    # N_anchors× redundant lambda work (the similarity_mips_norm_bound
    # projection-barrier precedent). Warm sf0.1: 2.2-3.2 s → 1.3 s,
    # output verified identical.
    eq = e.select("vec_id", "label", _quant(F.col("embedding")).alias("qx"))
    scored = (
        eq.crossJoin(F.broadcast(anc))
        .filter(F.col("vec_id") != F.col("aid"))
        .select(
            "aid",
            "alab",
            "vec_id",
            "label",
            F.aggregate(
                F.zip_with(F.col("qx"), F.col("aq"), lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("qdot"),
        )
    )
    w = Window.partitionBy("aid").orderBy(F.col("qdot").desc(), "vec_id")
    ranked = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= KNN_K
    )
    return (
        ranked.groupBy(
            F.col("aid").alias("anchor_id"),
            F.col("alab").cast("long").alias("anchor_label"),
        )
        .agg(
            _csum(F.col("label") == F.col("alab")).alias("n_same_label"),
            bigint(
                F.max(
                    F.when(
                        (F.col("rn") == 1) & (F.col("label") == F.col("alab")),
                        1,
                    ).otherwise(0)
                )
            ).alias("top1_same"),
        )
        .orderBy("anchor_id")
    )


@register(
    "embedding_centroid_drift_halves",
    doc="Per-label centroid cosine drift between the even- and "
    "odd-vec_id halves (parity = deterministic batch stand-in): SUM "
    "vectors of the floor(x*200) quantized embeddings per (label, "
    "parity, dim) — cosine is scale-invariant so the sum vector IS "
    "the centroid direction; dot and squared norms are exact integers "
    "and only the final cosine evaluates one mirrored IEEE sqrt at 6 "
    "dp. cos ~ 1 means the two halves agree on the label's direction; "
    "a low cosine flags label drift or a contaminated batch. Guards: "
    "a label with an empty half (or a zero sum vector) reports 0.0.",
    oracle=f"""
WITH ex AS (
    SELECT label, vec_id % 2 AS par, i AS pos,
           CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * {Q}) AS BIGINT) AS q
    FROM embeddings,
         LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(embedding))) AS i)
),
sums AS (
    SELECT label, par, pos, CAST(SUM(q) AS BIGINT) AS s
    FROM ex GROUP BY 1, 2, 3
),
se AS (SELECT label, pos, s FROM sums WHERE par = 0),
so AS (SELECT label, pos, s FROM sums WHERE par = 1),
g AS (
    SELECT COALESCE(se.label, so.label) AS label,
           CAST(SUM(COALESCE(se.s, 0) * COALESCE(so.s, 0)) AS BIGINT) AS dot_q,
           CAST(SUM(COALESCE(se.s, 0) * COALESCE(se.s, 0)) AS BIGINT) AS n2e,
           CAST(SUM(COALESCE(so.s, 0) * COALESCE(so.s, 0)) AS BIGINT) AS n2o
    FROM se FULL JOIN so ON se.label = so.label AND se.pos = so.pos
    GROUP BY 1
),
cnt AS (
    SELECT label,
           CAST(COUNT(*) FILTER (WHERE vec_id % 2 = 0) AS BIGINT) AS n_even,
           CAST(COUNT(*) FILTER (WHERE vec_id % 2 = 1) AS BIGINT) AS n_odd
    FROM embeddings GROUP BY 1
)
SELECT CAST(c.label AS BIGINT) AS label, c.n_even, c.n_odd, g.dot_q,
       CASE WHEN g.n2e = 0 OR g.n2o = 0 THEN 0.0
            ELSE ROUND(CAST(g.dot_q AS DOUBLE)
                 / SQRT(CAST(g.n2e AS DOUBLE) * CAST(g.n2o AS DOUBLE)), 6)
       END AS cos_drift
FROM cnt c JOIN g ON g.label = c.label
ORDER BY 1
""",
)
def embedding_centroid_drift_halves(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    ex = e.select(
        F.col("label").cast("long").alias("label"),
        (F.col("vec_id") % 2).alias("par"),
        F.posexplode("embedding").alias("pos0", "x"),
    ).select(
        "label",
        "par",
        (F.col("pos0") + 1).alias("pos"),
        F.floor(F.col("x").cast("double") * Q).cast("long").alias("q"),
    )
    sums = ex.groupBy("label", "par", "pos").agg(
        bigint(F.sum("q")).alias("s")
    )
    se = sums.filter(F.col("par") == 0).select(
        "label", "pos", F.col("s").alias("s_e")
    )
    so = sums.filter(F.col("par") == 1).select(
        "label", "pos", F.col("s").alias("s_o")
    )
    g = (
        se.join(so, ["label", "pos"], "full")
        .groupBy("label")
        .agg(
            bigint(
                F.sum(
                    F.coalesce("s_e", F.lit(0)) * F.coalesce("s_o", F.lit(0))
                )
            ).alias("dot_q"),
            bigint(
                F.sum(
                    F.coalesce("s_e", F.lit(0)) * F.coalesce("s_e", F.lit(0))
                )
            ).alias("n2e"),
            bigint(
                F.sum(
                    F.coalesce("s_o", F.lit(0)) * F.coalesce("s_o", F.lit(0))
                )
            ).alias("n2o"),
        )
    )
    cnt = e.groupBy(F.col("label").cast("long").alias("label")).agg(
        bigint(
            F.coalesce(F.sum(F.when(F.col("vec_id") % 2 == 0, 1).otherwise(0)), F.lit(0))
        ).alias("n_even"),
        bigint(
            F.coalesce(F.sum(F.when(F.col("vec_id") % 2 == 1, 1).otherwise(0)), F.lit(0))
        ).alias("n_odd"),
    )
    cos = F.round(
        F.col("dot_q").cast("double")
        / F.sqrt(F.col("n2e").cast("double") * F.col("n2o").cast("double")),
        6,
    )
    return (
        cnt.join(g, "label")
        .select(
            "label",
            "n_even",
            "n_odd",
            "dot_q",
            F.when((F.col("n2e") == 0) | (F.col("n2o") == 0), F.lit(0.0))
            .otherwise(cos)
            .alias("cos_drift"),
        )
        .orderBy("label")
    )
