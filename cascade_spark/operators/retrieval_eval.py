"""Round-8 wave-10 retrieval evaluation — ranking-aware quality metrics
for the banded sign-LSH candidate index (``similarity.py``'s 100 TB
blocking path). ``embedding_lsh_recall_audit`` answers "are the true
neighbors in the candidate set at all"; this answers the retrieval
question a RAG/mining pipeline actually asks: *at what rank* do they
surface.

- ``similarity_retrieval_metrics``: for a deterministic query subset
  (vec_id % 50 == 0), rank ALL other vectors by exact-operand rounded
  cosine (truth ranking), rank the LSH-bucketed candidates by the same
  score (retrieved ranking), and report per query: candidate count,
  hits@10 (truth top-10 found in retrieved top-10), precision@10 in
  bp, and the reciprocal rank (floor bp) of the TRUE nearest neighbor
  within the retrieved list — MRR's per-query term, 0 when the bucket
  index misses it entirely.

Determinism: quantized integer vectors (Q_SCALE floor quantization,
similarity.py) make every dot product an exact integer-valued double;
the only IEEE steps are the two sqrts and one division, identical
expression trees in both engines, rounded to 6 dp before ranking with
a vec_id tiebreak (the repo's cosine-ranking discipline).

Scale (100 TB): truth ranking is n_queries x n by DESIGN — this is the
calibration audit that justifies trusting the buckets where truth can
only be sampled (same stance as embedding_lsh_recall_audit); the
retrieved side reads the shared persisted candidate-pair index.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from cascade_spark.operators._util import barrier, bigint, t
from cascade_spark.operators.similarity import (
    _SQL_BANDED_CTES,
    Q_SCALE,
    _lsh_candidate_pairs,
)
from cascade_spark.plans.registry import register

RETR_QUERY_MOD = 50
RETR_K = 10

# semantic-dedup gate constants, shared so the overmerge audit's oracle
# stays in lockstep with similarity_semantic_dedup's threshold
from cascade_spark.operators.similarity import (  # noqa: E402
    SEMDEDUP_T_DEN as _SD_DEN,
    SEMDEDUP_T_NUM as _SD_NUM,
)

_SD_T2 = _SD_DEN * _SD_DEN
_SD_N2 = _SD_NUM * _SD_NUM


@register(
    "similarity_retrieval_metrics",
    doc="Per-query precision@10 and true-NN reciprocal rank of the "
    "banded sign-LSH retrieval vs the exact cosine ranking over the "
    "deterministic vec_id % 50 query subset. Truth is brute-force by "
    "design (the calibration audit); candidates come from the shared "
    "persisted (band, code) bucket-join pair index. rr_bp = "
    "10000 DIV rank of the true nearest neighbor in the retrieved "
    "ranking, 0 if the buckets missed it.",
    oracle=f"""
WITH {_SQL_BANDED_CTES},
qn AS (
    SELECT vec_id,
           qv,
           CAST(list_inner_product(CAST(qv AS DOUBLE[]), CAST(qv AS DOUBLE[]))
                AS BIGINT) AS nq
    FROM qe
),
sc AS (
    SELECT q.vec_id AS qid, e.vec_id AS vid,
           ROUND(CAST(list_inner_product(CAST(q.qv AS DOUBLE[]),
                                         CAST(e.qv AS DOUBLE[])) AS DOUBLE)
                 / (SQRT(CAST(q.nq AS DOUBLE)) * SQRT(CAST(e.nq AS DOUBLE))),
                 6) AS score
    FROM qn q JOIN qn e ON e.vec_id != q.vec_id
    WHERE q.vec_id % {RETR_QUERY_MOD} = 0
),
tr AS (
    SELECT qid, vid,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, vid) AS trank
    FROM sc
),
retr0 AS (
    SELECT v1 AS qid, v2 AS vid FROM cand
    UNION ALL
    SELECT v2 AS qid, v1 AS vid FROM cand
),
retr AS (
    SELECT s.qid, s.vid,
           ROW_NUMBER() OVER (PARTITION BY s.qid
                              ORDER BY s.score DESC, s.vid) AS rrank
    FROM sc s JOIN retr0 r ON r.qid = s.qid AND r.vid = s.vid
),
ncand AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_cand FROM retr GROUP BY qid),
hits AS (
    SELECT t.qid, CAST(COUNT(*) AS BIGINT) AS h
    FROM tr t JOIN retr r ON r.qid = t.qid AND r.vid = t.vid
                         AND r.rrank <= {RETR_K}
    WHERE t.trank <= {RETR_K}
    GROUP BY t.qid
),
rr AS (
    SELECT t.qid,
           CAST(COALESCE(MAX(10000 // r.rrank), 0) AS BIGINT) AS rr_bp
    FROM tr t LEFT JOIN retr r ON r.qid = t.qid AND r.vid = t.vid
    WHERE t.trank = 1
    GROUP BY t.qid
)
SELECT q.vec_id AS qid,
       COALESCE(ncand.n_cand, 0) AS n_cand,
       COALESCE(hits.h, 0) AS hits_at_10,
       1000 * COALESCE(hits.h, 0) AS p_at_10_bp,
       COALESCE(rr.rr_bp, 0) AS rr_bp
FROM qn q
LEFT JOIN ncand ON ncand.qid = q.vec_id
LEFT JOIN hits ON hits.qid = q.vec_id
LEFT JOIN rr ON rr.qid = q.vec_id
WHERE q.vec_id % {RETR_QUERY_MOD} = 0
ORDER BY qid
""",
)
def similarity_retrieval_metrics(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")

    def _quant(col):
        return F.transform(col, lambda x: F.floor(x.cast("double") * Q_SCALE))

    def _idot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    from cascade_spark.operators._util import widen

    # widen the single-partition embeddings scan before the quantize +
    # norm pass (round-12): the brute-force n_q x n scoring below
    # evaluates an interpreted zip_with/aggregate dot product per pair,
    # and the whole candidate side otherwise sat in ONE scan task;
    # no-op at real scale (see widen). The small query side is
    # broadcast so the scoring join never shuffles the candidate side.
    qn = widen(e.select("vec_id", "embedding")).select(
        "vec_id", _quant(F.col("embedding")).alias("qv")
    ).select("vec_id", "qv", _idot(F.col("qv"), F.col("qv")).alias("nq"))
    queries = qn.filter(F.col("vec_id") % RETR_QUERY_MOD == 0).select(
        F.col("vec_id").alias("qid"), F.col("qv").alias("qa"), F.col("nq").alias("na")
    )
    cands = qn.select(
        F.col("vec_id").alias("vid"), F.col("qv").alias("qb"), F.col("nq").alias("nb")
    )
    sc = F.broadcast(queries).join(cands, F.col("qid") != F.col("vid")).select(
        "qid",
        "vid",
        F.round(
            _idot(F.col("qa"), F.col("qb")).cast("double")
            / (F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))),
            6,
        ).alias("score"),
    )
    # the scoring frame feeds 4 branches (truth ranks, retrieved ranks,
    # hits, MRR) — cut the lineage once so the n_q x n brute-force scan
    # runs once, not per branch (it is the declared audit cost).
    # eager=False (round-12): the branches all consume it inside ONE
    # final action, so a lazy checkpoint still computes it exactly once
    # but skips the extra materialization job
    sc = sc.transform(barrier)
    tr = sc.withColumn(
        "trank",
        F.row_number().over(
            Window.partitionBy("qid").orderBy(F.col("score").desc(), "vid")
        ),
    )
    pairs = _lsh_candidate_pairs(spark, sf_dir)
    retr0 = pairs.select(F.col("v1").alias("qid"), F.col("v2").alias("vid")).unionByName(
        pairs.select(F.col("v2").alias("qid"), F.col("v1").alias("vid"))
    )
    retr = sc.join(retr0, ["qid", "vid"]).withColumn(
        "rrank",
        F.row_number().over(
            Window.partitionBy("qid").orderBy(F.col("score").desc(), "vid")
        ),
    ).transform(barrier)
    tr = tr.transform(barrier)
    ncand = retr.groupBy("qid").agg(bigint(F.count(F.lit(1))).alias("n_cand"))
    hits = (
        tr.filter(F.col("trank") <= RETR_K)
        .join(retr.filter(F.col("rrank") <= RETR_K), ["qid", "vid"])
        .groupBy("qid")
        .agg(bigint(F.count(F.lit(1))).alias("h"))
    )
    rr = (
        tr.filter(F.col("trank") == 1)
        .join(retr.select("qid", "vid", "rrank"), ["qid", "vid"], "left")
        .groupBy("qid")
        .agg(
            bigint(
                F.coalesce(F.max(F.expr("10000 DIV rrank")), F.lit(0))
            ).alias("rr_bp")
        )
    )
    return (
        queries.select("qid")
        .join(ncand, "qid", "left")
        .join(hits, "qid", "left")
        .join(rr, "qid", "left")
        .select(
            "qid",
            F.coalesce("n_cand", F.lit(0)).cast("long").alias("n_cand"),
            F.coalesce("h", F.lit(0)).cast("long").alias("hits_at_10"),
            (F.lit(1000) * F.coalesce("h", F.lit(0))).cast("long").alias("p_at_10_bp"),
            F.coalesce("rr_bp", F.lit(0)).cast("long").alias("rr_bp"),
        )
        .orderBy("qid")
    )


SWEEP_THRESHOLDS = [3, 4, 5, 6, 7]  # cosine cuts t/10


@register(
    "similarity_dedup_threshold_sweep",
    doc="Dedup-threshold what-if over the LSH candidate index: ONE "
    "exact integer-cosine scoring pass over the persisted candidate "
    "pairs (cos >= t/10 iff qd>0 and 100*qd^2 >= t^2*na*nb — int64, "
    "no float), then a broadcast threshold spine evaluates all five "
    "cuts from the same pass (the pipeline_quality_threshold_sweep "
    "pattern): per cut — surviving pairs, docs touched, and the "
    "greedy keep-lowest-id removal bound. The number the dedup "
    "operator's threshold knob is set by before committing a 100 TB "
    "pass.",
    oracle=f"""
WITH {_SQL_BANDED_CTES},
qn AS (
    SELECT vec_id, qv,
           CAST(list_inner_product(CAST(qv AS DOUBLE[]), CAST(qv AS DOUBLE[]))
                AS BIGINT) AS nq
    FROM qe
),
scored AS (
    SELECT c.v1, c.v2,
           CAST(list_inner_product(CAST(a.qv AS DOUBLE[]),
                                   CAST(b.qv AS DOUBLE[])) AS BIGINT) AS qd,
           a.nq AS na, b.nq AS nb
    FROM cand c JOIN qn a ON a.vec_id = c.v1 JOIN qn b ON b.vec_id = c.v2
),
thr AS (SELECT UNNEST(ARRAY{SWEEP_THRESHOLDS}) AS t),
hits AS (
    SELECT thr.t, s.v1, s.v2
    FROM scored s JOIN thr
      ON s.qd > 0 AND 100 * s.qd * s.qd >= thr.t * thr.t * s.na * s.nb
)
SELECT CAST(thr.t AS BIGINT) AS thr_tenths,
       CAST(COALESCE(COUNT(h.v1), 0) AS BIGINT) AS n_pairs,
       CAST(COALESCE(COUNT(DISTINCT h.v1) + COUNT(DISTINCT h.v2), 0)
            AS BIGINT) AS side_card,
       CAST(COALESCE(COUNT(DISTINCT h.v2), 0) AS BIGINT) AS n_flagged_greedy
FROM thr LEFT JOIN hits h ON h.t = thr.t
GROUP BY thr.t ORDER BY thr_tenths
""",
)
def similarity_dedup_threshold_sweep(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")

    def _quant(col):
        return F.transform(col, lambda x: F.floor(x.cast("double") * Q_SCALE))

    def _idot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    from cascade_spark.operators._util import widen

    # qn feeds BOTH join sides — a lazy checkpoint computes the
    # quantize + self-norm pass once instead of once per broadcast
    # build (round-12)
    qn = e.select("vec_id", _quant(F.col("embedding")).alias("qv")).select(
        "vec_id", "qv", _idot(F.col("qv"), F.col("qv")).alias("nq")
    ).transform(barrier)
    a = qn.select(F.col("vec_id").alias("v1"), F.col("qv").alias("qa"), F.col("nq").alias("na"))
    b = qn.select(F.col("vec_id").alias("v2"), F.col("qv").alias("qb"), F.col("nq").alias("nb"))
    # widen the compact cached pair frame before the per-pair
    # interpreted dot product — the expensive per-row stage otherwise
    # runs in the cache's 1-2 compacted partitions (no-op at scale)
    scored = (
        widen(_lsh_candidate_pairs(spark, sf_dir))
        .join(F.broadcast(a), "v1")
        .join(F.broadcast(b), "v2")
        .select("v1", "v2", _idot(F.col("qa"), F.col("qb")).alias("qd"), "na", "nb")
    )
    thr = spark.createDataFrame(
        [(t_,) for t_ in SWEEP_THRESHOLDS], "t int"
    )
    hits = scored.crossJoin(F.broadcast(thr)).filter(
        (F.col("qd") > 0)
        & (
            F.lit(100) * F.col("qd") * F.col("qd")
            >= F.col("t") * F.col("t") * F.col("na") * F.col("nb")
        )
    )
    agg = hits.groupBy("t").agg(
        bigint(F.count(F.lit(1))).alias("n_pairs"),
        (F.countDistinct("v1") + F.countDistinct("v2")).cast("long").alias("side_card"),
        F.countDistinct("v2").cast("long").alias("n_flagged_greedy"),
    )
    return (
        thr.join(agg, "t", "left")
        .select(
            F.col("t").cast("long").alias("thr_tenths"),
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce("side_card", F.lit(0)).cast("long").alias("side_card"),
            F.coalesce("n_flagged_greedy", F.lit(0))
            .cast("long")
            .alias("n_flagged_greedy"),
        )
        .orderBy("thr_tenths")
    )


@register(
    "dedup_overmerge_audit",
    doc="Chain-collapse (overmerge) audit of the semantic-dedup "
    "clusters: greedy connected-component dedup merges A-B-C even when "
    "A and C are NOT direct near-duplicates — this reports how much of "
    "each cluster's pair space is transitive-only. Same gated edges "
    "and CC closure as similarity_semantic_dedup (shared candidate "
    "index, exact integer cosine gate); output: clusters, clustered "
    "vecs, direct vs total vs transitive pairs, overmerge share in "
    "floor bp, largest cluster. A high overmerge_bp says tighten the "
    "threshold or switch to medoid-based splitting before running the "
    "100 TB pass.",
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
      AND {_SD_T2} * qd * qd >= {_SD_N2} * na * nb
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
),
sizes AS (
    SELECT comp, CAST(COUNT(*) AS BIGINT) AS s FROM comp GROUP BY comp
),
agg AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(s) AS BIGINT) AS n_clustered,
           CAST(SUM(s * (s - 1) // 2) AS BIGINT) AS total_pairs,
           -- COALESCE mirrors the Spark builder: with zero clusters
           -- (degenerate slice) max_cluster reports 0, not NULL
           CAST(COALESCE(MAX(s), 0) AS BIGINT) AS max_cluster
    FROM sizes
),
dp AS (SELECT CAST(COUNT(*) AS BIGINT) AS direct_pairs FROM pairs)
SELECT agg.n_clusters, agg.n_clustered, dp.direct_pairs, agg.total_pairs,
       agg.total_pairs - dp.direct_pairs AS transitive_pairs,
       CAST(CASE WHEN agg.total_pairs = 0 THEN 0
            ELSE (10000 * (agg.total_pairs - dp.direct_pairs))
                 // agg.total_pairs END AS BIGINT) AS overmerge_bp,
       agg.max_cluster
FROM agg, dp
""",
)
def dedup_overmerge_audit(spark, sf_dir):
    from cascade_spark.operators.dedup import (
        LOCAL_CC_MAX_EDGES,
        _cc_labels_distributed,
        _cc_local,
    )
    from cascade_spark.operators.similarity import (
        SEMDEDUP_T_DEN,
        SEMDEDUP_T_NUM,
    )

    e = t(spark, sf_dir, "embeddings")

    def _quant(col):
        return F.transform(col, lambda x: F.floor(x.cast("double") * Q_SCALE))

    def _idot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    # quantize + self-dot once: the a/b branches below would otherwise
    # each re-run the 64-lane transform+fold over the embeddings table
    q = e.select("vec_id", _quant(F.col("embedding")).alias("qv")).select(
        "vec_id", "qv", _idot(F.col("qv"), F.col("qv")).alias("nq")
    ).transform(barrier)
    a = q.select(F.col("vec_id").alias("v1"), F.col("qv").alias("qa"), F.col("nq").alias("na"))
    b = q.select(F.col("vec_id").alias("v2"), F.col("qv").alias("qb"), F.col("nq").alias("nb"))
    p = (
        _lsh_candidate_pairs(spark, sf_dir)
        .join(a, "v1")
        .join(b, "v2")
        .select("v1", "v2", _idot(F.col("qa"), F.col("qb")).alias("qd"), "na", "nb")
    )
    t2 = SEMDEDUP_T_DEN * SEMDEDUP_T_DEN
    n2 = SEMDEDUP_T_NUM * SEMDEDUP_T_NUM
    # one evaluation of the candidate join + per-pair dot product: the
    # count() (cap check) materializes the checkpointed blocks and the
    # collect()/distributed path below re-reads them instead of
    # re-running the join
    pairs = p.filter(
        (F.col("qd") > 0)
        & (F.lit(t2) * F.col("qd") * F.col("qd") >= F.lit(n2) * F.col("na") * F.col("nb"))
    ).select("v1", "v2").transform(barrier)
    n_direct = pairs.count()
    if n_direct <= LOCAL_CC_MAX_EDGES:
        rows = [(r[0], r[1]) for r in pairs.collect()]
        labels = spark.createDataFrame(_cc_local(rows), "node long, comp long")
    else:  # pragma: no cover - fixture stays under the local cap
        fwd = pairs.select(F.col("v1").alias("src"), F.col("v2").alias("nbr"))
        rev = pairs.select(F.col("v2").alias("src"), F.col("v1").alias("nbr"))
        edges = fwd.union(rev)
        init = (
            edges.select("src").distinct().select(F.col("src").alias("node"))
            .withColumn("comp", F.col("node"))
        )
        labels = _cc_labels_distributed(edges, init)
    sizes = labels.groupBy("comp").agg(F.count(F.lit(1)).cast("long").alias("s"))
    agg = sizes.agg(
        bigint(F.count(F.lit(1))).alias("n_clusters"),
        bigint(F.sum("s")).alias("n_clustered"),
        bigint(F.sum(F.col("s") * (F.col("s") - 1) / 2)).alias("total_pairs"),
        bigint(F.coalesce(F.max("s"), F.lit(0))).alias("max_cluster"),
    )
    return agg.select(
        "n_clusters",
        "n_clustered",
        F.lit(n_direct).cast("long").alias("direct_pairs"),
        "total_pairs",
        (F.col("total_pairs") - F.lit(n_direct)).cast("long").alias("transitive_pairs"),
        F.when(F.col("total_pairs") == 0, F.lit(0))
        .otherwise(
            F.expr(f"(10000 * (total_pairs - {n_direct})) DIV total_pairs")
        )
        .cast("long")
        .alias("overmerge_bp"),
        "max_cluster",
    )
