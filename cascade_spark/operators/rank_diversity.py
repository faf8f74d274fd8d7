"""Round-9 wave-6c — maximal marginal relevance (MMR) result
diversification over the embedding corpus: the classic re-ranking step
(Carbonell & Goldstein 1998) every retrieval/data-selection stack runs
between ANN candidates and the final context — pick the item that
maximizes lambda*relevance - (1-lambda)*max-similarity-to-already-
picked.

Design: relevance is the exact quantized cosine to query item 0 (the
similarity-family integer contract), the candidate pool is a
distributed TakeOrdered top-MMR_POOL, and the greedy loop is a BOUNDED
driver loop (MMR_PICKS rounds of a 1-row argmax over the <= MMR_POOL
candidate frame — the pipeline_greedy_coverage precedent) with
everything in exact integers: with lambda = 1/2 the doubled score
2*MMR = rel_bp - max_sim_bp needs no division at all. The DuckDB
oracle unrolls the same greedy rounds as CTEs.

Reference scope: the reference engine is an event log
(src/broker/main.rs); declared query over ``embeddings`` per SURVEY
§2B north-star similarity.

Scale (100 TB): the corpus pass is the TakeOrdered relevance cut; the
greedy loop touches only the pool frame (MMR_POOL rows) and its
MMR_POOL^2 pairwise sims — constant-size work after the cut.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cascade_spark.operators._util import barrier_eager, t
from cascade_spark.plans.registry import register

MMR_POOL = 20
MMR_PICKS = 5
QV = 200  # similarity-family quantization scale


def _sql_isqrt(n: str) -> str:
    s0 = f"CAST(FLOOR(SQRT(CAST({n} AS DOUBLE))) AS BIGINT)"
    return (
        f"(CASE WHEN ({s0} + 1) * ({s0} + 1) <= {n} THEN {s0} + 1 "
        f"WHEN {s0} * {s0} > {n} THEN {s0} - 1 ELSE {s0} END)"
    )


def _sql_mmr_round(i: int) -> str:
    """Greedy round i (>= 2): score remaining pool members by
    cos_bp - max(sim to selected), pick the (score DESC, vec_id) max."""
    return f"""
r{i} AS (
    SELECT p.vec_id, p.cos_bp - MAX(s.sim_bp) AS sc
    FROM pool p
    JOIN sim s ON s.a = p.vec_id
    JOIN sel{i - 1} q ON s.b = q.vec_id
    WHERE p.vec_id NOT IN (SELECT vec_id FROM sel{i - 1})
    GROUP BY p.vec_id, p.cos_bp
),
s{i} AS (SELECT vec_id, sc FROM r{i} ORDER BY sc DESC, vec_id LIMIT 1),
sel{i} AS (SELECT vec_id FROM sel{i - 1} UNION ALL SELECT vec_id FROM s{i})"""


@register(
    "similarity_mmr_diversify",
    doc=f"MMR diversification (lambda = 1/2): top-{MMR_POOL} relevance "
    "pool by exact quantized cosine to query item 0 (distributed "
    f"TakeOrdered), then {MMR_PICKS} greedy rounds picking "
    "argmax(rel_bp - max sim_bp to selected) with (score DESC, vec_id) "
    "determinism — the doubled-MMR trick keeps every score an exact "
    "integer, and the bounded driver loop (1-row argmax per round over "
    "the pool frame) is the pipeline_greedy_coverage shape. Oracle "
    "unrolls the identical greedy rounds as CTEs.",
    oracle=f"""
WITH qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0),
relq AS (
    SELECT e.vec_id,
           CAST(SUM(FLOOR(CAST(e.embedding[i] AS DOUBLE) * {QV})
                    * FLOOR(CAST(qv.q[i] AS DOUBLE) * {QV})) AS BIGINT) AS qdot,
           CAST(SUM(FLOOR(CAST(e.embedding[i] AS DOUBLE) * {QV})
                    * FLOOR(CAST(e.embedding[i] AS DOUBLE) * {QV})) AS BIGINT) AS xn2,
           CAST(SUM(FLOOR(CAST(qv.q[i] AS DOUBLE) * {QV})
                    * FLOOR(CAST(qv.q[i] AS DOUBLE) * {QV})) AS BIGINT) AS qn2
    FROM embeddings e, qv,
         LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(e.embedding))) AS i)
    WHERE e.vec_id <> 0
    GROUP BY e.vec_id
),
pool AS (
    SELECT vec_id,
           CAST(qdot * 10000 // {_sql_isqrt("xn2 * qn2")} AS BIGINT) AS cos_bp,
           xn2
    FROM relq
    ORDER BY cos_bp DESC, vec_id
    LIMIT {MMR_POOL}
),
pe AS (
    SELECT e.vec_id, e.embedding, pool.xn2
    FROM embeddings e JOIN pool ON pool.vec_id = e.vec_id
),
pd AS (
    SELECT a.vec_id AS a, b.vec_id AS b, a.xn2 AS xa, b.xn2 AS xb,
           CAST(SUM(FLOOR(CAST(a.embedding[i] AS DOUBLE) * {QV})
                    * FLOOR(CAST(b.embedding[i] AS DOUBLE) * {QV})) AS BIGINT)
               AS dot
    FROM pe a JOIN pe b ON a.vec_id <> b.vec_id,
         LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(a.embedding))) AS i)
    GROUP BY a.vec_id, b.vec_id, a.xn2, b.xn2
),
sim AS (
    SELECT a, b,
           CAST(dot * 10000 // {_sql_isqrt("xa * xb")} AS BIGINT) AS sim_bp
    FROM pd
),
s1 AS (SELECT vec_id, cos_bp AS sc FROM pool ORDER BY cos_bp DESC, vec_id LIMIT 1),
sel1 AS (SELECT vec_id FROM s1)
{"".join("," + _sql_mmr_round(i) for i in range(2, MMR_PICKS + 1))}
SELECT * FROM (
    SELECT CAST(1 AS BIGINT) AS pick_round, vec_id, CAST(sc AS BIGINT) AS mmr2_bp
    FROM s1
    {"".join(f" UNION ALL SELECT CAST({i} AS BIGINT), vec_id, CAST(sc AS BIGINT) FROM s{i}" for i in range(2, MMR_PICKS + 1))}
)
ORDER BY pick_round
""",
)
def similarity_mmr_diversify(spark, sf_dir):
    from cascade_spark.operators.analytics_extra import _isqrt

    e = t(spark, sf_dir, "embeddings")

    def _quant(col):
        return F.transform(col, lambda x: F.floor(x.cast("double") * QV))

    def _idot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    query = e.filter(F.col("vec_id") == 0).select(
        _quant(F.col("embedding")).alias("_qq")
    )
    # quantize the corpus ONCE below the crossJoin (round-13): the old
    # inlined form evaluated the 64-wide interpreted _quant lambda 4x
    # per row (qa + qdot + twice inside xn2) — Catalyst does not CSE
    # lambdas (the knn-label-consistency precedent)
    relq = (
        e.filter(F.col("vec_id") != 0)
        .select("vec_id", _quant(F.col("embedding")).alias("qa"))
        .crossJoin(F.broadcast(query))
        .select(
            "vec_id",
            "qa",
            _idot(F.col("qa"), F.col("_qq")).alias("qdot"),
            _idot(F.col("qa"), F.col("qa")).alias("xn2"),
            _idot(F.col("_qq"), F.col("_qq")).alias("qn2"),
        )
        .select(
            "vec_id",
            "qa",
            "xn2",
            F.expr("CAST(qdot * 10000 AS BIGINT)").alias("_num"),
            _isqrt(F.col("xn2") * F.col("qn2")).alias("_nrm"),
        )
        .select(
            "vec_id",
            "qa",
            "xn2",
            F.expr("CAST(_num DIV _nrm AS BIGINT)").alias("cos_bp"),
        )
    )
    pool = (
        relq.orderBy(F.col("cos_bp").desc(), "vec_id")
        .limit(MMR_POOL)
        .transform(barrier_eager)
    )
    pa = pool.select(
        F.col("vec_id").alias("a"), F.col("qa").alias("qa_a"), F.col("xn2").alias("xa")
    )
    pb = pool.select(
        F.col("vec_id").alias("b"), F.col("qa").alias("qa_b"), F.col("xn2").alias("xb")
    )
    sims = (
        pa.crossJoin(F.broadcast(pb))
        .filter(F.col("a") != F.col("b"))
        .select(
            "a",
            "b",
            _idot(F.col("qa_a"), F.col("qa_b")).alias("dot"),
            "xa",
            "xb",
        )
        .select(
            "a",
            "b",
            F.expr("CAST(dot * 10000 AS BIGINT)").alias("_n"),
            _isqrt(F.col("xa") * F.col("xb")).alias("_d"),
        )
        .select("a", "b", F.expr("CAST(_n DIV _d AS BIGINT)").alias("sim_bp"))
        .transform(barrier_eager)
    )
    cand = pool.select("vec_id", "cos_bp")
    picks: list[tuple[int, int, int]] = []
    selected: list[int] = []
    for rnd in range(1, MMR_PICKS + 1):
        remaining = cand.filter(~F.col("vec_id").isin(selected)) if selected else cand
        if rnd == 1:
            top = remaining.orderBy(F.col("cos_bp").desc(), "vec_id").limit(1).collect()
        else:
            scored = (
                remaining.join(sims, remaining["vec_id"] == sims["a"])
                .filter(F.col("b").isin(selected))
                .groupBy(remaining["vec_id"], "cos_bp")
                .agg(F.max("sim_bp").alias("_ms"))
                .select(
                    "vec_id", (F.col("cos_bp") - F.col("_ms")).alias("cos_bp")
                )
            )
            top = scored.orderBy(F.col("cos_bp").desc(), "vec_id").limit(1).collect()
        if not top:
            break
        row = top[0]
        picks.append((rnd, int(row["vec_id"]), int(row["cos_bp"])))
        selected.append(int(row["vec_id"]))
    return spark.createDataFrame(
        picks, "pick_round long, vec_id long, mmr2_bp long"
    ).orderBy("pick_round")
