"""Round-9 wave — centrality and link-scoring extensions over the
degree-capped co-activity graph (shared persisted edge frame with the
pagerank/triangle/link-prediction family in graph.py):

- ``graph_katz_centrality``: Katz centrality with attenuation beta =
  1/4 — 3 fixed rounds of x' = S + (sum of neighbor x) DIV 4 in exact
  micro-mass integers (the nano-rank pagerank discipline), oracle
  rounds unrolled as CTEs.
- ``graph_adamic_adar``: Adamic-Adar link prediction — the
  inverse-log-degree-weighted common-neighbor score, each 1/ln(d_z)
  term floored to micro units BEFORE summation (mirrored IEEE ln per
  term, exact integer sum — order-independent, the floored-term
  discipline from text_unigram_entropy).
- ``graph_landmark_centrality``: closeness AND harmonic centrality of
  the 3 smallest-id landmark nodes from a bounded per-landmark BFS —
  harmonic as sum(1e6 DIV dist) is fully exact; closeness is one
  truncated division.

Reference scope: the reference engine's consume path yields the events
log these graphs derive from (src/broker/main.rs); each query is a
declared aggregate per SURVEY §2B.

Scale (100 TB): all three read the SHARED persisted degree-capped edge
frame (MAX_DEGREE hub exclusion, declared semantics — see graph.py);
Katz/BFS rounds are join+aggregate passes with localCheckpoint-shallow
lineage and |V|-sized state; the Adamic-Adar wedge join is bounded by
the same cap that bounds triangle counting. No driver loops over data
— the only driver-side iteration is the fixed round count.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cascade_spark.operators._util import barrier, bigint
from cascade_spark.operators.graph import (
    _coactivity_deg,
    _coactivity_edges,
    _coactivity_nodes,
    _sql_coactivity_edges,
)
from cascade_spark.plans.registry import register

KATZ_S = 1_000_000  # micro-mass base contribution per node per round
KATZ_ROUNDS = 3
KATZ_TOP = 15


def _und(e):
    return e.select(F.col("ua").alias("s"), F.col("ub").alias("d")).unionByName(
        e.select(F.col("ub").alias("s"), F.col("ua").alias("d"))
    )


def _sql_katz_round(k: int) -> str:
    """One unrolled Katz round: x_k = S + (sum of neighbors' x_{k-1}) // 4."""
    return f"""
agg{k} AS (
    SELECT u.s AS node, SUM(x{k - 1}.x) AS sx
    FROM und u JOIN x{k - 1} ON x{k - 1}.node = u.d
    GROUP BY u.s
),
x{k} AS (
    SELECT n.node, {KATZ_S} + COALESCE(a.sx, 0) // 4 AS x
    FROM nodes n LEFT JOIN agg{k} a ON a.node = n.node
)"""


@register(
    "graph_katz_centrality",
    doc=f"Katz centrality (attenuation beta = 1/4, {KATZ_ROUNDS} fixed "
    "rounds) over the degree-capped co-activity graph: x_0 = S, "
    "x_k = S + (sum of neighbor x_(k-1)) DIV 4 in exact micro-mass "
    "integers — the influence measure that counts ALL walks with "
    "geometric damping, not just shortest paths. Spark runs the rounds "
    "as join+aggregate passes over the shared persisted edge frame "
    "(|V|-sized state, localCheckpoint-shallow lineage); the oracle "
    f"unrolls the rounds as CTEs. Top {KATZ_TOP} nodes, bit-identical.",
    oracle=f"""
WITH {_sql_coactivity_edges()},
und AS (SELECT ua AS s, ub AS d FROM e UNION ALL SELECT ub AS s, ua AS d FROM e),
nodes AS (SELECT DISTINCT ua AS node FROM e UNION SELECT DISTINCT ub FROM e),
x0 AS (SELECT node, CAST({KATZ_S} AS BIGINT) AS x FROM nodes),
{",".join(_sql_katz_round(k) for k in range(1, KATZ_ROUNDS + 1))}
SELECT CAST(node AS BIGINT) AS node,
       CAST(x AS BIGINT) AS katz_micro
FROM x{KATZ_ROUNDS}
ORDER BY katz_micro DESC, node
LIMIT {KATZ_TOP}
""",
)
def graph_katz_centrality(spark, sf_dir):
    e = _coactivity_edges(spark, sf_dir)
    und = _und(e)
    # node set from the shared degree frame (no per-query distinct)
    nodes = _coactivity_nodes(spark, sf_dir)
    x = nodes.withColumn("x", F.lit(KATZ_S).cast("long"))
    for _ in range(KATZ_ROUNDS):
        agg = (
            und.join(x.withColumnRenamed("node", "d"), "d")
            .groupBy(F.col("s").alias("node"))
            .agg(F.sum("x").alias("sx"))
        )
        # the oracle's LEFT JOIN back to nodes is redundant here: x
        # covers every node and und lists every node as a source
        # (symmetric edge list, every node has degree >= 1), so agg
        # already contains the full node set and COALESCE(sx, 0) = sx —
        # dropping the join removes one shuffle per round. eager=False:
        # lineage still truncates but the power iteration runs as one
        # action instead of a job per round. Results bit-identical
        # (re-verified against the unrolled-CTE oracle).
        x = agg.select(
            "node",
            (F.lit(KATZ_S) + F.expr("sx DIV 4")).cast("long").alias("x"),
        ).transform(barrier)
    return (
        x.select(
            F.col("node").cast("long").alias("node"),
            F.col("x").alias("katz_micro"),
        )
        .orderBy(F.col("katz_micro").desc(), "node")
        .limit(KATZ_TOP)
    )


AA_TOP = 10
AA_S = 1_000_000


@register(
    "graph_adamic_adar",
    doc="Adamic-Adar link prediction over the degree-capped co-activity "
    "graph: for non-adjacent pairs with shared neighbors, AA = sum over "
    "common neighbors z of 1/ln(deg z) — each term FLOORED to micro "
    "units before summation (one mirrored IEEE ln per distinct degree, "
    "then exact integer sums — order-independent; ln(d) > 0 because a "
    "common neighbor has degree >= 2). Rare shared contacts weigh more "
    f"than popular ones — the refinement of graph_link_prediction's "
    f"raw common-neighbor count. Top {AA_TOP} pairs.",
    oracle=f"""
WITH {_sql_coactivity_edges()},
adj AS (
    SELECT ua AS u, ub AS w FROM e UNION ALL SELECT ub AS u, ua AS w FROM e
),
deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY u),
wedge AS (
    SELECT a.u AS u1, b.u AS u2, a.w AS z
    FROM adj a JOIN adj b ON a.w = b.w AND a.u < b.u
),
scored AS (
    SELECT w.u1, w.u2,
           CAST(COUNT(*) AS BIGINT) AS common,
           CAST(SUM(CAST(FLOOR({AA_S} / LN(CAST(dz.d AS DOUBLE))) AS BIGINT))
                AS BIGINT) AS aa_micro
    FROM wedge w JOIN deg dz ON dz.u = w.z
    GROUP BY w.u1, w.u2
),
cand AS (
    SELECT s.u1, s.u2, s.common, s.aa_micro
    FROM scored s
    LEFT JOIN e ON e.ua = s.u1 AND e.ub = s.u2
    WHERE e.ua IS NULL
)
SELECT u1, u2, common, aa_micro
FROM cand
ORDER BY aa_micro DESC, u1, u2
LIMIT {AA_TOP}
""",
)
def graph_adamic_adar(spark, sf_dir):
    e = _coactivity_edges(spark, sf_dir)
    adj = e.select(F.col("ua").alias("u"), F.col("ub").alias("w")).unionByName(
        e.select(F.col("ub").alias("u"), F.col("ua").alias("w"))
    )
    deg = _coactivity_deg(spark, sf_dir)
    a, b = adj.alias("a"), adj.alias("b")
    wedge = a.join(
        b, (F.col("a.w") == F.col("b.w")) & (F.col("a.u") < F.col("b.u"))
    ).select(
        F.col("a.u").alias("u1"), F.col("b.u").alias("u2"), F.col("a.w").alias("z")
    )
    term = F.floor(F.lit(AA_S) / F.log(F.col("d").cast("double"))).cast("long")
    scored = (
        wedge.join(deg.withColumnRenamed("u", "z"), "z")
        .groupBy("u1", "u2")
        .agg(
            bigint(F.count(F.lit(1))).alias("common"),
            bigint(F.sum(term)).alias("aa_micro"),
        )
    )
    cand = scored.join(
        e,
        (F.col("u1") == F.col("ua")) & (F.col("u2") == F.col("ub")),
        "left_anti",
    )
    return (
        cand.select("u1", "u2", "common", "aa_micro")
        .orderBy(F.col("aa_micro").desc(), "u1", "u2")
        .limit(AA_TOP)
    )


LM_N_SEEDS = 3
LM_MAX_HOPS = 3
LM_S = 1_000_000


@register(
    "graph_landmark_centrality",
    doc=f"Closeness and harmonic centrality of the {LM_N_SEEDS} "
    f"smallest-id landmark nodes within {LM_MAX_HOPS} hops (the "
    "landmark approximation that makes centrality tractable at scale): "
    "per-landmark BFS keeps (seed, node, min-dist) state — the "
    "graph_bfs_hops Pregel shape with a seed column — then closeness = "
    "reached/sum(dist) in truncated bp and harmonic = "
    "sum(1e6 DIV dist) in FULLY exact micro units (integer distances, "
    "no IEEE anywhere). Oracle: recursive CTE with UNION dedup.",
    oracle=f"""
WITH RECURSIVE {_sql_coactivity_edges()},
und AS (SELECT ua AS s, ub AS d FROM e UNION ALL SELECT ub AS s, ua AS d FROM e),
seeds AS (
    SELECT node FROM (
        SELECT ua AS node FROM e UNION SELECT ub AS node FROM e
    ) ORDER BY node LIMIT {LM_N_SEEDS}
),
walk(seed, node, dist) AS (
    SELECT node, node, 0 FROM seeds
    UNION
    SELECT w.seed, u.d, w.dist + 1 FROM walk w JOIN und u ON u.s = w.node
    WHERE w.dist < {LM_MAX_HOPS}
),
best AS (SELECT seed, node, MIN(dist) AS dist FROM walk GROUP BY seed, node),
reach AS (SELECT seed, node, dist FROM best WHERE dist > 0)
SELECT CAST(seed AS BIGINT) AS seed,
       CAST(COUNT(*) AS BIGINT) AS n_reached,
       CAST(COALESCE(SUM(dist), 0) AS BIGINT) AS sum_dist,
       CAST(CASE WHEN COALESCE(SUM(dist), 0) = 0 THEN 0
                 ELSE (COUNT(*) * 10000) // SUM(dist) END AS BIGINT)
           AS closeness_bp,
       CAST(COALESCE(SUM({LM_S} // dist), 0) AS BIGINT) AS harmonic_micro
FROM reach
GROUP BY seed
ORDER BY seed
""",
)
def graph_landmark_centrality(spark, sf_dir):
    e = _coactivity_edges(spark, sf_dir)
    und = _und(e)
    # node set from the shared degree frame (no per-query distinct)
    nodes = _coactivity_nodes(spark, sf_dir)
    seeds = nodes.orderBy("node").limit(LM_N_SEEDS)
    dist = seeds.select(
        F.col("node").alias("seed"), F.col("node"), F.lit(0).alias("dist")
    )
    for hop in range(1, LM_MAX_HOPS + 1):
        frontier = dist.filter(F.col("dist") == hop - 1).select(
            "seed", F.col("node").alias("s")
        )
        nxt = (
            frontier.join(und, "s")
            .select("seed", F.col("d").alias("node"))
            .withColumn("dist", F.lit(hop))
        )
        # no distinct on nxt: the min-dist groupBy below already dedups,
        # and dropping it removes one shuffle per hop (round-12).
        # eager=False: one action for the whole BFS instead of a
        # materialization job per hop (see graph_bfs_hops)
        dist = (
            dist.unionByName(nxt)
            .groupBy("seed", "node")
            .agg(F.min("dist").alias("dist"))
            .transform(barrier)
        )
    reach = dist.filter(F.col("dist") > 0)
    return (
        reach.groupBy(F.col("seed").cast("long").alias("seed"))
        .agg(
            bigint(F.count(F.lit(1))).alias("n_reached"),
            bigint(F.coalesce(F.sum("dist"), F.lit(0))).alias("sum_dist"),
            F.expr(
                "CAST(CASE WHEN COALESCE(SUM(dist), 0) = 0 THEN 0"
                " ELSE (COUNT(*) * 10000) DIV SUM(dist) END AS BIGINT)"
            ).alias("closeness_bp"),
            bigint(
                F.coalesce(F.sum(F.expr(f"{LM_S} DIV dist")), F.lit(0))
            ).alias("harmonic_micro"),
        )
        .orderBy("seed")
    )
