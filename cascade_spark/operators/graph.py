"""Iterative graph analytics — PageRank over a derived bipartite graph.

The missing piece between one-shot relational queries and the
connected-components clustering in ``dedup.py``: a fixed-point iterative
algorithm expressed as repeated join+aggregate rounds over DataFrames,
the shape GraphFrames/Pregel use underneath. Ranks live in a DataFrame
(never on the driver); each iteration is one shuffle on the edge
destination key.

Determinism: ranks are kept as exact BIGINT "nano-rank" units
(total mass 1e9) and every division is integer floor division, so the
result is bit-identical across engines and partition orders — no float
tolerance, hash-checkable against a DuckDB oracle with the iterations
unrolled as CTEs.

Scale design (100 TB): the edge list with pre-joined out-weights is the
big frame — persist it once (done here); it is hash-partitioned on
``src`` and each iteration reuses that layout for the rank join, then
shuffles contributions on ``dst``. Rank frames are |V|-sized. In a long
power iteration the rank lineage is checkpointed every few rounds; with
3 fixed rounds lineage stays shallow enough that persistence of the
edge frame alone suffices.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cascade_spark import store
from cascade_spark.plans.registry import register
from cascade_spark.operators._util import _intdiv, barrier, sql_avg_round, t

_TOTAL = 1_000_000_000  # total rank mass, in nano-rank units
_DAMP_NUM, _DAMP_DEN = 85, 100  # damping 0.85 as an exact rational
_ITERS = 3

# Degree admission cap for the two-hop joins (triangle count's
# ordered-edge join, link prediction's common-neighbor join) — part of
# the declared semantics, same pattern as OVERLAP_BUCKET_CAP /
# SIMHASH_BUCKET_CAP: wedge count through a node is d(v)², so one hub
# (a power-law certainty in co-activity graphs) makes one join key
# quadratic. Nodes with degree > MAX_DEGREE are removed from the graph
# (with all their edges) before any two-hop join; 1024² ≈ 1M wedges is
# the per-node worst case. Both test scales stay far below the cap
# (max degree: 15 at sf0.01, 194 at sf0.1), so capped output is
# identical there. Dropped hubs are observable via the
# profile_graph_degree declared query. Mirrored in the DuckDB oracles.
MAX_DEGREE = 1024


def _coactivity_edges(spark, sf_dir):
    """Co-activity edges (>=2 session overlaps) with hub nodes above
    MAX_DEGREE excluded — the degree-capped subgraph every two-hop join
    runs on. Derives from the shared persisted overlap-pair frame and is
    itself persisted per (app, sf_dir): the adjacency unions and
    self-joins downstream reference the edge frame up to ~6 times, and
    without the persist each reference re-runs the groupBy + degree +
    hub anti-join chain (measured 2x on graph_link_prediction at
    sf0.1). Edge lists are pair-frame-sized — tiny next to events."""
    from cascade_spark.operators.interval import _overlap_pairs

    def build():
        pairs = _overlap_pairs(spark, sf_dir)
        e0 = (
            pairs.groupBy(F.col("user_a").alias("ua"), F.col("user_b").alias("ub"))
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") >= 2)
            .select("ua", "ub")
            # referenced 3x below (both degree union sides + the hub
            # anti-join's probe side): evaluate the groupBy once
            .transform(barrier)
        )
        deg0 = (
            e0.select(F.col("ua").alias("u"))
            .unionByName(e0.select(F.col("ub").alias("u")))
            .groupBy("u")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        hubs = deg0.filter(F.col("d") > MAX_DEGREE).select("u")
        return e0.join(hubs, e0["ua"] == hubs["u"], "left_anti").join(
            hubs, e0["ub"] == hubs["u"], "left_anti"
        )

    return store.frame("graph.coactivity_edges", spark, sf_dir, build)


def _coactivity_deg(spark, sf_dir):
    """Shared persisted degree frame (u, d) of the degree-capped
    co-activity graph — the second most re-derived frame in the family
    after the edge list itself: triangle counting, link prediction,
    neighborhood Jaccard, Adamic-Adar, local clustering, rich club,
    modularity, assortativity and the degree histogram all start from
    this one aggregate, and before round 12 each re-ran the
    union+groupBy (one shuffle + two stages) per query. Node-set
    consumers (BFS seeds, Katz init, LPA init) read the key column —
    the distinct node set IS the degree frame's key, so deriving nodes
    here removes their per-query distinct shuffle too. |V|-sized."""

    def build():
        e = _coactivity_edges(spark, sf_dir)
        return (
            e.select(F.col("ua").alias("u"))
            .unionByName(e.select(F.col("ub").alias("u")))
            .groupBy("u")
            .agg(F.count(F.lit(1)).cast("long").alias("d"))
        )

    return store.frame("graph.degrees", spark, sf_dir, build)


def _coactivity_nodes(spark, sf_dir):
    """Distinct node set of the capped co-activity graph — a narrow
    projection of the shared degree frame (no shuffle, no distinct)."""
    return _coactivity_deg(spark, sf_dir).select(F.col("u").alias("node"))


def _sql_coactivity_edges():
    """Oracle CTE chain mirroring _coactivity_edges (including the
    OVERLAP_BUCKET_CAP applied upstream in _SQL_OVERLAP_PAIRS and the
    MAX_DEGREE hub exclusion here)."""
    from cascade_spark.operators.interval import _SQL_OVERLAP_PAIRS

    return f"""{_SQL_OVERLAP_PAIRS},
p AS (
    SELECT user_a AS ua, user_b AS ub, COUNT(*) AS n
    FROM opairs GROUP BY 1, 2
),
e0 AS MATERIALIZED (SELECT ua, ub FROM p WHERE n >= 2),
deg0 AS (
    SELECT u, COUNT(*) AS d FROM (
        SELECT ua AS u FROM e0 UNION ALL SELECT ub AS u FROM e0
    ) GROUP BY u
),
hubs AS (SELECT u FROM deg0 WHERE d > {MAX_DEGREE}),
e AS MATERIALIZED (
    SELECT ua, ub FROM e0
    WHERE ua NOT IN (SELECT u FROM hubs)
      AND ub NOT IN (SELECT u FROM hubs)
)"""

# reused by tests
def _pagerank_frames(spark, sf_dir):
    ev = (
        t(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("event_type").isNotNull())
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    u = F.concat(F.lit("u:"), F.col("user_id").cast("string"))
    tt = F.concat(F.lit("t:"), F.col("event_type"))
    edges = ev.select(u.alias("src"), tt.alias("dst"), "w").unionByName(
        ev.select(tt.alias("src"), u.alias("dst"), "w")
    )
    outw = edges.groupBy("src").agg(F.sum("w").cast("long").alias("outw"))
    e = edges.join(outw, "src")
    nodes = edges.select(F.col("src").alias("node")).distinct()
    return e, nodes


@register(
    "graph_pagerank",
    doc="Weighted PageRank (3 power iterations, damping 0.85) over the "
    "user<->event_type bipartite interaction graph derived from events. "
    "Exact integer arithmetic: rank mass is 1e9 nano-units, every "
    "division is floor division, so the fixed-iteration result is "
    "bit-identical to the unrolled-CTE DuckDB oracle. Each iteration = "
    "one join of the persisted out-weighted edge frame with the rank "
    "frame (hash-partitioned on src) + one aggregate on dst; ranks "
    "never touch the driver. Top-20 nodes by final rank.",
    oracle=f"""
WITH ev AS (
    SELECT 'u:' || CAST(user_id AS VARCHAR) AS u, 't:' || event_type AS tt,
           COUNT(*) AS w
    FROM events
    WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    GROUP BY user_id, event_type
),
edges AS (
    SELECT u AS src, tt AS dst, w FROM ev
    UNION ALL
    SELECT tt AS src, u AS dst, w FROM ev
),
outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS outw FROM edges GROUP BY src),
e AS (SELECT edges.src, edges.dst, edges.w, outw.outw
      FROM edges JOIN outw USING (src)),
nodes AS (SELECT DISTINCT src AS node FROM edges),
s AS (SELECT {_TOTAL} // COUNT(*) AS tpn,
             ({15} * ({_TOTAL} // COUNT(*))) // 100 AS base
      FROM nodes),
r0 AS (SELECT node, (SELECT tpn FROM s) AS pr FROM nodes),
i1 AS (SELECT e.dst, SUM((r.pr * e.w) // e.outw) AS inflow
       FROM e JOIN r0 r ON e.src = r.node GROUP BY e.dst),
r1 AS (SELECT n.node,
              (SELECT base FROM s)
              + ({_DAMP_NUM} * COALESCE(i.inflow, 0)) // {_DAMP_DEN} AS pr
       FROM nodes n LEFT JOIN i1 i ON n.node = i.dst),
i2 AS (SELECT e.dst, SUM((r.pr * e.w) // e.outw) AS inflow
       FROM e JOIN r1 r ON e.src = r.node GROUP BY e.dst),
r2 AS (SELECT n.node,
              (SELECT base FROM s)
              + ({_DAMP_NUM} * COALESCE(i.inflow, 0)) // {_DAMP_DEN} AS pr
       FROM nodes n LEFT JOIN i2 i ON n.node = i.dst),
i3 AS (SELECT e.dst, SUM((r.pr * e.w) // e.outw) AS inflow
       FROM e JOIN r2 r ON e.src = r.node GROUP BY e.dst),
r3 AS (SELECT n.node,
              (SELECT base FROM s)
              + ({_DAMP_NUM} * COALESCE(i.inflow, 0)) // {_DAMP_DEN} AS pr
       FROM nodes n LEFT JOIN i3 i ON n.node = i.dst)
SELECT node, CAST(pr AS BIGINT) AS pr
FROM r3
ORDER BY pr DESC, node
LIMIT 20
""",
)
def graph_pagerank(spark, sf_dir):
    e, nodes = _pagerank_frames(spark, sf_dir)
    # keyed persist-cache (same eviction discipline as the dedup family:
    # repeat invocations reuse the edge frame instead of accumulating
    # persisted copies)
    e = store.frame("graph.pagerank_edges", spark, sf_dir, lambda: e)
    scal = F.broadcast(
        nodes.agg(
            _intdiv(F.lit(_TOTAL), F.count(F.lit(1))).alias("tpn"),
        ).select("tpn", _intdiv(F.lit(15) * F.col("tpn"), F.lit(100)).alias("base"))
    )
    r = nodes.crossJoin(scal).select("node", F.col("tpn").alias("pr"))
    for _ in range(_ITERS):
        contrib = e.join(r, e["src"] == r["node"]).select(
            "dst", _intdiv(F.col("pr") * F.col("w"), F.col("outw")).alias("c")
        )
        inflow = contrib.groupBy("dst").agg(F.sum("c").cast("long").alias("inflow"))
        # the oracle's LEFT JOIN to nodes is redundant in this graph:
        # edges are the symmetric union (u->t, t->u), so every node
        # occurs as a dst and inflow already covers the full node set
        # with COALESCE(inflow, 0) = inflow — dropping the join removes
        # one shuffle per iteration (results bit-identical, re-verified
        # against the oracle)
        r = inflow.crossJoin(scal).select(
            F.col("dst").alias("node"),
            (
                F.col("base")
                + _intdiv(F.lit(_DAMP_NUM) * F.col("inflow"), F.lit(_DAMP_DEN))
            ).alias("pr"),
        )
    return r.orderBy(F.col("pr").desc(), "node").limit(20)


@register(
    "graph_triangle_count",
    doc="Triangle counting + global clustering coefficient over the "
    "co-activity graph: edges are user pairs whose sessions overlapped "
    ">= 2 times (from the shared persisted overlap-pair frame — one "
    "build serves join_interval_overlap and this query). Triangles are "
    "enumerated once each via the ordered-edge join (a<b<c), wedges "
    "from per-node degree counts; the coefficient 3*tri/wedges is an "
    "exact integer rational (avg_round), so the output hash-matches "
    "the oracle. At 100 TB the edge list is the only big frame; the "
    f"two-hop join is bounded by the MAX_DEGREE={MAX_DEGREE} hub "
    "exclusion (declared semantics, mirrored in the oracle; dropped "
    "hubs observable via profile_graph_degree).",
    oracle=f"""
WITH {_sql_coactivity_edges()},
deg AS (
    SELECT u, COUNT(*) AS d FROM (
        SELECT ua AS u FROM e UNION ALL SELECT ub AS u FROM e
    ) GROUP BY u
),
tri AS (
    SELECT COUNT(*) AS n_tri
    FROM e ab JOIN e bc ON ab.ub = bc.ua
              JOIN e ac ON ac.ua = ab.ua AND ac.ub = bc.ub
),
agg AS (
    SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
           (SELECT COUNT(*) FROM e) AS n_edges,
           (SELECT CAST(SUM(d * (d - 1) / 2) AS BIGINT) FROM deg) AS n_wedges,
           (SELECT n_tri FROM tri) AS n_triangles
)
SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
       CAST(n_edges AS BIGINT) AS n_edges,
       n_wedges,
       CAST(n_triangles AS BIGINT) AS n_triangles,
       {sql_avg_round("CAST(3 * n_triangles AS DECIMAL(12,4))", 4, "GREATEST(n_wedges, 1)")} AS clustering_coef
FROM agg
""",
)
def graph_triangle_count(spark, sf_dir):
    from cascade_spark.operators._util import avg_round, dec

    e = _coactivity_edges(spark, sf_dir)
    deg = _coactivity_deg(spark, sf_dir)
    ab = e.select(F.col("ua").alias("a"), F.col("ub").alias("b"))
    bc = e.select(F.col("ua").alias("b2"), F.col("ub").alias("c"))
    ac = e.select(F.col("ua").alias("a3"), F.col("ub").alias("c3"))
    tri = (
        ab.join(bc, ab["b"] == bc["b2"])
        .join(ac, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")), "left_semi")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    stats = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        (F.sum(F.col("d") * (F.col("d") - 1) / 2)).cast("long").alias("n_wedges"),
    )
    n_edges = e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    out = stats.crossJoin(n_edges).crossJoin(tri)
    return out.select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        F.col("n_triangles").cast("long").alias("n_triangles"),
        avg_round(
            dec(F.lit(3) * F.col("n_triangles")),
            F.greatest(F.col("n_wedges"), F.lit(1)),
            4,
        ).alias("clustering_coef"),
    )


LP_TOP = 20


@register(
    "graph_link_prediction",
    doc="Common-neighbor link prediction over the co-activity graph "
    "(same persisted edge frame as graph_triangle_count): for every "
    "non-adjacent user pair sharing >= 1 neighbor, the common-neighbor "
    "count and neighbor-set Jaccard (exact floor bp) — the classic "
    "recommender/link-inference primitive. The two-hop join is one "
    "self-join of the symmetric adjacency list on the shared-neighbor "
    f"key, bounded by the MAX_DEGREE={MAX_DEGREE} hub exclusion "
    f"(declared semantics, mirrored in the oracle). Top {LP_TOP} "
    "predicted links.",
    oracle=f"""
WITH {_sql_coactivity_edges()},
adj AS (
    SELECT ua AS u, ub AS w FROM e UNION ALL SELECT ub AS u, ua AS w FROM e
),
deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY u),
cn AS (
    SELECT a.u AS u1, b.u AS u2, CAST(COUNT(*) AS BIGINT) AS common
    FROM adj a JOIN adj b ON a.w = b.w AND a.u < b.u
    GROUP BY a.u, b.u
),
cand AS (
    SELECT cn.u1, cn.u2, cn.common,
           da.d AS d1, db.d AS d2,
           (10000 * cn.common) // (da.d + db.d - cn.common) AS jaccard_bp
    FROM cn
    JOIN deg da ON da.u = cn.u1
    JOIN deg db ON db.u = cn.u2
    LEFT JOIN e ON e.ua = cn.u1 AND e.ub = cn.u2
    WHERE e.ua IS NULL
)
SELECT u1, u2, common, d1, d2, jaccard_bp
FROM cand
ORDER BY common DESC, jaccard_bp DESC, u1, u2
LIMIT {LP_TOP}
""",
)
def graph_link_prediction(spark, sf_dir):
    from cascade_spark.operators._util import _intdiv, bigint

    e = _coactivity_edges(spark, sf_dir)
    adj = e.select(F.col("ua").alias("u"), F.col("ub").alias("w")).unionByName(
        e.select(F.col("ub").alias("u"), F.col("ua").alias("w"))
    )
    deg = _coactivity_deg(spark, sf_dir)
    a, b = adj.alias("a"), adj.alias("b")
    cn = (
        a.join(b, (F.col("a.w") == F.col("b.w")) & (F.col("a.u") < F.col("b.u")))
        .groupBy(F.col("a.u").alias("u1"), F.col("b.u").alias("u2"))
        .agg(bigint(F.count(F.lit(1))).alias("common"))
    )
    cand = (
        cn.join(e, (F.col("u1") == F.col("ua")) & (F.col("u2") == F.col("ub")), "left_anti")
        .join(deg.select(F.col("u").alias("u1"), F.col("d").alias("d1")), "u1")
        .join(deg.select(F.col("u").alias("u2"), F.col("d").alias("d2")), "u2")
    )
    jac = _intdiv(
        F.lit(10000) * F.col("common"), F.col("d1") + F.col("d2") - F.col("common")
    )
    return (
        cand.select("u1", "u2", "common", "d1", "d2", jac.alias("jaccard_bp"))
        .orderBy(F.col("common").desc(), F.col("jaccard_bp").desc(), "u1", "u2")
        .limit(LP_TOP)
    )


@register(
    "profile_graph_degree",
    doc="Blocking-health audit for the graph two-hop joins (the same "
    "observability pattern as profile_simhash_buckets / "
    "profile_overlap_buckets): the co-activity graph's degree "
    "distribution BEFORE the hub exclusion — node/edge counts, max "
    "degree, the implied wedge total (sum d*(d-1)/2, the two-hop join's "
    f"cost driver), and the hubs MAX_DEGREE={MAX_DEGREE} would drop "
    "with their incident-edge mass. The pre-flight that makes the "
    "degree cap's effect observable before the quadratic stage runs.",
    oracle=f"""
WITH {{edges}},
degall AS (SELECT u, d FROM deg0)
SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST((SELECT COUNT(*) FROM e0) AS BIGINT) AS n_edges,
       CAST(MAX(d) AS BIGINT) AS max_degree,
       CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS total_wedges,
       CAST(COALESCE(COUNT(*) FILTER (WHERE d > {MAX_DEGREE}), 0) AS BIGINT)
         AS n_hubs,
       CAST(COALESCE(SUM(d) FILTER (WHERE d > {MAX_DEGREE}), 0) AS BIGINT)
         AS hub_edge_endpoints
FROM degall
""".format(edges=_sql_coactivity_edges().rsplit(",\ne AS", 1)[0]),
)
def profile_graph_degree(spark, sf_dir):
    from cascade_spark.operators.interval import _overlap_pairs

    pairs = _overlap_pairs(spark, sf_dir)
    e0 = (
        pairs.groupBy(F.col("user_a").alias("ua"), F.col("user_b").alias("ub"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("ua", "ub")
    )
    deg0 = (
        e0.select(F.col("ua").alias("u"))
        .unionByName(e0.select(F.col("ub").alias("u")))
        .groupBy("u")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    n_edges = e0.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    hub = F.col("d") > MAX_DEGREE
    stats = deg0.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.max("d").cast("long").alias("max_degree"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("total_wedges"),
        F.coalesce(F.sum(F.when(hub, 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("n_hubs"),
        F.coalesce(F.sum(F.when(hub, F.col("d")).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("hub_edge_endpoints"),
    )
    return stats.crossJoin(F.broadcast(n_edges)).select(
        "n_nodes", "n_edges", "max_degree", "total_wedges", "n_hubs",
        "hub_edge_endpoints",
    )


KCORE_K = 4
KCORE_ROUNDS = 3


@register(
    "graph_kcore",
    doc=f"Truncated k-core peel (k={KCORE_K}, {KCORE_ROUNDS} fixed "
    "rounds) over the degree-capped co-activity graph — the iterative "
    "densest-substructure primitive (community cores, spam-ring "
    "detection). Each round drops nodes with degree < k and their "
    "edges; fixed rounds keep the result deterministic and the oracle "
    "an unrolled CTE chain (same discipline as graph_pagerank's "
    "unrolled power iterations). Per round: one degree aggregate + two "
    "semi-joins, all on the edge frame — at 100 TB each round is two "
    "shuffles over a strictly shrinking edge list; per-round stats are "
    "single-row aggregates.",
    oracle=f"""
WITH {_sql_coactivity_edges()},
d0 AS MATERIALIZED (SELECT u, COUNT(*) AS d FROM (
           SELECT ua AS u FROM e UNION ALL SELECT ub AS u FROM e) GROUP BY u),
k1 AS (SELECT u FROM d0 WHERE d >= {KCORE_K}),
e1 AS MATERIALIZED (SELECT ua, ub FROM e
       WHERE ua IN (SELECT u FROM k1) AND ub IN (SELECT u FROM k1)),
d1 AS MATERIALIZED (SELECT u, COUNT(*) AS d FROM (
           SELECT ua AS u FROM e1 UNION ALL SELECT ub AS u FROM e1) GROUP BY u),
k2 AS (SELECT u FROM d1 WHERE d >= {KCORE_K}),
e2 AS MATERIALIZED (SELECT ua, ub FROM e1
       WHERE ua IN (SELECT u FROM k2) AND ub IN (SELECT u FROM k2)),
d2 AS MATERIALIZED (SELECT u, COUNT(*) AS d FROM (
           SELECT ua AS u FROM e2 UNION ALL SELECT ub AS u FROM e2) GROUP BY u),
k3 AS (SELECT u FROM d2 WHERE d >= {KCORE_K}),
e3 AS MATERIALIZED (SELECT ua, ub FROM e2
       WHERE ua IN (SELECT u FROM k3) AND ub IN (SELECT u FROM k3)),
s AS (
    SELECT 1 AS round,
           (SELECT COUNT(DISTINCT u) FROM (SELECT ua AS u FROM e1
                UNION ALL SELECT ub AS u FROM e1)) AS n_nodes,
           (SELECT COUNT(*) FROM e1) AS n_edges
    UNION ALL
    SELECT 2,
           (SELECT COUNT(DISTINCT u) FROM (SELECT ua AS u FROM e2
                UNION ALL SELECT ub AS u FROM e2)),
           (SELECT COUNT(*) FROM e2)
    UNION ALL
    SELECT 3,
           (SELECT COUNT(DISTINCT u) FROM (SELECT ua AS u FROM e3
                UNION ALL SELECT ub AS u FROM e3)),
           (SELECT COUNT(*) FROM e3)
)
SELECT CAST(round AS BIGINT) AS round,
       CAST(n_nodes AS BIGINT) AS n_nodes,
       CAST(n_edges AS BIGINT) AS n_edges
FROM s ORDER BY round
""",
)
def graph_kcore(spark, sf_dir):
    # Per-round lineage truncation: without it, round r's plan re-derives
    # every earlier round's degree aggregate and semi-joins (and the
    # overlap machinery under them) once per downstream consumer — the
    # classic iterative-algorithm recompute explosion. The pruned edge
    # list is tiny (<= |edges| pairs of longs), so an eager
    # localCheckpoint per round is cheap; long chains on a real cluster
    # would use reliable checkpoints instead.
    # eager=False everywhere: each round's pruned edge list still
    # persists at first use (so the ~6 downstream references per round
    # do not recompute it), but the whole peel runs as ONE action
    # instead of a materialization job per round
    e = _coactivity_edges(spark, sf_dir).transform(barrier)
    stats = []
    for r in range(1, KCORE_ROUNDS + 1):
        deg = (
            e.select(F.col("ua").alias("u"))
            .unionByName(e.select(F.col("ub").alias("u")))
            .groupBy("u")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep = deg.filter(F.col("d") >= KCORE_K).select("u")
        e = (
            e.join(keep, e["ua"] == keep["u"], "left_semi")
            .join(keep, e["ub"] == keep["u"], "left_semi")
            .transform(barrier)
        )
        nodes = e.select(F.col("ua").alias("u")).unionByName(
            e.select(F.col("ub").alias("u"))
        )
        stats.append(
            nodes.agg(
                F.lit(r).cast("long").alias("round"),
                F.countDistinct("u").cast("long").alias("n_nodes"),
                (F.count(F.lit(1)) / 2).cast("long").alias("n_edges"),
            )
        )
    out = stats[0]
    for s in stats[1:]:
        out = out.unionByName(s)
    return out.orderBy("round")


NJ_TOP = 25


def _nj_oracle() -> str:
    return f"""
WITH {_sql_coactivity_edges()},
adj AS (SELECT ua AS u, ub AS v FROM e UNION ALL SELECT ub, ua FROM e),
deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY u),
common AS (
    SELECT e.ua, e.ub, CAST(COUNT(*) AS BIGINT) AS c
    FROM e
    JOIN adj a1 ON a1.u = e.ua
    JOIN adj a2 ON a2.u = e.ub AND a2.v = a1.v
    GROUP BY e.ua, e.ub
),
j AS (
    SELECT e.ua, e.ub, da.d AS deg_a, db.d AS deg_b,
           COALESCE(c.c, 0) AS n_common,
           da.d + db.d - COALESCE(c.c, 0) AS n_union
    FROM e
    JOIN deg da ON da.u = e.ua
    JOIN deg db ON db.u = e.ub
    LEFT JOIN common c ON c.ua = e.ua AND c.ub = e.ub
)
SELECT ua, ub, deg_a, deg_b, n_common, n_union,
       CAST((10000 * n_common) // n_union AS BIGINT) AS jaccard_bp
FROM j
ORDER BY jaccard_bp DESC, ua, ub
LIMIT {NJ_TOP}
"""


@register(
    "graph_neighborhood_jaccard",
    doc="Per-edge neighborhood Jaccard over the degree-capped co-activity "
    f"graph: |N(u) ∩ N(v)| via the wedge join (bounded by MAX_DEGREE="
    "1024 like every two-hop stage here), |N(u) ∪ N(v)| = d(u)+d(v)-"
    "common by inclusion-exclusion (degrees come from the one adjacency "
    "aggregate — the union is never materialized), similarity in exact "
    "floor basis points. Top-25 by (jaccard, ua, ub) — the tie-proof "
    "presentation bound. Reuses the shared persisted edge frame; adds "
    "one wedge join + one edge-keyed aggregate.",
    oracle=_nj_oracle(),
)
def graph_neighborhood_jaccard(spark, sf_dir):
    e = _coactivity_edges(spark, sf_dir)
    adj = e.select(F.col("ua").alias("u"), F.col("ub").alias("v")).unionByName(
        e.select(F.col("ub").alias("u"), F.col("ua").alias("v"))
    )
    deg = _coactivity_deg(spark, sf_dir)
    a1 = adj.select(F.col("u").alias("ua"), F.col("v").alias("w1"))
    a2 = adj.select(F.col("u").alias("ub2"), F.col("v").alias("w2"))
    common = (
        e.join(a1, "ua")
        .join(a2, (F.col("ub") == F.col("ub2")) & (F.col("w1") == F.col("w2")))
        .groupBy("ua", "ub")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    j = (
        e.join(common, ["ua", "ub"], "left")
        .join(deg.select(F.col("u").alias("ua"), F.col("d").alias("deg_a")), "ua")
        .join(deg.select(F.col("u").alias("ub"), F.col("d").alias("deg_b")), "ub")
        .select(
            "ua",
            "ub",
            "deg_a",
            "deg_b",
            F.coalesce("n_common", F.lit(0)).cast("long").alias("n_common"),
            (F.col("deg_a") + F.col("deg_b") - F.coalesce("n_common", F.lit(0)))
            .cast("long")
            .alias("n_union"),
        )
    )
    return (
        j.select(
            "ua",
            "ub",
            "deg_a",
            "deg_b",
            "n_common",
            "n_union",
            _intdiv(F.lit(10000) * F.col("n_common"), F.col("n_union"))
            .cast("long")
            .alias("jaccard_bp"),
        )
        .orderBy(F.desc("jaccard_bp"), "ua", "ub")
        .limit(NJ_TOP)
    )


@register(
    "graph_degree_histogram",
    doc="Log2-bucketed degree distribution of the capped co-activity "
    "graph — the observability query behind MAX_DEGREE (every "
    "declared cap ships an audit): per power-of-two degree bucket, "
    "node count and exact min/max degree. floor(log2(d)) is safe "
    "cross-engine because log2 of an int64 is exact at bucket "
    "boundaries (powers of two) in IEEE double. Reads the SHARED "
    "persisted edge frame (amortized with the triangle/link-pred "
    "family); the histogram is two tiny aggregations over the edge "
    "list — at 100 TB this is the query you run BEFORE choosing "
    "MAX_DEGREE, since the tail of this histogram is exactly the "
    "wedge-explosion risk Σd(v)^2.",
    oracle=f"""
WITH {_sql_coactivity_edges()},
deg AS (
    SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT ua AS u FROM e UNION ALL SELECT ub AS u FROM e
    ) GROUP BY u
)
SELECT CAST(FLOOR(LOG2(d)) AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(MIN(d) AS BIGINT) AS min_deg,
       CAST(MAX(d) AS BIGINT) AS max_deg
FROM deg
GROUP BY 1
ORDER BY bucket
""",
)
def graph_degree_histogram(spark, sf_dir):
    deg = _coactivity_deg(spark, sf_dir)
    return (
        deg.groupBy(F.floor(F.log2("d")).cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.min("d").cast("long").alias("min_deg"),
            F.max("d").cast("long").alias("max_deg"),
        )
        .orderBy("bucket")
    )


BFS_MAX_HOPS = 3
BFS_N_SEEDS = 3


@register(
    "graph_bfs_hops",
    doc=f"Multi-source bounded BFS over the degree-capped co-activity "
    f"graph: from the {BFS_N_SEEDS} smallest node ids, min hop distance "
    f"within {BFS_MAX_HOPS} hops, reported as a per-hop reach histogram "
    "(hop, nodes first reached at that hop, min node id). The Spark "
    "side is the Pregel shape: K rounds of frontier-join + min-dist "
    "aggregate over the shared persisted edge frame — per-round cost "
    "is one shuffle on the frontier, state is a |V|-sized (node, dist) "
    "frame, lineage stays K-shallow. The oracle is a recursive CTE "
    "with UNION (not UNION ALL) so visited (node, dist) pairs dedup "
    "instead of enumerating paths. Distances are integers — exact, "
    "hash-checked.",
    oracle=f"""
WITH RECURSIVE {{edges}},
und AS (SELECT ua AS s, ub AS d FROM e UNION ALL SELECT ub AS s, ua AS d FROM e),
seeds AS (
    SELECT node FROM (
        SELECT ua AS node FROM e UNION SELECT ub AS node FROM e
    ) ORDER BY node LIMIT {BFS_N_SEEDS}
),
walk(node, dist) AS (
    SELECT node, 0 FROM seeds
    UNION
    SELECT u.d, w.dist + 1 FROM walk w JOIN und u ON u.s = w.node
    WHERE w.dist < {BFS_MAX_HOPS}
),
best AS (SELECT node, MIN(dist) AS dist FROM walk GROUP BY node)
SELECT CAST(dist AS BIGINT) AS hop,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(MIN(node) AS BIGINT) AS min_node
FROM best GROUP BY dist ORDER BY hop
""".format(edges=_sql_coactivity_edges()),
)
def graph_bfs_hops(spark, sf_dir):
    e = _coactivity_edges(spark, sf_dir)
    und = e.select(F.col("ua").alias("s"), F.col("ub").alias("d")).unionByName(
        e.select(F.col("ub").alias("s"), F.col("ua").alias("d"))
    )
    # node set = shared degree-frame keys (no per-query distinct shuffle)
    nodes = _coactivity_nodes(spark, sf_dir)
    seeds = nodes.orderBy("node").limit(BFS_N_SEEDS)
    dist = seeds.withColumn("dist", F.lit(0))
    for hop in range(1, BFS_MAX_HOPS + 1):
        frontier = dist.filter(F.col("dist") == hop - 1).select(
            F.col("node").alias("s")
        )
        nxt = (
            frontier.join(und, "s")
            .select(F.col("d").alias("node"))
            .withColumn("dist", F.lit(hop))
        )
        # no distinct on nxt: the min-dist groupBy below already dedups,
        # and dropping it removes one shuffle per hop (round-12)
        # eager=False: lineage is still truncated and each round's state
        # persists at first use, but the whole BFS runs as ONE action
        # instead of one job per hop (measured 1.9 s -> 1.5 s warm at
        # sf0.1; an eager job per round only pays off when a round's
        # result feeds a driver-side decision, which fixed-hop BFS
        # never does)
        dist = (
            dist.unionByName(nxt)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .transform(barrier)
        )
    return (
        dist.groupBy(F.col("dist").cast("long").alias("hop"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.min("node").cast("long").alias("min_node"),
        )
        .orderBy("hop")
    )


@register(
    "graph_degree_assortativity",
    doc="Degree assortativity of the capped co-activity graph — do "
    "well-connected users co-occur with other hubs (r>0, social-style) "
    "or with leaves (r<0, hub-and-spoke)? Pearson over the directed "
    "edge-endpoint degree pairs (each undirected edge counted both "
    "ways, the standard convention) collapses to ONE ratio of exact "
    "integer moments: r = (n·Σxy − Sx²)/(n·Σxx − Sx²) — by symmetry "
    "Sx=Sy, Sxx=Syy, so no square roots at all; reported in truncated "
    "bp via HUGEINT/decimal(38,0) with DIV ≡ // parity on negatives. "
    "Cost: one degree aggregate + one edge join at any scale.",
    oracle=f"""
WITH {{edges}},
und AS (SELECT ua AS s, ub AS d FROM e UNION ALL SELECT ub AS s, ua AS d FROM e),
deg AS (SELECT s AS node, CAST(COUNT(*) AS BIGINT) AS dg FROM und GROUP BY s),
pairs AS (
    SELECT da.dg AS x, db.dg AS y
    FROM und u JOIN deg da ON da.node = u.s JOIN deg db ON db.node = u.d
),
m AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x) AS HUGEINT) AS sx,
           CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
           CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
    FROM pairs
)
SELECT n AS n_endpoint_pairs,
       CAST(sx AS BIGINT) AS sum_degree,
       CAST(COALESCE((10000 * (n * sxy - sx * sx))
                     // NULLIF(n * sxx - sx * sx, 0), 0) AS BIGINT)
           AS assortativity_bp
FROM m
""".format(edges=_sql_coactivity_edges()),
)
def graph_degree_assortativity(spark, sf_dir):
    e = _coactivity_edges(spark, sf_dir)
    und = e.select(F.col("ua").alias("s"), F.col("ub").alias("d")).unionByName(
        e.select(F.col("ub").alias("s"), F.col("ua").alias("d"))
    )
    deg = _coactivity_deg(spark, sf_dir).select(
        F.col("u").alias("node"), F.col("d").alias("dg")
    )
    pairs = (
        und.join(deg.select(F.col("node").alias("s"), F.col("dg").alias("x")), "s")
        .join(deg.select(F.col("node").alias("d"), F.col("dg").alias("y")), "d")
        .select("x", "y")
    )

    def d38(c):
        return c.cast("decimal(38,0)")

    m = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(d38(F.col("x")) * F.col("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(d38(F.col("x")) * F.col("y")).cast("decimal(38,0)").alias("sxy"),
    )
    num = F.lit(10000) * (d38(F.col("n")) * F.col("sxy") - d38(F.col("sx")) * F.col("sx"))
    den = d38(F.col("n")) * F.col("sxx") - d38(F.col("sx")) * F.col("sx")
    q = num / den
    trunc = F.when(num * den >= 0, F.floor(q)).otherwise(-F.floor(-q))
    return m.select(
        F.col("n").alias("n_endpoint_pairs"),
        F.col("sx").alias("sum_degree"),
        # outer coalesce mirrors the oracle's COALESCE(..., 0): on a
        # zero-edge slice the moment sums are NULL and the oracle
        # reports 0, not NULL (single-day parity tier)
        F.coalesce(
            F.when(den == 0, F.lit(0)).otherwise(trunc).cast("long"),
            F.lit(0),
        ).alias("assortativity_bp"),
    )


LPA_ROUNDS = 2


def _lpa_labels(spark, sf_dir):
    """Shared {LPA_ROUNDS}-round deterministic sync-LPA label frame
    (u, lab) over the co-activity graph — built once per (app, sf_dir)
    and persisted, exactly like _coactivity_edges: both
    graph_label_propagation and graph_modularity_score consume the SAME
    loop, so re-running it inline doubled the cost (round-8 verdict
    item #2)."""

    def build():
        e = _coactivity_edges(spark, sf_dir)
        adj = e.select(F.col("ua").alias("u"), F.col("ub").alias("v")).unionByName(
            e.select(F.col("ub").alias("u"), F.col("ua").alias("v"))
        )
        labels = _coactivity_nodes(spark, sf_dir).select(
            F.col("node").alias("u"), F.col("node").alias("lab")
        )
        for _ in range(LPA_ROUNDS):
            neigh = adj.join(labels.select(F.col("u").alias("v"), "lab"), "v")
            counts = neigh.groupBy("u", "lab").agg(F.count(F.lit(1)).alias("c"))
            # deterministic argmax (count DESC, label ASC) as a min over
            # (-c, lab) structs: same tie rule as the previous row_number
            # window, but expressed as an aggregate — it partially
            # aggregates map-side and skips the window's per-partition
            # sort (one fewer pass per round)
            labels = (
                counts.groupBy("u")
                .agg(
                    F.min(
                        F.struct(
                            (-F.col("c")).alias("nc"), F.col("lab").alias("lab")
                        )
                    ).alias("m")
                )
                .select("u", F.col("m.lab").alias("lab"))
            )
        return labels

    return store.frame("graph.lpa_labels", spark, sf_dir, build)


@register(
    "graph_label_propagation",
    doc="Community detection via synchronous label propagation "
    f"(Raghavan et al. 2007), {LPA_ROUNDS} fixed rounds over the "
    "degree-capped co-activity graph: every node starts as its own "
    "label; each round it adopts its neighbors' most frequent label "
    "with the fully deterministic (count DESC, label ASC) tie rule "
    "(the rule that makes sync-LPA hash-checkable — reference LPA "
    "breaks ties randomly, which can never cross engines). Output is "
    "the community-size histogram. Each round is one join on the "
    "symmetric edge list + one (node, label) count + one per-node "
    "argmax window — all partitioned by node id, so a round costs two "
    "shuffles at any graph size and lineage stays "
    f"{LPA_ROUNDS}-rounds shallow. The label frame is built ONCE and "
    "persisted (_lpa_labels, the _coactivity_edges discipline); "
    "graph_modularity_score reads the same frame instead of re-running "
    "the loop.",
    oracle=f"""
WITH {_sql_coactivity_edges()},
adj AS (SELECT ua AS u, ub AS v FROM e UNION ALL SELECT ub, ua FROM e),
l0 AS (SELECT DISTINCT u, u AS lab FROM adj),
c1 AS (
    SELECT a.u, l.lab, COUNT(*) AS c
    FROM adj a JOIN l0 l ON l.u = a.v
    GROUP BY a.u, l.lab
),
l1 AS (
    SELECT u, lab FROM (
        SELECT u, lab, ROW_NUMBER() OVER (PARTITION BY u ORDER BY c DESC, lab) AS rn
        FROM c1
    ) WHERE rn = 1
),
c2 AS (
    SELECT a.u, l.lab, COUNT(*) AS c
    FROM adj a JOIN l1 l ON l.u = a.v
    GROUP BY a.u, l.lab
),
l2 AS (
    SELECT u, lab FROM (
        SELECT u, lab, ROW_NUMBER() OVER (PARTITION BY u ORDER BY c DESC, lab) AS rn
        FROM c2
    ) WHERE rn = 1
)
SELECT CAST(lab AS BIGINT) AS community,
       CAST(COUNT(*) AS BIGINT) AS n_members
FROM l2
GROUP BY lab
ORDER BY n_members DESC, community
""",
)
def graph_label_propagation(spark, sf_dir):
    labels = _lpa_labels(spark, sf_dir)
    return (
        labels.groupBy("lab")
        .agg(F.count(F.lit(1)).cast("long").alias("n_members"))
        .select(F.col("lab").cast("long").alias("community"), "n_members")
        .orderBy(F.col("n_members").desc(), "community")
    )
