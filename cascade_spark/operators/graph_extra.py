"""Round-8 wave-10 graph analytics — per-node clustering structure and
the Markov-chain fixed point, completing the iterative-graph family
(pagerank / k-core / LPA / BFS are global or community views; these add
the node-local triangle density and the long-run state distribution):

- ``graph_local_clustering``: per-node local clustering coefficient
  t(v) / C(deg(v), 2) over the degree-capped co-activity graph,
  summarized exactly (per-node floor-bp coefficients, then an exact
  integer mean) — the "how clique-like is each neighborhood" audit
  next to graph_triangle_count's single global transitivity.
- ``events_markov_stationary``: stationary distribution of the
  event-type Markov chain (the events_transition_matrix chain) by
  4 unrolled power-iteration rounds in exact nano-mass integers —
  the graph_pagerank discipline (floor division everywhere, DuckDB
  oracle unrolls the same rounds as CTEs, bit-identical).

Reference scope: the reference is an event log (src/broker/main.rs); both
queries are declared aggregates over consumption-order semantics
(transitions use the same (ts, event_id) order the consume path
exposes).

Scale (100 TB): the co-activity edge frame is the only big input and
is shared/persisted (built once for the whole graph family); the
triangle join is bounded by the MAX_DEGREE hub exclusion declared in
graph.py. The Markov chain collapses the log to a k x k transition
matrix (k = |event types|) in one combinable pass — the power
iteration itself runs on k rows.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from cascade_spark.operators._util import _intdiv, barrier, bigint, t
from cascade_spark.operators.graph import (
    _coactivity_deg,
    _coactivity_edges,
    _sql_coactivity_edges,
)
from cascade_spark.plans.registry import register

_MC_TOTAL = 1_000_000_000  # stationary mass in nano-units
_MC_ITERS = 4


@register(
    "graph_local_clustering",
    doc="Local clustering coefficient summary over the co-activity "
    "graph: per-node triangle memberships from the ordered-edge "
    "triangle join (each (a<b<c) triangle credits all three corners), "
    "cc(v) = 2*t(v)/(d(v)*(d(v)-1)) in floor bp per node, then an "
    "exact integer mean over eligible (deg >= 2) nodes. Per-node "
    "floor-then-mean is the declared metric (deterministic in both "
    "engines). The two-hop join is MAX_DEGREE-capped (graph.py "
    "declared semantics).",
    oracle=f"""
WITH {_sql_coactivity_edges()},
deg AS (
    SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT ua AS u FROM e UNION ALL SELECT ub AS u FROM e
    ) GROUP BY u
),
tri AS (
    SELECT ab.ua AS a, ab.ub AS b, bc.ub AS c
    FROM e ab JOIN e bc ON ab.ub = bc.ua
              JOIN e ac ON ac.ua = ab.ua AND ac.ub = bc.ub
),
credit AS (
    SELECT u, CAST(COUNT(*) AS BIGINT) AS t FROM (
        SELECT a AS u FROM tri UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    ) GROUP BY u
),
cc AS (
    SELECT deg.u, deg.d, COALESCE(credit.t, 0) AS t,
           (10000 * 2 * COALESCE(credit.t, 0)) // (deg.d * (deg.d - 1)) AS cc_bp
    FROM deg LEFT JOIN credit ON credit.u = deg.u
    WHERE deg.d >= 2
)
SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
       CAST(COUNT(*) AS BIGINT) AS n_eligible,
       CAST(COUNT(*) FILTER (WHERE t > 0) AS BIGINT) AS n_in_triangle,
       CAST(COUNT(*) FILTER (WHERE cc_bp = 10000) AS BIGINT) AS n_closed,
       CAST(CASE WHEN COUNT(*) = 0 THEN 0
                 ELSE SUM(cc_bp) // COUNT(*) END AS BIGINT) AS mean_cc_bp,
       CAST(COALESCE(MAX(cc_bp), 0) AS BIGINT) AS max_cc_bp
FROM cc
""",
)
def graph_local_clustering(spark, sf_dir):
    e = _coactivity_edges(spark, sf_dir)
    deg = _coactivity_deg(spark, sf_dir)
    ab = e.select(F.col("ua").alias("a"), F.col("ub").alias("b"))
    bc = e.select(F.col("ua").alias("b2"), F.col("ub").alias("c"))
    ac = e.select(F.col("ua").alias("a3"), F.col("ub").alias("c3"))
    tri = ab.join(bc, ab["b"] == bc["b2"]).join(
        ac, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3"))
    )
    # explode the three corners in ONE pass over the triangle join
    # (a 3-way union would re-run the two-hop join three times)
    credit = (
        tri.select(
            F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias("u")
        )
        .groupBy("u")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
    )
    cc = (
        deg.filter(F.col("d") >= 2)
        .join(credit, "u", "left")
        .select(
            "u",
            "d",
            F.coalesce("t", F.lit(0)).alias("t"),
            F.expr(
                "(10000 * 2 * COALESCE(t, CAST(0 AS BIGINT)))"
                " DIV (d * (d - 1))"
            ).alias("cc_bp"),
        )
    )
    n_nodes = deg.agg(bigint(F.count(F.lit(1))).alias("n_nodes"))
    agg = cc.agg(
        bigint(F.count(F.lit(1))).alias("n_eligible"),
        # coalesce mirrors the oracle's COUNT(*) FILTER: 0, not NULL,
        # when no node is eligible (single-day parity tier)
        bigint(
            F.coalesce(
                F.sum(F.when(F.col("t") > 0, 1).otherwise(0)), F.lit(0)
            )
        ).alias("n_in_triangle"),
        bigint(
            F.coalesce(
                F.sum(F.when(F.col("cc_bp") == 10000, 1).otherwise(0)),
                F.lit(0),
            )
        ).alias("n_closed"),
        F.coalesce(F.sum("cc_bp"), F.lit(0)).alias("_sum_cc"),
        bigint(F.coalesce(F.max("cc_bp"), F.lit(0))).alias("max_cc_bp"),
    )
    return (
        n_nodes.crossJoin(F.broadcast(agg))
        .select(
            "n_nodes",
            "n_eligible",
            "n_in_triangle",
            "n_closed",
            F.when(F.col("n_eligible") == 0, F.lit(0))
            .otherwise(_intdiv(F.col("_sum_cc"), F.col("n_eligible")))
            .cast("long")
            .alias("mean_cc_bp"),
            "max_cc_bp",
        )
    )


def _sql_mc_round(i: int) -> str:
    """One unrolled power-iteration round as oracle CTEs (pagerank
    oracle pattern): pi_{i} from pi_{i-1} via floor-divided flows."""
    return f"""
f{i} AS (
    SELECT tr.next_type AS state, SUM((p.pi * tr.n) // rs.r) AS inflow
    FROM tr JOIN p{i - 1} p ON p.state = tr.prev_type
            JOIN rs ON rs.prev_type = tr.prev_type
    GROUP BY tr.next_type
),
p{i} AS (
    SELECT s.state, COALESCE(f.inflow, 0) AS pi
    FROM states s LEFT JOIN f{i} f ON f.state = s.state
)"""


@register(
    "events_markov_stationary",
    doc="Stationary distribution of the event-type Markov chain: "
    "transition counts from the per-user consumption-order lag (the "
    "events_transition_matrix chain), then 4 power-iteration rounds "
    "pi_j <- sum_i floor(pi_i * n_ij / r_i) in exact nano-mass "
    "integers (graph_pagerank's bit-identical iteration discipline; "
    "the oracle unrolls the same 4 rounds as CTEs). States are the "
    "event types observed as transition sources; mass floor-leak per "
    "round is < k states and observable as total_pi. The chain is a "
    "k x k matrix — the iteration is O(k^2) regardless of corpus size.",
    oracle=f"""
WITH seq AS (
    SELECT user_id, event_type,
           LAG(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev_type
    FROM events
),
tr AS (
    SELECT prev_type, event_type AS next_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
),
rs AS (SELECT prev_type, CAST(SUM(n) AS BIGINT) AS r FROM tr GROUP BY prev_type),
states AS (SELECT DISTINCT prev_type AS state FROM tr),
p0 AS (
    SELECT state,
           {_MC_TOTAL} // (SELECT COUNT(*) FROM states) AS pi
    FROM states
),{",".join(_sql_mc_round(i) for i in range(1, _MC_ITERS + 1))}
SELECT state, CAST(pi AS BIGINT) AS pi_nano
FROM p{_MC_ITERS}
ORDER BY state
""",
)
def events_markov_stationary(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    tr = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    rs = tr.groupBy("prev_type").agg(F.sum("n").cast("long").alias("r"))
    # Lazy lineage truncation (round 12, graph-family iteration
    # discipline): tr is referenced by all 4 power-iteration rounds and
    # states twice more — without the barrier each reference re-planned
    # (and, past ReuseExchange, re-ran) the events window + transition
    # aggregate, an 83k-char physical plan for a k x k matrix. One
    # barrier materializes the k^2-row matrix once; every round reads
    # blocks.
    tr = tr.join(rs, "prev_type").transform(barrier)
    states = tr.select(F.col("prev_type").alias("state")).distinct()
    k = F.broadcast(states.agg(F.count(F.lit(1)).alias("_k")))
    p = states.crossJoin(k).select(
        "state", _intdiv(F.lit(_MC_TOTAL), F.col("_k")).alias("pi")
    )
    for _ in range(_MC_ITERS):
        flow = (
            tr.join(p, tr["prev_type"] == p["state"])
            .select(
                F.col("next_type").alias("state2"),
                _intdiv(F.col("pi") * F.col("n"), F.col("r")).alias("c"),
            )
            .groupBy("state2")
            .agg(F.sum("c").cast("long").alias("inflow"))
        )
        p = states.join(flow, states["state"] == flow["state2"], "left").select(
            "state", F.coalesce("inflow", F.lit(0)).cast("long").alias("pi")
        ).transform(barrier)
    return p.select("state", F.col("pi").alias("pi_nano")).orderBy("state")


@register(
    "graph_modularity_score",
    doc="Newman modularity Q of the LPA communities (the quality metric "
    "graph_label_propagation's histogram lacks): read the SHARED "
    "persisted 2-round sync-LPA label frame (_lpa_labels — built once "
    "for the family, not re-run inline), then Q = (4m*intra - "
    "sum_c d_c^2) / (4m^2) as ONE exact integer rational in truncated "
    "bp (Q can be negative; Spark DIV / DuckDB // toward-zero parity). "
    "intra = edges inside a community, d_c = community degree mass — "
    "one label join + two combinable aggregates over the persisted "
    "edge frame.",
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
),
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e),
intra AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS intra
    FROM e JOIN l2 a ON a.u = e.ua JOIN l2 b ON b.u = e.ub
    WHERE a.lab = b.lab
),
degs AS (
    SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY u
),
dmass AS (
    SELECT CAST(SUM(dc * dc) AS HUGEINT) AS sum_d2,
           CAST(COUNT(*) AS BIGINT) AS n_comm
    FROM (
        SELECT l2.lab, CAST(SUM(degs.d) AS BIGINT) AS dc
        FROM degs JOIN l2 ON l2.u = degs.u GROUP BY l2.lab
    )
)
SELECT dmass.n_comm AS n_communities, m.m AS n_edges, intra.intra AS intra_edges,
       CAST(CASE WHEN m.m = 0 THEN 0
            ELSE (10000 * (4 * CAST(m.m AS HUGEINT) * intra.intra - dmass.sum_d2))
                 // (4 * CAST(m.m AS HUGEINT) * m.m) END AS BIGINT) AS q_bp
FROM m, intra, dmass
""",
)
def graph_modularity_score(spark, sf_dir):
    from cascade_spark.operators.graph import _lpa_labels

    e = _coactivity_edges(spark, sf_dir)
    labels = _lpa_labels(spark, sf_dir)
    m = e.agg(bigint(F.count(F.lit(1))).alias("m"))
    la = labels.select(F.col("u").alias("ua"), F.col("lab").alias("lab_a"))
    lb = labels.select(F.col("u").alias("ub"), F.col("lab").alias("lab_b"))
    intra = (
        e.join(la, "ua")
        .join(lb, "ub")
        .filter(F.col("lab_a") == F.col("lab_b"))
        .agg(bigint(F.count(F.lit(1))).alias("intra"))
    )
    degs = _coactivity_deg(spark, sf_dir)
    dmass = (
        degs.join(labels, "u")
        .groupBy("lab")
        .agg(F.sum("d").cast("long").alias("dc"))
        .agg(
            F.sum(F.col("dc").cast("decimal(38,0)") * F.col("dc"))
            .cast("decimal(38,0)")
            .alias("sum_d2"),
            bigint(F.count(F.lit(1))).alias("n_comm"),
        )
    )

    def dec(c):
        return c.cast("decimal(38,0)")

    one = m.crossJoin(F.broadcast(intra)).crossJoin(F.broadcast(dmass))
    num = F.lit(10000) * (dec(F.lit(4)) * F.col("m") * F.col("intra") - F.col("sum_d2"))
    den = dec(F.lit(4)) * F.col("m") * F.col("m")
    q_bp = F.when(F.col("m") == 0, F.lit(0)).otherwise(
        F.when(num >= 0, F.floor(num / den)).otherwise(-F.floor((-num) / den))
    )
    return one.select(
        F.col("n_comm").alias("n_communities"),
        F.col("m").alias("n_edges"),
        F.col("intra").alias("intra_edges"),
        q_bp.cast("long").alias("q_bp"),
    )


RICH_CLUB_KS = [2, 4, 8]


@register(
    "graph_rich_club",
    doc=f"Rich-club coefficient phi(k) at k in {RICH_CLUB_KS}: among "
    "nodes with degree > k, the share of realizable edges actually "
    "present — do the hubs of the co-activity graph preferentially "
    "interconnect? Exact integer rationals in floor bp per k (one "
    "degree frame + one broadcast threshold spine + one edge "
    "semi-filter per k evaluated from the SAME pass). Persisted edge "
    "frame; no pairwise work beyond the existing edge list.",
    oracle=f"""
WITH {_sql_coactivity_edges()},
deg AS (
    SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT ua AS u FROM e UNION ALL SELECT ub AS u FROM e
    ) GROUP BY u
),
ks AS (SELECT UNNEST(ARRAY{RICH_CLUB_KS}) AS k),
club AS (
    SELECT ks.k, deg.u FROM ks JOIN deg ON deg.d > ks.k
),
members AS (
    SELECT k, CAST(COUNT(*) AS BIGINT) AS n_k FROM club GROUP BY k
),
intra AS (
    SELECT ks.k, CAST(COUNT(*) AS BIGINT) AS e_k
    FROM ks JOIN e ON TRUE
    JOIN deg da ON da.u = e.ua JOIN deg db ON db.u = e.ub
    WHERE da.d > ks.k AND db.d > ks.k
    GROUP BY ks.k
)
SELECT m.k, m.n_k, COALESCE(i.e_k, 0) AS e_k,
       CAST(CASE WHEN m.n_k < 2 THEN 0
            ELSE (10000 * 2 * COALESCE(i.e_k, 0))
                 // (m.n_k * (m.n_k - 1)) END AS BIGINT) AS phi_bp
FROM members m LEFT JOIN intra i ON i.k = m.k
ORDER BY m.k
""",
)
def graph_rich_club(spark, sf_dir):
    e = _coactivity_edges(spark, sf_dir)
    deg = _coactivity_deg(spark, sf_dir)
    ks = spark.createDataFrame([(k,) for k in RICH_CLUB_KS], "k long")
    club = F.broadcast(ks).join(deg, deg["d"] > F.col("k"))
    members = club.groupBy("k").agg(bigint(F.count(F.lit(1))).alias("n_k"))
    da = deg.select(F.col("u").alias("ua"), F.col("d").alias("da"))
    db = deg.select(F.col("u").alias("ub"), F.col("d").alias("db"))
    ew = e.join(da, "ua").join(db, "ub")
    intra = (
        ew.crossJoin(F.broadcast(ks))
        .filter((F.col("da") > F.col("k")) & (F.col("db") > F.col("k")))
        .groupBy("k")
        .agg(bigint(F.count(F.lit(1))).alias("e_k"))
    )
    return (
        members.join(intra, "k", "left")
        .select(
            "k",
            "n_k",
            F.coalesce("e_k", F.lit(0)).cast("long").alias("e_k"),
            F.when(F.col("n_k") < 2, F.lit(0))
            .otherwise(
                F.expr(
                    "(10000 * 2 * COALESCE(e_k, CAST(0 AS BIGINT)))"
                    " DIV (n_k * (n_k - 1))"
                )
            )
            .cast("long")
            .alias("phi_bp"),
        )
        .orderBy("k")
    )
