"""Round-9 wave-6b — bipartite graph analytics over the (user x
event_type) incidence, complementing the user-user co-activity family
(pagerank / triangles / LPA run on user-user edges; these work on the
bipartite structure itself):

- ``graph_bipartite_projection``: the type-type projection — for every
  type pair, how many users engage with BOTH, with Jaccard and overlap
  coefficients in exact floor bp. The classic one-mode projection that
  turns behavioral incidence into a similarity graph; output is
  k(k-1)/2 rows regardless of corpus size.
- ``graph_hits_bipartite``: HITS on the incidence — authority mass per
  event type and hub mass per user, iterated 2 rounds in exact
  nano-mass integers with floor-divided renormalization each round
  (the graph_pagerank determinism discipline; the oracle unrolls the
  same rounds as CTEs).

Reference scope: the reference engine is an event log
(src/broker/main.rs); both queries are declared aggregates over the
consumed ``events`` table per SURVEY §2B.

Scale (100 TB): the incidence collapses to distinct (user, type) in
one combinable pass; the projection join is per-user over the <= k
types a user touches (k = |event types|, bounded), and each HITS round
is one join + one aggregate keyed by user or type — never an
unbounded shuffle.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cascade_spark.operators._util import barrier, bigint, t
from cascade_spark.plans.registry import register

HITS_SCALE = 1_000_000_000
HITS_ROUNDS = 2

_INC_SQL = """
inc AS (SELECT DISTINCT user_id, event_type FROM events
        WHERE user_id IS NOT NULL)
"""


@register(
    "graph_bipartite_projection",
    doc="One-mode projection of the (user x event_type) bipartite "
    "incidence onto event types: per type pair, users engaging with "
    "both, Jaccard (both/(na+nb-both)) and overlap (both/min(na,nb)) "
    "coefficients in exact floor bp. The per-user self-join fans out "
    "only over the <= k types each user touches, so the shuffle is "
    "one pass over the incidence and the output is k(k-1)/2 rows at "
    "any corpus size.",
    oracle=f"""
WITH {_INC_SQL},
sizes AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM inc GROUP BY event_type
),
pairs AS (
    SELECT a.event_type AS ta, b.event_type AS tb,
           CAST(COUNT(*) AS BIGINT) AS both
    FROM inc a JOIN inc b
      ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY a.event_type, b.event_type
)
SELECT p.ta AS type_a, p.tb AS type_b, p.both AS n_both,
       sa.n_users AS n_a, sb.n_users AS n_b,
       CAST((10000 * p.both) // (sa.n_users + sb.n_users - p.both)
            AS BIGINT) AS jaccard_bp,
       CAST((10000 * p.both) // LEAST(sa.n_users, sb.n_users)
            AS BIGINT) AS overlap_bp
FROM pairs p
JOIN sizes sa ON sa.event_type = p.ta
JOIN sizes sb ON sb.event_type = p.tb
ORDER BY p.ta, p.tb
""",
)
def graph_bipartite_projection(spark, sf_dir):
    ev = t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    inc = ev.select("user_id", "event_type").distinct()
    sizes = inc.groupBy("event_type").agg(
        bigint(F.count(F.lit(1))).alias("n_users")
    )
    a = inc.select("user_id", F.col("event_type").alias("ta"))
    b = inc.select("user_id", F.col("event_type").alias("tb"))
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(bigint(F.count(F.lit(1))).alias("n_both"))
    )
    sa = sizes.select(F.col("event_type").alias("ta"), F.col("n_users").alias("n_a"))
    sb = sizes.select(F.col("event_type").alias("tb"), F.col("n_users").alias("n_b"))
    return (
        pairs.join(F.broadcast(sa), "ta")
        .join(F.broadcast(sb), "tb")
        .select(
            F.col("ta").alias("type_a"),
            F.col("tb").alias("type_b"),
            "n_both",
            "n_a",
            "n_b",
            F.expr(
                "CAST((10000 * n_both) DIV (n_a + n_b - n_both) AS BIGINT)"
            ).alias("jaccard_bp"),
            F.expr(
                "CAST((10000 * n_both) DIV LEAST(n_a, n_b) AS BIGINT)"
            ).alias("overlap_bp"),
        )
        .orderBy("type_a", "type_b")
    )


def _sql_hits_round(i: int) -> str:
    """One unrolled HITS round as oracle CTEs: hubs from authorities,
    authorities from hubs, each renormalized to HITS_SCALE nano-mass
    by floor division (the pagerank oracle pattern)."""
    return f"""
hraw{i} AS (
    SELECT inc.user_id, CAST(SUM(a.auth) AS HUGEINT) AS hr
    FROM inc JOIN a{i - 1} a ON a.event_type = inc.event_type
    GROUP BY inc.user_id
),
htot{i} AS (SELECT SUM(hr) AS s FROM hraw{i}),
h{i} AS (
    SELECT user_id,
           CAST((hr * {HITS_SCALE}) // (SELECT s FROM htot{i}) AS BIGINT) AS hub
    FROM hraw{i}
),
araw{i} AS (
    SELECT inc.event_type, CAST(SUM(h.hub) AS HUGEINT) AS ar
    FROM inc JOIN h{i} h ON h.user_id = inc.user_id
    GROUP BY inc.event_type
),
atot{i} AS (SELECT SUM(ar) AS s FROM araw{i}),
a{i} AS (
    SELECT event_type,
           CAST((ar * {HITS_SCALE}) // (SELECT s FROM atot{i}) AS BIGINT) AS auth
    FROM araw{i}
)"""


@register(
    "graph_hits_bipartite",
    doc=f"HITS on the (user x event_type) incidence, {HITS_ROUNDS} "
    "fixed rounds in exact nano-mass integers: authorities start "
    f"uniform ({HITS_SCALE} DIV k), each round hubs = incidence-sum of "
    "authorities and authorities = incidence-sum of hubs, every vector "
    "renormalized to nano-mass by floor division — bit-identical at "
    "any parallelism (the graph_pagerank discipline; oracle unrolls "
    "the identical rounds). Reports per-type authority plus the "
    "max-hub share. Each round is one join + one aggregate keyed by "
    "user or type.",
    oracle=f"""
WITH {_INC_SQL},
types AS (SELECT DISTINCT event_type FROM inc),
k AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM types),
a0 AS (
    SELECT event_type, CAST({HITS_SCALE} // (SELECT k FROM k) AS BIGINT) AS auth
    FROM types
),
{",".join(_sql_hits_round(i) for i in range(1, HITS_ROUNDS + 1))},
hubmax AS (SELECT CAST(MAX(hub) AS BIGINT) AS max_hub
           FROM h{HITS_ROUNDS}),
peruser AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users
            FROM inc GROUP BY event_type)
SELECT a.event_type, a.auth AS authority_nano, p.n_users,
       (SELECT max_hub FROM hubmax) AS max_hub_nano
FROM a{HITS_ROUNDS} a JOIN peruser p ON p.event_type = a.event_type
ORDER BY a.event_type
""",
)
def graph_hits_bipartite(spark, sf_dir):
    ev = t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    # the incidence is referenced 5 times (two joins per round plus the
    # per-type user counts); a lazy local checkpoint computes the
    # events-scan + distinct ONCE and serves every reference from the
    # persisted blocks — without it each reference re-ran the scan
    # (round-12; plan went from 5 events scans to 1)
    inc = ev.select("user_id", "event_type").distinct().transform(barrier)
    # Degree frames computed ONCE (round 12): the per-round
    # normalization totals are derivable from the PREVIOUS vector —
    # SUM_u hr(u) = SUM_t auth(t) * n_users(t) and SUM_t ar(t) =
    # SUM_u hub(u) * deg(u), exactly (integer sums, no division
    # involved) — so each round's total is a k-row (resp. |U|-row)
    # side-aggregate instead of a second full pass over the freshly
    # built raw vector. hraw/araw become single-reference and drop
    # their per-round checkpoints; only the reused vectors (hubs,
    # auth) keep a lazy checkpoint.
    peruser = (
        inc.groupBy("event_type")
        .agg(bigint(F.count(F.lit(1))).alias("n_users"))
        .transform(barrier)
    )
    udeg = (
        inc.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        .transform(barrier)
    )
    types = peruser.select("event_type")
    # uniform seed DIV k from a broadcast one-row aggregate instead of a
    # driver-side types.count(): no eager job before the main action,
    # and on a zero-row slice types is empty so no row divides by k=0
    kf = F.broadcast(peruser.agg(F.count(F.lit(1)).alias("_k")))
    auth = types.crossJoin(kf).select(
        "event_type", F.expr(f"CAST({HITS_SCALE} DIV _k AS BIGINT)").alias("auth")
    ).transform(barrier)
    hubs = None
    for _ in range(HITS_ROUNDS):
        htot = F.broadcast(
            auth.join(peruser, "event_type").agg(
                F.sum(F.col("auth").cast("decimal(38,0)") * F.col("n_users"))
                .cast("decimal(38,0)")
                .alias("s")
            )
        )
        hraw = (
            inc.join(F.broadcast(auth), "event_type")
            .groupBy("user_id")
            .agg(F.sum("auth").cast("decimal(38,0)").alias("hr"))
        )
        hubs = hraw.crossJoin(htot).select(
            "user_id",
            F.expr(f"CAST((hr * {HITS_SCALE}) DIV s AS BIGINT)").alias("hub"),
        ).transform(barrier)
        atot = F.broadcast(
            hubs.join(udeg, "user_id").agg(
                F.sum(F.col("hub").cast("decimal(38,0)") * F.col("deg"))
                .cast("decimal(38,0)")
                .alias("s")
            )
        )
        araw = (
            inc.join(F.broadcast(hubs), "user_id")
            .groupBy("event_type")
            .agg(F.sum("hub").cast("decimal(38,0)").alias("ar"))
        )
        auth = araw.crossJoin(atot).select(
            "event_type",
            F.expr(f"CAST((ar * {HITS_SCALE}) DIV s AS BIGINT)").alias("auth"),
        ).transform(barrier)
    hubmax = hubs.agg(bigint(F.max("hub")).alias("max_hub_nano"))
    return (
        auth.join(F.broadcast(peruser), "event_type")
        .crossJoin(F.broadcast(hubmax))
        .select(
            "event_type",
            F.col("auth").alias("authority_nano"),
            "n_users",
            "max_hub_nano",
        )
        .orderBy("event_type")
    )
