"""Round-9 wave — Kleinberg-style burst detection over the per-type
daily event-volume series (the 2-state variant of the classic
enumerating-bursts automaton: a base state emitting at the global
rate and a burst state at twice it, with a transition toll for
entering the burst state).

``events_kleinberg_burst`` runs the Viterbi DP ONLINE in exact micro
integers: per day the two emission costs are
floor(1e6 * (rate_s - v * ln(rate_s))) — the Poisson negative
log-likelihood with the state-independent ln(v!) dropped (it cancels
in every state comparison), ONE mirrored IEEE ln per state per day,
floored before entering the integer DP (the floored-term discipline).
The recurrences

    c0' = min(c0, c1) + cost0(v)
    c1' = min(c1, c0 + GAMMA) + cost1(v)

fold over the day array in one JVM aggregate() HOF; the oracle walks
the identical recursive CTE — bit-identical. Emits the final path
costs, the online burst-day count (days where the burst state is
strictly cheaper), and the final state.

Reference scope: the reference engine is an event log
(src/broker/main.rs consume path); the burst monitor is the declared
anomaly query per SURVEY §2B.

Scale (100 TB): the log collapses to the (type x day) grid in one
combinable groupBy; the DP state is two integers per type regardless
of history length — no Python, no driver loops, no unbounded windows.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cascade_spark.operators._util import bigint
from cascade_spark.operators.timeseries_indicators import (
    _GRID_SQL,
    _grid,
)
from cascade_spark.plans.registry import register

MICRO = 1_000_000
BURST_GAMMA = 2 * MICRO  # toll for entering the burst state
BURST_MULT = 2  # burst state emits at MULT x the base rate

# emission cost in micro units: rate_s - v * ln(rate_s), floored —
# rate expressions are built from the SAME (s, n) integers on both
# engines, so the ln argument is the identical double
_COST = (
    "CAST(FLOOR({m} * (({mult} * CAST(s AS DOUBLE) / n)"
    " - {v} * LN({mult} * CAST(s AS DOUBLE) / n))) AS BIGINT)"
)


def _cost(mult: int, v: str) -> str:
    return _COST.format(m=MICRO, mult=mult, v=v)


@register(
    "events_kleinberg_burst",
    doc="Two-state Kleinberg burst automaton per event type: base state "
    "emits at the type's mean daily rate, burst state at twice it, "
    f"entering the burst state costs GAMMA = {BURST_GAMMA} micro. "
    "Emission costs are the Poisson NLL with ln(v!) dropped (state-"
    "independent), each floored to micro integers before the DP — one "
    "mirrored IEEE ln per state per day. The Viterbi recurrences fold "
    "over the day array in one aggregate() HOF (two-integer state); "
    "the oracle unrolls the identical recursive CTE. Emits final path "
    "costs, the online burst-day count, and the final regime. Types "
    "with zero total volume report zeros (declared).",
    oracle=f"""
WITH RECURSIVE {_GRID_SQL},
tot AS (
    SELECT event_type, CAST(SUM(v) AS BIGINT) AS s,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM cell GROUP BY 1
),
live AS (SELECT * FROM tot WHERE s > 0),
rec(event_type, tt, c0, c1, nb) AS (
    SELECT c.event_type, c.tt,
           {_cost(1, "c.v")},
           {BURST_GAMMA} + {_cost(BURST_MULT, "c.v")},
           CASE WHEN {BURST_GAMMA} + {_cost(BURST_MULT, "c.v")}
                     < {_cost(1, "c.v")} THEN 1 ELSE 0 END
    FROM cell c JOIN live ON live.event_type = c.event_type
    WHERE c.tt = 0
    UNION ALL
    SELECT c.event_type, c.tt,
           LEAST(r.c0, r.c1) + {_cost(1, "c.v")},
           LEAST(r.c1, r.c0 + {BURST_GAMMA}) + {_cost(BURST_MULT, "c.v")},
           r.nb + CASE WHEN LEAST(r.c1, r.c0 + {BURST_GAMMA})
                            + {_cost(BURST_MULT, "c.v")}
                            < LEAST(r.c0, r.c1) + {_cost(1, "c.v")}
                       THEN 1 ELSE 0 END
    FROM rec r
    JOIN cell c ON c.event_type = r.event_type AND c.tt = r.tt + 1
    JOIN live ON live.event_type = c.event_type
),
fin AS (
    SELECT event_type, c0, c1, nb,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY tt DESC) AS rk
    FROM rec
)
SELECT t.event_type,
       CAST(COALESCE(f.c0, 0) AS BIGINT) AS cost_base_micro,
       CAST(COALESCE(f.c1, 0) AS BIGINT) AS cost_burst_micro,
       CAST(COALESCE(f.nb, 0) AS BIGINT) AS n_burst_days,
       CAST(CASE WHEN f.c1 < f.c0 THEN 1 ELSE 0 END AS BIGINT)
           AS ends_in_burst
FROM tot t LEFT JOIN fin f ON f.event_type = t.event_type AND f.rk = 1
ORDER BY t.event_type
""",
)
def events_kleinberg_burst(spark, sf_dir):
    grid = _grid(spark, sf_dir)
    tot = grid.groupBy("event_type").agg(
        bigint(F.sum("v")).alias("s"),
        bigint(F.count(F.lit(1))).alias("n"),
    )
    series = (
        grid.join(tot, "event_type")
        .filter(F.col("s") > 0)
        .groupBy("event_type", "s", "n")
        .agg(F.array_sort(F.collect_list(F.struct("tt", "v"))).alias("arr"))
    )
    c0e = _cost(1, "e.v")
    c1e = _cost(BURST_MULT, "e.v")
    c00 = _cost(1, "arr[0].v")
    c10 = _cost(BURST_MULT, "arr[0].v")
    folded = series.select(
        "event_type",
        F.expr(
            f"""
            aggregate(
                slice(arr, 2, size(arr) - 1),
                named_struct(
                    'c0', {c00},
                    'c1', {BURST_GAMMA} + {c10},
                    'nb', CAST(IF({BURST_GAMMA} + {c10} < {c00}, 1, 0)
                               AS BIGINT)),
                (acc, e) -> named_struct(
                    'c0', LEAST(acc.c0, acc.c1) + {c0e},
                    'c1', LEAST(acc.c1, acc.c0 + {BURST_GAMMA}) + {c1e},
                    'nb', acc.nb + IF(
                        LEAST(acc.c1, acc.c0 + {BURST_GAMMA}) + {c1e}
                        < LEAST(acc.c0, acc.c1) + {c0e},
                        CAST(1 AS BIGINT), CAST(0 AS BIGINT))),
                acc -> acc)
            """
        ).alias("st"),
    )
    return (
        tot.join(folded, "event_type", "left")
        .select(
            "event_type",
            F.coalesce(F.col("st.c0"), F.lit(0)).cast("long").alias(
                "cost_base_micro"
            ),
            F.coalesce(F.col("st.c1"), F.lit(0)).cast("long").alias(
                "cost_burst_micro"
            ),
            F.coalesce(F.col("st.nb"), F.lit(0)).cast("long").alias(
                "n_burst_days"
            ),
            F.expr(
                "CAST(CASE WHEN st.c1 < st.c0 THEN 1 ELSE 0 END AS BIGINT)"
            ).alias("ends_in_burst"),
        )
        .orderBy("event_type")
    )
