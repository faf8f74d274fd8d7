"""Ingest→consume roundtrip declared queries (reference t1 smoke analog).

Publishes the ``events`` fixture to a temp topic directory with assigned
offsets (round-robin partitioned parquet append, reference R1/R4/R5) and
consumes it back by offset (R2/R3). The DuckDB oracle recomputes the
offset as ``row_number() over (order by ts, event_id) - 1`` directly on
the fixture — proving the distributed two-phase offset assignment matches
a sequential scan's numbering.
"""

from __future__ import annotations


from pyspark.sql import functions as F

from cascade_spark.operators.consume import consume_range
from cascade_spark.operators.ingest import publish
from cascade_spark import store
from cascade_spark.plans.registry import register
from cascade_spark.operators._util import t

_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


@register(
    "ingest_consume_roundtrip",
    doc="Publish events (round-robin, offset-assigned) then range-consume "
    "offsets [100, 110) — reference publish/consume paths end-to-end "
    "(src/producer/main.rs:196, src/broker/main.rs:132-164).",
    oracle="""
SELECT event_id,
       STRFTIME(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
       user_id, event_type,
       value, props, "offset"
FROM (
    SELECT *, ROW_NUMBER() OVER (ORDER BY ts, event_id) - 1 AS "offset"
    FROM events
) WHERE "offset" >= 100 AND "offset" < 110
ORDER BY "offset"
""",
)
def ingest_consume_roundtrip(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    topic_dir = store.tempdir("cascade_topic") + "/t"
    publish(ev, topic_dir, order_cols=["ts", "event_id"], num_partitions=4)
    got = consume_range(spark, topic_dir, 100, 110)
    return got.select(
        "event_id",
        F.date_format("ts", _TS_FMT).alias("ts_s"),
        "user_id",
        "event_type",
        "value",
        "props",
        "offset",
    ).orderBy("offset")


@register(
    "consume_last_event",
    doc="Last-event resolution (reference R3: the n == count-1 branch, "
    "src/broker/main.rs:136-144). Offsets are row_number over (ts, "
    "event_id) minus 1, so the last event is the max-(ts, event_id) row "
    "and its offset is count-1 — one map-side-combinable aggregate "
    "(max_by + count), no global window or sort.",
    oracle="""
SELECT (SELECT event_id FROM events ORDER BY ts DESC, event_id DESC LIMIT 1) AS event_id,
       CAST(COUNT(*) - 1 AS BIGINT) AS "offset"
FROM events
""",
)
def consume_last_event(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return ev.agg(
        F.max_by("event_id", F.struct("ts", "event_id")).alias("event_id"),
        (F.count(F.lit(1)) - 1).cast("long").alias("offset"),
    )
