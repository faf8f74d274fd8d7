"""Persistent multi-partition topic registry — declared query surface.

Realizes the reference coordinator's *intended* registry — a
``(broker, partition) → topic`` map (src/coordinator/main.rs:43-45 TODO)
— as a ``topic=<t>/partition=<p>/`` parquet layout plus a persistent
external catalog table (cascade_spark.catalog). Consuming a (topic,
partition) set prunes at PLANNING time: Catalyst turns both predicates
into PartitionFilters, so files of other topics/partitions are never
opened — at 100 TB the consume cost tracks the requested partitions, not
the registry size.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import functions as F

from cascade_spark import store
from cascade_spark.catalog import (
    consume_topic_partitions,
    publish_partitioned,
    register_persistent_topic,
)
from cascade_spark.operators._util import d2, dec
from cascade_spark.plans.registry import register
from cascade_spark.tables import load

def stage_topic_registry(spark, sf_dir: str) -> tuple[str, str]:
    """Build (once per sf_dir) a two-topic partitioned registry from the
    events fixture — 'events' (all rows) and 'clicks' (click rows only),
    each hash-assigned to 4 partitions — and register the external table.
    Returns (table_name, root)."""
    def build():
        root = os.path.join(store.tempdir("cascade_topics"), "registry")
        ev = load(spark, sf_dir, "events").select(
            "event_id", F.unix_micros("ts").alias("ts_us"), "user_id", "event_type", "value"
        )
        publish_partitioned(ev, root, topic="events", num_partitions=4)
        publish_partitioned(
            ev.filter(F.col("event_type") == "click"), root, topic="clicks", num_partitions=4
        )
        table = "bus_registry_" + hashlib.md5(root.encode()).hexdigest()[:8]
        register_persistent_topic(spark, table, root)
        return (table, root)

    return store.fixture("topics.registry", sf_dir, build)


@register(
    "catalog_partition_pruned_consume",
    doc="Consume (topic='events', partitions {1,3}) from the persistent "
    "partitioned topic registry: both predicates become PartitionFilters "
    "(planning-time directory pruning — no other topic's or partition's "
    "files are opened), then per-partition counts/checksums. Oracle "
    "recomputes the hash partition assignment relationally.",
    oracle="""
WITH assigned AS (
    SELECT event_id, value, event_id % 4 AS partition
    FROM events
)
SELECT 'events' AS topic,
       CAST(partition AS INT) AS partition,
       COUNT(*) AS n_events,
       CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(12,4))), 2) AS DOUBLE) AS total_value
FROM assigned
WHERE partition IN (1, 3)
GROUP BY partition
ORDER BY partition
""",
)
def catalog_partition_pruned_consume(spark, sf_dir):
    table, _ = stage_topic_registry(spark, sf_dir)
    consumed = consume_topic_partitions(spark, table, "events", [1, 3])
    return (
        consumed.groupBy("topic", "partition")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("event_id").cast("long").alias("sum_event_id"),
            d2(F.sum(dec("value"))).alias("total_value"),
        )
        .orderBy("partition")
    )


@register(
    "catalog_multi_topic_counts",
    doc="Registry-wide accounting: row counts per (topic, partition) "
    "across BOTH registered topics — one partitioned scan, grouped on "
    "the partition columns only (no data columns read: the scan is "
    "metadata + partition values).",
    oracle="""
WITH assigned AS (
    SELECT event_id % 4 AS partition, event_type FROM events
),
both_topics AS (
    SELECT 'events' AS topic, partition FROM assigned
    UNION ALL
    SELECT 'clicks' AS topic, partition FROM assigned WHERE event_type = 'click'
)
SELECT topic, CAST(partition AS INT) AS partition, COUNT(*) AS n_events
FROM both_topics
GROUP BY topic, partition
ORDER BY topic, partition
""",
)
def catalog_multi_topic_counts(spark, sf_dir):
    table, _ = stage_topic_registry(spark, sf_dir)
    return (
        spark.table(table)
        .groupBy("topic", "partition")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("topic", "partition")
    )


CG_CONSUMERS = 3


@register(
    "bus_consumer_group_assignment",
    doc=f"Consumer-group partition assignment over the persistent topic "
    f"registry, {CG_CONSUMERS} consumers x both Kafka assignors: RANGE "
    "(per topic: n = P div G, r = P mod G, consumer i takes n + (i<r) "
    "contiguous partitions — the locality-preserving default) and "
    "ROUND-ROBIN (global (topic, partition) order striped i mod G — "
    "the balance-preserving alternative). Output per (strategy, "
    "consumer): partitions owned and rows consumed — the skew table "
    "that decides which assignor a 100 TB consumer fleet runs. "
    "Assignment is computed relationally over the partition spine "
    "(|topics|x|partitions| rows); row counts ride the pruned "
    "partitioned layout. Realizes the reference coordinator's "
    "consumer-registry intent (src/coordinator/main.rs:43-45).",
    oracle=f"""
WITH base AS (
    SELECT 'events' AS topic, event_id % 4 AS part FROM events
    UNION ALL
    SELECT 'clicks', event_id % 4 FROM events WHERE event_type = 'click'
),
pc AS (SELECT topic, part, CAST(COUNT(*) AS BIGINT) AS n FROM base GROUP BY 1, 2),
idx AS (
    SELECT topic, part, n,
           ROW_NUMBER() OVER (PARTITION BY topic ORDER BY part) - 1 AS pi,
           ROW_NUMBER() OVER (ORDER BY topic, part) - 1 AS gi,
           COUNT(*) OVER (PARTITION BY topic) AS p
    FROM pc
),
assigned AS (
    SELECT 'range' AS strategy,
           CASE WHEN pi < (p // {CG_CONSUMERS}) + CASE WHEN p % {CG_CONSUMERS} > 0 THEN 1 ELSE 0 END
                THEN 0
                WHEN pi < 2 * (p // {CG_CONSUMERS})
                          + CASE WHEN p % {CG_CONSUMERS} > 0 THEN 1 ELSE 0 END
                          + CASE WHEN p % {CG_CONSUMERS} > 1 THEN 1 ELSE 0 END
                THEN 1 ELSE 2 END AS consumer,
           n
    FROM idx
    UNION ALL
    SELECT 'roundrobin', CAST(gi % {CG_CONSUMERS} AS INT), n FROM idx
)
SELECT strategy, CAST(consumer AS BIGINT) AS consumer,
       CAST(COUNT(*) AS BIGINT) AS n_partitions,
       CAST(SUM(n) AS BIGINT) AS n_rows
FROM assigned GROUP BY 1, 2 ORDER BY strategy, consumer
""",
)
def bus_consumer_group_assignment(spark, sf_dir):
    from pyspark.sql import Window

    table, _ = stage_topic_registry(spark, sf_dir)
    pc = (
        spark.table(table)
        .groupBy("topic", F.col("partition").alias("part"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    wt = Window.partitionBy("topic").orderBy("part")
    wg = Window.orderBy("topic", "part")
    idx = pc.select(
        "topic",
        "part",
        "n",
        (F.row_number().over(wt) - 1).alias("pi"),
        (F.row_number().over(wg) - 1).alias("gi"),
        F.count(F.lit(1)).over(Window.partitionBy("topic")).alias("p"),
    )
    g = CG_CONSUMERS
    base = F.col("p") - (F.col("p") % g)  # g * (p // g), avoids int div ambiguity
    n_floor = (base / g).cast("long")
    r = F.col("p") % g
    b1 = n_floor + F.when(r > 0, 1).otherwise(0)
    b2 = 2 * n_floor + F.when(r > 0, 1).otherwise(0) + F.when(r > 1, 1).otherwise(0)
    rng = idx.select(
        F.lit("range").alias("strategy"),
        F.when(F.col("pi") < b1, 0).when(F.col("pi") < b2, 1).otherwise(2).alias("consumer"),
        "n",
    )
    rr = idx.select(
        F.lit("roundrobin").alias("strategy"),
        (F.col("gi") % g).alias("consumer"),
        "n",
    )
    return (
        rng.unionByName(rr)
        .groupBy("strategy", F.col("consumer").cast("long").alias("consumer"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_partitions"),
            F.sum("n").cast("long").alias("n_rows"),
        )
        .orderBy("strategy", "consumer")
    )
