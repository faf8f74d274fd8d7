"""State-store introspection queries (Spark 4 state data source).

The state store is the one part of a streaming pipeline that is normally
a black box: at 100 TB of daily stream volume, "what does operator 0
actually hold after the backfill?" is a debugging question that used to
require replaying the query. Spark 4's ``statestore`` /
``state-metadata`` batch sources turn the checkpoint into a *relation*,
so state audits become plain DataFrame queries — that is the capability
this module declares.

All queries here drive a REAL streaming aggregation to completion
(Trigger.AvailableNow, explicit checkpoint), then read the checkpoint
back as a batch DataFrame. Hash-checkable because the input staging is
deterministic and complete-mode state is a pure function of the data.

Reference basis: the reference's index dump (R16, ``index.table`` at
src/broker/main.rs — dumped for debugging) is the same idea one layer
down: expose the engine's internal index as inspectable data. The bus
analog is ``bus_index_dump``; this is the Structured-Streaming analog.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from cascade_spark import store
from cascade_spark.plans.registry import register
from cascade_spark.streaming.pipeline import (
    run_to_memory,
    stage_late_input,
    stage_stream_input,
    state_partitions,
    LATE_DELAY_HOURS,
)
from cascade_spark.tables import load

_TS = "yyyy-MM-dd HH:mm:ss"


def _run_checkpointed_agg(spark, sf_dir, n_state_parts: int = 8) -> str:
    """Run the canonical hour×type streaming aggregation (complete mode,
    explicit checkpoint) and return the checkpoint path. Memoized per
    (sf_dir, partitions): the checkpoint is immutable once the query
    finishes, so the state-reader queries share one run."""

    def build():
        indir, schema, _tmp, _delay = stage_stream_input(spark, sf_dir, n_files=8)
        chk = os.path.join(store.tempdir("cascade_state"), "chk")
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(indir)
        )
        agg = src.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), _TS).alias("window_start"),
            "event_type",
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(12,4)") * 100)
            .cast("long")
            .alias("cents"),
        )
        with state_partitions(spark, n_state_parts):
            q = (
                agg.writeStream.outputMode("complete")
                .format("memory")
                .queryName("cascade_state_reader_sink")
                .option("checkpointLocation", chk)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        return chk

    return store.fixture("stream.stage", (sf_dir, "state_reader_chk", n_state_parts), build)


@register(
    "stream_state_store_read",
    "streaming",
    doc="State store as a relation (Spark 4 'statestore' batch source): "
    "after a complete-mode hour×type streaming aggregation commits, the "
    "checkpoint's operator-0 state is read back as a DataFrame — key "
    "struct exploded to the grouping columns, value struct to the agg "
    "buffer (count + cents sum). In complete mode state is never "
    "evicted, so the store must equal the batch group-by EXACTLY — "
    "which is what the oracle asserts. This is the 100 TB debugging "
    "primitive: state audits without replaying the stream. The buffer's "
    "internal field names are position-mapped (they are engine-internal "
    "and not part of the aliasing contract); partition_id is excluded "
    "(hash-placement detail, not data).",
    oracle="""
SELECT STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(CAST(value AS DECIMAL(12,4)) * 100 AS BIGINT))
            AS BIGINT) AS cents
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
""",
)
def stream_state_store_read(spark, sf_dir):
    chk = _run_checkpointed_agg(spark, sf_dir)
    st = spark.read.format("statestore").load(chk)
    flat = st.select("key.*", "value.*")
    # key = (hour string, event_type); value = the UNFINISHED agg buffer
    # (count, decimal sum accumulator, isEmpty) — final-projection casts
    # happen downstream of the store, so the cents cast is applied here.
    ws, et, n, cents = flat.columns[:4]
    return flat.select(
        F.col(ws).alias("window_start"),
        F.col(et).alias("event_type"),
        F.col(n).cast("long").alias("n"),
        F.col(cents).cast("long").alias("cents"),
    ).orderBy("window_start", "event_type")


@register(
    "stream_state_metadata_audit",
    "streaming",
    doc="Checkpoint metadata as a relation (Spark 4 'state-metadata' "
    "source): operator id/name, store name, state partition count, and "
    "committed batch range of the finished aggregation's checkpoint. "
    "Every field is part of the declared execution contract (8 state "
    "partitions via the state_partitions context; 8 staged input files "
    "x maxFilesPerTrigger=1 => batches 0..7; one stateStoreSave "
    "operator), so the oracle is the literal expected row — the query "
    "proves the engine's metadata matches the contract.",
    oracle="""
SELECT CAST(0 AS BIGINT) AS operator_id,
       'stateStoreSave' AS operator_name,
       'default' AS store_name,
       CAST(8 AS BIGINT) AS n_state_partitions,
       CAST(0 AS BIGINT) AS min_batch_id,
       CAST(7 AS BIGINT) AS max_batch_id
""",
)
def stream_state_metadata_audit(spark, sf_dir):
    chk = _run_checkpointed_agg(spark, sf_dir)
    md = spark.read.format("state-metadata").load(chk)
    return md.select(
        F.col("operatorId").cast("long").alias("operator_id"),
        F.col("operatorName").alias("operator_name"),
        F.col("stateStoreName").alias("store_name"),
        F.col("numPartitions").cast("long").alias("n_state_partitions"),
        F.col("minBatchId").cast("long").alias("min_batch_id"),
        F.col("maxBatchId").cast("long").alias("max_batch_id"),
    )


@register(
    "stream_progress_audit",
    "streaming",
    doc="Per-batch StreamingQueryProgress accounting, hash-checked: the "
    "deterministic late-replay staging (one file per micro-batch, "
    "pinned mtimes — shared with stream_late_data_audit) makes "
    "numInputRows an exact function of the fixture: batch 0 = the "
    "newer half of events, batch 1 = one pusher marker, batch 2 = the "
    "older half, batch 3 = one flush marker. The query runs the "
    "windowed aggregation, then turns q.recentProgress into a relation "
    "— the observability feed (rows/batch, operator progress) that a "
    "100 TB ingest's lag/SLA monitoring is built on. Zero-input "
    "wrap-up batches are excluded (their presence is a trigger-timing "
    "detail, not data).",
    oracle="""
WITH b AS (
  SELECT EPOCH_US(MIN(ts)) AS lo, EPOCH_US(MAX(ts)) AS hi FROM events
),
c AS (SELECT lo + (hi - lo) // 2 AS cut_us FROM b)
SELECT CAST(batch_id AS BIGINT) AS batch_id, CAST(n AS BIGINT) AS num_input_rows
FROM (
  SELECT 0 AS batch_id,
         (SELECT COUNT(*) FROM events, c WHERE EPOCH_US(ts) >= c.cut_us) AS n
  UNION ALL SELECT 1, 1
  UNION ALL
  SELECT 2,
         (SELECT COUNT(*) FROM events, c WHERE EPOCH_US(ts) < c.cut_us)
  UNION ALL SELECT 3, 1
)
ORDER BY batch_id
""",
)
def stream_progress_audit(spark, sf_dir):
    indir, schema, _cut, _hi = stage_late_input(spark, sf_dir)
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(indir)
    )
    agg = (
        src.withWatermark("ts", f"{LATE_DELAY_HOURS} hours")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    with state_partitions(spark, 8):
        import uuid

        # uuid sink name so re-invocations in one session never collide
        name = "progress_" + uuid.uuid4().hex[:8]
        q = (
            agg.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = [
            (int(p.batchId), int(p.numInputRows))
            for p in q.recentProgress
            if int(p.numInputRows) > 0
        ]
    return (
        spark.createDataFrame(rows, "batch_id long, num_input_rows long")
        .orderBy("batch_id")
    )


@register(
    "stream_rocksdb_state_store",
    "streaming",
    doc="The same hour×type streaming aggregation under the RocksDB "
    "state store provider (spark.sql.streaming.stateStore.providerClass "
    "= RocksDBStateStoreProvider) — the provider that makes 100 TB "
    "stateful streaming viable: state lives off-heap/on-disk per "
    "partition instead of in the executor heap (HDFSBackedStateStore "
    "holds every version in memory), with incremental checkpointing. "
    "Provider choice must never change results — this query pins that "
    "by hash-checking the RocksDB run against the same batch oracle as "
    "the default-provider queries. Conf is restored after the run (it "
    "is baked into a checkpoint at query start).",
    oracle="""
SELECT STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
""",
)
def stream_rocksdb_state_store(spark, sf_dir):
    indir, schema, _tmp, _delay = stage_stream_input(spark, sf_dir, n_files=8)
    src = spark.readStream.schema(schema).parquet(indir)
    agg = src.groupBy(
        F.date_format(F.date_trunc("hour", "ts"), _TS).alias("window_start"),
        "event_type",
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    conf_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(conf_key, None)
    spark.conf.set(
        conf_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        with state_partitions(spark, 8):
            out = run_to_memory(
                agg.select("window_start", "event_type", "n"), "complete"
            )
    finally:
        if prev is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev)
    return out.orderBy("window_start", "event_type")


def _run_changelog_agg(spark, sf_dir) -> str:
    """Complete-mode hour×type count over the deterministic late-replay
    staging (4 pinned batches), explicit checkpoint; memoized — the
    checkpoint is immutable once the query finishes."""

    def build():
        indir, schema, _cut, _hi = stage_late_input(spark, sf_dir)
        chk = os.path.join(store.tempdir("cascade_chlog"), "chk")
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(indir)
        )
        agg = src.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), _TS).alias("window_start"),
            "event_type",
        ).agg(F.count(F.lit(1)).alias("n"))
        with state_partitions(spark, 8):
            q = (
                agg.writeStream.outputMode("complete")
                .format("memory")
                .queryName("cascade_chlog_sink")
                .option("checkpointLocation", chk)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        return chk

    return store.fixture("stream.stage", (sf_dir, "state_changelog_chk"), build)


@register(
    "stream_state_changelog",
    "streaming",
    doc="State CHANGE FEED (Spark 4 statestore source with "
    "readChangeFeed): which keys each micro-batch touched, read from "
    "the committed checkpoint as a relation. The deterministic "
    "late-replay staging pins batch composition (batch 0 = newer "
    "half, 1 = pusher marker, 2 = older half, 3 = flush marker), so "
    "the per-batch update-key count is an exact function of the data "
    "— batch k updates exactly the distinct (hour, type) groups "
    "receiving input in batch k (complete mode writes only touched "
    "keys; nothing evicts, so every change is an 'update'). This is "
    "the CDC view of operator state a 100 TB pipeline uses to audit "
    "what a backfill actually rewrote, without replaying it.",
    oracle="""
WITH b AS (
  SELECT EPOCH_US(MIN(ts)) AS lo, EPOCH_US(MAX(ts)) AS hi FROM events
),
c AS (SELECT lo + (hi - lo) // 2 AS cut_us FROM b)
SELECT CAST(batch_id AS BIGINT) AS batch_id,
       'update' AS change_type,
       CAST(n AS BIGINT) AS n_keys_changed
FROM (
  SELECT 0 AS batch_id,
         (SELECT COUNT(DISTINCT (DATE_TRUNC('hour', ts), event_type))
          FROM events, c WHERE EPOCH_US(ts) >= c.cut_us) AS n
  UNION ALL SELECT 1, 1
  UNION ALL
  SELECT 2,
         (SELECT COUNT(DISTINCT (DATE_TRUNC('hour', ts), event_type))
          FROM events, c WHERE EPOCH_US(ts) < c.cut_us)
  UNION ALL SELECT 3, 1
)
ORDER BY batch_id
""",
)
def stream_state_changelog(spark, sf_dir):
    chk = _run_changelog_agg(spark, sf_dir)
    feed = (
        spark.read.format("statestore")
        .option("path", chk)
        .option("readChangeFeed", "true")
        .option("changeStartBatchId", 0)
        .load()
    )
    return (
        feed.groupBy(
            F.col("batch_id").cast("long").alias("batch_id"),
            F.col("change_type").cast("string").alias("change_type"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_keys_changed"))
        .orderBy("batch_id", "change_type")
    )


@register(
    "stream_state_snapshot_read",
    "streaming",
    doc="State TIME TRAVEL (Spark 4 statestore source, batchId option): "
    "the changelog checkpoint's operator state is read AS OF batch 1 — "
    "before the older half of events ever arrived — so the snapshot "
    "must equal the hour×type counts of the NEWER half plus the single "
    "pusher-marker key, exactly (the deterministic late-replay staging "
    "pins batch composition: 0 = newer half, 1 = marker, 2 = older "
    "half, 3 = flush; complete mode never evicts). This is the other "
    "half of the state-debugging story next to stream_state_changelog: "
    "changelog = WHAT changed per batch, snapshot = the full state a "
    "backfill would have seen at a past commit, without replaying it. "
    "Reads the SAME memoized checkpoint (no extra fixture).",
    oracle="""
WITH b AS (
  SELECT EPOCH_US(MIN(ts)) AS lo, EPOCH_US(MAX(ts)) AS hi FROM events
),
c AS (SELECT lo + (hi - lo) // 2 AS cut_us, hi FROM b),
state AS (
  SELECT event_type, DATE_TRUNC('hour', ts) AS h,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events, c WHERE EPOCH_US(ts) >= c.cut_us
  GROUP BY 1, 2
  UNION ALL
  SELECT 'sentinel', DATE_TRUNC('hour', TIMESTAMP '1970-01-01' +
             TO_MICROSECONDS(c.hi)), CAST(1 AS BIGINT)
  FROM c
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(n) AS BIGINT) AS n_events
FROM state GROUP BY event_type ORDER BY event_type
""",
)
def stream_state_snapshot_read(spark, sf_dir):
    chk = _run_changelog_agg(spark, sf_dir)
    st = (
        spark.read.format("statestore")
        .option("batchId", 1)
        .load(chk)
    )
    flat = st.select("key.*", "value.*")
    ws, et, n = flat.columns[:3]
    return (
        flat.select(
            F.col(et).alias("event_type"),
            F.col(n).cast("long").alias("n"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum("n").cast("long").alias("n_events"),
        )
        .orderBy("event_type")
    )
