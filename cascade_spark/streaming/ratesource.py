"""Rate source — the reference's load generator (R6), Spark-native.

The reference producer's main loop fabricates a bounded event stream —
names 'a'..'j' assigned round-robin, a timestamp, and a random number
per event (src/producer/main.rs:185-216). Spark's ``rate-micro-batch``
source is the engine-native form: each micro-batch emits a deterministic
``value`` sequence, so with a pinned ``startTimestamp`` the whole run is
reproducible — which upgrades the usual "rate sources can't be
hash-checked" rule into a full oracle check. The "random" number is an
md5-derived integer (deterministic across engines), mirroring how every
other hash family in this repo replaces seeded RNG.

At scale: ``numPartitions`` spreads generation across executors; there
is no shuffle — generation, projection and sink are one map-only stage.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cascade_spark import store
from cascade_spark.plans.registry import register


@register(
    "stream_rate_source",
    doc="Bounded deterministic load generation: rate-micro-batch source "
    "(one AvailableNow batch of 1000 rows across 4 partitions, epoch "
    "start) → producer-loop projection (round-robin event name "
    "'a'..'j', md5-derived number) — hash-checked against a relational "
    "range() oracle.",
    oracle="""
SELECT CAST(v AS BIGINT) AS value,
       SUBSTR('abcdefghij', CAST(v % 10 AS INT) + 1, 1) AS event_name,
       ('0x' || SUBSTR(MD5(CAST(v AS VARCHAR)), 1, 8))::BIGINT AS number
FROM range(1000) t(v)
ORDER BY value
""",
)
def stream_rate_source(spark, sf_dir):
    from cascade_spark.streaming.pipeline import run_to_memory

    src = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 1000)
        .option("numPartitions", 4)
        .option("startTimestamp", 0)
        .load()
    )
    batch = run_to_memory(src, "append")
    return batch.select(
        F.col("value").cast("long").alias("value"),
        F.substring(F.lit("abcdefghij"), (F.col("value") % 10).cast("int") + 1, 1).alias(
            "event_name"
        ),
        F.conv(F.substring(F.md5(F.col("value").cast("string")), 1, 8), 16, 10)
        .cast("long")
        .alias("number"),
    ).orderBy("value")


RMB_ROWS = 96
RMB_START_MS = 1_700_000_000_000
RMB_ADVANCE_MS = 1_000


@register(
    "stream_rate_micro_batch",
    doc="rate-micro-batch source — the DETERMINISTIC load generator "
    "(plain rate emits rows by wall-clock; rate-micro-batch pins an "
    "exact rowsPerBatch and a synthetic timestamp per batch, so the "
    "stream's content is a pure function of its options). One "
    f"availableNow batch of {RMB_ROWS} rows starting at a pinned "
    "epoch; the windowed rollup groups value%8 lanes with exact "
    "sums and the pinned timestamp rendered as a string. The oracle "
    "regenerates the identical stream from GENERATE_SERIES. This is "
    "the reference's event-generation analog (R6) under "
    "reproducible-replay requirements.",
    oracle=f"""
WITH rows_ AS (
    SELECT i AS v,
           EPOCH_MS({RMB_START_MS}) AS ts
    FROM (SELECT UNNEST(GENERATE_SERIES(0, {RMB_ROWS - 1})) AS i)
)
SELECT CAST(v % 8 AS BIGINT) AS lane,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(v) AS BIGINT) AS sum_v,
       STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S') AS batch_ts
FROM rows_
GROUP BY 1
ORDER BY lane
""",
)
def stream_rate_micro_batch(spark, sf_dir):
    import uuid

    name = "rmb_" + uuid.uuid4().hex[:8]
    df = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", RMB_ROWS)
        .option("startTimestamp", RMB_START_MS)
        .option("advanceMillisPerBatch", RMB_ADVANCE_MS)
        .load()
    )
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", store.tempdir("stream.rate_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    # awaitTermination(timeout) returns False on timeout with the query
    # still running — aggregating the memory table then would read a
    # possibly-incomplete batch (wrong answer, not an error). Fail loud.
    if not q.awaitTermination(120):
        q.stop()
        raise RuntimeError(
            "stream_rate_micro_batch: availableNow batch did not "
            "terminate within 120s"
        )
    return (
        spark.table(name)
        .groupBy((F.col("value") % 8).cast("long").alias("lane"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("value").cast("long").alias("sum_v"),
            F.date_format(F.min("timestamp"), "yyyy-MM-dd HH:mm:ss").alias(
                "batch_ts"
            ),
        )
        .orderBy("lane")
    )
