"""foreachBatch sink — the streaming→custom-sink bridge (SURVEY.md §2B).

The reference's drain task (R12, src/producer/main.rs:87-106) was meant
to pull from the ring buffer and publish to brokers; foreachBatch is the
Spark form of that bridge: each micro-batch DataFrame is handed to
arbitrary batch-sink code with an epoch id for idempotence. Here it
performs the intended drain semantics — append each batch to the durable
topic directory with the batch id stamped for exactly-once bookkeeping.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from cascade_spark import store
from cascade_spark.plans.registry import register
from cascade_spark.streaming.pipeline import stage_stream_input


@register(
    "stream_foreachbatch_sink",
    "streaming",
    doc="foreachBatch drain (intended R12 semantics): micro-batches "
    "appended to a topic dir with epoch ids; total drained rows equals "
    "the source exactly.",
    oracle="""
SELECT COUNT(*) AS n_drained, COUNT(DISTINCT event_id) AS n_distinct
FROM events
""",
)
def stream_foreachbatch_sink(spark, sf_dir):
    indir, schema, _, _ = stage_stream_input(spark, sf_dir, n_files=4)
    # fresh drain dir + checkpoint per invocation: the foreachBatch drain
    # IS the declared operator — re-running it keeps the builder
    # retime-eligible (a target inside the cached staging dir made every
    # re-invocation a read-back of the first run's output)
    tmp = store.tempdir("cascade_drain")
    outdir = os.path.join(tmp, "drained")

    def drain(batch_df, epoch_id: int) -> None:
        (
            batch_df.withColumn("epoch", F.lit(epoch_id))
            .write.mode("append")
            .parquet(outdir)
        )

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(indir)
        .writeStream.foreachBatch(drain)
        .option("checkpointLocation", os.path.join(tmp, "drain_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    drained = spark.read.parquet(outdir)
    return drained.agg(
        F.count(F.lit(1)).alias("n_drained"),
        F.countDistinct("event_id").alias("n_distinct"),
    )


@register(
    "stream_foreachbatch_upsert",
    "streaming",
    doc="foreachBatch keyed UPSERT (the CDC merge-to-lake pattern "
    "without a table format): each micro-batch is merged into a "
    "keyed snapshot — read previous generation, union the batch, keep "
    "the latest record per user by the (ts, event_id) total order, "
    "write the next generation. Generational directories make the "
    "read-modify-write safe (never overwrite the files being read); "
    "argmax by struct max is associative, so any batch split yields "
    "the same final snapshot — which is what the oracle pins. The "
    "input is the fixture duplicated, so every key really is upserted "
    "repeatedly. At scale the same handler partitions the snapshot by "
    "key bucket and rewrites only buckets the batch touches.",
    oracle="""
WITH ranked AS (
    SELECT user_id, ts, event_id, value,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
)
SELECT user_id,
       STRFTIME(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
       event_id AS last_event_id,
       value AS last_value
FROM ranked WHERE rn = 1
ORDER BY user_id
""",
)
def stream_foreachbatch_upsert(spark, sf_dir):
    indir, schema, _, _ = stage_stream_input(spark, sf_dir, n_files=4, duplicate=True)
    base = store.tempdir("cascade_upsert")
    gen = {"n": 0}
    pick = F.max(F.struct("ts", "event_id", "value")).alias("m")

    def upsert(batch_df, batch_id):
        s = batch_df.sparkSession
        cur = batch_df.groupBy("user_id").agg(pick).select(
            "user_id", "m.ts", "m.event_id", "m.value"
        )
        if gen["n"] > 0:
            prev = s.read.schema(cur.schema).parquet(f"{base}/gen{gen['n']}")
            cur = (
                prev.unionByName(cur)
                .groupBy("user_id")
                .agg(pick)
                .select("user_id", "m.ts", "m.event_id", "m.value")
            )
        gen["n"] += 1
        cur.write.parquet(f"{base}/gen{gen['n']}")

    src = spark.readStream.schema(schema).option("maxFilesPerTrigger", 3).parquet(indir)
    q = src.writeStream.foreachBatch(upsert).trigger(availableNow=True).start()
    q.awaitTermination()
    snap = spark.read.parquet(f"{base}/gen{gen['n']}")
    return snap.select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        F.col("event_id").alias("last_event_id"),
        F.col("value").alias("last_value"),
    ).orderBy("user_id")
