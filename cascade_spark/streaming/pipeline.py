"""Structured Streaming surface (SURVEY.md §2B Streaming-only ops).

Every declared streaming query here is a *real* streaming query — file
source → transformations → sink — driven to completion with
``Trigger.AvailableNow`` so it can run inside the synchronous driver
protocol and be checked against the DuckDB batch oracle (the
batch-replay-equivalence strategy from SURVEY.md §5).

Reference mapping:
- micro-batch ingest + exactly-once parquet append  ≡ R1 publish+ack
  (src/broker/main.rs:85-110) — the ack is the micro-batch commit;
- ``maxFilesPerTrigger`` backpressure ≡ R11 ring-buffer admission
  (src/producer/main.rs:53-85), except Spark blocks instead of rejecting;
- the staged multi-file input ≡ the producer's batched arrivals.

Scale notes: windowed aggregations keep per-window partial state in the
state store keyed by (window, keys) — at 100 TB the watermark bounds
state size; session windows additionally need the sentinel-flush pattern
below only in finite-replay tests (a live stream's watermark advances on
its own).
"""

from __future__ import annotations

import os
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cascade_spark import store
from cascade_spark.plans.registry import register
from cascade_spark.operators._util import avg_round, d2, dec, sql_avg_round
from cascade_spark.tables import load

_TS = "yyyy-MM-dd HH:mm:ss"


@contextmanager
def state_partitions(spark, n: int):
    """Run a stateful streaming query with fewer, larger state partitions.

    Every stateful operator keeps one state store per shuffle partition
    (stream-stream joins keep four); per-store checkpoint I/O dominates
    at small-to-medium key cardinality, so 8 partitions beat 32 by ~4×
    locally (first measured on stream_stream_join). The conf is read at
    query *start* and baked into the checkpoint, so the context only
    needs to cover ``run_to_memory``. On a real cluster this knob tracks
    state volume per executor, not core count."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def stage_stream_input(
    spark: SparkSession,
    sf_dir: str,
    n_files: int = 8,
    duplicate: bool = False,
    sentinels: int = 0,
):
    """Write the events fixture as a multi-file streaming input directory.

    ``sentinels`` appends N far-future flush markers (user_id = -1) in
    separate, later files — they push the watermark past all real data so
    append-mode stateful operators emit everything during finite replay.
    Staged directories are cached per configuration (inputs are
    read-only), so successive streaming queries skip the re-write.
    """

    def build():
        ev = load(spark, sf_dir, "events")
        tmp = store.tempdir("cascade_stream")
        indir = os.path.join(tmp, "in")
        ev.repartitionByRange(n_files, "ts").write.mode("append").parquet(indir)
        if duplicate:
            ev.repartitionByRange(n_files, "ts").write.mode("append").parquet(indir)
        # Watermark delay that tolerates ANY file replay order: files are only
        # roughly time-ordered, so an out-of-order batch must never mark real
        # events late. Delay = full data span + 2h; sentinels sit beyond it so
        # the final batch's watermark still passes every real session's end.
        delay_hours = 2
        if sentinels:
            lo, hi = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
            span_hours = int((hi - lo).total_seconds() // 3600) + 1
            delay_hours = span_hours + 2
            for i in range(sentinels):
                offset = delay_hours + 2 * (i + 1)
                (
                    spark.createDataFrame(
                        [(-(i + 1), hi, -1, "sentinel", 0.0, "{}")],
                        schema=ev.schema,
                    )
                    .withColumn("ts", F.col("ts") + F.expr(f"INTERVAL {offset} HOURS"))
                    .coalesce(1)
                    .write.mode("append")
                    .parquet(indir)
                )
        return (indir, ev.schema, tmp, f"{delay_hours} hours")

    return store.fixture("stream.stage", (sf_dir, n_files, duplicate, sentinels), build)


def run_to_memory(stream_df: DataFrame, output_mode: str) -> DataFrame:
    """Start the streaming query with AvailableNow, block until done,
    return the sink table. The checkpoint lives under the store root, so
    it is removed at exit even when the query fails."""
    name = "s" + uuid.uuid4().hex[:12]
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", store.tempdir("stream.memory_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(name)


@register(
    "stream_tumbling_window",
    doc="Streaming tumbling-window aggregation (1h) by event_type, "
    "complete mode — verified against the batch date_trunc oracle.",
    oracle=f"""
SELECT STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS n,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(12,4))), 2) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
""",
)
def stream_tumbling_window(spark, sf_dir):
    indir, schema, _, _ = stage_stream_input(spark, sf_dir)
    src = spark.readStream.schema(schema).parquet(indir)
    agg = src.groupBy(F.window("ts", "1 hour").alias("w"), "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        d2(F.sum(dec("value"))).alias("total_value"),
    )
    with state_partitions(spark, 8):
        out = run_to_memory(
            agg.select(
                F.date_format("w.start", _TS).alias("window_start"),
                "event_type",
                "n",
                "total_value",
            ),
            "complete",
        )
    return out.orderBy("window_start", "event_type")


@register(
    "stream_sliding_window",
    doc="Streaming sliding-window aggregation (2h window, 1h slide) — "
    "each event lands in two windows; oracle expands via a k∈{0,1} "
    "lateral.",
    oracle="""
SELECT STRFTIME(w_start, '%Y-%m-%d %H:%M:%S') AS window_start,
       COUNT(*) AS n
FROM (
    SELECT DATE_TRUNC('hour', ts) - k * INTERVAL 1 HOUR AS w_start
    FROM events CROSS JOIN (SELECT UNNEST([0, 1]) AS k)
)
GROUP BY w_start
ORDER BY window_start
""",
)
def stream_sliding_window(spark, sf_dir):
    indir, schema, _, _ = stage_stream_input(spark, sf_dir)
    src = spark.readStream.schema(schema).parquet(indir)
    agg = src.groupBy(F.window("ts", "2 hours", "1 hour").alias("w")).agg(
        F.count(F.lit(1)).alias("n")
    )
    with state_partitions(spark, 8):
        out = run_to_memory(
            agg.select(F.date_format("w.start", _TS).alias("window_start"), "n"),
            "complete",
        )
    return out.orderBy("window_start")


@register(
    "stream_session_window",
    doc="Streaming session windows (10 min gap) per user, watermark + "
    "append mode + maxFilesPerTrigger backpressure (R11 analog). Two "
    "sentinel flush files advance the watermark past all real sessions; "
    "oracle is the batch gaps-and-islands construction.",
    oracle="""
WITH marked AS (
    SELECT user_id, ts, value,
           CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     > INTERVAL 10 MINUTE THEN 1 ELSE 0 END AS new_session
    FROM events
), numbered AS (
    SELECT user_id, ts, value,
           SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
    FROM marked
)
SELECT user_id,
       STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       STRFTIME(MAX(ts) + INTERVAL 10 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
       COUNT(*) AS n
FROM numbered
GROUP BY user_id, sid
ORDER BY user_id, session_start
""",
)
def stream_session_window(spark, sf_dir):
    indir, schema, _, wm_delay = stage_stream_input(spark, sf_dir, n_files=4, sentinels=2)
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)  # backpressure: bounded batches
        .parquet(indir)
    )
    agg = (
        src.withWatermark("ts", wm_delay)
        .groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    with state_partitions(spark, 8):
        out = run_to_memory(
            agg.select(
                "user_id",
                F.date_format("w.start", _TS).alias("session_start"),
                F.date_format("w.end", _TS).alias("session_end"),
                "n",
            ),
            "append",
        )
    # Sentinel exclusion happens on the *batch* result: a filter on the
    # grouping key inside the streaming plan would be pushed below the
    # aggregation into the scan, removing the sentinel rows before they
    # can advance the watermark (observed: zero sessions ever flushed).
    return out.filter(F.col("user_id") >= 0).orderBy("user_id", "session_start")


@register(
    "stream_dedup_watermark",
    doc="Streaming deduplication: input is the events fixture appended "
    "twice; withWatermark + dropDuplicates(event_id) emits each event "
    "exactly once (north-star dedup, streaming flavor).",
    oracle="""
SELECT event_type, COUNT(*) AS n
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def stream_dedup_watermark(spark, sf_dir):
    indir, schema, _, _ = stage_stream_input(spark, sf_dir, duplicate=True)
    src = spark.readStream.schema(schema).parquet(indir)
    deduped = src.withWatermark("ts", "1 hour").dropDuplicates(["event_id"])
    with state_partitions(spark, 8):
        out = run_to_memory(deduped, "append")
    return out.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).orderBy("event_type")


@register(
    "stream_static_join",
    doc="Stream-static join: streaming events enriched with the static "
    "customer dimension, aggregated per market segment. Join strategy "
    "left to AQE — customer scales with SF, so no forced broadcast; "
    "each micro-batch re-plans against the static side's actual size.",
    oracle=f"""
SELECT c.c_mktsegment,
       COUNT(*) AS n,
       {sql_avg_round("SUM(CAST(e.value AS DECIMAL(12,4)))", 2)} AS avg_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment
ORDER BY c.c_mktsegment
""",
)
def stream_static_join(spark, sf_dir):
    indir, schema, _, _ = stage_stream_input(spark, sf_dir)
    customer = load(spark, sf_dir, "customer")
    src = spark.readStream.schema(schema).parquet(indir)
    joined = src.join(customer, src.user_id == customer.c_custkey, "inner")
    agg = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        avg_round(F.sum(dec("value")), F.count(F.lit(1)), 2).alias("avg_value"),
    )
    out = run_to_memory(agg, "complete")
    return out.orderBy("c_mktsegment")


@register(
    "stream_ingest_exactly_once",
    doc="Exactly-once micro-batch ingest (reference R1 publish+ack): "
    "readStream → writeStream parquet with checkpoint, run TWICE against "
    "the same checkpoint — the second run replays nothing, so the "
    "output count equals the input count exactly.",
    oracle="SELECT COUNT(*) AS n_ingested FROM events",
)
def stream_ingest_exactly_once(spark, sf_dir):
    indir, schema, _, _ = stage_stream_input(spark, sf_dir)
    # fresh output + checkpoint per invocation: the two-run ingest IS the
    # declared operator, so every call must repeat it (a target inside
    # the cached staging dir made re-invocations a no-op replay, which
    # disqualified the query from bench retiming)
    tmp = store.tempdir("cascade_ingest_once")
    outdir = os.path.join(tmp, "topic")
    ckpt = os.path.join(tmp, "ckpt")
    for _ in range(2):  # second run: same checkpoint, no new data, no dupes
        q = (
            spark.readStream.schema(schema)
            .parquet(indir)
            .writeStream.format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(outdir).agg(F.count(F.lit(1)).alias("n_ingested"))


@register(
    "stream_chained_windows",
    doc="Chained time-window aggregations (two stateful operators in "
    "ONE append-mode query, Spark 3.4+/4): hourly tumbling partials "
    "re-windowed into daily totals by grouping on the window column "
    "itself — the streaming form of the partial->final rollup, so the "
    "daily state sees |hours| rows, never raw events. Far-future "
    "sentinel rows (filtered from the output; absent from the batch "
    "oracle's events table) push the watermark past the last real "
    "day so finite replay emits every window. Oracle = direct daily "
    "aggregation (hours nest exactly in days).",
    oracle="""
SELECT STRFTIME(DATE_TRUNC('day', ts), '%Y-%m-%d') AS day,
       event_type,
       COUNT(*) AS n,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(12,4))), 2) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
""",
)
def stream_chained_windows(spark, sf_dir):
    # daily windows need the watermark to clear up to 24h past the last
    # real event: 13 sentinels push it hi + 26h (see stage_stream_input)
    indir, schema, _, delay = stage_stream_input(spark, sf_dir, n_files=4, sentinels=13)
    src = (
        spark.readStream.schema(schema)
        .parquet(indir)
        .withWatermark("ts", delay)
    )
    hourly = src.groupBy(F.window("ts", "1 hour").alias("hw"), "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("value")).alias("s"),
    )
    daily = hourly.groupBy(F.window("hw", "1 day").alias("dw"), "event_type").agg(
        F.sum("n").alias("n"),
        F.sum("s").alias("s"),
    )
    with state_partitions(spark, 8):
        out = run_to_memory(
            daily.select(
                F.date_format("dw.start", "yyyy-MM-dd").alias("day"),
                "event_type",
                F.col("n").cast("long").alias("n"),
                d2(F.col("s")).alias("total_value"),
            ),
            "append",
        )
    return out.filter(F.col("event_type") != "sentinel").orderBy("day", "event_type")


@register(
    "stream_dedup_within_watermark",
    doc="dropDuplicatesWithinWatermark (Spark 3.5+): unlike classic "
    "dropDuplicates — whose per-key state lives forever unless the "
    "event-time column is part of the key — this variant evicts dedup "
    "state once the watermark passes a key's first sighting, bounding "
    "state for sources whose duplicates arrive close together (retry "
    "storms, at-least-once replays). Input is the fixture appended "
    "twice; every event must still emit exactly once.",
    oracle="""
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(event_id) AS BIGINT) AS sum_event_id
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def stream_dedup_within_watermark(spark, sf_dir):
    indir, schema, _, _ = stage_stream_input(spark, sf_dir, duplicate=True)
    src = spark.readStream.schema(schema).parquet(indir)
    deduped = src.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(["event_id"])
    with state_partitions(spark, 8):
        out = run_to_memory(deduped, "append")
    return (
        out.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("event_id").cast("long").alias("sum_event_id"),
        )
        .orderBy("event_type")
    )


def _stage_split_input(spark: SparkSession, sf_dir: str):
    """Stage events as TWO streaming source directories (even/odd
    event_id) — the multi-source topology fixture. Cached per sf_dir."""

    def build():
        ev = load(spark, sf_dir, "events")
        tmp = store.tempdir("cascade_stream_split")
        dirs = []
        for name, pred in (("a", F.col("event_id") % 2 == 0), ("b", F.col("event_id") % 2 == 1)):
            d = os.path.join(tmp, name)
            ev.filter(pred).repartitionByRange(4, "ts").write.mode("append").parquet(d)
            dirs.append(d)
        return (dirs[0], dirs[1], ev.schema, tmp)

    return store.fixture("stream.stage", (sf_dir, "split2"), build)


@register(
    "stream_union_sources",
    doc="Streaming UNION of two independent file sources (even/odd "
    "event_id partitions of the fixture, each tagged with its source) "
    "into one windowed aggregate — the fan-in topology every multi-"
    "region ingest runs (N brokers -> one job). Each source keeps its "
    "own file-tracking offsets inside the one checkpoint; the union is "
    "row-level (no extra shuffle before the windowed groupBy). Oracle "
    "replays the same tagging relationally.",
    oracle="""
SELECT STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       CASE WHEN event_id % 2 = 0 THEN 'a' ELSE 'b' END AS src,
       COUNT(*) AS n
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
""",
)
def stream_union_sources(spark, sf_dir):
    dir_a, dir_b, schema, _ = _stage_split_input(spark, sf_dir)
    sa = spark.readStream.schema(schema).parquet(dir_a).withColumn("src", F.lit("a"))
    sb = spark.readStream.schema(schema).parquet(dir_b).withColumn("src", F.lit("b"))
    agg = (
        sa.unionByName(sb)
        .groupBy(F.window("ts", "1 hour").alias("w"), "src")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    with state_partitions(spark, 8):
        out = run_to_memory(
            agg.select(
                F.date_format("w.start", _TS).alias("window_start"), "src", "n"
            ),
            "complete",
        )
    return out.orderBy("window_start", "src")


LATE_DELAY_HOURS = 540  # 22.5 days of a 30-day fixture span -> partial drops


def stage_late_input(spark, sf_dir):
    """Stage a DETERMINISTIC late-arrival replay: the newer half of
    events lands in batch 1, the older half arrives late in batch 2, a
    far-future sentinel flushes in batch 3. One file per group with
    strictly increasing mtimes + maxFilesPerTrigger=1 pins the batch
    order (FileStreamSource orders by modification time), which pins
    the watermark trajectory, which makes the set of dropped-late rows
    an exact, hash-checkable function of the data."""

    def build():
        ev = load(spark, sf_dir, "events")
        lo, hi = ev.agg(
            F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
        ).collect()[0]
        cut_us = lo + (hi - lo) // 2
        tmp = store.tempdir("cascade_late")
        indir = os.path.join(tmp, "in")
        base_t = 1_700_000_000

        def _write(df, t):
            before = set(os.listdir(indir)) if os.path.isdir(indir) else set()
            df.coalesce(1).write.mode("append").parquet(indir)
            for f in set(os.listdir(indir)) - before:
                os.utime(os.path.join(indir, f), (t, t))

        def _marker(ts_us: int):
            return ev.limit(1).select(
                F.lit(-1).cast(ev.schema["event_id"].dataType).alias("event_id"),
                F.timestamp_micros(F.lit(ts_us)).alias("ts"),
                F.lit(-1).cast(ev.schema["user_id"].dataType).alias("user_id"),
                F.lit("sentinel").alias("event_type"),
                F.lit(0.0).cast(ev.schema["value"].dataType).alias("value"),
                F.lit("{}").alias("props"),
            )

        # Batch 0: the newer half — establishes max event time, so the NEXT
        # batch commits watermark = max - delay.
        _write(ev.filter(F.unix_micros("ts") >= cut_us), base_t)
        # Batch 1: a pusher marker at max ts (no new max, excluded from the
        # result by event_type) — Spark's late filter for batch k uses the
        # watermark as of batch k-1's COMMIT, so one intermediate batch must
        # pass between the max-setting data and the late data for the drop
        # to engage (verified empirically; see the query doc).
        _write(_marker(hi), base_t + 60)
        # Batch 2: the older half — rows in hour windows ending at or below
        # the committed watermark are dropped by the state store.
        _write(ev.filter(F.unix_micros("ts") < cut_us), base_t + 120)
        # Batch 3: far-future flush marker — pushes the final watermark past
        # every real window end so append mode emits all surviving state.
        _write(_marker(hi + (LATE_DELAY_HOURS + 60) * 3_600_000_000), base_t + 180)
        return (indir, ev.schema, cut_us, hi)

    return store.fixture("stream.stage", (sf_dir, "late_audit"), build)


@register(
    "stream_late_data_audit",
    doc=f"Exact late-data accounting for append-mode windowed "
    "aggregation: the staged replay delivers the newer half of events "
    "first (establishing watermark = max event time - "
    f"{LATE_DELAY_HOURS}h), then the older half, so every old row in "
    "an hour window already sealed below the watermark is DROPPED by "
    "the state store — deterministically, because one-file-per-batch + "
    "pinned mtimes fix the watermark trajectory. The result joins the "
    "streamed counts against batch ground truth per (window, type): "
    "n_late_dropped is the exact row count append mode lost. This is "
    "the audit a 100 TB streaming backfill needs before trusting its "
    "aggregates — and it is hash-checked, not rows-only, because the "
    "drop set is a pure function of the fixture.",
    oracle=f"""
WITH b AS (
    SELECT EPOCH_US(MIN(ts)) AS lo, EPOCH_US(MAX(ts)) AS hi FROM events
),
c AS (
    SELECT lo + (hi - lo) // 2 AS cut_us,
           ((hi // 1000) - {LATE_DELAY_HOURS} * 3600000) * 1000 AS wm_us
    FROM b
),
acc AS (
    SELECT ts, event_type FROM events, c
    WHERE EPOCH_US(ts) >= c.cut_us
       OR EPOCH_US(DATE_TRUNC('hour', ts)) + 3600000000 > c.wm_us
),
s AS (
    SELECT DATE_TRUNC('hour', ts) AS w, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_stream
    FROM acc GROUP BY 1, 2
),
g AS (
    SELECT DATE_TRUNC('hour', ts) AS w, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_batch
    FROM events GROUP BY 1, 2
)
SELECT STRFTIME(g.w, '%Y-%m-%d %H:%M:%S') AS window_start,
       g.event_type,
       g.n_batch,
       CAST(COALESCE(s.n_stream, 0) AS BIGINT) AS n_stream,
       CAST(g.n_batch - COALESCE(s.n_stream, 0) AS BIGINT) AS n_late_dropped
FROM g LEFT JOIN s ON s.w = g.w AND s.event_type = g.event_type
ORDER BY window_start, g.event_type
""",
)
def stream_late_data_audit(spark, sf_dir):
    indir, schema, _, _ = stage_late_input(spark, sf_dir)
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(indir)
    )
    agg = (
        src.withWatermark("ts", f"{LATE_DELAY_HOURS} hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_stream"))
    )
    with state_partitions(spark, 8):
        out = run_to_memory(
            agg.select(
                F.date_format("w.start", _TS).alias("window_start"),
                "event_type",
                "n_stream",
            ),
            "append",
        )
    stream = out.filter(F.col("event_type") != "sentinel")
    ev = load(spark, sf_dir, "events")
    batch = ev.groupBy(
        F.date_format(F.date_trunc("hour", "ts"), _TS).alias("window_start"),
        "event_type",
    ).agg(F.count(F.lit(1)).cast("long").alias("n_batch"))
    return (
        batch.join(stream, ["window_start", "event_type"], "left")
        .select(
            "window_start",
            "event_type",
            "n_batch",
            F.coalesce("n_stream", F.lit(0)).cast("long").alias("n_stream"),
            (F.col("n_batch") - F.coalesce("n_stream", F.lit(0)))
            .cast("long")
            .alias("n_late_dropped"),
        )
        .orderBy("window_start", "event_type")
    )


@register(
    "stream_update_mode_changelog",
    doc="Update-mode changelog accounting — completes the verified "
    "output-mode triad (complete: stream_tumbling_window, append: "
    "stream_late_data_audit, update: here). The same deterministic "
    "late replay (shared staged input) runs a windowed count in "
    "UPDATE mode, whose memory sink keeps one row per (window, type, "
    "touching batch) — the changelog a downstream upsert sink would "
    "consume. The result aggregates it to n_emissions (how many "
    "batches touched the window: 1 for new-half-only or accepted-"
    "late-only windows, 2 for the boundary window both halves hit) "
    "and final_n, hash-checked against the oracle's replay of the "
    "same watermark arithmetic — late rows below the previous "
    "batch's committed watermark never produce an update row.",
    oracle=f"""
WITH b AS (
    SELECT EPOCH_US(MIN(ts)) AS lo, EPOCH_US(MAX(ts)) AS hi FROM events
),
c AS (
    SELECT lo + (hi - lo) // 2 AS cut_us,
           ((hi // 1000) - {LATE_DELAY_HOURS} * 3600000) * 1000 AS wm_us
    FROM b
),
f AS (
    SELECT DATE_TRUNC('hour', ts) AS w, event_type,
           CAST(EPOCH_US(ts) >= c.cut_us AS INT) AS in_a,
           CAST(EPOCH_US(ts) < c.cut_us
                AND EPOCH_US(DATE_TRUNC('hour', ts)) + 3600000000 > c.wm_us
                AS INT) AS in_b_ok
    FROM events, c
),
g AS (
    SELECT w, event_type,
           CAST(SUM(in_a) AS BIGINT) AS n_a,
           CAST(SUM(in_b_ok) AS BIGINT) AS n_b
    FROM f GROUP BY w, event_type
)
SELECT STRFTIME(w, '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       CAST((CASE WHEN n_a > 0 THEN 1 ELSE 0 END)
            + (CASE WHEN n_b > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_emissions,
       CAST(n_a + n_b AS BIGINT) AS final_n
FROM g
WHERE n_a + n_b > 0
ORDER BY window_start, event_type
""",
)
def stream_update_mode_changelog(spark, sf_dir):
    indir, schema, _, _ = stage_late_input(spark, sf_dir)
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(indir)
    )
    agg = (
        src.withWatermark("ts", f"{LATE_DELAY_HOURS} hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    with state_partitions(spark, 8):
        out = run_to_memory(
            agg.select(
                F.date_format("w.start", _TS).alias("window_start"),
                "event_type",
                "n",
            ),
            "update",
        )
    return (
        out.filter(F.col("event_type") != "sentinel")
        .groupBy("window_start", "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_emissions"),
            F.max("n").cast("long").alias("final_n"),
        )
        .orderBy("window_start", "event_type")
    )


@register(
    "stream_scd2_dim_join",
    doc="Temporal dimension join on a stream: events join an "
    "SCD2-versioned customer dim ON key AND event-time within the "
    "version's [valid_from, valid_to) — each event sees the dim AS OF "
    "its own timestamp, the lookup MERGE-history tables exist for. "
    "The dim is static (broadcast at scale), so the range condition "
    "rides a stream-static join with NO streaming state; versioning is "
    "deterministic (keys %3 get a v2 opening at min(ts)+15d — the "
    "event span's midpoint — so both halves of the stream exercise "
    "different versions). Exact cents, hash-checked.",
    oracle="""
WITH b AS (SELECT CAST(MIN(ts) AS DATE) + 15 AS cutd FROM events),
dim AS (
    SELECT c_custkey, c_mktsegment, 1 AS version,
           CAST('1900-01-01' AS DATE) AS vfrom,
           CASE WHEN c_custkey % 3 = 0 THEN (SELECT cutd FROM b)
                ELSE CAST('9999-01-01' AS DATE) END AS vto
    FROM customer
    UNION ALL
    SELECT c_custkey, c_mktsegment, 2, (SELECT cutd FROM b),
           CAST('9999-01-01' AS DATE)
    FROM customer WHERE c_custkey % 3 = 0
),
j AS (
    SELECT d.c_mktsegment, d.version,
           CAST(CAST(e.value AS DECIMAL(12,4)) * 100 AS BIGINT) AS cents
    FROM events e JOIN dim d
      ON e.user_id = d.c_custkey
     AND CAST(e.ts AS DATE) >= d.vfrom AND CAST(e.ts AS DATE) < d.vto
)
SELECT c_mktsegment, CAST(version AS BIGINT) AS version,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(cents) AS BIGINT) AS cents
FROM j GROUP BY 1, 2 ORDER BY 1, 2
""",
)
def stream_scd2_dim_join(spark, sf_dir):
    indir, schema, _, _ = stage_stream_input(spark, sf_dir)
    cutd = (
        load(spark, sf_dir, "events")
        .agg(F.date_add(F.to_date(F.min("ts")), 15).alias("cutd"))
        .collect()[0]["cutd"]
    )
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    v1 = cust.select(
        "c_custkey",
        "c_mktsegment",
        F.lit(1).alias("version"),
        F.to_date(F.lit("1900-01-01")).alias("vfrom"),
        F.when(F.col("c_custkey") % 3 == 0, F.lit(cutd))
        .otherwise(F.to_date(F.lit("9999-01-01")))
        .alias("vto"),
    )
    v2 = cust.filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey",
        "c_mktsegment",
        F.lit(2).alias("version"),
        F.lit(cutd).alias("vfrom"),
        F.to_date(F.lit("9999-01-01")).alias("vto"),
    )
    dim = v1.unionByName(v2)
    src = spark.readStream.schema(schema).parquet(indir)
    joined = src.join(
        dim,
        (src.user_id == dim.c_custkey)
        & (F.to_date(src.ts) >= dim.vfrom)
        & (F.to_date(src.ts) < dim.vto),
        "inner",
    )
    agg = joined.groupBy("c_mktsegment", "version").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum((F.col("value").cast("decimal(12,4)") * 100).cast("long"))
        .cast("long")
        .alias("cents"),
    )
    out = run_to_memory(agg, "complete")
    return out.select(
        "c_mktsegment",
        F.col("version").cast("long").alias("version"),
        "n_events",
        "cents",
    ).orderBy("c_mktsegment", "version")


def stage_docs_stream_input(spark, sf_dir, n_files: int = 4):
    """Stage the INCOMING document slice (doc_id % 5 == 0, >= 3 words)
    as a multi-file streaming input directory — the arrival side of the
    streaming near-dup gate. Cached per sf_dir like stage_stream_input."""

    def build():
        d = (
            load(spark, sf_dir, "documents")
            .filter("doc_id % 5 = 0 AND size(split(text, ' ')) >= 3")
            .select("doc_id", "text")
        )
        tmp = store.tempdir("cascade_docs_stream")
        indir = os.path.join(tmp, "in")
        d.repartitionByRange(n_files, "doc_id").write.mode("append").parquet(indir)
        schema = spark.read.parquet(indir).schema
        return (indir, schema)

    return store.fixture("stream.docs_stage", sf_dir, build)


def _streaming_band_keys(df: DataFrame) -> DataFrame:
    """(doc_id, band, bh) via MAP-ONLY array higher-order functions —
    no explode, no groupBy, so it is legal (and stateless) inside a
    streaming micro-batch. Mirrors dedup._signatures exactly: word
    3-gram shingles with duplicates kept, one md5-derived 30-bit base
    hash, 16 affine permutations folded by array_min (MIN is
    duplicate-insensitive, so non-distinct shingles are safe), band
    hash = md5 of the 4 comma-joined row minima."""
    from cascade_spark.operators.dedup import BANDS, MH_A, MH_B, MH_MASK, MH_P, N_HASHES

    rpb = N_HASHES // BANDS
    sh = (
        "transform(sequence(1, size(split(text, ' ')) - 2),"
        " i -> array_join(slice(split(text, ' '), i, 3), ' '))"
    )
    base = (
        f"transform({sh}, s ->"
        f" CAST(conv(substring(md5(s), 1, 8), 16, 10) AS BIGINT) & {MH_MASK})"
    )
    mins = {
        k: f"array_min(transform(_h0, h -> ({MH_A[k]}L * h + {MH_B[k]}L) % {MH_P}L))"
        for k in range(N_HASHES)
    }
    with_sig = df.withColumn("_h0", F.expr(base)).select(
        "doc_id",
        *[F.expr(mins[k]).alias(f"h{k}") for k in range(N_HASHES)],
    )
    band_rows = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(",", *[F.col(f"h{b * rpb + r}") for r in range(rpb)])
            ).alias("bh"),
        )
        for b in range(BANDS)
    ]
    return with_sig.select(
        "doc_id", F.explode(F.array(*band_rows)).alias("bb")
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))


def _neardup_gate_oracle() -> str:
    from cascade_spark.operators.dedup import _SQL_SIGNATURES, BANDS, N_HASHES

    rpb = N_HASHES // BANDS
    band_expr = " || ',' || ".join(
        "CASE band "
        + " ".join(f"WHEN {b} THEN CAST(h{b * rpb + r} AS VARCHAR)" for b in range(BANDS))
        + " END"
        for r in range(rpb)
    )
    return f"""
WITH sig AS ({_SQL_SIGNATURES}),
bands AS (
    SELECT doc_id, band, MD5({band_expr}) AS bh
    FROM sig CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, {BANDS - 1})) AS band)
),
eligible AS (SELECT doc_id FROM documents WHERE LEN(STRING_SPLIT(text, ' ')) >= 3),
inc AS (SELECT b.* FROM bands b JOIN eligible e USING (doc_id) WHERE b.doc_id % 5 = 0),
cor AS (SELECT b.* FROM bands b JOIN eligible e USING (doc_id) WHERE b.doc_id % 5 <> 0),
m AS (
    SELECT DISTINCT i.doc_id, c.doc_id AS cd
    FROM inc i JOIN cor c ON i.band = c.band AND i.bh = c.bh
),
cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM m GROUP BY doc_id)
SELECT e.doc_id,
       COALESCE(cnt.n, 0) AS n_corpus_candidates,
       COALESCE(cnt.n, 0) > 0 AS flagged
FROM (SELECT doc_id FROM eligible WHERE doc_id % 5 = 0) e
LEFT JOIN cnt USING (doc_id)
ORDER BY e.doc_id
"""


@register(
    "stream_neardup_gate",
    doc="Streaming near-duplicate admission gate — the production "
    "shape of training-data dedup: documents ARRIVE as a stream and "
    "are checked against a STATIC corpus MinHash-LSH band index "
    "before admission. The per-doc signature is computed map-only "
    "inside the micro-batch (array HOFs — no explode/groupBy, so the "
    "stream stays stateless), then a stream-static equi-join on the "
    "(band, bh) bucket key surfaces corpus candidates; the memory "
    "sink collects per-batch matches and the final per-doc candidate "
    "count/flag is a batch aggregate over the sink. Same md5-affine "
    "family as dedup_minhash_lsh (cascade_spark/operators/dedup.py), "
    "so the gate agrees with the batch pipeline it fronts. At 100 TB "
    "the static band index is the bucketed/broadcast side and each "
    "micro-batch joins map-side — no stream state grows at all.",
    oracle=_neardup_gate_oracle(),
)
def stream_neardup_gate(spark, sf_dir):
    from cascade_spark.operators.dedup import _signatures, BANDS, N_HASHES

    indir, schema = stage_docs_stream_input(spark, sf_dir)
    rpb = N_HASHES // BANDS

    # static corpus side: reuse the cached signature frame, band it
    sig = _signatures(spark, sf_dir).filter("doc_id % 5 <> 0")
    band_rows = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(",", *[F.col(f"h{b * rpb + r}") for r in range(rpb)])
            ).alias("bh"),
        )
        for b in range(BANDS)
    ]
    corpus = sig.select("doc_id", F.explode(F.array(*band_rows)).alias("bb")).select(
        F.col("doc_id").alias("corpus_doc"),
        F.col("bb.band").alias("band"),
        F.col("bb.bh").alias("bh"),
    )

    src = spark.readStream.schema(schema).parquet(indir)
    inc = _streaming_band_keys(src)
    matches = inc.join(corpus, ["band", "bh"]).select("doc_id", "corpus_doc")
    out = run_to_memory(matches, "append")

    eligible = (
        load(spark, sf_dir, "documents")
        .filter("doc_id % 5 = 0 AND size(split(text, ' ')) >= 3")
        .select("doc_id")
    )
    cnt = (
        out.dropDuplicates(["doc_id", "corpus_doc"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return (
        eligible.join(cnt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n", F.lit(0)).cast("long").alias("n_corpus_candidates"),
            (F.coalesce("n", F.lit(0)) > 0).alias("flagged"),
        )
        .orderBy("doc_id")
    )
