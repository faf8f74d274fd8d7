"""``bus_pipeline``: publish -> mirror -> window -> check, one chunk per op.

One op is one chunk of ``K`` synthetic events made from the seed:

(a) ``BusProducer.publish_all`` appends the chunk to a raw topic with four
    JSON-lines partitions;
(b) stage ``mirror``: ``readStream`` cascade_bus(raw) -> ``writeStream``
    cascade_bus(log), which writes parquet segments and commits
    ``index.json``;
(c) stage ``window``: ``readStream`` cascade_bus(log) -> 1-minute tumbling
    window by ``event_type`` (update mode, zero-delay watermark) ->
    ``foreachBatch`` into a dict the harness owns;
(d) the harness checks the aggregate against its own tally, each stage's
    progress for exactly one micro-batch of ``K`` rows, and the log
    topic's end offsets against the number of events published.

Each stage restarts from its checkpoint with ``Trigger.AvailableNow`` once
per op, after the producer has finished, so no consumer polls while the
producer writes and each chunk is exactly one micro-batch per stage.
Set-up publishes and consumes a history of ``B`` events the same way, so
the ops tail a long log. Chunk ``i`` covers its own ``MINUTES_PER_CHUNK``
minutes of event time, so the windows a batch updates are exactly the
chunk's windows.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np

K = 4000  # events per op (chunk)
B = 50_000  # history events published and consumed during set-up
MINUTES_PER_CHUNK = 2
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
PHASES = (
    "latestOffset", "getBatch", "queryPlanning", "addBatch",
    "walCommit", "commitOffsets", "triggerExecution",
)  # fmt: skip


def make_chunk(rng: np.random.Generator, first_event: int, minute0: int, n: int):
    """``n`` events with monotone ``ts_us`` inside minutes
    ``[minute0, minute0 + n_minutes)``; skewed ``user_id``; two-decimal
    ``value``. Returns (records, tally, minutes covered), where tally maps
    (window start µs, event_type) -> (count, sum of value in cents)."""
    n_minutes = max(MINUTES_PER_CHUNK, (n * MINUTES_PER_CHUNK) // K)
    span = n_minutes * 60_000_000
    ts = T0_US + minute0 * 60_000_000 + np.sort(rng.integers(0, span, n))
    users = (rng.zipf(1.4, n) - 1) % 20_000
    types = rng.integers(0, len(EVENT_TYPES), n)
    cents = np.round(rng.exponential(5000.0, n)).astype(np.int64)
    records, tally = [], {}
    for i in range(n):
        et = EVENT_TYPES[types[i]]
        t = int(ts[i])
        records.append(
            {
                "event_id": first_event + i,
                "ts_us": t,
                "user_id": int(users[i]),
                "event_type": et,
                "value": int(cents[i]) / 100.0,
            }
        )
        key = (t - t % 60_000_000, et)
        c, s = tally.get(key, (0, 0))
        tally[key] = (c + 1, s + int(cents[i]))
    return records, tally, n_minutes


class BusPipeline:
    """The two streaming stages over one raw and one log topic."""

    def __init__(self, spark, work_dir: str, seed: int):
        from cascade_spark.sources.cascade_bus import BusProducer, register_bus

        register_bus(spark)
        # one micro-batch per chunk: no trailing no-data batch per restart
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
        self.spark = spark
        self.raw = os.path.join(work_dir, "raw")
        self.log = os.path.join(work_dir, "log")
        self.ck_mirror = os.path.join(work_dir, "ck_mirror")
        self.ck_window = os.path.join(work_dir, "ck_window")
        self.producer = BusProducer(self.raw, num_partitions=4)
        self.rng = np.random.default_rng(seed)
        self.published = 0
        self.minute = 0
        self._updated: dict = {}

    # -- stages -----------------------------------------------------------
    @staticmethod
    def _finish(query, t0: float) -> dict:
        """Wait for an AvailableNow query; its wall time since ``t0`` and
        the progress of every micro-batch that read rows."""
        query.awaitTermination()
        return {
            "wall_ms": (time.perf_counter() - t0) * 1000.0,
            "progress": [p for p in query.recentProgress if p["numInputRows"] > 0],
        }

    def mirror(self) -> dict:
        t0 = time.perf_counter()
        q = (
            self.spark.readStream.format("cascade_bus").option("path", self.raw).load()
            .writeStream.format("cascade_bus")
            .option("path", self.log).option("numPartitions", "4")
            .option("checkpointLocation", self.ck_mirror)
            .trigger(availableNow=True).start()
        )  # fmt: skip
        return self._finish(q, t0)

    def window(self) -> dict:
        from pyspark.sql import functions as F

        def collect(batch_df, batch_id):
            for r in batch_df.collect():
                key = (r["w_start_us"], r["event_type"])
                self._updated[key] = (int(r["n"]), int(r["cents"]))

        t0 = time.perf_counter()
        src = (
            self.spark.readStream.format("cascade_bus").option("path", self.log).load()
            .withColumn("ts", F.timestamp_micros("ts_us"))
            .withWatermark("ts", "0 seconds")
        )  # fmt: skip
        agg = src.groupBy(F.window("ts", "1 minute").alias("w"), "event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"),
        )
        self._updated = {}
        q = (
            agg.select(F.unix_micros("w.start").alias("w_start_us"), "event_type", "n", "cents")
            .writeStream.outputMode("update").foreachBatch(collect)
            .option("checkpointLocation", self.ck_window)
            .trigger(availableNow=True).start()
        )  # fmt: skip
        out = self._finish(q, t0)
        out["updated"] = self._updated
        return out

    # -- one chunk --------------------------------------------------------
    def next_chunk(self, n: int = K):
        records, tally, n_minutes = make_chunk(self.rng, self.published, self.minute, n)
        self.minute += n_minutes
        return records, tally

    def publish(self, records) -> float:
        t0 = time.perf_counter()
        accepted = self.producer.publish_all(records)
        ms = (time.perf_counter() - t0) * 1000.0
        if accepted != len(records):
            raise RuntimeError(f"producer accepted {accepted} of {len(records)}")
        self.published += accepted
        return ms

    def raw_offsets(self) -> dict[str, int]:
        """End offset of each raw partition: round robin over four."""
        return {str(p): (self.published + 3 - p) // 4 for p in range(4)}

    def log_end_offsets(self) -> int:
        with open(os.path.join(self.log, "index.json")) as fh:
            idx = json.load(fh)
        return sum(seg["n"] for segs in idx["segments"].values() for seg in segs)

    def check(self, n: int, tally: dict, mirror: dict, window: dict) -> list[str]:
        """Every way the op can be wrong, as messages (empty when right)."""
        errors = []
        for stage, out in (("mirror", mirror), ("window", window)):
            rows = [p["numInputRows"] for p in out["progress"]]
            if rows != [n]:
                errors.append(f"{stage}: micro-batch input rows {rows}, want [{n}]")
        if window["updated"] != tally:
            errors.append(
                f"window aggregate differs from the generator tally "
                f"({len(window['updated'])} vs {len(tally)} groups)"
            )
        end = self.log_end_offsets()
        if end != self.published:
            errors.append(f"log end offsets {end}, published {self.published}")
        return errors
