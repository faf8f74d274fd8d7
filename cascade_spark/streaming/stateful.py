"""Custom stateful streaming — applyInPandasWithState.

The reference's only stateful construct is the producer ring buffer
(SURVEY.md §2A R11/R12: a bounded counter array the drain task was meant
to consume, src/producer/main.rs:26-106). The streaming analog is a
per-key running counter that survives across micro-batches; here it is a
per-user event counter + running value sum held in GroupState, emitting
the updated totals every batch.

The final totals are SQL-expressible, so even this custom stateful
operator is hash-checked: max(cumulative) per user == plain batch
aggregate.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from cascade_spark.plans.registry import register
from cascade_spark.streaming.pipeline import run_to_memory, stage_stream_input

_OUT_SCHEMA = "user_id long, n_events long, total_value double"
_STATE_SCHEMA = "n long, total double"


def _count_events(key, pdfs, state: GroupState):
    import pandas as pd

    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_value": [total]})


@register(
    "stream_stateful_counter",
    doc="applyInPandasWithState per-user running counter (ring-buffer "
    "counter analog, src/producer/main.rs:26-106): state persists across "
    "micro-batches; the last emitted total per user must equal the batch "
    "aggregate. Value sums are re-rounded via the deterministic decimal "
    "path on the batch side to avoid float accumulation skew.",
    oracle="""
SELECT user_id, COUNT(*) AS n_events
FROM events
GROUP BY user_id
ORDER BY user_id
""",
)
def stream_stateful_counter(spark, sf_dir):
    indir, schema, _, _ = stage_stream_input(spark, sf_dir, n_files=4)
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(indir)
    )
    updates = src.groupBy("user_id").applyInPandasWithState(
        _count_events,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # NOT wrapped in state_partitions(8): the bottleneck here is the
    # Arrow/pandas Python workers, not state-store I/O — fewer partitions
    # means fewer concurrent Python workers (measured 5.4s at 8 vs 3.4s
    # at 32 locally).
    out = run_to_memory(updates, "update")
    # last (= max, counters are monotone) emission per user is the total
    return (
        out.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
        .orderBy("user_id")
    )

# --- Spark 4 transformWithStateInPandas (env-gated) --------------------------
# The modern stateful API's Python worker speaks the state-server wire
# format via google.protobuf. Some containers (this one included, see
# STATUS.md §9) ship a broken/absent protobuf that kills the worker at
# runtime, so the query registers ONLY when the probe passes — present
# where the environment allows, documented (not silently absent) where
# it doesn't.


def tws_available() -> bool:
    """True iff transformWithStateInPandas can run: google.protobuf
    imports cleanly and the processor API exists (Spark >= 4)."""
    try:
        import google.protobuf  # noqa: F401
        from pyspark.sql.streaming.stateful_processor import (  # noqa: F401
            StatefulProcessor,
        )
        return True
    except Exception:
        return False


if tws_available():
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    class _RunningCounterProcessor(StatefulProcessor):
        """Per-user running event counter in ValueState — the same
        ring-buffer-counter analog as stream_stateful_counter, on the
        Spark 4 API (timers/TTL-capable state store)."""

        def init(self, handle):
            from pyspark.sql.types import LongType, StructField, StructType

            self._n = handle.getValueState(
                "n", StructType([StructField("n", LongType(), True)])
            )

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            n = self._n.get()[0] if self._n.exists() else 0
            for pdf in rows:
                n += len(pdf)
            self._n.update((n,))
            yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

        def close(self):
            pass

    @register(
        "stream_tws_counter",
        doc="transformWithStateInPandas per-user running counter "
        "(Spark 4 stateful API; ValueState). Same semantics and oracle "
        "as stream_stateful_counter; registered only where the "
        "environment's protobuf allows the state-server worker.",
        oracle="""
SELECT user_id, COUNT(*) AS n_events
FROM events
GROUP BY user_id
ORDER BY user_id
""",
    )
    def stream_tws_counter(spark, sf_dir):
        indir, schema, _, _ = stage_stream_input(spark, sf_dir, n_files=4)
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(indir)
        )
        updates = src.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=_RunningCounterProcessor(),
            outputStructType=_OUT_SCHEMA.rsplit(",", 1)[0],  # user_id, n_events
            outputMode="Update",
            timeMode="None",
        )
        out = run_to_memory(updates, "update")
        return (
            out.groupBy("user_id")
            .agg(F.max("n_events").alias("n_events"))
            .orderBy("user_id")
        )


# --- event-time timeout: custom sessionization with state TTL ---------------

_SESS_OUT = "user_id long, session_start timestamp, session_end timestamp, n long"
# island buffer: the open sessions the watermark has not yet sealed
_SESS_STATE = "starts array<long>, lasts array<long>, ns array<long>"
_GAP_US = 600_000_000  # 10 minutes
_GAP_MS = _GAP_US // 1000


def _merge_islands(islands, gap_us):
    """Merge (start,last,n) triples sorted by start under the gap rule."""
    out = []
    for s, l, n in islands:
        if out and s - out[-1][1] <= gap_us:
            out[-1][1] = max(out[-1][1], l)
            out[-1][2] += n
        else:
            out.append([s, l, n])
    return out


def _sessionize(key, pdfs, state: GroupState):
    """Out-of-order-tolerant sessionization. Files (and therefore
    micro-batches) are NOT guaranteed time-ordered, so an in-order
    last-event state is wrong (observed: one merged session per user at
    a batch boundary). Correct shape: buffer OPEN islands per user;
    the watermark bound makes sealing safe — an island whose close
    edge (last + gap) is below the watermark can never be extended OR
    bridged to a later island, because the bridging event would have
    ts <= last + gap < watermark, i.e. inadmissibly late. Emission
    happens only at sealing, driven by getCurrentWatermarkMs and the
    event-time timeout; state shrinks to the islands still in flight —
    the TTL eviction that bounds state on an unbounded stream."""
    import pandas as pd

    starts, lasts, ns = state.get if state.exists else ([], [], [])
    islands = [[s, l, n] for s, l, n in zip(starts, lasts, ns)]
    if not state.hasTimedOut:
        rows = pd.concat(list(pdfs), ignore_index=True)
        if len(rows):
            ts_us = sorted(rows["ts"].astype("int64") // 1000)
            islands.extend([t, t, 1] for t in ts_us)
            islands.sort(key=lambda i: i[0])
            islands = _merge_islands(islands, _GAP_US)
    wm_ms = state.getCurrentWatermarkMs()
    sealed = [i for i in islands if i[1] // 1000 + _GAP_MS <= wm_ms]
    open_ = [i for i in islands if i[1] // 1000 + _GAP_MS > wm_ms]
    if open_:
        state.update(([i[0] for i in open_], [i[1] for i in open_], [i[2] for i in open_]))
        # strictly above the watermark by the seal rule -> valid timeout
        state.setTimeoutTimestamp(min(i[1] for i in open_) // 1000 + _GAP_MS)
    else:
        state.remove()
    if sealed:
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(sealed),
                "session_start": [pd.to_datetime(i[0], unit="us") for i in sealed],
                "session_end": [pd.to_datetime(i[1] + _GAP_US, unit="us") for i in sealed],
                "n": [i[2] for i in sealed],
            }
        )


@register(
    "stream_stateful_session_timeout",
    doc="Custom sessionization with EVENT-TIME TIMEOUT (state TTL), "
    "out-of-order tolerant: applyInPandasWithState buffers each "
    "user's OPEN islands; an island is sealed (emitted, state "
    "dropped) only once the watermark passes its close edge — below "
    "that edge a late event could still extend or BRIDGE islands, so "
    "an in-order last-event state is wrong (observed: micro-batch "
    "file order is not time order, which silently merged one session "
    "per user). getCurrentWatermarkMs drives sealing inside the "
    "function; setTimeoutTimestamp(min open close-edge) guarantees "
    "sealing fires even for keys with no further input. State shrinks "
    "to in-flight islands — the TTL eviction that bounds state to "
    "O(active sessions) on an unbounded stream, explicit here where "
    "the built-in session_window does it internally. Sentinel flush "
    "files advance the final watermark so finite replay seals "
    "everything; oracle = the batch gaps-and-islands construction "
    "(same as stream_session_window, proving the custom operator "
    "matches the built-in's semantics).",
    oracle="""
WITH marked AS (
    SELECT user_id, ts,
           CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     > INTERVAL 10 MINUTE THEN 1 ELSE 0 END AS new_session
    FROM events
), numbered AS (
    SELECT user_id, ts,
           SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
    FROM marked
)
SELECT user_id,
       STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       STRFTIME(MAX(ts) + INTERVAL 10 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n
FROM numbered
GROUP BY user_id, sid
ORDER BY user_id, session_start
""",
)
def stream_stateful_session_timeout(spark, sf_dir):
    indir, schema, _, wm_delay = stage_stream_input(spark, sf_dir, n_files=4, sentinels=2)
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(indir)
        .withWatermark("ts", wm_delay)
    )
    sessions = src.groupBy("user_id").applyInPandasWithState(
        _sessionize,
        outputStructType=_SESS_OUT,
        stateStructType=_SESS_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    out = run_to_memory(sessions, "append")
    # sentinel exclusion on the batch result (pushdown would starve the
    # watermark — see stream_session_window)
    return (
        out.filter(F.col("user_id") >= 0)
        .select(
            "user_id",
            F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n",
        )
        .orderBy("user_id", "session_start")
    )


_TOPK_OUT = "event_type string, top1_cents long, top2_cents long, top3_cents long"
_TOPK_STATE = "t1 long, t2 long, t3 long"


def _topk_update(key, pdfs, state: GroupState):
    import pandas as pd

    held = [v for v in (state.get if state.exists else ()) if v is not None]
    for pdf in pdfs:
        held.extend(int(c) for c in pdf["cents"])
        held = sorted(held, reverse=True)[:3]
    padded = (held + [None, None, None])[:3]
    state.update(tuple(padded))
    yield pd.DataFrame(
        {
            "event_type": [key[0]],
            "top1_cents": [padded[0]],
            "top2_cents": [padded[1]],
            "top3_cents": [padded[2]],
        }
    )


@register(
    "stream_stateful_topk",
    doc="applyInPandasWithState per-key top-k: GroupState holds each "
    "event type's 3 largest value-cents as a fixed-width tuple, merged "
    "with every micro-batch's contribution (state is O(k) per key — "
    "the bounded-memory leaderboard shape, vs the unbounded raw-event "
    "buffer a naive window would keep). Each position of the top-k is "
    "MONOTONE non-decreasing across batches, so the final answer is "
    "the per-position max over update-mode emissions — the same "
    "last-emission recovery rule stream_stateful_counter uses. Cents "
    "are computed JVM-side via the exact decimal path BEFORE the "
    "Python worker, so the state only ever holds exact integers.",
    oracle="""
WITH c AS (
    SELECT event_type,
           CAST(CAST(value AS DECIMAL(12,4)) * 100 AS BIGINT) AS c
    FROM events
),
r AS (
    SELECT event_type, c,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY c DESC) AS rn
    FROM c
)
SELECT event_type,
       MAX(CASE WHEN rn = 1 THEN c END) AS top1_cents,
       MAX(CASE WHEN rn = 2 THEN c END) AS top2_cents,
       MAX(CASE WHEN rn = 3 THEN c END) AS top3_cents
FROM r GROUP BY event_type ORDER BY event_type
""",
)
def stream_stateful_topk(spark, sf_dir):
    indir, schema, _, _ = stage_stream_input(spark, sf_dir, n_files=4)
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(indir)
        .select(
            "event_type",
            (F.col("value").cast("decimal(12,4)") * 100).cast("long").alias("cents"),
        )
    )
    updates = src.groupBy("event_type").applyInPandasWithState(
        _topk_update,
        outputStructType=_TOPK_OUT,
        stateStructType=_TOPK_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = run_to_memory(updates, "update")
    return (
        out.groupBy("event_type")
        .agg(
            F.max("top1_cents").cast("long").alias("top1_cents"),
            F.max("top2_cents").cast("long").alias("top2_cents"),
            F.max("top3_cents").cast("long").alias("top3_cents"),
        )
        .orderBy("event_type")
    )
