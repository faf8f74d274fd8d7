"""Stream-stream join — attribution over two live event streams.

Clicks joined to purchases per user within a 1-hour attribution window:
both sides are streaming sources with watermarks and a time-bound join
condition, the canonical Spark stream-stream inner join. Inner matches
emit as soon as both sides arrive; the watermark + time bound let the
state store evict rows older than the attribution window — the property
that keeps state finite on an unbounded 100 TB/day stream.

Verified against the batch self-join oracle (replay equivalence).
"""

from __future__ import annotations


from pyspark.sql import functions as F

from cascade_spark.plans.registry import register
from cascade_spark.streaming.pipeline import (
    run_to_memory,
    stage_stream_input,
    state_partitions,
)


@register(
    "stream_stream_join",
    doc="Streaming click→purchase attribution: two watermarked streams, "
    "time-bound inner join (click within 1h before the purchase), state "
    "evicted beyond the window. Oracle: the equivalent batch self-join.",
    oracle="""
SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
FROM events p JOIN events c
  ON c.user_id = p.user_id
 AND p.event_type = 'purchase' AND c.event_type = 'click'
 AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
ORDER BY purchase_id, click_id
""",
)
def stream_stream_join(spark, sf_dir):
    indir, schema, _, wm = stage_stream_input(spark, sf_dir, n_files=4)
    clicks = (
        spark.readStream.schema(schema)
        .parquet(indir)
        .filter(F.col("event_type") == "click")
        .withWatermark("ts", "2 hours")
        .alias("c")
    )
    purchases = (
        spark.readStream.schema(schema)
        .parquet(indir)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "2 hours")
        .alias("p")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            "c.user_id = p.user_id AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts"
        ),
        "inner",
    ).select(
        F.col("p.event_id").alias("purchase_id"),
        F.col("c.event_id").alias("click_id"),
        F.col("p.user_id").alias("user_id"),
    )
    with state_partitions(spark, 8):
        out = run_to_memory(joined, "append")
    return out.orderBy("purchase_id", "click_id")


@register(
    "stream_stream_left_outer",
    doc="Stream-stream LEFT OUTER join: purchases keep flowing even "
    "with no attributable click — the null side is emitted only once "
    "the click-side watermark passes the purchase's attribution "
    "window, which is the state-eviction point. Sentinel flush files "
    "(event_type='sentinel', filtered INTO both sides so they can "
    "advance the watermark, excluded from the batch result after the "
    "sink) push the final watermark past all real data so finite "
    "AvailableNow replay emits every unmatched purchase. Oracle: the "
    "batch LEFT JOIN with the same time-bound predicate. The staged "
    "watermark delay spans the whole fixture (replay-order safety); "
    "production uses the attribution window + allowed lateness, "
    "keeping join state O(window), not O(stream).",
    oracle="""
SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
FROM events p LEFT JOIN events c
  ON c.user_id = p.user_id
 AND c.event_type = 'click'
 AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
WHERE p.event_type = 'purchase'
ORDER BY purchase_id, click_id
""",
)
def stream_stream_left_outer(spark, sf_dir):
    from cascade_spark.streaming.pipeline import stage_stream_input as _stage

    indir, schema, _, wm_delay = _stage(spark, sf_dir, n_files=4, sentinels=2)
    # sentinels must reach BOTH watermark trackers (a pure 'click'/
    # 'purchase' filter would be pushed into the scan and starve the
    # watermark — same pitfall as stream_session_window's flush)
    clicks = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(indir)
        .filter(F.col("event_type").isin("click", "sentinel"))
        .withWatermark("ts", wm_delay)
        .alias("c")
    )
    purchases = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(indir)
        .filter(F.col("event_type").isin("purchase", "sentinel"))
        .withWatermark("ts", wm_delay)
        .alias("p")
    )
    # NB: no `c.event_type = 'click'` inside ON — a single-sided ON
    # predicate is pushed below the c-side watermark node and would
    # strip the sentinels before they can advance it (observed: outer
    # rows never flush). The source filter already restricts the side;
    # sentinels can't join anyway (user_id -1, far-future ts).
    joined = purchases.join(
        clicks,
        F.expr(
            "c.user_id = p.user_id AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts"
        ),
        "leftOuter",
    ).select(
        F.col("p.event_id").alias("purchase_id"),
        F.col("c.event_id").alias("click_id"),
        F.col("p.user_id").alias("user_id"),
        F.col("p.event_type").alias("p_type"),
    )
    with state_partitions(spark, 8):
        out = run_to_memory(joined, "append")
    return (
        out.filter(F.col("p_type") == "purchase")
        .drop("p_type")
        .orderBy("purchase_id", "click_id")
    )


@register(
    "stream_stream_full_outer",
    doc="Stream-stream FULL OUTER join — both unmatched sides emit: "
    "purchases with no attributable click AND clicks that never led "
    "to a purchase within the hour (the abandoned-intent stream). "
    "Null-side rows emit only when the OTHER side's watermark passes "
    "their join window — the same state-eviction point that bounds "
    "state at O(window) on an unbounded stream. Sentinel flush rows "
    "ride both sides (excluded after the sink); the single-sided-ON "
    "watermark-starvation trap documented on the left-outer variant "
    "applies here twice over. Oracle: batch FULL JOIN of the two "
    "filtered sides with the same time-bound predicate.",
    oracle="""
SELECT p.event_id AS purchase_id, c.event_id AS click_id,
       COALESCE(p.user_id, c.user_id) AS user_id
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
FULL JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON c.user_id = p.user_id
 AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
ORDER BY purchase_id NULLS FIRST, click_id NULLS FIRST
""",
)
def stream_stream_full_outer(spark, sf_dir):
    from cascade_spark.streaming.pipeline import stage_stream_input as _stage

    indir, schema, _, wm_delay = _stage(spark, sf_dir, n_files=4, sentinels=2)
    clicks = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(indir)
        .filter(F.col("event_type").isin("click", "sentinel"))
        .withWatermark("ts", wm_delay)
        .alias("c")
    )
    purchases = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(indir)
        .filter(F.col("event_type").isin("purchase", "sentinel"))
        .withWatermark("ts", wm_delay)
        .alias("p")
    )
    # single-sided ON predicates stay OUT of the join condition (they
    # would be pushed below a watermark node and starve it — see the
    # left-outer variant); sentinels cannot join (user_id -1)
    joined = purchases.join(
        clicks,
        F.expr(
            "c.user_id = p.user_id AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts"
        ),
        "fullOuter",
    ).select(
        F.col("p.event_id").alias("purchase_id"),
        F.col("c.event_id").alias("click_id"),
        F.coalesce(F.col("p.user_id"), F.col("c.user_id")).alias("user_id"),
        F.col("p.event_type").alias("p_type"),
        F.col("c.event_type").alias("c_type"),
    )
    with state_partitions(spark, 8):
        out = run_to_memory(joined, "append")
    keep = (F.col("p_type") == "purchase") | (
        F.col("p_type").isNull() & (F.col("c_type") == "click")
    )
    return (
        out.filter(keep)
        .drop("p_type", "c_type")
        .orderBy(
            F.col("purchase_id").asc_nulls_first(), F.col("click_id").asc_nulls_first()
        )
    )
